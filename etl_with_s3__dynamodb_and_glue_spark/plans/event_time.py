"""Event-time queries over the events fact: gap sessionization and
tumbling-window aggregation — the batch twins of the streaming
operators (streaming/stateful.py, streaming/file_pipeline.py), so the
DuckDB oracle can value-check the semantics the streaming paths share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.sessions import sessionize
from ..sources.readers import read_events


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions per user (declarative batch path)."""
    return sessionize(read_events(spark, sf_dir), gap_seconds=1800)


USER_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
m AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
                 THEN 1 ELSE 0 END AS is_new
  FROM o
),
s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM m
)
SELECT user_id,
       CAST(session_seq AS INTEGER) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM s
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


def events_daily_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling event-time window per event_type — the exact
    grouping the streaming variant uses (``F.window`` is the same
    expression in batch and streaming plans)."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


EVENTS_DAILY_TUMBLING_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def user_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (the streaming-capable
    construct) in batch mode. Boundary semantics differ from
    operators/sessions.sessionize by design: the built-in closes a
    session when the next event is >= gap away (half-open windows),
    and the reported end is last_event + gap — the oracle mirrors
    both."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end_padded"),
            "n_events",
            "total_value",
        )
    )


USER_SESSIONS_NATIVE_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
         event_id
  FROM events
),
m AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000
                 THEN 1 ELSE 0 END AS is_new
  FROM o
),
s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM m
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end_padded,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM s
GROUP BY user_id, session_seq
ORDER BY user_id, session_start
"""


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day window sliding every 12 h per event_type — each event
    lands in exactly 2 overlapping windows (window/slide = 2)."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 day", "12 hours").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


EVENTS_SLIDING_WINDOWS_SQL = """
WITH w AS (
  SELECT event_type, value,
         make_timestamp((epoch_us(ts) // 43200000000) * 43200000000 - s.off) AS wstart
  FROM events, (VALUES (CAST(0 AS BIGINT)), (CAST(43200000000 AS BIGINT))) s(off)
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM w
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def user_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click-after-view →
    purchase-after-click): the sequence-analytics query product teams
    run daily. Each stage is a conditional min over the SAME user_id
    key — three aggregates and two joins, all hash-partitioned alike,
    so at scale the exchanges reuse one partitioning. Emits one
    summary row; per-user stage timestamps stay in the lineage for
    drill-down."""
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts")
    views = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    total = ev.select("user_id").distinct()
    return total.agg(F.count(F.lit(1)).alias("n_users")).crossJoin(
        views.agg(F.count(F.lit(1)).alias("n_viewed"))
    ).crossJoin(
        clicks.agg(F.count(F.lit(1)).alias("n_clicked_after_view"))
    ).crossJoin(
        purchases.agg(F.count(F.lit(1)).alias("n_purchased_after_click"))
    )


USER_CONVERSION_FUNNEL_SQL = """
WITH views AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
clicks AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN views v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY e.user_id
),
purchases AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM views) AS n_viewed,
       (SELECT COUNT(*) FROM clicks) AS n_clicked_after_view,
       (SELECT COUNT(*) FROM purchases) AS n_purchased_after_click
"""


def user_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: days where a user's event count sits
    ≥2 self-standard-deviations from their own mean — the ops query
    behind bot/incident triage. Daily rollup (one keyed aggregate),
    then per-user mean/stddev as an unbounded window over the DAILY
    rows (user-count × days rows, not events), z-score, gate. Users
    with one day (stddev null) or zero variance never flag."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = Window.partitionBy("user_id")
    scored = daily.select(
        "user_id",
        "day",
        "n_events",
        F.round(
            (F.col("n_events") - F.avg("n_events").over(w))
            / F.stddev("n_events").over(w),
            6,
        ).alias("z"),
    )
    return scored.filter(F.abs(F.col("z")) >= 2.0)


USER_DAILY_ANOMALIES_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
scored AS (
  SELECT user_id, day, n_events,
         ROUND((n_events - AVG(n_events) OVER (PARTITION BY user_id))
               / STDDEV(n_events) OVER (PARTITION BY user_id), 6) AS z
  FROM daily
)
SELECT user_id, day, n_events, z
FROM scored WHERE ABS(z) >= 2.0
ORDER BY user_id, day
"""


def event_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis: the 10 heaviest user_id keys with
    their share and cumulative share of all events — the report that
    decides between plain hash partitioning, AQE skew handling, and
    explicit salting (operators/skew.py). One keyed count, then the
    top-10 keys come from ``orderBy(...).limit(10)`` — Spark plans
    that as TakeOrderedAndProject, a parallel per-partition top-k +
    driver merge. At 10⁸–10⁹ distinct keys an unpartitioned
    ``row_number`` window here would collapse the whole per-key frame
    into ONE task (the exact trap this query diagnoses); the only
    window in the plan runs over the already-limited 10-row result."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    per_key = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    # sum(per-key counts) == count(events): the broadcast total comes
    # from one un-keyed aggregate over the scan, not a second keyed
    # shuffle over per_key.
    total = ev.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    top10 = per_key.orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    ).limit(10)
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id").asc())
    ranked = (
        top10.crossJoin(F.broadcast(total))
        .withColumn("key_rank", F.row_number().over(w).cast("int"))
        .withColumn(
            "share", F.round(F.col("n_events") / F.col("_total"), 6)
        )
        .withColumn(
            "cum_share",
            F.round(
                F.sum("n_events").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
                / F.col("_total"),
                6,
            ),
        )
    )
    return ranked.select("key_rank", "user_id", "n_events", "share", "cum_share")


EVENT_KEY_SKEW_SQL = """
WITH per_key AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
),
t AS (SELECT SUM(n_events) AS total FROM per_key),
ranked AS (
  SELECT user_id, n_events,
         CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id ASC)
              AS INTEGER) AS key_rank,
         SUM(n_events) OVER (ORDER BY n_events DESC, user_id ASC
                             ROWS UNBOUNDED PRECEDING) AS running
  FROM per_key
)
SELECT key_rank, user_id, n_events,
       ROUND(CAST(n_events AS DOUBLE) / t.total, 6) AS share,
       ROUND(CAST(running AS DOUBLE) / t.total, 6) AS cum_share
FROM ranked CROSS JOIN t
WHERE key_rank <= 10
ORDER BY key_rank
"""


def events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling / last-observation-carried-forward: error events
    report no reading (their value is masked to NULL deterministically,
    same expression in the oracle), and each user's series fills the
    gap with the most recent non-null value —
    ``last(value, ignorenulls=True)`` over an unbounded-preceding
    window, one shuffle on user_id. The time-series primitive behind
    sensor/state reconstruction."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    masked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") != "error", F.round("value", 6)).alias(
            "reading"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return masked.select(
        "user_id",
        "event_id",
        "ts",
        "reading",
        F.last("reading", ignorenulls=True).over(w).alias("reading_filled"),
    )


EVENTS_FORWARD_FILL_SQL = """
WITH masked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type != 'error' THEN ROUND(value, 6) END AS reading
  FROM events
)
SELECT user_id, event_id, ts, reading,
       LAST_VALUE(reading IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING) AS reading_filled
FROM masked
ORDER BY user_id, ts, event_id
"""


def events_value_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running total over the full event stream — the ledger /
    balance query shape. Built on operators/prefix.py::running_sum
    (two-pass distributed prefix sum), NOT a naive un-partitioned
    window, which would collapse the whole fact into one task at
    scale. Values are summed as integer cents so the running sum is
    exact under any partition-wise summation grouping — a running
    DOUBLE sum would drift from the oracle's sequential order at the
    6th decimal over enough rows."""
    from ..caching import carry_cache_deps
    from ..operators.prefix import running_sum

    ev = read_events(spark, sf_dir).select(
        "event_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    summed = running_sum(
        ev, "value_cents", ["ts", "event_id"], out_col="running_cents"
    )
    out = summed.select("event_id", "value_cents", "running_cents")
    # the pid-stamped persist inside running_sum is a CORRECTNESS
    # guard (prefix.py: re-evaluating the range exchange could stamp
    # a row with different pids across subtrees) — the lazy select
    # must not fire its finalizer before the caller's action
    return carry_cache_deps(out, summed)


EVENTS_VALUE_RUNNING_TOTAL_SQL = """
SELECT event_id,
       CAST(FLOOR(value * 100) AS BIGINT) AS value_cents,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER (
         ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS running_cents
FROM events
ORDER BY event_id
"""


def events_activity_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day: each event opens a 5-minute activity
    interval; the sweep-line (operators/prefix.py::sweep_concurrency,
    ±1 boundary deltas through the distributed prefix sum) counts
    intervals open after every boundary, then a per-day max. The
    'how many sessions were live at peak' query, end-exclusive."""
    from ..operators.prefix import sweep_concurrency

    ev = read_events(spark, sf_dir).select("event_id", "ts")
    intervals = ev.withColumn(
        "ts_end", F.col("ts") + F.expr("INTERVAL 5 MINUTES")
    )
    from ..caching import carry_cache_deps

    swept = sweep_concurrency(intervals, "ts", "ts_end", ["event_id"])
    out = (
        swept.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.max("n_concurrent").cast("long").alias("peak_concurrent"))
    )
    # same correctness-guard transfer as events_value_running_total:
    # the pid-stamped persist inside the sweep's running_sum must
    # survive until the caller's action
    return carry_cache_deps(out, swept)


EVENTS_ACTIVITY_CONCURRENCY_SQL = """
WITH b AS (
  SELECT event_id, ts, 1 AS delta FROM events
  UNION ALL
  SELECT event_id, ts + INTERVAL 5 MINUTE AS ts, -1 AS delta FROM events
),
r AS (
  SELECT ts, SUM(delta) OVER (ORDER BY ts, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS n
  FROM b
)
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(MAX(n) AS BIGINT) AS peak_concurrent
FROM r
GROUP BY 1
ORDER BY day
"""


def events_daily_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(day, event_type) counts over a GENERATED calendar spine —
    days with zero events appear explicitly (the reporting/charting
    contract a bare groupBy can't honor: absent groups aren't rows).
    The spine is `sequence(min_day, max_day)` exploded from one scalar
    aggregate — rows scale with the calendar, not the fact table —
    cross-joined with the distinct type dimension and left-joined to
    the real counts."""
    ev = read_events(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "event_type"
    )
    bounds = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    types = ev.select("event_type").distinct()
    cnt = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        spine.crossJoin(types)
        .join(cnt, ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce("n", F.lit(0).cast("long")).alias("n_events"),
        )
    )


EVENTS_DAILY_COMPLETE_SQL = """
WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM d),
cnt AS (SELECT day, event_type, COUNT(*) AS n FROM d GROUP BY 1, 2)
SELECT strftime(s.day, '%Y-%m-%d') AS day, t.event_type AS event_type,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
FROM spine s CROSS JOIN types t
LEFT JOIN cnt c ON c.day = s.day AND c.event_type = t.event_type
ORDER BY day, t.event_type
"""


def user_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week
    (cohort), counted distinct in each subsequent week offset — the
    product-analytics staple. Week = days-since-epoch ÷ 7 so cohort
    boundaries are engine-neutral (no ISO-week disagreement).

    Plan shape (r12 join-back audit): the old form joined the
    per-user first-seen aggregate (corpus-proportional, |users| rows)
    back onto the events stream, then ran a countDistinct — three
    exchanges and a user-keyed join. One per-user aggregate carrying
    BOTH min(week) and collect_set(week) (the set is
    calendar-bounded, ≤ weeks in the retention horizon, NOT
    event-proportional) eliminates the join, and because a user's
    weeks are distinct and cohort is fixed per user, each (user,
    offset) pair appears exactly once after the explode — so the
    countDistinct degenerates to a map-side-combinable count. Two
    exchanges, no join, identical matrix."""
    ev = read_events(spark, sf_dir).select(
        "user_id",
        F.floor(F.datediff(F.to_date("ts"), F.lit("1970-01-01")) / 7)
        .cast("long")
        .alias("week"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("week").alias("cohort_week"),
        F.collect_set("week").alias("weeks"),
    )
    return (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("week")
        )
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


USER_WEEKLY_RETENTION_SQL = """
WITH ev AS (
  SELECT user_id,
         CAST(FLOOR(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7.0)
              AS BIGINT) AS week
  FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
SELECT f.cohort_week,
       e.week - f.cohort_week AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM ev e JOIN first f USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""


def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order path analysis: counts of (event_type -> next
    event_type) transitions within each user's ordered stream, with
    each type's outgoing transition probability. One lag window keyed
    by user_id (the same exchange sessionization uses) feeds a tiny
    (types x types) aggregate."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    out_w = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(out_w), 6
        ).alias("p_next"),
    )


EVENT_TYPE_TRANSITIONS_SQL = """
WITH o AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM o WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, next_type, n_transitions,
       ROUND(CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY event_type), 6) AS p_next
FROM c
ORDER BY event_type, next_type
"""


def events_daily_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance: the daily rollup
    is kept as MERGEABLE partial aggregates (count + sum), so folding
    an arriving batch in is `union -> re-aggregate` over (existing
    rollup + the batch's partials) — the raw history is NEVER
    re-read. The declared split (first 25 days = existing state,
    the rest = arrivals) is deterministic, and the oracle computes
    the same rollup from scratch over all events: hash-equality IS
    the proof that incremental maintenance loses nothing. The same
    mergeability argument carries avg (sum/count), min/max, and the
    HLL/CMS sketch columns; it breaks for exact countDistinct — which
    is why the sketch store (streaming/sketches.py) exists."""
    ev = read_events(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    min_day = ev.agg(F.min("day").alias("d0"))
    ev2 = ev.crossJoin(F.broadcast(min_day)).withColumn(
        "is_base", F.datediff("day", "d0") < 25
    )

    def rollup(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )

    base = rollup(ev2.filter(F.col("is_base")))
    arrivals = rollup(ev2.filter(~F.col("is_base")))
    merged = (
        base.unionByName(arrivals)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("sum_value"), 6).alias("sum_value"),
        )
    )
    return merged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "sum_value",
    )


EVENTS_DAILY_ROLLUP_INCREMENTAL_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for each (user, day) basket, which
    event-type pairs appear together, counted across baskets — the
    association-mining primitive. Pair generation happens IN-ROW from
    each basket's sorted distinct-type array (indexed transform over
    suffix slices — |types|² per basket, bounded by the type-alphabet,
    never a basket self-join), so the only shuffles are the basket
    aggregate and the tiny pair count."""
    ev = read_events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    )
    baskets = ev.groupBy("user_id", "day").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    types = F.col("types")
    pairs = F.flatten(
        F.transform(
            types,
            lambda x, i: F.transform(
                F.slice(types, i + 2, F.size(types)),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    )


EVENT_TYPE_COOCCURRENCE_SQL = """
WITH b AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events
),
p AS (
  SELECT a.event_type AS type_a, b2.event_type AS type_b
  FROM b a JOIN b b2 ON a.user_id = b2.user_id AND a.day = b2.day
                     AND a.event_type < b2.event_type
)
SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_baskets
FROM p GROUP BY 1, 2
ORDER BY type_a, type_b
"""


def events_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week reporting: weekly event totals with the previous
    week's value and percent change — one keyed aggregate over the
    fact, then a lag window over the WEEKS frame (calendar-bounded,
    like the Pareto/rolling-sketch windows). Epoch-week arithmetic
    keeps boundaries engine-neutral."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir).select(
        F.floor(F.datediff(F.to_date("ts"), F.lit("1970-01-01")) / 7)
        .cast("long")
        .alias("week"),
        "value",
    )
    weekly = ev.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    w = Window.orderBy("week")
    prev = F.lag("n_events").over(w)
    return weekly.select(
        "week",
        "n_events",
        "total_value",
        prev.alias("prev_n_events"),
        F.round(
            (F.col("n_events") - prev) / prev * 100.0, 6
        ).alias("pct_change"),
    )


EVENTS_WOW_CHANGE_SQL = """
WITH weekly AS (
  SELECT CAST(FLOOR(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
              / 7.0) AS BIGINT) AS week,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 6) AS total_value
  FROM events GROUP BY 1
)
SELECT week, n_events, total_value,
       lag(n_events) OVER (ORDER BY week) AS prev_n_events,
       ROUND((n_events - lag(n_events) OVER (ORDER BY week))
             / CAST(lag(n_events) OVER (ORDER BY week) AS DOUBLE) * 100.0, 6)
         AS pct_change
FROM weekly
ORDER BY week
"""


QUERIES = {
    "events_value_running_total": events_value_running_total,
    "events_daily_complete": events_daily_complete,
    "user_weekly_retention": user_weekly_retention,
    "event_type_transitions": event_type_transitions,
    "events_daily_rollup_incremental": events_daily_rollup_incremental,
    "event_type_cooccurrence": event_type_cooccurrence,
    "events_wow_change": events_wow_change,
    "events_activity_concurrency": events_activity_concurrency,
    "user_conversion_funnel": user_conversion_funnel,
    "user_daily_anomalies": user_daily_anomalies,
    "event_key_skew_profile": event_key_skew_profile,
    "events_forward_fill": events_forward_fill,
    "user_sessions": user_sessions,
    "user_sessions_native": user_sessions_native,
    "events_daily_tumbling": events_daily_tumbling,
    "events_sliding_windows": events_sliding_windows,
}

ORACLE = {
    "events_value_running_total": EVENTS_VALUE_RUNNING_TOTAL_SQL,
    "events_daily_complete": EVENTS_DAILY_COMPLETE_SQL,
    "user_weekly_retention": USER_WEEKLY_RETENTION_SQL,
    "event_type_transitions": EVENT_TYPE_TRANSITIONS_SQL,
    "events_daily_rollup_incremental": EVENTS_DAILY_ROLLUP_INCREMENTAL_SQL,
    "event_type_cooccurrence": EVENT_TYPE_COOCCURRENCE_SQL,
    "events_wow_change": EVENTS_WOW_CHANGE_SQL,
    "events_activity_concurrency": EVENTS_ACTIVITY_CONCURRENCY_SQL,
    "user_conversion_funnel": USER_CONVERSION_FUNNEL_SQL,
    "user_daily_anomalies": USER_DAILY_ANOMALIES_SQL,
    "event_key_skew_profile": EVENT_KEY_SKEW_SQL,
    "events_forward_fill": EVENTS_FORWARD_FILL_SQL,
    "user_sessions": USER_SESSIONS_SQL,
    "user_sessions_native": USER_SESSIONS_NATIVE_SQL,
    "events_daily_tumbling": EVENTS_DAILY_TUMBLING_SQL,
    "events_sliding_windows": EVENTS_SLIDING_WINDOWS_SQL,
}
