"""Engine-surface queries beyond the reference's operator set
(SURVEY.md §2.4/§2.5/§2.7 "not present" lists): exact percentiles,
rank-function flavors, RANGE frames, distinct/collection aggregates,
string/conditional scalar functions, and the temporal joins
(operators/temporal.py). Every query carries a DuckDB oracle and a
deterministic ordering (Q4 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.temporal import as_of_join, range_join
from ..sources.readers import read_events, read_table


# --- exact percentiles / extremes per group ------------------------------


def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority price percentiles + declarative stats.

    r11 rework: the native ``percentile()`` holistic aggregate
    concentrated the whole table in 5 reducer tasks (one per priority
    group) — measured superlinear in the relational XL probe (1.75 s
    at 10× → ~40 s at 100×, exponent ~1.37, one buffer per percentile
    expression). Percentiles now come from
    operators/percentiles.py::group_percentiles_exact (distributed
    selection, same interpolation arithmetic — oracle hash unchanged),
    pivoted long→wide and joined to the cheap declarative aggregate
    (A/B at 100×: 40 s → ~4 s)."""
    from ..operators.percentiles import group_percentiles_exact

    orders = read_table(spark, sf_dir, "orders")
    pct = group_percentiles_exact(
        orders, "o_orderpriority", "o_totalprice", [0.5, 0.9, 0.99]
    )
    wide = pct.groupBy("o_orderpriority").agg(
        F.round(F.max(F.when(F.col("p") == 0.5, F.col("pct"))), 6).alias("p50"),
        F.round(F.max(F.when(F.col("p") == 0.9, F.col("pct"))), 6).alias("p90"),
        F.round(F.max(F.when(F.col("p") == 0.99, F.col("pct"))), 6).alias(
            "p99"
        ),
    )
    decl = orders.groupBy("o_orderpriority").agg(
        F.round(F.min("o_totalprice"), 6).alias("min_price"),
        F.round(F.max("o_totalprice"), 6).alias("max_price"),
        F.round(F.stddev("o_totalprice"), 6).alias("sd_price"),
    )
    return wide.join(decl, "o_orderpriority").select(
        "o_orderpriority",
        "p50",
        "p90",
        "p99",
        "min_price",
        "max_price",
        "sd_price",
    )


ORDER_PRICE_PERCENTILES_SQL = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 6)  AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 6)  AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99,
       ROUND(MIN(o_totalprice), 6) AS min_price,
       ROUND(MAX(o_totalprice), 6) AS max_price,
       ROUND(stddev_samp(o_totalprice), 6) AS sd_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- rank-function flavors ----------------------------------------------


def order_rank_flavors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / ntile / percent_rank / first & last value over one
    deterministic ordering, restricted to one month to keep output
    compact."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1998-02-01")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 6).alias("price"),
            F.dense_rank().over(w).alias("drank"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("prank"),
            F.first("o_orderkey").over(full).alias("best_order"),
            F.last("o_orderkey").over(full).alias("worst_order"),
        )
    )


ORDER_RANK_FLAVORS_SQL = """
SELECT o_orderpriority, o_orderkey,
       ROUND(o_totalprice, 6) AS price,
       CAST(dense_rank()   OVER w AS INTEGER) AS drank,
       CAST(ntile(4)       OVER w AS INTEGER) AS quartile,
       ROUND(percent_rank() OVER w, 6)        AS prank,
       first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS best_order,
       last_value(o_orderkey)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS worst_order
FROM orders
WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1998-02-01'
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
ORDER BY o_orderpriority, drank, o_orderkey
"""


# --- RANGE frame: rolling 90-day spend per customer ----------------------


def customer_rolling_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sum of each customer's orders in the 90 days up to and including
    each order date — a true RANGE frame (value-based, handles gaps),
    not a ROWS frame."""
    orders = read_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-90, 0)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.round(F.sum("o_totalprice").over(w), 6).alias("spend_90d"),
        )
    )


CUSTOMER_ROLLING_SPEND_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey
         ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
         RANGE BETWEEN 90 PRECEDING AND CURRENT ROW), 6) AS spend_90d
FROM orders
ORDER BY o_custkey, order_day, o_orderkey
"""


# --- distinct & collection aggregates ------------------------------------


def segment_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countDistinct + sorted collect_set, emitted as a canonical
    comma-joined string (sorted for determinism; a string rather than an
    array column because the driver's hash-compare harness cannot hash
    Python lists — r4's one red row)."""
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.concat_ws(
                ",", F.sort_array(F.collect_set("c_nationkey"))
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


SEGMENT_DISTINCT_STATS_SQL = """
SELECT c_mktsegment,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
       COUNT(*) AS n_customers
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- string / conditional scalar functions -------------------------------


def part_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    first_word = F.element_at(F.split("p_name", " "), 1)
    return (
        part.select(
            "p_partkey",
            F.upper(first_word).alias("first_word_upper"),
            F.length("p_name").cast("long").alias("name_len"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowels"),
            F.when(F.col("p_size") < 10, "small")
            .when(F.col("p_size") < 30, "medium")
            .otherwise("large")
            .alias("size_class"),
        )
    )


PART_TEXT_FEATURES_SQL = """
SELECT p_partkey,
       upper(string_split(p_name, ' ')[1]) AS first_word_upper,
       CAST(strlen(p_name) AS BIGINT) AS name_len,
       concat_ws('|', p_brand, p_type) AS brand_type,
       substring(p_type, 1, 5) AS type_prefix,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_class
FROM part
ORDER BY p_partkey
"""


# --- temporal joins ------------------------------------------------------


def clicks_asof_prior_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click event joined to the user's most recent view event at
    or before it (point-in-time join; operators/temporal.py)."""
    ev = read_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    # dedup views per (user, ts) so as-of ties are deterministic
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("event_id").alias("view_id"), F.round(F.max("value"), 6).alias("view_value"))
    )
    out = as_of_join(
        clicks,
        views,
        on="user_id",
        left_time="ts",
        right_time="view_ts",
        right_payload=["view_id", "view_value"],
    )
    return out.select(
        "user_id", "click_id", "view_id", "view_value"
    )


CLICKS_ASOF_PRIOR_VIEW_SQL = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts
  FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts AS view_ts, MAX(event_id) AS view_id,
         ROUND(MAX(value), 6) AS view_value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
)
SELECT c.user_id, c.click_id, v.view_id, v.view_value
FROM clicks c
ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.view_ts
ORDER BY c.user_id, c.click_id
"""


def clicks_asof_recent_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of: the prior view only counts if it is at
    most 10 minutes stale (pandas merge_asof's `tolerance`; the
    attribution-window semantics ad pipelines use — an old view does
    not earn the click). Same single-shuffle union+window plan; the
    DuckDB twin applies the age mask after its native ASOF join."""
    ev = read_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("event_id").alias("view_id"))
    )
    out = as_of_join(
        clicks,
        views,
        on="user_id",
        left_time="ts",
        right_time="view_ts",
        right_payload=["view_id"],
        tolerance_seconds=600,
    )
    return out.select("user_id", "click_id", "view_id")


CLICKS_ASOF_RECENT_VIEW_SQL = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts
  FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts AS view_ts, MAX(event_id) AS view_id
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
)
SELECT c.user_id, c.click_id,
       CASE WHEN epoch_us(c.ts) - epoch_us(v.view_ts) <= 600 * 1000000
            THEN v.view_id END AS view_id
FROM clicks c
ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.view_ts
ORDER BY c.user_id, c.click_id
"""


def error_followup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per error event: how many events the same user produced in the
    following 10 minutes (interval/range join; operators/temporal.py)."""
    ev = read_events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    followups = ev.select("user_id", F.col("event_id").alias("f_id"), F.col("ts").alias("f_ts"))
    pairs = range_join(
        errors,
        followups,
        on="user_id",
        left_time="ts",
        right_time="f_ts",
        lower_seconds=0,
        upper_seconds=600,
    )
    return (
        pairs.groupBy("user_id", "error_id")
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


ERROR_FOLLOWUP_COUNTS_SQL = """
SELECT e.user_id, e.event_id AS error_id, COUNT(*) AS n_followups
FROM events e
JOIN events f
  ON e.user_id = f.user_id
 AND f.ts > e.ts
 AND f.ts <= e.ts + INTERVAL 600 SECOND
WHERE e.event_type = 'error'
GROUP BY e.user_id, e.event_id
ORDER BY e.user_id, error_id
"""


# --- SQL API: GROUPING SETS ----------------------------------------------


def priority_status_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL entry point (the engine's second query API): GROUPING
    SETS over a registered view — the generalization of the rollup/cube
    queries in tpch_like.py."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 6) AS total_price,
               CAST(grouping_id(o_orderpriority, o_orderstatus) AS INT) AS gid
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, o_orderpriority, o_orderstatus
        """
    )


PRIORITY_STATUS_GROUPING_SETS_SQL = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 6) AS total_price,
       CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS INTEGER) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
ORDER BY gid, o_orderpriority, o_orderstatus
"""


# --- unionByName with schema drift ---------------------------------------


def activity_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — the schema-drift
    union a multi-source ingest needs (positional ``union`` silently
    mismatches columns; by-name fills absent columns with null).
    Orders lack ``user_id``; the null-fill is visible in the per-kind
    ``n_with_user`` count."""
    ev = read_events(spark, sf_dir).select(
        F.col("event_id").alias("id"),
        F.lit("event").alias("kind"),
        F.col("value").alias("amount"),
        "user_id",
    )
    od = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.lit("order").alias("kind"),
        F.col("o_totalprice").alias("amount"),
    )
    return (
        ev.unionByName(od, allowMissingColumns=True)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("user_id").alias("n_with_user"),
            F.round(F.sum("amount"), 6).alias("total_amount"),
        )
    )


ACTIVITY_UNION_BY_NAME_SQL = """
WITH u AS (
  SELECT event_id AS id, 'event' AS kind, value AS amount, user_id FROM events
  UNION ALL BY NAME
  SELECT o_orderkey AS id, 'order' AS kind, o_totalprice AS amount FROM orders
)
SELECT kind, COUNT(*) AS n_rows, COUNT(user_id) AS n_with_user,
       ROUND(SUM(amount), 6) AS total_amount
FROM u GROUP BY kind ORDER BY kind
"""


# --- salted join (skew mitigation, exact-result) -------------------------


def segment_event_value_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join of the (skew-prone) event stream against the
    customer dimension, aggregated per market segment. The salt
    spreads any hot user key across 8 sub-partitions; the oracle is
    the PLAIN join SQL — salting must be invisible in the result,
    which is exactly what makes it safe to deploy reflexively on
    skewed fact joins at scale."""
    from ..operators.skew import salted_join

    ev = read_events(spark, sf_dir).select("user_id", "value")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        salted_join(ev, cust, on=["user_id"], salt=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


SEGMENT_EVENT_VALUE_SALTED_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- SQL API: correlated subqueries --------------------------------------


def priority_returns_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape): orders with at least one
    returned line, counted per priority. Catalyst decorrelates this to
    a left semi join — no per-row subquery execution survives in the
    physical plan, which is what makes the construct usable at scale."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_v"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders_v o
        WHERE EXISTS (
          SELECT 1 FROM lineitem_v l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


PRIORITY_RETURNS_EXISTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): revenue from
    lines under 20% of their part's average quantity. Decorrelates to
    an aggregate-then-join — the per-part average is computed once,
    not per probing row."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_v"
    )
    read_table(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 6) AS avg_yearly
        FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#11'
          AND l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity)
            FROM lineitem_v l2 WHERE l2.l_partkey = p.p_partkey
          )
        """
    )


SMALL_QTY_PART_REVENUE_SQL = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 6) AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#11'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
  )
"""


# --- approximate aggregates (rows-only: sketch implementations differ) ---


def order_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct + quantile-sketch median per priority — the
    constant-memory aggregates a 100 TB groupBy actually uses.
    Rows-only for the driver (DuckDB's sketches differ); accuracy vs
    the exact aggregates is asserted in tests."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey").alias("approx_customers"),
            F.percentile_approx("o_totalprice", 0.5).alias("approx_median_price"),
        )
    )


def weekly_user_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the pattern that makes
    distinct counting tractable at 100 TB: aggregate each day's events
    into a fixed-size HLL sketch (Datasketches binary, a few KB), then
    answer coarser-grain questions by UNIONING the daily sketches —
    never re-touching raw events. Exact distinct is holistic (can't
    pre-aggregate: a day-level distinct can't roll up to months because
    users repeat across days); sketches restore the map-side-combine /
    incremental-view shape with a known ~1.6% error (lgConfigK=12).

    The two-level plan here (events → daily sketches → weekly merge)
    is the batch analog of a streaming/incremental rollup: day sketches
    are what you'd persist in a metrics store and re-merge on demand.
    Rows-only for the driver (estimates are sketch-parameterized);
    tests assert the estimate lands within error bounds of exact.
    """
    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_trunc("week", "ts").alias("week"),
        F.to_date("ts").alias("day"),
    ).agg(
        F.hll_sketch_agg("user_id").alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        daily.groupBy("week")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("user_sketch"))
            .cast("long")
            .alias("est_distinct_users"),
            F.count(F.lit(1)).alias("n_days"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            F.to_date("week").alias("week"),
            "est_distinct_users",
            "n_days",
            "n_events",
        )
    )


def weekly_user_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weekly distinct users + day/event counts — the
    oracle-checkable companion of :func:`weekly_user_sketch_rollup`,
    pinning the week-truncation and day/event accounting in the driver
    loop (the sketch query is rows-only, so without this twin those
    semantics live only in pytest's error-envelope test).

    Staged in round 7 (window at capacity; rotation rule 1),
    registered round 8 as planned. RETIRED from the driver registry in
    round 11 (hash-green at its last driver check, r8): the zero-slack
    r11 window had to absorb doc_lm_outliers (rule 2, the banked
    bigram-LM SHUFFLE_HASH fix) and the window decision rule prefers
    retiring the most redundant variant — this one's mechanism
    (date_trunc + exact countDistinct) is pinned by several other
    hash-green queries, while the trickier calendar-RANGE twin
    rolling_7d_distinct_exact stays registered. Remains a PYTEST-ONLY
    twin: test_skew_and_approx (sketch error envelope),
    test_timezone_probe (still oracle-compared locally via
    WEEKLY_USER_DISTINCT_EXACT_SQL), test_empty_inputs,
    test_plan_shapes.

    One countDistinct per week — exact distinct is holistic, which is
    WHY the sketch variant exists; this twin is the audit query you
    run at the coarse grain where exactness is still affordable."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(
            F.countDistinct("user_id").alias("n_distinct_users"),
            F.countDistinct(F.to_date("ts")).alias("n_days"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.to_date("week").alias("week"),
            "n_distinct_users",
            "n_days",
            "n_events",
        )
    )


WEEKLY_USER_DISTINCT_EXACT_SQL = """
SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS week,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1
ORDER BY week
"""


# --- pivot ---------------------------------------------------------------


def returnflag_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot().agg() — wide KPI matrices without N scans.
    Pivot values are declared explicitly: leaving Spark to discover
    them costs an extra distinct-scan job and makes the output schema
    data-dependent, which a 100 TB pipeline can't tolerate."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 6))
        .withColumnsRenamed({"F": "qty_f", "O": "qty_o"})
    )


RETURNFLAG_STATUS_PIVOT_SQL = """
SELECT l_returnflag,
       ROUND(SUM(l_quantity) FILTER (l_linestatus = 'F'), 6) AS qty_f,
       ROUND(SUM(l_quantity) FILTER (l_linestatus = 'O'), 6) AS qty_o
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- full outer join -----------------------------------------------------


def eventers_orderers_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two activity profiles keyed by user: event
    counts vs order counts, with exclusive keys surviving on either
    side (the join flavor the reference never uses but a general
    engine must ship)."""
    ev = (
        read_events(spark, sf_dir)
        .groupBy(F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    od = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        ev.join(od, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


EVENTERS_ORDERERS_FULL_OUTER_SQL = """
WITH ev AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
),
od AS (
  SELECT o_custkey AS user_id, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT COALESCE(ev.user_id, od.user_id) AS user_id,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(n_orders, 0) AS n_orders
FROM ev FULL OUTER JOIN od ON ev.user_id = od.user_id
ORDER BY user_id
"""


# --- array aggregation + higher-order functions --------------------------


def order_quantity_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list → array_sort, then element_at / aggregate /
    filter / exists over the array — the nested-type surface
    (SURVEY.md §2.7 'not present' list). Arrays stay inside the row
    (no explode shuffle); every output is a scalar so the oracle
    hash-compares exactly."""
    qtys = F.array_sort(F.collect_list("l_quantity"))
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(qtys.alias("qtys"))
        .select(
            "l_orderkey",
            F.size("qtys").alias("n_items"),
            F.round(F.element_at("qtys", 1), 6).alias("min_qty"),
            F.round(F.element_at("qtys", -1), 6).alias("max_qty"),
            F.round(
                F.aggregate("qtys", F.lit(0.0), lambda acc, q: acc + q), 6
            ).alias("total_qty"),
            F.size(F.filter("qtys", lambda q: q >= 25.0)).alias("n_large"),
            F.exists("qtys", lambda q: q > 49.0).alias("has_max_bucket"),
        )
    )


ORDER_QUANTITY_ARRAYS_SQL = """
WITH a AS (
  SELECT l_orderkey, list(l_quantity ORDER BY l_quantity) AS qtys
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(qtys) AS INTEGER) AS n_items,
       ROUND(qtys[1], 6) AS min_qty,
       ROUND(qtys[-1], 6) AS max_qty,
       ROUND(list_sum(qtys), 6) AS total_qty,
       CAST(len(list_filter(qtys, q -> q >= 25.0)) AS INTEGER) AS n_large,
       len(list_filter(qtys, q -> q > 49.0)) > 0 AS has_max_bucket
FROM a
ORDER BY l_orderkey
"""


# --- row-level corrupt-record quarantine ---------------------------------


def csv_quarantine_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level corrupt-record quarantine (SURVEY.md §1.2): parse
    CSV-shaped lines against a declared schema in PERMISSIVE mode with
    ``columnNameOfCorruptRecord``, then count clean vs quarantined rows
    per source — the engine answer to the reference's misaligned
    songs.csv rows, which it only patches downstream with a regex
    filter (reference glue_job.py:83).

    Lines are synthesized deterministically from ``documents`` (docs
    whose n_chars % 7 == 0 get text in the numeric slot, mimicking
    column misalignment) so the DuckDB oracle can mirror the predicate.
    The file-based path (``read_csv_quarantine``/``split_quarantine``)
    is exercised against a malformed on-disk fixture in
    tests/test_quarantine.py.
    """
    docs = read_table(spark, sf_dir, "documents")
    line = F.when(
        F.col("n_chars") % 7 == 0,
        F.concat_ws(",", F.col("doc_id"), F.col("lang"), F.lit("garbled")),
    ).otherwise(F.concat_ws(",", F.col("doc_id"), F.col("lang"), F.col("n_chars")))
    parsed = docs.select(
        "source",
        F.from_csv(
            line,
            "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("p"),
    )
    return (
        parsed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("p._corrupt_record").alias("n_quarantined"),
            F.sum(
                F.when(F.col("p._corrupt_record").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_clean"),
        )
    )


CSV_QUARANTINE_COUNTS_SQL = """
SELECT source,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN n_chars % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       CAST(SUM(CASE WHEN n_chars % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM documents
GROUP BY source
ORDER BY source
"""


def customer_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins SCD-1 merge (operators/merge.py): the customer
    balance table as base state, an events-derived update stream on
    top. Keys are shifted (user_id × 11) so the merge exercises all
    three outcomes — updated, unchanged, and inserted — at sf0.01.

    The batch form of the reference's DynamoDB upsert write
    (glue_job.py:110-132): newest version per key wins, single shuffle
    (union + WindowGroupLimit top-1, no join).
    """
    from ..operators.merge import scd1_merge

    base = (
        read_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("profile_id"),
            F.round(F.col("c_acctbal"), 2).alias("balance"),
            F.to_timestamp(F.lit("1992-01-01 00:00:00")).alias("updated_at"),
        )
    )
    updates = read_events(spark, sf_dir).select(
        (F.col("user_id") * 11).alias("profile_id"),
        F.round(F.col("value"), 2).alias("balance"),
        F.col("ts").alias("updated_at"),
    )
    merged = scd1_merge(
        base, updates, key_cols=["profile_id"], ordering_col="updated_at"
    )
    return merged.select("profile_id", "balance", "updated_at", "change_type")


CUSTOMER_SCD1_MERGE_SQL = """
WITH base AS (
  SELECT c_custkey AS profile_id,
         ROUND(c_acctbal, 2) AS balance,
         TIMESTAMP '1992-01-01 00:00:00' AS updated_at,
         0 AS prio
  FROM customer
),
updates AS (
  SELECT user_id * 11 AS profile_id,
         ROUND(value, 2) AS balance,
         ts AS updated_at,
         1 AS prio
  FROM events
),
tagged AS (
  SELECT * FROM base UNION ALL BY NAME SELECT * FROM updates
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY profile_id
           ORDER BY prio DESC, updated_at DESC) AS rn,
         SUM(1 - prio) OVER (PARTITION BY profile_id) AS n_base
  FROM tagged
)
SELECT profile_id, balance, updated_at,
       CASE WHEN prio = 0 THEN 'unchanged'
            WHEN n_base > 0 THEN 'updated'
            ELSE 'inserted' END AS change_type
FROM ranked WHERE rn = 1
ORDER BY profile_id
"""


def customer_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with tombstones (operators/merge.py::apply_changes):
    the events stream becomes an op log — 'error' events are deletes,
    everything else upserts — and the latest op per key decides.
    Same single-shuffle argmax as the SCD-1 merge; deletes are a
    post-aggregate filter."""
    from ..operators.merge import apply_changes

    base = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("profile_id"),
        F.round(F.col("c_acctbal"), 2).alias("balance"),
        F.to_timestamp(F.lit("1992-01-01 00:00:00")).alias("updated_at"),
    )
    changes = read_events(spark, sf_dir).select(
        (F.col("user_id") * 11).alias("profile_id"),
        F.round(F.col("value"), 2).alias("balance"),
        F.col("ts").alias("updated_at"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    out = apply_changes(
        base, changes, key_cols=["profile_id"], ordering_col="updated_at"
    )
    return out.select("profile_id", "balance", "updated_at", "change_type")


CUSTOMER_CDC_APPLY_SQL = """
WITH base AS (
  SELECT c_custkey AS profile_id,
         ROUND(c_acctbal, 2) AS balance,
         TIMESTAMP '1992-01-01 00:00:00' AS updated_at,
         'U' AS op, 0 AS prio
  FROM customer
),
changes AS (
  SELECT user_id * 11 AS profile_id,
         ROUND(value, 2) AS balance,
         ts AS updated_at,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         1 AS prio
  FROM events
),
tagged AS (
  SELECT * FROM base UNION ALL BY NAME SELECT * FROM changes
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY profile_id
           ORDER BY prio DESC, updated_at DESC) AS rn,
         SUM(1 - prio) OVER (PARTITION BY profile_id) AS n_base
  FROM tagged
)
SELECT profile_id, balance, updated_at,
       CASE WHEN prio = 0 THEN 'unchanged'
            WHEN n_base > 0 THEN 'updated'
            ELSE 'inserted' END AS change_type
FROM ranked WHERE rn = 1 AND op != 'D'
ORDER BY profile_id
"""


def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column data-quality profile of the orders table
    (operators/profile.py): null counts, cardinalities, typed ranges.
    Exact mode here for the oracle; exact=False (HLL, no EXPAND) is
    the declared 100 TB mode with the identical report schema."""
    from ..operators.profile import profile_table

    return profile_table(read_table(spark, sf_dir, "orders"), exact=True)


def _profile_sql() -> str:
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    parts = []
    for c in cols:
        if c in numeric:
            mins = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
            strs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mins = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            strs = (
                f"MIN(CAST({c} AS VARCHAR))",
                f"MAX(CAST({c} AS VARCHAR))",
            )
        parts.append(
            f"SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
            f"  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,\n"
            f"  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,\n"
            f"  {mins[0]} AS min_num, {mins[1]} AS max_num,\n"
            f"  {strs[0]} AS min_str, {strs[1]} AS max_str\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY col_name"


ORDERS_PROFILE_SQL = _profile_sql()


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    declared foreign key, how many child rows and how many orphans
    (no matching parent). Each edge is one left-anti-join count —
    anti joins broadcast their parent side here (keys only, tiny
    relative to facts even at 100 TB; a billion-key parent switches
    to a shuffle anti-join with no code change). The report a load
    gate checks before promoting a snapshot."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")

    def edge(name, child, fk, parent, pk):
        # one broadcast left join + one aggregate per edge, fully lazy
        # (no driver-side counts); rows+orphans come from one pass
        hits = parent.select(
            F.col(pk).alias("_k"), F.lit(1).alias("_hit")
        ).distinct()
        joined = child.select(F.col(fk).alias("_k")).join(
            F.broadcast(hits), "_k", "left"
        )
        return joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_child_rows"),
            F.sum(F.isnull("_hit").cast("long")).alias("n_orphans"),
        ).select(F.lit(name).alias("fk_edge"), "n_child_rows", "n_orphans")

    edges = [
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
        edge("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


FK_INTEGRITY_AUDIT_SQL = """
SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
       (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
ORDER BY fk_edge
"""


def daily_new_users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT users per day — the growth-dashboard query that
    is impossible as a naive windowed countDistinct at scale. The
    first-seen trick makes it two cheap aggregates: min(day) per user
    (shuffle on user), count per first-day, cumulative sum over the
    tiny per-day frame."""
    ev = read_events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new_users")
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(w).alias("n_cumulative_users"),
    )


DAILY_NEW_USERS_SQL = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
per_day AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_users
  FROM first_seen GROUP BY first_day
)
SELECT day, n_new_users,
       CAST(SUM(n_new_users) OVER (ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_cumulative_users
FROM per_day ORDER BY day
"""


def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of order totals — the profiling
    companion for numeric distributions. Bounds come from one scalar
    aggregate broadcast by cross-join; bucketing is a per-row map +
    one keyed count. Top bound clamps into the last bucket so
    max-valued rows aren't dropped."""
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    n = 20
    bucketed = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / n)
            ).cast("int"),
            F.lit(n - 1),
        ).alias("bucket"),
        "lo",
        "hi",
    )
    return (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "bucket",
            F.round(
                F.col("lo") + F.col("bucket") * (F.col("hi") - F.col("lo")) / n, 6
            ).alias("bucket_lo"),
            F.round(
                F.col("lo")
                + (F.col("bucket") + 1) * (F.col("hi") - F.col("lo")) / n,
                6,
            ).alias("bucket_hi"),
            "n_orders",
        )
    )


ORDERS_PRICE_HISTOGRAM_SQL = """
WITH bounds AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
),
bucketed AS (
  SELECT CAST(LEAST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 20)) AS INTEGER),
                    19) AS INTEGER) AS bucket
  FROM orders CROSS JOIN bounds
)
SELECT bucket,
       ROUND(lo + bucket * (hi - lo) / 20, 6) AS bucket_lo,
       ROUND(lo + (bucket + 1) * (hi - lo) / 20, 6) AS bucket_hi,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM bucketed CROSS JOIN bounds
GROUP BY bucket, lo, hi
ORDER BY bucket
"""


def orders_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift report
    (operators/profile.py::psi_drift) between the pre-1995 and
    1995-onward order-price distributions — the snapshot-vs-snapshot
    distribution monitor every promotion gate runs. Fixed bin bounds
    (0..600k in 20 bins) so the bins can't move with the data; total
    PSI = Σ psi_term."""
    from ..operators.profile import psi_drift

    orders = read_table(spark, sf_dir, "orders")
    split = F.col("o_orderdate") < F.lit("1995-01-01")
    return psi_drift(
        orders.filter(split),
        orders.filter(~split),
        "o_totalprice",
        lo=0.0,
        hi=600000.0,
        n_bins=20,
    )


ORDERS_PRICE_DRIFT_SQL = """
WITH e AS (
  SELECT o_totalprice AS v FROM orders
  WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
),
a AS (
  SELECT o_totalprice AS v FROM orders
  WHERE NOT (o_orderdate < TIMESTAMP '1995-01-01 00:00:00')
),
eb AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((v - 0.0) / 30000.0) AS INTEGER), 0), 19)
           AS bin, COUNT(*) AS n
  FROM e GROUP BY 1
),
ab AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((v - 0.0) / 30000.0) AS INTEGER), 0), 19)
           AS bin, COUNT(*) AS n
  FROM a GROUP BY 1
),
et AS (SELECT SUM(n) AS t FROM eb),
at2 AS (SELECT SUM(n) AS t FROM ab),
spine AS (SELECT CAST(i AS INTEGER) AS bin FROM range(20) r(i)),
f AS (
  SELECT spine.bin,
         COALESCE(CAST(eb.n AS DOUBLE) / et.t, 0.0) AS fe,
         COALESCE(CAST(ab.n AS DOUBLE) / at2.t, 0.0) AS fa
  FROM spine LEFT JOIN eb USING (bin) LEFT JOIN ab USING (bin), et, at2
)
SELECT bin,
       ROUND(fe, 6) AS frac_expected,
       ROUND(fa, 6) AS frac_actual,
       ROUND((fa - fe) * ln((fa + 0.000001) / (fe + 0.000001)), 6) AS psi_term
FROM f ORDER BY bin
"""


def part_name_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy matching (operators/linkage.py): part
    names within one edit-distance band of each other, blocked on the
    last name token so the Levenshtein compare never runs on the full
    cross product. Exact duplicates (distance 0) are excluded — exact
    dedup handles those for free."""
    from ..operators.linkage import fuzzy_match_pairs

    part = read_table(spark, sf_dir, "part")
    return fuzzy_match_pairs(
        part,
        "p_name",
        F.element_at(F.split("p_name", " "), -1),
        min_distance=1,
        max_distance=2,
    )


PART_NAME_FUZZY_MATCHES_SQL = """
WITH p AS (SELECT DISTINCT p_name AS name FROM part),
b AS (
  SELECT name, string_split(name, ' ')[-1] AS blk FROM p
  QUALIFY COUNT(*) OVER (PARTITION BY blk) <= 1000
)
SELECT a.name AS name_a, b2.name AS name_b,
       CAST(levenshtein(a.name, b2.name) AS INTEGER) AS edit_distance
FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name
WHERE levenshtein(a.name, b2.name) BETWEEN 1 AND 2
ORDER BY name_a, name_b
"""


def segment_nation_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test between market segment and nation
    (operators/stats.py::chi_square_independence): one contingency
    aggregate is the only wide op; the statistic sums the FULL
    |A|×|B| cross product so zero-observed cells contribute their
    expectation."""
    from ..operators.stats import chi_square_independence

    cust = read_table(spark, sf_dir, "customer")
    return chi_square_independence(cust, "c_mktsegment", "c_nationkey")


SEGMENT_NATION_CHI2_SQL = """
WITH obs AS (
  SELECT c_mktsegment AS a, c_nationkey AS b,
         CAST(COUNT(*) AS DOUBLE) AS n_obs
  FROM customer GROUP BY 1, 2
),
ra AS (SELECT a, SUM(n_obs) AS na FROM obs GROUP BY a),
cb AS (SELECT b, SUM(n_obs) AS nb FROM obs GROUP BY b),
tot AS (SELECT SUM(n_obs) AS t FROM obs),
cells AS (
  SELECT POW(COALESCE(o.n_obs, 0) - ra.na * cb.nb / t.t, 2)
         / (ra.na * cb.nb / t.t) AS term
  FROM ra CROSS JOIN cb CROSS JOIN tot t
  LEFT JOIN obs o ON o.a = ra.a AND o.b = cb.b
)
SELECT (SELECT ROUND(SUM(term), 6) FROM cells) AS chi2,
       CAST(((SELECT COUNT(*) FROM ra) - 1)
            * ((SELECT COUNT(*) FROM cb) - 1) AS BIGINT) AS dof,
       CAST((SELECT t FROM tot) AS BIGINT) AS n
"""


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations across the lineitem numeric
    columns in ONE aggregate scan (operators/stats.py::corr_matrix) —
    the feature-relationship profile, upper triangle in long form."""
    from ..operators.stats import corr_matrix

    li = read_table(spark, sf_dir, "lineitem")
    return corr_matrix(li, _CORR_COLS)


def _corr_sql() -> str:
    from itertools import combinations

    parts = [
        f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
        f"ROUND(corr({x}, {y}), 6) AS corr_coef FROM lineitem"
        for x, y in combinations(_CORR_COLS, 2)
    ]
    return " UNION ALL ".join(parts)


LINEITEM_CORR_MATRIX_SQL = _corr_sql()


def orders_price_decile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global decile binning done scale-safe: `ntile(10) OVER ()` is
    the single-task trap (an un-partitioned window), so the boundaries
    come from ONE percentile pass, broadcast, and each row bins
    itself by counting boundaries <= value — per-row array math, no
    global sort. Output: per-decile row count and realized [lo, hi].

    r12 rework (banked r11): the boundary pass was an UN-grouped
    native ``percentile(array(9))`` — the worst instance of the
    holistic-aggregate class, since the single group buffers the
    ENTIRE price column in ONE reducer task (the grouped form of the
    same trap measured exponent 1.37 at 100× before the r11
    order_price_percentiles fix). Boundaries now come from
    operators/percentiles.py::global_percentiles_exact (distributed
    selection, bit-identical interpolation — oracle hash unchanged),
    re-assembled into the p-ordered bounds array the binning
    expression always consumed."""
    from ..operators.percentiles import global_percentiles_exact

    orders = read_table(spark, sf_dir, "orders")
    qs = global_percentiles_exact(
        orders,
        "o_totalprice",
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9],
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "pct"))),
            lambda s: s["pct"],
        ).alias("bounds")
    )
    binned = orders.crossJoin(F.broadcast(qs)).select(
        F.col("o_totalprice").alias("v"),
        F.size(
            F.filter("bounds", lambda b: b <= F.col("o_totalprice"))
        ).cast("int").alias("decile"),
    )
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.min("v"), 6).alias("lo"),
        F.round(F.max("v"), 6).alias("hi"),
    )


ORDERS_PRICE_DECILE_BINS_SQL = """
WITH b AS (
  SELECT quantile_cont(o_totalprice,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
  FROM orders
),
x AS (
  SELECT o_totalprice AS v,
         len(list_filter(bounds, bb -> bb <= o_totalprice)) AS decile
  FROM orders, b
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(v), 6) AS lo,
       ROUND(MAX(v), 6) AS hi
FROM x GROUP BY 1 ORDER BY 1
"""


def customer_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot version diff (operators/merge.py::snapshot_diff): the
    change log BETWEEN two full dumps — deterministic mutations of the
    customer table stand in for "yesterday vs today". The operator
    compares 8-byte xxhash64 payload digests (only digests shuffle);
    the oracle classifies by direct payload comparison — same result
    unless a per-key 64-bit collision (~2^-64) occurs, so the driver
    value-checks the semantics."""
    from ..operators.merge import snapshot_diff

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    new = (
        cust.filter(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            "c_name",
            F.when(
                F.col("c_custkey") % 13 == 0, F.round(F.col("c_acctbal") + 50, 2)
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 101 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.lit("new customer").alias("c_name"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return snapshot_diff(cust, new, ["c_custkey"])


CUSTOMER_SNAPSHOT_DIFF_SQL = """
WITH old AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
new AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 13 = 0 THEN ROUND(c_acctbal + 50, 2)
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 10000000, 'new customer', 0.0
  FROM customer WHERE c_custkey % 101 = 0
)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'inserted'
            WHEN n.c_custkey IS NULL THEN 'deleted'
            WHEN o.c_name = n.c_name AND o.c_acctbal = n.c_acctbal
              THEN 'unchanged'
            ELSE 'changed' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
ORDER BY c_custkey
"""


def customer_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 history fold (operators/merge.py::scd2_apply):
    changed keys close their current version and open a new one at
    the effective date, identical payloads cause no churn, new keys
    insert — full validity-ranged history out. Updates are a
    deterministic function of the customer table so the oracle
    replays the exact fold."""
    from ..operators.merge import scd2_apply

    cust = read_table(spark, sf_dir, "customer")
    hist = cust.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    eff = F.lit("1996-06-01").cast("timestamp")
    upd = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
            eff.alias("effective_date"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 5).select(
                "c_custkey", "c_name", "c_acctbal", eff.alias("effective_date")
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 103 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("new customer").alias("c_name"),
                F.lit(0.0).alias("c_acctbal"),
                eff.alias("effective_date"),
            )
        )
    )
    out = scd2_apply(hist, upd, ["c_custkey"])
    return out.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
    )


CUSTOMER_SCD2_APPLY_SQL = """
WITH hist AS (
  SELECT c_custkey, c_name, c_acctbal,
         TIMESTAMP '1990-01-01 00:00:00' AS vf
  FROM customer
),
upd AS (
  SELECT c_custkey, c_name, ROUND(c_acctbal + 100, 2) AS c_acctbal,
         TIMESTAMP '1996-06-01 00:00:00' AS eff
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, TIMESTAMP '1996-06-01 00:00:00'
  FROM customer WHERE c_custkey % 10 = 5
  UNION ALL
  SELECT c_custkey + 1000000, 'new customer', 0.0,
         TIMESTAMP '1996-06-01 00:00:00'
  FROM customer WHERE c_custkey % 103 = 0
),
j AS (
  SELECT COALESCE(h.c_custkey, u.c_custkey) AS k,
         h.c_name AS hname, h.c_acctbal AS hbal, h.vf,
         u.c_name AS uname, u.c_acctbal AS ubal, u.eff
  FROM hist h FULL OUTER JOIN upd u ON h.c_custkey = u.c_custkey
)
SELECT k AS c_custkey, hname AS c_name, hbal AS c_acctbal,
       strftime(vf, '%Y-%m-%d') AS valid_from, NULL AS valid_to
FROM j WHERE vf IS NOT NULL
        AND (eff IS NULL OR (hname = uname AND hbal = ubal))
UNION ALL
SELECT k, hname, hbal, strftime(vf, '%Y-%m-%d'), strftime(eff, '%Y-%m-%d')
FROM j WHERE vf IS NOT NULL AND eff IS NOT NULL
        AND NOT (hname = uname AND hbal = ubal)
UNION ALL
SELECT k, uname, ubal, strftime(eff, '%Y-%m-%d'), NULL
FROM j WHERE eff IS NOT NULL
        AND (vf IS NULL OR NOT (hname = uname AND hbal = ubal))
ORDER BY c_custkey, valid_from
"""


def customer_balance_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise standardization (the feature-engineering staple):
    per-segment z-score of account balance. NOT a window partitioned
    by segment: |segments| is tiny (5), so that window collapses 30M+
    customers per segment into 5 giant tasks at scale. Instead the
    per-group mean/stddev reduce to a |segments|-row table (map-side
    combined) broadcast back onto the scan — every stage fully
    parallel, no wide shuffle of the fact at all."""
    cust = read_table(spark, sf_dir, "customer")
    stats = cust.groupBy("c_mktsegment").agg(
        F.avg("c_acctbal").alias("_mean"),
        F.stddev("c_acctbal").alias("_sd"),
    )
    return cust.join(F.broadcast(stats), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 6).alias("acctbal"),
        F.round((F.col("c_acctbal") - F.col("_mean")) / F.col("_sd"), 6).alias(
            "zscore"
        ),
    )


CUSTOMER_BALANCE_ZSCORES_SQL = """
SELECT c_custkey, c_mktsegment,
       ROUND(c_acctbal, 6) AS acctbal,
       ROUND((c_acctbal - AVG(c_acctbal) OVER (PARTITION BY c_mktsegment))
             / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 6)
         AS zscore
FROM customer
ORDER BY c_custkey
"""


def orders_pit_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension join (operators/temporal.py::
    point_in_time_join): each order picks up the account balance that
    was valid AT its order date from a two-version SCD2 history
    (every 10th customer's balance changes on 1996-06-01) — orders
    span the boundary, so both versions are exercised. Joining the
    CURRENT dimension instead would leak the post-change balance into
    pre-1996 orders; the oracle replays the validity predicate
    exactly."""
    from ..operators.temporal import point_in_time_join

    cust = read_table(spark, sf_dir, "customer")
    boundary = F.lit("1996-06-01").cast("timestamp")
    changed = F.col("c_custkey") % 10 == 0
    v1 = cust.select(
        "c_custkey",
        F.round("c_acctbal", 6).alias("acctbal"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.when(changed, boundary).otherwise(F.lit(None).cast("timestamp")).alias("valid_to"),
    )
    v2 = cust.filter(changed).select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 100, 6).alias("acctbal"),
        boundary.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    history = v1.unionByName(v2)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_orderdate"
    )
    out = point_in_time_join(
        orders, history, ["c_custkey"], "o_orderdate"
    )
    return out.select(
        "o_orderkey",
        "c_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "acctbal",
    )


ORDERS_PIT_CUSTOMER_BALANCE_SQL = """
WITH v1 AS (
  SELECT c_custkey, ROUND(c_acctbal, 6) AS acctbal,
         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
         CASE WHEN c_custkey % 10 = 0
              THEN TIMESTAMP '1996-06-01 00:00:00' END AS valid_to
  FROM customer
),
v2 AS (
  SELECT c_custkey, ROUND(c_acctbal + 100, 6) AS acctbal,
         TIMESTAMP '1996-06-01 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM customer WHERE c_custkey % 10 = 0
),
hist AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT o.o_orderkey, o.o_custkey AS c_custkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
       h.acctbal
FROM orders o
LEFT JOIN hist h
  ON o.o_custkey = h.c_custkey
 AND o.o_orderdate >= h.valid_from
 AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
ORDER BY o.o_orderkey
"""


def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day via WINDOW-MERGED HLL
    sketches: one per-day sketch aggregate over the events (the only
    event-scale pass), then `hll_union_agg` as a window function over
    the DAILY frame — the un-partitioned window is calendar-bounded
    (rows = days), the classic sliding-distinct query exact
    countDistinct cannot answer without re-scanning 7 days of raw
    events per day. The frame is a RANGE over epoch-day, not ROWS: on
    a calendar with gaps a rows frame would span the last 7 ACTIVE
    days and silently overcount. Rows-only for the driver (HLL
    internals aren't replayable in DuckDB);
    tests/test_skew_and_approx.py bounds the estimates against exact
    CALENDAR-trailing sets and prints the error."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    w = Window.orderBy(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    ).rangeBetween(-6, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w))
        .cast("long")
        .alias("est_users_7d"),
    )


def rolling_7d_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-CALENDAR-day distinct users per active day —
    the oracle-checkable companion that pins the calendar-range
    semantics of :func:`rolling_7d_distinct_users` in the driver loop
    (the r5 bug class was a ROWS frame silently spanning the last 7
    ACTIVE days on a gapped calendar; the HLL query itself is
    rows-only, so without this twin that semantics lived only in
    pytest).

    Scale shape: events reduce to DISTINCT (day, user) pairs first —
    the only event-scale shuffle — then each pair fans out to the ≤ 7
    trailing days it covers (a bounded explode on already-reduced
    data), dedups, and a broadcast semi-join restricts output to
    ACTIVE days (matching the sketch query's row set). No 7× re-scan
    of raw events, no window over the fact table."""
    ev = read_events(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    pairs = ev.distinct().select(
        "user_id",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias(
            "d_epoch"
        ),
    )
    covered = pairs.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d_epoch"), F.col("d_epoch") + 6)
        ).alias("d_epoch"),
    ).distinct()
    active_days = pairs.select("d_epoch").distinct()
    return (
        covered.join(F.broadcast(active_days), "d_epoch")
        .groupBy("d_epoch")
        .agg(F.count(F.lit(1)).alias("users_7d"))
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("d_epoch")),
                "yyyy-MM-dd",
            ).alias("day"),
            "users_7d",
        )
    )


ROLLING_7D_DISTINCT_EXACT_SQL = """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM pairs)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS users_7d
FROM days d
JOIN pairs p ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day
ORDER BY day
"""


def events_customers_null_bypass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key shuffle-bypass left join (operators/skew.py::
    null_bypass_left_join) over a deterministically null-injected key
    (every 17th user anonymized): rows whose key is NULL can never
    equi-join, so they route AROUND the exchange instead of piling
    into one hot partition. Result-invisible by design — the oracle
    is the PLAIN left join over the same injected key, so the driver
    hash-checks that the bypass changes nothing but the plan."""
    from ..operators.skew import null_bypass_left_join

    ev = read_events(spark, sf_dir).select(
        "event_id",
        F.when(F.col("user_id") % 17 == 0, F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = null_bypass_left_join(ev, cust, ["user_id"])
    return out.select("event_id", "user_id", "c_mktsegment")


EVENTS_CUSTOMERS_NULL_BYPASS_SQL = """
WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 17 = 0 THEN NULL ELSE user_id END AS user_id
  FROM events
)
SELECT ev.event_id, ev.user_id, c.c_mktsegment
FROM ev LEFT JOIN customer c ON ev.user_id = c.c_custkey
ORDER BY event_id
"""


def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative quality gate over orders (sources/expectations.py):
    every rule checked in ONE aggregate pass; the report is what a
    promotion gate persists. Null predicate results count as
    violations (null-hostile by design)."""
    from ..sources.expectations import Expectation, check_expectations

    orders = read_table(spark, sf_dir, "orders")
    rules = [
        Expectation("orderkey_not_null", F.col("o_orderkey").isNotNull()),
        Expectation("totalprice_positive", F.col("o_totalprice") > 0),
        Expectation(
            "status_in_domain", F.col("o_orderstatus").isin("F", "O", "P")
        ),
        Expectation(
            "orderdate_in_range",
            (F.col("o_orderdate") >= F.lit("1992-01-01"))
            & (F.col("o_orderdate") < F.lit("1999-01-01")),
            max_violations=100,
        ),
    ]
    return check_expectations(orders, rules)


ORDERS_EXPECTATIONS_SQL = """
WITH s AS (
  SELECT COUNT(*) AS n_rows,
    SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE)
             THEN 1 ELSE 0 END) AS v0,
    SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
             THEN 1 ELSE 0 END) AS v1,
    SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O','P'), FALSE)
             THEN 1 ELSE 0 END) AS v2,
    SUM(CASE WHEN NOT COALESCE(
               o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
               AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00', FALSE)
             THEN 1 ELSE 0 END) AS v3
  FROM orders
)
SELECT 'orderkey_not_null' AS rule, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(v0 AS BIGINT) AS n_violations,
       CAST(0 AS BIGINT) AS max_violations, v0 <= 0 AS passed FROM s
UNION ALL
SELECT 'totalprice_positive', CAST(n_rows AS BIGINT), CAST(v1 AS BIGINT),
       CAST(0 AS BIGINT), v1 <= 0 FROM s
UNION ALL
SELECT 'status_in_domain', CAST(n_rows AS BIGINT), CAST(v2 AS BIGINT),
       CAST(0 AS BIGINT), v2 <= 0 FROM s
UNION ALL
SELECT 'orderdate_in_range', CAST(n_rows AS BIGINT), CAST(v3 AS BIGINT),
       CAST(100 AS BIGINT), v3 <= 100 FROM s
ORDER BY rule
"""


QUERIES = {
    "orders_expectations": orders_expectations,
    "orders_price_drift": orders_price_drift,
    "segment_nation_chi2": segment_nation_chi2,
    "part_name_fuzzy_matches": part_name_fuzzy_matches,
    "lineitem_corr_matrix": lineitem_corr_matrix,
    "orders_price_decile_bins": orders_price_decile_bins,
    "customer_snapshot_diff": customer_snapshot_diff,
    "customer_scd2_apply": customer_scd2_apply,
    "customer_balance_zscores": customer_balance_zscores,
    "orders_pit_customer_balance": orders_pit_customer_balance,
    "rolling_7d_distinct_users": rolling_7d_distinct_users,
    "rolling_7d_distinct_exact": rolling_7d_distinct_exact,
    "events_customers_null_bypass": events_customers_null_bypass,
    "customer_scd1_merge": customer_scd1_merge,
    "customer_cdc_apply": customer_cdc_apply,
    "orders_profile": orders_profile,
    "fk_integrity_audit": fk_integrity_audit,
    "daily_new_users_cumulative": daily_new_users_cumulative,
    "orders_price_histogram": orders_price_histogram,
    "priority_status_grouping_sets": priority_status_grouping_sets,
    "returnflag_status_pivot": returnflag_status_pivot,
    "eventers_orderers_full_outer": eventers_orderers_full_outer,
    "order_quantity_arrays": order_quantity_arrays,
    "priority_returns_exists": priority_returns_exists,
    "small_qty_part_revenue": small_qty_part_revenue,
    "segment_event_value_salted": segment_event_value_salted,
    "activity_union_by_name": activity_union_by_name,
    "order_approx_stats": order_approx_stats,
    "weekly_user_sketch_rollup": weekly_user_sketch_rollup,
    # weekly_user_distinct_exact: retired r11 (pytest-only twin now —
    # see its docstring)
    "order_price_percentiles": order_price_percentiles,
    "order_rank_flavors": order_rank_flavors,
    "customer_rolling_spend": customer_rolling_spend,
    "segment_distinct_stats": segment_distinct_stats,
    "part_text_features": part_text_features,
    "clicks_asof_prior_view": clicks_asof_prior_view,
    "clicks_asof_recent_view": clicks_asof_recent_view,
    "error_followup_counts": error_followup_counts,
    "csv_quarantine_counts": csv_quarantine_counts,
}

ORACLE = {
    "orders_price_drift": ORDERS_PRICE_DRIFT_SQL,
    "segment_nation_chi2": SEGMENT_NATION_CHI2_SQL,
    "part_name_fuzzy_matches": PART_NAME_FUZZY_MATCHES_SQL,
    "lineitem_corr_matrix": LINEITEM_CORR_MATRIX_SQL,
    "orders_price_decile_bins": ORDERS_PRICE_DECILE_BINS_SQL,
    "customer_snapshot_diff": CUSTOMER_SNAPSHOT_DIFF_SQL,
    "customer_scd2_apply": CUSTOMER_SCD2_APPLY_SQL,
    "customer_balance_zscores": CUSTOMER_BALANCE_ZSCORES_SQL,
    "orders_pit_customer_balance": ORDERS_PIT_CUSTOMER_BALANCE_SQL,
    "events_customers_null_bypass": EVENTS_CUSTOMERS_NULL_BYPASS_SQL,
    "rolling_7d_distinct_exact": ROLLING_7D_DISTINCT_EXACT_SQL,
    "customer_scd1_merge": CUSTOMER_SCD1_MERGE_SQL,
    "customer_cdc_apply": CUSTOMER_CDC_APPLY_SQL,
    "orders_profile": ORDERS_PROFILE_SQL,
    "fk_integrity_audit": FK_INTEGRITY_AUDIT_SQL,
    "daily_new_users_cumulative": DAILY_NEW_USERS_SQL,
    "orders_price_histogram": ORDERS_PRICE_HISTOGRAM_SQL,
    "orders_expectations": ORDERS_EXPECTATIONS_SQL,
    "priority_status_grouping_sets": PRIORITY_STATUS_GROUPING_SETS_SQL,
    "returnflag_status_pivot": RETURNFLAG_STATUS_PIVOT_SQL,
    "eventers_orderers_full_outer": EVENTERS_ORDERERS_FULL_OUTER_SQL,
    "order_quantity_arrays": ORDER_QUANTITY_ARRAYS_SQL,
    "priority_returns_exists": PRIORITY_RETURNS_EXISTS_SQL,
    "small_qty_part_revenue": SMALL_QTY_PART_REVENUE_SQL,
    "segment_event_value_salted": SEGMENT_EVENT_VALUE_SALTED_SQL,
    "activity_union_by_name": ACTIVITY_UNION_BY_NAME_SQL,
    # order_approx_stats, weekly_user_sketch_rollup: sketch-based →
    # rows-only (accuracy vs exact asserted in tests);
    # weekly_user_distinct_exact retired r11 (its SQL twin is still
    # compared locally by test_timezone_probe)
    "order_price_percentiles": ORDER_PRICE_PERCENTILES_SQL,
    "order_rank_flavors": ORDER_RANK_FLAVORS_SQL,
    "customer_rolling_spend": CUSTOMER_ROLLING_SPEND_SQL,
    "segment_distinct_stats": SEGMENT_DISTINCT_STATS_SQL,
    "part_text_features": PART_TEXT_FEATURES_SQL,
    "clicks_asof_prior_view": CLICKS_ASOF_PRIOR_VIEW_SQL,
    "clicks_asof_recent_view": CLICKS_ASOF_RECENT_VIEW_SQL,
    "error_followup_counts": ERROR_FOLLOWUP_COUNTS_SQL,
    "csv_quarantine_counts": CSV_QUARANTINE_COUNTS_SQL,
}
