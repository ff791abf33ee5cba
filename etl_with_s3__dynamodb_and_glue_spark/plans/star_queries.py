"""The reference's query semantics re-expressed over the driver's
star-schema testdata (TESTDATA.md; mapping per FIXTURES.md §2:
streams→events, users/songs-dimension→customer/part).

The flagship query is the reference's full core lineage in one plan
(SURVEY.md §7 phase 1): scan → clean (dropna/dedup) → left join dim →
derive day bucket + time-of-day seconds → numeric-string regex filter →
multi-key count aggregate → per-group top-3 window. It exercises
S1/S3, P1-P8, J1, A1, W1, K1, F1-F7 — >80% of the §2 inventory.

Determinism contract (Q4, SURVEY.md §2.5): every window/top-k query
adds explicit tie-breakers, mirrored in the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cleaning import drop_null_keys, filter_not_numeric
from ..operators.windows import ranked_desc, top_k_per_group
from ..sources.readers import read_events, read_table

NUMERIC_RE_SQL = "^[0-9]+(\\.[0-9]+)?$"


def _enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared lineage prefix: events (streams-analog) cleaned, enriched
    with the customer dimension (users-analog), day bucket and Q1
    time-of-day seconds (reference glue_job.py:51-83 re-expressed).

    The dimension side is broadcast: customer is tiny relative to the
    fact at every scale factor (at 100 TB the fact grows, the dim
    broadcast still holds — exactly the case broadcast joins exist for).

    CONSTRUCTION COST (r14 optimization round): this prefix is built
    twice per timed compat-KPI execution (once cold, once warm) and
    its driver-side construction — two parquet reads re-inferring
    schemas plus ~15 py4j ``Column`` round trips for the projection —
    measured 0.35-0.6 s per call on the bench host, more than the
    queries' steady-state execution. The reads go through the schema
    memo (``sources/readers.py::read_table``) and the projection is ONE
    ``selectExpr`` round trip. The expression trees are IDENTICAL to
    the previous per-``Column`` construction (verified: optimized
    plans equal modulo expression ids; oracle hashes unchanged) —
    ``day_bucket``/``time_of_day_seconds`` are inlined here as their
    SQL forms, see functions/datetime_fns.py.
    """
    events = read_events(spark, sf_dir)
    customer = read_table(spark, sf_dir, "customer")

    facts = drop_null_keys(events, ["user_id", "ts"])
    dim = customer.select("c_custkey", "c_name", "c_mktsegment")

    joined = facts.alias("e").join(
        F.broadcast(dim.alias("c")),
        F.expr("e.user_id = c.c_custkey"),
        "left",
    )
    return joined.selectExpr(
        "date_format(e.ts, 'yyyy-MM-dd') AS date",
        "c.c_mktsegment AS segment",
        "c.c_custkey AS custkey",
        "c.c_name AS cust_name",
        "e.event_type AS event_type",
        "CAST(hour(e.ts) * 3600 + minute(e.ts) * 60 + second(e.ts) AS BIGINT)"
        " AS listen_seconds",
        "e.user_id AS user_id",
    )


_ENRICHED_SQL = f"""
    SELECT strftime(e.ts, '%Y-%m-%d')                       AS date,
           c.c_mktsegment                                   AS segment,
           c.c_custkey                                      AS custkey,
           c.c_name                                         AS cust_name,
           e.event_type                                     AS event_type,
           CAST(hour(e.ts)*3600 + minute(e.ts)*60
                + CAST(second(e.ts) AS BIGINT) AS BIGINT)   AS listen_seconds,
           e.user_id                                        AS user_id
    FROM events e
    LEFT JOIN (SELECT c_custkey, c_name, c_mktsegment FROM customer) c
      ON e.user_id = c.c_custkey
    WHERE e.user_id IS NOT NULL AND e.ts IS NOT NULL
"""


def flagship_daily_segment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference flagship: per-(day, segment) top-3 customers by event
    count — the shape of TopSongs (reference glue_job.py:86-90), with
    deterministic tie-breaking on custkey."""
    enriched = filter_not_numeric(_enriched_events(spark, sf_dir), "segment")
    counts = enriched.groupBy("date", "segment", "custkey", "cust_name").agg(
        F.count(F.lit(1)).alias("listen_count")
    )
    return top_k_per_group(
        counts,
        group_by=["date", "segment"],
        order_by=ranked_desc("listen_count", ["custkey"]),
        k=3,
    )


FLAGSHIP_SQL = f"""
WITH enriched AS ({_ENRICHED_SQL}),
filtered AS (
    SELECT * FROM enriched
    WHERE NOT regexp_matches(segment, '{NUMERIC_RE_SQL}')
),
counts AS (
    SELECT date, segment, custkey, cust_name,
           COUNT(*) AS listen_count
    FROM filtered
    GROUP BY date, segment, custkey, cust_name
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY date, segment
               ORDER BY listen_count DESC, custkey ASC) AS INTEGER) AS rank
    FROM counts
)
SELECT date, segment, custkey, cust_name, listen_count, rank
FROM ranked WHERE rank <= 3
"""


def _counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(day, segment, customer) event counts — the song_counts
    analog (reference glue_job.py:86-88), shared by the top-k queries."""
    enriched = filter_not_numeric(_enriched_events(spark, sf_dir), "segment")
    return enriched.groupBy("date", "segment", "custkey", "cust_name").agg(
        F.count(F.lit(1)).alias("listen_count")
    )


_COUNTS_SQL = f"""
    SELECT date, segment, custkey, cust_name, COUNT(*) AS listen_count
    FROM ({_ENRICHED_SQL})
    WHERE NOT regexp_matches(segment, '{NUMERIC_RE_SQL}')
    GROUP BY date, segment, custkey, cust_name
"""


def segment_kpis_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GenreKPIs analog, reference-faithful semantics (quirk Q2):
    ``unique_listeners`` is a plain count(user_id), NOT count distinct
    (reference glue_job.py:95-100 — the name says distinct, the code
    says count; golden outputs prove listen_count == unique_listeners).

    avg is computed as exact-integer-sum / count so the double result
    is bit-identical across engines.
    """
    enriched = filter_not_numeric(_enriched_events(spark, sf_dir), "segment")
    return enriched.groupBy("date", "segment").agg(
        F.count(F.lit(1)).alias("listen_count"),
        F.count("user_id").alias("unique_listeners"),
        F.sum("listen_seconds").alias("total_listening_time"),
        (F.sum("listen_seconds").cast("double") / F.count(F.lit(1))).alias(
            "avg_listening_time"
        ),
    )


SEGMENT_KPIS_COMPAT_SQL = f"""
    SELECT date, segment,
           COUNT(*)                                       AS listen_count,
           COUNT(user_id)                                 AS unique_listeners,
           CAST(SUM(listen_seconds) AS BIGINT)            AS total_listening_time,
           CAST(SUM(listen_seconds) AS DOUBLE) / COUNT(*) AS avg_listening_time
    FROM ({_ENRICHED_SQL})
    WHERE NOT regexp_matches(segment, '{NUMERIC_RE_SQL}')
    GROUP BY date, segment
"""


def segment_kpis_intended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GenreKPIs analog with the INTENDED semantics: unique listeners
    counted distinct (SURVEY.md Q2 variant)."""
    enriched = filter_not_numeric(_enriched_events(spark, sf_dir), "segment")
    return enriched.groupBy("date", "segment").agg(
        F.count(F.lit(1)).alias("listen_count"),
        F.countDistinct("user_id").alias("unique_listeners"),
        F.sum("listen_seconds").alias("total_listening_time"),
        (F.sum("listen_seconds").cast("double") / F.count(F.lit(1))).alias(
            "avg_listening_time"
        ),
    )


SEGMENT_KPIS_INTENDED_SQL = f"""
    SELECT date, segment,
           COUNT(*)                                       AS listen_count,
           COUNT(DISTINCT user_id)                        AS unique_listeners,
           CAST(SUM(listen_seconds) AS BIGINT)            AS total_listening_time,
           CAST(SUM(listen_seconds) AS DOUBLE) / COUNT(*) AS avg_listening_time
    FROM ({_ENRICHED_SQL})
    WHERE NOT regexp_matches(segment, '{NUMERIC_RE_SQL}')
    GROUP BY date, segment
"""


def top_rows_per_day_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopGenres analog, reference-faithful semantics (quirk Q3): the
    reference's 'top 5 genres per day' actually ranks per-SONG count
    rows partitioned by day only (reference glue_job.py:91-92) — the
    result carries track_id/track_name. Reproduced: top-5 customer
    rows per day."""
    return top_k_per_group(
        _counts(spark, sf_dir),
        group_by=["date"],
        order_by=ranked_desc("listen_count", ["custkey"]),
        k=5,
    )


TOP_ROWS_PER_DAY_COMPAT_SQL = f"""
WITH counts AS ({_COUNTS_SQL}),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY date
               ORDER BY listen_count DESC, custkey ASC) AS INTEGER) AS rank
    FROM counts
)
SELECT date, segment, custkey, cust_name, listen_count, rank
FROM ranked WHERE rank <= 5
"""


def top_segments_per_day_intended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopGenres analog, INTENDED semantics (SURVEY.md Q3 variant):
    rank segment-level aggregates per day, top 5."""
    enriched = filter_not_numeric(_enriched_events(spark, sf_dir), "segment")
    seg_counts = enriched.groupBy("date", "segment").agg(
        F.count(F.lit(1)).alias("listen_count")
    )
    return top_k_per_group(
        seg_counts,
        group_by=["date"],
        order_by=ranked_desc("listen_count", ["segment"]),
        k=5,
    )


TOP_SEGMENTS_PER_DAY_INTENDED_SQL = f"""
WITH seg_counts AS (
    SELECT date, segment, COUNT(*) AS listen_count
    FROM ({_ENRICHED_SQL})
    WHERE NOT regexp_matches(segment, '{NUMERIC_RE_SQL}')
    GROUP BY date, segment
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY date
               ORDER BY listen_count DESC, segment ASC) AS INTEGER) AS rank
    FROM seg_counts
)
SELECT date, segment, listen_count, rank
FROM ranked WHERE rank <= 5
"""


def ensure_serving_dataset(spark: SparkSession, sf_dir: str) -> str:
    """Build-once accessor for the SERVING copy of the per-day customer
    count table — the engine's analog of the reference's DynamoDB
    TOP_GENRES table (reference README.md:69-75; SURVEY.md §3 entry
    point 3): the batch layer lands a curated, query-optimized layout,
    consumers point-look it up.

    Layout via :func:`write_dataset`: hive-partitioned on ``date`` (the
    lookup key → partition pruning on every serve) and range-clustered
    on ``listen_count`` inside each partition (the ORDER BY key →
    row-group min/max stats line up with the top-k scan).
    """
    from ..sources.dataset import ensure_derived_dataset, write_dataset

    def build(path: str) -> None:
        write_dataset(
            _counts(spark, sf_dir),
            path,
            partition_by=["date"],
            cluster_by=["listen_count"],
            target_files=8,
        )

    return ensure_derived_dataset(
        "serving_counts",
        [f"{sf_dir}/events.parquet", f"{sf_dir}/customer.parquet"],
        build,
    )


def serving_top_rows_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's only consumer-facing read path (README.md:69-75:
    PartiQL ``SELECT * FROM TOP_GENRES WHERE date=… ORDER BY
    listen_count DESC LIMIT 5``) over the written serving dataset: a
    single-partition point lookup + top-5.

    The date literal comes from a partition-directory listing — a
    metadata operation (what a catalog or DynamoDB key schema gives the
    reference's consumer), not a data scan — so the filter is a literal
    at plan time and partition pruning fires (asserted in
    tests/test_plan_shapes.py). The scan then reads ONE partition
    regardless of how many days the table holds; at 100 TB the serve
    cost is bounded by a day's rows, not the table.
    """
    import os

    path = ensure_serving_dataset(spark, sf_dir)
    days = sorted(
        d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("date=")
    )
    latest = days[-1]
    served = spark.read.parquet(path)
    return (
        served.filter(F.col("date") == latest)
        .orderBy(F.desc("listen_count"), F.asc("custkey"))
        .limit(5)
        .select(
            F.col("date").cast("string").alias("date"),
            "segment",
            "custkey",
            "cust_name",
            "listen_count",
        )
    )


SERVING_TOP_ROWS_LOOKUP_SQL = f"""
WITH counts AS ({_COUNTS_SQL})
SELECT date, segment, custkey, cust_name, listen_count
FROM counts
WHERE date = (SELECT max(date) FROM counts)
ORDER BY listen_count DESC, custkey ASC
LIMIT 5
"""

def published_segment_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KPI table served THROUGH the write-audit-publish layer
    (sources/publish.py): the batch layer publishes the segment KPIs
    as an audited, atomically-promoted snapshot; the consumer resolves
    the `_CURRENT` pointer and reads an immutable version directory —
    never a torn or unaudited table. The oracle is the KPI SQL
    itself: the driver hash-check proves the WAP round-trip is
    byte-faithful. Build-once per (sf_dir, input fingerprint), like
    every derived-dataset accessor."""
    from ..sources.dataset import ensure_derived_dataset
    from ..sources.expectations import Expectation
    from ..sources.publish import publish_snapshot, read_published

    def build(path: str) -> None:
        publish_snapshot(
            segment_kpis_compat(spark, sf_dir),
            path,
            expectations=[
                Expectation("count_positive", F.col("listen_count") > 0),
                Expectation("segment_not_null", F.col("segment").isNotNull()),
            ],
        )

    root = ensure_derived_dataset(
        "published_kpis",
        [f"{sf_dir}/events.parquet", f"{sf_dir}/customer.parquet"],
        build,
    )
    return read_published(spark, root)


QUERIES = {
    "flagship_daily_segment_topk": flagship_daily_segment_topk,
    "serving_top_rows_lookup": serving_top_rows_lookup,
    "published_segment_kpis": published_segment_kpis,
    "segment_kpis_compat": segment_kpis_compat,
    "segment_kpis_intended": segment_kpis_intended,
    "top_rows_per_day_compat": top_rows_per_day_compat,
    "top_segments_per_day_intended": top_segments_per_day_intended,
}

ORACLE = {
    "flagship_daily_segment_topk": FLAGSHIP_SQL,
    "serving_top_rows_lookup": SERVING_TOP_ROWS_LOOKUP_SQL,
    "published_segment_kpis": SEGMENT_KPIS_COMPAT_SQL,
    "segment_kpis_compat": SEGMENT_KPIS_COMPAT_SQL,
    "segment_kpis_intended": SEGMENT_KPIS_INTENDED_SQL,
    "top_rows_per_day_compat": TOP_ROWS_PER_DAY_COMPAT_SQL,
    "top_segments_per_day_intended": TOP_SEGMENTS_PER_DAY_INTENDED_SQL,
}
