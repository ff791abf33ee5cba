"""Incremental sketch maintenance over a stream — the streaming twin
of ``plans.functions_surface.weekly_user_sketch_rollup``.

Exact distinct counts cannot be maintained incrementally (state would
have to hold every id ever seen). HLL sketches can: each micro-batch
aggregates its NEW events into per-day sketches, which merge into the
persisted store by sketch union — constant-size state per day, and the
store answers distinct-count questions at any grain, any time, without
re-reading events. This is the metrics-store pattern a 100 TB ingest
pipeline runs: the raw firehose is touched once, per batch, at
arrival.

``foreachBatch`` is the right harness (not a streaming aggregation):
the store is a queryable table between batches, merge semantics are by
sketch-union not row-overwrite, and the same code path serves batch
backfills. The store itself is metrics-sized (one row per day: a date,
a few-KB sketch, a count) so the fold-and-publish cycle
(``publishing.fold_into_published`` — WAP versions, replay guard in
the published metadata) costs nothing next to the batch scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.publish import read_published
from .marker import start_available_now
from .publishing import fold_into_published


def _day_sketches(events: DataFrame) -> DataFrame:
    return events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )


def merge_day_sketches(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
    run_id: str = "",
) -> int | None:
    """Merge one batch's per-day sketches into the published store:
    union-by-day of (existing ∪ batch) via ``hll_union_agg``. Works
    for the first batch (empty store) and for backfills alike. HLL
    union is idempotent but the ``n_events`` sum is not, so a replayed
    batch is skipped (``publishing.fold_into_published``). Returns the
    published version, or None for a skipped replay."""
    return fold_into_published(
        _day_sketches(batch),
        store_dir,
        ["day"],
        [
            F.hll_union_agg("user_sketch").alias("user_sketch"),
            F.sum("n_events").alias("n_events"),
        ],
        batch_id=batch_id,
        run_id=run_id,
    )


def sketch_store_stream(
    events: DataFrame, store_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain the per-day user-sketch store from an events stream
    (columns: ts, user_id). Each micro-batch touches only its own
    rows; the store absorbs them by sketch union."""

    def handle(batch: DataFrame, batch_id: int, run_id: str) -> None:
        merge_day_sketches(
            batch.sparkSession,
            batch,
            store_dir,
            batch_id=batch_id,
            run_id=run_id,
        )

    return start_available_now(events, checkpoint_dir, handle)


def estimate_distinct_users(
    spark: SparkSession, store_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Read the store and answer: distinct users per day, and the
    merged total across all days — no event data touched."""
    store = read_published(spark, store_dir)
    per_day = store.select(
        "day",
        F.hll_sketch_estimate("user_sketch").cast("long").alias("est_users"),
        "n_events",
    )
    total = store.agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch"))
        .cast("long")
        .alias("est_users_total")
    )
    return per_day, total
