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
a few-KB sketch, a count) so the read-merge-rewrite cycle costs
nothing next to the batch scan; the merged rows pass through the
driver only because parquet cannot be atomically self-overwritten —
same trade as the IVF centroid load (similarity.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from .genstore import last_swapped_batch_id
from .genstore import recover_store as _recover_store
from .genstore import swap_in_generation
from .marker import is_replay, start_available_now

SKETCH_SCHEMA = "day date, user_sketch binary, n_events long"


def _day_sketches(events: DataFrame) -> DataFrame:
    return events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )


def last_merged_batch_id(store_dir: str) -> int | None:
    """Heal-first read (a crash mid-swap leaves the marker in
    ``<store>.old``) — NOT pure: delegates to
    ``genstore.last_swapped_batch_id``, which mutates the store
    directory and assumes the single-writer contract; readonly
    pollers against a live stream should use ``marker.last_batch_id``
    (see the genstore docstring)."""
    return last_swapped_batch_id(store_dir)


def merge_day_sketches(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
    run_id: str = "",
) -> None:
    """Merge one batch's per-day sketches into the persisted store:
    union-by-day of (existing ∪ batch) via ``hll_union_agg``. Works
    for the first batch (empty store) and for backfills alike.

    Replay-safe under foreachBatch's at-least-once contract: the store
    records the last merged (run_id, batch_id) — the shared
    ``streaming/marker.py`` contract, written INSIDE the swapped dir so
    marker and data move atomically together (there is no lost-marker
    window at all, unlike the per-batch-subtree gates) — and a batch
    at or below it from the SAME run is skipped: HLL union is
    idempotent but the ``n_events`` sum is not, so a replayed batch
    must not merge twice, and a regressed batch_id from a DIFFERENT
    run (fresh checkpoint renumbering from 0 against a store another
    run built) fails loudly instead of silently dropping the merge.
    Crash-safe: the old generation is set aside by rename and deleted
    only after the new one is promoted; every intermediate state is
    recoverable (:func:`_recover_store`), and the store is never
    missing.
    """
    _recover_store(store_dir)
    if batch_id is not None and is_replay(
        store_dir,
        run_id,
        batch_id,
        "resume from the original checkpoint, or start a fresh "
        "store_dir",
    ):
        return
    incoming = _day_sketches(batch)
    if os.path.isdir(store_dir) and any(
        f.endswith(".parquet") for f in os.listdir(store_dir)
    ):
        existing = spark.read.schema(SKETCH_SCHEMA).parquet(store_dir)
        merged = (
            existing.unionByName(incoming)
            .groupBy("day")
            .agg(
                F.hll_union_agg("user_sketch").alias("user_sketch"),
                F.sum("n_events").alias("n_events"),
            )
        )
    else:
        merged = incoming
    swap_in_generation(merged, store_dir, run_id=run_id, batch_id=batch_id)


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
    _recover_store(store_dir)
    store = spark.read.schema(SKETCH_SCHEMA).parquet(store_dir)
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
