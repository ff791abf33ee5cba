"""Streaming SCD-1 state maintenance: a keyed state table kept
current from an update stream — the streaming twin of
``operators/merge.py::scd1_merge`` and the batch form of the
reference's continuously-upserted DynamoDB tables (reference
glue_job.py:110-132 overwrites items by key every run).

Design for 100 TB state:

- The store is hash-bucket partitioned (``bucket =
  pmod(xxhash64(key), n_buckets)`` — a pure function of the key), so
  a micro-batch only ever touches the buckets its keys land in: the
  base side is read with a partition FILTER (bucket pruning at the
  parquet source) and rewritten with dynamic partition overwrite.
  Per-batch cost scales with touched-bucket volume, not state size.
- No batch-id marker and no versioned publish, unlike the sketch store
  (streaming/publishing.py): latest-wins SCD-1 merge is IDEMPOTENT —
  replaying a batch merges the same updates to the same result, and a
  crash mid-overwrite (some buckets new, some old) heals on the
  at-least-once redelivery. Idempotent merge semantics buy crash
  safety that additive merges (n_events sums) have to engineer.
- ``ordering_col`` decides among repeated keys within one batch AND
  across replays; it must be provided when updates can repeat a key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import apply_changes, scd1_merge
from .marker import start_available_now

DEFAULT_BUCKETS = 16


def _with_bucket(df: DataFrame, key_cols: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast(
            "int"
        ),
    )


def merge_state(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    key_cols: list[str],
    ordering_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    op_col: str | None = None,
) -> None:
    """Merge one micro-batch of updates into the persisted state.

    Reads ONLY the buckets the batch's keys hash into (partition
    pruning on the scan) and rewrites ONLY those buckets (dynamic
    partition overwrite). The merge itself is the single-shuffle
    argmax scd1_merge; with ``op_col`` the batch is a CDC op log
    ('U'/'D') folded via apply_changes instead — latest op decides,
    tombstones drop the key from its bucket. Both merges are
    idempotent, so replay/crash safety is unchanged.
    """

    def _merge(base: DataFrame, b: DataFrame) -> DataFrame:
        if op_col is None:
            return scd1_merge(
                base, b, key_cols=key_cols, ordering_col=ordering_col
            ).drop("change_type")
        return apply_changes(
            base, b, key_cols=key_cols, ordering_col=ordering_col, op_col=op_col
        ).drop("change_type")

    batch = _with_bucket(batch, key_cols, n_buckets)
    if not os.path.isdir(store_dir):
        # first batch bootstraps the store: latest version per key
        empty_base = batch.drop(op_col).limit(0) if op_col else batch.limit(0)
        first = _merge(empty_base, batch)
        (
            first.repartition("bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(store_dir)
        )
        return
    touched = [
        r.bucket for r in batch.select("bucket").distinct().collect()
    ]  # bounded by n_buckets — a scalar list, not data
    base = spark.read.parquet(store_dir).filter(F.col("bucket").isin(touched))
    merged = _merge(base, batch)
    if op_col is not None:
        # dynamic overwrite only replaces buckets it produces rows
        # for — a bucket whose every key was tombstoned would silently
        # keep its old file. Find emptied buckets (bounded by
        # n_buckets) and remove their directories after the write.
        from pyspark.storagelevel import StorageLevel

        merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
        surviving = {
            r.bucket for r in merged.select("bucket").distinct().collect()
        }
    (
        merged.repartition("bucket")
        .write.partitionBy("bucket")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(store_dir)
    )
    if op_col is not None:
        import shutil

        for b in set(touched) - surviving:
            shutil.rmtree(
                os.path.join(store_dir, f"bucket={b}"), ignore_errors=True
            )
        merged.unpersist()


def read_state(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current state table (all buckets)."""
    return spark.read.parquet(store_dir).drop("bucket")


def state_table_stream(
    updates: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ordering_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    op_col: str | None = None,
) -> StreamingQuery:
    """Maintain the state table from an update stream via foreachBatch:
    between batches the store is a plain queryable parquet table, and
    the same ``merge_state`` serves batch backfills. With ``op_col``
    the stream is a CDC op log (deletes included)."""

    def handle(batch: DataFrame, batch_id: int, _run_id: str) -> None:
        merge_state(
            batch.sparkSession,
            batch,
            store_dir,
            key_cols=key_cols,
            ordering_col=ordering_col,
            n_buckets=n_buckets,
            op_col=op_col,
        )

    return start_available_now(updates, checkpoint_dir, handle)
