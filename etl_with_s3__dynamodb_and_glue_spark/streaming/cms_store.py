"""Incremental frequency-sketch maintenance over a stream — the
Count-Min twin of the HLL store (``streaming/sketches.py``): the
distinct-count store answers "how many users", this one answers "how
often does key X occur", both in constant state.

Exact per-key counts over an unbounded keyed stream need state
proportional to the key space; a CMS is a fixed ``d × w`` counter
matrix whose cells are plain sums, so per-batch sketches MERGE into
the persisted store by cell-wise addition (``operators/cms.py`` —
the build hashes each distinct key once, the portable md5-digit
construction, one-sided error). The store is ≤ ``d·w`` rows forever,
answers point-frequency queries for any key at any time, and the raw
stream is touched once, per batch, at arrival — the heavy-hitter
metrics-store pattern of a 100 TB token/event firehose.

Same commit protocol as the HLL twin (``publishing.fold_into_published``):
each merge publishes a new WAP version with the run-scoped replay
marker in its metadata, so marker and data move atomically — cell
addition is not idempotent, so a replayed batch must not merge twice,
and a regressed batch_id from a different run fails loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cms import D_ROWS, W_CELLS, cms_build, cms_estimate
from ..sources.publish import read_published
from .marker import start_available_now
from .publishing import fold_into_published


def merge_cms_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    key_col: str,
    d: int = D_ROWS,
    w: int = W_CELLS,
    batch_id: int | None = None,
    run_id: str = "",
) -> int | None:
    """Sketch one batch's key instances and merge cell-wise into the
    published store. Works for the first batch (empty store) and for
    batch backfills alike; the rewrite is O(d·w), never O(stream).
    Returns the published version, or None for a skipped replay."""
    return fold_into_published(
        cms_build(batch, key_col, d=d, w=w),
        store_dir,
        ["j", "pos"],
        [F.sum("n").cast("long").alias("n")],
        batch_id=batch_id,
        run_id=run_id,
    )


def cms_store_stream(
    keyed: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    d: int = D_ROWS,
    w: int = W_CELLS,
) -> StreamingQuery:
    """Maintain the frequency-sketch store from a keyed stream: each
    micro-batch sketches only its own rows; the store absorbs them by
    cell-wise sum."""

    def handle(batch: DataFrame, batch_id: int, run_id: str) -> None:
        merge_cms_batch(
            batch.sparkSession,
            batch,
            store_dir,
            key_col,
            d=d,
            w=w,
            batch_id=batch_id,
            run_id=run_id,
        )

    return start_available_now(keyed, checkpoint_dir, handle)


def estimate_counts(
    spark: SparkSession,
    store_dir: str,
    keys: DataFrame,
    key_col: str,
    d: int = D_ROWS,
    w: int = W_CELLS,
) -> DataFrame:
    """Point-frequency estimates for ``keys`` against the store — no
    stream data touched, the sketch broadcasts (it is KBs by
    construction). Estimates never undercount the true stream total."""
    sketch = read_published(spark, store_dir)
    return cms_estimate(keys, key_col, sketch, d=d, w=w)
