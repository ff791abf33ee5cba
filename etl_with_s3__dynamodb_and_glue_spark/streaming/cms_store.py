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

Same store discipline as the HLL twin: generation swap by
rename-aside (crash-recoverable at every intermediate state), and the
shared run-scoped replay marker written INSIDE the swapped dir so
marker and data move atomically — cell addition is not idempotent, so
a replayed batch must not merge twice, and a regressed batch_id from
a different run fails loudly (``streaming/marker.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cms import D_ROWS, W_CELLS, cms_build, cms_estimate
from .genstore import last_swapped_batch_id
from .genstore import recover_store as _recover_store
from .genstore import swap_in_generation
from .marker import is_replay, start_available_now

CMS_SCHEMA = "j int, pos int, n long"


def last_merged_batch_id(store_dir: str) -> int | None:
    """Heal-first read (a crash mid-swap leaves the marker in
    ``<store>.old``) — NOT pure: delegates to
    ``genstore.last_swapped_batch_id``, which mutates the store
    directory and assumes the single-writer contract; readonly
    pollers against a live stream should use ``marker.last_batch_id``
    (see the genstore docstring)."""
    return last_swapped_batch_id(store_dir)


def merge_cms_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    key_col: str,
    d: int = D_ROWS,
    w: int = W_CELLS,
    batch_id: int | None = None,
    run_id: str = "",
) -> None:
    """Sketch one batch's key instances and merge cell-wise into the
    persisted store. Works for the first batch (empty store) and for
    batch backfills alike; the rewrite is O(d·w), never O(stream)."""
    _recover_store(store_dir)
    if batch_id is not None and is_replay(
        store_dir,
        run_id,
        batch_id,
        "resume from the original checkpoint, or start a fresh "
        "store_dir",
    ):
        return
    incoming = cms_build(batch, key_col, d=d, w=w)
    if os.path.isdir(store_dir) and any(
        f.endswith(".parquet") for f in os.listdir(store_dir)
    ):
        existing = spark.read.schema(CMS_SCHEMA).parquet(store_dir)
        merged = (
            existing.unionByName(incoming)
            .groupBy("j", "pos")
            .agg(F.sum("n").cast("long").alias("n"))
        )
    else:
        merged = incoming
    swap_in_generation(merged, store_dir, run_id=run_id, batch_id=batch_id)


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
    _recover_store(store_dir)
    sketch = spark.read.schema(CMS_SCHEMA).parquet(store_dir)
    return cms_estimate(keys, key_col, sketch, d=d, w=w)
