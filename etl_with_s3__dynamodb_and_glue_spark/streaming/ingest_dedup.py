"""Streaming near-dup ingest gate: the production loop of incremental
dedup.

Each arriving micro-batch is decided against a PERSISTED MinHash
signature store (``operators/dedup.py::minhash_near_dups_vs_store`` is
the per-batch matcher), the decisions land as a queryable log, and the
NOVEL documents' signatures are appended so later batches dedup
against them too. The raw corpus text is never re-read: per-batch work
is the batch's tokenize + signatures + one band equi-join against the
store — O(batch), not O(corpus).

Idempotence layout: both the decision log and the store's signature
rows land under per-batch subdirectories (``batch_id=N``) written with
overwrite. foreachBatch is at-least-once; a replayed batch rewrites
its OWN subdirectory instead of appending duplicates, and the matcher
reads the store with ``batch_id < N`` (partition-pruned), so a
half-landed previous attempt of batch N can never match against
itself. The ``_last_batch_id`` marker only short-circuits the
recompute when a batch is already fully landed, and it is SCOPED TO A
RUN (same contract as ``vector_ingest``, ADVICE r6): foreachBatch ids
restart at 0 under a fresh checkpoint, so a regressing batch_id from a
DIFFERENT run fails loudly instead of silently skipping arrivals or
clobbering the old run's same-numbered store generation.

Scope: this gate dedups arrivals AGAINST THE STORE. Within-batch
self-dedup (two near-identical docs arriving in one batch) is the
existing self-join operator (``minhash_near_dups``) applied to the
batch — compose both when the ingest source can contain intra-batch
duplicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    arrivals_decision,
    corpus_signature_frame,
    minhash_near_dups_vs_store,
)
from .marker import is_replay, start_available_now, write_marker

SEED_BATCH_ID = -1


def _store_generations(store_dir: str) -> list[int]:
    if not os.path.isdir(store_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(store_dir)
        if d.startswith("batch_id=")
    )


def seed_store(docs: DataFrame, store_dir: str, num_hashes: int = 64) -> None:
    """Bootstrap the store from an existing corpus (generation
    ``batch_id=-1``): sign once, match forever."""
    corpus_signature_frame(docs, num_hashes=num_hashes).write.mode(
        "overwrite"
    ).option("compression", "zstd").parquet(
        f"{store_dir}/batch_id={SEED_BATCH_ID}"
    )


def ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    decisions_dir: str,
    threshold: float = 0.9,
    num_hashes: int = 64,
    run_id: str = "",
) -> None:
    """Decide one batch against all earlier store generations, land
    the decision log and the novel docs' signatures. Runs identically
    under foreachBatch and as a batch backfill.

    ``run_id`` scopes the replay short-circuit (the streaming wrapper
    passes its checkpoint path): a regressed batch_id WITHIN a run is
    an at-least-once replay → skipped; across runs it means a fresh
    checkpoint re-numbering from 0 against a store another run built →
    raises instead of silently dropping (or clobbering generation N)."""
    if is_replay(
        store_dir,
        run_id,
        batch_id,
        "resume from the original checkpoint, or seed a fresh store_dir",
    ):
        return
    spark = batch.sparkSession
    batch = batch.persist()
    try:
        prior = [g for g in _store_generations(store_dir) if g < batch_id]
        if prior:
            store = spark.read.parquet(
                *[f"{store_dir}/batch_id={g}" for g in prior]
            )
            pairs = minhash_near_dups_vs_store(
                batch, store, threshold=threshold, num_hashes=num_hashes
            )
            decisions = arrivals_decision(batch, pairs)
        else:
            decisions = batch.select(
                "doc_id",
                F.lit(False).alias("is_dup"),
                F.lit(None).cast("long").alias("dup_of"),
                F.lit(0).cast("long").alias("n_matches"),
            )
        decisions.write.mode("overwrite").parquet(
            f"{decisions_dir}/batch_id={batch_id}"
        )
        landed = spark.read.parquet(f"{decisions_dir}/batch_id={batch_id}")
        novel_ids = landed.filter(~F.col("is_dup")).select("doc_id")
        novel = batch.join(novel_ids, "doc_id")
        corpus_signature_frame(novel, num_hashes=num_hashes).write.mode(
            "overwrite"
        ).option("compression", "zstd").parquet(
            f"{store_dir}/batch_id={batch_id}"
        )
        write_marker(store_dir, run_id, batch_id)
    finally:
        batch.unpersist()


def near_dup_ingest_stream(
    arrivals: DataFrame,
    store_dir: str,
    decisions_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    num_hashes: int = 64,
) -> StreamingQuery:
    """Run the ingest gate over a document stream (columns: doc_id,
    text, ...). Each micro-batch is decided against every earlier
    generation of the store and extends it with its novel docs."""

    def handle(batch: DataFrame, batch_id: int, run_id: str) -> None:
        ingest_batch(
            batch,
            batch_id,
            store_dir,
            decisions_dir,
            threshold=threshold,
            num_hashes=num_hashes,
            run_id=run_id,
        )

    return start_available_now(arrivals, checkpoint_dir, handle)
