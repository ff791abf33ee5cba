"""Streaming vector ingest: embed arriving documents and extend the
serving ANN index — the continuous loop every retrieval deployment
runs over its document stream.

Per micro-batch: the batch's texts go through the batched inference
boundary (``operators/embedding_gen.embed_texts``), the vectors are
assigned to the FIXED coarse-quantizer centroids
(``similarity.ivf_assign`` — the append-without-retrain contract), and
the assignments land in the index's cluster-partitioned layout.
Per-batch cost = batch inference + one argmin matmul; the quantizer
never re-fits and the existing corpus is never re-read.

Idempotence layout (the ``ingest_dedup`` discipline): each batch's
assignments land under ``assignments/batch_id=N`` (sub-partitioned by
``cluster``) with overwrite — foreachBatch is at-least-once, and a
replayed batch rewrites its OWN subtree instead of duplicating rows.
A ``_last_batch_id`` marker short-circuits fully-landed batches, and
it is SCOPED TO A RUN (the checkpoint location): foreachBatch ids
restart at 0 under a fresh checkpoint, so an unscoped ``batch_id <=
last`` skip would silently drop new arrivals (and landing them anyway
would clobber the old run's same-numbered subtree). A regressing
batch_id from a DIFFERENT run therefore fails loudly instead of
returning — reuse the original checkpoint to resume, or point a new
run at a fresh ``index_dir``. The seed corpus is generation
``batch_id=-1``, so batch and streaming writes share one schema and
``load_vector_index`` is a single partitioned read — probe pruning
keys on the ``cluster`` partition column exactly as for a static
index, and the extra ``batch_id`` column doubles as ingestion
provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.embedding_gen import embed_texts
from ..operators.similarity import (
    IvfIndex,
    build_ivf_index,
    ivf_assign,
    load_ivf_index,
)
from .marker import is_replay, start_available_now, write_marker

SEED_BATCH_ID = -1


def seed_index(
    docs: DataFrame,
    index_dir: str,
    n_clusters: int = 8,
    embedder=None,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Bootstrap: embed the existing corpus, fit the coarse quantizer
    once, land centroids + generation ``batch_id=-1`` assignments
    (re-seeding replaces every landed generation)."""
    emb = embed_texts(
        docs, embedder=embedder, id_col=id_col, text_col=text_col, dim=dim
    )
    index = build_ivf_index(
        emb, id_col=id_col, vec_col="embedding", n_clusters=n_clusters
    )
    IvfIndex(
        index.centers,
        index.assignments.withColumn("batch_id", F.lit(SEED_BATCH_ID)),
    ).write(index_dir)


# the whole index — seed generation plus every ingested batch — is one
# partitioned scan (batch_id, cluster are partition columns; probes
# prune on cluster)
load_vector_index = load_ivf_index


def ingest_vector_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    embedder=None,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str = "",
) -> None:
    """Embed + assign + land one batch. Runs identically under
    foreachBatch and as a batch backfill.

    ``run_id`` scopes the replay short-circuit (the streaming wrapper
    passes its checkpoint path). A batch_id that regresses WITHIN a run
    is an at-least-once replay of a landed batch → skipped; one that
    regresses ACROSS runs means a fresh checkpoint is re-numbering from
    0 against an index another run built → raises instead of silently
    skipping (or clobbering the same-numbered subtree)."""
    if is_replay(
        index_dir,
        run_id,
        batch_id,
        "a restart with a fresh checkpoint would drop or clobber "
        "batches — resume from the original checkpoint, or seed a "
        "fresh index_dir",
    ):
        return
    spark = batch.sparkSession
    index = load_vector_index(spark, index_dir)
    emb = embed_texts(
        batch, embedder=embedder, id_col=id_col, text_col=text_col, dim=dim
    )
    assigned = ivf_assign(index, emb, id_col=id_col, vec_col="embedding")
    (
        assigned.write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{index_dir}/assignments/batch_id={batch_id}")
    )
    write_marker(index_dir, run_id, batch_id)


def vector_ingest_stream(
    arrivals: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    embedder=None,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Run the ingest loop over a document stream (columns: doc_id,
    text, ...) against a seeded index."""

    def handle(batch: DataFrame, batch_id: int, run_id: str) -> None:
        ingest_vector_batch(
            batch,
            batch_id,
            index_dir,
            embedder=embedder,
            dim=dim,
            id_col=id_col,
            text_col=text_col,
            run_id=run_id,
        )

    return start_available_now(arrivals, checkpoint_dir, handle)
