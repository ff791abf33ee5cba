"""Streaming substring-decontamination gate: screen arriving documents
against a PERSISTED eval anchor store before they enter the training
corpus — the production loop of span-level benchmark decontamination.

Per micro-batch: the batch's verbatim overlaps with the eval suite are
extracted span-by-span (``operators/dedup.py::duplicate_spans_vs_store``
— the batch's own anchor pass plus a broadcast of the stored 8-byte
gram hashes; the eval text itself is hashed ONCE at
``build_anchor_store`` time and never re-read), and two artifacts land
per batch:

- a FINDINGS log (doc_id, span_start, span_len, span_text) — the
  evidence trail an audit reads;
- a DECISIONS log (doc_id, contaminated, n_spans, n_tokens_leaked) —
  one row per arriving doc, clean docs included, which is what the
  admission step joins against (and what
  ``dedup.remove_duplicate_spans`` consumes when scrub-and-admit is
  preferred over reject). ``n_tokens_leaked`` is the size of the
  UNION of the doc's span intervals (spans can overlap — see
  :func:`tokens_leaked`), i.e. exactly the token count the scrub
  transform would cut.

Idempotence layout (the house ``ingest_dedup`` discipline): both logs
land under per-batch subdirectories (``batch_id=N``) written with
overwrite — foreachBatch is at-least-once and a replayed batch
rewrites its OWN subtree. The ``_last_batch_id`` marker is SCOPED TO A
RUN (checkpoint path): a regressed batch_id within a run short-circuits
as a replay; across runs it fails loudly (fresh-checkpoint
re-numbering would silently skip arrivals). Unlike the near-dup ingest
gate the store is STATIC — the eval suite does not grow with arrivals
— so batches are independent and the gate is embarrassingly
replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import duplicate_spans_vs_store
from .marker import is_replay, start_available_now, write_marker


def tokens_leaked(findings: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc leaked-token accounting over a span findings table:
    (doc_id, n_spans, n_tokens_leaked) where n_tokens_leaked is the
    size of the UNION of span intervals — spans from non-consecutive
    anchors closer than min_tokens apart overlap (see
    ``dedup.duplicate_spans``), and a plain SUM(span_len) would count
    the shared tokens twice. Standard sweep: a token index is covered
    iff it falls past every earlier span's running max end; windows run
    per doc over findings rows only (tiny next to the corpus)."""
    w = (
        Window.partitionBy(id_col)
        .orderBy("span_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    span_end = F.col("span_start") + F.col("span_len")
    covered_to = F.max(span_end).over(w)
    contrib = F.greatest(
        span_end - F.greatest("span_start", F.coalesce(covered_to, F.lit(0))),
        F.lit(0),
    )
    return (
        findings.withColumn("_contrib", contrib)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("_contrib").alias("n_tokens_leaked"),
        )
    )


def screen_batch(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    findings_dir: str,
    decisions_dir: str,
    min_tokens: int = 8,
    run_id: str = "",
) -> None:
    """Screen one batch against the anchor store, land findings +
    per-doc decisions. Runs identically under foreachBatch and as a
    batch backfill."""
    if is_replay(
        findings_dir,
        run_id,
        batch_id,
        "resume from the original checkpoint, or point at fresh "
        "findings/decisions dirs",
    ):
        return
    batch = batch.persist()
    try:
        spans = duplicate_spans_vs_store(
            batch, store_path, min_tokens=min_tokens
        )
        spans.write.mode("overwrite").parquet(
            f"{findings_dir}/batch_id={batch_id}"
        )
        spark = batch.sparkSession
        landed = spark.read.parquet(f"{findings_dir}/batch_id={batch_id}")
        per_doc = tokens_leaked(landed)
        decisions = (
            batch.select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_spans") > 0, F.lit(False)).alias(
                    "contaminated"
                ),
                F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
                F.coalesce("n_tokens_leaked", F.lit(0))
                .cast("long")
                .alias("n_tokens_leaked"),
            )
        )
        decisions.write.mode("overwrite").parquet(
            f"{decisions_dir}/batch_id={batch_id}"
        )
        write_marker(findings_dir, run_id, batch_id)
    finally:
        batch.unpersist()


def decontam_gate_stream(
    arrivals: DataFrame,
    store_path: str,
    findings_dir: str,
    decisions_dir: str,
    checkpoint_dir: str,
    min_tokens: int = 8,
) -> StreamingQuery:
    """Run the gate over a document stream (columns: doc_id, text, …)
    against a prebuilt anchor store (``dedup.build_anchor_store``)."""

    def handle(batch: DataFrame, batch_id: int, run_id: str) -> None:
        screen_batch(
            batch,
            batch_id,
            store_path,
            findings_dir,
            decisions_dir,
            min_tokens=min_tokens,
            run_id=run_id,
        )

    return start_available_now(arrivals, checkpoint_dir, handle)
