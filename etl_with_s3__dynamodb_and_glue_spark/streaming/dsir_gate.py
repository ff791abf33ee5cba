"""Streaming DSIR admission gate: importance-score every arriving
batch against a persisted ratio store and land per-doc admit/reject
decisions — the data-SELECTION counterpart of the decontamination
gate (``decontam_gate.py``), completing the DSIR family's
offline/serving/streaming split (estimate once →
``importance.build_dsir_store``; score arrivals →
``importance.dsir_score_with_store``; THIS module wires scoring into
``foreachBatch`` with the shared replay discipline).

Why a store-backed gate and not inline weights: inline
``dsir_log_weights`` re-estimates the raw histogram from whatever
frame it is handed, so a micro-batch would be scored against ITS OWN
distribution — tiny-sample ratios that drift batch to batch. The
store pins both histograms to the reference corpus, which is the DSIR
contract (Xie et al. 2023: weights are target-vs-RAW-CORPUS
likelihood ratios) and what makes per-batch cost O(batch) + a
broadcast of B rows.

Scale shape: per batch, one explode + map-side-combined groupBy over
the batch's own grams, one ≤B-row broadcast join, one landing write —
identical cost model to the near-dup ingest and decontamination
gates. Exactly-once landing via the run-scoped replay marker
(``marker.py``): redelivered batch ids are no-ops within a run, and a
cross-run id regression fails loudly instead of silently overwriting
a prior run's decisions.

Reference scope: the reference repo has no streaming or
data-selection surface (SURVEY §2.8 extension family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import importance
from .marker import is_replay, start_available_now, write_marker


def score_batch(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    decisions_dir: str,
    log_weight_min: float = 0.0,
    buckets: int = importance.B_BUCKETS,
    run_id: str = "",
) -> None:
    """Score one batch against the ratio store and land one decision
    row per arriving doc: (doc_id, n_feats, log_weight, admitted)
    with ``admitted = log_weight >= log_weight_min``. Runs identically
    under foreachBatch and as a batch backfill. Every doc lands a
    decision — the store is dense and NULL text coalesces to '' in
    featurization, so the left join below is belt-and-braces, not a
    correctness dependence.

    The landed log_weight is ROUNDED to 6 dp and the admit cut
    compares the rounded value — the same discipline as
    ``doc_dsir_sample``'s sort key: a doc whose raw weight sits within
    float-summation-order noise of the threshold must get the same
    verdict from every engine/replay that recomputes the sum in a
    different order (the DuckDB oracle twin replays this exactly)."""
    if is_replay(
        decisions_dir,
        run_id,
        batch_id,
        "resume from the original checkpoint, or point at a fresh "
        "decisions dir",
    ):
        return
    scored = importance.dsir_score_with_store(
        batch, store_path, buckets=buckets
    )
    decisions = (
        batch.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0).cast("long")).alias("n_feats"),
            F.round("log_weight", 6).alias("log_weight"),
            F.coalesce(
                F.round("log_weight", 6) >= log_weight_min, F.lit(False)
            ).alias("admitted"),
        )
    )
    decisions.write.mode("overwrite").parquet(
        f"{decisions_dir}/batch_id={batch_id}"
    )
    write_marker(decisions_dir, run_id, batch_id)


def dsir_gate_stream(
    arrivals: DataFrame,
    store_path: str,
    decisions_dir: str,
    checkpoint_dir: str,
    log_weight_min: float = 0.0,
    buckets: int = importance.B_BUCKETS,
) -> StreamingQuery:
    """Run the gate over a document stream (columns: doc_id, text, …)
    against a prebuilt ratio store (``importance.build_dsir_store``)."""

    def handle(batch: DataFrame, batch_id: int, run_id: str) -> None:
        score_batch(
            batch,
            batch_id,
            store_path,
            decisions_dir,
            log_weight_min=log_weight_min,
            buckets=buckets,
            run_id=run_id,
        )

    return start_available_now(arrivals, checkpoint_dir, handle)
