"""Streaming rollup → WAP-published snapshots: each micro-batch folds
its partial aggregates into the published daily rollup and promotes a
NEW snapshot version atomically — downstream readers always see a
complete, audited table, never a half-merged one.

This closes the loop between three pieces that exist separately:

- mergeable partial aggregates (plans/event_time.py::
  events_daily_rollup_incremental — fold = union + re-aggregate,
  raw history never re-read);
- atomic snapshot promotion (sources/publish.py — readers resolve a
  pointer to an immutable version directory);
- foreachBatch's at-least-once contract, made exactly-once for the
  non-idempotent count/sum merge by recording the folded (run_id,
  batch_id) in the snapshot's metadata: marker and data promote in
  the SAME pointer swap, so a replayed batch sees itself already
  folded and skips. Same run-scoped guard as the sketch stores
  (streaming/marker.py's contract — a regressed batch_id from a
  DIFFERENT run means a fresh checkpoint renumbering from 0 and
  fails loudly; a legacy snapshot without a run_id skips only a
  replay AT the folded id and raises below it), but the WAP layer
  supplies the atomicity instead of a hand-rolled directory swap,
  and an unscoped manual backfill carries the folded marker forward
  in the new snapshot's metadata instead of wiping it.

The published table is rollup-sized (days × types), so each batch's
read-merge-publish cycle is O(rollup) + O(batch) — never O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.publish import (
    current_version,
    publish_snapshot,
    read_metadata,
    read_published,
    write_metadata,
)
from .marker import start_available_now

_BATCH_KEY = "last_batch_id"
_RUN_KEY = "run_id"


def _partials(events: DataFrame) -> DataFrame:
    return events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def fold_and_publish(
    batch: DataFrame,
    root: str,
    batch_id: int | None = None,
    run_id: str = "",
) -> int | None:
    """Fold one batch into the published rollup and publish the result
    as the next version. Returns the new version, or None if the
    batch was already folded (a same-run replay — ``run_id`` scopes
    the guard; a regressed batch_id from a different run raises)."""
    spark = batch.sparkSession
    cur = current_version(root)
    prior = read_metadata(root) if cur is not None else {}
    if batch_id is not None and cur is not None:
        last = prior.get(_BATCH_KEY)
        if last is not None and batch_id <= int(last):
            last_run = prior.get(_RUN_KEY, "")
            if last_run == run_id:
                return None
            # legacy snapshots (no recorded run) discriminate on the
            # batch_id, marker.py's contract: replay AT the folded id
            # is the original checkpoint's at-least-once redelivery of
            # its last folded batch (the safe-resume scenario) — skip
            # and ADOPT the current run by rewriting the snapshot's
            # metadata sidecar, so the ambiguity resolves exactly once
            # (a later different run replaying at this id raises
            # instead of silently dropping its data, same as the
            # sketch stores' marker rewrite); BELOW the folded id is a
            # fresh checkpoint renumbering from 0, and skipping would
            # silently drop its batches from the published rollup
            if last_run == "" and batch_id == int(last):
                write_metadata(
                    root,
                    cur,
                    {**prior, _BATCH_KEY: int(last), _RUN_KEY: run_id},
                )
                return None
            raise ValueError(
                f"batch_id {batch_id} regressed below the folded {last} "
                f"but came from a different run ({run_id!r} vs "
                f"{last_run or '<legacy unscoped>'!r}): resume from the "
                "original checkpoint, or publish to a fresh root"
            )
    incoming = _partials(batch)
    if cur is not None:
        merged = (
            read_published(spark, root)
            .unionByName(incoming)
            .groupBy("day", "event_type")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
    else:
        merged = incoming
    if batch_id is not None:
        meta = {_BATCH_KEY: int(batch_id), _RUN_KEY: run_id}
    else:
        # unscoped backfill: the stream's replay guard must survive
        # the publish (genstore carries its marker forward the same
        # way) — publishing {} here would wipe last_batch_id and let
        # the stream's next at-least-once redelivery double-fold a
        # non-idempotent count/sum merge
        meta = {k: prior[k] for k in (_BATCH_KEY, _RUN_KEY) if k in prior}
    # coalesce(1): the published table is rollup-sized (days × types),
    # one file reads fastest; a wider rollup would size files via
    # write_sized_parquet instead
    return publish_snapshot(merged.coalesce(1), root, metadata=meta)


def rollup_publish_stream(
    events: DataFrame, root: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain the published daily rollup from an events stream
    (columns: ts, event_type, value)."""

    def handle(batch: DataFrame, batch_id: int, run_id: str) -> None:
        fold_and_publish(batch, root, batch_id=batch_id, run_id=run_id)

    return start_available_now(events, checkpoint_dir, handle)
