"""The one commit protocol of the whole-store streaming maintainers:
each micro-batch folds its partial aggregates into a WAP-published
table (``sources/publish.py``) and promotes a NEW snapshot version
atomically — downstream readers always see a complete, audited table,
never a half-merged one, and a reader never touches the store's
files.

Three stores fold through :func:`fold_into_published`, each supplying
only its partials, keys and aggregates:

- the daily event rollup here (:func:`fold_and_publish` — mergeable
  count+sum partials, plans/event_time.py::
  events_daily_rollup_incremental);
- the per-day HLL user-sketch store (``sketches.py``);
- the Count-Min frequency store (``cms_store.py``).

foreachBatch is at-least-once and none of these folds is idempotent
(a count or cell sum would double), so the folded (run_id, batch_id)
is recorded in the snapshot's ``_METADATA``: marker and data promote
in the SAME pointer swap, and a replayed batch sees itself already
folded and skips under ``marker.replays``' truth table (a regressed
batch_id from a DIFFERENT run raises; a legacy snapshot without a
run_id skips only a replay AT the folded id and is adopted). An
unscoped manual backfill (``batch_id=None``) carries the folded
marker forward into the new snapshot's metadata instead of wiping it
— a wiped marker would let the stream's next redelivery double-fold.

Every published table is sketch- or rollup-sized (days, d·w cells,
days × types), so a fold is O(table) + O(batch) — never O(history) —
and the new version is written as one file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.publish import (
    current_version,
    publish_snapshot,
    read_metadata,
    read_published,
    write_metadata,
)
from .marker import replays, start_available_now

_BATCH_KEY = "last_batch_id"
_RUN_KEY = "run_id"
_RESUME_HINT = (
    "resume from the original checkpoint, or publish to a fresh root"
)


def fold_into_published(
    partials: DataFrame,
    root: str,
    keys: list[str],
    aggs: list[Column],
    batch_id: int | None = None,
    run_id: str = "",
) -> int | None:
    """Fold one batch's ``partials`` into the table published under
    ``root``: union with the published version, re-aggregate ``aggs``
    by ``keys``, publish the result as the next version. Returns the
    new version, or None if the batch was already folded (a replay —
    ``run_id`` scopes the guard; a regressed batch_id from a different
    run raises)."""
    cur = current_version(root)
    prior = read_metadata(root) if cur is not None else {}
    recorded = (
        (prior.get(_RUN_KEY, ""), int(prior[_BATCH_KEY]))
        if _BATCH_KEY in prior
        else None
    )
    if batch_id is not None and replays(
        recorded, run_id, batch_id, _RESUME_HINT
    ):
        if recorded[0] != run_id:
            # legacy adoption: stamp the run onto the version's metadata
            # sidecar; its data stays immutable
            write_metadata(root, cur, {**prior, _RUN_KEY: run_id})
        return None
    merged = partials
    if cur is not None:
        merged = (
            read_published(partials.sparkSession, root)
            .unionByName(partials)
            .groupBy(*keys)
            .agg(*aggs)
        )
    if batch_id is not None:
        meta = {_BATCH_KEY: int(batch_id), _RUN_KEY: run_id}
    else:
        meta = {k: prior[k] for k in (_BATCH_KEY, _RUN_KEY) if k in prior}
    return publish_snapshot(merged.coalesce(1), root, metadata=meta)


def fold_and_publish(
    batch: DataFrame,
    root: str,
    batch_id: int | None = None,
    run_id: str = "",
) -> int | None:
    """Fold one events batch (columns: ts, event_type, value) into the
    published daily rollup."""
    partials = batch.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    return fold_into_published(
        partials,
        root,
        ["day", "event_type"],
        [
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        ],
        batch_id=batch_id,
        run_id=run_id,
    )


def rollup_publish_stream(
    events: DataFrame, root: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain the published daily rollup from an events stream
    (columns: ts, event_type, value)."""

    def handle(batch: DataFrame, batch_id: int, run_id: str) -> None:
        fold_and_publish(batch, root, batch_id=batch_id, run_id=run_id)

    return start_available_now(events, checkpoint_dir, handle)
