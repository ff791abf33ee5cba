"""Run-scoped replay guard shared by every foreachBatch writer, plus
the one AvailableNow start every foreachBatch stream goes through
(:func:`start_available_now`) and the one reader of landed
``batch_id=N`` subtrees (:func:`read_batches`).

The guard records the last FULLY-landed (run_id, batch_id) so an
at-least-once replay of a landed batch short-circuits instead of
re-running its writes. :func:`replays` is the one truth table; it
reads the recorded pair from wherever the store keeps it — the
``_last_batch_id`` file marker of the per-batch-subtree gates
(``ingest_dedup``, ``vector_ingest``, ``decontam_gate``, ``dsir_gate``,
via :func:`is_replay`) or the ``_METADATA`` of a WAP-published store
(``publishing.fold_into_published``). Contract details:

- **Atomic writes** (temp file + ``os.replace``): a crash mid-write can
  no longer leave a truncated marker that poisons every later batch.
- **Empty-file tolerance**: a zero-byte marker (legacy non-atomic
  writer, killed mid-write) reads as ABSENT — the worst case is one
  redundant re-run of an idempotent batch (every gate lands per-batch
  ``batch_id=N`` subtrees with overwrite), which beats failing forever.
- **Legacy records** (pre run-scoping: a single-line marker, or a
  snapshot's metadata without a run_id) carry no run identity, so the
  replay check discriminates on the batch_id instead: the original
  checkpoint resuming after an upgrade replays AT the landed batch_id
  (at-least-once redelivery of the last landed batch — the safe-resume
  scenario, skipped and the record rewritten run-scoped), while a
  fresh checkpoint renumbering from 0 regresses BELOW it (raises, same
  as a scoped cross-run regression).
  The single ambiguous residual — landed == 0 and a fresh run's batch
  0 — is irreducible without a recorded run and resolves to skip.
- **Cross-run regression fails loudly**: a batch_id at or below the
  landed one from a DIFFERENT run means a fresh checkpoint is
  re-numbering from 0 against state another run built; skipping would
  silently drop arrivals and landing would clobber the old run's
  same-numbered subtree.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

MARKER_NAME = "_last_batch_id"


def marker_path(state_dir: str) -> str:
    return os.path.join(state_dir, MARKER_NAME)


def read_marker(state_dir: str) -> tuple[str, int] | None:
    """(run_id, batch_id) of the last fully-landed batch, or None.

    Legacy single-line markers (pre run-scoping) read as run_id ``''``;
    an empty/whitespace-only file reads as absent (see module doc). A
    non-integer batch_id line raises with the offending path — that is
    corruption no retry can fix."""
    path = marker_path(state_dir)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        lines = f.read().splitlines()
    # tolerance keys on the BATCH-ID line (a hand-restored marker may
    # carry a trailing newline; only a missing/empty id line means a
    # torn legacy write)
    if not lines or (len(lines) == 1 and not lines[0].strip()):
        return None
    try:
        if len(lines) >= 2 and lines[1].strip():
            return lines[0], int(lines[1])
        if not lines[0].strip():
            return None
        return "", int(lines[0].strip())
    except ValueError as exc:
        raise ValueError(
            f"corrupt batch marker {path!r}: expected '<run_id>\\n"
            f"<batch_id>' with an integer batch_id, got {lines!r} — "
            "delete the marker (batches re-land idempotently) or "
            "restore it from the landed batch_id=N subtrees"
        ) from exc


def write_marker(state_dir: str, run_id: str, batch_id: int) -> None:
    """Atomically record (run_id, batch_id): temp file + os.replace so
    a crash leaves either the old marker or the new one, never a
    truncated file."""
    path = marker_path(state_dir)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        f.write(f"{run_id}\n{batch_id}")
    os.replace(tmp, path)


def replays(
    recorded: tuple[str, int] | None,
    run_id: str,
    batch_id: int,
    resume_hint: str,
) -> bool:
    """The replay truth table, a pure function of the ``recorded``
    (run_id, batch_id) of the last landed batch: True → this batch
    already landed (skip it). Raises on a cross-run batch_id
    regression; ``resume_hint`` names the store's safe recovery in the
    error message.

    A skip whose recorded run differs from ``run_id`` is a legacy
    adoption (module doc): the caller re-records the landed id under
    ``run_id`` so the next comparison is properly scoped."""
    if recorded is None or batch_id > recorded[1]:
        return False
    recorded_run, landed = recorded
    if recorded_run == run_id or (recorded_run == "" and batch_id == landed):
        return True
    raise ValueError(
        f"batch_id {batch_id} regressed below the landed {landed} but "
        f"came from a different run ({run_id!r} vs "
        f"{recorded_run or '<legacy unscoped>'!r}): {resume_hint}"
    )


def is_replay(
    state_dir: str, run_id: str, batch_id: int, resume_hint: str
) -> bool:
    """:func:`replays` against the file marker in ``state_dir``,
    rewriting an adopted legacy marker run-scoped."""
    marker = read_marker(state_dir)
    if not replays(marker, run_id, batch_id, resume_hint):
        return False
    if marker[0] != run_id:
        write_marker(state_dir, run_id, marker[1])
    return True


def start_available_now(
    stream: DataFrame,
    checkpoint_dir: str,
    handle: Callable[[DataFrame, int, str], None],
) -> StreamingQuery:
    """Start ``stream`` as one AvailableNow foreachBatch query.
    ``handle(batch, batch_id, run_id)`` runs per micro-batch; run_id is
    the checkpoint's absolute path — the run identity the replay
    marker is scoped to."""
    run_id = os.path.abspath(checkpoint_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: handle(batch, batch_id, run_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_batches(spark: SparkSession, root: str) -> DataFrame:
    """Every ``batch_id=N`` subtree landed under ``root`` as one scan
    (batch_id is the partition column)."""
    return spark.read.option("basePath", root).parquet(f"{root}/batch_id=*")
