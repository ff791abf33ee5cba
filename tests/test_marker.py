"""Contract tests for the shared run-scoped replay guard
(``streaming/marker.py``: atomic writes, empty-file tolerance, legacy
single-line upgrade, and the one truth table every whole-store fold
runs against its published metadata), the folds' failure atomicity,
and the interval-union leaked-token accounting
(``decontam_gate.tokens_leaked``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.sources.publish import (
    current_version,
    read_metadata,
    read_published,
)
from etl_with_s3__dynamodb_and_glue_spark.streaming.cms_store import (
    estimate_counts,
    merge_cms_batch,
)
from etl_with_s3__dynamodb_and_glue_spark.streaming.marker import (
    is_replay,
    marker_path,
    read_marker,
    write_marker,
)
from etl_with_s3__dynamodb_and_glue_spark.streaming.publishing import (
    fold_and_publish,
)
from etl_with_s3__dynamodb_and_glue_spark.streaming.sketches import (
    merge_day_sketches,
)


def test_write_read_round_trip_is_atomic(tmp_path):
    d = str(tmp_path)
    write_marker(d, "ckpt-A", 3)
    assert read_marker(d) == ("ckpt-A", 3)
    # no temp residue: os.replace either lands the file or nothing
    assert os.listdir(d) == ["_last_batch_id"]
    write_marker(d, "ckpt-A", 4)
    assert read_marker(d) == ("ckpt-A", 4)


def test_empty_marker_reads_as_absent(tmp_path):
    """A zero-byte marker (legacy non-atomic writer killed mid-write)
    must NOT poison the gate: it reads as absent, so the next batch
    re-lands idempotently instead of raising forever."""
    d = str(tmp_path)
    open(marker_path(d), "w").close()
    assert read_marker(d) is None
    assert is_replay(d, "ckpt-A", 0, "hint") is False


def test_corrupt_marker_raises_descriptively(tmp_path):
    d = str(tmp_path)
    with open(marker_path(d), "w") as f:
        f.write("ckpt-A\nnot-a-number")
    with pytest.raises(ValueError, match="corrupt batch marker"):
        read_marker(d)


def test_legacy_single_line_marker_upgrades_only_at_landed_id(tmp_path):
    """Pre-run-scoping markers carry no run_id, so the check
    discriminates on the batch_id: the original checkpoint's
    at-least-once redelivery replays AT the landed id (skip + rewrite
    run-scoped); a fresh checkpoint renumbering from 0 regresses
    BELOW it and must raise — skipping would silently drop its
    batches (r8 review finding)."""
    d = str(tmp_path)
    with open(marker_path(d), "w") as f:
        f.write("2")
    # a legacy batch BELOW the landed id: renumbering, loud
    with pytest.raises(ValueError, match="legacy unscoped"):
        is_replay(d, "/ckpt/whoever", 0, "resume hint text")
    # still legacy (the raise must not have adopted it)
    assert read_marker(d) == ("", 2)
    # replay AT the landed id: the safe resume — skip and upgrade
    assert is_replay(d, "/ckpt/original", 2, "hint") is True
    assert read_marker(d) == ("/ckpt/original", 2)
    # now strict: a DIFFERENT run regressing fails loudly
    with pytest.raises(ValueError, match="different run"):
        is_replay(d, "/ckpt/fresh", 1, "resume hint text")
    # and progress past the marker is not a replay
    assert is_replay(d, "/ckpt/original", 3, "hint") is False


def test_marker_with_trailing_newline_still_reads(tmp_path):
    """A hand-restored marker (the corrupt-marker error tells the
    operator to restore it; editors append a final newline) must read
    as the marker it is, not as absent — absent would disable the
    replay guard and double-merge a non-idempotent store (r8 review
    finding)."""
    d = str(tmp_path)
    with open(marker_path(d), "w") as f:
        f.write("ckpt-A\n5\n")
    assert read_marker(d) == ("ckpt-A", 5)
    with open(marker_path(d), "w") as f:
        f.write("7\n")
    assert read_marker(d) == ("", 7)


def test_cross_run_regression_error_carries_the_hint(tmp_path):
    d = str(tmp_path)
    write_marker(d, "ckpt-A", 5)
    with pytest.raises(ValueError, match="seed a fresh index_dir"):
        is_replay(d, "ckpt-B", 0, "seed a fresh index_dir")
    # same run replay still short-circuits
    assert is_replay(d, "ckpt-A", 5, "hint") is True


def test_tokens_leaked_unions_overlapping_spans(spark):
    """Spans from non-consecutive anchors closer than min_tokens apart
    OVERLAP (dedup.duplicate_spans docstring); n_tokens_leaked must be
    the union of the intervals, not the sum of lengths (ADVICE r7)."""
    from etl_with_s3__dynamodb_and_glue_spark.streaming.decontam_gate import (
        tokens_leaked,
    )

    rows = [
        # doc 1: [0,8) and [2,10) overlap -> union 10, sum would be 16
        (1, 0, 8),
        (1, 2, 8),
        # doc 2: disjoint [0,8) and [20,28) -> 16
        (2, 0, 8),
        (2, 20, 8),
        # doc 3: containment [0,12) covers [2,10) -> 12
        (3, 0, 12),
        (3, 2, 8),
        # doc 4: chain of overlaps [0,8),[5,13),[12,20) -> 20
        (4, 0, 8),
        (4, 5, 8),
        (4, 12, 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, span_start int, span_len int"
    )
    got = {
        r.doc_id: (r.n_spans, r.n_tokens_leaked)
        for r in tokens_leaked(df).collect()
    }
    assert got == {1: (2, 10), 2: (2, 16), 3: (2, 12), 4: (3, 20)}


def _mk_events(spark, n=6):
    """One frame every store can fold: ts + user_id (HLL), key (CMS),
    ts + event_type + value (rollup)."""
    return spark.range(n).select(
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        (F.col("id") % 3).alias("user_id"),
        (F.col("id") % 2).cast("string").alias("key"),
        F.lit("click").alias("event_type"),
        F.col("id").cast("double").alias("value"),
    )


# store -> (fold(spark, batch, root, **guard), its additive count column)
_FOLDS = {
    "hll": (
        lambda spark, batch, root, **kw: merge_day_sketches(
            spark, batch, root, **kw
        ),
        "n_events",
    ),
    "cms": (
        lambda spark, batch, root, **kw: merge_cms_batch(
            spark, batch, root, "key", **kw
        ),
        "n",
    ),
    "rollup": (
        lambda spark, batch, root, **kw: fold_and_publish(batch, root, **kw),
        "n_events",
    ),
}


def _total(spark, root, col):
    return read_published(spark, root).agg(F.sum(col)).first()[0]


@pytest.mark.parametrize("store", sorted(_FOLDS))
def test_store_replay_truth_table(spark, tmp_path, store):
    """Every whole-store fold runs ``marker.replays`` against the
    (run_id, batch_id) in its published metadata: a legacy record
    raises below the landed id and is adopted at it, a same-run replay
    skips, a cross-run regression raises naming the resume hint, and an
    unscoped backfill (batch_id=None) folds but carries the guard
    forward — publishing without it would let the stream's next
    redelivery double-fold a non-idempotent sum."""
    fold, count_col = _FOLDS[store]
    ev = _mk_events(spark)
    root = str(tmp_path / store)
    guard = {"last_batch_id": 5, "run_id": "ckpt-A"}

    # legacy-shaped record: folded without a run id
    assert fold(spark, ev, root, batch_id=5, run_id="") == 0
    once = _total(spark, root, count_col)
    assert once > 0
    # legacy BELOW the landed id: a fresh checkpoint renumbering, loud,
    # and the record stays legacy
    with pytest.raises(ValueError, match="legacy unscoped"):
        fold(spark, ev, root, batch_id=3, run_id="ckpt-B")
    assert read_metadata(root) == {"last_batch_id": 5, "run_id": ""}
    # legacy AT the landed id: skip and adopt the run
    assert fold(spark, ev, root, batch_id=5, run_id="ckpt-A") is None
    assert read_metadata(root) == guard
    # same-run replay, at or below the landed id: skip
    assert fold(spark, ev, root, batch_id=5, run_id="ckpt-A") is None
    assert fold(spark, ev, root, batch_id=4, run_id="ckpt-A") is None
    # cross-run regression: raises with the hint, store untouched
    with pytest.raises(ValueError, match="different run.*fresh root"):
        fold(spark, ev, root, batch_id=5, run_id="ckpt-B")
    assert current_version(root) == 0
    assert _total(spark, root, count_col) == once
    # unscoped backfill: a new version, the guard carried forward
    assert fold(spark, ev, root) == 1
    assert read_metadata(root) == guard
    assert _total(spark, root, count_col) == 2 * once
    # the stream's redelivery still skips; progress lands
    assert fold(spark, ev, root, batch_id=5, run_id="ckpt-A") is None
    assert fold(spark, ev, root, batch_id=6, run_id="ckpt-A") == 2
    assert read_metadata(root) == {"last_batch_id": 6, "run_id": "ckpt-A"}


def test_fold_and_publish_unscoped_backfill_carries_marker(spark, tmp_path):
    """A manual backfill (batch_id=None) through the WAP publisher
    must carry the folded (run_id, batch_id) forward into the new
    snapshot's metadata — publishing {} would wipe the replay guard
    and let the stream's next at-least-once redelivery double-fold."""
    root = str(tmp_path / "rollup")
    ev = _mk_events(spark)
    assert fold_and_publish(ev, root, batch_id=0, run_id="ckpt-A") == 0
    # unscoped backfill publishes a new version but keeps the guard
    assert fold_and_publish(ev, root) == 1
    meta = read_metadata(root)
    assert meta.get("last_batch_id") == 0 and meta.get("run_id") == "ckpt-A"
    # the stream's redelivery of batch 0 still short-circuits
    assert fold_and_publish(ev, root, batch_id=0, run_id="ckpt-A") is None


def test_fold_and_publish_legacy_skips_at_folded_id_raises_below(
    spark, tmp_path
):
    """Legacy snapshots (no recorded run) follow marker.py's truth
    table: a new run's replay AT the folded id skips (the original
    checkpoint resuming after an upgrade), BELOW it raises — skipping
    would silently drop a fresh checkpoint's renumbered batches from
    the published rollup."""
    ev = _mk_events(spark)
    # legacy replay BELOW the folded id raises (fresh checkpoint
    # renumbering from 0 — skipping would silently drop its batches)
    low = str(tmp_path / "rollup_low")
    fold_and_publish(ev, low, batch_id=5, run_id="")  # legacy-shaped
    with pytest.raises(ValueError, match="different run"):
        fold_and_publish(ev, low, batch_id=3, run_id="ckpt-B")

    # legacy replay AT the folded id skips and ADOPTS the current run
    # (metadata rewritten run-scoped, the marker.py contract): the
    # ambiguity resolves once — a THIRD run replaying at the folded
    # id now raises instead of silently dropping its data
    root = str(tmp_path / "rollup")
    fold_and_publish(ev, root, batch_id=5, run_id="")  # legacy-shaped
    assert fold_and_publish(ev, root, batch_id=5, run_id="ckpt-B") is None
    assert read_metadata(root).get("run_id") == "ckpt-B"
    assert fold_and_publish(ev, root, batch_id=5, run_id="ckpt-B") is None
    with pytest.raises(ValueError, match="different run"):
        fold_and_publish(ev, root, batch_id=5, run_id="ckpt-C")


def _listing(root):
    return sorted((d, sorted(files)) for d, _, files in os.walk(root))


def test_cms_store_crash_window_recovers(spark, tmp_path):
    """A fold whose write fails is invisible: the published version,
    its metadata marker and every estimate stay as they were; reading
    the store writes nothing; and the next fold of the same batch id
    lands (the failed attempt's staged version is overwritten)."""
    ev = _mk_events(spark)
    keys = ev.select("key").distinct()
    store = str(tmp_path / "store")
    merge_cms_batch(spark, ev, store, "key", batch_id=0, run_id="ckpt-A")

    def estimates():
        before = _listing(store)
        got = {
            r.key: r.est_count
            for r in estimate_counts(spark, store, keys, "key").collect()
        }
        assert _listing(store) == before
        return got

    want = estimates()
    assert want == {"0": 3, "1": 3}

    exploding = ev.withColumn(
        "key",
        F.when(F.col("value") < 3, F.col("key")).otherwise(
            F.raise_error(F.lit("boom"))
        ),
    )
    with pytest.raises(Exception, match="boom"):
        merge_cms_batch(
            spark, exploding, store, "key", batch_id=1, run_id="ckpt-A"
        )
    assert current_version(store) == 0
    assert read_metadata(store) == {"last_batch_id": 0, "run_id": "ckpt-A"}
    assert estimates() == want

    assert (
        merge_cms_batch(spark, ev, store, "key", batch_id=1, run_id="ckpt-A")
        == 1
    )
    assert read_metadata(store) == {"last_batch_id": 1, "run_id": "ckpt-A"}
    assert estimates() == {"0": 6, "1": 6}
