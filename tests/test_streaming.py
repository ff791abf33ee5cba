"""Structured Streaming layer: AvailableNow episode parity with the
batch pipeline, built-in source archival, windowed aggregation, and
the stateful sessionization operator vs its declarative batch twin."""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.operators.sessions import sessionize
from etl_with_s3__dynamodb_and_glue_spark.plans import music_pipeline as mp
from etl_with_s3__dynamodb_and_glue_spark.schemas import SONGS, STREAMS
from etl_with_s3__dynamodb_and_glue_spark.sources.readers import (
    read_csv,
    read_events,
)
from etl_with_s3__dynamodb_and_glue_spark.sources.sinks import ParquetKeyValueSink
from etl_with_s3__dynamodb_and_glue_spark.streaming.file_pipeline import (
    run_streaming_episode,
    windowed_genre_kpis_stream,
)
from etl_with_s3__dynamodb_and_glue_spark.streaming.stateful import sessionize_stream
from tests.conftest import SF_SMOKE
from tests.fixtures_gen import generate


def _kv(spark, path: Path, table: str):
    return {
        tuple(str(v) for v in row)
        for row in spark.read.parquet(str(path / table)).collect()
    }


def test_streaming_episode_matches_batch(spark, tmp_path):
    paths = generate(tmp_path / "music")
    stream_out = tmp_path / "stream_wh"
    batch_out = tmp_path / "batch_wh"

    run_streaming_episode(
        spark,
        songs_path=paths["songs"],
        streams_dir=paths["streams"],
        sink=ParquetKeyValueSink(str(stream_out)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    mp.run_batch_episode(
        spark,
        users_path=paths["users"],
        songs_path=paths["songs"],
        streams_path=paths["streams"],
        sink=ParquetKeyValueSink(str(batch_out)),
    )

    for table in ("GenreKPIs", "TopSongs", "TopGenres"):
        assert _kv(spark, stream_out, table) == _kv(spark, batch_out, table), table


def test_streaming_source_archival(spark, tmp_path):
    """cleanSource=archive moves a committed batch's files once a later
    batch commits — episode 2 archives episode 1's files."""
    paths = generate(tmp_path / "music")
    streams = Path(paths["streams"])
    archive = tmp_path / "archived_streams"
    first_episode_files = {p.name for p in streams.glob("*.csv")}

    common = dict(
        songs_path=paths["songs"],
        streams_dir=str(streams),
        sink=ParquetKeyValueSink(str(tmp_path / "wh")),
        checkpoint_dir=str(tmp_path / "ckpt"),
        archive_dir=str(archive),
    )
    run_streaming_episode(spark, **common)

    late = streams / "late1.csv"
    late.write_text(
        "user_id,track_id,listen_time\n"
        "1," + "A" * 22 + ",2024-06-28 10:00:00\n"
    )
    run_streaming_episode(spark, **common)

    deadline = time.time() + 60
    archived: set[str] = set()
    while time.time() < deadline:
        archived = {p.name for p in archive.rglob("*.csv")}
        if first_episode_files <= archived:
            break
        time.sleep(1)
    assert first_episode_files <= archived
    remaining = {p.name for p in streams.glob("*.csv")}
    assert not (first_episode_files & remaining)


def test_windowed_kpis_stream_matches_batch_grouping(spark, tmp_path):
    paths = generate(tmp_path / "music")
    songs = mp.clean_songs(read_csv(spark, paths["songs"], SONGS), deterministic=True)

    # batch plan through the same function (F.window works in both)
    batch_streams = read_csv(spark, paths["streams"], STREAMS)
    expected = {
        (r.date, r.track_genre, r.listen_count, r.total_listening_time)
        for r in windowed_genre_kpis_stream(batch_streams, songs).collect()
    }

    stream = (
        spark.readStream.schema(STREAMS).option("header", True).csv(paths["streams"])
    )
    q = (
        windowed_genre_kpis_stream(stream, songs)
        .writeStream.format("memory")
        .queryName("win_kpis")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.date, r.track_genre, r.listen_count, r.total_listening_time)
        for r in spark.sql("SELECT * FROM win_kpis").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_sessionize_stream_matches_batch(spark, tmp_path):
    events = read_events(spark, SF_SMOKE).select("user_id", "ts", "event_id", "value")
    src = tmp_path / "events_parquet"
    events.write.parquet(str(src))

    expected = {
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in sessionize(events.withColumn("e", F.lit(1)).drop("e")).collect()
    }

    stream = spark.readStream.schema(events.schema).parquet(str(src))
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_dedup_stream_drops_redelivered_rows(spark, tmp_path):
    """dropDuplicatesWithinWatermark episode: duplicate keys across
    files (redelivery) survive exactly once, matching the batch
    dropDuplicates twin."""
    from pyspark.sql import types as T

    from etl_with_s3__dynamodb_and_glue_spark.streaming.file_pipeline import (
        dedup_stream,
        stream_csv_source,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    # file 2 redelivers ids 2,3 (same payload) and adds 4,5
    (src / "f1.csv").write_text(
        "event_id,ts,payload\n"
        "1,2024-06-25 10:00:00,a\n"
        "2,2024-06-25 10:00:05,b\n"
        "3,2024-06-25 10:00:10,c\n"
    )
    (src / "f2.csv").write_text(
        "event_id,ts,payload\n"
        "2,2024-06-25 10:00:05,b\n"
        "3,2024-06-25 10:00:10,c\n"
        "4,2024-06-25 10:00:20,d\n"
        "5,2024-06-25 10:00:25,e\n"
    )

    stream = dedup_stream(
        stream_csv_source(spark, str(src), schema, max_files_per_trigger=1),
        id_cols=["event_id"],
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    got = {
        (r.event_id, r.payload)
        for r in spark.sql("SELECT event_id, payload FROM dedup_mem").collect()
    }
    batch = dedup_stream(
        read_csv(spark, str(src), schema), id_cols=["event_id"]
    )
    want = {(r.event_id, r.payload) for r in batch.collect()}
    assert got == want == {(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")}


def test_sessionize_stream_timeout_emits_final_session_once(spark, tmp_path):
    """The ProcessingTimeTimeout path of the stateful operator: after a
    full gap of processing-time silence the stored session is emitted
    exactly ONCE more (final totals) and the state is FREED — an idle
    user neither re-emits on later triggers nor leaks state.

    Two emissions total for the user: the open-session update from the
    data batch, then the timeout finalization from a no-data batch
    (``shouldRunAnotherBatch`` keeps triggers firing while processing-
    time timeouts are armed).
    """
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "src"
    spark.createDataFrame(
        [
            (1, datetime(2024, 6, 25, 10, 0, 0), 10, 1.0),
            (1, datetime(2024, 6, 25, 10, 0, 1), 11, 2.0),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        sessionize_stream(stream, gap_seconds=2)
        .writeStream.format("memory")
        .queryName("sess_timeout")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:

        def rows():
            return spark.sql(
                "SELECT * FROM sess_timeout WHERE user_id = 1"
            ).collect()

        deadline = time.time() + 60
        while time.time() < deadline and len(rows()) < 2:
            time.sleep(0.5)
        got = rows()
        assert len(got) == 2, got  # open-session update + timeout final
        # both carry the complete session (update semantics: the final
        # overwrite equals the last update since no events intervened)
        assert {(r.session_seq, r.n_events, r.total_value) for r in got} == {
            (1, 2, 3.0)
        }
        # state was removed and the timer disarmed: several more gap
        # windows of triggers must produce NO further emissions
        time.sleep(5)
        assert len(rows()) == 2
    finally:
        q.stop()


def test_sketch_store_stream_matches_batch_estimates(spark, tmp_path, capsys):
    """Incremental sketch maintenance: events split across files and
    processed one file per micro-batch (maxFilesPerTrigger=1) must
    yield a store whose estimates EQUAL the single-pass batch
    sketches — sketch union is associative over arbitrary batching —
    and land within the HLL error envelope of exact distinct counts."""
    from etl_with_s3__dynamodb_and_glue_spark.streaming.sketches import (
        _day_sketches,
        estimate_distinct_users,
        sketch_store_stream,
    )

    events = read_events(spark, SF_SMOKE).select("ts", "user_id")
    src = tmp_path / "events_src"
    # two files -> two micro-batches with overlapping users/days
    events.filter(F.col("user_id") % 2 == 0).write.parquet(str(src / "f0"))
    events.filter(F.col("user_id") % 2 == 1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    store = str(tmp_path / "sketch_store")
    q = sketch_store_stream(stream, store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    per_day, total = estimate_distinct_users(spark, store)
    got_days = {r.day: (r.est_users, r.n_events) for r in per_day.collect()}

    batch_ref = _day_sketches(events)
    want_days = {
        r.day: (r.est, r.n_events)
        for r in batch_ref.select(
            "day",
            F.hll_sketch_estimate("user_sketch").cast("long").alias("est"),
            "n_events",
        ).collect()
    }
    assert got_days == want_days and len(got_days) >= 2

    exact_total = events.select("user_id").distinct().count()
    est_total = total.first().est_users_total
    rel_err = abs(est_total - exact_total) / exact_total
    # surface measured accuracy vs the asserted envelope in CI output
    with capsys.disabled():
        print(
            f"\n[sketch-accuracy] stream-store total: est={est_total} "
            f"exact={exact_total} rel_err={rel_err:.4f} (bound 0.05)"
        )
    assert rel_err <= 0.05


def test_near_dup_ingest_stream_matches_batch_composition(spark, tmp_path):
    """The streaming ingest-dedup gate: two arrival files processed as
    separate micro-batches against a seeded signature store must
    produce exactly the decisions of the equivalent batch composition
    (file 1 vs seed; file 2 vs seed + file 1's novel docs), and the
    store must grow by novel docs only. Replaying a landed batch is a
    no-op."""
    import os

    from etl_with_s3__dynamodb_and_glue_spark.operators.dedup import (
        arrivals_decision,
        corpus_signature_frame,
        minhash_near_dups_vs_store,
    )
    from etl_with_s3__dynamodb_and_glue_spark.streaming.ingest_dedup import (
        ingest_batch,
        near_dup_ingest_stream,
        seed_store,
    )
    from etl_with_s3__dynamodb_and_glue_spark.streaming.marker import read_batches

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    seed = docs.filter(F.col("doc_id") % 5 < 3)
    arr1 = docs.filter(F.col("doc_id") % 5 == 3)
    arr2 = docs.filter(F.col("doc_id") % 5 == 4)

    store_dir = str(tmp_path / "sig_store")
    decisions_dir = str(tmp_path / "decisions")
    seed_store(seed, store_dir)

    src = tmp_path / "arrivals"
    arr1.coalesce(1).write.parquet(str(src / "f0"))
    arr2.coalesce(1).write.parquet(str(src / "f1"))
    # deterministic batch order: the file source picks oldest mtime first
    now = time.time()
    for sub, age in (("f0", 200), ("f1", 100)):
        for p in (src / sub).rglob("*.parquet"):
            os.utime(p, (now - age, now - age))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = near_dup_ingest_stream(
        stream, store_dir, decisions_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got = {
        (r.doc_id, r.is_dup, r.dup_of, r.n_matches)
        for r in read_batches(spark, decisions_dir).collect()
    }

    # batch composition of the same two steps
    seed_sigs = corpus_signature_frame(seed)
    d1 = arrivals_decision(
        arr1, minhash_near_dups_vs_store(arr1, seed_sigs)
    ).collect()
    novel1 = arr1.join(
        spark.createDataFrame(
            [(r.doc_id,) for r in d1 if not r.is_dup], "doc_id long"
        ),
        "doc_id",
    )
    store2 = seed_sigs.unionByName(corpus_signature_frame(novel1))
    d2 = arrivals_decision(
        arr2, minhash_near_dups_vs_store(arr2, store2)
    ).collect()
    want = {(r.doc_id, r.is_dup, r.dup_of, r.n_matches) for r in d1 + d2}
    assert got == want and len(got) == arr1.count() + arr2.count()

    # the store grew by exactly the novel docs of each batch
    store_ids = {
        r.doc_id for r in spark.read.parquet(f"{store_dir}/batch_id=*").collect()
    }
    novel_ids = {r.doc_id for r in d1 + d2 if not r.is_dup}
    seed_ids = {r.doc_id for r in seed.select("doc_id").collect()}
    assert store_ids == seed_ids | novel_ids

    # replaying a landed batch id WITHIN the same run is a no-op
    # (marker short-circuit); the marker is scoped to the run, so the
    # replay must present the stream's run id (its checkpoint path)
    before = sorted(got)
    run_id = os.path.abspath(str(tmp_path / "ckpt"))
    ingest_batch(arr1, 0, store_dir, decisions_dir, run_id=run_id)
    after = sorted(
        (r.doc_id, r.is_dup, r.dup_of, r.n_matches)
        for r in read_batches(spark, decisions_dir).collect()
    )
    assert after == before

    # a regressed batch id from a DIFFERENT run (fresh checkpoint
    # re-numbering from 0) must fail loudly, not silently skip
    import pytest

    with pytest.raises(ValueError, match="different run"):
        ingest_batch(arr1, 0, store_dir, decisions_dir, run_id="other-ckpt")


def test_sketch_store_replay_and_crash_recovery(spark, tmp_path):
    """foreachBatch is at-least-once: a REPLAYED batch id must not
    merge twice (n_events would double — HLL union is idempotent, the
    sum is not). And a crash after a merge staged its version but
    before the pointer swap must stay invisible to readers, with the
    next merge landing over the orphaned version."""
    import os
    import shutil

    from etl_with_s3__dynamodb_and_glue_spark.streaming.sketches import (
        estimate_distinct_users,
        merge_day_sketches,
    )

    events = read_events(spark, SF_SMOKE).select("ts", "user_id")
    store = str(tmp_path / "store")

    merge_day_sketches(spark, events, store, batch_id=0)
    baseline = {
        (r.day, r.n_events)
        for r in estimate_distinct_users(spark, store)[0].collect()
    }

    # replayed batch id -> skipped, store unchanged
    merge_day_sketches(spark, events, store, batch_id=0)
    assert {
        (r.day, r.n_events)
        for r in estimate_distinct_users(spark, store)[0].collect()
    } == baseline

    # crash window: the next version was staged, never promoted
    shutil.copytree(os.path.join(store, "v=0000"), os.path.join(store, "v=0001"))
    per_day, _ = estimate_distinct_users(spark, store)
    assert {(r.day, r.n_events) for r in per_day.collect()} == baseline

    # a NEW batch id does merge (n_events doubles per day)
    assert merge_day_sketches(spark, events, store, batch_id=1) == 1
    assert {
        (r.day, r.n_events)
        for r in estimate_distinct_users(spark, store)[0].collect()
    } == {(d, n * 2) for d, n in baseline}


def test_rollup_publish_stream_matches_batch_and_guards_replay(spark, tmp_path):
    """Streaming WAP publication: micro-batched folding into published
    snapshot versions must equal the single-pass batch rollup
    (mergeable count+sum partials), each batch promotes a NEW version
    readers see atomically, and a replayed batch id is skipped (the
    fold is not idempotent)."""
    from etl_with_s3__dynamodb_and_glue_spark.sources.publish import (
        current_version,
        read_published,
    )
    from etl_with_s3__dynamodb_and_glue_spark.streaming.publishing import (
        fold_and_publish,
        rollup_publish_stream,
    )

    events = read_events(spark, SF_SMOKE).select("ts", "event_type", "value")
    src = tmp_path / "events_src"
    # split on a stable column present in the projection
    events.filter(F.dayofmonth("ts") % 2 == 0).write.parquet(str(src / "f0"))
    events.filter(F.dayofmonth("ts") % 2 == 1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    root = str(tmp_path / "published_rollup")
    q = rollup_publish_stream(stream, root, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert current_version(root) == 1  # two micro-batches -> v0, v1
    got = {
        (str(r.day), r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in read_published(spark, root).collect()
    }
    want = {
        (str(r.day), r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in events.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    assert got == want

    # replayed batch id WITHIN the run: no new version, no double
    # counting
    import os

    import pytest

    run_id = os.path.abspath(str(tmp_path / "ckpt"))
    replay = events.limit(100)
    assert fold_and_publish(replay, root, batch_id=0, run_id=run_id) is None
    assert current_version(root) == 1
    assert {
        (str(r.day), r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in read_published(spark, root).collect()
    } == want

    # a regressed batch id from a DIFFERENT run (fresh checkpoint
    # renumbering from 0) fails loudly instead of silently dropping
    with pytest.raises(ValueError, match="different run"):
        fold_and_publish(replay, root, batch_id=0, run_id="other-ckpt")
    assert current_version(root) == 1


def test_decontam_gate_stream_matches_batch_composition(spark, tmp_path):
    """Streaming span-level decontamination: two file-batches screened
    against a prebuilt eval anchor store must produce exactly the
    findings/decisions the batch composition produces, with clean docs
    present in the decision log; replay is a no-op within the run and
    a cross-run batch-id regression fails loudly."""
    import os
    import time

    import pytest

    from etl_with_s3__dynamodb_and_glue_spark.operators import dedup
    from etl_with_s3__dynamodb_and_glue_spark.streaming.decontam_gate import (
        decontam_gate_stream,
        screen_batch,
    )
    from etl_with_s3__dynamodb_and_glue_spark.streaming.marker import read_batches

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    arr1 = train.filter(F.col("doc_id") % 2 == 0)
    arr2 = train.filter(F.col("doc_id") % 2 == 1)

    store = str(tmp_path / "anchor_store")
    dedup.build_anchor_store(ev, store, min_tokens=8)
    findings_dir = str(tmp_path / "findings")
    decisions_dir = str(tmp_path / "decisions")

    src = tmp_path / "arrivals"
    arr1.coalesce(1).write.parquet(str(src / "f0"))
    arr2.coalesce(1).write.parquet(str(src / "f1"))
    now = time.time()
    for sub, age in (("f0", 200), ("f1", 100)):
        for p in (src / sub).rglob("*.parquet"):
            os.utime(p, (now - age, now - age))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    ckpt = str(tmp_path / "ckpt")
    q = decontam_gate_stream(stream, store, findings_dir, decisions_dir, ckpt)
    q.awaitTermination(180)

    got_spans = sorted(
        (r.doc_id, r.span_start, r.span_len, r.span_text)
        for r in read_batches(spark, findings_dir).collect()
    )
    want_spans = sorted(
        (r.doc_id, r.span_start, r.span_len, r.span_text)
        for r in dedup.duplicate_spans_vs_store(
            train, store, min_tokens=8
        ).collect()
    )
    assert got_spans == want_spans and got_spans

    decisions = {
        r.doc_id: (r.contaminated, r.n_spans, r.n_tokens_leaked)
        for r in read_batches(spark, decisions_dir).collect()
    }
    # one decision per arriving doc, clean docs included
    assert set(decisions) == {r.doc_id for r in train.collect()}
    contaminated = {d for d, (c, _, _) in decisions.items() if c}
    assert contaminated == {s[0] for s in want_spans}
    def union_len(ivs):
        # spans can overlap (non-consecutive anchors < min_tokens
        # apart); leaked tokens = size of the interval union
        total, cur_end = 0, 0
        for a, b in sorted((s, s + ln) for s, ln in ivs):
            a = max(a, cur_end)
            if b > a:
                total += b - a
                cur_end = b
        return total

    for d, (c, n_spans, n_leak) in decisions.items():
        doc_spans = [s for s in want_spans if s[0] == d]
        assert n_spans == len(doc_spans)
        assert n_leak == union_len((s[1], s[2]) for s in doc_spans)

    # same-run replay: no-op
    before = sorted(decisions.items())
    run_id = os.path.abspath(ckpt)
    screen_batch(arr1, 0, store, findings_dir, decisions_dir, run_id=run_id)
    after = sorted(
        (r.doc_id, (r.contaminated, r.n_spans, r.n_tokens_leaked))
        for r in read_batches(spark, decisions_dir).collect()
    )
    assert after == before

    # cross-run regression: loud
    with pytest.raises(ValueError, match="different run"):
        screen_batch(arr1, 0, store, findings_dir, decisions_dir, run_id="x")


def test_cms_store_stream_matches_batch_cells_and_bounds(spark, tmp_path):
    """Incremental frequency-sketch maintenance (the CMS twin of the
    HLL store): a keyed stream split across micro-batches must yield a
    store whose CELLS equal the single-pass batch sketch — cell-wise
    sum is associative over arbitrary batching — with estimates that
    never undercount exact counts; replay within a run is a no-op
    (cell addition is not idempotent, the marker guards it) and a
    cross-run batch-id regression fails loudly."""
    import pytest

    from etl_with_s3__dynamodb_and_glue_spark.operators.cms import cms_build
    from etl_with_s3__dynamodb_and_glue_spark.sources.publish import (
        read_published,
    )
    from etl_with_s3__dynamodb_and_glue_spark.streaming.cms_store import (
        cms_store_stream,
        estimate_counts,
        merge_cms_batch,
    )

    events = read_events(spark, SF_SMOKE).select(
        F.col("user_id").cast("string").alias("key")
    )
    src = tmp_path / "keys_src"
    events.filter(F.crc32("key") % 2 == 0).write.parquet(str(src / "f0"))
    events.filter(F.crc32("key") % 2 == 1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    store = str(tmp_path / "cms_store")
    q = cms_store_stream(stream, store, str(tmp_path / "ckpt"), "key")
    q.awaitTermination(120)

    got_cells = {
        (r.j, r.pos): r.n for r in read_published(spark, store).collect()
    }
    want_cells = {
        (r.j, r.pos): r.n for r in cms_build(events, "key").collect()
    }
    assert got_cells == want_cells and got_cells

    # one-sided error: estimates never undercount the exact counts
    exact = {
        r.key: r.cnt
        for r in events.groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    est = {
        r.key: r.est_count
        for r in estimate_counts(
            spark, store, events.distinct(), "key"
        ).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= n for k, n in exact.items())

    # same-run replay skipped; cross-run regression loud
    import os

    run_id = os.path.abspath(str(tmp_path / "ckpt"))
    merge_cms_batch(spark, events, store, "key", batch_id=0, run_id=run_id)
    assert {
        (r.j, r.pos): r.n for r in read_published(spark, store).collect()
    } == got_cells
    with pytest.raises(ValueError, match="different run"):
        merge_cms_batch(
            spark, events, store, "key", batch_id=0, run_id="other"
        )


def test_dsir_gate_stream_matches_store_scoring(spark, tmp_path):
    """Streaming DSIR admission gate: file-batches scored against a
    prebuilt ratio store reproduce the store-scoring composition
    exactly (the store pins both histograms, so batch boundaries
    cannot move any weight — the reason the gate is store-backed, see
    the module doc), every arriving doc lands a decision with the
    threshold cut applied, a within-run replay is a no-op, and a
    cross-run batch-id regression fails loudly."""
    import math
    import os
    import time

    import pytest

    from etl_with_s3__dynamodb_and_glue_spark.operators import importance
    from etl_with_s3__dynamodb_and_glue_spark.streaming.dsir_gate import (
        dsir_gate_stream,
        score_batch,
    )
    from etl_with_s3__dynamodb_and_glue_spark.streaming.marker import read_batches

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    store = str(tmp_path / "ratio_store")
    importance.build_dsir_store(docs, F.col("lang") == "en", store)

    arrivals = docs.select("doc_id", "text")
    arr1 = arrivals.filter(F.col("doc_id") % 2 == 0)
    arr2 = arrivals.filter(F.col("doc_id") % 2 == 1)
    src = tmp_path / "arrivals"
    arr1.coalesce(1).write.parquet(str(src / "f0"))
    arr2.coalesce(1).write.parquet(str(src / "f1"))
    now = time.time()
    for sub, age in (("f0", 200), ("f1", 100)):
        for p in (src / sub).rglob("*.parquet"):
            os.utime(p, (now - age, now - age))

    decisions_dir = str(tmp_path / "decisions")
    ckpt = str(tmp_path / "ckpt")
    threshold = 0.5
    q = dsir_gate_stream(
        spark.readStream.schema(arr1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*"),
        store,
        decisions_dir,
        ckpt,
        log_weight_min=threshold,
    )
    q.awaitTermination(180)

    got = {
        r.doc_id: (r.n_feats, r.log_weight, r.admitted)
        for r in read_batches(spark, decisions_dir).collect()
    }
    want = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in importance.dsir_score_with_store(arrivals, store).collect()
    }
    assert set(got) == set(want)  # every arriving doc decided
    for d, (nf, lw, adm) in got.items():
        assert nf == want[d][0]
        # the gate lands the 6-dp-ROUNDED weight and cuts on it (so
        # engines/replays can't flip a boundary doc)
        assert lw == round(want[d][1], 6)
        assert adm == (lw >= threshold)
    assert any(a for _, _, a in got.values())
    assert not all(a for _, _, a in got.values())

    # within-run replay of a landed batch id is a no-op: rescoring
    # batch 1 with a threshold that WOULD flip every decision must
    # leave the landed decisions untouched
    run_id = os.path.abspath(ckpt)
    score_batch(
        arr2, 1, store, decisions_dir, log_weight_min=1e9, run_id=run_id
    )
    after = {
        r.doc_id: r.admitted
        for r in read_batches(spark, decisions_dir).collect()
    }
    assert after == {d: a for d, (_, _, a) in got.items()}

    # cross-run regression (fresh checkpoint renumbering from 0
    # against this run's state) fails loudly
    with pytest.raises(ValueError, match="different run"):
        score_batch(
            arr1, 0, store, decisions_dir, run_id="/other/ckpt"
        )


def test_doc_dsir_admissions_episode_matches_serving_scores(spark, tmp_path):
    """The registered gate query (doc_dsir_admissions) lands its
    two-batch episode with exactly the store-serving scores: every
    arrival decided once, weights equal to dsir_score_with_store
    against a store built from the same corpus split, the admit cut
    applied at the declared threshold, and the md5-parity batch
    assignment it documents."""
    import math

    from etl_with_s3__dynamodb_and_glue_spark.operators import importance
    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        hash_bucket,
        hex_threshold,
    )
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        DSIR_GATE_THRESHOLD,
        _GATE_BATCH_SALT,
        doc_dsir_admissions,
    )
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        _split_arrivals,
    )

    got = {r.doc_id: r for r in doc_dsir_admissions(spark, SF_SMOKE).collect()}

    arrivals, corpus = _split_arrivals(spark, SF_SMOKE)
    store = str(tmp_path / "ratio_store")
    importance.build_dsir_store(corpus, F.col("lang") == "en", store)
    want = {
        r.doc_id: r
        for r in importance.dsir_score_with_store(arrivals, store).collect()
    }
    parity = {
        r.doc_id: r.b
        for r in arrivals.select(
            "doc_id",
            (
                hash_bucket("doc_id", _GATE_BATCH_SALT)
                < F.lit(hex_threshold(0.5))
            ).alias("b"),
        ).collect()
    }

    assert set(got) == set(want)  # every arrival decided exactly once
    for d, row in got.items():
        assert row.n_feats == want[d].n_feats
        assert row.log_weight == round(want[d].log_weight, 6)
        assert row.admitted == (
            round(want[d].log_weight, 6) >= DSIR_GATE_THRESHOLD
        )
        assert row.batch_id == (0 if parity[d] else 1)
    assert {r.batch_id for r in got.values()} == {0, 1}
    assert any(r.admitted for r in got.values())
    assert not all(r.admitted for r in got.values())
