"""End-to-end batch episode: write KPI tables to the parquet KV sink,
verify upsert-by-partition semantics, verify archival."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.plans import music_pipeline as mp
from etl_with_s3__dynamodb_and_glue_spark.sources.archive import archive_files
from etl_with_s3__dynamodb_and_glue_spark.sources.readers import read_events
from etl_with_s3__dynamodb_and_glue_spark.sources.sinks import ParquetKeyValueSink
from tests.conftest import SF_SMOKE
from tests.fixtures_gen import generate


def test_batch_episode_end_to_end(spark, tmp_path):
    paths = generate(tmp_path / "music")
    out = tmp_path / "warehouse"
    archive = tmp_path / "archive"

    counts = mp.run_batch_episode(
        spark,
        users_path=paths["users"],
        songs_path=paths["songs"],
        streams_path=paths["streams"],
        sink=ParquetKeyValueSink(str(out)),
        archive_root=str(archive),
    )
    assert counts["GenreKPIs"] > 0
    assert counts["TopSongs"] > 0
    assert counts["TopGenres"] > 0

    # serving-side point lookup prunes by partition (SURVEY.md §3 EP3)
    kpis = spark.read.parquet(str(out / "GenreKPIs"))
    one_day = kpis.filter("date = '2024-06-25'")
    assert one_day.count() > 0
    assert "PartitionFilters: [isnotnull(date" in one_day._jdf.queryExecution().toString()

    # archive moved every stream file, preserving names, source emptied
    archived = list(archive.rglob("*.csv"))
    assert len(archived) == 6
    assert not list(Path(paths["streams"]).rglob("*.csv"))


def test_batch_episode_jobs_stay_in_callers_job_group(spark, tmp_path):
    """The concurrent table writes inherit the caller's job group, by
    which a caller counts or cancels the episode's jobs."""
    paths = generate(tmp_path / "music")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener_bus = sc._jsc.sc().listenerBus()
    listener_bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("batch-episode", "one episode")
    try:
        mp.run_batch_episode(
            spark, paths["users"], paths["songs"], paths["streams"], ParquetKeyValueSink(str(tmp_path / "wh"))
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    listener_bus.waitUntilEmpty()
    assert tracker.getJobIdsForGroup("batch-episode")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


class _FailingSink(ParquetKeyValueSink):
    def write(self, df, table, key):
        if table == "TopSongs":
            raise RuntimeError("TopSongs sink down")
        super().write(df, table, key)


def test_batch_episode_failed_write_keeps_inputs_and_frees_caches(spark, tmp_path):
    """One failed table write fails the episode after the other writes
    finish: nothing is archived and the shared caches are released."""
    paths = generate(tmp_path / "music")
    streams = sorted(Path(paths["streams"]).rglob("*.csv"))
    persisted = spark.sparkContext._jsc.getPersistentRDDs

    before = set(persisted().keys())
    with pytest.raises(RuntimeError, match="TopSongs sink down"):
        mp.run_batch_episode(
            spark,
            paths["users"],
            paths["songs"],
            paths["streams"],
            _FailingSink(str(tmp_path / "wh")),
            archive_root=str(tmp_path / "archive"),
        )
    assert sorted(Path(paths["streams"]).rglob("*.csv")) == streams
    assert not (tmp_path / "archive").exists()
    assert set(persisted().keys()) <= before
    assert (tmp_path / "wh" / "GenreKPIs").is_dir() and (tmp_path / "wh" / "TopGenres").is_dir()


def test_parquet_sink_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic overwrite is the sink's writer option; the session's
    setting, which every other overwrite in the session reads, stays."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(conf)
    default = spark.conf.get(conf)
    df = spark.createDataFrame([("2024-06-25", 1)], "date string, n int")
    ParquetKeyValueSink(str(tmp_path / "kv")).write(df, "t", key="date")
    assert spark.conf.get(conf) == default


def test_parquet_sink_upsert_by_key(spark, tmp_path):
    sink = ParquetKeyValueSink(str(tmp_path / "kv"))
    df1 = spark.createDataFrame(
        [("2024-06-25", "a", 1), ("2024-06-26", "b", 2)], "date string, g string, n int"
    )
    sink.write(df1, "t", key="date")
    # re-process day 26 with new values: only that partition replaced
    df2 = spark.createDataFrame([("2024-06-26", "b", 99)], "date string, g string, n int")
    sink.write(df2, "t", key="date")
    # partition values round-trip through partition-type inference (str→date)
    got = {
        (str(r.date), r.n)
        for r in spark.read.parquet(str(tmp_path / "kv" / "t")).collect()
    }
    assert got == {("2024-06-25", 1), ("2024-06-26", 99)}


def test_archive_preserves_subfolders(spark, tmp_path):
    src = tmp_path / "raw"
    (src / "sub").mkdir(parents=True)
    (src / "a.csv").write_text("x\n1\n")
    (src / "sub" / "b.csv").write_text("y\n2\n")
    moved = archive_files(spark, str(src), str(tmp_path / "arch"), date="2024-06-25")
    assert len(moved) == 2
    assert (tmp_path / "arch" / "2024-06-25" / "a.csv").exists()
    assert (tmp_path / "arch" / "2024-06-25" / "sub" / "b.csv").exists()


def test_write_dataset_layout(spark, tmp_path):
    """Partitioned + range-clustered landing: hive dirs exist, files
    are zstd, row groups are sorted on the cluster key, and file count
    tracks target_files rather than input task count."""
    from pathlib import Path

    from etl_with_s3__dynamodb_and_glue_spark.sources.dataset import write_dataset

    events = read_events(spark, SF_SMOKE).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = tmp_path / "ds"
    write_dataset(
        events.repartition(16),  # deliberately fragmented input
        str(out),
        partition_by=["day"],
        cluster_by=["ts"],
        target_files=4,
    )
    files = list(Path(out).rglob("*.parquet"))
    assert files
    assert len(files) <= 4 + len(list(Path(out).glob("day=*")))
    assert all("day=" in str(f.parent) for f in files)

    back = spark.read.parquet(str(out))
    assert back.count() == events.count()
    # per-file sortedness on the cluster key
    one = spark.read.parquet(str(files[0]))
    ts = [r.ts for r in one.select("ts").collect()]
    assert ts == sorted(ts)
