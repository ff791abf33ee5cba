"""Streaming music-KPI pipeline: the reference's entire Airflow DAG
(sense → validate → transform → write → archive, reference
dag.py:239-240) as ONE Structured Streaming query.

Mapping (SURVEY.md §2.8):

- S3KeySensor polling (reference dag.py:35-49)   → file-source discovery;
  ``Trigger.AvailableNow`` = "process everything that has arrived, then
  stop", i.e. exactly one sensed macro-batch episode.
- archive task (reference dag.py:168-229, 62 LoC) → ``cleanSource=
  'archive'`` + ``sourceArchiveDir`` — built-in, zero code. Spark
  archives a batch's files after a LATER batch commits, so the last
  episode's files are archived at the start of the next episode — same
  eventual state as the reference, shifted one episode.
- per-run overwrite of DynamoDB items (glue_job.py:115,123,131)
  → ``foreachBatch`` into the keyed-upsert sink (partition overwrite).
- schema enforcement (dag.py:114-137) → explicit StructType on the
  stream reader; unparseable rows surface as nulls/failures, never
  silently inferred.

Scale note: the file source tracks seen files in the checkpoint log —
at 100 TB the per-episode work is bounded by *new* files only, unlike
the reference, which re-reads the whole folder every DAG run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..plans import music_pipeline as mp
from ..schemas import SONGS, STREAMS
from ..sources.readers import read_csv
from ..sources.sinks import KeyValueSink
from .marker import start_available_now


def stream_csv_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a folder of CSVs with enforced schema.

    ``archive_dir`` enables the built-in processed-file mover
    (replaces reference dag.py:168-229). Spark requires the archive
    location to not overlap the source glob.
    """
    reader = spark.readStream.schema(schema).option("header", True)
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def run_streaming_episode(
    spark: SparkSession,
    songs_path: str,
    streams_dir: str,
    sink: KeyValueSink,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """One AvailableNow episode of the full KPI pipeline.

    The songs dimension is read as a static batch table (it is a
    dimension, not a stream) and joined into every micro-batch —
    a stream-static join, broadcast on the static side.

    ``foreachBatch`` recomputes and upserts the three KPI tables for
    the date partitions present in the new files; days absent from the
    batch are untouched (the reference's overwrite-by-key semantics).
    """
    songs = mp.clean_songs(read_csv(spark, songs_path, SONGS), deterministic=True)
    stream = stream_csv_source(spark, streams_dir, STREAMS, archive_dir=archive_dir)

    def process(batch_df: DataFrame, batch_id: int, _run_id: str) -> None:
        enriched = mp.enrich(mp.clean_streams(batch_df), songs).persist()
        counts = mp.song_counts(enriched).persist()
        try:
            mp.write_tables(
                batch_df.sparkSession,
                sink,
                {
                    "GenreKPIs": mp.genre_kpis(enriched),
                    "TopSongs": mp.top_songs(counts),
                    "TopGenres": mp.top_genres_compat(counts),
                },
            )
        finally:
            counts.unpersist()
            enriched.unpersist()

    query = start_available_now(stream, checkpoint_dir, process)
    finished = query.awaitTermination(timeout_sec)
    if not finished:
        # The episode boundary must be deterministic: callers treat the
        # return as "episode complete" and may read sinks or start the
        # next episode. Stop the straggler and fail loudly rather than
        # return with the query still writing.
        query.stop()
        raise TimeoutError(
            f"streaming episode did not finish within {timeout_sec}s; "
            "query stopped to keep the episode boundary deterministic"
        )
    return query


def windowed_genre_kpis_stream(
    streams: DataFrame,
    songs: DataFrame,
    watermark: str = "2 days",
) -> DataFrame:
    """Continuous-mode variant of GenreKPIs: a 1-day tumbling event-time
    window with a watermark instead of the derived ``date`` string.

    The reference handles late data by re-running the whole DAG and
    overwriting items (SURVEY.md §2.8); here the watermark bounds state
    and late rows within the bound update their window in place.
    Works identically on a batch DataFrame (window-grouped agg), which
    is how the DuckDB oracle checks it.
    """
    with_ts = streams.withColumn(
        "ts", F.to_timestamp("listen_time", "yyyy-MM-dd HH:mm:ss")
    ).filter(F.col("ts").isNotNull())
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("ts", watermark)
    joined = with_ts.join(
        F.broadcast(songs), with_ts["track_id"] == songs["track_id"], "left"
    )
    seconds = (
        F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    ).alias("listen_time_seconds")
    return (
        joined.where(~F.col("track_genre").rlike(r"^[0-9]+(\.[0-9]+)?$"))
        .select("ts", "track_genre", "user_id", seconds)
        .groupBy(F.window("ts", "1 day").alias("w"), "track_genre")
        .agg(
            F.count(F.lit(1)).alias("listen_count"),
            F.sum("listen_time_seconds").alias("total_listening_time"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("date"),
            "track_genre",
            "listen_count",
            "total_listening_time",
        )
    )


def dedup_stream(
    events: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Exactly-once ingest dedup: drop redelivered rows whose keys
    were already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark``).

    This is the streaming twin of exact dedup (operators/dedup.py) for
    at-least-once upstream delivery (S3 multi-upload, replayed queue
    segments). The watermark bounds state: a plain streaming
    ``dropDuplicates`` would keep every key forever — unbounded state
    at 100 TB/day — while the within-watermark variant expires keys
    once no duplicate can still arrive. Works on a batch DataFrame too
    (plain ``dropDuplicates``), which is how tests establish parity.
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            id_cols
        )
    return events.dropDuplicates(id_cols)
