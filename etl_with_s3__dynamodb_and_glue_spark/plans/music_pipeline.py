"""The reference's product: the music-streaming KPI pipeline,
re-expressed Spark-first.

Reference lineage (glue_job.py:51-100): read users/songs/streams CSVs
→ cast/clean (dropna, dedup songs, numeric-genre regex filter) → left
join streams⋈songs → derive date + listen_time_seconds → three KPI
tables (GenreKPIs, TopSongs, TopGenres) → DynamoDB.

Differences from the reference, all deliberate (SURVEY.md §7):

- Explicit schemas on read; explicit to_timestamp (F7) instead of
  implicit string→timestamp coercion.
- The shared lineage is persist()ed once instead of recomputed per
  sink (fixes Q5 — the reference re-scans all CSVs three times), and
  the three tables are written concurrently (``write_tables``).
- Both reference-faithful ("compat": Q1 time-of-day seconds, Q2
  non-distinct unique_listeners, Q3 top-songs-as-top-genres) and
  intended semantics are exposed.
- Failures are loud (C5): no swallow-and-commit.

Each builder takes already-cleaned DataFrames so the transforms are
unit-testable; ``run_pipeline`` composes the whole thing.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.datetime_fns import day_bucket, time_of_day_seconds
from ..functions.metrics import with_stage_metrics
from ..operators.cleaning import dedup_by_key, drop_null_keys, filter_not_numeric
from ..operators.windows import ranked_desc, top_k_per_group
from ..schemas import REQUIRED_COLUMNS, SONGS, STREAMS
from ..sources.readers import read_csv
from ..sources.validation import require_csv_columns, require_nonempty


def clean_streams(streams: DataFrame) -> DataFrame:
    """Reference glue_job.py:56-60: normalize types, drop rows with
    null keys."""
    return drop_null_keys(streams, ["track_id", "user_id", "listen_time"])


def clean_songs(songs: DataFrame, deterministic: bool = False) -> DataFrame:
    """Reference glue_job.py:52,61-62: project the three contract
    columns, drop null keys, dedup by track_id.

    ``deterministic=True`` picks the survivor by full-row ordering so
    results are oracle-checkable (SURVEY.md D1)."""
    projected = songs.select("track_id", "track_name", "track_genre")
    deduped = dedup_by_key(
        drop_null_keys(projected, ["track_id", "track_name", "track_genre"]),
        ["track_id"],
        order_by=["track_name", "track_genre"] if deterministic else None,
    )
    return deduped


def enrich(streams: DataFrame, songs: DataFrame) -> DataFrame:
    """Reference glue_job.py:65-83: left join streams⋈songs (songs side
    broadcast — it is the small dimension), derive date string and Q1
    time-of-day seconds, then drop numeric-garbage genres. The regex
    filter's null semantics silently make the join effectively inner
    (SURVEY.md P7) — preserved.
    """
    joined = streams.alias("s").join(
        F.broadcast(songs.alias("g")),
        F.col("s.track_id") == F.col("g.track_id"),
        "left",
    )
    enriched = joined.select(
        day_bucket(F.col("s.listen_time")).alias("date"),
        F.col("g.track_genre").alias("track_genre"),
        F.col("s.track_id").alias("track_id"),
        F.col("g.track_name").alias("track_name"),
        F.col("s.user_id").alias("user_id"),
        time_of_day_seconds(F.col("s.listen_time")).alias("listen_time_seconds"),
    )
    return filter_not_numeric(enriched, "track_genre")


def song_counts(enriched: DataFrame) -> DataFrame:
    """Reference glue_job.py:86-88: per-(date, genre, song) play counts."""
    return enriched.groupBy("date", "track_genre", "track_id", "track_name").agg(
        F.count("track_id").alias("listen_count")
    )


def genre_kpis(enriched: DataFrame, distinct_listeners: bool = False) -> DataFrame:
    """Reference glue_job.py:95-100. ``distinct_listeners=False`` is
    the reference-faithful Q2 semantics (plain count despite the
    'unique' name); True is the intended semantics."""
    uniq = (
        F.countDistinct("user_id") if distinct_listeners else F.count("user_id")
    ).alias("unique_listeners")
    return enriched.groupBy("date", "track_genre").agg(
        F.count(F.lit(1)).alias("listen_count"),
        uniq,
        F.sum("listen_time_seconds").alias("total_listening_time"),
        (F.sum("listen_time_seconds").cast("double") / F.count(F.lit(1))).alias(
            "avg_listening_time"
        ),
    )


def top_songs(counts: DataFrame, k: int = 3, deterministic: bool = True) -> DataFrame:
    """Reference glue_job.py:89-90: top-k songs per (date, genre).
    Deterministic tie-break on track_id (Q4)."""
    return top_k_per_group(
        counts,
        group_by=["date", "track_genre"],
        order_by=ranked_desc("listen_count", ["track_id"] if deterministic else []),
        k=k,
    )


def top_genres_compat(counts: DataFrame, k: int = 5) -> DataFrame:
    """Reference glue_job.py:91-92, quirk Q3 preserved: 'top genres'
    actually ranks per-SONG rows partitioned by date only — the output
    carries track_id/track_name (golden outputs prove it)."""
    return top_k_per_group(
        counts,
        group_by=["date"],
        order_by=ranked_desc("listen_count", ["track_id"]),
        k=k,
    )


def top_genres_intended(kpis: DataFrame, k: int = 5) -> DataFrame:
    """Q3 intended semantics: rank genre-level aggregates per date."""
    return top_k_per_group(
        kpis.select("date", "track_genre", "listen_count"),
        group_by=["date"],
        order_by=ranked_desc("listen_count", ["track_genre"]),
        k=k,
    )


@dataclass
class MusicPipelineResult:
    genre_kpis: DataFrame
    top_songs: DataFrame
    top_genres: DataFrame
    extras: dict[str, DataFrame] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    users_path: str,
    songs_path: str,
    streams_path: str,
) -> MusicPipelineResult:
    """End-to-end batch pipeline over CSV inputs.

    The enriched fact and song_counts are persisted (MEMORY_AND_DISK)
    because three downstream tables share them — the reference
    recomputes the whole lineage per sink, tripling its input scan
    (SURVEY.md Q5). Callers write the three outputs, then call
    ``unpersist_all``.
    """
    require_csv_columns(spark, users_path, REQUIRED_COLUMNS["users"], "users")
    require_csv_columns(spark, songs_path, REQUIRED_COLUMNS["songs"], "songs")
    require_csv_columns(spark, streams_path, REQUIRED_COLUMNS["streams"], "streams")

    songs = read_csv(spark, songs_path, SONGS)
    streams = read_csv(spark, streams_path, STREAMS)
    require_nonempty(streams, "streams")

    enriched = enrich(
        clean_streams(streams), clean_songs(songs, deterministic=True)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts = song_counts(enriched).persist(StorageLevel.MEMORY_AND_DISK)

    return MusicPipelineResult(
        genre_kpis=genre_kpis(enriched),
        top_songs=top_songs(counts),
        top_genres=top_genres_compat(counts),
        extras={
            "genre_kpis_distinct": genre_kpis(enriched, distinct_listeners=True),
            "top_genres_intended": top_genres_intended(genre_kpis(enriched)),
            "enriched": enriched,
            "song_counts": counts,
        },
    )


def unpersist_all(result: MusicPipelineResult) -> None:
    for name in ("enriched", "song_counts"):
        df = result.extras.get(name)
        if df is not None:
            df.unpersist()


def write_tables(spark: SparkSession, sink, tables: dict[str, DataFrame]) -> dict[str, int]:
    """Upsert every table into ``sink`` (keyed by date) concurrently,
    one thread per table, and return each table's row count.

    The reference lands its KPI tables one after another
    (glue_job.py:103-132); they are independent, and each write alone
    runs jobs of one or two tasks, so running them side by side keeps the
    session's task slots busy. Writes that share a persisted input wait
    on its block locks rather than compute it twice. Each thread inherits
    the caller's local properties (job group, streaming run id), so the
    writes' jobs stay attributable to, and cancellable with, the caller.
    Every write is waited for; the first failure, in table order, is
    then raised.
    """

    def write(table: str, df: DataFrame) -> int:
        # observe() computes the row count DURING the sink write's own
        # job — no second pass over the lineage (the reference logs
        # counts the same single-pass way via Glue job metrics).
        instrumented, obs = with_stage_metrics(df)
        sink.write(instrumented, table, key="date")
        return int(obs.get["rows"])

    write = inheritable_thread_target(spark)(write)
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = {table: pool.submit(write, table, df) for table, df in tables.items()}
    return {table: future.result() for table, future in futures.items()}


def run_batch_episode(
    spark: SparkSession,
    users_path: str,
    songs_path: str,
    streams_path: str,
    sink,
    archive_root: str | None = None,
) -> dict[str, int]:
    """One full pipeline episode — the reference's whole DAG run
    (sense → validate → transform → write 3 tables → archive,
    reference dag.py:239-240) as one driver-side function.

    Table names and hash keys mirror the reference's DynamoDB writes
    (glue_job.py:110-132): GenreKPIs/TopGenres keyed by date, TopSongs
    by track_id... except the default Parquet sink keys ALL tables by
    date: the serving query (README.md:69-75) filters on date, so date
    partitioning is what prunes. Returns per-table row counts.
    """
    from ..sources.archive import archive_files

    result = run_pipeline(spark, users_path, songs_path, streams_path)
    try:
        counts = write_tables(
            spark,
            sink,
            {
                "GenreKPIs": result.genre_kpis,
                "TopSongs": result.top_songs,
                "TopGenres": result.top_genres,
            },
        )
    finally:
        unpersist_all(result)
    if archive_root is not None:
        archive_files(spark, streams_path, archive_root)
    return counts
