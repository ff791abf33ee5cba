"""Schema-enforced readers.

The engine default is columnar Parquet (vectorized reader, predicate
pushdown, partition pruning). A CSV reader is retained as an ingestion
option because the reference ingests CSV (reference glue_job.py:51-53),
but ALWAYS with an explicit schema — ``inferSchema`` is a full extra
data pass and is banned at scale (SURVEY.md §1.2).

Folder paths are first-class: reading a directory of files is one
DataFrame (implicit UNION ALL), exactly how the reference consumes the
accumulating ``streams/`` folder (reference glue_job.py:53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import STAR_TABLES


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read one file or a folder of CSVs with an enforced schema.

    ``mode='FAILFAST'`` turns malformed rows into job failures (the
    loud-failure stance SURVEY.md C5 demands, unlike the reference's
    swallow-and-commit at glue_job.py:136-142).
    """
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("mode", mode)
        .csv(path)
    )


CORRUPT_COL = "_corrupt_record"


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = CORRUPT_COL,
) -> DataFrame:
    """PERMISSIVE CSV read that captures malformed rows instead of
    silently nulling or dropping them.

    The reference's songs.csv contains misaligned rows (numeric garbage
    in ``track_genre``) that it only handles *after* the fact with a
    regex filter (reference glue_job.py:83). The engine-quality answer
    is row-level quarantine at the read boundary: any line that fails to
    parse against the declared schema lands with its raw text in
    ``corrupt_col`` and NULLs in the typed columns, so downstream code
    can split clean rows from quarantined ones without losing evidence.
    Scales trivially — the corrupt column is a per-row map, no shuffle.

    Implementation: a ``text`` scan parsed with :func:`from_csv` rather
    than the CSV file source. The file source forbids plans whose only
    referenced column is the internal corrupt column (its parser prunes
    columns, so the corrupt record would be vacuous) — making every
    derived plan's legality depend on a cache being alive. ``from_csv``
    is an ordinary expression with no such restriction: any projection
    of the parsed struct is legal on a cold plan. Header lines (one per
    file in a folder scan) are dropped by exact match against the
    schema's comma-joined field names.
    """
    from pyspark.sql import functions as F

    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    lines = spark.read.text(path)
    if header:
        header_line = ",".join(f.name for f in schema.fields)
        lines = lines.filter(F.col("value") != header_line)
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in full.fields
    )
    parsed = F.from_csv(
        F.col("value"),
        ddl,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
    )
    return lines.select(parsed.alias("r")).select("r.*")


def split_quarantine(
    df: DataFrame, corrupt_col: str = CORRUPT_COL
) -> tuple[DataFrame, DataFrame]:
    """Split a quarantine-read DataFrame into (clean, quarantined).

    Clean rows drop the corrupt column; quarantined rows keep the raw
    line for forensics / reprocessing. The input is cached only so both
    halves share one parse of the underlying scan — since the read path
    is ``from_csv`` over a text scan (see :func:`read_csv_quarantine`),
    a released cache means recompute, never an illegal plan. The cache
    is released once BOTH halves have been dropped by the caller (no
    session-lifetime leak); each half also keeps a strong reference to
    the cached input, so the release cannot fire while either half is
    still reachable.
    """
    from pyspark.sql import functions as F

    from ..caching import unpersist_on_release_all

    df = df.cache()
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantined = df.filter(F.col(corrupt_col).isNotNull())
    unpersist_on_release_all([clean, quarantined], df)
    return clean, quarantined


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_parquet_evolving(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read a parquet dataset whose files were written under EVOLVING
    schemas (long-lived landing zones gain columns over time).

    With an explicit ``schema`` (preferred — one source of truth, no
    footer pass): files missing a column yield NULLs for it, extra
    on-disk columns are ignored — the standard parquet projection
    contract. Without one, ``mergeSchema`` unions the footers of ALL
    files; correct, but a full footer sweep per query — at 100 TB pin
    the schema instead (or let a table catalog own it).
    """
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.option("mergeSchema", True).parquet(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read newline-delimited JSON with an enforced schema (same
    no-inference stance as CSV: schema inference on JSON is a full
    extra pass and type-unstable across files)."""
    return spark.read.schema(schema).option("mode", mode).json(path)


def pin_naive_timestamp_semantics(spark: SparkSession) -> None:
    """Pin session confs so timestamp semantics are well-defined
    regardless of how the caller built the session.

    The testdata parquet stores timezone-naive timestamps; rendering
    them (date_format, hour/minute/second) in any session timezone
    other than UTC shifts day buckets and changes results. UTC is the
    faithful interpretation (and the one the DuckDB oracle uses).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# Per-process memo of parquet FILE SCHEMAS. METADATA ONLY — no rows,
# no results, no plan fragments are ever cached here: the memo replays
# exactly what a fresh ``spark.read.parquet(path)`` would infer from the
# footer, so every consumer's plan (and therefore result) is identical
# to the memo-free read. What it saves is the per-call driver work of
# re-resolving the DataSource and re-reading the footer — measured
# 0.15 s → 0.035 s per read call on the bench host (~4×, the same class
# of win as a file-listing cache, applied to schema inference). At
# 100 TB this is what a table catalog (metastore/Iceberg manifest)
# provides; bare-path parquet reads are the only reason the engine
# pays it per query.
#
# The key is (path, inference confs, data files): the confs that change
# what inference returns for the same bytes, and the sorted
# (relative name, mtime_ns, size) of every data file under the path —
# a file rewritten in place inside a dataset directory leaves the
# directory's own stat unchanged, so the directory cannot stand for
# its files. A miss evicts the path's entries for superseded files.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}


def data_files(path: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted (relative name, mtime_ns, size) of the files a parquet
    scan of ``path`` reads: the path itself when it is a file, else
    every file below it except the hidden/metadata ones Spark skips
    (names starting with ``_`` or ``.``)."""
    import os

    st = os.stat(path)
    if not os.path.isdir(path):
        return (("", st.st_mtime_ns, st.st_size),)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                fst = os.stat(os.path.join(root, n))
                rel = os.path.relpath(os.path.join(root, n), path)
                files.append((rel, fst.st_mtime_ns, fst.st_size))
    return tuple(sorted(files))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read input table ``name`` (``{sf_dir}/{name}.parquet``) — the
    one way plan functions read the dataset they are run against —
    through the schema memo above; plans and results are those of the
    plain read. Falls back to the plain read when the path cannot be
    listed (e.g. an object-store URI): the memo is an optimization,
    never a requirement."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (
            path,
            tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
            data_files(path),
        )
    except Exception:  # noqa: BLE001 — unlistable path or unknown conf
        return spark.read.parquet(path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    for k in list(_SCHEMA_MEMO):
        if k[0] == path and k[2] != key[2]:
            _SCHEMA_MEMO.pop(k, None)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = df.schema
    return df


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events fact table, normalizing ``ts`` to TIMESTAMP.

    Parquet writers vary in how they store timestamps, and a general
    engine must accept every flavor and present ONE session type:

    - TIMESTAMP(NANOS): Spark cannot map it to TimestampType natively;
      with ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives
      as nanoseconds-since-epoch LongType and we truncate to
      microseconds (integer ``div`` — same truncation DuckDB applies
      when it reads the ns column as its µs TIMESTAMP, so oracle
      comparisons agree).
    - TIMESTAMP(isAdjustedToUTC=false): arrives as TIMESTAMP_NTZ,
      which many timestamp functions (``unix_micros``, ``window``
      pre-3.4) reject. Cast to TIMESTAMP — value-preserving under the
      pinned UTC session zone (the faithful reading of a naive
      timestamp, and the one the DuckDB oracle uses).
    - TIMESTAMP(isAdjustedToUTC=true): already TimestampType; no-op.
    """
    pin_naive_timestamp_semantics(spark)
    df = read_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_star_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES
) -> dict[str, DataFrame]:
    """Load the driver testdata tables for one scale factor."""
    return {name: read_table(spark, sf_dir, name) for name in names}


def register_star_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES
) -> None:
    """Register every star table as a temp view so ad-hoc
    ``spark.sql(...)`` works against the dataset — the SQL half of the
    engine's surface (same declarative plans, same Catalyst
    optimizations; views are lazy scans, so unused tables cost
    nothing). Events get the same timestamp normalization as
    :func:`read_events`."""
    for name in names:
        df = (
            read_events(spark, sf_dir)
            if name == "events"
            else read_table(spark, sf_dir, name)
        )
        df.createOrReplaceTempView(name)
