"""Data-quality gates, re-expressed in-engine.

The reference validates in the orchestrator: an S3 listing must be
non-empty (reference dag.py:59-95) and each CSV must contain a required
column subset, checked via a pandas read (reference dag.py:114-137).
Here neither gate uses pandas or a second read of the data. Column
checks on a DataFrame are metadata-only (``df.columns``); column checks
on raw CSV inputs read the first line of every data file through the
Hadoop FileSystem API on the driver, which starts no Spark job and works
the same on file://, hdfs:// and s3a:// paths. Emptiness checks use
``isEmpty()``, which stops at the first row found.
"""

from __future__ import annotations

import csv
from collections.abc import Iterable

from pyspark.sql import DataFrame


class ValidationError(ValueError):
    """Raised when a pipeline gate fails (engine fails loudly; the
    reference's swallow-and-report-success behavior — glue_job.py:136-142
    — is a documented defect we do not reproduce, SURVEY.md C5)."""


def require_columns(df: DataFrame, required: Iterable[str], table: str = "<df>") -> DataFrame:
    """Subset-semantics column contract (reference dag.py:133-137):
    required ⊆ actual; extra columns are permitted."""
    missing = set(required) - set(df.columns)
    if missing:
        raise ValidationError(f"{table}: missing required columns {sorted(missing)}")
    return df


def require_csv_columns(spark, path: str, required: Iterable[str], table: str = "<csv>") -> None:
    """Header-level contract check for raw CSV inputs (reference
    dag.py:114-137, which pandas-reads each file to compare columns).

    A schema-enforced read always carries every declared column, so the
    contract must be checked against each file's ACTUAL header, and
    against every file: Spark takes the column names of a folder read
    from one file only, so a later file without a required column would
    land with its columns shifted. ``path`` is a file, a directory or a
    glob, resolved as Spark resolves it (directories recursively, names
    starting with ``_`` or ``.`` skipped, compressed files decoded).
    Empty files carry no header and are skipped; if no file has one the
    input is unreadable.
    """
    required = set(required)
    headers = _csv_headers(spark, path)
    if not headers:
        raise ValidationError(f"{table}: no readable CSV files at {path}")
    for file, columns in headers.items():
        missing = required - set(columns)
        if missing:
            raise ValidationError(f"{table}: {file} missing required columns {sorted(missing)}")


def _csv_headers(spark, path: str) -> dict[str, list[str]]:
    """Parsed first line of every non-empty data file under ``path``."""
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)

    def visible(statuses):
        return [s for s in statuses or [] if not s.getPath().getName().startswith(("_", "."))]

    files, pending = [], visible(fs.globStatus(hpath))
    while pending:
        status = pending.pop()
        if status.isDirectory():
            pending.extend(visible(fs.listStatus(status.getPath())))
        else:
            files.append(status.getPath())

    headers = {}
    for file in sorted(files, key=lambda f: f.toString()):
        stream = fs.open(file)
        try:
            codec = codecs.getCodec(file)
            if codec is not None:
                stream = codec.createInputStream(stream)
            line = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            ).readLine()
        finally:
            stream.close()
        if line:
            headers[file.toString()] = next(csv.reader([line]))
    return headers


def require_nonempty(df: DataFrame, table: str = "<df>") -> DataFrame:
    """Fail-fast on empty input (reference dag.py:82-84)."""
    if df.isEmpty():
        raise ValidationError(f"{table}: input is empty")
    return df
