"""Validation gates (S5/S6, loud-failure C4/C5 stance) and observation
metrics (C6)."""

from __future__ import annotations

import gzip

import pytest

from etl_with_s3__dynamodb_and_glue_spark.functions.metrics import with_stage_metrics
from etl_with_s3__dynamodb_and_glue_spark.sources.validation import (
    ValidationError,
    require_columns,
    require_csv_columns,
    require_nonempty,
)


def test_require_columns_subset_semantics(spark):
    df = spark.createDataFrame([(1, "a", "x")], "id long, name string, extra string")
    # extra columns permitted (reference dag.py subset check)
    assert require_columns(df, ["id", "name"]) is df
    with pytest.raises(ValidationError, match="missing required columns"):
        require_columns(df, ["id", "nope"], table="t")


def test_require_csv_columns(spark, tmp_path):
    p = tmp_path / "f.csv"
    p.write_text("user_id,user_name,extra\n1,alice,x\n")
    require_csv_columns(spark, str(p), ["user_id", "user_name"], "users")
    with pytest.raises(ValidationError, match="missing required columns"):
        require_csv_columns(spark, str(p), ["user_id", "missing_col"], "users")


def test_require_csv_columns_no_files(spark, tmp_path):
    with pytest.raises(ValidationError, match="no readable CSV"):
        require_csv_columns(spark, str(tmp_path / "absent"), ["a"], "t")


def test_require_csv_columns_checks_every_file(spark, tmp_path):
    """A folder read takes its column names from one file only, so a
    later file without a required column must fail validation by name
    rather than land with shifted columns."""
    streams = tmp_path / "streams"
    streams.mkdir()
    (streams / "streams1.csv").write_text("user_id,track_id,listen_time\n1,t1,2024-06-25 10:00:00\n")
    (streams / "streams2.csv").write_text("user_id,listen_time\n2,2024-06-25 11:00:00\n")
    with pytest.raises(ValidationError, match=r"streams2\.csv missing required columns \['track_id'\]"):
        require_csv_columns(spark, str(streams), ["user_id", "track_id", "listen_time"], "streams")


def test_require_csv_columns_glob_hidden_and_quoted(spark, tmp_path):
    """Globs resolve like Spark's reader: hidden and ``_`` files are not
    data, empty files carry no header, compressed files are decoded and
    quoted names parse as CSV."""
    d = tmp_path / "in"
    (d / "day=1").mkdir(parents=True)
    (d / "day=1" / "a.csv").write_text('"user_id","user, name"\n1,x\n')
    (d / "day=1" / "b.csv.gz").write_bytes(gzip.compress(b'user_id,"user, name",extra\n2,y,z\n'))
    (d / "day=1" / "empty.csv").write_text("")
    (d / "day=1" / ".a.csv.crc").write_text("garbage\n")
    (d / "_SUCCESS").write_text("nothing\n")
    for path in (str(d), f"{d}/day=*/*.csv"):
        require_csv_columns(spark, path, ["user_id", "user, name"], "users")
    with pytest.raises(ValidationError, match="no readable CSV"):
        require_csv_columns(spark, f"{d}/day=*/empty.csv", ["user_id"], "users")


def test_require_nonempty(spark):
    df = spark.range(1)
    assert require_nonempty(df) is df
    with pytest.raises(ValidationError, match="empty"):
        require_nonempty(df.filter("id < 0"), table="t")


def test_stage_metrics_computed_during_action(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id long, v string"
    )
    instrumented, obs = with_stage_metrics(df, null_check_cols=["v"])
    assert instrumented.count() == 3  # the consuming action
    got = obs.get
    assert got["rows"] == 3
    assert got["null_v"] == 2


def test_read_jsonl_enforced_schema(spark, tmp_path):
    from etl_with_s3__dynamodb_and_glue_spark.sources.readers import read_jsonl
    from pyspark.sql import types as T

    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "score": 1.5}\n'
        '{"id": 2, "name": "b", "score": 2.5, "extra": "ignored"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows = {(r.id, r.name, r.score) for r in read_jsonl(spark, str(p), schema).collect()}
    assert rows == {(1, "a", 1.5), (2, "b", 2.5)}
