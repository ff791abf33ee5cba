"""Schema-memoized table reads (sources/readers.py::read_table, which
read_events goes through): the memo is METADATA ONLY and must be
invisible in plans and results, and must never serve a stale schema
after the files or the inference confs change."""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.sources.readers import (
    _INFERENCE_CONFS,
    _SCHEMA_MEMO,
    read_events,
    read_table,
)
from tests.conftest import SF_SMOKE


def _norm(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return re.sub(r"\b([a-z]+)_\d+#", r"\1_K#", plan)


def _keys(path: str) -> list[tuple]:
    return [k for k in _SCHEMA_MEMO if k[0] == path]


def test_memo_read_matches_plain_read_schema_and_rows(spark):
    for table in ("orders", "documents"):
        plain = spark.read.parquet(f"{SF_SMOKE}/{table}.parquet")
        memo = read_table(spark, SF_SMOKE, table)
        assert memo.schema == plain.schema
        assert memo.exceptAll(plain).count() == 0
        assert plain.exceptAll(memo).count() == 0


def test_memo_is_warm_on_second_read(spark):
    path = f"{SF_SMOKE}/customer.parquet"
    read_table(spark, SF_SMOKE, "customer")
    keys = _keys(path)
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    (files,) = [k[2] for k in keys if k[1] == confs]
    assert [name for name, _, _ in files] == [""]  # a single-file table
    read_table(spark, SF_SMOKE, "customer")
    assert _keys(path) == keys


def test_memo_invalidates_when_file_changes(spark, tmp_path):
    """The key must miss and re-infer — never serve the stale schema —
    when a data file is rewritten in place (the directory's own stat
    does not change) and when the whole dataset is overwritten; each
    miss evicts the superseded entry."""
    path = tmp_path / "t.parquet"
    path.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3]}), path / "part-0.parquet")
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(
        pa.table({"b": [1, 2, 3, 4], "c": ["x"] * 4}), path / "part-0.parquet"
    )
    second = read_table(spark, str(tmp_path), "t")
    assert second.columns == spark.read.parquet(str(path)).columns == ["b", "c"]
    assert second.count() == 4

    spark.range(5).select(F.col("id").alias("d")).write.mode(
        "overwrite"
    ).parquet(str(path))
    third = read_table(spark, str(tmp_path), "t")
    assert third.columns == ["d"]
    assert third.count() == 5
    assert len(_keys(str(path))) == 1


def test_memo_invalidates_when_inference_conf_changes(spark):
    """The same bytes infer differently under different confs: a naive
    parquet timestamp arrives as TIMESTAMP_NTZ or TIMESTAMP depending
    on ``inferTimestampNTZ``; the memo must follow the plain read."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = f"{SF_SMOKE}/orders.parquet"
    original = spark.conf.get(conf)
    seen = {}
    try:
        for value in ("true", "false", "true"):
            spark.conf.set(conf, value)
            memo = read_table(spark, SF_SMOKE, "orders")
            assert memo.schema == spark.read.parquet(path).schema, value
            seen[value] = dict(memo.dtypes)["o_orderdate"]
    finally:
        spark.conf.set(conf, original)
    assert seen == {"true": "timestamp_ntz", "false": "timestamp"}


def test_read_events_plan_identical_memo_cold_and_warm(spark):
    path = f"{SF_SMOKE}/events.parquet"
    for k in _keys(path):
        del _SCHEMA_MEMO[k]
    cold = read_events(spark, SF_SMOKE)
    assert len(_keys(path)) == 1
    warm = read_events(spark, SF_SMOKE)
    a = _norm(cold._jdf.queryExecution().optimizedPlan().toString())
    b = _norm(warm._jdf.queryExecution().optimizedPlan().toString())
    assert a == b
    assert warm.schema == cold.schema
