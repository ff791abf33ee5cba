"""t1-style smoke + t2-style oracle checks for the driver contract."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_harness import compare


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "rank" in df.columns


def test_queries_have_callables_and_oracles(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "no queries declared"
    unknown = set(oracles) - set(qs)
    assert not unknown, f"oracles without queries: {unknown}"


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    result = compare(spark, SF_ORACLE, name, qs[name], oracles.get(name))
    assert result["ok"], result


def test_entry_runs_at_smoke_scale(spark):
    qs = entry_mod.queries()
    for name, fn in qs.items():
        assert fn(spark, SF_SMOKE).count() >= 0, name


def test_bench_headline_names_are_declared():
    """Every name bench.py times must resolve in the registry, so a
    rename fails here, not as a silent 'not in registry' error row
    mid-bench-run."""
    import bench

    qs = entry_mod.queries()
    missing = [n for n in bench.HEADLINE + bench.EXTRAS if n not in qs]
    assert not missing, missing


def test_bench_env_records_the_session(spark):
    """bench.py's env block reports the session the run actually used,
    including the codegen cache size a session built elsewhere lacks."""
    import os

    import bench
    from etl_with_s3__dynamodb_and_glue_spark.session import CODEGEN_CACHE_ENTRIES

    env = bench._environment(spark)
    assert env["master"] == spark.sparkContext.master
    assert env["default_parallelism"] == spark.sparkContext.defaultParallelism
    assert env["shuffle_partitions"] == spark.conf.get("spark.sql.shuffle.partitions")
    assert env["spark_graft_cpus"] == os.environ.get("SPARK_GRAFT_CPUS")
    assert env["spark_version"] == spark.version
    assert env["git_sha"] is None or len(env["git_sha"]) == 40
    assert env["codegen_cache_max_entries"] == str(CODEGEN_CACHE_ENTRIES)


def test_sql_surface_matches_dataframe_plan(spark):
    """register_star_views exposes the SQL half of the API: the same
    query written in SQL equals its DataFrame twin (and events.ts is
    normalized for both)."""
    from pyspark.sql import functions as F

    from etl_with_s3__dynamodb_and_glue_spark.sources.readers import (
        read_events,
        register_star_views,
    )

    register_star_views(spark, SF_SMOKE)
    got = {
        (r.day, r.n, round(r.total, 6))
        for r in spark.sql(
            "SELECT to_date(ts) AS day, COUNT(*) AS n, SUM(value) AS total "
            "FROM events GROUP BY to_date(ts)"
        ).collect()
    }
    want = {
        (r.day, r.n, round(r.total, 6))
        for r in read_events(spark, SF_SMOKE)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want and len(got) > 0
