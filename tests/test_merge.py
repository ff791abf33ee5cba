"""SCD-1 merge operator: semantics, determinism, and the
single-shuffle plan shape."""

from __future__ import annotations

import pytest

from etl_with_s3__dynamodb_and_glue_spark.operators.merge import scd1_merge
from tests.test_plan_shapes import plan_str


@pytest.fixture()
def tables(spark):
    base = spark.createDataFrame(
        [(1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-01"), (3, 30.0, "2024-01-01")],
        "k long, v double, at string",
    )
    updates = spark.createDataFrame(
        [
            (2, 21.0, "2024-02-01"),
            (2, 22.0, "2024-03-01"),  # later version wins
            (4, 40.0, "2024-02-15"),  # new key
        ],
        "k long, v double, at string",
    )
    return base, updates


def test_scd1_merge_semantics(tables):
    base, updates = tables
    out = {
        r.k: r
        for r in scd1_merge(base, updates, ["k"], ordering_col="at").collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1].v == 10.0 and out[1].change_type == "unchanged"
    assert out[2].v == 22.0 and out[2].change_type == "updated"
    assert out[3].v == 30.0 and out[3].change_type == "unchanged"
    assert out[4].v == 40.0 and out[4].change_type == "inserted"


def test_scd1_merge_update_always_beats_base(tables):
    """Priority dominates ordering: an update OLDER than the base row
    still wins (SCD-1 latest-known-version semantics are by source,
    not wall clock — the update stream is authoritative)."""
    base, _ = tables
    spark = base.sparkSession
    stale = spark.createDataFrame(
        [(1, 99.0, "1999-01-01")], "k long, v double, at string"
    )
    out = {r.k: r for r in scd1_merge(base, stale, ["k"], "at").collect()}
    assert out[1].v == 99.0 and out[1].change_type == "updated"


def test_scd1_merge_schema_mismatch_is_loud(tables):
    base, _ = tables
    spark = base.sparkSession
    bad = spark.createDataFrame([(1, 1.0)], "k long, other double")
    with pytest.raises(ValueError, match="matching schemas"):
        scd1_merge(base, bad, ["k"])


def test_scd1_merge_single_shuffle_plan(tables):
    base, updates = tables
    plan = plan_str(scd1_merge(base, updates, ["k"], "at"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    # the map-side partial phase must sit BELOW the shuffle, so at most
    # one candidate row per (key, partition) ever ships
    pre_shuffle = plan.split("Exchange", 1)[1]
    assert "partial_max_by" in pre_shuffle, plan


def test_apply_changes_cdc_semantics(tables):
    from etl_with_s3__dynamodb_and_glue_spark.operators.merge import (
        apply_changes,
    )

    base, _ = tables
    spark = base.sparkSession
    changes = spark.createDataFrame(
        [
            (2, 21.0, "2024-02-01", "U"),
            (2, 0.0, "2024-03-01", "D"),   # delete wins: latest op
            (3, 31.0, "2024-02-01", "D"),
            (3, 32.0, "2024-03-01", "U"),  # resurrect after delete
            (4, 40.0, "2024-02-01", "U"),  # plain insert
            (5, 50.0, "2024-02-01", "D"),  # delete of a never-seen key
        ],
        "k long, v double, at string, op string",
    )
    out = {
        r.k: r for r in apply_changes(base, changes, ["k"], "at").collect()
    }
    assert set(out) == {1, 3, 4}
    assert out[1].change_type == "unchanged" and out[1].v == 10.0
    assert out[3].change_type == "updated" and out[3].v == 32.0
    assert out[4].change_type == "inserted" and out[4].v == 40.0


def test_apply_changes_requires_op_column(tables):
    from etl_with_s3__dynamodb_and_glue_spark.operators.merge import (
        apply_changes,
    )

    base, updates = tables
    with pytest.raises(ValueError, match="op"):
        apply_changes(base, updates, ["k"], "at")


def test_profile_table_exact_and_approx_schemas_match(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.profile import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (2, "b", None)],
        "k long, s string, v double",
    )
    exact = profile_table(df, exact=True)
    approx = profile_table(df, exact=False)
    assert exact.columns == approx.columns
    rows = {r.col_name: r for r in exact.collect()}
    assert rows["k"].n_distinct == 2 and rows["k"].min_num == 1.0
    assert rows["s"].n_nulls == 1 and rows["s"].min_str == "a"
    assert rows["v"].n_nulls == 1 and rows["v"].max_num == 2.5
    assert all(r.n_rows == 3 for r in rows.values())


def test_profile_table_rejects_unsupported_types(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.profile import (
        profile_table,
    )

    df = spark.createDataFrame([(1, [1, 2])], "k long, arr array<int>")
    with pytest.raises(ValueError, match="unsupported column type"):
        profile_table(df)


def test_profile_approx_mode_avoids_expand(spark):
    """The documented scale trade: exact multi-column countDistinct
    EXPANDs the input k-fold; approx mode must not."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.profile import (
        profile_table,
    )
    from tests.test_plan_shapes import plan_str

    df = spark.createDataFrame(
        [(1, "a", 1.5)], "k long, s string, v double"
    )
    assert "Expand" in plan_str(profile_table(df, exact=True))
    assert "Expand" not in plan_str(profile_table(df, exact=False))


def test_profile_exact_distinct_keeps_count_distinct_semantics(spark):
    """Exact distinct counts treat NaN as one value, -0.0 as 0.0 and skip
    NULL, as ``countDistinct`` does."""
    from pyspark.sql import functions as F

    from etl_with_s3__dynamodb_and_glue_spark.operators.profile import (
        profile_table,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [(nan, "a"), (nan, "a"), (-0.0, None), (0.0, "b"), (None, "b"), (1.0, "c")],
        "v double, s string",
    )
    got = {r.col_name: r.n_distinct for r in profile_table(df).collect()}
    want = df.agg(F.countDistinct("v"), F.countDistinct("s")).first()
    assert got == {"v": want[0], "s": want[1]} == {"v": 3, "s": 3}


def test_profile_exact_plan_is_independent_of_expression_ids(spark):
    """The exact profile's optimized plan must not depend on how many
    expression ids the session allocated before it; a plan that moves
    from build to build recompiles its generated code on every run."""
    import __spark_entry__ as entry_mod
    from tests.conftest import SF_SMOKE
    from tools.plan_fingerprints import normalize

    qs = entry_mod.queries()

    def plan() -> str:
        df = qs["orders_profile"](spark, SF_SMOKE)
        return normalize(df._jdf.queryExecution().optimizedPlan().toString())

    first = plan()
    qs["pricing_summary"](spark, SF_SMOKE)  # allocates expression ids
    assert plan() == first


# --- snapshot diff + SCD2 -------------------------------------------------


def test_snapshot_diff_types(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    out = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "deleted", 4: "inserted"}


def test_snapshot_diff_null_moves_are_changes(spark):
    """Spark xxhash64 skips NULL inputs, so raw-column hashing would
    call ('a', NULL) -> (NULL, 'a') 'unchanged'. The digest encodes
    nulls and positions explicitly; a value moving between nullable
    columns must read 'changed'."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, None, "b"), (3, None, None)],
        "k long, x string, y string",
    )
    new = spark.createDataFrame(
        [(1, None, "a"), (2, None, "b"), (3, "", None)],
        "k long, x string, y string",
    )
    out = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "changed", 2: "unchanged", 3: "changed"}


def test_snapshot_diff_digest_boundaries_cannot_shift(spark):
    """The digest is length-prefixed per column, so payload values that
    embed any would-be separator bytes cannot spoof 'unchanged':
    ('a<sep>b', 'c') vs ('a', 'b<sep>c') encode differently for EVERY
    separator choice, and a literal sentinel-looking string is
    distinguishable from a real NULL."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a\x00;b", "c"), (2, "\x00null", "z"), (3, "12", "3")],
        "k long, x string, y string",
    )
    new = spark.createDataFrame(
        [(1, "a", "b\x00;c"), (2, None, "z"), (3, "1", "23")],
        "k long, x string, y string",
    )
    out = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "changed", 2: "changed", 3: "changed"}


def test_scd2_apply_versions(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.merge import scd2_apply

    hist = spark.createDataFrame(
        [
            # key 1: one closed + one current version
            (1, "v1", "2020-01-01", "2021-01-01"),
            (1, "v2", "2021-01-01", None),
            # key 2: current only, will be unchanged (same payload)
            (2, "x", "2020-06-01", None),
            # key 3: current only, no update at all
            (3, "z", "2020-01-01", None),
        ],
        "k long, payload string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "payload",
        "cast(valid_from as timestamp) valid_from",
        "cast(valid_to as timestamp) valid_to",
    )
    upd = spark.createDataFrame(
        [
            (1, "v2-old", "2021-06-01"),   # superseded within the batch
            (1, "v3", "2022-01-01"),       # latest wins -> new version
            (2, "x", "2022-01-01"),        # identical payload -> no churn
            (9, "new", "2022-01-01"),      # brand-new key
        ],
        "k long, payload string, effective_date string",
    ).selectExpr("k", "payload", "cast(effective_date as timestamp) effective_date")

    out = scd2_apply(hist, upd, ["k"]).collect()
    rows = sorted(
        (r["k"], r["payload"], str(r["valid_from"]), str(r["valid_to"]))
        for r in out
    )
    assert rows == sorted([
        (1, "v1", "2020-01-01 00:00:00", "2021-01-01 00:00:00"),
        (1, "v2", "2021-01-01 00:00:00", "2022-01-01 00:00:00"),  # closed
        (1, "v3", "2022-01-01 00:00:00", "None"),                 # opened
        (2, "x", "2020-06-01 00:00:00", "None"),                  # unchanged
        (3, "z", "2020-01-01 00:00:00", "None"),                  # untouched
        (9, "new", "2022-01-01 00:00:00", "None"),                # inserted
    ])
    # exactly one current version per live key
    cur = [r for r in out if r["valid_to"] is None]
    assert sorted(r["k"] for r in cur) == [1, 2, 3, 9]
