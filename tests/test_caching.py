"""Cache-lifetime discipline: persisted intermediates inside operators
are released when the returned result is dropped."""

from __future__ import annotations

import gc
import time

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_with_s3__dynamodb_and_glue_spark.caching import unpersist_on_release

_NONE = StorageLevel(False, False, False, False, 1)


def _n_cached(spark) -> int:
    # NOTE: includes localCheckpoint RDDs from other tests in the shared
    # session (released asynchronously by the ContextCleaner) — use
    # deltas/polling, never absolute counts.
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_unpersist_on_release_frees_cache_when_result_dropped(spark):
    base = spark.range(1000).withColumn("v", F.col("id") * 2).persist()
    result = unpersist_on_release(base.groupBy().sum("v"), base)
    assert result.collect()[0][0] == 999000
    assert base.storageLevel != _NONE  # alive while the result is reachable
    del result
    gc.collect()  # finalizer fires on refcount; collect() for safety
    assert base.storageLevel == _NONE


def test_cache_deps_survive_when_only_result_is_referenced(spark):
    """The result carries a strong reference to its cached deps: if the
    caller drops every other handle to the intermediate, the cache must
    stay alive (and populated) for as long as the result is reachable."""
    base = spark.range(1000).withColumn("v", F.col("id") * 3).persist()
    result = unpersist_on_release(base.groupBy().sum("v"), base)
    weak_alive = base.storageLevel != _NONE
    del base
    gc.collect()
    dep = result._graft_cache_deps[0]
    assert weak_alive and dep.storageLevel != _NONE
    assert result.collect()[0][0] == 1498500
    del result, dep
    gc.collect()


def test_derived_dataset_rebuilds_on_input_change(spark, tmp_path):
    """ensure_derived_dataset is keyed on each input's data files
    (name, mtime, size): same input → cached dir; a touched file input
    or a part file rewritten in place inside a directory input → fresh
    build."""
    from etl_with_s3__dynamodb_and_glue_spark.sources.dataset import (
        ensure_derived_dataset,
    )

    src = tmp_path / "input.txt"
    src.write_text("v1")
    builds = []

    def build(path):
        builds.append(path)

    p1 = ensure_derived_dataset("t_case", [str(src)], build)
    p2 = ensure_derived_dataset("t_case", [str(src)], build)
    assert p1 == p2 and len(builds) == 1

    import os

    os.utime(src, (1, 1))  # same bytes, new mtime -> stale key
    p3 = ensure_derived_dataset("t_case", [str(src)], build)
    assert p3 != p1 and len(builds) == 2

    # a directory's own stat does not change when a file inside it is
    # rewritten in place
    src_dir = tmp_path / "input_dir"
    src_dir.mkdir()
    part = src_dir / "part-0.parquet"
    part.write_text("v1")
    d1 = ensure_derived_dataset("t_dir", [str(src_dir)], build)
    assert ensure_derived_dataset("t_dir", [str(src_dir)], build) == d1
    dir_mtime = os.stat(src_dir).st_mtime_ns
    part.write_text("v2-rewritten")
    assert os.stat(src_dir).st_mtime_ns == dir_mtime
    d2 = ensure_derived_dataset("t_dir", [str(src_dir)], build)
    assert d2 != d1 and len(builds) == 4


def test_operator_persists_do_not_outlive_results(spark):
    """The operators that persist internally (minhash dedup, tf-idf,
    ngram containment) leave NOTHING cached once their results are
    dropped — repeated passes in one session don't accumulate storage."""
    from etl_with_s3__dynamodb_and_glue_spark.plans import curation, llm_ops
    from tests.conftest import SF_SMOKE

    gc.collect()
    n0 = _n_cached(spark)
    for name in (
        "doc_minhash_near_dups",
        "doc_simhash_near_dups",
        "doc_tfidf_top_terms",
        "doc_ngram_containment",
        "doc_repetition_signals",
        "embedding_near_dup_pairs_lsh",
        # r7: both near-dup gates persist per-modality fingerprints
        "asset_near_dups",
    ):
        registry = {**llm_ops.QUERIES, **curation.QUERIES}
        registry[name](spark, SF_SMOKE).collect()
    gc.collect()
    deadline = time.time() + 30  # ContextCleaner races other tests' RDDs
    while time.time() < deadline and _n_cached(spark) > n0:
        time.sleep(0.5)
    assert _n_cached(spark) <= n0


def test_carry_cache_deps_transfers_ownership(spark):
    """ADVICE r9: a lazy composition (`weights.select(...)`) drops the
    operator's returned frame, whose finalizer would unpersist the
    cache before the caller's action. carry_cache_deps re-ties the
    SAME cache to the composed frame's lifetime."""
    from etl_with_s3__dynamodb_and_glue_spark.caching import carry_cache_deps

    base = spark.range(1000).withColumn("v", F.col("id") * 2).persist()
    intermediate = unpersist_on_release(base.filter("v % 4 = 0"), base)
    final = carry_cache_deps(intermediate.groupBy().count(), intermediate)
    del intermediate
    gc.collect()
    # the cache survived the intermediate's death...
    assert base.storageLevel != _NONE
    assert final.collect()[0][0] == 500
    del final
    gc.collect()
    # ...and is released with the composed frame
    assert base.storageLevel == _NONE


def test_carry_cache_deps_passthrough_without_deps(spark):
    from etl_with_s3__dynamodb_and_glue_spark.caching import carry_cache_deps

    plain = spark.range(10)
    out = carry_cache_deps(plain.groupBy().count(), plain)
    assert not hasattr(out, "_graft_finalizer")
    assert out.collect()[0][0] == 10


def test_unpersist_on_release_reregistration_merges_deps(spark):
    """Layered registration (minhash_near_dups_incremental wraps the
    vs_store result again) must MERGE dep sets under one detachable
    finalizer, so a later carry transfers everything."""
    from etl_with_s3__dynamodb_and_glue_spark.caching import carry_cache_deps

    c1 = spark.range(100).persist()
    c2 = spark.range(200).persist()
    frame = spark.range(50).groupBy().count()
    frame = unpersist_on_release(frame, c1)
    frame = unpersist_on_release(frame, c2)
    assert set(frame._graft_cache_deps) == {c1, c2}
    final = carry_cache_deps(frame.select("count"), frame)
    del frame
    gc.collect()
    assert c1.storageLevel != _NONE and c2.storageLevel != _NONE
    del final
    gc.collect()
    assert c1.storageLevel == _NONE and c2.storageLevel == _NONE


def test_dsir_queries_keep_profile_cached_until_action(spark):
    """The registered DSIR queries must reach the caller with the
    per_doc persist still alive (ADVICE r9: it was finalized during
    composition, making the measured 35% win pure overhead)."""
    from etl_with_s3__dynamodb_and_glue_spark.plans import curation
    from tests.conftest import SF_SMOKE

    for name in ("doc_dsir_weights", "doc_dsir_sample"):
        out = curation.QUERIES[name](spark, SF_SMOKE)
        gc.collect()
        deps = getattr(out, "_graft_cache_deps", ())
        assert deps, f"{name}: composition lost its cache deps"
        assert all(d.storageLevel != _NONE for d in deps), name
        assert out.count() > 0
        del out
        gc.collect()


def test_unpersist_on_release_all_waits_for_both_halves(spark):
    from etl_with_s3__dynamodb_and_glue_spark.caching import (
        unpersist_on_release_all,
    )

    base = spark.range(100).withColumn("flag", F.col("id") % 2 == 0).persist()
    a = base.filter("flag")
    b = base.filter("NOT flag")
    unpersist_on_release_all([a, b], base)
    assert a.count() == 50 and b.count() == 50
    del a
    gc.collect()
    assert base.storageLevel != _NONE  # one half still alive
    del b
    gc.collect()
    assert base.storageLevel == _NONE
