"""A warm pass over registry plans compiles no generated code: the
session's codegen cache (``session.CODEGEN_CACHE_ENTRIES``) holds every
class the pass generates. With Spark's default of 100 entries, a pass
that generates more classes than that evicts its own classes before it
reuses them, and every pass recompiles them."""

from __future__ import annotations

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMOKE

# A first pass of these at sf0.001 in a fresh session compiles ~330
# classes. None of them generates different code from one build to the
# next, so a second pass finds every class in the cache.
WARM_QUERIES = (
    "clicks_asof_prior_view",
    "customer_order_deltas",
    "doc_duplicate_spans",
    "doc_inverted_index",
    "doc_tfidf_top_terms",
    "doc_token_dup_share",
    "event_key_skew_profile",
    "events_activity_concurrency",
    "nation_revenue_pareto",
    "orders_price_decile_bins",
    "orders_profile",
    "segment_distinct_stats",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark) -> dict[str, int]:
    """Classes compiled by each query of one pass."""
    qs = entry_mod.queries()
    compiled = {}
    for name in WARM_QUERIES:
        spark.catalog.clearCache()
        before = _compiles(spark)
        qs[name](spark, SF_SMOKE).collect()
        compiled[name] = _compiles(spark) - before
    return compiled


def test_warm_pass_compiles_nothing(spark):
    _run_pass(spark)
    recompiled = {name: n for name, n in _run_pass(spark).items() if n}
    assert not recompiled, f"classes recompiled on a warm pass: {recompiled}"
