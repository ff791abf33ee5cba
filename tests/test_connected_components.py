"""Property tests for the r10 connected-components rework (pair-graph
iteration + pointer jumping): labels must equal a reference union-find
on arbitrary graphs — including the chain topologies that motivated the
jump (plain min-propagation needs diameter rounds; the jump must stay
correct while converging in O(log diameter))."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.operators import gates
from etl_with_s3__dynamodb_and_glue_spark.operators.dedup import (
    connected_components,
    union_find_labels,
)


def _union_find(n_vertices: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_vertices))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min member id
    comp_min: dict[int, int] = {}
    for v in range(n_vertices):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in range(n_vertices)}


def _spark_cc(
    spark, n_vertices: int, edges: list[tuple[int, int]], distributed=False
):
    vertices = spark.range(n_vertices).select(F.col("id").alias("doc_id"))
    if edges:
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
    else:
        pairs = vertices.select(
            F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
        ).limit(0)
    with pytest.MonkeyPatch.context() as mp:
        if distributed:
            # a cap of 0 forces the distributed pointer-jump loop
            mp.setattr(gates, "CC_LOCAL_MAX_EDGES", 0)
        out = connected_components(pairs, vertices)
        return {r.doc_id: r.cluster_id for r in out.collect()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.integers(min_value=1, max_value=40),
    st.data(),
)
def test_cc_matches_union_find_on_random_graphs(spark, n, data):
    edges = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, n - 1), st.integers(0, n - 1)
            ).filter(lambda e: e[0] != e[1]),
            max_size=60,
        )
    )
    edges = [(min(a, b), max(a, b)) for a, b in edges]
    want = _union_find(n, edges)
    # default: the adaptive choice takes the single-task union-find
    # path at these sizes; distributed=True forces the pointer-jump
    # loop — BOTH must match the reference
    assert _spark_cc(spark, n, edges) == want
    assert _spark_cc(spark, n, edges, distributed=True) == want


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=1, max_value=60),
    st.data(),
)
def test_union_find_labels_matches_reference(n, data):
    """Unit-level twin for the single-task fast path's core: the
    min-root union-find must assign every edge-touched vertex its
    component minimum, matching the index-based reference on random
    graphs (cheap — no Spark in the loop). Edges are fed BOTH
    directions, as _local_components receives them from edges_sym."""
    edges = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, n - 1), st.integers(0, n - 1)
            ).filter(lambda e: e[0] != e[1]),
            max_size=80,
        )
    )
    sym = edges + [(b, a) for a, b in edges]
    got = union_find_labels(iter(sym))
    ref = _union_find(n, edges)
    touched = {v for e in edges for v in e}
    assert set(got) == touched
    assert all(got[v] == ref[v] for v in touched)


def test_cc_long_chain_converges_in_log_rounds(spark):
    """A 33-vertex path (diameter 32) is the adversarial shape for
    min-propagation; pointer jumping must still produce min-labels
    (and do so inside the 50-round bound with lots of margin — plain
    propagation would need 32 rounds, the jump needs ~6)."""
    n = 33
    edges = [(i, i + 1) for i in range(n - 1)]
    # force the distributed loop: the log-round convergence claim is
    # about the pointer jump, not the local fast path
    got = _spark_cc(spark, n, edges, distributed=True)
    assert got == {v: 0 for v in range(n)}
    assert _spark_cc(spark, n, edges) == got


def test_cc_singletons_only(spark):
    for distributed in (False, True):
        got = _spark_cc(spark, 7, [], distributed)
        assert got == {v: v for v in range(7)}


def test_cc_two_cliques_and_isolates(spark):
    edges = [(0, 1), (1, 2), (0, 2), (4, 5)]
    for distributed in (False, True):
        got = _spark_cc(spark, 7, edges, distributed)
        assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}


def test_pointer_jump_releases_source_cache_before_loop(spark):
    """ADVICE r10 (landed r13): the distributed path must not hold the
    caller's unpartitioned edge persist for the whole fixpoint — the
    co-partitioned copy is materialized eagerly and the SOURCE persist
    released inside _pointer_jump_components, so the loop runs on a
    single cached copy of the edge set (the double footprint only ever
    hit the crawl-scale path, where it matters most)."""
    from pyspark.storagelevel import StorageLevel

    from etl_with_s3__dynamodb_and_glue_spark.operators.dedup import (
        _pointer_jump_components,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "u long, v long"
    )
    src = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    src.count()
    labels = _pointer_jump_components(src, max_iterations=50)
    got = {r.vid: r.label for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}
    # released INSIDE the call (the caller's finally-unpersist is now
    # a second, idempotent release) — before the fix the source stayed
    # pinned here
    assert src.storageLevel == StorageLevel.NONE


def test_pointer_jump_retires_dead_round_checkpoints(spark):
    """r13 checkpoint retirement: the fixpoint loop's per-round
    localCheckpoint blocks were accumulating O(V·rounds) until GC
    (the r13 storage probe read ~1.5 GB of dead label blocks on a
    2.56M-vertex chain) — each round now unpersists the previous
    round's checkpoint as soon as its own materializes, so at most
    a bounded handful of loop RDDs survive the call."""
    ids_before = {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    # 33-vertex path: converges in ~6 jump rounds, so without
    # retirement ~7 checkpoints would be left pinned
    edges = [(i, i + 1) for i in range(32)]
    got = _spark_cc(spark, 33, edges, distributed=True)
    assert got == {v: 0 for v in range(33)}
    leftover = {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    } - ids_before
    # the FINAL round's checkpoint legitimately survives (it backs the
    # returned labels frame); everything older must be gone
    assert len(leftover) <= 2, leftover
