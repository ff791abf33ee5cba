"""Product-quantization tests: code shape/range, determinism,
write/load roundtrip, ADC recall vs the exact oracle, and the
batching-invariance contract of the per-batch prune.

Config note: the synthetic embeddings are a HARD case for PQ — near-
random directions (exact top-10 cosines sit around 0.5), so measured
recall is the floor of what clustered real-world embedding spaces see.
Measured on this data (seeded, deterministic): m=8/k=16 → 0.23,
m=16/k=16 → 0.45, m=32/k=64 → 0.83.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.operators import (
    gates,
    quantization as Q,
    similarity as S,
)
from tests.conftest import SF_SMOKE

M, K, DIM = 16, 16, 64


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )


@pytest.fixture(scope="module")
def books(emb):
    return Q.train_pq(emb, m=M, k=K, dim=DIM, max_iter=5)


@pytest.fixture(scope="module")
def encoded(books, emb):
    df = Q.pq_encode(books, emb).cache()
    yield df
    df.unpersist()


def test_codebook_shape(books):
    assert books.codebooks.shape == (M, K, DIM // M)
    assert books.m == M and books.k == K and books.dim == DIM


def test_codes_are_m_bytes_in_range(encoded):
    import numpy as np

    rows = encoded.collect()
    assert len(rows) == 500
    for r in rows[:50]:
        code = np.frombuffer(r.code, dtype=np.uint8)
        assert len(code) == M
        assert code.max() < K


def test_training_is_deterministic(emb, books):
    import numpy as np

    again = Q.train_pq(emb, m=M, k=K, dim=DIM, max_iter=5)
    assert np.array_equal(again.codebooks, books.codebooks)


def test_write_load_roundtrip(spark, books, tmp_path):
    import numpy as np

    path = str(tmp_path / "pq_books")
    books.write(spark, path)
    loaded = Q.PqCodebooks.load(spark, path)
    assert np.array_equal(loaded.codebooks, books.codebooks)


def test_adc_recall_vs_exact(books, encoded, emb, queries):
    approx = Q.pq_adc_topk(books, encoded, queries, k=10)
    exact = S.brute_force_topk(emb, queries, k=10)
    # measured 0.45 on this (seeded, deterministic) config — the bar
    # has slack for library-version drift in KMeans init only
    assert S.recall_at_k(approx, exact, 10) >= 0.35


def test_adc_excludes_self_matches(books, encoded, queries):
    rows = Q.pq_adc_topk(books, encoded, queries, k=10).collect()
    assert rows
    assert all(r.neighbor_id != r.query_id for r in rows)


def test_adc_is_batching_invariant(books, encoded, queries):
    """The per-batch top-k prune must not leak batch boundaries into
    the result: lexsort keeps the smallest neighbor ids among ties, so
    any partitioning of the codes yields identical rows."""
    one = Q.pq_adc_topk(books, encoded.repartition(1), queries, k=5)
    many = Q.pq_adc_topk(books, encoded.repartition(7), queries, k=5)
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, many.collect())
    )


def test_adc_prune_resolves_sub_rounding_ties_like_global_cut(spark):
    """Two candidates whose RAW ADC scores differ only past the 6th
    decimal are a tie after rounding — the per-batch prune must rank
    them on the rounded score (the global cut's key), or a single-batch
    run would keep the raw-closer candidate while a split run keeps the
    smaller neighbor_id (ADVICE r6: batching-invariance violation)."""
    import math

    eps = 1e-9
    books = Q.PqCodebooks(
        [
            [
                [math.cos(0.1), math.sin(0.1)],
                [math.cos(0.1 + eps), math.sin(0.1 + eps)],
            ]
        ]
    )
    # neighbor 1 carries the RAW-farther code, neighbor 2 the closer:
    # the rounded tie must break toward the smaller id in BOTH layouts
    encoded = spark.createDataFrame(
        [(1, bytes([1])), (2, bytes([0]))], "neighbor_id long, code binary"
    )
    qdf = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    for parts in (1, 2):
        rows = Q.pq_adc_topk(
            books, encoded.repartition(parts), qdf, k=1
        ).collect()
        assert [r.neighbor_id for r in rows] == [1], (parts, rows)


def test_adc_scores_track_true_cosine(books, encoded, emb, queries):
    """ADC is approximate, but it must rank REAL neighbors above the
    corpus average: the true cosine of ADC's picks beats the corpus
    mean true cosine by a wide margin."""
    approx = Q.pq_adc_topk(books, encoded, queries, k=10)
    exact_all = S.brute_force_topk(emb, queries, k=499)
    joined = approx.join(
        exact_all.select("query_id", "neighbor_id", "cos"),
        ["query_id", "neighbor_id"],
    )
    picked = joined.agg(F.avg("cos")).first()[0]
    overall = exact_all.agg(F.avg("cos")).first()[0]
    assert picked > overall + 0.1


def test_staged_ivfpq_query_serves_and_prunes(spark):
    """The STAGED round-8 query embedding_ivfpq_topk must already
    serve correctly (k rows per query, no self-matches) and its scan
    of the cluster-partitioned code table must partition-prune to the
    probed cells (PartitionFilters / dynamic pruning in the plan) —
    so registering it later cannot surprise."""
    from etl_with_s3__dynamodb_and_glue_spark.plans import llm_ops
    from tests.conftest import SF_SMOKE

    df = llm_ops.embedding_ivfpq_topk(spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    per_q: dict[int, int] = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(n <= 5 for n in per_q.values()) and len(per_q) == 10

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower(), plan


_PROBES = {
    "pq_adc_topk": lambda books, emb, ivf, q: Q.pq_adc_topk(
        books, Q.pq_encode(books, emb), q, k=3
    ),
    "ivf_pq_topk": lambda books, emb, ivf, q: Q.ivf_pq_topk(
        ivf, books, Q.pq_encode_ivf(books, ivf), q, k=3
    ),
    "ivf_probe": lambda books, emb, ivf, q: S.ivf_probe(ivf, q, k=3),
}


@pytest.fixture(scope="module")
def ivf(emb):
    return S.build_ivf_index(emb, n_clusters=8)


@pytest.mark.parametrize("probe", sorted(_PROBES))
def test_query_cap_enforced(probe, books, emb, ivf, monkeypatch):
    """Every serving probe collects its query batch through
    gates.collect_bounded: above SERVING_BATCH_MAX it raises, having
    brought at most cap + 1 rows to the driver."""
    monkeypatch.setattr(gates, "SERVING_BATCH_MAX", 10)
    collected = []
    real_collect = type(emb).collect

    def spy(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(emb), "collect", spy)
    with pytest.raises(ValueError, match="SERVING_BATCH_MAX=10"):
        _PROBES[probe](books, emb, ivf, emb.withColumnRenamed("vec_id", "query_id"))
    assert collected and max(collected) <= 11


def test_empty_query_batch(books, encoded, queries):
    out = Q.pq_adc_topk(
        books, encoded, queries.filter(F.lit(False)), k=3
    )
    assert out.count() == 0


def test_ivf_pq_full_probe_equals_plain_adc(books, emb, queries):
    """With every cell probed, IVF-PQ must reproduce plain ADC row for
    row — the coarse quantizer only prunes, never rescores."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import similarity

    index = similarity.build_ivf_index(emb, n_clusters=8)
    enc_ivf = Q.pq_encode_ivf(books, index)
    full = Q.ivf_pq_topk(index, books, enc_ivf, queries, k=5, n_probe=8)
    plain = Q.pq_adc_topk(books, Q.pq_encode(books, emb), queries, k=5)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_ivf_pq_probe_restricts_candidates(books, emb, queries):
    """Every returned neighbor must live in one of its query's probed
    cells — the scan-pruning contract."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import similarity

    index = similarity.build_ivf_index(emb, n_clusters=8)
    enc_ivf = Q.pq_encode_ivf(books, index).cache()
    out = Q.ivf_pq_topk(index, books, enc_ivf, queries, k=5, n_probe=2)
    assert out.count() > 0
    cell = {
        r.neighbor_id: r.cluster
        for r in index.assignments.select("neighbor_id", "cluster").collect()
    }
    import numpy as np

    centers = index.centers
    center_sq = (centers**2).sum(axis=1)
    qvecs = {
        r.query_id: np.asarray(r.qvec)
        for r in queries.select(
            F.col("query_id"),
            Q._normalized(
                F.transform(F.col("embedding"), lambda x: x.cast("double"))
            ).alias("qvec"),
        ).collect()
    }
    for r in out.collect():
        v = qvecs[r.query_id]
        d = center_sq - 2.0 * (centers @ v)
        probed = set(np.argsort(d, kind="stable")[:2])
        assert cell[r.neighbor_id] in probed
    enc_ivf.unpersist()


def test_config_validation(emb):
    with pytest.raises(ValueError, match="not divisible"):
        Q.train_pq(emb, m=7, k=4, dim=DIM)
    with pytest.raises(ValueError, match="1-byte"):
        Q.train_pq(emb, m=8, k=512, dim=DIM)


def test_train_cap_is_noop_below_threshold(emb, books):
    """The r13 sampled-training cap only engages ABOVE max_train_rows:
    a corpus smaller than the default 2^18 cap (every driver/test SF)
    must train bit-identically with the cap on and off — the fix
    cannot move any small-SF codebook."""
    import numpy as np

    uncapped = Q.train_pq(
        emb, m=M, k=K, dim=DIM, max_iter=5, max_train_rows=None
    )
    assert np.array_equal(uncapped.codebooks, books.codebooks)


def test_train_cap_engages_and_stays_deterministic(emb):
    """Above the cap the k-means input is Bernoulli-downsampled to the
    cap's expected size (the 10M-vector full-corpus build OOMed at
    r12); the sample is seeded, so the capped build stays
    deterministic for a fixed corpus partitioning — and it must
    actually engage (a 64-row training set cannot reproduce the
    full-corpus centroids on this data)."""
    import numpy as np

    a = Q.train_pq(emb, m=M, k=K, dim=DIM, max_iter=2, max_train_rows=64)
    b = Q.train_pq(emb, m=M, k=K, dim=DIM, max_iter=2, max_train_rows=64)
    assert a.codebooks.shape == (M, K, DIM // M)
    assert np.array_equal(a.codebooks, b.codebooks)
    full = Q.train_pq(
        emb, m=M, k=K, dim=DIM, max_iter=2, max_train_rows=None
    )
    assert not np.array_equal(a.codebooks, full.codebooks)
