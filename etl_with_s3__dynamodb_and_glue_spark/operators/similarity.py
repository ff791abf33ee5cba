"""Similarity search over embedding columns (array<float>).

Two paths, as a 100 TB design requires:

- **Brute-force top-k** — exact; the corpus side stays distributed,
  the (small) query side is broadcast, so the 'cross join' is really
  a broadcast nested loop with no shuffle of the corpus. Use when the
  query set is small or as the recall oracle.
- **Random-hyperplane LSH (SRP)** — approximate; corpus and queries
  hash into sign-pattern buckets (Charikar '02), candidates come from
  a bucket equi-join, ranking only happens inside buckets. Probe
  multiplicity trades recall for cost. This is the 1000-executor
  path: the expensive distance evaluation is confined to colliding
  buckets.

Vector math: two BIT-IDENTICAL scorer forms (see ``cosine_batch``'s
docstring for the proof), chosen PER SITE by measured candidate
volume (r14, VERDICT r13 item 4): the HOF ``cosine`` expression wins
below ~10⁵ pairs per execution (the Arrow round trip is a fixed
per-plan cost — interleaved A/B at sf0.1: brute-force 0.47 s HOF vs
0.66 s batch, lsh_topk 0.83 vs 1.04), while the Arrow-batched
:func:`cosine_batch` wins at verify-path volumes (1.53× at 440k
pairs, r13). Top-k serving sites (bounded query batches) use the HOF
form; all-pairs/banded verify sites keep the batch kernel.
Embeddings are cast to double so the arithmetic is deterministic and
oracle-comparable either way.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, functions as F

from ..caching import unpersist_on_release
from . import gates
from .windows import top_k_per_group


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _as_double_sql(col: str) -> str:
    """SQL-string twin of :func:`as_double` — same expression tree,
    one py4j round trip when used inside ``selectExpr`` (r14
    construction-cost round)."""
    return f"transform(`{col}`, x -> CAST(x AS DOUBLE))"


def _cosine_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`cosine` (same tree: ``0.0D`` literals
    are DoubleType like ``F.lit(0.0)``; lambda shapes identical)."""
    dot = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        " (acc, v) -> acc + v)"
    )
    na = f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + v * v))"
    nb = f"sqrt(aggregate({b}, 0.0D, (acc, v) -> acc + v * v))"
    return f"{dot} / ({na} * {nb})"


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_batch(a: Column, b: Column) -> Column:
    """Vectorized cosine over two array<double> columns — the hot-path
    form of :func:`cosine` (r13 optimization round).

    The higher-order-function form evaluates its lambdas interpreted
    per ELEMENT, so a verify/scoring projection over candidate pairs
    pays ~dim × 3 interpreter dispatches per row; this Arrow-batched
    numpy form does the same arithmetic as whole-batch operations.
    Interleaved A/B on the SRP pair verify at sf0.1 (440k candidate
    pairs, dim 64): 6.01 → 3.92 s (1.53×).

    BIT-IDENTICAL to :func:`cosine`, not merely close: the batch sums
    run through ``np.add.accumulate`` — strictly sequential
    left-to-right double addition, the exact order of the JVM
    ``aggregate`` fold — and multiply/sqrt/divide are IEEE-754
    correctly-rounded in both runtimes. Measured ``exceptAll`` parity
    0 on 44,850 UNROUNDED pair cosines, so every values-checked
    consumer (brute-force top-k, hard negatives, the exact near-dup
    twin) keeps its oracle hashes. Rounding stays OUTSIDE (Spark's
    ``round`` is HALF_UP; numpy's is HALF_EVEN — do not move it into
    the batch).

    Contract: both arrays non-null, equal length (the embedding-column
    contract; a null row would fail ``np.stack`` loudly rather than
    null-propagate like the HOF form).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def _cos(va, vb):
        if va.isnull().any() or vb.isnull().any():
            raise ValueError(
                "cosine_batch: null embedding in batch — this kernel "
                "requires non-null equal-length arrays (callers attach "
                "vectors via inner joins). Use cosine() where null "
                "propagation is wanted."
            )
        A = np.stack(va.to_numpy())
        B = np.stack(vb.to_numpy())
        dots = np.add.accumulate(A * B, axis=1)[:, -1]
        na = np.sqrt(np.add.accumulate(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.add.accumulate(B * B, axis=1)[:, -1])
        return pd.Series(dots / (na * nb))

    # no type hints on _cos: `from __future__ import annotations`
    # stringifies them, which pandas_udf's hint inference can't resolve
    return pandas_udf(_cos, "double")(a, b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    ``queries`` is broadcast; the corpus never shuffles. Self-matches
    (same id) are excluded. Ties break on neighbor id ascending.

    Scorer (r14 per-site decision, VERDICT r13 item 4): the HOF
    ``cosine`` form, NOT ``cosine_batch`` — interleaved A/B at sf0.1
    (20k pairs) read 0.47 s HOF vs 0.66 s batch; the Arrow round
    trip's fixed per-plan cost loses below ~10⁵ candidate pairs, and
    this operator is the bounded-batch recall oracle by contract (the
    scale paths are LSH/IVF). The two forms are bit-identical
    (cosine_batch docstring), so this is purely an execution-strategy
    choice."""
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id", f"{_as_double_sql(vec_col)} AS cvec"
    )
    q = queries.selectExpr(
        f"`{query_id_col}` AS query_id", f"{_as_double_sql(vec_col)} AS qvec"
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"round({_cosine_sql('qvec', 'cvec')}, 6) AS cos",
        )
    )
    return top_k_per_group(
        scored,
        group_by=["query_id"],
        order_by=[F.col("cos").desc(), F.col("neighbor_id").asc()],
        k=k,
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    dup_threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive-training hard-negative mining: per query, the k
    MOST similar vectors that are NOT near-duplicates (cos <
    ``dup_threshold``) — close enough to be informative negatives,
    far enough to not be positives mislabeled. The near-dup exclusion
    happens BEFORE the top-k cut, so duplicates don't crowd real
    negatives out of the k.

    Same plan shape as :func:`brute_force_topk` (queries broadcast,
    corpus never shuffles, WindowGroupLimit rank cut); at scale swap
    the scoring join for the IVF/SRP candidate generators and keep
    the filter-then-rank tail unchanged.
    """
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id", f"{_as_double_sql(vec_col)} AS cvec"
    )
    q = queries.selectExpr(
        f"`{query_id_col}` AS query_id", f"{_as_double_sql(vec_col)} AS qvec"
    )
    # HOF scorer, same bounded-batch rationale as brute_force_topk
    # (r14 per-site A/B — this is the same plan shape and volume)
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"round({_cosine_sql('qvec', 'cvec')}, 6) AS cos",
        )
        .filter(f"cos < {dup_threshold!r}D")
    )
    return top_k_per_group(
        scored,
        group_by=["query_id"],
        order_by=[F.col("cos").desc(), F.col("neighbor_id").asc()],
        k=k,
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (brute force — the verifier
    twin of the LSH route)."""
    a = embeddings.selectExpr(
        f"`{id_col}` AS id_a", f"{_as_double_sql(vec_col)} AS va"
    )
    b = embeddings.selectExpr(
        f"`{id_col}` AS id_b", f"{_as_double_sql(vec_col)} AS vb"
    )
    # cosine_batch stays (r14 per-site decision): all-pairs volume is
    # ~n²/2 (2M pairs at sf0.1) — deep inside the regime where the
    # Arrow-batched kernel's 1.5× win was measured (r13).
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_batch(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(f"cos >= {threshold!r}D")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side constants,
    broadcast with the plan — tiny: n_planes × dim doubles)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def srp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: one bit per hyperplane.

    Reference implementation (native expressions, LSB-first packing);
    the hot path uses :func:`srp_signatures_udf` — tests assert the
    two agree bit-for-bit."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(vec, plane_col) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseXOR(F.shiftleft(bit, i))
    return sig


def srp_signatures_udf(dim: int, n_planes: int, n_tables: int):
    """All ``n_tables`` SRP signatures per vector as ONE vectorized
    Pandas UDF (numpy sign-of-matmul per Arrow batch).

    Why a UDF here, against this engine's UDF-free default: the
    alternatives both lose —

    - unrolled native expressions (one ``srp_signature`` per table):
      runtime is fine but Catalyst spends ~3.5 s *compiling* the
      n_tables × n_planes × dim literal tree;
    - data-driven higher-order functions (``transform``/``aggregate``
      over a plane array): constant-size plan but HOFs evaluate
      interpreted per element — measured ~5 ms/row, 100× slower than
      this matmul.

    The hyperplane matrix is a closure constant (n_tables·n_planes×dim
    doubles — a few KB shipped once per executor), and each Arrow
    batch costs one ``(batch × dim) @ (dim × H)`` product.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.array(
        [
            _hyperplanes(dim, n_planes, seed=100 + t)[p]
            for t in range(n_tables)
            for p in range(n_planes)
        ]
    )  # (n_tables*n_planes, dim)
    weights = 2 ** np.arange(n_planes)  # LSB-first, matches srp_signature

    def _sign_batch(vec):
        v = np.stack(vec.to_numpy())  # (batch, dim)
        bits = (v @ planes.T) >= 0  # (batch, n_tables*n_planes)
        packed = bits.reshape(len(v), n_tables, n_planes) @ weights
        return pd.Series(list(packed.astype("int64")))

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint inference can't resolve
    return pandas_udf(_sign_batch, "array<long>")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: union of ``n_tables`` independent SRP hash
    tables; candidates are bucket collisions in any table; exact
    cosine ranks only the candidates.

    Parameter note: collision probability per table is
    (1 - θ/π)^n_planes, so n_planes sets bucket selectivity and
    n_tables buys recall. The defaults (4×8) give ~0.8 recall at
    cosine ≈ 0.45 — tuned for near-uniform embeddings where true
    neighbors are only moderately close; for clustered real-world
    embeddings raise n_planes to tighten buckets.

    The query side is broadcast only while its row count stays within
    ``gates.LSH_BROADCAST_QUERIES_MAX`` (probed with a LIMIT-bounded
    count, so the check never scans past the threshold); a batch above
    it joins by shuffle instead.
    """
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id", f"{_as_double_sql(vec_col)} AS cvec"
    )
    q = queries.selectExpr(
        f"`{query_id_col}` AS query_id", f"{_as_double_sql(vec_col)} AS qvec"
    )
    cap = gates.LSH_BROADCAST_QUERIES_MAX
    small_q = cap > 0 and queries.limit(cap + 1).count() <= cap
    maybe_broadcast = F.broadcast if small_q else (lambda df: df)

    # Candidate generation carries ONLY ids through the explode/join:
    # posexploding the vectors themselves would materialize n_tables
    # copies of every corpus vector (dim×8 doubles per row) purely to
    # ship them to a collision check that never reads them. Ids-only
    # candidates are a few bytes per row; the distinct is a shuffle of
    # 16-byte pairs; vectors re-attach afterwards — one hash join on
    # the (much smaller) deduped candidate set, the same shape
    # :func:`embedding_near_dup_pairs_lsh` uses. Same result set as
    # score-then-distinct (cosine is deterministic per pair).
    sigs = srp_signatures_udf(dim, n_planes, n_tables)
    c_sig = c.select(
        "neighbor_id", F.posexplode(sigs("cvec")).alias("table", "bucket")
    )
    q_sig = q.select(
        "query_id", F.posexplode(sigs("qvec")).alias("table", "bucket")
    )
    candidates = (
        c_sig.join(maybe_broadcast(q_sig), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # HOF scorer (r14 per-site A/B, VERDICT r13 item 4): interleaved
    # at sf0.1 headline volume (~10⁴ candidates) HOF 0.83 s vs batch
    # 1.04 s — the Arrow round trip only pays above ~10⁵ pairs (the
    # near-dup verify paths below keep cosine_batch). Bit-identical
    # forms, so rows are unchanged either way.
    scored = (
        candidates.join(c, "neighbor_id")
        .join(maybe_broadcast(q), "query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"round({_cosine_sql('qvec', 'cvec')}, 6) AS cos",
        )
    )
    return top_k_per_group(
        scored,
        group_by=["query_id"],
        order_by=[F.col("cos").desc(), F.col("neighbor_id").asc()],
        k=k,
    )


def embedding_near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 64,
) -> DataFrame:
    """All pairs with cosine ≥ threshold via SRP-LSH bucketing — the
    scale path that :func:`embedding_near_dup_pairs` verifies.

    Same shape as MinHash dedup: candidates are bucket collisions in
    any of ``n_tables`` hash tables (an equi-join on (table, bucket) —
    never an all-pairs comparison), then exact cosine over candidates
    only, so precision is exact and only recall is approximate.
    Candidates are deduped BEFORE vectors are re-attached: the
    distinct shuffles 16-byte id pairs, not 512-byte vectors.

    Banding defaults, A/B-measured at sf0.1 (2000 vectors, threshold
    0.4, true pairs concentrated at cos 0.4-0.5 — SRP's weakest
    regime, barely 0.15 collision-probability gap per bit between
    positives and random pairs):

    ======== ======== ========= ======== ====================
    n_planes n_tables wall (s)  recall   candidate fraction
    ======== ======== ========= ======== ====================
    4        16       6.4       0.95     64% of all pairs(!)
    **8**    **64**   **4.6**   **0.84** **~22%**
    10       96       5.2       0.67     ~12% (recall too low)
    ======== ======== ========= ======== ====================

    4/16 kept near-perfect recall only by degenerating into brute
    force — a banded join emitting 64% of the full cross product
    does NOT survive 100×. 8/64 restores real pruning (candidates
    scale with the fp rate, not n²) and holds recall above the 0.7
    contract; raise ``n_planes`` further for the tighter thresholds
    clustered real-world embedding spaces use (at cos ≥ 0.8 the
    per-bit gap triples and 10-12 planes prune hard at recall ≈ 1).
    """
    e = embeddings.selectExpr(
        f"`{id_col}` AS vid", f"{_as_double_sql(vec_col)} AS v"
    ).persist()
    sigs = srp_signatures_udf(dim, n_planes, n_tables)
    banded = e.withColumn("sigs", sigs("v")).select(
        "vid", F.posexplode("sigs").alias("table", "bucket")
    )
    a = banded.select(F.col("vid").alias("id_a"), "table", "bucket")
    b = banded.select(F.col("vid").alias("id_b"), "table", "bucket")
    candidates = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = e.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    # cosine_batch stays here (r14 per-site decision): this verify
    # scores every banded candidate (~440k pairs at sf0.1/t=0.4),
    # where the Arrow kernel measured 1.53× (r13).
    result = (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_batch(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(f"cos >= {threshold!r}D")
    )
    return unpersist_on_release(result, e)


class IvfIndex:
    """A built IVF index: the coarse-quantizer centroid matrix
    (driver-side numpy, n_clusters × dim — a few KB) plus the
    cluster-assigned corpus (a DataFrame: neighbor_id, cvec, cluster).

    This is a first-class artifact, not a by-product of one query:
    k-means fitting is the expensive step, so repeated query batches
    must probe a prebuilt index instead of re-fitting. ``write`` lands
    the assignment table as parquet **partitioned by cluster**, which
    is the 100 TB layout: a probe join on ``cluster`` against a
    broadcast probe side triggers dynamic partition pruning, so each
    query batch reads only the ``n_probe``-probed clusters' files —
    ``n_probe / n_clusters`` of the corpus — instead of scanning it.
    """

    def __init__(self, centers, assignments: DataFrame):
        self.centers = centers
        self.assignments = assignments

    def write(self, path: str) -> "IvfIndex":
        spark = self.assignments.sparkSession
        # a streaming-grown index (streaming/vector_ingest.py) carries an
        # ingestion-generation column and nests cluster under it
        partitions = [
            c for c in ("batch_id", "cluster") if c in self.assignments.columns
        ]
        (
            self.assignments.write.mode("overwrite")
            .partitionBy(*partitions)
            .parquet(f"{path}/assignments")
        )
        centroid_rows = [
            (i, [float(x) for x in ctr]) for i, ctr in enumerate(self.centers)
        ]
        spark.createDataFrame(centroid_rows, "cluster int, center array<double>") \
            .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        return self


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    train_fraction: float = 1.0,
    max_iter: int = 3,
    path: str | None = None,
) -> IvfIndex:
    """Build (and optionally persist) the IVF coarse quantizer.

    Spark ML KMeans — distributed, seeded, JVM-side. The training set
    is persisted: k-means is iterative and would otherwise re-derive
    scan→cast→vectorize per Lloyd iteration. A coarse quantizer does
    not need convergence — a few Lloyd iterations over a sample place
    centroids well enough (A/B at sf0.1, 25% sample, n_probe=8:
    maxIter 5 → 13.2 s build / 0.68 recall@5; maxIter 3 → 8.4 s /
    0.78 — the extra iterations only sharpen boundaries the probe
    fan-out already covers). Pass ``n_clusters`` explicitly to skip
    the sizing ``count()`` job. Deterministic given the seed.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.storagelevel import StorageLevel

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cvec")
    )
    featured = c.withColumn("features", array_to_vector("cvec"))
    # explicit keywords: pyspark's sample() overload resolution drops
    # a keyword seed when the fraction is positional (`sample(0.25,
    # seed=7)` plans a RANDOM seed) — the coarse-quantizer sample was
    # silently nondeterministic per build until r13
    train = (
        featured
        if train_fraction >= 1.0
        else featured.sample(
            withReplacement=False, fraction=train_fraction, seed=7
        )
    ).select("features").persist(StorageLevel.MEMORY_AND_DISK)
    if n_clusters is None:
        n_clusters = max(4, int(math.sqrt(train.count())))
    model = KMeans(k=n_clusters, seed=7, maxIter=max_iter).fit(train)
    train.unpersist()
    assigned = model.transform(featured).select(
        "neighbor_id", "cvec", F.col("prediction").alias("cluster")
    )
    centers = np.array([list(map(float, ctr)) for ctr in model.clusterCenters()])
    index = IvfIndex(centers, assigned)
    if path is not None:
        index.write(path)
        # probe the on-disk partitioned layout, not the in-memory lineage
        return load_ivf_index(corpus.sparkSession, path)
    return index


def load_ivf_index(spark, path: str) -> IvfIndex:
    """Read a persisted IVF index. Centroids collect to the driver
    (tiny); the assignment table stays a lazy partitioned scan so
    probes prune to the clusters they touch."""
    import numpy as np

    rows = spark.read.parquet(f"{path}/centroids").collect()
    centers = np.array(
        [r.center for r in sorted(rows, key=lambda r: r.cluster)]
    )
    assignments = spark.read.parquet(f"{path}/assignments")
    return IvfIndex(centers, assignments)


def nearest_cells(qmat, centers, n_probe: int):
    """(Q, min(n_probe, n_clusters)) indices of each query row's
    nearest centroids, nearest first; the stable argsort resolves ties
    to the lower cell id. Squared euclidean via ||q||² - 2q·c + ||c||²;
    ||q||² is constant per row so it can't change the argsort — it is
    dropped."""
    import numpy as np

    d = (centers**2).sum(axis=1)[None, :] - 2.0 * (qmat @ centers.T)
    return np.argsort(d, axis=1, kind="stable")[:, : min(n_probe, len(centers))]


def ivf_probe(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probe: int = 3,
) -> DataFrame:
    """Probe a built IVF index: nearest ``n_probe`` centroids per
    query, then exact cosine against only those clusters' vectors.

    The centroid matrix is a closure constant of a vectorized Pandas
    UDF (one ``(batch × dim) @ (dim × k)`` matmul per Arrow batch) —
    same rationale as :func:`srp_signatures_udf`: n_clusters×dim
    literals as native expressions cost seconds of Catalyst compile
    and HOFs evaluate interpreted per element. The probe side is tiny
    and broadcast.

    SCAN PRUNING IS EXPLICIT (r13): the equi-join against
    ``broadcast(probed)`` does NOT prune a partitioned on-disk scan
    by itself — dynamic partition pruning declines to fire across a
    non-scan probe side (the r13 e10m plan read
    ``PartitionFilters: [isnotnull(cluster)]``), so the join was
    pruning COMPUTE (cosine only on surviving rows) while still
    READING every cell. The probed cell ids are applied as a literal
    ``isin`` filter on the partition column: static file-index
    pruning, n_probe/n_clusters of the bytes actually read.

    PROBE SIDE IS DRIVER-COMPUTED (r14): the query batch is a bounded
    serving batch — collected through ``gates.collect_bounded``, which
    raises above ``gates.SERVING_BATCH_MAX`` rows — so the
    nearest-centroid argsort runs ONCE in driver numpy over the
    collected batch, and the (query_id, qvec, cluster) probe rows ship
    as a literal local relation. The r13 shape paid three extra
    plan-time jobs per execution (centroid re-read rides the index
    load; the probe UDF ran once for the distinct-cells collect and
    again inside the join) plus a Python-worker round trip in the
    serving plan; at any scale the probe side stays batch-bounded, and
    the same matmul produces bit-identical cells and vectors (collect
    returns the exact cast doubles). Interleaved A/B and exceptAll
    parity 0 recorded in OPTIMIZATION_r14.md.
    """
    import numpy as np

    from pyspark.sql import types as T

    q = queries.selectExpr(
        f"`{query_id_col}` AS query_id", f"{_as_double_sql(vec_col)} AS qvec"
    )
    q_schema = q.schema
    q_rows = gates.collect_bounded(q, gates.SERVING_BATCH_MAX)
    spark = index.assignments.sparkSession
    if not q_rows:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    q_schema["query_id"],
                    T.StructField("neighbor_id", q_schema["query_id"].dataType),
                    T.StructField("cos", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    v = np.array([r.qvec for r in q_rows])  # (batch, dim)
    idx = nearest_cells(v, index.centers, n_probe)
    probed_rows = [
        (r.query_id, r.qvec, int(cell))
        for r, cells in zip(q_rows, idx)
        for cell in cells
    ]
    probed_schema = T.StructType(
        [
            q_schema["query_id"],
            q_schema["qvec"],
            T.StructField("cluster", T.IntegerType(), False),
        ]
    )
    probed = spark.createDataFrame(probed_rows, probed_schema)
    probed_cells = sorted({cell for *_r, cell in probed_rows})

    scored = (
        index.assignments.filter(F.col("cluster").isin(probed_cells))
        .join(F.broadcast(probed), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"round({_cosine_sql('qvec', 'cvec')}, 6) AS cos",
        )
        # each corpus vector lives in exactly one cluster and each
        # (query, cluster) probe row is unique → no duplicate pairs
    )
    return top_k_per_group(
        scored,
        group_by=["query_id"],
        order_by=[F.col("cos").desc(), F.col("neighbor_id").asc()],
        k=k,
    )


def ivf_assign(
    index: IvfIndex,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment against a FIXED centroid matrix —
    the building block of incremental index maintenance (same
    argmin-of-matmul Pandas UDF shape as :func:`ivf_probe`, with
    n_probe pinned to 1). Returns (neighbor_id, cvec, cluster) in the
    assignments-table schema."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    centers = index.centers
    center_sq = (centers**2).sum(axis=1)

    def _assign_batch(vec):
        v = np.stack(vec.to_numpy())
        d = center_sq[None, :] - 2.0 * (v @ centers.T)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint inference can't resolve
    assign_udf = pandas_udf(_assign_batch, "int")
    return vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cvec"),
    ).withColumn("cluster", assign_udf("cvec"))


def ivf_append(
    index: IvfIndex,
    arrivals: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Incrementally extend a persisted IVF index: assign arrivals to
    the nearest EXISTING centroid and append them to the partitioned
    assignments layout. Per-batch cost scales with the batch — the
    corpus is never re-read, the quantizer never re-fit.

    The coarse quantizer degrades gracefully under drift: appended
    vectors still land in their nearest cell, but cells grow uneven as
    the distribution moves. :func:`ivf_imbalance` is the re-cluster
    trigger — rebuild via :func:`build_ivf_index` when its factor
    drifts far above 1 (the classic maintenance loop; FAISS ships the
    same add-without-retrain contract).

    Delivery contract: append-only, at-least-once — re-appending the
    same batch duplicates rows. Callers that re-drive failed batches
    must gate on a processed-batch ledger (``sources/ledger.py``), the
    same discipline every at-least-once sink in this package uses.
    """
    assigned = ivf_assign(index, arrivals, id_col=id_col, vec_col=vec_col)
    (
        assigned.write.mode("append")
        .partitionBy("cluster")
        .parquet(f"{path}/assignments")
    )
    return load_ivf_index(arrivals.sparkSession, path)


def ivf_imbalance(index: IvfIndex) -> DataFrame:
    """Cluster-occupancy report: per-cluster counts plus the global
    imbalance factor (max/mean — 1.0 is perfectly even). One keyed
    count over the assignments table; the factor window runs over the
    n_clusters-row summary, never the corpus."""
    from pyspark.sql import Window

    per = index.assignments.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    w = Window.partitionBy()
    return per.select(
        "cluster",
        "n_vectors",
        F.round(
            F.max("n_vectors").over(w)
            / F.avg("n_vectors").over(w),
            4,
        ).alias("imbalance_factor"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_clusters: int | None = None,
    n_probe: int = 3,
    train_fraction: float = 1.0,
    max_iter: int = 3,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other classic ANN
    scale path (Jégou et al., IVF-Flat without product quantization):
    build the coarse quantizer (:func:`build_ivf_index`), then probe
    it (:func:`ivf_probe`). One-shot convenience; repeated query
    batches should build once with ``path=`` and probe the persisted
    index."""
    index = build_ivf_index(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_clusters=n_clusters,
        train_fraction=train_fraction,
        max_iter=max_iter,
    )
    return ivf_probe(
        index,
        queries,
        k=k,
        vec_col=vec_col,
        query_id_col=query_id_col,
        n_probe=n_probe,
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> float:
    """Fraction of exact top-k pairs recovered by the approximate
    result (evaluation helper for tests/benchmarks)."""
    hits = approx.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")
    )
    denom = exact.count()
    return (hits.count() / denom) if denom else float("nan")
