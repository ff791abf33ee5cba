"""Product quantization (PQ) for embedding columns — the compression
path that makes billion-vector ANN affordable (Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

Why this exists next to the IVF-Flat index in ``similarity.py``: at
100 TB the corpus embedding column IS the cost. A 768-dim float32
vector is 3 KB; its PQ code at m=16 sub-quantizers is 16 BYTES — a
~200× reduction — and asymmetric-distance (ADC) scoring over codes is
a table lookup per sub-vector instead of a d-dim dot product. The
standard deployment composes both: IVF prunes the corpus to the probed
clusters, PQ scores what remains without ever touching raw vectors.

Spark shapes, in the house style:

- **Training** is per-subspace Spark ML KMeans over one persisted,
  sliced sample — m distributed fits, then m·k·(d/m) = k·d doubles of
  codebook collect to the driver (a few KB; same artifact weight class
  as the IVF centroid matrix).
- **Encoding** is one vectorized Pandas UDF over the corpus (codebooks
  as closure constant, one argmin-of-matmul per subspace per Arrow
  batch) emitting a BINARY code of m bytes per vector. No shuffle: the
  corpus is mapped in place, and the output column is what you persist.
- **ADC top-k** scans ONLY the code column: per Arrow batch, distances
  are m uint8 gathers into a per-query lookup table (built once per
  task from the bounded query batch), followed by a per-batch top-k
  prune so the global rank cut sees ≤ k rows per (query, batch) —
  the corpus never shuffles and never materializes a full score
  matrix. The query side is a bounded serving batch (same contract as
  ``ivf_probe``'s centroid closure and ``brute_force_topk``'s
  broadcast), NOT a second corpus.

Cosine contract: vectors are L2-normalized before training and
encoding, and query vectors before LUT construction. On normalized
vectors squared-L2 = 2 − 2·cos, so ascending ADC distance IS
descending approximate cosine; results report ``adc_cos = 1 − d/2``.
"""

from __future__ import annotations

import math  # noqa: F401 — mirrors similarity.py's helper imports

from pyspark.sql import DataFrame, functions as F

from . import gates
from .similarity import nearest_cells
from .windows import top_k_per_group

_ADC_SCHEMA = "query_id long, neighbor_id long, adc_cos double"


def _require_numpy():
    import numpy as np

    return np


class PqCodebooks:
    """Trained PQ codebooks: numpy array of shape (m, k, d/m), plus the
    dimensionality they were fit on. Driver-side, a few KB — shipped to
    executors as a UDF closure constant, persisted as parquet for
    build-once / encode-many deployments."""

    def __init__(self, codebooks) -> None:
        np = _require_numpy()
        self.codebooks = np.asarray(codebooks, dtype="float64")
        if self.codebooks.ndim != 3:
            raise ValueError("codebooks must be (m, k, dsub)")

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @property
    def dim(self) -> int:
        return self.m * self.dsub

    def write(self, spark, path: str) -> "PqCodebooks":
        rows = [
            (j, c, [float(x) for x in self.codebooks[j, c]])
            for j in range(self.m)
            for c in range(self.k)
        ]
        (
            spark.createDataFrame(
                rows, "subspace int, code int, center array<double>"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        return self

    @classmethod
    def load(cls, spark, path: str) -> "PqCodebooks":
        np = _require_numpy()
        rows = spark.read.parquet(path).collect()
        m = 1 + max(r.subspace for r in rows)
        k = 1 + max(r.code for r in rows)
        dsub = len(rows[0].center)
        books = np.zeros((m, k, dsub))
        for r in rows:
            books[r.subspace, r.code] = r.center
        return cls(books)


def _normalized(vec_col):
    """L2-normalize a double-array column (zero vectors pass through
    unscaled rather than dividing by zero)."""
    nrm = F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return F.when(nrm == 0.0, vec_col).otherwise(
        F.transform(vec_col, lambda x: x / nrm)
    )


def _query_batch(queries: DataFrame, vec_col: str, query_id_col: str):
    """(query ids, (Q, dim) L2-normalized vectors) of a serving batch
    collected under ``gates.SERVING_BATCH_MAX``, or None when empty."""
    np = _require_numpy()
    qrows = gates.collect_bounded(
        queries.select(
            F.col(query_id_col).alias("qid"),
            _normalized(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("qvec"),
        ),
        gates.SERVING_BATCH_MAX,
    )
    if not qrows:
        return None
    qids = np.array([r.qid for r in qrows])
    return qids, np.stack([np.asarray(r.qvec) for r in qrows])


def _adc_lut(books, qmat):
    """(Q, m, k) ADC lookup table: LUT[q, j, c] = ||q_j - c||², the
    squared distance from query q's j-th sub-vector to centroid c."""
    np = _require_numpy()
    m, kk, dsub = books.shape
    lut = np.empty((len(qmat), m, kk))
    for j in range(m):
        sub = qmat[:, j * dsub : (j + 1) * dsub]  # (Q, dsub)
        lut[:, j, :] = (
            (sub**2).sum(axis=1, keepdims=True)
            + (books[j] ** 2).sum(axis=1)[None, :]
            - 2.0 * (sub @ books[j].T)
        )
    return lut


def train_pq(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    train_fraction: float = 1.0,
    max_train_rows: int | None = 262_144,
    max_iter: int = 5,
    seed: int = 7,
) -> PqCodebooks:
    """Fit m independent k-means sub-quantizers, one per d/m-dim slice.

    The sliced, normalized training sample is persisted ONCE and all m
    fits read it — k-means is iterative, and without the persist every
    Lloyd iteration of every subspace would re-derive scan→cast→
    normalize→slice. m stays small (8–16) so the sequential fits are
    fine; each fit is itself distributed (Spark ML KMeans).

    SAMPLED TRAINING (r13, after the r12 full-corpus build OOMed at
    10M vectors): codebook training needs the density SHAPE of each
    subspace, not every vector — standard PQ practice trains on a few
    hundred points per centroid, so 2^18 rows oversamples even a
    k=256 sub-quantizer ~4000×. ``max_train_rows`` (default 2^18)
    caps the k-means input: above the cap the training set is
    Bernoulli-downsampled to the cap's expected size (seeded —
    deterministic for a fixed corpus partitioning, the same contract
    as ``train_fraction``); below it nothing changes, so every
    ≤262k-row corpus (all driver/test SFs) trains bit-identically to
    the pre-cap behavior. ENCODING still covers every vector — the
    cap affects centroid placement only, the same training/assignment
    split as ``ensure_ivf_index``'s 25% coarse-quantizer sample. The
    cap costs one count() job at build time — metadata-cheap on
    parquet, amortized by the build-once contract. Pass
    ``max_train_rows=None`` to force full-corpus training.

    ``k ≤ 256`` so codes fit one byte per subspace — the point of PQ
    is the 1-byte code; a sub-quantizer needing more than 256 cells
    wants more subspaces, not more centroids.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if k > 256:
        raise ValueError("k > 256 breaks the 1-byte-per-subspace code")
    np = _require_numpy()
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.storagelevel import StorageLevel

    dsub = dim // m
    base = corpus.select(
        _normalized(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "v"
        )
    )
    frac = min(train_fraction, 1.0)
    if max_train_rows is not None:
        n = corpus.count()
        if n * frac > max_train_rows:
            frac = max_train_rows / n
    # NB: sample() must be called with explicit keywords — pyspark's
    # (withReplacement, fraction, seed) overload resolution silently
    # DROPS a keyword seed when the fraction is passed positionally
    # (`sample(0.1, seed=7)` plans a random seed), which made sampled
    # training nondeterministic until r13
    sample = (
        base
        if frac >= 1.0
        else base.sample(withReplacement=False, fraction=frac, seed=seed)
    )
    sliced = sample.select(
        *[
            # F.slice is 1-indexed
            F.slice("v", j * dsub + 1, dsub).alias(f"s_{j}")
            for j in range(m)
        ]
    ).persist(StorageLevel.MEMORY_AND_DISK)

    books = np.zeros((m, k, dsub))

    def fit_subspace(j: int) -> None:
        feat = sliced.select(array_to_vector(f"s_{j}").alias("features"))
        model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(feat)
        for c, ctr in enumerate(model.clusterCenters()):
            books[j, c] = list(map(float, ctr))
        # KMeans may return < k centers on degenerate data; leave
        # the remaining rows at the zero vector — they simply never
        # win an argmin unless the data itself is zero.

    # The m fits are INDEPENDENT driver-orchestrated loops over the
    # same persisted sample, and each individual Lloyd job is far
    # smaller than the cluster — running them sequentially serializes
    # m × (per-job scheduling + iteration barrier) dead time. Spark
    # supports concurrent job submission from threads, so fit every
    # subspace at once up to a bound (oversubscribing just queues
    # jobs in the FIFO scheduler). Determinism is untouched: each fit
    # is seeded per-subspace and writes its own books[j] slice.
    # Measured at sf0.1 (m=16, k=16): sequential 21-24 s → 4 threads
    # 8-9 s (r10); 4 → 16 threads 4.59 → 3.53 s warm-interleaved
    # best-of-3 with bit-identical books (r13 — the barrier dead time
    # still dominated at 4).
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=min(16, m)) as pool:
            list(pool.map(fit_subspace, range(m)))
    finally:
        sliced.unpersist()
    return PqCodebooks(books)


def pq_encode(
    codebooks: PqCodebooks,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m-byte PQ code: (id, code binary).

    One vectorized Pandas UDF, codebooks as closure constant. Per Arrow
    batch and subspace: ``argmin ‖x_j − c‖²`` via the expanded form
    ``‖c‖² − 2·x_j·cᵀ`` (the ‖x_j‖² term is constant per row and
    cannot change the argmin). The emitted column is BINARY — m bytes
    per vector, the layout you'd persist next to (or instead of) the
    raw embedding column.
    """
    np = _require_numpy()
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    books = codebooks.codebooks  # (m, k, dsub)
    m, _, dsub = books.shape
    center_sq = (books**2).sum(axis=2)  # (m, k)

    def _encode_batch(vec):
        v = np.stack(vec.to_numpy())  # (batch, dim)
        # normalize (training/ADC operate on the unit sphere)
        nrm = np.linalg.norm(v, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        v = v / nrm
        codes = np.empty((len(v), m), dtype=np.uint8)
        for j in range(m):
            sub = v[:, j * dsub : (j + 1) * dsub]  # (batch, dsub)
            d = center_sq[j][None, :] - 2.0 * (sub @ books[j].T)
            codes[:, j] = np.argmin(d, axis=1)
        return pd.Series([c.tobytes() for c in codes])

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint inference can't resolve
    encode_udf = pandas_udf(_encode_batch, "binary")
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        encode_udf(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("code"),
    )


def pq_adc_topk(
    codebooks: PqCodebooks,
    encoded: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k per query by asymmetric distance over PQ codes.

    The query batch collects to the driver (bounded — this is a serving
    batch of at most ``gates.SERVING_BATCH_MAX`` rows; a larger one
    raises ``ValueError``) and becomes one (Q, m, k) float lookup table
    in the task closure: entry [q, j, c] is the squared distance from
    query q's j-th sub-vector to centroid c. Scoring a corpus code is then m byte-indexed gathers — no
    d-dim arithmetic, no raw vectors, no shuffle of the corpus. Each
    Arrow batch is pruned to its own top-k per query on the SAME key
    the global rank cut uses — (round(adc_cos, 6) desc, neighbor_id
    asc) — so the result is batching-invariant: pruning on the raw
    score would resolve sub-1e-6 near-ties differently depending on
    whether the two candidates share an Arrow batch. The global
    ``top_k_per_group`` rank cut finishes on ≤ k · n_batches rows per
    query.

    Returns (query_id, neighbor_id, adc_cos) with ``adc_cos`` the
    ADC-approximated cosine (1 − d²/2 on the unit sphere), rounded to
    6 places like every similarity score in this package.
    """
    np = _require_numpy()
    import pandas as pd

    m = codebooks.m
    batch = _query_batch(queries, vec_col, query_id_col)
    if batch is None:
        return encoded.sparkSession.createDataFrame([], _ADC_SCHEMA)
    qids, qmat = batch
    lut = _adc_lut(codebooks.codebooks, qmat)

    # Queries are scored in fixed-size chunks so the per-task distance
    # block is (chunk × arrow_batch) — bounded regardless of how large
    # a query batch the cap admits (at the 10k cap a single (Q × B)
    # matrix would be ~0.8 GB per task; 512-query chunks hold it at
    # ~40 MB with identical output).
    q_chunk = 512

    def _score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            codes = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["code"]]
            )  # (B, m)
            take = min(k, len(ids))
            for qs in range(0, len(qids), q_chunk):
                chunk_lut = lut[qs : qs + q_chunk]  # (C, m, k)
                dist = np.zeros((chunk_lut.shape[0], len(ids)))
                for j in range(m):
                    dist += chunk_lut[:, j, codes[:, j]]  # (C, B) gather
                cos = 1.0 - dist / 2.0
                for ci, qi in enumerate(range(qs, qs + chunk_lut.shape[0])):
                    # self-match exclusion happens on ids, not scores: a
                    # query that exists in the corpus must not return
                    # itself
                    mask = ids != qids[qi]
                    cand_cos = cos[ci][mask]
                    cand_ids = ids[mask]
                    if not len(cand_ids):
                        continue
                    # Prune on the SAME key the global rank cut uses —
                    # the ROUNDED score. Pruning on raw cos while
                    # emitting round(cos, 6) would let two candidates
                    # that differ only past the 6th decimal tie at the
                    # global cut but not at the prune, making output
                    # depend on Arrow batch boundaries.
                    cand_cos = np.round(cand_cos, 6)
                    order = np.lexsort((cand_ids, -cand_cos))[:take]
                    yield pd.DataFrame(
                        {
                            "query_id": qids[qi],
                            "neighbor_id": cand_ids[order],
                            "adc_cos": cand_cos[order],
                        }
                    )

    pruned = encoded.mapInPandas(_score, _ADC_SCHEMA)
    return top_k_per_group(
        pruned,
        group_by=["query_id"],
        order_by=[F.col("adc_cos").desc(), F.col("neighbor_id").asc()],
        k=k,
    )


def pq_encode_ivf(codebooks: PqCodebooks, index) -> DataFrame:
    """PQ-encode an IVF index's assignments table: (neighbor_id,
    cluster, code). This is the IVF-PQ storage layout — persist it
    partitioned by cluster (``write_dataset``/``partitionBy``) and the
    raw vector column can be dropped entirely from the serving copy."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.pandas.functions import pandas_udf

    np = _require_numpy()
    books = codebooks.codebooks
    m, _, dsub = books.shape
    center_sq = (books**2).sum(axis=2)

    def _encode_batch(vec):
        v = np.stack(vec.to_numpy())
        nrm = np.linalg.norm(v, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        v = v / nrm
        codes = np.empty((len(v), m), dtype=np.uint8)
        for j in range(m):
            sub = v[:, j * dsub : (j + 1) * dsub]
            d = center_sq[j][None, :] - 2.0 * (sub @ books[j].T)
            codes[:, j] = np.argmin(d, axis=1)
        import pandas as pd

        return pd.Series([c.tobytes() for c in codes])

    encode_udf = pandas_udf(_encode_batch, "binary")
    return index.assignments.select(
        "neighbor_id", "cluster", encode_udf("cvec").alias("code")
    )


def ivf_pq_topk(
    index,
    codebooks: PqCodebooks,
    encoded_assignments: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probe: int = 3,
) -> DataFrame:
    """IVF-PQ (IVFADC without residual encoding): the IVF coarse
    quantizer prunes the corpus to each query's ``n_probe`` nearest
    cells, then ADC scores ONLY those cells' m-byte codes. Scoring
    never touches a raw vector — the full 100 TB serving shape: read
    n_probe/n_clusters of a corpus that is itself ~100× smaller than
    the embedding column it replaced.

    SCAN PRUNING IS EXPLICIT (r13): the earlier shape joined the
    partitioned code table against ``broadcast(probed)`` and TRUSTED
    the optimizer to prune the scan — it never did (dynamic partition
    pruning declines to fire across the Python-evaluated probe side;
    the e10m probe read `PartitionFilters: [isnotnull(cluster)]` and
    served in 47 s, SLOWER than the unpruned plain-ADC scan's 6.9 s
    because the cluster join also fans each code row out per probing
    query). The query batch is on the driver already, so the
    coarse probe is one driver-side numpy matmul and the probed cell
    set becomes a LITERAL ``isin`` filter on the partition column —
    static file-index pruning no optimizer can decline.

    Simplification vs Jégou et al.'s IVFADC: codes quantize the raw
    (normalized) vectors, not the per-cell residuals, trading some
    precision for one shared codebook and an encoding that is
    independent of cluster assignment (so :func:`similarity.ivf_append`
    arrivals encode without knowing their cell). With ``n_probe ≥
    n_clusters`` the result is row-identical to :func:`pq_adc_topk`
    over the same codes (asserted in tests).
    """
    np = _require_numpy()
    import pandas as pd

    m = codebooks.m
    batch = _query_batch(queries, vec_col, query_id_col)
    if batch is None:
        return encoded_assignments.sparkSession.createDataFrame([], _ADC_SCHEMA)
    qids, qmat = batch
    lut = _adc_lut(codebooks.codebooks, qmat)
    lut_by_qid = {int(q): lut[i] for i, q in enumerate(qids)}

    # nearest-centroid probe: one driver-side matmul over the already-
    # collected query batch (the same function ivf_probe uses)
    probe_idx = nearest_cells(qmat, index.centers, n_probe)
    probed_rows = [
        (int(q), int(c)) for q, row in zip(qids, probe_idx) for c in row
    ]
    probed_cells = sorted({c for _, c in probed_rows})

    cell_to_qids = {}
    for q, c in probed_rows:
        cell_to_qids.setdefault(c, []).append(q)

    # NO query↔cluster join (r13): joining broadcast(probed) fanned
    # every code row out once PER PROBING QUERY before scoring, so the
    # expensive part — stacking the binary codes into a byte matrix —
    # ran ~(queries·n_probe/n_clusters)× per corpus row and the
    # "pruned" path lost to the unpruned plain-ADC scan (e1m: 4.0 s vs
    # 1.6 s even after static pruning). The cell→queries map is a
    # bounded closure constant; the pruned scan is scored DIRECTLY:
    # each surviving row is decoded once and scored against exactly
    # the queries that probed its cell.
    hit = encoded_assignments.filter(
        F.col("cluster").isin(probed_cells)
    ).select("neighbor_id", "code", "cluster")

    def _score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["code"]]
            )
            nid = pdf["neighbor_id"].to_numpy()
            cell_arr = pdf["cluster"].to_numpy()
            out_q = []
            out_n = []
            out_c = []
            for cell in np.unique(cell_arr):
                sel = cell_arr == cell
                cq = codes[sel]
                nsel = nid[sel]
                for q in cell_to_qids.get(int(cell), ()):
                    l = lut_by_qid[q]  # (m, k)
                    d = np.zeros(len(cq))
                    for j in range(m):
                        d += l[j, cq[:, j]]
                    keep = nsel != q
                    out_q.append(np.full(keep.sum(), q, dtype=np.int64))
                    out_n.append(nsel[keep])
                    out_c.append(1.0 - d[keep] / 2.0)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "adc_cos": np.round(np.concatenate(out_c), 6),
                    }
                )

    scored = hit.mapInPandas(_score, _ADC_SCHEMA)
    return top_k_per_group(
        scored,
        group_by=["query_id"],
        order_by=[F.col("adc_cos").desc(), F.col("neighbor_id").asc()],
        k=k,
    )
