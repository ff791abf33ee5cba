"""Deduplication operators for LLM-data pipelines: exact, MinHash+LSH,
SimHash, and n-gram Jaccard — each a standard public technique
(Broder '97 resemblance/MinHash; Charikar '02 SimHash; banding per the
classic LSH construction in Mining of Massive Datasets), implemented
as pure DataFrame compositions.

Scale design (100 TB):

- Exact dedup is one hash-shuffle on the fingerprint.
- MinHash: signatures are H aggregates over exploded shingles — one
  shuffle on doc_id; banding turns candidate generation into an
  equi-join on (band_idx, band_hash), which is the whole point: no
  pairwise comparison ever happens outside a bucket. Bucket sizes are
  data-dependent → AQE skew handling applies to the bucket join.
- SimHash: 64 per-bit aggregates over exploded tokens (one shuffle),
  then band-bucketed Hamming candidates like MinHash.
- Brute-force n-gram Jaccard is the small-N verifier / oracle twin,
  not the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F
from pyspark.storagelevel import StorageLevel

from ..caching import unpersist_on_release
from . import gates
from .text import fingerprint, normalize


# --- exact ---------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-identical dedup: group by content fingerprint of the
    normalized text, keep the lowest id (deterministic survivor)."""
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    survivors = fp.groupBy("fp").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )
    return survivors.select(id_col, "fp", "n_copies")


# --- n-gram Jaccard (brute force; verifier/oracle twin) ------------------


def token_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col),
        F.array_distinct(F.split(normalize(text_col), " ")).alias("toks"),
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs token-set Jaccard ≥ threshold. O(n²) — correct but
    only for modest n; the LSH paths below are the scale route."""
    a = token_sets(df, text_col, id_col).select(
        F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a")
    )
    b = token_sets(df, text_col, id_col).select(
        F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    jac = inter.cast("double") / union
    return (
        pairs.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_cross(
    arrivals: DataFrame,
    corpus: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact cross-side token-set Jaccard: every (arrival, corpus) pair
    with similarity ≥ threshold — the corpus never compares against
    itself. O(|A|·|C|) — the small-N verifier/oracle twin of
    :func:`minhash_near_dups_incremental`. Output columns:
    (doc_id — the arrival, corpus_id, jaccard)."""
    a = token_sets(arrivals, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), F.col("toks").alias("toks_a")
    )
    b = token_sets(corpus, text_col, id_col).select(
        F.col(id_col).alias("corpus_id"), F.col("toks").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    jac = inter.cast("double") / union
    return (
        a.crossJoin(b)
        .select("doc_id", "corpus_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --- MinHash + LSH -------------------------------------------------------


def minhash_signatures(
    shingled: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    num_hashes: int = 32,
    include_set_size: bool = False,
) -> DataFrame:
    """H-permutation MinHash signature per document.

    Each 'permutation' is xxhash64 seeded by the hash index; the
    signature component is the min over the doc's shingles. Computed
    as H aggregates over one explode — a single shuffle keyed by
    doc_id regardless of H.

    Kept on the explode + groupBy-min construction after a THREE-WAY
    r10 A/B against shuffle-free row-local variants (50k-doc probe
    corpus, signature stage isolated, noop sink, best-of-3):
    explode+agg 1.89 s vs 64 separate ``array_min(transform(...))``
    projections 3.07 s vs a one-pass ``F.aggregate`` +
    ``zip_with(least)`` accumulator 2.72 s. The codegen'd
    hash-aggregate min (streaming agg buffers, map-side combined)
    beats both array forms, which materialize an H-long intermediate
    array per element. Values are identical across all three
    (exceptAll parity 0), so this is purely an execution-strategy
    decision. (The r10 A/B additionally relied on exchange reuse to
    share this aggregation across the banding self-join's branches;
    under Spark 4.1's AQE that reuse no longer fires — the r13
    event-log probe caught the aggregate executing once PER branch —
    so the self-join consumers now persist the signature frame
    instead; see minhash_near_dups.)

    Deliberately NOT double-hashed (Kirsch–Mitzenmacher
    ``g_i = h1 + i·h2``): measured at sf0.1, the linear family's
    correlated components (adjacent g_i share their argmin shingle)
    inflate band collisions 1.1M → 7.7M candidates while the
    signature stage — dominated by the explode, not hashing — gets
    no faster. H independent hashes is the right trade.
    """
    exploded = shingled.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("shingle")
    )
    # F.expr strings, not F.min(F.xxhash64(F.lit(i), ...)) (r14): the
    # functional form costs ~4 py4j round trips per hash — ~0.5 s of
    # DRIVER time per construction at H=64 on the bench host — while
    # one parsed string per aggregate is a single trip. The expression
    # trees are IDENTICAL (SQL integer literals are IntegerType like
    # F.lit(i), so the xxhash64 seeds hash the same): optimized plans
    # verified equal modulo expression ids, oracle hashes unchanged.
    aggs = [
        F.expr(f"min(xxhash64({i}, shingle)) AS mh_{i}")
        for i in range(num_hashes)
    ]
    if include_set_size:
        # shingle arrays are distinct by construction (token_sets), so
        # a plain count IS the set size — rides the same aggregate,
        # costing nothing, and spares downstream consumers (the PPJoin
        # length prune) a separate per-doc size join.
        aggs.append(F.expr("count(1) AS n_set"))
    return exploded.groupBy(id_col).agg(*aggs)


def pick_bands(num_hashes: int, threshold: float) -> int:
    """Choose the band count whose LSH S-curve midpoint
    ``(1/b)**(r/H)`` sits just below the target threshold: high
    thresholds → few bands × many rows (prunes dissimilar pairs hard),
    low thresholds → many bands (keeps recall). Candidate volume is the
    cost knob at scale — with b too large every moderately-similar pair
    collides and the verify join degenerates toward all-pairs."""
    best = 1
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        midpoint = (1.0 / b) ** (b / num_hashes)
        if midpoint <= threshold:
            return b
        best = b
    return best


def _band_key_array(num_hashes: int, bands: int):
    """One PACKED 64-bit join key per band: xxhash64 over (band
    index, the band's signature components). Shared by the self-join
    and the incremental (cross-side) candidate generators.

    Packing the band index INTO the hash (r10 rework) replaces the
    previous (band int, bucket long) struct: the banded rows shuffle
    one 8-byte long instead of a 12-byte struct and the candidate
    join keys on a single long instead of two columns. Two docs
    collide iff they share a band's key — cross-band accidental
    equality would need a 64-bit xxhash collision, and the exact-
    Jaccard verify downstream keeps even that from reaching the
    output."""
    rows_per_band = num_hashes // bands
    # one parsed expression instead of bands × (rows_per_band + 2)
    # py4j round trips (r14 construction-cost round; tree identical —
    # see minhash_signatures)
    parts = ", ".join(
        f"xxhash64({b}, "
        + ", ".join(
            f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        + ")"
        for b in range(bands)
    )
    return F.expr(f"array({parts})")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    dedupe: bool = True,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Band the signature and equi-join on (band index, band hash):
    two docs are candidates iff they collide in ≥1 band.

    ``dedupe=False`` skips the distinct — a pair colliding in k bands
    appears k times. Keep the default: the candidate rows are two
    ints (16 B), so the distinct shuffle is cheap, while every
    surviving duplicate costs an O(|A|+|B|) set-intersect in the
    verify join downstream. Measured at sf0.1/t=0.95 (1.63M raw →
    1.07M distinct): distinct-first verifies in 7.8 s vs 17.2 s
    raw — deduping only the verified output loses by 2.2×.

    ``carry_cols``: extra per-doc columns of ``signatures`` carried
    through the band join, emitted as ``<col>_a``/``<col>_b`` on each
    pair. The cheap way to give a downstream pruning filter (e.g. the
    PPJoin length bound) its inputs BEFORE any per-pair join: a few
    bytes on each banded row instead of re-joining candidates against
    a per-doc table."""
    band_keys = _band_key_array(num_hashes, bands)
    banded = signatures.select(
        F.col(id_col), *carry_cols, F.explode(band_keys).alias("bucket")
    )
    left = banded.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry_cols],
        "bucket",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry_cols],
        "bucket",
    )
    out_cols = ["id_a", "id_b"] + [
        f"{c}{s}" for c in carry_cols for s in ("_a", "_b")
    ]
    pairs = (
        left.join(right, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*out_cols)
    )
    return pairs.distinct() if dedupe else pairs


def minhash_near_dups(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard
    on the candidates only (candidates ≪ all pairs — that's the LSH
    win). Returns (id_a, id_b, jaccard ≥ threshold).

    The token-set intermediate is persisted (MEMORY_AND_DISK): it
    feeds both the signature aggregation and both sides of the verify
    join, and without caching Spark re-derives the whole tokenize
    lineage per consumer — measured 5× slower at sf0.1. The cache is
    released automatically when the returned DataFrame is dropped
    (``caching.unpersist_on_release``), so repeated dedup passes in
    one session don't accumulate storage.

    Verify-path cost discipline, in order:

    1. Candidates ARE deduped up front: candidate rows are two ints
       (16 B) so the distinct shuffle is cheap, and each removed
       duplicate saves an O(|A|+|B|) set-intersect in the verify
       join. A/B at sf0.1/t=0.95 (1.63M raw → 1.07M distinct, ~1.5×
       band multiplicity): distinct-first 7.8 s vs dedupe-at-the-end
       17.2 s. (An earlier change tried the reverse on the theory
       that 1.5× re-verification beats a full candidate shuffle;
       measurement said otherwise — the verify compute, not the
       shuffle, dominates.) Not persisted: single consumer.
    2. Length prune before EVERYTHING per-pair: J(A,B) ≥ t implies
       min(|A|,|B|) ≥ t·max(|A|,|B|) (the PPJoin-family length
       filter) — a two-integer comparison that is LOSSLESS. Sizes are
       carried through the banding join itself (``carry_cols``), so
       the bound runs on raw band collisions, ahead of the distinct
       and of both array-attachment joins (measured 10.7 s → 7.8 s
       when pruning inside the verify join; pruning pre-distinct
       removes 43% of candidates before any per-pair work).
    3. Exact Jaccard only on what survives both, computed as ONE set
       build per pair: |A∪B| = |A|+|B|−|A∩B| (sets are distinct by
       construction), so the ``array_union`` set build is replaced by
       integer arithmetic on the sizes already computed for the
       length prune.

    The verify arrays carry xxhash64(token) longs, not token strings:
    set-intersect cost is dominated by per-element equality/hashing,
    and fixed 8-byte longs beat variable UTF8 strings on both compute
    and shuffle width. Jaccard over hashed sets equals Jaccard over
    string sets unless two distinct tokens of one document collide in
    64 bits (~2⁻⁶⁴·|doc|² — ignorable). The signatures still hash the
    token STRINGS — candidate generation is byte-identical to the
    un-hashed construction, so this is purely a verify-side encoding
    change (an A/B that also hashed inside the signatures shifted
    which borderline pairs collide and verified ~5% fewer pairs).

    Exact duplicates are collapsed BEFORE any MinHash work (the
    standard pipeline order — Lee et al. 2022 run exact dedup ahead
    of near-dedup for the same reason): docs with identical token
    sets share one representative through signatures, banding, and
    verify, and the final pairs are expanded back through the
    group-membership table. Identical-set groups are pathological
    for LSH — every member collides with every other in EVERY band,
    so a group of d docs costs C(d,2) verifies for pairs that are
    Jaccard 1 by construction, and two near-dup groups of sizes
    d₁,d₂ cost d₁·d₂ verifies for ONE representative comparison.
    Expansion is two joins on 16-byte pair rows plus a per-group
    self-join for the within-group (Jaccard = 1) pairs — output is
    row-identical to the uncollapsed construction (exceptAll parity
    0 both ways at sf0.1/t=0.95). Interleaved fresh-session A/B at
    sf0.1, t=0.95, 21% of docs exact-dups: steady-state ~5.4 s →
    ~3.5 s, first-run 13.1 s → 10.7 s. The win grows with dup
    density (web crawls routinely exceed 30% exact dups); on a
    corpus with no exact dups the overhead is one row-local
    fingerprint projection and a window over singleton groups.
    """
    if bands is None:
        bands = pick_bands(num_hashes, threshold)
    # A split-adaptive repartition of this cache (operators/gates.py)
    # was A/B'd in the r13 optimization round and REJECTED:
    # interleaved best-of-3 read 0.74-0.86× (slower) at both
    # thresholds — the pipeline's heavy stages already parallelize
    # through their own exchanges, so the extra exchange + 32-task
    # scheduling on ~10 small stages costs more than the one-task scan
    # saves. (The same helper IS a measured win where the heavy work
    # sits directly on the scan with no shuffle in between — see
    # importance.dsir_log_weights and build_minhash_store's layout.)
    toks = token_sets(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    # exact-duplicate collapse: one representative (min id) per
    # identical token SET. The fingerprint must be order-insensitive
    # (sets, not documents), hence the sort before hashing. The window
    # partitions by fingerprint — group sizes are bounded by the dup
    # multiplicity, never corpus-sized.
    members = (
        toks.selectExpr(
            f"`{id_col}`",
            "md5(to_json(array_sort(toks))) AS fp",
        )
        .selectExpr(
            f"`{id_col}`",
            f"min(`{id_col}`) OVER (PARTITION BY fp) AS rep",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rep_toks = toks.join(
        members.filter(F.col(id_col) == F.col("rep")).select(id_col), id_col
    )
    # include_set_size: the set size rides the signature aggregation
    # itself (same groupBy, zero extra shuffle or join).
    #
    # PERSISTED (r13 optimization round): the banding self-join
    # consumes `sigs` on BOTH sides, and the exchange-reuse that the
    # r10 A/B relied on to share the signature aggregation across the
    # branches no longer fires under Spark 4.1's AQE — the event-log
    # probe caught the 64-hash aggregate executing TWICE (two
    # signature-sized stage sums, 34.7 s + 23.3 s of task time at
    # sf0.1/t=0.9). The cache is tiny (one row per rep: H longs +
    # n_set) and interleaved best-of-3 reads 6.80 → 3.17 s (2.14×) at
    # t=0.9, 2.79 → 2.12 s (1.31×) at t=0.95. Released with the other
    # intermediates via unpersist_on_release.
    sigs = minhash_signatures(
        rep_toks.withColumnRenamed("toks", "shingles"),
        id_col=id_col,
        shingle_col="shingles",
        num_hashes=num_hashes,
        include_set_size=True,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Set sizes then ride through the banding join (carry_cols) so the
    # length prune (#2 above) fires on the RAW band collisions —
    # before the distinct shuffles them and long before the verify
    # join attaches token arrays. Measured at sf0.1/t=0.95 the bound
    # discards 43% of candidates (1.07M → 0.61M): that many fewer
    # rows through distinct, two array attachments, and set-intersects,
    # for four extra bytes per banded row and zero extra joins.
    raw = lsh_candidate_pairs(
        sigs,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        dedupe=False,
        carry_cols=("n_set",),
    )
    # SQL-string forms of the prune/verify expressions (r14): same
    # trees as the previous Column-by-Column construction (float
    # literals carry the D suffix so they stay DoubleType like
    # F.lit(threshold); verified plan-equal mod expression ids), built
    # in one py4j round trip per projection instead of one per node.
    t_lit = f"{threshold!r}D"
    candidates = (
        raw.filter(
            f"n_set_a >= n_set_b * {t_lit} AND n_set_b >= n_set_a * {t_lit}"
        )
        .select("id_a", "id_b", "n_set_a", "n_set_b")
        .distinct()
    )

    a = rep_toks.selectExpr(
        f"`{id_col}` AS id_a", "transform(toks, t -> xxhash64(t)) AS toks_a"
    )
    b = rep_toks.selectExpr(
        f"`{id_col}` AS id_b", "transform(toks, t -> xxhash64(t)) AS toks_b"
    )
    rep_pairs = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "size(array_intersect(toks_a, toks_b)) AS n_inter",
            "n_set_a AS n_a",
            "n_set_b AS n_b",
        )
        .selectExpr(
            "id_a",
            "id_b",
            "round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6)"
            " AS jaccard",
        )
        .filter(f"jaccard >= {t_lit}")
    )
    # expand representative pairs back to member pairs. Cross-group:
    # J(x, y) for x∈A, y∈B equals J(rep_A, rep_B) because members
    # share their rep's token set verbatim. Within-group: every member
    # pair of one group is Jaccard exactly 1 (≥ any threshold ≤ 1).
    ma = members.select(F.col("rep").alias("id_a"), F.col(id_col).alias("_da"))
    mb = members.select(F.col("rep").alias("id_b"), F.col(id_col).alias("_db"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_da", "_db").alias("id_a"),
            F.greatest("_da", "_db").alias("id_b"),
            "jaccard",
        )
    )
    wa = members.select("rep", F.col(id_col).alias("_da"))
    wb = members.select("rep", F.col(id_col).alias("_db"))
    within = (
        wa.join(wb, "rep")
        .filter(F.col("_da") < F.col("_db"))
        .select(
            F.col("_da").alias("id_a"),
            F.col("_db").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    verified = cross.union(within)
    return unpersist_on_release(verified, toks, members, sigs)


def minhash_near_dups_incremental(
    arrivals: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """Arrivals-vs-corpus near-dup pairs — the INCREMENTAL dedup shape
    a daily ingest runs at 100 TB: candidates come from a cross-side
    band join (arrival signatures × corpus signatures), so the corpus
    is never self-joined and per-day cost scales with the arrival
    batch's band collisions, not |corpus|². Re-deduping the whole
    corpus daily is the anti-pattern this operator exists to avoid.

    Same verify discipline as :func:`minhash_near_dups` (lossless
    PPJoin length prune on raw collisions via carried set sizes,
    distinct on id pairs, exact Jaccard over hashed-long token sets),
    so precision is exact; recall follows the same banding S-curve.

    Scale notes: in a real deployment the corpus side of the band join
    reads a PERSISTED signature store (signatures are computed once at
    corpus-ingest time — the analog of :func:`ensure_ivf_index`'s
    build-once contract), so per-batch work is arrival tokenize +
    signatures + one equi-join against bucketed signatures. The
    arrival side is batch-sized by construction, and the shared
    serving join (:func:`minhash_near_dups_vs_store`) pins it as the
    broadcast build explicitly — size estimates once picked a
    corpus-derived side (BENCH_NOTES_r12 §7).

    Output columns: (doc_id — the arrival, corpus_id, jaccard).
    """
    c_toks = token_sets(corpus, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # PERSISTED (r13 optimization round, same finding as the sigs
    # persist in minhash_near_dups): the serving join consumes the
    # signature frame twice — band keys, then toks_h for the verify —
    # and without a cache the corpus signature aggregation executes
    # once per consumer (exchange reuse no longer deduplicates the
    # branches under Spark 4.1 AQE). The on-disk store path
    # (minhash_near_dups_vs_store over a loaded parquet store) is
    # unaffected: re-scanning the store is a flat read, which is the
    # deployment answer — this inline variant persists the frame it
    # would otherwise recompute.
    store = _signature_frame_from_toks(c_toks, id_col, num_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    verified = minhash_near_dups_vs_store(
        arrivals,
        store,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    return unpersist_on_release(verified, c_toks, store)


def arrivals_decision(
    arrivals: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Reduce cross-side near-dup pairs to the per-arrival ingest
    decision: (doc_id, is_dup, dup_of — deterministic min-id corpus
    match, n_matches). Every arrival appears exactly once; novel docs
    carry (false, null, 0)."""
    agg = pairs.groupBy("doc_id").agg(
        F.min("corpus_id").alias("dup_of"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    return (
        arrivals.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        )
    )


# --- persisted signature store (build-once corpus side) -------------------


def corpus_signature_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
) -> DataFrame:
    """One row per document with everything the incremental matcher
    needs from the corpus side: the MinHash signature columns
    (``mh_0..mh_{H-1}``), the token-set size ``n_set`` (length prune),
    and the xxhash64-encoded token set ``toks_h`` (exact verify).
    Computing this once per corpus — at ingest time — is what turns
    daily dedup from O(corpus) re-tokenization into O(batch) work."""
    return _signature_frame_from_toks(
        token_sets(docs, text_col, id_col), id_col, num_hashes
    )


def _signature_frame_from_toks(
    toks: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    sigs = minhash_signatures(
        toks.withColumnRenamed("toks", "shingles"),
        id_col=id_col,
        shingle_col="shingles",
        num_hashes=num_hashes,
        include_set_size=True,
    )
    hashed = toks.selectExpr(
        f"`{id_col}`", "transform(toks, t -> xxhash64(t)) AS toks_h"
    )
    return sigs.join(hashed, id_col)


def build_minhash_store(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
) -> None:
    """Materialize the corpus signature store as parquet — the
    build-once/match-many artifact of an incremental dedup deployment
    (same offline/serving split as the IVF index). Store size is one
    row per doc: H longs + the hashed token array, a small multiple of
    a fingerprint and far smaller than the text.

    FILE LAYOUT (r13 opt round, reworked r14 per ADVICE r13 /
    VERDICT r13 item 9): the serving contract forbids ever shuffling
    the store (minhash_near_dups_vs_store pins every broadcast build
    to the batch side and streams the store), so the SERVING-side
    parallelism of the band join and of the exact-Jaccard verify is
    exactly the store scan's split count — and AQE's coalesced write
    of a toy-scale store emitted ONE file, serializing every serving
    stage onto one core (r13 event-log probe: 1-task serve stages of
    3.4/3.1/3.5 s on a 32-core session). The fix is now SIZE-GATED
    instead of unconditional: when the Catalyst estimate says the
    whole store is smaller than ``gates.MIN_BYTES_PER_SLOT`` (one 4 MB
    file-open charge) per task slot, repartition to
    ``defaultParallelism`` (bounded: < slots × 4 MB moved once);
    otherwise write the frame's NATURAL layout — a deployment-scale
    build keeps AQE's size-targeted partitioning
    and no longer pays an unconditional extra full shuffle, and a
    tiny store under a 200-partition default no longer lands as ~200
    near-empty files. On estimate failure the conservative branch is
    the repartition: serving parallelism is the contract this
    artifact exists for."""
    spark = docs.sparkSession
    frame = corpus_signature_frame(docs, text_col, id_col, num_hashes)
    slots = spark.sparkContext.defaultParallelism
    est = gates.plan_bytes(frame)
    # unknown → floor the layout at serving parallelism
    if est is None or est < slots * gates.MIN_BYTES_PER_SLOT:
        frame = frame.repartition(slots)
    frame.write.mode("overwrite").option("compression", "zstd").parquet(path)


def load_minhash_store(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def minhash_near_dups_vs_store(
    arrivals: DataFrame,
    store: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """Arrivals-vs-store near-dup pairs: the steady-state serving shape
    of incremental dedup. The corpus side arrives PRE-SIGNED (a
    :func:`corpus_signature_frame` / loaded store), so per-batch work
    is arrival tokenize + signatures + one band equi-join + verify
    against stored hashed token sets — the corpus is never
    re-tokenized, never self-joined. Output: (doc_id — the arrival,
    corpus_id, jaccard ≥ threshold).

    BUILD-SIDE PIN (BENCH_NOTES_r12 §7): every join here broadcasts
    the BATCH-derived side explicitly — the exploded arrival band
    keys, then the distinct candidate id-pairs, then the arrival
    token sets — so the store is only ever the streamed/probe side.
    Left to size estimates, the optimizer broadcast a STORE-derived
    side at the r12 5M-doc probe (zstd-compressed parquet estimates
    sat under the 64 MB auto-broadcast threshold) and collected
    >1 GiB of task results into the driver — a guaranteed driver OOM
    at deployment scale. The store must never shuffle either: a
    serving batch that forced a corpus-wide exchange would turn
    per-batch cost from O(batch) into O(corpus).
    ``tests/test_plan_shapes.py::test_store_serving_join_never_builds_on_the_store``
    pins both properties at plan level."""
    if bands is None:
        bands = pick_bands(num_hashes, threshold)
    a_toks = token_sets(arrivals, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a_sigs = minhash_signatures(
        a_toks.withColumnRenamed("toks", "shingles"),
        id_col=id_col,
        shingle_col="shingles",
        num_hashes=num_hashes,
        include_set_size=True,
    )
    band_keys = _band_key_array(num_hashes, bands)
    banded_a = a_sigs.select(
        F.col(id_col).alias("doc_id"),
        F.col("n_set").alias("n_a"),
        F.explode(band_keys).alias("bucket"),
    )
    banded_c = store.select(
        F.col(id_col).alias("corpus_id"),
        F.col("n_set").alias("n_c"),
        F.explode(band_keys).alias("bucket"),
    )
    t_lit = f"{threshold!r}D"
    candidates = (
        F.broadcast(banded_a)
        .join(banded_c, ["bucket"])
        .filter(f"n_a >= n_c * {t_lit} AND n_c >= n_a * {t_lit}")
        .select("doc_id", "corpus_id", "n_a", "n_c")
        .distinct()
    )
    a = a_toks.selectExpr(
        f"`{id_col}` AS doc_id", "transform(toks, t -> xxhash64(t)) AS toks_a"
    )
    c = store.select(F.col(id_col).alias("corpus_id"), F.col("toks_h").alias("toks_b"))
    # BOUNDED arrival-token-set broadcast (VERDICT r13 item 5): unlike
    # the two scalar-row broadcasts (band keys, candidate id-pairs),
    # `a` carries batch_rows × tokens_per_doc — a large backfill batch
    # would hit the 8 GB broadcast cap / driver memory first. Above
    # the size gate, fall back to a plain equi-join: BOTH sides there
    # are batch-bounded (the left is the candidate-pruned store probe,
    # O(candidates); `a` is the batch), so the store still never
    # shuffles and never becomes a build side — the fallback path is
    # pinned by the same plan test as the broadcast path. An unknown
    # size must not OOM the driver: no broadcast.
    a_bytes = gates.plan_bytes(a)
    maybe_bcast_a = (
        F.broadcast(a)
        if a_bytes is not None and a_bytes <= gates.ARRIVAL_BROADCAST_MAX_BYTES
        else a
    )
    # candidate id-pairs (batch-bounded, four scalar columns) probe the
    # store's token sets; the arrival token sets then join on the
    # candidate-bounded result — the store's toks_h rows never move
    verified = (
        F.broadcast(candidates)
        .join(c, "corpus_id")
        .join(maybe_bcast_a, "doc_id")
        .selectExpr(
            "doc_id",
            "corpus_id",
            "size(array_intersect(toks_a, toks_b)) AS n_inter",
            "n_a",
            "n_c",
        )
        .selectExpr(
            "doc_id",
            "corpus_id",
            "round(CAST(n_inter AS DOUBLE) / (n_a + n_c - n_inter), 6)"
            " AS jaccard",
        )
        .filter(f"jaccard >= {t_lit}")
    )
    return unpersist_on_release(verified, a_toks)


# --- cluster resolution --------------------------------------------------


def union_find_labels(edge_iter) -> dict:
    """Union-find over an iterable of (u, v) edges: min-root union +
    path compression, so every root is its component's minimum vertex.
    Returns {vertex: component-min-label} for every vertex that
    appears in an edge. Pure Python (module-level so the property
    suite can drive it without Spark); the single-task CC path wraps
    it in a ``mapInPandas``."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_iter:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {v: find(v) for v in parent}


def _local_components(edges_sym: DataFrame) -> DataFrame:
    """Single-task union-find over the (persisted, symmetrized) edge
    list: min-root union + path compression, so every root is its
    component's minimum vertex id — byte-identical labels to the
    distributed fixpoint (F.min on strings is binary UTF-8 order,
    Python ``<`` is code-point order; identical for UTF-8). Returns
    the same (vid, label) frame the distributed loop produces,
    localCheckpoint-ed eagerly because the caller unpersists
    ``edges_sym`` right after."""
    u_type = edges_sym.schema["u"].dataType.simpleString()

    def _uf(batches):
        import pandas as pd

        labels = union_find_labels(
            (a, b)
            for pdf in batches
            for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist())
        )
        if labels:
            yield pd.DataFrame(
                {"vid": list(labels), "label": list(labels.values())}
            )

    return (
        edges_sym.coalesce(1)
        .mapInPandas(_uf, f"vid {u_type}, label {u_type}")
        .localCheckpoint()
    )


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over near-dup pair output: (id, cluster_id)
    where cluster_id is the component's minimum vertex id.

    Min-label propagation WITH per-round pointer jumping (the classic
    Shiloach–Vishkin shortcut): each round every pair-graph vertex
    takes the min of its own and its neighbors' labels, then follows
    the resulting label one hop (``label ← label(label)``). Plain
    propagation needs diameter-many rounds — and real near-dup graphs
    have CHAINS (A≈B≈C≈… at a 0.95 threshold), measured diameter 11
    at sf0.1 — while the jump composes paths and converges in
    O(log diameter): 6 rounds on the same graph, byte-identical
    labels (r10 A/B, exceptAll parity 0 both ways). Monotonicity
    argument: labels only decrease (mins of labels), never leave the
    component (labels are component-vertex ids and label(u) ≤ u), and
    the fixpoint of min-of-neighbors + jump is the component minimum.

    Round economics (r10 rework, measured at sf0.1, 186k pairs):

    - The loop runs over the PAIR GRAPH ONLY, never the corpus:
      vertices untouched by any pair are singletons by definition and
      re-enter as a lazy left-join + coalesce after the fixpoint. At
      100 TB this is the difference between iterating on a corpus-
      sized frame and on the (dup-rate-bounded) pair-vertex set —
      most crawl documents are singletons.
    - ``edges_sym`` is repartitioned ONCE on the join key and reused
      by every round's join — the iterative-join co-partitioning
      trade: one extra exchange up front buys round-count × (edge
      re-shuffle) back.
    - ``localCheckpoint`` truncates the growing lineage each round
      (a persist+count variant was A/B'd and LOST ~5×: caching
      disables AQE re-planning inside InMemoryRelation and adds
      columnar conversion per round).
    - The convergence probe rides the checkpoint job itself
      (Observation side-band: the self row carries the previous
      label through the aggregate as ``max(prev)``) — zero extra
      jobs per round.

    Net: 9.0 → 6.2 s warm on the sf0.1 186k-pair graph (the tail of
    every *_dedup_final query), with the round count now bounded by
    log-diameter instead of diameter — the property that matters when
    a crawl's boilerplate chains stretch the dup graph.
    Vertices without any pair keep themselves as singleton clusters.

    ADAPTIVE PATH CHOICE (late-r10): below
    ``gates.CC_LOCAL_MAX_EDGES`` edges the whole fixpoint runs as ONE
    single-task union-find (:func:`_local_components`) instead of the
    iterative loop — the same runtime-statistic-driven replanning AQE
    applies to joins, applied to iteration strategy. The deciding
    statistic is free: ``edges_sym`` must materialize for the loop
    anyway (it is the persisted, pre-partitioned join input), so
    counting it adds one cached-scan job, not a recompute of the pair
    pipeline. The
    distributed loop's per-round floor is ~1 s of job latency
    regardless of edge count — six rounds of scheduling to label a
    186k-edge graph a single core handles in well under a second. The
    threshold is sized to one task's comfortable working set (see its
    comment); a crawl-scale pair graph with billions of edges exceeds
    it and iterates distributed, so the fast path never trades away
    scale behavior — parity between both paths is property-tested on
    random graphs (``tests/test_connected_components.py`` drives each
    path explicitly by patching that constant).
    """
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    # persisted UN-partitioned: the local path reads it straight into
    # one task, and only the distributed loop pays the co-partitioning
    # exchange (inside _pointer_jump_components) — the fast path must
    # not fund a shuffle it never uses
    edges_sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # the decision statistic rides the persist the paths need
        # anyway; both directions are present, so edges = n_sym / 2.
        # a cap of 0 disables the local path even on empty input —
        # the tests use it to force the distributed loop.
        n_sym = edges_sym.count()
        max_edges = gates.CC_LOCAL_MAX_EDGES
        if max_edges > 0 and n_sym <= 2 * max_edges:
            labels = _local_components(edges_sym)
        else:
            labels = _pointer_jump_components(edges_sym, max_iterations)
    finally:
        edges_sym.unpersist()
    # singletons re-enter lazily: no label row → own id
    return vertices.select(F.col(id_col)).join(
        labels, vertices[id_col] == labels["vid"], "left"
    ).select(
        F.col(id_col),
        F.coalesce("label", F.col(id_col)).alias("cluster_id"),
    )


def _pointer_jump_components(
    edges_sym_src: DataFrame, max_iterations: int
) -> DataFrame:
    """The distributed fixpoint (docstring economics in
    :func:`connected_components`): min-label propagation with per-round
    pointer jumping over the pair graph only. Takes the caller's
    persisted symmetrized edges and co-partitions its OWN copy on the
    join key (one cached-read exchange) — the iterative-join
    co-partitioning trade belongs to this path alone.

    The co-partitioned copy is materialized EAGERLY and the caller's
    unpartitioned persist released before the loop starts (ADVICE
    r10): the loop never reads the source again, and holding both
    copies would double the cache footprint for the whole fixpoint on
    exactly the path that only runs at crawl scale. The count that
    forces materialization is one cached-scan + exchange job whose
    work the first loop job would have paid anyway."""
    spark = edges_sym_src.sparkSession
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" under some vendors
        nparts = edges_sym_src.rdd.getNumPartitions()
    edges_sym = edges_sym_src.repartition(nparts, "u").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        edges_sym.count()
        edges_sym_src.unpersist()
        return _pointer_jump_loop(edges_sym, max_iterations)
    finally:
        edges_sym.unpersist()


def _pointer_jump_loop(
    edges_sym: DataFrame, max_iterations: int
) -> DataFrame:
    # pair-graph vertex set: both directions are in edges_sym, so the
    # distinct over u covers every endpoint. (A variant that also
    # sized the loop's shuffle-partition conf to the edge count was
    # A/B'd and showed NO win — the per-round floor is job latency,
    # not task width — so the session conf stays untouched.)
    #
    # CHECKPOINT RETIREMENT (r13): each round's eager localCheckpoint
    # leaves its blocks cached until the JVM ContextCleaner gets
    # around to them, so the loop's storage grew O(V · rounds) — the
    # r13 storage probe measured ~1.5 GB of dead label blocks on a
    # 2.56M-vertex chain graph, dwarfing the (columnar-compressed)
    # edge caches the double-persist fix freed. A round's checkpoint
    # is dead the moment the NEXT round's checkpoint materializes
    # (its joins were the only consumers), so the loop now retires it
    # explicitly, holding storage to O(V): the ids each checkpoint
    # registered are diffed from ``getPersistentRDDs`` around the
    # eager call and unpersisted one round later. A concurrent job
    # persisting an RDD inside that diff window could be swept along
    # — unpersist is a cache eviction, never a correctness event, and
    # the loop is driver-synchronous in every consumer.
    sc = edges_sym.sparkSession.sparkContext

    def _persistent_ids():
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}

    def _checkpoint(df):
        before = _persistent_ids()
        out = df.localCheckpoint()
        return out, _persistent_ids() - before

    def _retire(ids):
        live = sc._jsc.getPersistentRDDs()
        for rid in ids:
            rdd = live.get(rid)
            if rdd is not None:
                rdd.unpersist(False)

    labels, prev_ckpt_ids = _checkpoint(
        edges_sym.select(F.col("u").alias("vid"))
        .distinct()
        .select("vid", F.col("vid").alias("label"))
    )
    label_type = dict(labels.dtypes)["label"]
    for round_no in range(max_iterations):
        neighbor_labels = edges_sym.join(
            labels, edges_sym["u"] == labels["vid"]
        ).select(
            F.col("v").alias("vid"),
            F.col("label"),
            F.lit(None).cast(label_type).alias("prev"),
        )
        cand = (
            labels.select("vid", "label", F.col("label").alias("prev"))
            .union(neighbor_labels)
            .groupBy("vid")
            .agg(
                F.min("label").alias("label"),
                F.max("prev").alias("prev"),
            )
        )
        # pointer jump: follow the candidate label one hop. Every
        # label value is a pair-graph vid (mins of vids), and cand
        # keeps a row per pair-graph vid, so the inner join is
        # total.
        jump = cand.select(
            F.col("vid").alias("jv"), F.col("label").alias("jl")
        )
        obs = Observation(f"cc_round_{round_no}")
        new_labels = (
            cand.join(jump, cand["label"] == jump["jv"])
            .select("vid", F.col("jl").alias("label"), "prev")
            .observe(
                obs,
                # coalesce: sum over an EMPTY frame is NULL, which
                # would never equal 0 and spin the loop to the
                # iteration bound on empty input
                F.coalesce(
                    F.sum((F.col("label") != F.col("prev")).cast("long")),
                    F.lit(0),
                ).alias("changed"),
            )
        )
        new_labels, new_ckpt_ids = _checkpoint(new_labels)
        labels = new_labels.select("vid", "label")
        # the previous round's blocks just had their last read
        _retire(prev_ckpt_ids)
        prev_ckpt_ids = new_ckpt_ids
        if obs.get["changed"] == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — log-diameter exceeds the bound"
        )
    return labels


def resolve_near_dups(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup CLUSTER resolution: pairs → equivalence classes →
    deterministic survivor (minimum id) per class.

    This is the step that turns any pair-producing dedup path (exact,
    MinHash-LSH, SimHash, embedding-cosine) into an actual dedup
    decision: pairs alone can't drop rows, because transitive
    duplicates (A~B, B~C but not A~C in the pair list) must land in
    ONE cluster with ONE survivor. Returns every input row as
    (id, cluster_id, is_survivor ∈ {0,1}); filter is_survivor == 1
    for the kept set.
    """
    comps = connected_components(pairs, df.select(id_col), id_col=id_col)
    return comps.select(
        F.col(id_col),
        F.col("cluster_id"),
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_survivor"),
    )


# --- SimHash -------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document: hash each distinct token, sum ±1
    per bit position, take the sign bit. One explode + one groupBy."""
    exploded = token_sets(df, text_col, id_col).select(
        F.col(id_col), F.explode("toks").alias("tok")
    )
    h = F.xxhash64("tok")
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = exploded.groupBy(id_col).agg(*bit_aggs)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: XOR == OR
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def _simhash_block_exprs(blocks: int, bits: int = 64):
    """Split the fingerprint into ``blocks`` nearly-equal bit ranges and
    return one extraction expression per block."""
    base, extra = divmod(bits, blocks)
    exprs, offset = [], 0
    for b in range(blocks):
        width = base + (1 if b < extra else 0)
        exprs.append(
            F.shiftright(F.col("simhash"), offset).bitwiseAND(F.lit((1 << width) - 1))
        )
        offset += width
    return exprs


def simhash_banded(
    fps: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    blocks: int = 6,
) -> DataFrame:
    """Block-combination banding (Manku et al., WWW'07 — the Google
    web-crawl simhash construction): split 64 bits into ``blocks``
    blocks; a pair within ``max_hamming`` differs in at most
    ``max_hamming`` blocks, so it must agree EXACTLY on some
    combination of ``blocks - max_hamming`` blocks. One table (= one
    exploded row) per combination, keyed by the concatenated block
    values of that combination.

    Why combinations and not single chunks: with the naive
    (max_hamming+1)-chunk split the bucket key is only
    64/(max_hamming+1) bits (16 bits at k=3 → 65,536 buckets), so at
    10⁹ docs every bucket holds ~15k docs and the candidate self-join
    degenerates toward quadratic. Here the key covers
    ``64·(blocks-k)/blocks`` bits (32 bits at blocks=6, k=3) — bucket
    population stays sparse at web scale, at the cost of C(blocks, k)
    tables (20 at 6/3) instead of k+1.
    """
    from itertools import combinations

    if blocks <= max_hamming:
        raise ValueError(
            f"blocks ({blocks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee to hold"
        )
    block_exprs = _simhash_block_exprs(blocks)
    combos = list(combinations(range(blocks), blocks - max_hamming))
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                F.xxhash64(F.lit(t), *[block_exprs[b] for b in combo]).alias("key"),
            )
            for t, combo in enumerate(combos)
        ]
    )
    return fps.select(F.col(id_col), F.col("simhash"), F.explode(tables).alias("tk")).select(
        id_col, "simhash", F.col("tk.tbl").alias("tbl"), F.col("tk.key").alias("key")
    )


def simhash_candidate_pairs(
    fps: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    blocks: int = 6,
) -> DataFrame:
    """Candidate (id_a, id_b, sh_a, sh_b) pairs colliding in ≥1
    block-combination table. Complete within the Hamming budget;
    precision comes from the popcount verify that follows."""
    banded = simhash_banded(fps, max_hamming, id_col=id_col, blocks=blocks)
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "tbl", "key"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "tbl", "key"
    )
    return (
        left.join(right, ["tbl", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )


# --- substring-level exact dedup (Lee et al. 2022) ------------------------


def duplicate_spans(
    docs: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-substring extraction at token
    granularity — the substring-level exact-dedup modality of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better": boilerplate, licenses, and templated passages repeat
    VERBATIM across otherwise-distinct documents, and doc-level dedup
    never sees them).

    Construction (the distributed re-expression of the paper's suffix
    array): every token position anchors one ``min_tokens``-gram; a
    gram appearing in ≥ 2 DISTINCT documents marks its anchor position
    duplicated; CONSECUTIVE duplicated positions per document merge
    into maximal spans via the gaps-and-islands window. Any single
    verbatim token run of length ≥ min_tokens shared across documents
    is covered by exactly one maximal span (all its anchors are
    consecutive). Distinct shared runs whose anchors are
    non-consecutive but closer than min_tokens apart emit spans that
    OVERLAP rather than union — consumers that need disjoint coverage
    take the interval union (``streaming/decontam_gate.tokens_leaked``
    does; :func:`remove_duplicate_spans`'s per-token membership test
    is overlap-safe by construction).

    Returns (doc_id, span_start [0-based token index], span_len
    [tokens], span_text).

    Scale shape: gram identity is ``xxhash64`` over the sliced token
    array (8-byte keys — gram STRINGS never shuffle), the only wide
    ops are one groupBy on gram hash (map-side-combinable distinct-doc
    count) and one equi-join of positions back to the duplicated-gram
    set; islands/spans window only the duplicated positions — at
    realistic dup rates a small fraction of total tokens. Cost is
    O(total tokens), never O(docs²); no nested-loop join anywhere
    (plan-asserted in tests/test_plan_shapes.py).
    """
    from .text import tokens, word_ngram_hashes

    staged = docs.select(F.col(id_col), tokens(text_col).alias("tk"))
    # Deliberately NOT persisted, measured both ways at 50k docs
    # (warm, local[32]): recompute 10.3-10.9 s vs persist(grams+staged)
    # 12.3-16.9 s. The explode's OUTPUT is ~min_tokens× its input, so
    # materializing it costs more than the cheap re-derivation
    # (columnar scan → split → rolling hash); contrast
    # doc_ngram_containment, whose per-doc DISTINCT gram set is small
    # enough that persisting wins. At cluster scale the same shape
    # holds: two cheap map-side re-derivations beat caching an
    # exploded table ~50× the corpus row count.
    grams = staged.select(
        id_col,
        F.posexplode(word_ngram_hashes(F.col("tk"), min_tokens)).alias(
            "pos", "gram"
        ),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup_pos = grams.join(dup, "gram").select(id_col, "pos")
    return _positions_to_spans(staged, dup_pos, min_tokens, id_col)


def _positions_to_spans(
    staged: DataFrame, dup_pos: DataFrame, min_tokens: int, id_col: str
) -> DataFrame:
    """Gaps-and-islands tail shared by the span extractors: merge
    consecutive duplicated anchor positions per doc into maximal spans
    and reconstruct the span text from the staged token arrays."""
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        dup_pos.withColumn("isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + min_tokens).alias("span_len"),
        )
        .drop("isl")
    )
    return spans.join(staged, id_col).select(
        id_col,
        "span_start",
        "span_len",
        F.concat_ws(
            " ", F.slice("tk", F.col("span_start") + 1, F.col("span_len"))
        ).alias("span_text"),
    )


def duplicate_spans_vs(
    docs: DataFrame,
    reference: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Cross-CORPUS span extraction — substring-level benchmark
    decontamination (the span-granular upgrade of
    ``curation.decontaminate``'s gram counting): maximal token runs of
    ``docs`` (≥ min_tokens) that appear VERBATIM anywhere in
    ``reference`` (the eval suite). The output spans are exactly what
    :func:`remove_duplicate_spans` scrubs — count the leak with
    decontaminate, LOCATE and CUT it with this.

    Scale shape: the reference side reduces to its DISTINCT gram-hash
    set — eval suites are tiny next to a training corpus — and rides a
    broadcast semi-join; the corpus is ONE anchor pass, never shuffled
    on text, never self-joined. Same islands tail as
    :func:`duplicate_spans`.
    """
    from .text import tokens, word_ngram_hashes

    staged = docs.select(F.col(id_col), tokens(text_col).alias("tk"))
    grams = staged.select(
        id_col,
        F.posexplode(word_ngram_hashes(F.col("tk"), min_tokens)).alias(
            "pos", "gram"
        ),
    )
    ref_grams = (
        reference.select(
            F.explode(
                word_ngram_hashes(
                    tokens(ref_text_col or text_col), min_tokens
                )
            ).alias("gram")
        )
        .distinct()
    )
    dup_pos = grams.join(
        F.broadcast(ref_grams), "gram", "left_semi"
    ).select(id_col, "pos")
    return _positions_to_spans(staged, dup_pos, min_tokens, id_col)


# Gram-hash construction version stamped into every anchor store. A
# store probed under a DIFFERENT construction would silently match
# nothing (hash values differ even though groupings are equivalent) —
# the worst decontamination failure mode, so the probe fails loudly
# instead. v1 = xxhash64 over the sliced token array (kept after a
# measured r8 A/B against the zip-string form — see
# text.py::word_ngram_hashes). Stores written before stamping existed
# used the same v1 construction, so an unstamped store reads as v1.
ANCHOR_FORMAT = "gram-xxhash64-slicedarray-v1"
_ANCHOR_FORMAT_NAME = "_ANCHOR_FORMAT"
_UNSTAMPED_FORMAT = "gram-xxhash64-slicedarray-v1"


def _check_anchor_format(path: str) -> None:
    import os

    marker = os.path.join(path, _ANCHOR_FORMAT_NAME)
    found = _UNSTAMPED_FORMAT
    if os.path.isfile(marker):
        with open(marker) as f:
            found = f.read().strip()
    if found != ANCHOR_FORMAT:
        raise ValueError(
            f"anchor store {path!r} was built with gram-hash format "
            f"{found!r} but this build probes with {ANCHOR_FORMAT!r} "
            "— matches would silently be missed; rebuild the store "
            "with build_anchor_store on the same reference corpus"
        )


def build_anchor_store(
    reference: DataFrame,
    path: str,
    min_tokens: int = 8,
    text_col: str = "text",
) -> None:
    """Persist a reference corpus's DISTINCT anchor gram-hash set —
    the build-once side of incremental substring decontamination (the
    same offline/serving split as ``build_minhash_store``): the eval
    suite is hashed ONCE, and every arriving batch screens against the
    stored 8-byte hashes without re-reading the reference. The store
    is stamped with the gram-hash construction version; probes check
    it (see ``ANCHOR_FORMAT``)."""
    import os

    from .text import tokens, word_ngram_hashes

    (
        reference.select(
            F.explode(
                word_ngram_hashes(tokens(text_col), min_tokens)
            ).alias("gram")
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )
    tmp = os.path.join(path, _ANCHOR_FORMAT_NAME + ".tmp")
    with open(tmp, "w") as f:
        f.write(ANCHOR_FORMAT)
    os.replace(tmp, os.path.join(path, _ANCHOR_FORMAT_NAME))


def duplicate_spans_vs_store(
    docs: DataFrame,
    store_path: str,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span extraction against a PERSISTED anchor store
    (:func:`build_anchor_store`): per-batch cost is the batch's own
    anchor pass plus a broadcast of the stored gram set — the
    reference text is never touched again. ``min_tokens`` must match
    the store's build value (span granularity is baked into the
    anchors), and the store's gram-hash construction version must
    match this build's (fails loudly otherwise — a silent mismatch
    would admit every contaminated span)."""
    from .text import tokens, word_ngram_hashes

    _check_anchor_format(store_path)
    spark = docs.sparkSession
    staged = docs.select(F.col(id_col), tokens(text_col).alias("tk"))
    grams = staged.select(
        id_col,
        F.posexplode(word_ngram_hashes(F.col("tk"), min_tokens)).alias(
            "pos", "gram"
        ),
    )
    dup_pos = grams.join(
        F.broadcast(spark.read.parquet(store_path)), "gram", "left_semi"
    ).select(id_col, "pos")
    return _positions_to_spans(staged, dup_pos, min_tokens, id_col)


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The removal transform over :func:`duplicate_spans`: drop every
    token that falls inside a cross-document duplicated span and emit
    the scrubbed text (plus how many tokens were cut). Deliberately
    aggressive — EVERY occurrence goes, the conservative variant for
    decontamination-style scrubbing; Lee et al.'s keep-one-occurrence
    policy is a keep-best choice layered on the same span table.

    One left join of per-doc span lists onto the corpus; the token
    filter is a native indexed higher-order function — no UDF, no
    shuffle beyond the join. The per-token membership test is
    overlap-safe: spans from non-consecutive anchors closer than
    min_tokens apart overlap (see :func:`duplicate_spans`), and a
    token inside ANY of them is cut exactly once.

    Returns (doc_id, clean_text, n_tokens_before, n_tokens_removed,
    n_spans_removed) — every input doc appears, clean docs with zero
    removals.
    """
    if spans is None:
        spans = duplicate_spans(
            docs, min_tokens=min_tokens, id_col=id_col, text_col=text_col
        )
    from .text import tokens

    span_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("_spans")
    )
    staged = docs.select(F.col(id_col), tokens(text_col).alias("tk"))
    sp = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_len:int>>"),
    )
    kept = F.filter(
        F.col("tk"),
        lambda x, i: ~F.exists(
            sp,
            lambda s: (i >= s["span_start"])
            & (i < s["span_start"] + s["span_len"]),
        ),
    )
    return staged.join(span_arr, id_col, "left").select(
        id_col,
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("tk").alias("n_tokens_before"),
        (F.size("tk") - F.size(kept)).alias("n_tokens_removed"),
        F.size(sp).alias("n_spans_removed"),
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocks: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Block-combination banding (see ``simhash_banded``) generates
    candidates via an equi-join on (table index, combined block key),
    then a cheap popcount filter verifies the exact distance.
    Fingerprints are persisted: both sides of the banding self-join
    consume them. Result is EXACT within the Hamming budget regardless
    of ``blocks`` — the parameter only trades table count against
    bucket sparsity."""
    fps = simhash_fingerprints(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    result = (
        simhash_candidate_pairs(fps, max_hamming, id_col=id_col, blocks=blocks)
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return unpersist_on_release(result, fps)
