"""Extension-operator tests: recall of the approximate paths against
their exact twins, multimodal plumbing shape, classifier sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from etl_with_s3__dynamodb_and_glue_spark.operators.text import lang_id, quality_score
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist at module teardown: Spark's cache manager substitutes a
    # cached relation into ANY later plan over the same file scan, so a
    # leaked cache here turns downstream plan-shape tests (column
    # pruning on the documents scan) into false failures
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_minhash_recall_vs_exact(docs):
    exact = {
        (r.id_a, r.id_b) for r in dedup.jaccard_pairs(docs, threshold=0.95).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_dups(docs, threshold=0.95).collect()
    }
    assert exact, "exact near-dup set unexpectedly empty"
    # verification step guarantees precision == 1.0
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.3f} < 0.9"


def test_duplicate_spans_constructed(spark):
    """Substring-level exact dedup on a corpus with KNOWN shared runs:
    maximal spans at the right offsets, within-doc-only repeats stay
    out (cross-document rule), and overlapping shared runs union into
    one span."""
    run = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, f"x1 x2 {run} y1"),
            (2, f"{run} z1 z2"),
            (3, " ".join(f"q{i}" for i in range(12))),
            # doc 4 repeats a run WITHIN itself only — no other doc has
            # it, so the cross-document rule keeps it out
            (4, "r1 r2 r3 r4 r5 r1 r2 r3 r4 r5"),
            # docs 5/6/7: doc 6 shares its head with 5 and its tail
            # with 7 — the overlapping duplicated anchors must union
            # into ONE maximal span covering a..g
            (5, "a b c d e p5a p5b p5c"),
            (6, "a b c d e f g"),
            (7, "p7a p7b p7c c d e f g"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.span_start, r.span_len, r.span_text)
        for r in dedup.duplicate_spans(df, min_tokens=4).collect()
    }
    assert got[1] == (2, 10, run)
    assert got[2] == (0, 10, run)
    assert 3 not in got and 4 not in got
    assert got[5] == (0, 5, "a b c d e")
    assert got[6] == (0, 7, "a b c d e f g")
    assert got[7] == (3, 5, "c d e f g")


def test_duplicate_spans_vs_reference_constructed(spark):
    """Cross-corpus span extraction: only runs verbatim-present in the
    reference surface, at the right offsets; train-only repeats stay
    out; and the reference side never contributes output rows."""
    leak = " ".join(f"e{i}" for i in range(8))
    train = spark.createDataFrame(
        [
            (1, f"a1 a2 {leak} a3"),
            (2, f"{leak} b1 b2"),
            # shared between train docs ONLY — not in the reference, so
            # the cross-corpus extractor must ignore it
            (3, "s1 s2 s3 s4 s5 s6 s7 s8 c1"),
            (4, "s1 s2 s3 s4 s5 s6 s7 s8 d1"),
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(100, f"z1 {leak} z2")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.span_start, r.span_len, r.span_text)
        for r in dedup.duplicate_spans_vs(train, ref, min_tokens=4).collect()
    }
    assert got == {1: (2, 8, leak), 2: (0, 8, leak)}


def test_anchor_store_equals_inline_cross_corpus_spans(spark, docs, tmp_path):
    """The persisted-anchor serving path must return EXACTLY what the
    inline cross-corpus extractor returns on the same split — the
    store is a cache, not an approximation."""
    train = docs.filter(F.col("doc_id") % 25 != 0)
    ref = docs.filter(F.col("doc_id") % 25 == 0)
    store = str(tmp_path / "anchor_store")
    dedup.build_anchor_store(ref, store, min_tokens=8)
    inline = sorted(
        map(tuple, dedup.duplicate_spans_vs(train, ref, min_tokens=8).collect())
    )
    stored = sorted(
        map(
            tuple,
            dedup.duplicate_spans_vs_store(train, store, min_tokens=8).collect(),
        )
    )
    assert inline == stored and inline


def test_eval_span_overlap_matches_oracle(spark):
    """doc_eval_span_overlap (staged r7, registered r8, driver-green
    r8) must match its DuckDB twin value-for-value — kept as the
    local agreement test so a regression is caught before the next
    driver window reaches it."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        DOC_EVAL_SPAN_OVERLAP_SQL,
        doc_eval_span_overlap,
    )
    from tests.oracle_harness import compare

    res = compare(
        spark,
        SF_SMOKE,
        "doc_eval_span_overlap",
        doc_eval_span_overlap,
        DOC_EVAL_SPAN_OVERLAP_SQL,
    )
    assert res.get("values_match"), res


def test_staged_scrub_duplicate_spans_matches_oracle(spark):
    """The STAGED round-9 query doc_scrub_duplicate_spans must already
    match its DuckDB twin value-for-value, so registering it later
    cannot surprise. Runs at SF_ORACLE (where the eval split actually
    contaminates a train doc — at sf0.001 the agreement would only
    exercise the tokenize/rejoin identity)."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        DOC_SCRUB_DUPLICATE_SPANS_SQL,
        doc_scrub_duplicate_spans,
    )
    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import compare

    res = compare(
        spark,
        SF_ORACLE,
        "doc_scrub_duplicate_spans",
        doc_scrub_duplicate_spans,
        DOC_SCRUB_DUPLICATE_SPANS_SQL,
    )
    assert res.get("values_match"), res
    # the agreement is not vacuous: at least one doc was actually cut
    cut = (
        doc_scrub_duplicate_spans(spark, SF_ORACLE)
        .filter(F.col("n_tokens_removed") > 0)
        .count()
    )
    assert cut > 0


def test_scrubbed_docs_reextract_zero_spans(spark):
    """Admission invariant (VERDICT r7 item 5): after scrub-and-admit,
    re-running the cross-corpus extractor over the CLEANED text finds
    nothing — on a constructed corpus with planted eval passages
    (distinct flank tokens, so no seam gram can coincidentally reform)
    and on the real sf0.01 split."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        doc_scrub_duplicate_spans,
    )
    from tests.conftest import SF_ORACLE

    leak = " ".join(f"s{i}" for i in range(8))
    train = spark.createDataFrame(
        [
            (1, f"a1 a2 {leak} b1 b2"),
            (2, f"{leak} c1 c2 c3 {leak}"),
            (3, "d1 d2 d3 d4 d5 d6 d7 d8 d9"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"e1 {leak} e2")], "doc_id long, text string"
    )
    spans = dedup.duplicate_spans_vs(train, ev, min_tokens=8)
    scrubbed = dedup.remove_duplicate_spans(train, spans)
    got = {
        r.doc_id: (r.clean_text, r.n_tokens_removed, r.n_spans_removed)
        for r in scrubbed.collect()
    }
    assert got[1] == ("a1 a2 b1 b2", 8, 1)
    assert got[2] == ("c1 c2 c3", 16, 2)
    assert got[3] == ("d1 d2 d3 d4 d5 d6 d7 d8 d9", 0, 0)
    re_extract = dedup.duplicate_spans_vs(
        scrubbed.select("doc_id", F.col("clean_text").alias("text")),
        ev,
        min_tokens=8,
    )
    assert re_extract.count() == 0

    # the real split: scrub output of the staged query is admission-safe
    clean = doc_scrub_duplicate_spans(spark, SF_ORACLE).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    docs_all = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    ev_real = docs_all.filter(F.col("doc_id") % 25 == 0).select(
        "doc_id", "text"
    )
    assert (
        dedup.duplicate_spans_vs(clean, ev_real, min_tokens=8).count() == 0
    )


def test_remove_duplicate_spans_scrubs_exact_occurrences(spark):
    """The removal transform drops exactly the duplicated-span tokens
    and leaves clean docs untouched."""
    run = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, f"x1 x2 {run} y1"),
            (2, f"{run} z1 z2"),
            (3, "q0 q1 q2 q3 q4 q5"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_tokens_removed)
        for r in dedup.remove_duplicate_spans(df, min_tokens=4).collect()
    }
    assert got[1] == ("x1 x2 y1", 10)
    assert got[2] == ("z1 z2", 10)
    assert got[3] == ("q0 q1 q2 q3 q4 q5", 0)


def test_minhash_exact_dup_collapse_expands_completely(spark):
    """The exact-duplicate collapse must be output-invisible: every
    within-group pair (Jaccard 1), every cross-group member pair, and
    no pair involving the unrelated doc. Constructed case: group A =
    {1,2,3,4,5} with one token SET (4 and 5 differ from 1 in order,
    case, spacing and repeats), group B = {10, 11} identical and
    near-identical to A, group C = {30, 31, 32} another set written
    three ways, doc 20 unrelated."""
    a_text = "alpha beta gamma delta epsilon zeta eta theta"
    b_text = a_text + " extra"  # high-overlap near-dup of A
    df = spark.createDataFrame(
        [
            (1, a_text),
            (2, a_text),
            (3, a_text),
            (4, "Theta ETA zeta  epsilon delta gamma beta alpha alpha"),
            (5, " ALPHA beta\tgamma delta epsilon zeta eta theta THETA "),
            (10, b_text),
            (11, b_text),
            (20, "totally different words nothing shared here at all"),
            (30, "alpha beta gamma"),
            (31, "Beta alpha  ALPHA gamma"),
            (32, "gamma GAMMA gamma beta alpha"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.minhash_near_dups(df, threshold=0.8).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    group_a = [1, 2, 3, 4, 5]
    within_a = {(x, y) for x in group_a for y in group_a if x < y}
    within_b = {(10, 11)}
    within_c = {(30, 31), (30, 32), (31, 32)}
    cross = {(x, y) for x in group_a for y in (10, 11)}
    assert set(got) == within_a | within_b | within_c | cross
    for p in within_a | within_b | within_c:
        assert got[p] == 1.0
    # J(A, B) = 8/9 for every cross pair — identical across members
    assert {round(got[p], 6) for p in cross} == {round(8 / 9, 6)}


def test_minhash_collapse_matches_uncollapsed_reference(docs):
    """The collapsed operator returns exactly the pairs of the plain
    MinHash pipeline run over EVERY doc: signatures, banded candidates,
    exact Jaccard verify. Exact duplicates share a signature, so they
    collide in every band and verify at 1.0; a member of one group
    pairs with a member of another exactly when their sets do. A
    within-group or cross-group pair lost in the expansion shows up on
    one side of the difference."""
    threshold, num_hashes = 0.95, 64
    bands = dedup.pick_bands(num_hashes, threshold)
    toks = dedup.token_sets(docs)
    sigs = dedup.minhash_signatures(
        toks.withColumnRenamed("toks", "shingles"), num_hashes=num_hashes
    )
    cands = dedup.lsh_candidate_pairs(sigs, num_hashes=num_hashes, bands=bands)
    a = toks.selectExpr("doc_id AS id_a", "toks AS toks_a")
    b = toks.selectExpr("doc_id AS id_b", "toks AS toks_b")
    reference = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "round(CAST(size(array_intersect(toks_a, toks_b)) AS DOUBLE)"
            " / size(array_union(toks_a, toks_b)), 6) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )
    collapsed = dedup.minhash_near_dups(
        docs, threshold=threshold, num_hashes=num_hashes
    )
    missing = reference.exceptAll(collapsed).collect()
    extra = collapsed.exceptAll(reference).collect()
    assert not missing and not extra, (missing[:5], extra[:5])
    ref_rows = reference.collect()
    # the smoke corpus must exercise the collapse: exact-dup pairs exist
    assert any(r.jaccard == 1.0 for r in ref_rows) and len(ref_rows) > 10


def test_incremental_minhash_recall_and_precision_vs_exact_cross(docs, spark):
    """Cross-side (arrivals × corpus) LSH pairs: precision 1 (exact
    verify) and recall ≥ 0.9 vs the exact cross-side twin."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        train_test_split,
    )

    corpus, arrivals = train_test_split(docs, "doc_id", 0.2, salt="arrivals")
    exact = {
        (r.doc_id, r.corpus_id)
        for r in dedup.jaccard_pairs_cross(arrivals, corpus, 0.9).collect()
    }
    approx = {
        (r.doc_id, r.corpus_id)
        for r in dedup.minhash_near_dups_incremental(
            arrivals, corpus, threshold=0.9
        ).collect()
    }
    assert exact, "exact cross-side near-dup set unexpectedly empty"
    assert approx <= exact  # precision 1.0 — pairs are exact-verified
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"incremental minhash recall {recall:.3f} < 0.9"


def test_arrivals_decision_lsh_agrees_with_exact(spark):
    """The declared ingest-decision queries: every arrival decided once
    in both; the keep/drop decision (is_dup) agrees ≥98% and the
    chosen survivor (dup_of) ≥95% among agreed dups. n_matches is NOT
    held to strict equality — a missed borderline collision (jaccard
    exactly at threshold) changes the count without changing the
    decision, which is the metric an ingest pipeline acts on. LSH can
    only miss matches (exact verify ⇒ precision 1), never invent
    them."""
    from etl_with_s3__dynamodb_and_glue_spark.plans import llm_ops
    from tests.conftest import SF_ORACLE

    exact = {r.doc_id: r for r in llm_ops.doc_arrivals_dedup(spark, SF_ORACLE).collect()}
    lsh = {
        r.doc_id: r
        for r in llm_ops.doc_arrivals_dedup_lsh(spark, SF_ORACLE).collect()
    }
    assert set(exact) == set(lsh) and exact
    flag_agree = sum(1 for d in exact if exact[d].is_dup == lsh[d].is_dup) / len(
        exact
    )
    assert flag_agree >= 0.98, f"is_dup agreement {flag_agree:.3f}"
    both_dup = [d for d in exact if exact[d].is_dup and lsh[d].is_dup]
    assert both_dup
    dupof_agree = sum(
        1 for d in both_dup if exact[d].dup_of == lsh[d].dup_of
    ) / len(both_dup)
    assert dupof_agree >= 0.95, f"dup_of agreement {dupof_agree:.3f}"
    for d in exact:
        assert lsh[d].n_matches <= exact[d].n_matches


def test_store_served_arrivals_dedup_equals_inline(spark):
    """The on-disk signature store is a materialization, not an
    approximation: the store-served decision must equal the inline
    cross-side LSH decision row for row."""
    from etl_with_s3__dynamodb_and_glue_spark.plans import llm_ops
    from tests.conftest import SF_ORACLE

    inline = {
        tuple(r)
        for r in llm_ops.doc_arrivals_dedup_lsh(spark, SF_ORACLE).collect()
    }
    stored = {
        tuple(r)
        for r in llm_ops.doc_arrivals_dedup_store(spark, SF_ORACLE).collect()
    }
    assert stored == inline and stored


def test_store_serving_broadcast_fallback_rows_identical(spark, monkeypatch):
    """r14 (VERDICT r13 item 5): forcing the arrival-broadcast size
    gate to the shuffled-join fallback must not change a single
    serving row."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import gates
    from etl_with_s3__dynamodb_and_glue_spark.plans import llm_ops
    from tests.conftest import SF_ORACLE

    bcast = {
        tuple(r)
        for r in llm_ops.doc_arrivals_dedup_store(spark, SF_ORACLE).collect()
    }
    monkeypatch.setattr(gates, "ARRIVAL_BROADCAST_MAX_BYTES", 0)
    shuffled = {
        tuple(r)
        for r in llm_ops.doc_arrivals_dedup_store(spark, SF_ORACLE).collect()
    }
    assert shuffled == bcast and shuffled


def test_minhash_store_small_build_layout_meets_serving_parallelism(
    spark, docs, tmp_path
):
    """r14 size-gated store layout (ADVICE r13): a toy-scale build must
    still land >= defaultParallelism files (serving parallelism IS the
    store's split count), without inflating to the shuffle-partition
    default."""
    import os

    from etl_with_s3__dynamodb_and_glue_spark.operators import dedup

    path = str(tmp_path / "store")
    dedup.build_minhash_store(docs, path)
    n_files = len(
        [f for f in os.listdir(path) if f.startswith("part-")]
    )
    slots = spark.sparkContext.defaultParallelism
    assert n_files == slots



def test_sharded_training_order_is_stable_permutation(docs):
    """Training order must be a valid permutation (every doc once,
    positions contiguous 1..n per shard) and identical under a
    different physical partitioning — the property orderBy(rand())
    lacks."""
    from collections import Counter

    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        sharded_training_order,
    )

    rows = sharded_training_order(docs, "doc_id").collect()
    assert len({r.doc_id for r in rows}) == docs.count()
    per_shard = Counter(r.shard for r in rows)
    by_shard_positions = {}
    for r in rows:
        by_shard_positions.setdefault(r.shard, set()).add(r.position)
    for shard, positions in by_shard_positions.items():
        assert positions == set(range(1, per_shard[shard] + 1)), shard

    reshuffled = sharded_training_order(docs.repartition(7), "doc_id").collect()
    assert {(r.doc_id, r.shard, r.position) for r in rows} == {
        (r.doc_id, r.shard, r.position) for r in reshuffled
    }


def test_simhash_pairs_are_close(docs):
    pairs = dedup.simhash_near_dups(docs, max_hamming=3)
    rows = pairs.collect()
    assert rows
    assert all(r.hamming <= 3 for r in rows)


def test_simhash_block_combination_exact_and_sparser(docs):
    """The block-combination construction is exact within the Hamming
    budget for ANY blocks > k (same final pairs), while wider bucket
    keys generate no more candidates than the naive (k+1)-chunk split."""
    fps = dedup.simhash_fingerprints(docs).cache()
    naive = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_candidate_pairs(fps, 3, blocks=4).collect()
    }
    combo = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_candidate_pairs(fps, 3, blocks=6).collect()
    }
    # completeness: every true pair survives in both (verify is a subset op)
    pairs4 = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dups(docs, max_hamming=3, blocks=4).collect()
    }
    pairs6 = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dups(docs, max_hamming=3, blocks=6).collect()
    }
    assert pairs4 == pairs6
    # sparsity: 32-bit keys collide no more than 16-bit keys
    assert len(combo) <= len(naive)
    fps.unpersist()


def test_simhash_blocks_must_exceed_budget(docs):
    fps = dedup.simhash_fingerprints(docs)
    with pytest.raises(ValueError):
        dedup.simhash_candidate_pairs(fps, 3, blocks=3)


def test_lsh_ann_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.lsh_topk(emb, queries, k=5)
    recall = similarity.recall_at_k(approx, exact, k=5)
    assert recall >= 0.5, f"LSH recall@5 {recall:.3f} < 0.5"


def test_embedding_near_dup_lsh_recall_vs_bruteforce(emb):
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs_lsh(emb, threshold=0.4).collect()
    }
    assert exact, "brute-force near-dup set unexpectedly empty"
    # exact-cosine verify step guarantees precision == 1.0
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.7, f"embedding LSH near-dup recall {recall:.3f} < 0.7"


def test_ivf_ann_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, n_probe=8)
    recall = similarity.recall_at_k(approx, exact, k=5)
    assert recall >= 0.5, f"IVF recall@5 {recall:.3f} < 0.5"


def test_ivf_index_persist_roundtrip(emb, tmp_path):
    """Build-once / probe-many: a persisted index probes identically to
    the one-shot path (same seed → same quantizer), its assignment
    table lands partitioned by cluster, and probing the loaded index
    never re-fits k-means."""
    import os

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    one_shot = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, queries, k=5, n_probe=8).collect()
    }
    path = str(tmp_path / "ivf")
    built = similarity.build_ivf_index(emb, path=path)
    loaded = similarity.load_ivf_index(emb.sparkSession, path)
    assert (built.centers == loaded.centers).all()
    reprobe = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_probe(loaded, queries, k=5, n_probe=8).collect()
    }
    assert reprobe == one_shot
    parts = [d for d in os.listdir(f"{path}/assignments") if d.startswith("cluster=")]
    assert len(parts) == len(loaded.centers)


def test_ivf_append_and_imbalance(emb, tmp_path):
    """Incremental maintenance: appended arrivals land in their exact
    nearest cell, become findable by a probe of the reloaded index, the
    original rows are untouched, and the occupancy report accounts for
    every vector."""
    import numpy as np

    path = str(tmp_path / "ivf_inc")
    corpus = emb.filter(F.col("vec_id") >= 50)
    arrivals = emb.filter(F.col("vec_id") < 50)
    index = similarity.build_ivf_index(corpus, path=path)
    n0 = index.assignments.count()

    grown = similarity.ivf_append(index, arrivals, path)
    assert grown.assignments.count() == n0 + arrivals.count()
    # centroids are NOT refit by an append
    assert (grown.centers == index.centers).all()

    # every appended vector sits in its true nearest cell
    appended = grown.assignments.filter(F.col("neighbor_id") < 50).collect()
    assert len(appended) == arrivals.count()
    for r in appended[:20]:
        d = ((index.centers - np.array(r.cvec)) ** 2).sum(axis=1)
        assert r.cluster == int(np.argmin(d))

    # an appended vector is findable: probing with its own embedding
    # returns it as the top neighbor (cos 1 with itself excluded only
    # for identical ids — query ids here are offset out of range)
    probe_q = arrivals.limit(3).select(
        (F.col("vec_id") + 100000).alias("query_id"), "embedding"
    )
    hits = similarity.ivf_probe(grown, probe_q, k=1, n_probe=4).collect()
    assert hits and all(r.cos >= 0.999999 for r in hits)

    report = similarity.ivf_imbalance(grown).collect()
    assert sum(r.n_vectors for r in report) == n0 + arrivals.count()
    factors = {r.imbalance_factor for r in report}
    assert len(factors) == 1 and min(factors) >= 1.0


def test_bpe_token_count_bounds(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.text import (
        bpe_ish_token_count,
        token_count,
    )

    df = spark.createDataFrame(
        [
            (1, "plain words only here"),
            (2, "mixed123tokens, with-punct! and2more"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.ws, r.bpe)
        for r in df.select(
            "doc_id",
            token_count("text").alias("ws"),
            bpe_ish_token_count("text").alias("bpe"),
        ).collect()
    }
    for ws, bpe in rows.values():
        assert bpe >= ws  # fracturing only adds pieces
    assert rows[1] == (4, 4)  # no fracture points in plain text
    assert rows[2][1] > rows[2][0]


def test_exact_dedup_finds_injected_duplicates(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "The  quick  brown fox"),  # same after normalization
            (3, "something else entirely"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_copies for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_lang_id_on_crafted_samples(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der hund ist nicht mit der katze auf dem sofa"),
            (3, "le chat est dans la maison pour le dîner"),
            (4, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred for r in df.select("doc_id", lang_id("text").alias("pred")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_orders_sensibly(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs far away to the hills in a day"),
            (2, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        ],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.q for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    assert scores[1] > scores[2]


def test_multimodal_feature_shape(docs):
    assets = multimodal.make_asset_table(docs)
    feats = multimodal.extract_features(assets, fake=True)
    row = feats.first()
    assert len(row.features) == multimodal.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in row.features)
    assert feats.count() == docs.count()
    # determinism: same content → same features
    again = multimodal.extract_features(assets, fake=True).first()
    assert again.features == row.features
    assert again.content_sha == row.content_sha


def test_media_asset_table_planted_near_dup_structure(spark, docs):
    """make_media_asset_table synthesizes REAL PNG/WAV bytes with a
    planned group/variant layout; the declared asset_near_dups query
    rides on exactly this structure, so pin it: schema conformance,
    real decodability, resolution-invariant image pairs, gain-robust
    audio pairs, and the reversed-melody variant staying out."""
    assets = multimodal.make_media_asset_table(docs)
    assert [
        (f.name, f.dataType) for f in assets.schema.fields
    ] == [(f.name, f.dataType) for f in multimodal.ASSET_SCHEMA.fields]
    by_mod = {
        r.modality: r.n
        for r in assets.groupBy("modality").agg(F.count("*").alias("n")).collect()
    }
    assert by_mod == {"image": 24, "audio": 24}

    # every byte payload is genuinely decodable media
    sample = assets.orderBy("asset_id").collect()
    for r in sample:
        if r.modality == "image":
            multimodal.image_dhash(bytes(r.content))
        else:
            multimodal.audio_phash(bytes(r.content))

    img_pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_near_dups(
            assets.filter(F.col("modality") == "image"), max_hamming=4
        ).collect()
    }
    aud_pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.audio_near_dups(
            assets.filter(F.col("modality") == "audio"), max_hamming=4
        ).collect()
    }
    for g in range(8):
        # image: same picture at doubled resolution → identical dHash
        assert img_pairs.get((g, g + 8)) == 0
        # audio: pure gain cut stays within the hamming budget; the
        # reversed melody (variant 2) must NOT pair with the original
        assert aud_pairs[(1000 + g, 1008 + g)] <= 4
        assert (1000 + g, 1016 + g) not in aud_pairs
    # determinism: a second synthesis produces identical bytes
    again = multimodal.make_media_asset_table(docs).orderBy("asset_id").collect()
    assert [bytes(r.content) for r in again] == [
        bytes(r.content) for r in sample
    ]


def test_real_decode_unsupported_formats_raise():
    # a JPEG (or garbage) without Pillow must fail loudly at the
    # decode boundary, never return wrong features
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present: all formats decodable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0 not a png")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"not a wav")


def _make_png(width, height, pixel_fn):
    """Minimal REAL PNG encoder (stdlib): 8-bit RGB, filter 0."""
    import struct
    import zlib

    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body))
        )

    raw = b"".join(
        b"\x00"
        + bytes(
            v
            for x in range(width)
            for v in pixel_fn(x, y)
        )
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_wav(rate, samples):
    """Real 16-bit mono PCM WAV bytes (stdlib wave)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_audio_spectral_features_known_signals(spark):
    """Synthesized signals with KNOWN spectra: a pure tone's centroid
    sits at its frequency, silence has zero RMS, a clipped square wave
    reports clipping, and a higher tone rolls off higher."""
    import math

    rate = 8000

    def tone(freq, n=8000, amp=0.5):
        return [
            int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))
            for i in range(n)
        ]

    square = [32767 if (i // 20) % 2 == 0 else -32767 for i in range(8000)]
    rows = [
        (1, "audio", bytearray(_make_wav(rate, tone(440))), ("audio/wav", 0, 0, 1000)),
        (2, "audio", bytearray(_make_wav(rate, tone(2000))), ("audio/wav", 0, 0, 1000)),
        (3, "audio", bytearray(_make_wav(rate, [0] * 8000)), ("audio/wav", 0, 0, 1000)),
        (4, "audio", bytearray(_make_wav(rate, square)), ("audio/wav", 0, 0, 1000)),
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    f = {r.asset_id: r for r in multimodal.audio_spectral_features(assets).collect()}

    assert abs(f[1].duration_s - 1.0) < 1e-6
    assert abs(f[1].spectral_centroid_hz - 440) < 15
    assert abs(f[2].spectral_centroid_hz - 2000) < 30
    assert f[2].rolloff_hz > f[1].rolloff_hz
    assert f[3].rms == 0.0 and f[3].spectral_centroid_hz == 0.0
    assert f[4].clip_fraction > 0.9 and f[1].clip_fraction == 0.0
    # pure tone RMS = amp/sqrt(2)
    assert abs(f[1].rms - 0.5 / math.sqrt(2)) < 0.01


def test_audio_phash_invariances_and_banded_pairs(spark):
    """Gain-scaling leaves the hash untouched (gradient signs are
    ratio-invariant); a different melody lands far away; the banded
    pairing surfaces only the perceptual matches."""
    import math

    rate = 8000

    def melody(freqs, amp=0.4):
        out = []
        for f in freqs:
            out += [
                int(amp * 32767 * math.sin(2 * math.pi * f * i / rate))
                for i in range(900)
            ]
        return out

    up = melody([220, 330, 440, 660, 880, 1320, 1760, 2200, 2640])
    up_quiet = [int(s * 0.4) for s in up]
    down = melody(list(reversed([220, 330, 440, 660, 880, 1320, 1760, 2200, 2640])))

    h_up = multimodal.audio_phash(_make_wav(rate, up))
    h_quiet = multimodal.audio_phash(_make_wav(rate, up_quiet))
    h_down = multimodal.audio_phash(_make_wav(rate, down))
    assert h_up == h_quiet
    assert bin((h_up ^ h_down) & ((1 << 64) - 1)).count("1") > 10

    rows = [
        (1, "audio", bytearray(_make_wav(rate, up)), ("audio/wav", 0, 0, 1012)),
        (2, "audio", bytearray(_make_wav(rate, up_quiet)), ("audio/wav", 0, 0, 1012)),
        (3, "audio", bytearray(_make_wav(rate, down)), ("audio/wav", 0, 0, 1012)),
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.audio_near_dups(assets, max_hamming=4).collect()
    }
    assert pairs == {(1, 2): 0}


def test_image_dhash_perceptual_invariances():
    """dHash must be invariant to what doesn't change the picture
    (re-encoding, resolution) and sensitive to what does (structure)."""
    import zlib

    def grad_lr(x, y):  # left-to-right brightness ramp
        return (x * 12 % 256,) * 3

    def grad_tb(x, y):  # top-to-bottom ramp — different structure
        return (y * 12 % 256,) * 3

    a = multimodal.image_dhash(_make_png(18, 16, grad_lr))
    # same pixels, different zlib effort -> identical bytes? no: build
    # a re-encoded variant by decoding limits; easiest: same pixel_fn,
    # same dims -> same pixels, byte-level PNG identical modulo
    # compression (we force a different compression by re-deflating)
    png = _make_png(18, 16, grad_lr)
    import struct as _s

    # re-encode IDAT at a different compression level
    pos, chunks = 8, []
    while pos < len(png):
        (length,) = _s.unpack(">I", png[pos : pos + 4])
        ctype = png[pos + 4 : pos + 8]
        data = png[pos + 8 : pos + 8 + length]
        chunks.append((ctype, data))
        pos += 12 + length
    rebuilt = b"\x89PNG\r\n\x1a\n"
    for ctype, data in chunks:
        if ctype == b"IDAT":
            data = zlib.compress(zlib.decompress(data), 1)
        body = ctype + data
        rebuilt += (
            _s.pack(">I", len(data)) + body + _s.pack(">I", zlib.crc32(body))
        )
    assert rebuilt != png  # genuinely different bytes
    assert multimodal.image_dhash(rebuilt) == a  # same picture

    # doubled resolution of the same pattern: box-averaging restores
    # the same 9x8 grid ordering -> identical hash
    a2x = multimodal.image_dhash(
        _make_png(36, 32, lambda x, y: grad_lr(x // 2, y // 2))
    )
    assert a2x == a

    # different structure -> far away in Hamming space
    b = multimodal.image_dhash(_make_png(18, 16, grad_tb))
    ham = bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham > 16


def test_image_near_dups_banded(spark):
    """Visually-identical pairs surface through the banded path; the
    structurally different image stays out."""

    def grad_lr(x, y):
        return (x * 12 % 256,) * 3

    def grad_tb(x, y):
        return (y * 12 % 256,) * 3

    def noisy_lr(x, y):  # one brightness step off
        return (min(255, x * 12 % 256 + 8),) * 3

    rows = [
        (1, "image", bytearray(_make_png(18, 16, grad_lr)), ("image/png", 18, 16, 0)),
        (2, "image", bytearray(_make_png(36, 32, lambda x, y: grad_lr(x // 2, y // 2))), ("image/png", 36, 32, 0)),
        (3, "image", bytearray(_make_png(18, 16, noisy_lr)), ("image/png", 18, 16, 0)),
        (4, "image", bytearray(_make_png(18, 16, grad_tb)), ("image/png", 18, 16, 0)),
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_near_dups(assets, max_hamming=4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert (1, 3) in pairs and (2, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_real_png_decode_end_to_end(spark):
    """A REAL image (PNG bytes) through the fake=False Spark path:
    per-channel means must match the actual pixel values."""
    # left half pure red, right half pure blue, 12x6
    png = _make_png(
        12, 6, lambda x, y: (255, 0, 0) if x < 6 else (0, 0, 255)
    )
    assets = spark.createDataFrame(
        [(1, "image", bytearray(png), ("image/png", 12, 6, 0))],
        multimodal.ASSET_SCHEMA,
    )
    row = multimodal.extract_features(assets, fake=False).first()
    r_mean, r_std, g_mean, g_std, b_mean, b_std, aspect = row.features[:7]
    assert abs(r_mean - 0.5) < 1e-6 and abs(b_mean - 0.5) < 1e-6
    assert g_mean == 0.0 and abs(r_std - 0.5) < 1e-6
    assert abs(aspect - 2.0) < 1e-6
    # luma grid: left column red-luma, right column blue-luma
    grid = row.features[7:16]
    assert grid[0] > grid[2]  # red luma (0.299) > blue luma (0.114)


def test_real_wav_decode_end_to_end(spark):
    """A REAL audio clip (16-bit PCM WAV) through fake=False: duration
    and RMS envelope must reflect the actual signal — first half
    silence, second half full-scale square wave."""
    n = 4800
    samples = [0] * n + [(-1) ** i * 16384 for i in range(n)]
    wav = _make_wav(48000, samples)
    assets = spark.createDataFrame(
        [(1, "audio", bytearray(wav), ("audio/wav", 0, 0, 200))],
        multimodal.ASSET_SCHEMA,
    )
    row = multimodal.extract_features(assets, fake=False).first()
    duration, nch, rate_band, rms = row.features[:4]
    assert abs(duration - 0.2) < 1e-6 and nch == 1.0 and rate_band == 1.0
    envelope = row.features[4:16]
    assert all(e == 0.0 for e in envelope[:5])      # leading silence
    assert all(e > 0.4 for e in envelope[6:])       # square wave ~0.5
    assert 0.3 < rms < 0.4                          # overall mix


def test_real_decode_video_modality_raises(spark):
    assets = spark.createDataFrame(
        [(1, "video", bytearray(b"xx"), ("video/mp4", 0, 0, 1000))],
        multimodal.ASSET_SCHEMA,
    )
    with pytest.raises(Exception, match="no real decoder"):
        multimodal.extract_features(assets, fake=False).collect()


def test_frame_sample_plan(spark, docs):
    assets = multimodal.make_asset_table(docs, modality="video")
    plan = multimodal.frame_sample_plan(assets, every_ms=1000)
    row = plan.first()
    assert row.frame_ts_ms[0] == 0
    assert all(b - a == 1000 for a, b in zip(row.frame_ts_ms, row.frame_ts_ms[1:]))


def test_srp_udf_matches_reference_expression(emb):
    """The vectorized signature path must produce bit-identical
    signatures to the unrolled native-expression reference."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.similarity import (
        _hyperplanes,
        as_double,
        srp_signature,
        srp_signatures_udf,
    )

    vecs = emb.limit(50).select("vec_id", as_double(F.col("embedding")).alias("v"))
    n_planes, n_tables = 4, 8
    via_expr = vecs.select(
        "vec_id",
        F.array(
            *[
                srp_signature(F.col("v"), _hyperplanes(64, n_planes, seed=100 + t))
                for t in range(n_tables)
            ]
        ).alias("sigs"),
    )
    via_udf = vecs.select(
        "vec_id", srp_signatures_udf(64, n_planes, n_tables)("v").alias("sigs")
    )
    a = {r.vec_id: r.sigs for r in via_expr.collect()}
    b = {r.vec_id: r.sigs for r in via_udf.collect()}
    assert a == b


def test_chunk_tokens_invariants(docs):
    from etl_with_s3__dynamodb_and_glue_spark.operators.text import (
        chunk_tokens,
        tokens,
    )

    rows = docs.select(
        F.size(tokens("text")).alias("n"),
        chunk_tokens(tokens("text"), 32, 8).alias("cs"),
    ).collect()
    assert rows
    for r in rows:
        starts = [c.start for c in r.cs]
        assert starts[0] == 1
        # fixed stride = chunk_size - overlap
        assert all(b - a == 24 for a, b in zip(starts, starts[1:]))
        # full windows everywhere except possibly the tail...
        assert all(len(c.chunk) == 32 for c in r.cs[:-1])
        # ...and the tail chunk always reaches the final token
        last = r.cs[-1]
        assert last.start + len(last.chunk) - 1 == r.n


def test_hash_split_is_disjoint_exhaustive_and_stable(docs):
    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        train_test_split,
    )

    train, test = train_test_split(docs, "doc_id", test_fraction=0.25)
    train_ids = {r.doc_id for r in train.select("doc_id").collect()}
    test_ids = {r.doc_id for r in test.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert train_ids | test_ids == all_ids
    assert not (train_ids & test_ids)
    # roughly the requested fraction
    assert 0.1 <= len(test_ids) / len(all_ids) <= 0.4
    # stable under repartitioning — the property RNG sampling lacks
    train2, test2 = train_test_split(docs.repartition(7), "doc_id", 0.25)
    assert {r.doc_id for r in test2.select("doc_id").collect()} == test_ids


def test_pack_chunks_invariants(docs):
    from etl_with_s3__dynamodb_and_glue_spark.operators.text import (
        chunk_tokens,
        pack_chunks,
        tokens,
    )

    chunks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(chunk_tokens(tokens("text"), 32, 8)).alias("chunk_id", "c"),
    ).select("doc_id", "lang", "chunk_id", F.size("c.chunk").alias("n_tokens"))
    packed = pack_chunks(
        chunks, budget=256, partition_cols=["lang"], order_cols=["doc_id", "chunk_id"]
    )
    rows = packed.orderBy("lang", "doc_id", "chunk_id").collect()
    assert rows
    # pack ids are monotone in stream order and every non-final pack
    # holds >= budget - (max_chunk - 1) tokens (no premature cuts)
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang_rows in by_lang.values():
        ids = [r.pack_id for r in lang_rows]
        assert ids == sorted(ids)
        totals: dict = {}
        for r in lang_rows:
            totals[r.pack_id] = totals.get(r.pack_id, 0) + r.n_tokens
        last = max(totals)
        for pid, tot in totals.items():
            if pid != last:
                assert tot >= 256 - 31, (pid, tot)


# --- cluster resolution ---------------------------------------------------


def test_connected_components_crafted_graph(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    vertices = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], ["doc_id"])
    comps = dedup.connected_components(pairs, vertices)
    got = {r.doc_id: r.cluster_id for r in comps.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_chain_converges(spark):
    # diameter-19 path graph: exercises the iteration loop, not just
    # the 1-hop case near-dup clusters usually need
    n = 20
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    vertices = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    comps = dedup.connected_components(pairs, vertices)
    assert {r.cluster_id for r in comps.collect()} == {0}


def test_resolve_near_dups_equivalence_classes(docs):
    from collections import defaultdict

    pairs = dedup.minhash_near_dups(docs, threshold=0.95).select("id_a", "id_b")
    resolved = dedup.resolve_near_dups(docs, pairs)
    rows = resolved.collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids)) == docs.count()  # partition of the corpus
    clusters = defaultdict(list)
    for r in rows:
        clusters[r.cluster_id].append(r)
    for cid, members in clusters.items():
        assert cid == min(m.doc_id for m in members)  # survivor = min id
        assert sum(m.is_survivor for m in members) == 1
    label = {r.doc_id: r.cluster_id for r in rows}
    for p in pairs.collect():  # every pair ended up co-clustered
        assert label[p.id_a] == label[p.id_b]


def test_containment_hot_fingerprint_cap(spark, tmp_path):
    """A boilerplate passage shared by >HOT_FP_MAX_DF docs must NOT
    produce pairs (k^2 skew guard); a passage shared by 2 docs must."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        HOT_FP_MAX_DF,
        doc_ngram_containment,
    )

    boiler = " ".join(f"boiler{i}" for i in range(30))
    unique_passage = " ".join(f"secret{i}" for i in range(30))
    rows = [
        (i, f"{boiler} filler{i}a filler{i}b", "en", "web", 0)
        for i in range(HOT_FP_MAX_DF + 10)
    ]
    rows.append((1000, f"{unique_passage} tail1000", "en", "web", 0))
    rows.append((1001, f"{unique_passage} tail1001", "en", "web", 0))
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.id_a, r.id_b) for r in doc_ngram_containment(spark, str(tmp_path)).collect()
    }
    assert got == {(1000, 1001)}


def test_hash_sample_fraction_one_keeps_every_row(docs):
    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        hash_sample,
        hex_threshold,
    )

    assert hex_threshold(1.0) == "g"  # sentinel above every hex bucket
    assert hash_sample(docs, "doc_id", 1.0).count() == docs.count()
    assert hash_sample(docs, "doc_id", 0.0).count() == 0


def test_tfidf_top_terms_invariants(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.terms import (
        tfidf_top_terms,
        top_tokens,
    )

    rows = [
        (1, "apple apple banana shared shared shared"),
        (2, "banana cherry shared shared shared shared"),
        (3, "durian durian durian shared apple cherry"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    top = tfidf_top_terms(docs, k=2).collect()

    # ≤ k rows per doc, ranks are 1..k, tfidf non-negative and
    # non-increasing within a doc.
    by_doc: dict[int, list] = {}
    for r in top:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2, 3}
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in doc_rows] == list(range(1, len(doc_rows) + 1))
        assert len(doc_rows) <= 2
        assert all(r.tfidf >= 0 for r in doc_rows)
        assert all(
            a.tfidf >= b.tfidf for a, b in zip(doc_rows, doc_rows[1:])
        )
    # 'shared' in every doc → smoothed idf bottoms out at ln(1)+1 = 1,
    # so doc 1's 'shared' (tf=3 · 1.0 = 3.0) still edges out 'apple'
    # (2 · (ln(4/3)+1) ≈ 2.58) — but doc 3's rare repeated 'durian'
    # (3 · (ln(2)+1) ≈ 5.08) beats its 'shared' (tf=1).
    assert by_doc[3][0].term == "durian"
    assert by_doc[1][0].term == "shared" and by_doc[1][0].tfidf == 3.0
    assert by_doc[1][1].term == "apple"

    # top_tokens: counts sum to the total token count, ordering is
    # count-desc then term-asc.
    toks = top_tokens(docs, n=100).collect()
    assert sum(r.n_occurrences for r in toks) == 18
    assert toks[0].term == "shared" and toks[0].n_occurrences == 8
    keys = [(-r.n_occurrences, r.term) for r in toks]
    assert keys == sorted(keys)


def test_dedup_final_lsh_refines_exact_composition(spark):
    """The declared scale path (MinHash-LSH pairs → clustering,
    ``doc_dedup_final_lsh``) agrees with the exact-pair composition
    (``doc_dedup_final``) at oracle scale up to LSH recall:

    - every doc appears exactly once in both outputs;
    - the LSH clustering REFINES the exact clustering (verify-join
      precision is 1.0, so LSH pairs ⊆ exact pairs and no LSH cluster
      can straddle two exact clusters);
    - ≥98% of docs get the identical (cluster_id, is_survivor)
      decision (the residue is missed-pair singletons).
    """
    from etl_with_s3__dynamodb_and_glue_spark.plans import llm_ops
    from tests.conftest import SF_ORACLE

    exact = {r.doc_id: r for r in llm_ops.doc_dedup_final(spark, SF_ORACLE).collect()}
    lsh = {
        r.doc_id: r for r in llm_ops.doc_dedup_final_lsh(spark, SF_ORACLE).collect()
    }
    assert exact and set(lsh) == set(exact)
    exact_of = {d: r.cluster_id for d, r in exact.items()}
    for d, r in lsh.items():
        # refinement: docs the LSH path clusters together are clustered
        # together by the exact path (cluster reps map consistently)
        assert exact_of[r.cluster_id] == exact_of[d], d
    same = sum(
        1
        for d in exact
        if (exact[d].cluster_id, exact[d].is_survivor)
        == (lsh[d].cluster_id, lsh[d].is_survivor)
    )
    agreement = same / len(exact)
    assert agreement >= 0.98, f"agreement {agreement:.3f} < 0.98"


def test_embedding_dedup_final_lsh_refines_exact_composition(spark):
    """Same refinement/agreement contract for the SEMANTIC dedup
    composition: SRP-LSH pairs verify with exact cosine (precision 1),
    so the LSH clustering refines the exact one; ≥90% identical
    decisions (SRP recall is lower than MinHash recall at this
    threshold, bounded separately in the recall test)."""
    from etl_with_s3__dynamodb_and_glue_spark.plans import llm_ops
    from tests.conftest import SF_ORACLE

    exact = {
        r.vec_id: r
        for r in llm_ops.embedding_dedup_final(spark, SF_ORACLE).collect()
    }
    lsh = {
        r.vec_id: r
        for r in llm_ops.embedding_dedup_final_lsh(spark, SF_ORACLE).collect()
    }
    assert exact and set(lsh) == set(exact)
    exact_of = {d: r.cluster_id for d, r in exact.items()}
    for d, r in lsh.items():
        assert exact_of[r.cluster_id] == exact_of[d], d
    same = sum(
        1
        for d in exact
        if (exact[d].cluster_id, exact[d].is_survivor)
        == (lsh[d].cluster_id, lsh[d].is_survivor)
    )
    agreement = same / len(exact)
    assert agreement >= 0.90, f"agreement {agreement:.3f} < 0.90"


def test_resize_images_plumbing(docs):
    """Resize keeps the asset-table schema, updates meta dims, scales
    the payload with the target pixel count, and is deterministic —
    the mapInPandas lane is real even though the pixel work is a
    stub."""
    assets = multimodal.make_asset_table(docs)
    small = multimodal.resize_images(assets, 64, 64).collect()
    large = {
        r.asset_id: r for r in multimodal.resize_images(assets, 256, 256).collect()
    }
    assert len(small) == len(large) == assets.count()
    for r in small:
        assert r.meta.width == 64 and r.meta.height == 64
        assert len(r.content) == (64 * 64) // 64
        bigger = large[r.asset_id]
        assert bigger.meta.width == 256
        assert len(bigger.content) == (256 * 256) // 64
        assert r.content != bigger.content  # dims feed the fake encode
    again = {
        r.asset_id: bytes(r.content)
        for r in multimodal.resize_images(assets, 64, 64).collect()
    }
    assert {r.asset_id: bytes(r.content) for r in small} == again


def test_declared_ivf_query_recall_with_sampled_build(spark):
    """The declared query probes the build-once index whose quantizer
    trains on a 25% sample — recall vs brute force must hold for THAT
    path, not just the full-train operator."""
    from etl_with_s3__dynamodb_and_glue_spark.plans import llm_ops
    from tests.conftest import SF_SMOKE

    approx = llm_ops.embedding_ivf_topk(spark, SF_SMOKE)
    exact = llm_ops.embedding_topk_bruteforce(spark, SF_SMOKE)
    recall = similarity.recall_at_k(approx, exact, k=5)
    assert recall >= 0.5, f"declared IVF recall@5 {recall:.3f} < 0.5"


# --- temperature mixing / char entropy / PSI drift ------------------------


def test_temperature_mix_report_properties(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        temperature_mix_report,
    )

    # skewed strata (400 web / 80 wiki / 20 code): α=0.5 must flatten
    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 400, "web")
        .when(F.col("id") < 480, "wiki")
        .otherwise("code")
        .alias("source"),
    )
    rep = temperature_mix_report(
        docs, "doc_id", "source", alpha=0.5, target_total=30
    ).collect()
    # weights normalize; α=0.5 flattens: smallest stratum's weight share
    # exceeds its natural share, largest stratum's falls below it
    assert abs(sum(r["weight"] for r in rep) - 1.0) < 1e-4
    total = sum(r["n_rows"] for r in rep)
    smallest = min(rep, key=lambda r: r["n_rows"])
    largest = max(rep, key=lambda r: r["n_rows"])
    assert smallest["weight"] > smallest["n_rows"] / total
    assert largest["weight"] < largest["n_rows"] / total
    # realized sample within binomial noise of rate * n
    for r in rep:
        expect = r["sample_rate"] * r["n_rows"]
        assert abs(r["n_sampled"] - expect) <= 4 * (expect ** 0.5 + 1), r
    # deterministic under repartitioning (the property RNG lacks)
    rep2 = temperature_mix_report(
        docs.repartition(13), "doc_id", "source", alpha=0.5, target_total=30
    ).collect()
    assert sorted(map(tuple, rep)) == sorted(map(tuple, rep2))


def test_char_entropy_known_values(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab" * 8), (3, "abcd" * 4), (4, "")],
        "id long, t string",
    )
    out = {
        r["id"]: r["e"]
        for r in df.select("id", F.round(char_entropy("t"), 6).alias("e")).collect()
    }
    assert out[1] == 0.0       # single symbol -> zero entropy (and not -0.0)
    assert out[2] == 1.0       # two equiprobable symbols -> 1 bit
    assert out[3] == 2.0       # four equiprobable symbols -> 2 bits
    assert out[4] == 0.0       # empty text guard


def test_char_entropy_expression_and_staged_forms_agree(spark):
    """The single-Column expression form and the staged corpus-scale
    form (with_char_entropy, the r11 perf path behind
    doc_char_entropy) must be BIT-identical — same sorted counts
    multiset, same FP summation order — on real corpus text including
    the empty/whitespace edges."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.text import (
        char_entropy,
        with_char_entropy,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    edges = spark.createDataFrame(
        [(-1, ""), (-2, "   "), (-3, "aaaa"), (-4, "ab" * 8), (-5, "héllo wörld")],
        "doc_id long, text string",
    )
    both = docs.unionByName(edges)
    expr = {
        r.doc_id: r.e
        for r in both.select("doc_id", char_entropy("text").alias("e")).collect()
    }
    staged = {
        r.doc_id: r.e
        for r in with_char_entropy(both, "text", out="e").select(
            "doc_id", "e"
        ).collect()
    }
    assert expr == staged  # exact ==, not approx: bit-identical


def test_with_char_entropy_n_chars_is_normalized_strlen(spark):
    """ADVICE r11 (medium): n_chars must equal length(normalize(text))
    — the oracle's strlen — INCLUDING on empty / whitespace-only text,
    where the old size(split(s,'')) form read 1 (Spark split('','')
    is ['']). Also pins the NULL-text edge (both forms NULL)."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.text import (
        normalize,
        with_char_entropy,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    edges = spark.createDataFrame(
        [(-1, ""), (-2, "   "), (-3, "héllo wörld"), (-4, None)],
        "doc_id long, text string",
    )
    both = docs.unionByName(edges)
    rows = (
        with_char_entropy(both, "text", out="e", n_out="n_chars")
        .select(
            "doc_id",
            "n_chars",
            F.length(normalize("text")).alias("expect"),
        )
        .collect()
    )
    assert rows, "empty comparison frame"
    for r in rows:
        assert r.n_chars == r.expect, (r.doc_id, r.n_chars, r.expect)
    by_id = {r.doc_id: r.n_chars for r in rows}
    assert by_id[-1] == 0 and by_id[-2] == 0  # the ADVICE divergence
    assert by_id[-4] is None


def test_psi_drift_zero_for_identical_and_positive_for_shift(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.profile import psi_drift

    a = spark.range(0, 1000).select((F.col("id") % 100).cast("double").alias("v"))
    shifted = spark.range(0, 1000).select(
        ((F.col("id") % 100) + 40).cast("double").alias("v")
    )
    same = psi_drift(a, a, "v", lo=0.0, hi=100.0, n_bins=10).collect()
    assert len(same) == 10
    assert all(r["psi_term"] == 0.0 for r in same)
    drift = psi_drift(a, shifted, "v", lo=0.0, hi=100.0, n_bins=10).collect()
    total = sum(r["psi_term"] for r in drift)
    assert total > 0.25, total
    # clamping: out-of-range values land in the last bin, not dropped
    top_bin = [r for r in drift if r["bin"] == 9][0]
    assert top_bin["frac_actual"] > top_bin["frac_expected"]


def test_cms_one_sided_error_and_merge(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators import cms

    # skewed stream: key k appears k times (k = 1..40); tiny w=8
    # forces collisions so the overcount path is actually exercised
    df = spark.range(1, 41).selectExpr(
        "explode(sequence(1, id)) AS dummy", "cast(id as string) AS term"
    ).select("term")
    n_total = df.count()
    sketch = cms.cms_build(df, "term", d=4, w=8)
    keys = df.distinct()
    est = {
        r["term"]: r["est_count"]
        for r in cms.cms_estimate(keys, "term", sketch, d=4, w=8).collect()
    }
    true = {str(k): k for k in range(1, 41)}
    overs = []
    for t, n in true.items():
        assert est[t] >= n, (t, est[t], n)      # never undercounts
        overs.append(est[t] - n)
    assert any(o > 0 for o in overs), "w=8 over 40 keys must collide"
    # CMS guarantee: P[err > e/w * N] <= e^-d; check the generous bound
    bound = 2.718281828 / 8 * n_total
    assert max(overs) <= bound, (max(overs), bound)
    print(f"cms overcount: max={max(overs)} mean={sum(overs)/len(overs):.1f} "
          f"bound={bound:.0f} (d=4, w=8, N={n_total})")

    # merge law: sketch(A) + sketch(B) == sketch(A union B), cell-wise
    a = df.filter(F.col("term").cast("int") <= 20)
    b = df.filter(F.col("term").cast("int") > 20)
    merged = cms.cms_merge(
        cms.cms_build(a, "term", d=4, w=8), cms.cms_build(b, "term", d=4, w=8)
    )
    whole = cms.cms_build(df, "term", d=4, w=8)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_weighted_sample_bias_and_determinism(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        weighted_sample_score,
    )

    # 1000 rows, weight 100 for ids < 100, weight 1 otherwise: heavy
    # rows must dominate a k=100 sample far beyond their 10% share
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") < 100, 100.0).otherwise(1.0).alias("w"),
    )
    score = weighted_sample_score(F.col("id"), F.col("w"))
    top = df.select("id", score.alias("s")).orderBy(F.desc("s"), "id").limit(100)
    ids = [r["id"] for r in top.collect()]
    n_heavy = sum(1 for i in ids if i < 100)
    assert n_heavy > 50, n_heavy          # expectation ~63, 10x the share
    assert len(set(ids)) == 100           # without replacement
    # deterministic under repartitioning
    ids2 = [
        r["id"]
        for r in df.repartition(17)
        .select("id", score.alias("s"))
        .orderBy(F.desc("s"), "id")
        .limit(100)
        .collect()
    ]
    assert ids == ids2


def test_chi2_independent_vs_dependent(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.stats import (
        chi_square_independence,
    )

    # independent: b = id % 5 and a = (id // 5) % 4 are orthogonal on
    # a full factorial -> chi2 exactly 0
    df = spark.range(1000).select(
        ((F.col("id") / 5).cast("long") % 4).alias("a"),
        (F.col("id") % 5).alias("b"),
    )
    r = chi_square_independence(df, "a", "b").collect()[0]
    assert r["chi2"] == 0.0 and r["dof"] == 12 and r["n"] == 1000
    # perfectly dependent: b == a -> chi2 = n * (k-1)
    dep = spark.range(1000).select(
        (F.col("id") % 4).alias("a"), (F.col("id") % 4).alias("b")
    )
    r2 = chi_square_independence(dep, "a", "b").collect()[0]
    assert abs(r2["chi2"] - 1000 * 3) < 1e-6, r2


def test_corr_matrix_known_structure(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.stats import corr_matrix

    df = spark.range(500).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2 + 3).cast("double").alias("y"),     # corr +1
        (-F.col("id")).cast("double").alias("z"),            # corr -1
        ((F.col("id") * 2654435761) % 1000).cast("double").alias("w"),
    )
    out = {(r["col_x"], r["col_y"]): r["corr_coef"]
           for r in corr_matrix(df, ["x", "y", "z", "w"]).collect()}
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert abs(out[("x", "w")]) < 0.2     # hash scramble ~uncorrelated
    assert len(out) == 6


def test_fuzzy_match_blocking_and_hot_block_cap(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.linkage import (
        fuzzy_match_pairs,
    )

    rows = [
        ("acme corp",), ("acme korp",),      # block 'corp'/'korp' differ!
        ("blue bolt",), ("blu bolt",), ("blue bolts",),
        ("zeta inc",), ("zetta inc",),
    ]
    df = spark.createDataFrame(rows, "name string")
    blk = F.element_at(F.split("name", " "), -1)
    out = {
        (r["name_a"], r["name_b"]): r["edit_distance"]
        for r in fuzzy_match_pairs(df, "name", blk).collect()
    }
    assert out[("blu bolt", "blue bolt")] == 1
    assert out[("zeta inc", "zetta inc")] == 1
    # blocking miss by design: different last tokens never compared
    assert ("acme corp", "acme korp") not in out
    assert ("blue bolt", "blue bolts") not in out  # 'bolt' vs 'bolts' blocks

    # hot-block cap: a block over max_block is dropped entirely
    hot = spark.createDataFrame(
        [(f"name {i} smith",) for i in range(50)], "name string"
    )
    capped = fuzzy_match_pairs(
        hot, "name", F.element_at(F.split("name", " "), -1), max_block=10
    )
    assert capped.count() == 0


def test_fuzzy_dropped_blocks_report_and_error_mode(spark):
    """The cap must be LOUD: dropped blocks appear in the companion
    report, and on_oversize='error' fails the job instead."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.linkage import (
        fuzzy_dropped_blocks,
        fuzzy_match_pairs,
    )

    rows = [(f"name {i} smith",) for i in range(50)] + [
        ("zeta inc",),
        ("zetta inc",),
    ]
    df = spark.createDataFrame(rows, "name string")
    blk = F.element_at(F.split("name", " "), -1)
    report = fuzzy_dropped_blocks(df, "name", blk, max_block=10).collect()
    assert [(r["blk"], r["blk_n"]) for r in report] == [("smith", 50)]
    # small block still matched, hot block gone
    out = fuzzy_match_pairs(df, "name", blk, max_block=10).collect()
    assert {(r["name_a"], r["name_b"]) for r in out} == {("zeta inc", "zetta inc")}

    import pytest as _pytest

    with _pytest.raises(Exception, match="max_block"):
        fuzzy_match_pairs(
            df, "name", blk, max_block=10, on_oversize="error"
        ).count()


def test_calendar_spine_fills_zero_days(spark):
    """events_daily_complete's spine pattern on synthetic gappy data:
    a day with no events must appear with n_events = 0."""
    df = spark.createDataFrame(
        [("2024-01-01", "a"), ("2024-01-01", "b"), ("2024-01-04", "a")],
        "d string, event_type string",
    ).select(F.to_date("d").alias("day"), "event_type")
    bounds = df.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    types = df.select("event_type").distinct()
    cnt = df.groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("n"))
    out = (
        spine.crossJoin(types)
        .join(cnt, ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    ).collect()
    assert len(out) == 8                      # 4 days x 2 types
    zeros = {(r["day"], r["event_type"]) for r in out if r["n_events"] == 0}
    assert ("2024-01-02", "a") in zeros and ("2024-01-03", "b") in zeros
    assert ("2024-01-04", "b") in zeros and ("2024-01-01", "a") not in zeros


def test_null_bypass_left_join_equivalence(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators.skew import (
        null_bypass_left_join,
    )
    from tests.test_plan_shapes import plan_str

    left = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c"), (None, "d"), (3, "e")],
        "k long, lv string",
    )
    right = spark.createDataFrame([(1, "R1"), (3, "R3")], "k long, rv string")
    got = sorted(
        map(tuple, null_bypass_left_join(left, right, ["k"]).collect()),
        key=str,
    )
    want = sorted(map(tuple, left.join(right, ["k"], "left").collect()), key=str)
    assert got == want
    # the joined branch filters null keys before the exchange
    plan = plan_str(null_bypass_left_join(left, right, ["k"]))
    assert "isnotnull(k" in plan.lower(), plan


def test_split_leakage_lsh_agrees_with_exact(spark):
    """The LSH leakage audit must never invent a pair (precision 1 via
    verify-on-candidates => per-cell n_pairs <= exact) and must keep
    most of the signal (total recall bound)."""
    import __spark_entry__ as entry_mod
    from tests.conftest import SF_SMOKE

    qs = entry_mod.queries()
    exact = {
        (r.split_a, r.split_b): r.n_pairs
        for r in qs["doc_split_leakage_audit"](spark, SF_SMOKE).collect()
    }
    lsh = {
        (r.split_a, r.split_b): r.n_pairs
        for r in qs["doc_split_leakage_audit_lsh"](spark, SF_SMOKE).collect()
    }
    assert set(lsh) <= set(exact)
    for cell, n in lsh.items():
        assert n <= exact[cell], (cell, n, exact[cell])
    total_exact, total_lsh = sum(exact.values()), sum(lsh.values())
    assert total_lsh >= 0.8 * total_exact, (total_lsh, total_exact)


def test_dsir_weights_matches_oracle(spark):
    """doc_dsir_weights (staged r8, registered r9) must match its
    DuckDB twin value-for-value — hashing, smoothing, and the
    count-weighted log-ratio sum replay verbatim (the portable-md5
    choice made for the CMS sketch, for the same reason)."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        DOC_DSIR_WEIGHTS_SQL,
        doc_dsir_weights,
    )
    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import compare

    res = compare(
        spark,
        SF_ORACLE,
        "doc_dsir_weights",
        doc_dsir_weights,
        DOC_DSIR_WEIGHTS_SQL,
    )
    assert res.get("values_match"), res


def test_scan_parallelism_gate_branches_give_identical_counts(spark, monkeypatch):
    """Both branches of gates.ensure_scan_parallelism: at sf0.001 the
    default MIN_BYTES_PER_SLOT repartitions the one-file documents
    scan, a threshold of 0 leaves it as is. The bucket counts are exact
    integers, so the rows must be identical."""
    import re

    from etl_with_s3__dynamodb_and_glue_spark.operators import gates, importance

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def run():
        df = importance.hashed_feature_counts(docs)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return bool(re.search(r"Repartition \d+, true", plan)), sorted(
            map(tuple, df.collect())
        )

    repartitioned, rows = run()
    monkeypatch.setattr(gates, "MIN_BYTES_PER_SLOT", 0)
    kept, rows_kept = run()
    assert repartitioned and not kept
    assert rows_kept == rows and rows


_GATEWAY_RESTART_SCRIPT = """
import sys

sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext

from etl_with_s3__dynamodb_and_glue_spark import get_spark
from etl_with_s3__dynamodb_and_glue_spark.operators import importance


def bucket_rows():
    spark = get_spark("memo-restart", master="local[1]", shuffle_partitions=1)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")], "doc_id long, text string"
    )
    rows = sorted(map(tuple, importance.hashed_feature_counts(docs).collect()))
    return spark, rows


spark, first = bucket_rows()
# stop Spark and the JVM behind it, keeping the Python process
gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=60)
SparkContext._gateway = None
SparkContext._jvm = None
spark, second = bucket_rows()
assert first and second == first, (first, second)
spark.stop()
print("SAME")
"""


def test_feature_expr_memo_survives_gateway_restart(tmp_path):
    """The memoized feature Column holds a handle into the JVM that
    built it. After Spark and its JVM restart in the same process, the
    memo must rebuild it, not hand the dead handle to the new session."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    proc = subprocess.run(
        [sys.executable, "-c", _GATEWAY_RESTART_SCRIPT, str(root)],
        cwd=root,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0 and "SAME" in proc.stdout, proc.stderr[-3000:]


def test_feature_expr_memo_clear_empties_it(spark):
    from etl_with_s3__dynamodb_and_glue_spark.operators import importance

    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    importance.hashed_feature_counts(docs)
    assert importance._FEATURE_EXPR_MEMO.get("text") is not None
    importance._FEATURE_EXPR_MEMO.clear()
    assert importance._FEATURE_EXPR_MEMO.get("text") is None


def test_dsir_weights_separate_target_language(spark):
    """Semantic sanity: the synthetic corpus shares ONE 31-token
    vocabulary across all languages (verified — the lang label shows
    up only as different token/bigram FREQUENCY profiles), so this is
    the hard version of the task: DSIR must rank English docs high
    from frequency evidence alone. Measured AUC on this deterministic
    corpus is ≈0.89; assert a margin below it plus a clear median
    shift."""
    import statistics

    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        doc_dsir_weights,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang"
    )
    w = doc_dsir_weights(spark, SF_SMOKE).join(docs, "doc_id").collect()
    en = sorted(r.log_weight for r in w if r.lang == "en")
    rest = sorted(r.log_weight for r in w if r.lang != "en")
    assert en and rest
    import bisect

    auc = sum(bisect.bisect_left(rest, e) for e in en) / (len(en) * len(rest))
    assert auc >= 0.85, auc
    assert statistics.median(en) > statistics.median(rest) + 1.0


def test_anchor_store_format_mismatch_fails_loudly(spark, tmp_path):
    """A persisted anchor store built under a DIFFERENT gram-hash
    construction must refuse to probe — silently matching nothing
    would admit every contaminated span. A wrong-stamp store raises;
    a freshly built store probes; an UNSTAMPED store reads as the v1
    construction (pre-stamping stores used exactly it) and probes."""
    import os

    import pytest

    from etl_with_s3__dynamodb_and_glue_spark.operators import dedup

    ref = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "doc_id long, text string"
    )
    store = str(tmp_path / "anchors")
    dedup.build_anchor_store(ref, store, min_tokens=8)
    # fresh store probes (and finds the planted overlap)
    got = dedup.duplicate_spans_vs_store(ref, store, min_tokens=8).collect()
    assert len(got) == 1

    marker = os.path.join(store, dedup._ANCHOR_FORMAT_NAME)
    os.remove(marker)  # unstamped = pre-stamping v1 store: compatible
    got2 = dedup.duplicate_spans_vs_store(ref, store, min_tokens=8).collect()
    assert got2 == got
    with open(marker, "w") as f:
        f.write("gram-xxhash64-zipstring-v2")
    with pytest.raises(ValueError, match="rebuild the store"):
        dedup.duplicate_spans_vs_store(ref, store, min_tokens=8)


def test_dsir_store_scores_equal_inline_weights(spark, tmp_path):
    """The persisted ratio store is the serving twin of
    dsir_log_weights: probing the SAME corpus the store was built
    from reproduces every inline weight (dense rows don't change
    observed-bucket ratios — totals are identical), and a store built
    at a different bucket count or left unstamped refuses to score."""
    import math
    import os

    import pytest

    from etl_with_s3__dynamodb_and_glue_spark.operators import importance

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    target = F.col("lang") == "en"
    store = str(tmp_path / "dsir_store")
    importance.build_dsir_store(docs, target, store)

    inline = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in importance.dsir_log_weights(docs, target).collect()
    }
    stored = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in importance.dsir_score_with_store(docs, store).collect()
    }
    assert set(inline) == set(stored)
    for k in inline:
        assert inline[k][0] == stored[k][0]
        assert math.isclose(
            inline[k][1], stored[k][1], rel_tol=1e-9, abs_tol=1e-9
        )

    with pytest.raises(ValueError, match="rebuild"):
        importance.dsir_score_with_store(docs, store, buckets=64)
    os.remove(os.path.join(store, importance._DSIR_FORMAT_NAME))
    with pytest.raises(ValueError, match="unstamped"):
        importance.dsir_score_with_store(docs, store)


def test_dsir_store_scores_unseen_grams_with_smoothing_default(
    spark, tmp_path
):
    """A later-arriving doc whose grams the build corpus never
    produced must not silently lose features: every unseen bucket
    carries the dense pure-smoothing ratio
    ln((0+1)/(tgt_tot+B)) − ln((0+1)/(raw_tot+B)), verified against a
    pure-Python replay of the densified store."""
    import hashlib
    import math

    from etl_with_s3__dynamodb_and_glue_spark.operators import importance

    buckets = 16
    build = spark.createDataFrame(
        [(0, "aa aa bb", True), (1, "bb cc", False)],
        "doc_id long, text string, is_t boolean",
    )
    store = str(tmp_path / "s")
    importance.build_dsir_store(
        build, F.col("is_t"), store, buckets=buckets
    )

    def bucket(g):
        return int(
            hashlib.md5(("dsir|" + g).encode()).hexdigest()[:4], 16
        ) % buckets

    def feats(text):
        tk = text.split()
        return tk + [" ".join(tk[i : i + 2]) for i in range(len(tk) - 1)]

    from collections import Counter

    raw, tgt = Counter(), Counter()
    for text, is_t in (("aa aa bb", True), ("bb cc", False)):
        c = Counter(bucket(g) for g in feats(text))
        raw.update(c)
        if is_t:
            tgt.update(c)
    rt, tt = sum(raw.values()), sum(tgt.values())

    probe = spark.createDataFrame(
        [(9, "zz yy zz")], "doc_id long, text string"
    )
    got = importance.dsir_score_with_store(
        probe, store, buckets=buckets
    ).collect()[0]
    want = sum(
        n
        * (
            math.log((tgt[b] + 1.0) / (tt + buckets))
            - math.log((raw[b] + 1.0) / (rt + buckets))
        )
        for b, n in Counter(bucket(g) for g in feats("zz yy zz")).items()
    )
    assert got.n_feats == 5
    assert math.isclose(got.log_weight, want, rel_tol=1e-9, abs_tol=1e-9)


def test_dsir_resampling_composes_and_enriches_target(spark):
    """The DSIR resampling step is the documented composition with the
    existing Efraimidis–Spirakis machinery (importance.py module doc):
    draw k docs ∝ exp(log_weight) via weighted_sample_score + global
    top-k. End-to-end check: the drawn sample is substantially
    enriched in the target language vs the corpus base rate, and the
    draw is deterministic (pure function of salt + doc_id)."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import importance
    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        weighted_sample_score,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    w = importance.dsir_log_weights(docs, target=F.col("lang") == "en")
    scored = w.select(
        "doc_id",
        weighted_sample_score(
            F.col("doc_id"), F.exp("log_weight"), salt="dsir"
        ).alias("_s"),
    )
    k = 100

    def draw():
        return [
            r.doc_id
            for r in scored.orderBy(F.desc("_s"), "doc_id").limit(k).collect()
        ]

    sample = draw()
    assert sample == draw()  # deterministic replay

    lang = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    base_rate = sum(1 for v in lang.values() if v == "en") / len(lang)
    sample_rate = sum(1 for d in sample if lang[d] == "en") / k
    # en base rate = 0.386 at sf0.001; the weighted draw measures
    # exactly 0.72 on this deterministic corpus (hash uniforms, no
    # RNG) — assert the qualitative claim with headroom below the
    # measured point
    assert sample_rate >= base_rate + 0.25, (base_rate, sample_rate)


def test_dsir_sample_is_gumbel_topk_of_weights(spark):
    """doc_dsir_sample (the registered end-to-end resample) must be
    EXACTLY the k ascending rows of doc_dsir_weights under the
    log-space Gumbel key ln(−ln u) − log_weight with
    u = (md5hex8('dsir-sample|id') + 0.5)/2³² — replayed here in pure
    Python from the weights query's own (rounded) output, so the
    selection layer can never drift from the weighting layer."""
    import hashlib
    import math

    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        DSIR_SAMPLE_K,
        doc_dsir_sample,
        doc_dsir_weights,
    )

    weights = doc_dsir_weights(spark, SF_SMOKE).collect()

    def key(doc_id, log_w):
        h = hashlib.md5(f"dsir-sample|{doc_id}".encode()).hexdigest()
        u = (int(h[:8], 16) + 0.5) / 2**32
        return math.log(-math.log(u)) - log_w

    want = sorted(
        ((key(r.doc_id, r.log_weight), r.doc_id) for r in weights)
    )[:DSIR_SAMPLE_K]
    got = doc_dsir_sample(spark, SF_SMOKE).collect()
    assert [r.doc_id for r in got] == [d for _, d in want]
    # the sample carries the weights verbatim (same rounding)
    wmap = {r.doc_id: (r.n_feats, r.log_weight) for r in weights}
    for r in got:
        assert (r.n_feats, r.log_weight) == wmap[r.doc_id]


def test_dsir_weights_score_null_text_docs(spark):
    """ADVICE r8: a NULL-text doc must not silently vanish from the
    weight table (tokens(NULL) explodes to nothing) — it coalesces to
    '' and scores like an empty doc, preserving the 'EVERY input doc'
    contract that any downstream resample budget depends on."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import importance

    docs = spark.createDataFrame(
        [(0, "aa bb aa", True), (1, None, False), (2, "", False)],
        "doc_id long, text string, is_t boolean",
    )
    got = {
        r.doc_id: r
        for r in importance.dsir_log_weights(
            docs, target=F.col("is_t"), buckets=16
        ).collect()
    }
    assert set(got) == {0, 1, 2}
    # '' tokenizes to [''] → exactly one (unigram) feature, and NULL
    # scores identically to ''
    assert got[1].n_feats == got[2].n_feats == 1
    assert got[1].log_weight == got[2].log_weight
