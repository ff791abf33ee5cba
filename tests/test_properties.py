"""Property-based invariants (hypothesis) for the custom operators —
SURVEY.md §5's property-style test tier."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.operators.sessions import sessionize
from etl_with_s3__dynamodb_and_glue_spark.operators.temporal import as_of_join
from etl_with_s3__dynamodb_and_glue_spark.operators.windows import (
    ranked_desc,
    top_k_per_group,
)

BASE = datetime(2024, 1, 1)

_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user_id
        st.integers(min_value=0, max_value=50_000),     # offset seconds
        st.floats(min_value=0, max_value=100, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(ev=_events)
@_slow
def test_sessionize_invariants(spark, ev):
    rows = [
        (u, BASE + timedelta(seconds=off), i, float(v))
        for i, (u, off, v) in enumerate(ev)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    gap = 1800
    sessions = sessionize(df, gap_seconds=gap).collect()

    # every event lands in exactly one session
    assert sum(s.n_events for s in sessions) == len(rows)
    per_user = {}
    for s in sessions:
        per_user.setdefault(s.user_id, []).append(s)
    for user_sessions in per_user.values():
        user_sessions.sort(key=lambda s: s.session_seq)
        for s in user_sessions:
            assert s.session_start <= s.session_end
        # consecutive sessions are separated by MORE than the gap
        for a, b in zip(user_sessions, user_sessions[1:]):
            assert (b.session_start - a.session_end).total_seconds() > gap


@given(ev=_events, k=st.integers(min_value=1, max_value=4))
@_slow
def test_topk_bounds(spark, ev, k):
    df = spark.createDataFrame(
        [(u, off % 7, float(v)) for u, off, v in ev],
        "grp long, item long, score double",
    )
    agg = df.groupBy("grp", "item").agg(F.sum("score").alias("total"))
    top = top_k_per_group(
        agg, group_by=["grp"], order_by=ranked_desc("total", ["item"]), k=k
    ).collect()
    by_grp = {}
    for r in top:
        by_grp.setdefault(r.grp, []).append(r)
    n_items = {r.grp: 0 for r in agg.collect()}
    for r in agg.collect():
        n_items[r.grp] += 1
    for grp, rows in by_grp.items():
        assert len(rows) == min(k, n_items[grp])
        assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))
        # scores are non-increasing with rank
        ordered = sorted(rows, key=lambda r: r.rank)
        for a, b in zip(ordered, ordered[1:]):
            assert a.total >= b.total


@given(ev=_events)
@_slow
def test_asof_result_is_latest_not_after(spark, ev):
    left = spark.createDataFrame(
        [(u, BASE + timedelta(seconds=off), i) for i, (u, off, _) in enumerate(ev)],
        "k long, t timestamp, lid long",
    )
    right = spark.createDataFrame(
        [
            (u, BASE + timedelta(seconds=(off * 7) % 50_000), i)
            for i, (u, off, _) in enumerate(ev)
        ],
        "k long, rt timestamp, payload long",
    ).groupBy("k", "rt").agg(F.max("payload").alias("payload"))
    right_rows = right.collect()
    out = as_of_join(left, right, "k", "t", "rt", ["payload"]).collect()
    lookup = {(r.k, r.rt): r.payload for r in right_rows}
    for row in out:
        eligible = [
            (rt, p) for (k, rt), p in lookup.items() if k == row.k and rt <= row.t
        ]
        expected = max(eligible)[1] if eligible else None
        assert row.payload == expected, (row, eligible)


def test_word_ngram_hashes_groups_like_string_grams(spark):
    """The array-slice hash construction groups windows exactly like
    the space-joined-string construction (whitespace tokens make the
    join injective): per document, the gram count and the equal-window
    partition must match on real corpus text."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.text import (
        tokens,
        word_ngram_hashes,
        word_ngrams,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    toks = tokens("text")
    both = docs.select(
        "doc_id",
        F.transform(word_ngrams(toks, 8), lambda g: F.xxhash64(g)).alias("s"),
        word_ngram_hashes(toks, 8).alias("h"),
    ).collect()
    assert both
    for row in both:
        assert len(row.s) == len(row.h), row.doc_id
        # identical equal-window partition: positions that collide
        # under one hashing collide under the other
        def groups(xs):
            seen: dict = {}
            return tuple(seen.setdefault(x, len(seen)) for x in xs)

        assert groups(row.s) == groups(row.h), row.doc_id


_stream = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),          # key
        st.integers(min_value=-50, max_value=50),        # value
    ),
    min_size=1,
    max_size=60,
)


@given(rows=_stream)
@_slow
def test_running_sum_equals_sequential_fold(spark, rows):
    from etl_with_s3__dynamodb_and_glue_spark.operators.prefix import running_sum

    data = [(i, int(v)) for i, (_, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, v long")
    out = {
        r["k"]: r["running_total"]
        for r in running_sum(df, "v", ["k"], num_partitions=5).collect()
    }
    acc = 0
    for k, v in data:
        acc += v
        assert out[k] == acc


@given(rows=_stream)
@_slow
def test_cms_never_undercounts_property(spark, rows):
    from collections import Counter

    from etl_with_s3__dynamodb_and_glue_spark.operators import cms

    df = spark.createDataFrame(
        [(str(k),) for k, _ in rows], "term string"
    )
    true = Counter(str(k) for k, _ in rows)
    sketch = cms.cms_build(df, "term", d=3, w=16)
    est = {
        r["term"]: r["est_count"]
        for r in cms.cms_estimate(
            df.distinct(), "term", sketch, d=3, w=16
        ).collect()
    }
    for t, n in true.items():
        assert est[t] >= n, (t, est[t], n)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Nd"), max_codepoint=0x7F
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
@_slow
def test_char_entropy_bounds_property(spark, texts):
    import math

    from etl_with_s3__dynamodb_and_glue_spark.operators.text import (
        char_entropy,
        normalize,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    out = df.select(
        "i",
        F.length(normalize("t")).alias("n"),
        F.size(F.array_distinct(F.split(normalize("t"), ""))).alias("k"),
        char_entropy("t").alias("e"),
    ).collect()
    for r in out:
        # 0 <= H <= log2(distinct symbols); H == 0 iff <= 1 symbol kind
        assert r["e"] >= 0.0
        if r["n"] > 0:
            assert r["e"] <= math.log2(max(r["k"], 1)) + 1e-9


_names = st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=12).map(str.strip).filter(bool),
    min_size=1,
    max_size=30,
)


@given(vals=st.lists(st.floats(min_value=0, max_value=1e6, allow_nan=False),
                     min_size=2, max_size=60))
@_slow
def test_winsorized_mean_is_bounded_by_thresholds(spark, vals):
    """Winsorizing clamps into [p05, p95]: the winsorized mean must lie
    inside the (cent-rounded) threshold interval, and clipping counts
    must account for exactly the out-of-band rows."""
    df = spark.createDataFrame(
        [(i % 2, float(v)) for i, v in enumerate(vals)], "g int, x double"
    )
    pct = df.groupBy("g").agg(
        F.round(F.percentile("x", 0.05), 2).alias("p05"),
        F.round(F.percentile("x", 0.95), 2).alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("x"), F.col("p05")), F.col("p95"))
    out = (
        df.join(F.broadcast(pct), "g")
        .groupBy("g")
        .agg(
            F.first("p05").alias("p05"),
            F.first("p95").alias("p95"),
            F.avg(clamped).alias("wmean"),
            F.sum(F.when(F.col("x") < F.col("p05"), 1).otherwise(0)).alias("lo"),
            F.sum(F.when(F.col("x") > F.col("p95"), 1).otherwise(0)).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in out:
        assert r.p05 - 1e-9 <= r.wmean <= r.p95 + 1e-9
        assert 0 <= r.lo + r.hi <= r.n


@given(ids=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=80, unique=True))
@_slow
def test_split_assignment_partitions_every_key_exactly_once(spark, ids):
    """The 3-way hash split is a PARTITION of the bucket space: every
    key lands in exactly one split, reproducibly."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.sampling import (
        hash_bucket,
        hex_threshold,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    bucket = hash_bucket("doc_id", "split3")
    split = (
        F.when(bucket < F.lit(hex_threshold(0.8)), F.lit("train"))
        .when(bucket < F.lit(hex_threshold(0.9)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    rows = df.select("doc_id", split.alias("s")).collect()
    assert len(rows) == len(ids)
    assert all(r.s in ("train", "val", "test") for r in rows)
    again = {r.doc_id: r.s for r in df.select("doc_id", split.alias("s")).collect()}
    assert again == {r.doc_id: r.s for r in rows}


@given(names=_names)
@_slow
def test_fuzzy_dropped_plus_kept_blocks_cover_all_blocks(spark, names):
    """fuzzy_dropped_blocks and the pairs' implicit kept-set partition
    the block space: every distinct block is either under the cap or
    reported dropped."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.linkage import (
        fuzzy_dropped_blocks,
    )

    df = spark.createDataFrame([(n,) for n in names], "name string")
    blk = F.substring("name", 1, 1)
    cap = 3
    dropped = {
        r.blk for r in fuzzy_dropped_blocks(df, "name", blk, max_block=cap).collect()
    }
    sizes = (
        df.select(F.col("name"), blk.alias("b"))
        .distinct()
        .groupBy("b")
        .count()
        .collect()
    )
    expect_dropped = {r.b for r in sizes if r["count"] > cap}
    assert dropped == expect_dropped


_words = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=6),
    min_size=1,
    max_size=25,
)


_span_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=15
    ),
    min_size=2,
    max_size=6,
)


def _reference_duplicate_spans(texts, min_tokens):
    """Sequential brute-force twin of dedup.duplicate_spans: same
    normalization, gram ownership over raw token tuples (no hashing),
    islands merged per doc."""
    import re
    from collections import defaultdict

    toks = {
        d: re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        for d, t in texts.items()
    }
    owners = defaultdict(set)
    for d, tk in toks.items():
        for i in range(len(tk) - min_tokens + 1):
            owners[tuple(tk[i : i + min_tokens])].add(d)
    out = []
    for d, tk in toks.items():
        runs: list[list[int]] = []
        for p in range(len(tk) - min_tokens + 1):
            if len(owners[tuple(tk[p : p + min_tokens])]) < 2:
                continue
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for a, b in runs:
            ln = b - a + min_tokens
            out.append((d, a, ln, " ".join(tk[a : a + ln])))
    return sorted(out)


@given(docs=_span_docs)
@_slow
def test_duplicate_spans_matches_sequential_reference(spark, docs):
    """The distributed span extractor IS the brute-force definition:
    for any corpus, (doc, start, len, text) rows equal a sequential
    reference computed over raw token tuples — exercising hash-vs-
    string gram identity, island merging across adjacent/overlapping
    shared runs, within-doc-only repeats, and sub-L documents."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import dedup

    texts = {i: " ".join(tk) for i, tk in enumerate(docs)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_len, r.span_text)
        for r in dedup.duplicate_spans(df, min_tokens=3).collect()
    )
    assert got == _reference_duplicate_spans(texts, 3)


@given(docs=_span_docs, ref=_span_docs)
@_slow
def test_duplicate_spans_vs_matches_sequential_reference(spark, docs, ref):
    """Cross-corpus variant of the span property: a doc position is
    covered iff its L-gram occurs ANYWHERE in the reference corpus —
    the sequential twin marks positions by membership in the
    reference's gram set, merges islands identically."""
    import re

    from etl_with_s3__dynamodb_and_glue_spark.operators import dedup

    def toks(t):
        return re.sub(r"\s+", " ", t.strip().lower()).split(" ")

    texts = {i: " ".join(tk) for i, tk in enumerate(docs)}
    ref_texts = [" ".join(tk) for tk in ref]
    L = 3
    ref_grams = {
        tuple(tk[i : i + L])
        for t in ref_texts
        for tk in [toks(t)]
        for i in range(len(tk) - L + 1)
    }
    want = []
    for d, t in texts.items():
        tk = toks(t)
        runs: list[list[int]] = []
        for p in range(len(tk) - L + 1):
            if tuple(tk[p : p + L]) not in ref_grams:
                continue
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for a, b in runs:
            ln = b - a + L
            want.append((d, a, ln, " ".join(tk[a : a + ln])))

    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    rdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_len, r.span_text)
        for r in dedup.duplicate_spans_vs(df, rdf, min_tokens=L).collect()
    )
    assert got == sorted(want)


@given(ws=_words)
@_slow
def test_bpe_train_matches_sequential_reference_on_random_corpora(spark, ws):
    """The distributed trainer IS the textbook algorithm: for any word
    multiset, the full merge sequence equals a sequential reference
    with the same lexicographic tie-break (tests/test_bpe.py holds the
    reference; this drives it over hypothesis-generated corpora where
    ties and sentinel-edge words are common)."""
    from collections import Counter

    from etl_with_s3__dynamodb_and_glue_spark.operators import bpe
    from tests.test_bpe import _reference_bpe

    df = spark.createDataFrame([(1, " ".join(ws))], "doc_id long, text string")
    got = bpe.bpe_train(df, n_merges=8, min_pair_count=2)
    want = _reference_bpe(Counter(ws), 8, 2)
    assert got == want


_gate_batches = st.integers(min_value=1, max_value=3)


@given(docs=_span_docs, ref=_span_docs, n_batches=_gate_batches)
@_slow
def test_decontam_gate_batches_equal_one_shot_batch(spark, docs, ref, n_batches):
    """The streaming decontamination gate IS the batch composition, for
    any corpus and any batch split (VERDICT r7 item 7 — the exact-twin
    property treatment the BPE/span extractors got): driving
    ``screen_batch`` (the foreachBatch body; the wrapper only wires the
    checkpoint) over an arbitrary partition of the corpus produces
    exactly the findings of one-shot ``duplicate_spans_vs_store`` over
    the whole corpus, decisions cover every doc once with
    interval-union token accounting, and a marker-lost re-drive of any
    batch leaves both logs unchanged (the store is static, so batches
    are embarrassingly replayable)."""
    import os
    import shutil
    import tempfile

    from etl_with_s3__dynamodb_and_glue_spark.operators import dedup
    from etl_with_s3__dynamodb_and_glue_spark.streaming import marker
    from etl_with_s3__dynamodb_and_glue_spark.streaming.decontam_gate import (
        screen_batch,
    )
    from etl_with_s3__dynamodb_and_glue_spark.streaming.marker import read_batches

    L = 3
    texts = {i: " ".join(tk) for i, tk in enumerate(docs)}
    corpus = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    ref_df = spark.createDataFrame(
        [(i, " ".join(tk)) for i, tk in enumerate(ref)],
        "doc_id long, text string",
    )
    root = tempfile.mkdtemp(prefix="decontam_prop_")
    try:
        store = os.path.join(root, "store")
        findings_dir = os.path.join(root, "findings")
        decisions_dir = os.path.join(root, "decisions")
        dedup.build_anchor_store(ref_df, store, min_tokens=L)

        def drive(bid):
            screen_batch(
                corpus.filter(F.col("doc_id") % n_batches == bid),
                bid,
                store,
                findings_dir,
                decisions_dir,
                min_tokens=L,
                run_id="prop-run",
            )

        for b in range(n_batches):
            drive(b)

        def snap():
            f = sorted(
                (r.doc_id, r.span_start, r.span_len, r.span_text)
                for r in read_batches(spark, findings_dir).collect()
            )
            d = sorted(
                (r.doc_id, r.contaminated, r.n_spans, r.n_tokens_leaked)
                for r in read_batches(spark, decisions_dir).collect()
            )
            return f, d

        got_f, got_d = snap()
        want_f = sorted(
            (r.doc_id, r.span_start, r.span_len, r.span_text)
            for r in dedup.duplicate_spans_vs_store(
                corpus, store, min_tokens=L
            ).collect()
        )
        assert got_f == want_f

        # decisions: every doc exactly once; leak = interval union
        assert [d for d, *_ in got_d] == sorted(texts)
        spans_by_doc: dict[int, list[tuple[int, int]]] = {}
        for d, a, ln, _ in want_f:
            spans_by_doc.setdefault(d, []).append((a, ln))
        for d, contaminated, n_spans, n_leak in got_d:
            doc_spans = spans_by_doc.get(d, [])
            assert contaminated == bool(doc_spans)
            assert n_spans == len(doc_spans)
            total, cur_end = 0, 0
            for a, b in sorted((s, s + ln) for s, ln in doc_spans):
                a = max(a, cur_end)
                if b > a:
                    total += b - a
                    cur_end = b
            assert n_leak == total

        # lost-marker re-drive of the first batch: byte-for-byte no-op
        os.remove(marker.marker_path(findings_dir))
        drive(0)
        assert snap() == (got_f, got_d)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@given(rows=_stream)
@_slow
def test_cms_cells_equal_sequential_md5_reference(spark, rows):
    """The distributed CMS build IS the portable construction, cell
    for cell: a pure-Python reference (hashlib.md5, first 4 hex digits
    mod w, one increment per key INSTANCE) rebuilds the identical
    (j, pos, n) table on random streams. Guards the r8 rework that
    hashes per DISTINCT key and sums counts — any drift between
    count-weighted and per-instance accumulation shows up here."""
    import hashlib
    from collections import Counter

    from etl_with_s3__dynamodb_and_glue_spark.operators import cms

    d, w = 3, 16
    want: Counter = Counter()
    for k, _ in rows:
        for j in range(d):
            h = hashlib.md5(f"cms{j}|{k}".encode()).hexdigest()
            want[(j, int(h[:4], 16) % w)] += 1
    df = spark.createDataFrame([(str(k),) for k, _ in rows], "term string")
    got = {
        (r.j, r.pos): r.n for r in cms.cms_build(df, "term", d=d, w=w).collect()
    }
    assert got == dict(want)


_dsir_docs = st.lists(
    st.tuples(
        st.lists(
            st.sampled_from(["a", "b", "aa", "bb", "cc"]),
            min_size=0,
            max_size=8,
        ),
        st.booleans(),  # is_target
    ),
    min_size=1,
    max_size=8,
)


@given(docs=_dsir_docs)
@_slow
def test_dsir_weights_match_sequential_reference(spark, docs):
    """dsir_log_weights IS the DSIR arithmetic: a pure-Python
    reference (hashlib.md5 bucketing of unigrams+bigrams, add-one
    smoothed target/raw histograms, count-weighted log-ratio sum)
    reproduces every doc's weight on random corpora — including
    all-target, no-target, and empty-text corners."""
    import hashlib
    import math
    from collections import Counter

    from etl_with_s3__dynamodb_and_glue_spark.operators import importance

    buckets = 16

    def feats(tk: list[str]) -> list[str]:
        tk = tk or [""]  # empty text tokenizes to one empty token
        return tk + [" ".join(tk[i : i + 2]) for i in range(len(tk) - 1)]

    def bucket(g: str) -> int:
        h = hashlib.md5(("dsir|" + g).encode()).hexdigest()
        return int(h[:4], 16) % buckets

    per_doc: dict[int, Counter] = {}
    raw: Counter = Counter()
    tgt: Counter = Counter()
    for i, (tk, is_t) in enumerate(docs):
        c = Counter(bucket(g) for g in feats(tk))
        per_doc[i] = c
        raw.update(c)
        if is_t:
            tgt.update(c)
    raw_tot, tgt_tot = sum(raw.values()), sum(tgt.values())
    want = {}
    for i, c in per_doc.items():
        lw = sum(
            n
            * (
                math.log((tgt[b] + 1.0) / (tgt_tot + buckets))
                - math.log((raw[b] + 1.0) / (raw_tot + buckets))
            )
            for b, n in c.items()
        )
        want[i] = (sum(c.values()), lw)

    df = spark.createDataFrame(
        [(i, " ".join(tk), is_t) for i, (tk, is_t) in enumerate(docs)],
        "doc_id long, text string, is_t boolean",
    )
    got = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in importance.dsir_log_weights(
            df, target=F.col("is_t"), buckets=buckets
        ).collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert math.isclose(got[i][1], want[i][1], rel_tol=1e-9, abs_tol=1e-9)


_ngram_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "cc", "ddd"]), min_size=0, max_size=12
    ),
    min_size=1,
    max_size=6,
)


@given(texts=_ngram_texts, n=st.integers(min_value=2, max_value=6))
@_slow
def test_word_ngrams_match_sequential_reference(spark, texts, n):
    """word_ngrams (r8 rewrite: zipped shifted array views instead of
    per-position slice) IS the textbook sliding window: space-joined
    token windows in order, empty when the doc is shorter than n —
    pinned against a pure-Python reference on random corpora so the
    construction can be re-optimized without semantic drift."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.text import (
        tokens,
        word_ngrams,
    )

    def ref(tk: list[str]) -> list[str]:
        tk = tk or [""]  # empty text tokenizes to one empty token
        return [" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)]

    df = spark.createDataFrame(
        [(i, " ".join(tk)) for i, tk in enumerate(texts)],
        "i long, text string",
    )
    got = {
        r.i: r.g
        for r in df.select("i", word_ngrams(tokens("text"), n).alias("g")).collect()
    }
    for i, tk in enumerate(texts):
        assert got[i] == ref(tk), (i, tk, n)


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.floats(
                min_value=1e-6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=2,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=200, deadline=None)
def test_gumbel_key_orders_exactly_like_linear_ares(pairs):
    """dsir_gumbel_key's log-space form is the SAME A-RES ordering as
    weighted_sample_score's linear form — pure-math replay (no Spark):
    for one shared uniform u per key, ranking ascending by
    ln(−ln u) − ln w must equal ranking descending by ln(u)/w for any
    positive weights. This is the identity doc_dsir_sample's
    correctness rests on when weights leave double-range; pin it
    against the exact float arithmetic, not just algebra on paper."""
    import hashlib
    import math

    def u_of(key):
        h = hashlib.md5(f"gkey|{key}".encode()).hexdigest()
        return (int(h[:8], 16) + 0.5) / 2**32

    # pairwise sign consistency, guarded against float near-ties: when
    # both forms see a clear gap, they must agree on its direction
    # (linear "better" = HIGHER ln(u)/w; gumbel "better" = LOWER key)
    scored = [
        (
            math.log(u_of(k)) / w,
            math.log(-math.log(u_of(k))) - math.log(w),
            k,
        )
        for k, w in pairs
    ]
    for i in range(len(scored)):
        for j in range(i + 1, len(scored)):
            li, gi, _ = scored[i]
            lj, gj, _ = scored[j]
            dl, dg = li - lj, gi - gj
            if (
                abs(dl) <= 1e-9 * max(abs(li), abs(lj), 1.0)
                or abs(dg) <= 1e-9 * max(abs(gi), abs(gj), 1.0)
            ):
                continue  # inside float-tie territory for either form
            assert (dl > 0) == (dg < 0), (scored[i], scored[j])
