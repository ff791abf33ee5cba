"""Text-analysis operators for LLM-data pipelines (north-star
extension surface; BASELINE.json): tokenization, n-grams/shingles,
quality scoring, language-ID, fingerprinting.

Everything here is built from native ``pyspark.sql.functions`` array/
string expressions — JVM-side, whole-stage-codegen'd, no Python in the
hot path. At 100 TB these are embarrassingly parallel per-row maps:
no shuffle, no skew concern; the only knob is input partition size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the heuristic classifier.
# Real deployments swap in larger profiles; the mechanism (overlap
# ratio + argmax) is what matters.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "por", "que"],
}


def normalize(col: Column | str) -> Column:
    """Lowercase + collapse whitespace — the canonical form used by
    tokenization and fingerprinting."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of the normalized text →
    array<string>."""
    return F.split(normalize(col), " ")


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams from a token array, as space-joined strings.
    Built by zipping ``n`` shifted views of the array (``n − 1``
    whole-array slices per DOC) instead of slicing a window per
    POSITION — the per-position ``transform(sequence…, slice…)``
    form allocates an array cell per gram and measured 5.9× slower
    at n=2 (32.4 → 5.5 s exploding 50k docs' bigrams) down to 1.9×
    at n=8, outputs byte-identical on null-free arrays. Elements must
    be non-null strings (the whitespace-token contract —
    :func:`tokens` output never contains nulls): a null ELEMENT
    null-propagates through ``concat`` here where the old
    ``concat_ws`` silently skipped it; neither is a meaningful gram,
    so the contract is explicit instead. Arrays shorter than ``n``
    yield an empty gram list (the ``when`` guard also keeps ``slice``
    off non-positive lengths — CaseWhen evaluates only the taken
    branch)."""
    count = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, count)
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, k + 1, count),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(count > 0, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngram_hashes(toks: Column, n: int) -> Column:
    """64-bit hash per word n-gram window, skipping gram-string
    construction: ``xxhash64`` over the sliced token array directly.
    Tokens cannot contain spaces (whitespace tokenization), so the
    space-joined gram string is injective in the token window — equal
    windows collide under either construction, and window-equality
    consumers (winnowing containment, span anchors, fingerprint sets)
    get identical groupings.

    Kept on the sliced-array form after a measured r8 A/B against
    ``xxhash64(word_ngrams(...))`` (the zip-string form): the string
    form wins the isolated explode micro-bench 1.8× but LOSES ~15%
    warm inside ``doc_ngram_containment`` (array_distinct over the
    hash array — the chained-concat string materialization dominates
    when nothing is exploded) and is a wash inside
    ``duplicate_spans``; mixed real-query results don't justify
    changing persisted hash VALUES. The anchor store stamps this
    construction version (``dedup.ANCHOR_FORMAT``) so any future
    change fails loudly at probe time instead of silently missing
    every span."""
    count = F.size(toks) - (n - 1)
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.xxhash64(F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


# Fracture-point marker for bpe_ish_token_count: a control byte no
# document text contains; inserted at token boundaries, then split on.
BPE_SEP = "\x01"


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-flavored token-count estimate without a tokenizer model:
    splits on word boundaries AND digit/punct transitions, the way
    byte-pair vocabularies fracture text. Deterministic and cheap —
    a cost/billing estimator, not a real tokenizer.

    Constructed without regex lookarounds (capture-group replacements
    insert an explicit separator at each fracture point, then one
    split) so the SAME construction runs on RE2 engines — that is what
    lets the DuckDB oracle replay it verbatim (plans/llm_ops.py
    ``doc_bpe_token_counts``). Letter→digit and digit→letter rules are
    separate passes: transitions of one kind are never adjacent, so
    global replace sees every boundary.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.lower(F.trim(c))
    s = F.regexp_replace(s, "([a-z])([0-9])", "$1" + BPE_SEP + "$2")
    s = F.regexp_replace(s, "([0-9])([a-z])", "$1" + BPE_SEP + "$2")
    s = F.regexp_replace(s, r"([^\w\s])", BPE_SEP + "$1")
    pieces = F.split(s, r"[\s" + BPE_SEP + "]+")
    return F.size(F.filter(pieces, lambda p: p != F.lit("")))


def stopword_ratio(toks: Column, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords (quality signal)."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1))


def avg_token_len(toks: Column) -> Column:
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1))


def _char_run_ends(chars: Column) -> Column:
    """1-based positions of the LAST element of each equal-run in a
    SORTED array. Every lambda touches only its own lambda variables —
    see the HOF-LAMBDA RULE in :func:`char_entropy`."""
    m = F.size(chars)
    nexts = F.concat(
        F.slice(chars, 2, F.greatest(m - 1, F.lit(0))),
        F.array(F.lit(None).cast("string")),
    )
    # true at the LAST position of each run (next char differs / none)
    flags = F.zip_with(chars, nexts, lambda a, b: b.isNull() | (a != b))
    return F.array_compact(
        F.zip_with(F.sequence(F.lit(1), m), flags, lambda i, fl: F.when(fl, i))
    )


def _counts_from_ends(ends: Column) -> Column:
    """Ascending run lengths from run-end positions (end minus the
    previous run's end)."""
    return F.array_sort(
        F.zip_with(
            ends,
            F.concat(
                F.array(F.lit(0)),
                F.slice(ends, 1, F.greatest(F.size(ends) - 1, F.lit(0))),
            ),
            lambda e, p: e - p,
        )
    )


def _entropy_from_counts(counts: Column, n: Column) -> Column:
    """Σ −p·log₂p over ascending counts; the fixed ascending order
    makes the FP summation order — and therefore the entropy,
    bit-for-bit — engine-independent (the DuckDB oracle list_sorts the
    same counts). The ``+ 0.0`` canonicalizes IEEE −0.0 (a
    single-repeated-char doc negates an exact 0) so engines hash
    identically. ``n`` is referenced inside a lambda, so callers must
    pass a CHEAP expression (an attribute or size-of-attribute)."""
    ent = -F.aggregate(
        F.transform(
            counts,
            lambda k: (k.cast("double") / n) * F.log2(k.cast("double") / n),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(n > 0, ent + F.lit(0.0)).otherwise(F.lit(0.0))


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (bits/char) of the normalized text's character
    distribution — the compression-ratio-proxy quality signal: near 0
    for degenerate repetition ("aaaa…"), ~4.1 for typical English
    prose, and high (>5) for random/encoded junk. Filters on BOTH
    tails are standard in corpus curation.

    HOF-LAMBDA RULE (learned the hard way in the r11 perf pass): a
    captured subtree inside a higher-order-function lambda is
    RE-EVALUATED PER ELEMENT — HOFs are interpreted, with no common-
    subexpression elimination inside the lambda body — so no lambda in
    this lineage references an array subtree, only its own lambda
    variables (neighbor access = zip the array against its own shift;
    positions = zip against sequence(1, m)). That bounds this
    single-Column form at O(|text| log |text|) per row times a
    constant ~12 re-evaluations of the sorted-char array through the
    CHAINED references (ends → chars ×4, counts → ends ×3): fine for
    expression composition and tests, but the corpus-scale path is
    :func:`with_char_entropy`, which stages the array and the run-end
    positions as REAL COLUMNS so each evaluates exactly once per row
    (CollapseProject does not inline a non-cheap alias referenced more
    than once). Both forms produce the identical counts multiset in
    the identical ascending order, so the entropy is bit-identical —
    pinned by tests/test_llm_ops.py's expression-vs-staged parity
    test.
    """
    s = normalize(col)
    n = F.length(s)
    chars = F.array_sort(F.split(s, ""))
    counts = _counts_from_ends(_char_run_ends(chars))
    return _entropy_from_counts(counts, n)


def with_char_entropy(
    df: DataFrame,
    text_col: str = "text",
    out: str = "char_entropy",
    n_out: str | None = None,
) -> DataFrame:
    """Corpus-scale char-entropy: appends ``out`` (entropy, bits/char)
    and optionally ``n_out`` (normalized char count) to ``df``.

    Same arithmetic as :func:`char_entropy`, but the sorted char array
    and the run-end positions are materialized as real columns between
    projections, so each is computed ONCE per row instead of ~12 times
    through chained expression references (r11 A/B at sf0.1: 5.2 s for
    the nested-filter r3 form, 8.6 s for the naively-chained zip_with
    form, ~1 s staged). Still zero shuffle — embarrassingly parallel
    over whatever partitioning the input already has, which is the
    shape you want for a 100 TB quality-scoring pass.

    ``n_out`` is ``length(normalized)`` (ADVICE r11, medium): the
    earlier ``size(split(s, ''))`` form reads 1 on EMPTY normalized
    text (Spark's split('', '') is ['']), diverging from the oracle's
    ``strlen``. The ENTROPY arithmetic keeps ``size(chars)`` as its
    ``n`` on purpose — that n is referenced inside the per-run-count
    lambda, where size(attribute) is O(1) but length(string) is
    O(|text|) per element (the HOF-LAMBDA class the r11 rework
    removed); the two differ only on blank text, where the n>0-guarded
    entropy is 0.0 either way (split('','')'s [''] run yields
    −(1/1)·log₂(1) = 0), so entropy stays bit-identical."""
    norm_c, chars_c, ends_c = "_ce_norm", "_ce_chars", "_ce_ends"
    staged = (
        df.withColumn(norm_c, normalize(text_col))
        .withColumn(
            chars_c, F.array_sort(F.split(F.col(norm_c), ""))
        )
        .withColumn(ends_c, _char_run_ends(F.col(chars_c)))
    )
    n = F.size(F.col(chars_c))
    ent = _entropy_from_counts(_counts_from_ends(F.col(ends_c)), n)
    staged = staged.withColumn(out, ent)
    if n_out is not None:
        staged = staged.withColumn(n_out, F.length(F.col(norm_c)))
    return staged.drop(norm_c, chars_c, ends_c)


def quality_score(
    col: Column | str,
    stopwords: list[str] | None = None,
    toks: Column | None = None,
) -> Column:
    """Composite [0,1] quality heuristic in the spirit of public
    pretraining-data filters (length, word shape, symbol load,
    stopword presence). Fixed deterministic arithmetic — ideal for an
    oracle check; thresholds are tuning parameters, not truths.

    Pass ``toks`` (a pre-staged token-array column) when composing
    with other token consumers in one Project: inlining the tokenizer
    here embeds its split/regex tree into three sub-scores, and
    HOF-bearing subtrees dodge common-subexpression elimination —
    the generated code balloons and cold codegen compile dominates."""
    stopwords = stopwords or LANG_PROFILES["en"]
    if toks is None:
        toks = tokens(col)
    len_score = F.least(F.size(toks).cast("double") / F.lit(20.0), F.lit(1.0))
    word_len = avg_token_len(toks)
    word_len_score = F.when((word_len >= 2.0) & (word_len <= 12.0), 1.0).otherwise(0.3)
    punct_score = F.lit(1.0) - F.least(
        punct_ratio(col) * F.lit(4.0), F.lit(1.0)
    )
    sw_score = F.least(stopword_ratio(toks, stopwords) * F.lit(3.0), F.lit(1.0))
    return (
        len_score * F.lit(0.3)
        + word_len_score * F.lit(0.3)
        + punct_score * F.lit(0.2)
        + sw_score * F.lit(0.2)
    )


def lang_scores(
    col: Column | str,
    profiles: dict[str, list[str]] | None = None,
    toks: Column | None = None,
) -> dict[str, Column]:
    """Per-language stopword-overlap ratios (n-gram-profile heuristic
    reduced to unigram profiles). Pass a pre-staged ``toks`` column
    when possible — inlined tokenization is copied into every
    language's ratio (2 HOF references each) and the codegen tree
    balloons (see ``quality_score``)."""
    profiles = profiles or LANG_PROFILES
    if toks is None:
        toks = tokens(col)
    return {lang: stopword_ratio(toks, words) for lang, words in profiles.items()}


def lang_id(
    col: Column | str,
    profiles: dict[str, list[str]] | None = None,
    toks: Column | None = None,
) -> Column:
    """argmax over the language scores; 'und' (undetermined) when no
    profile matches at all. Ties break by language code order —
    deterministic."""
    profiles = profiles or LANG_PROFILES
    scores = lang_scores(col, profiles, toks=toks)
    pairs = F.array(
        *[
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
            for lang, score in sorted(scores.items())
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p.score > 0))
    return F.coalesce(best.lang, F.lit("und"))


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text. md5 (not
    xxhash64) so external engines can reproduce it byte-for-byte."""
    return F.md5(normalize(col))


def chunk_tokens(
    toks: Column, chunk_size: int = 128, overlap: int = 16
) -> Column:
    """Overlapping token windows over a token array — the chunking
    step every LLM training pipeline runs before tokenizer/packing.

    Returns ``array<struct<start int, chunk array<string>>>``; window
    starts advance by ``chunk_size - overlap`` and the final window may
    be short (tail tokens are never dropped). Pure array expressions:
    per-row map, no shuffle, no Python.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - overlap, F.lit(1)),
        F.lit(stride),
    )
    return F.transform(
        starts,
        lambda s: F.struct(
            s.cast("int").alias("start"),
            F.slice(toks, s, chunk_size).alias("chunk"),
        ),
    )


def pack_chunks(
    chunks,
    budget: int,
    partition_cols: list[str],
    order_cols: list[str],
    tokens_col: str = "n_tokens",
):
    """Streaming sequence packing: assign ordered chunks to packs of
    ~``budget`` tokens via a running-total window — the step between
    chunking and the trainer's fixed-length batches.

    ``pack_id = floor(running_total_before_this_chunk / budget)`` is
    the one-pass approximation of bin packing: deterministic given the
    ordering, one window shuffle per partition group, no Python. Packs
    average ≈ budget; a chunk whose tokens straddle a boundary stays
    whole in the earlier pack (packs can overshoot by < one chunk),
    which trainers prefer over splitting a chunk across packs.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return chunks.withColumn(
        "pack_id", F.floor(before / F.lit(budget)).cast("long")
    )
