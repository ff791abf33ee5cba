"""Training-corpus curation queries: repetition quality signals,
PII audit (count + scrub), and benchmark decontamination.

These wrap ``operators/curation.py`` over the documents testdata.
The synthetic corpus contains no PII-shaped strings, so the PII query
deterministically injects them (same expression in the Spark plan and
the oracle SQL) — the oracle then genuinely checks the count and
replacement semantics instead of hashing an identity transform.

The regex patterns in the oracle SQL are the SAME Python strings as
the Spark plan (``PII_PATTERNS`` is spliced into the SQL text), so
the two engines can never drift apart on the pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import curation, dedup
from ..operators.curation import PII_PATTERNS
from ..sources.readers import read_table


# --- repetition quality signals ------------------------------------------


def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition signals (duplicate word /
    3-gram fraction, top-2-gram mass)."""
    return curation.repetition_signals(read_table(spark, sf_dir, "documents"))


DOC_REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
base AS (
  SELECT doc_id,
    ROUND(CASE WHEN len(toks) <= 0 THEN 0.0
          ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
          END, 6) AS dup_word_frac,
    list_transform(range(1, GREATEST(len(toks) - 2, 0) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS g3,
    list_transform(range(1, GREATEST(len(toks) - 1, 0) + 1),
                   i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS g2
  FROM t
),
b2 AS (
  SELECT doc_id, dup_word_frac,
    ROUND(CASE WHEN len(g3) <= 0 THEN 0.0
          ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
          END, 6) AS dup_3gram_frac,
    g2
  FROM base
),
cnt AS (
  SELECT doc_id, gram, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(g2) AS gram FROM b2)
  GROUP BY 1, 2
),
top AS (
  SELECT doc_id, ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS top_2gram_frac
  FROM cnt GROUP BY 1
)
SELECT b2.doc_id, dup_word_frac, dup_3gram_frac,
       COALESCE(top_2gram_frac, 0.0) AS top_2gram_frac
FROM b2 LEFT JOIN top USING (doc_id)
ORDER BY doc_id
"""


# --- PII audit ------------------------------------------------------------

# Deterministic PII injection: every 7th doc gets an appended tail
# with one of each PII shape, parameterized by doc_id so no two tails
# collide into identical strings.
def _inject_tail_spark():
    # built lazily: Column construction needs an active SparkContext
    return [
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ssn 123-45-6789 tel 555-867-5309 host 10.0.0."),
        (F.col("doc_id") % 200).cast("string"),
    ]


_INJECT_TAIL_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com ssn 123-45-6789 tel 555-867-5309 host 10.0.0.' || "
    "CAST(doc_id % 200 AS VARCHAR)"
)


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit over the (injected) corpus: per-pattern match counts
    on the raw text plus the fully scrubbed text. Single scan, pure
    per-row regex chain (JVM codegen) — no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), *_inject_tail_spark()),
        ).otherwise(F.col("text")),
    )
    return injected.select(
        "doc_id",
        *curation.pii_count_cols("text"),
        curation.pii_scrub_col("text").alias("scrubbed"),
    )


def _pii_sql() -> str:
    counts = ",\n  ".join(
        "CAST(len(regexp_extract_all(text, '%PAT_{0}%')) AS BIGINT) AS n_{0}".format(
            name
        )
        for name in PII_PATTERNS
    )
    scrub = "text"
    for name in PII_PATTERNS:
        scrub = "regexp_replace({0}, '%PAT_{1}%', '<{2}>', 'g')".format(
            scrub, name, name.upper()
        )
    sql = """
WITH injected AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || {tail} ELSE text END AS text
  FROM documents
)
SELECT doc_id,
  {counts},
  {scrub} AS scrubbed
FROM injected
ORDER BY doc_id
""".format(tail=_INJECT_TAIL_SQL, counts=counts, scrub=scrub)
    for name, pat in PII_PATTERNS.items():
        sql = sql.replace(f"%PAT_{name}%", pat)
    return sql


DOC_PII_SCRUB_SQL = _pii_sql()


# --- benchmark decontamination -------------------------------------------


def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc count of distinct 8-gram overlaps with a (synthetic)
    eval-benchmark subset — every 25th doc stands in for the
    benchmark. The eval n-gram set is broadcast; the corpus never
    shuffles on the join."""
    docs = read_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 25 == 0)
    return curation.decontaminate(docs, eval_docs, n=8)


def doc_eval_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level decontamination (span-granular upgrade of
    :func:`doc_decontamination`): the maximal verbatim token runs
    (≥ 8) of each TRAIN doc that appear anywhere in the synthetic eval
    subset (every 25th doc) — the exact passages
    ``dedup.remove_duplicate_spans`` would cut. Eval gram-hash set
    broadcast; the train corpus is one anchor pass
    (``dedup.duplicate_spans_vs``).

    Staged in round 7 (window at capacity; rotation rule 1),
    registered round 8 as planned; the oracle twin below was
    agreement-tested a round before it faced the driver.
    """
    docs = read_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans_vs(
        docs.filter(F.col("doc_id") % 25 != 0),
        docs.filter(F.col("doc_id") % 25 == 0),
        min_tokens=8,
    ).orderBy("doc_id", "span_start")


DOC_EVAL_SPAN_OVERLAP_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 7, 0) + 1)) AS u(i)
),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0),
pos AS (
  SELECT g.doc_id, g.pos,
         g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
             AS isl
  FROM grams g JOIN ev USING (gram)
  WHERE g.doc_id % 25 <> 0
),
spans AS (
  SELECT doc_id,
         CAST(MIN(pos) AS INTEGER) AS span_start,
         CAST(MAX(pos) - MIN(pos) + 8 AS INTEGER) AS span_len
  FROM pos GROUP BY doc_id, isl
)
SELECT s.doc_id, s.span_start, s.span_len,
       array_to_string(list_slice(t.toks, s.span_start + 1,
                                  s.span_start + s.span_len), ' ')
           AS span_text
FROM spans s JOIN t USING (doc_id)
ORDER BY s.doc_id, s.span_start
"""


def doc_scrub_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub-and-admit: the output a decontamination pipeline actually
    SHIPS (VERDICT r7 item 5 — the span *extractor* is oracle-green,
    this declares the removal transform). Every train doc (eval = every
    25th doc held out) with its eval-overlapping token runs cut by
    ``dedup.remove_duplicate_spans``, plus the before/after accounting:
    (doc_id, clean_text, n_tokens_before, n_tokens_removed,
    n_spans_removed) — clean docs pass through with zero removals.

    Staged in round 8 (window at capacity; rotation rule 1),
    registered round 9 as planned; the oracle twin below was
    agreement-tested a round before it faced the driver, and the
    companion invariant test proves scrubbed docs re-extract zero
    spans.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 25 != 0)
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    spans = dedup.duplicate_spans_vs(train, ev, min_tokens=8)
    return dedup.remove_duplicate_spans(train, spans).orderBy("doc_id")


DOC_SCRUB_DUPLICATE_SPANS_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 7, 0) + 1)) AS u(i)
),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0),
pos AS (
  SELECT g.doc_id, g.pos,
         g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
             AS isl
  FROM grams g JOIN ev USING (gram)
  WHERE g.doc_id % 25 <> 0
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
  FROM pos GROUP BY doc_id, isl
),
tokpos AS (
  SELECT doc_id, i - 1 AS p, toks[i] AS tok
  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
  WHERE doc_id % 25 <> 0
),
kept AS (
  SELECT tp.doc_id,
         string_agg(tp.tok, ' ' ORDER BY tp.p) AS clean_text,
         COUNT(*) AS n_kept
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.p >= s.s AND tp.p < s.e
  )
  GROUP BY tp.doc_id
),
nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS INTEGER) AS n_tokens_before,
       CAST(len(t.toks) - COALESCE(k.n_kept, 0) AS INTEGER)
           AS n_tokens_removed,
       CAST(COALESCE(nsp.n_spans, 0) AS INTEGER) AS n_spans_removed
FROM t
LEFT JOIN kept k USING (doc_id)
LEFT JOIN nsp USING (doc_id)
WHERE t.doc_id % 25 <> 0
ORDER BY t.doc_id
"""


DOC_DECONTAMINATION_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 7, 0) + 1)) AS u(i)
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlapping_ngrams
FROM g JOIN ev USING (gram)
GROUP BY g.doc_id
ORDER BY doc_id
"""


# --- end-to-end curation funnel ------------------------------------------

# Stage thresholds — tuning parameters, not truths; fixed constants so
# the DuckDB twin replays the identical funnel. Placed at the observed
# sf0.01 distribution's discriminating range (quality p10-p90 is
# 0.80-0.86, dup-word p10-p90 is 0.25-0.68) so every gate does real
# work in the declared funnel.
FUNNEL_QUALITY_MIN = 0.82
FUNNEL_DUP_WORD_MAX = 0.55


def doc_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (operators/bloom.py): the
    same corpus-side plan as doc_decontamination, but the eval side
    collapses to a ≤16 Ki-long bit-packed word table instead of an
    exact broadcast gram set — constant-size state however large the
    eval suite grows. Guaranteed superset of the exact counts (no
    false negatives); rows-only for the driver because the
    seeded-xxhash64 bit positions aren't replayable in DuckDB —
    tests/test_curation.py asserts the superset guarantee per doc and
    measures the realized false-positive rate against the exact twin."""
    from ..operators.bloom import bloom_decontaminate

    docs = read_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 25 == 0)
    return bloom_decontaminate(docs, eval_docs, n=8)


def doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-curation pipeline as ONE declarative plan:
    survivor counts after each gate —

    1. ``n_total``       every document,
    2. ``n_lang``        language identified (lang-ID argmax ≠ 'und'),
    3. ``n_quality``     + composite quality ≥ FUNNEL_QUALITY_MIN,
    4. ``n_repetition``  + duplicate-word fraction ≤ FUNNEL_DUP_WORD_MAX,
    5. ``n_unique``      distinct content fingerprints among survivors
                         (what exact dedup would keep).

    One tokenize-once scan computes every per-row gate; the final
    aggregate is a single row (stages 1-4 are conditional counts,
    stage 5 a countDistinct over a conditional fingerprint — NULLs,
    i.e. filtered docs, don't count). No shuffle until the one-row
    agg: this funnel costs a corpus SCAN, which is why real pipelines
    run every gate in one pass exactly like this.
    """
    from ..operators.curation import _dup_fraction
    from ..operators.text import fingerprint, lang_id, quality_score, tokens

    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", "text", tokens("text").alias("tk"))
    tk = F.col("tk")
    pass_lang = lang_id("text", toks=tk) != "und"
    pass_quality = pass_lang & (
        F.round(quality_score("text", toks=tk), 6) >= FUNNEL_QUALITY_MIN
    )
    pass_rep = pass_quality & (
        F.round(_dup_fraction(tk), 6) <= FUNNEL_DUP_WORD_MAX
    )
    flags = staged.select(
        pass_lang.alias("pl"),
        pass_quality.alias("pq"),
        pass_rep.alias("pr"),
        fingerprint("text").alias("fp"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("pl").cast("long")).alias("n_lang"),
        F.sum(F.col("pq").cast("long")).alias("n_quality"),
        F.sum(F.col("pr").cast("long")).alias("n_repetition"),
        F.countDistinct(F.when(F.col("pr"), F.col("fp"))).alias("n_unique"),
    )


# The same gates in DuckDB spelling: language CASE + quality formula +
# dup-word fraction cribbed verbatim from DOC_LANG_ID_SQL /
# DOC_QUALITY_SQL (plans/llm_ops.py) / DOC_REPETITION_SQL above, so
# the funnel can never drift from the per-stage queries it composes.
_SW = {
    "en": "['the','and','of','to','a','in','is','that','it','for']",
    "de": "['der','die','das','und','ist','nicht','ein','mit','zu','auf']",
    "fr": "['le','la','les','et','est','un','une','dans','pour','que']",
    "es": "['el','la','los','y','es','un','una','en','por','que']",
}

DOC_CURATION_FUNNEL_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id, text, toks,
         CAST(len(list_filter(toks, x -> list_contains({_SW['en']}, x))) AS DOUBLE) / GREATEST(len(toks),1) AS s_en,
         CAST(len(list_filter(toks, x -> list_contains({_SW['de']}, x))) AS DOUBLE) / GREATEST(len(toks),1) AS s_de,
         CAST(len(list_filter(toks, x -> list_contains({_SW['fr']}, x))) AS DOUBLE) / GREATEST(len(toks),1) AS s_fr,
         CAST(len(list_filter(toks, x -> list_contains({_SW['es']}, x))) AS DOUBLE) / GREATEST(len(toks),1) AS s_es,
         CAST(strlen(text) - strlen(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / GREATEST(strlen(text), 1) AS p_ratio,
         CAST(list_sum(list_transform(toks, x -> strlen(x))) AS DOUBLE)
             / GREATEST(len(toks), 1) AS wlen,
         LEAST(CAST(len(toks) AS DOUBLE) / 20.0, 1.0) AS len_score,
         CASE WHEN len(toks) <= 0 THEN 0.0
              ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
              END AS dwf
  FROM t
),
flag AS (
  SELECT doc_id, text,
         GREATEST(s_en, s_de, s_fr, s_es) > 0 AS pl_raw,
         ROUND(len_score * 0.3
               + (CASE WHEN wlen >= 2.0 AND wlen <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
               + (1.0 - LEAST(p_ratio * 4.0, 1.0)) * 0.2
               + LEAST(LEAST(s_en * 3.0, 1.0), 1.0) * 0.2, 6) AS quality,
         ROUND(dwf, 6) AS dup_word_frac
  FROM feat
),
gated AS (
  SELECT pl_raw AS pl,
         pl_raw AND quality >= {FUNNEL_QUALITY_MIN} AS pq,
         pl_raw AND quality >= {FUNNEL_QUALITY_MIN}
                AND dup_word_frac <= {FUNNEL_DUP_WORD_MAX} AS pr,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM flag
)
SELECT COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN pl THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(SUM(CASE WHEN pq THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN pr THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition,
       COUNT(DISTINCT CASE WHEN pr THEN fp END) AS n_unique
FROM gated
"""


def doc_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-5-gram share per document — the
    corpus-wide boilerplate signal complementing the within-doc
    repetition signals. See operators/curation.py::boilerplate_fraction
    for the two-shuffle plan shape and the hashed-gram scale variant."""
    return curation.boilerplate_fraction(
        read_table(spark, sf_dir, "documents"), n=5, min_docs=2
    )


DOC_BOILERPLATE_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(toks) - 3),
           i -> array_to_string(toks[i:i+4], ' ')))) AS gram
  FROM t
),
gdf AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
per AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
         ROUND(AVG(CASE WHEN df >= 2 THEN 1.0 ELSE 0.0 END), 6)
           AS boilerplate_frac
  FROM g JOIN gdf USING (gram) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_distinct_grams, 0) AS n_distinct_grams,
       p.boilerplate_frac
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier scoring (the fastText filter
    pattern): broadcast (bucket → weight) model, explode + hash +
    join + per-doc mean + sigmoid. See operators/classifier.py for the
    scale shape and why the weights are a deterministic function of
    the bucket id (the oracle rebuilds the identical model)."""
    from ..operators.classifier import classifier_scores, weights_table

    docs = read_table(spark, sf_dir, "documents")
    return classifier_scores(docs, weights_table(spark))


def _hex4_sql(expr: str) -> str:
    digits = [
        f"(strpos('0123456789abcdef', substr({expr}, {i}, 1)) - 1) * {m}"
        for i, m in ((1, 4096), (2, 256), (3, 16), (4, 1))
    ]
    return "(" + " + ".join(digits) + ")"


DOC_QUALITY_CLASSIFIER_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
toks AS (SELECT doc_id, unnest(toks) AS tok FROM t),
feat AS (
  SELECT doc_id,
         CAST({_hex4_sql("md5('f|' || tok)")} % 1024 AS INTEGER) AS bucket
  FROM toks
),
w AS (
  SELECT CAST(i AS INTEGER) AS bucket,
         ROUND({_hex4_sql("md5('w|' || CAST(i AS VARCHAR))")} / 65536.0
               * 2.0 - 1.0, 6) AS w
  FROM range(1024) r(i)
),
per AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, AVG(w.w) AS mean_w
  FROM feat f JOIN w ON f.bucket = w.bucket
  GROUP BY f.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       ROUND(1.0 / (1.0 + exp(-p.mean_w)), 6) AS prob
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


# Deterministic mojibake injection (same trick as the PII audit): the
# synthetic corpus is clean ASCII, so every 11th doc gets an appended
# tail carrying one non-ascii char, one replacement char (U+FFFD — the
# smoking gun of a decode-with-wrong-charset pass), and one control
# char. Identical literal in the Spark plan and the oracle SQL.
_MOJIBAKE_TAIL = " broken:\u00e9\ufffd\x07 end"


def doc_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health audit: per doc, counts of control characters,
    U+FFFD replacement characters, and the non-ascii ratio — the
    cheap pre-filter that catches mojibake and binary-in-text before
    any model sees it. Pure per-row regex arithmetic, no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(_MOJIBAKE_TAIL)),
        ).otherwise(F.col("text")),
    )
    t = F.col("text")

    def n_matching(pat: str):
        return (
            F.length(t) - F.length(F.regexp_replace(t, pat, ""))
        ).cast("long")

    return injected.select(
        "doc_id",
        n_matching(r"[\x00-\x08\x0b\x0c\x0e-\x1f]").alias("n_control"),
        n_matching("\ufffd").alias("n_replacement"),
        F.round(
            n_matching(r"[^\x00-\x7f]") / F.greatest(F.length(t), F.lit(1)),
            6,
        ).alias("non_ascii_ratio"),
    )


DOC_ENCODING_AUDIT_SQL = """
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
              THEN text || '%TAIL%' ELSE text END AS text
  FROM documents
)
SELECT doc_id,
  CAST(length(text) - length(regexp_replace(text,
       '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS BIGINT)
    AS n_control,
  CAST(length(text) - length(regexp_replace(text, '%RCH%', '', 'g')) AS BIGINT)
    AS n_replacement,
  ROUND(CAST(length(text) - length(regexp_replace(text,
        '[^\\x00-\\x7f]', '', 'g')) AS DOUBLE)
        / GREATEST(length(text), 1), 6) AS non_ascii_ratio
FROM injected
ORDER BY doc_id
""".replace("%TAIL%", _MOJIBAKE_TAIL.replace("'", "''")).replace(
    "%RCH%", "\ufffd"
)


def doc_novelty_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/diversity signal: treating doc_id as arrival order,
    the fraction of each document's distinct 5-grams whose FIRST
    corpus occurrence is this document — how much genuinely new
    content each doc contributes (1.0 = all new, 0.0 = everything
    seen before). The dual of boilerplate_fraction (which asks how
    much is SHARED); dedup keeps one copy of repeated content, novelty
    ranks what remains for training order.

    Plan shape (r12): operators/curation.py::novelty_fraction — the
    join-free owner rework banked in the r11 brief. The old form here
    was the verbatim OLD boilerplate skeleton (string grams, gram
    stream joined back against a corpus-proportional first-seen
    table) that the r11 saga measured slow at 500k and OOM-prone at
    5M; the owner trick (carry min(doc_id) through the single
    gram-key aggregate) is EXACT for novelty — see the operator
    docstring for the arithmetic-equality argument."""
    from ..operators.curation import novelty_fraction

    docs = read_table(spark, sf_dir, "documents")
    return novelty_fraction(docs, n=5)


DOC_NOVELTY_FRACTION_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(toks) - 3),
           i -> array_to_string(toks[i:i+4], ' ')))) AS gram
  FROM t
),
fs AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
per AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
         ROUND(AVG(CASE WHEN first_doc = doc_id THEN 1.0 ELSE 0.0 END), 6)
           AS novelty_frac
  FROM g JOIN fs USING (gram) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_distinct_grams, 0) AS n_distinct_grams,
       p.novelty_frac
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


# --- DSIR importance weighting --------------------------------------------


def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023 — see
    ``operators/importance.py`` for the construction and scale shape):
    every document scored by the hashed-ngram log-likelihood ratio of
    "drawn from the English slice" vs "drawn from the whole corpus".
    The synthetic corpus shares one vocabulary across languages, so
    the lang signal lives only in token/bigram frequency profiles —
    the semantic sanity test pins the ranking separation DSIR
    extracts from that (AUC ≈ 0.89), the property test pins the
    arithmetic against a sequential reference, and the oracle twin
    replays hashing, smoothing and summation verbatim.

    Staged in round 8 behind the registry-capacity decision,
    registered round 9 after the staleness bound moved to ≤3
    artifacts (the capacity note in ``__spark_entry__.py`` records
    the reasoning); the oracle twin below was agreement-tested a
    round before it faced the driver.
    """
    from ..caching import carry_cache_deps
    from ..operators import importance

    docs = read_table(spark, sf_dir, "documents")
    weights = importance.dsir_log_weights(docs, target=F.col("lang") == "en")
    out = weights.select(
        "doc_id",
        "n_feats",
        F.round("log_weight", 6).alias("log_weight"),
    ).orderBy("doc_id")
    # the per_doc persist must survive until the CALLER's action —
    # without the transfer, dropping `weights` here fires its
    # finalizer and the measured 35% win never applies (ADVICE r9)
    return carry_cache_deps(out, weights)


def _dsir_sql() -> str:
    bucket = (
        _hex4_sql("md5('dsir|' || gram)") + " % 1024"
    )
    # COALESCE mirrors the Spark side's null-text fix (ADVICE r8 /
    # operators/importance.py::hashed_feature_counts): a NULL-text doc
    # must score, not vanish from the weight table.
    return f"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS is_t,
         string_split_regex(lower(trim(COALESCE(text, ''))), '\\s+') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, is_t, unnest(toks) AS gram FROM t
  UNION ALL
  SELECT doc_id, is_t,
         array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 1, 0) + 1)) AS u(i)
),
docb AS (
  SELECT doc_id, is_t, {bucket} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM feats GROUP BY 1, 2, 3
),
hist AS (
  SELECT bucket, SUM(cnt) AS raw_cnt,
         SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS tgt_cnt
  FROM docb GROUP BY 1
),
tot AS (SELECT SUM(raw_cnt) AS raw_tot, SUM(tgt_cnt) AS tgt_tot FROM hist),
ratio AS (
  SELECT bucket,
         LN((tgt_cnt + 1.0) / (tgt_tot + 1024.0))
           - LN((raw_cnt + 1.0) / (raw_tot + 1024.0)) AS log_ratio
  FROM hist CROSS JOIN tot
),
w AS (
  SELECT d.doc_id, CAST(SUM(d.cnt) AS BIGINT) AS n_feats,
         ROUND(SUM(d.cnt * r.log_ratio), 6) AS log_weight
  FROM docb d JOIN ratio r USING (bucket)
  GROUP BY d.doc_id
)
"""


DOC_DSIR_WEIGHTS_SQL = (
    _dsir_sql() + "SELECT doc_id, n_feats, log_weight FROM w ORDER BY doc_id"
)


def doc_source_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source adaptive quality bucketing (the CCNet discipline —
    Wenzek et al. 2020, public method: quality gates must be RELATIVE
    to each source's own distribution, because an absolute threshold
    that trims boilerplate from web text would gut a code or forum
    source whose scores sit in a different band). Every doc labeled
    head/middle/tail by its source's own quality terciles — the
    standard knob for downweighting or dropping the tail per domain.

    Plan shape: one corpus scan computes the (already oracle-pinned)
    composite quality; the per-source tercile table is a ≤|sources|-row
    exact-percentile table (distributed selection) broadcast back onto
    the scan — no holistic aggregate, no window over data-sized
    frames. Thresholds and scores are rounded to 6 dp in BOTH engines
    before the bucket comparison, so interpolation noise can't flip a
    boundary doc. All-null-group contract: a source whose quality is
    all NULL gets no tercile row and vanishes at the inner join (see
    lineitem_winsorized_stats / ADVICE r12 — latent, quality is never
    null here)."""
    from ..operators.percentiles import group_percentiles_exact
    from ..operators.text import quality_score, tokens

    docs = read_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "source",
        F.round(quality_score("text", toks=tokens("text")), 6).alias(
            "quality"
        ),
    )
    # r12 rework (pulled forward from the r13 queue): the tercile
    # table was a native grouped percentile() — the few-groups
    # holistic trap (|sources| reducers buffer the whole corpus'
    # quality column; the class measured exponent 1.37 at 100×).
    # Distributed selection computes the same interpolated values
    # bit-for-bit (tests/test_percentiles.py), so the 6-dp rounded
    # thresholds and the oracle hash cannot move.
    pe = group_percentiles_exact(q, "source", "quality", [0.33, 0.67])
    th = pe.groupBy("source").agg(
        F.round(F.max(F.when(F.col("p") == 0.33, F.col("pct"))), 6).alias("p33"),
        F.round(F.max(F.when(F.col("p") == 0.67, F.col("pct"))), 6).alias("p67"),
    )
    return q.join(F.broadcast(th), "source").select(
        "doc_id",
        "source",
        "quality",
        F.when(F.col("quality") >= F.col("p67"), F.lit("head"))
        .when(F.col("quality") >= F.col("p33"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# Quality formula cribbed verbatim from DOC_QUALITY_SQL
# (plans/llm_ops.py) so the bucket query can never drift from the
# per-doc quality query it stratifies.
DOC_SOURCE_QUALITY_BUCKETS_SQL = f"""
WITH t AS (
  SELECT doc_id, source, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id, source,
         CAST(len(list_filter(toks, x -> list_contains({_SW['en']}, x))) AS DOUBLE)
             / GREATEST(len(toks), 1) AS sw_ratio,
         CAST(strlen(text) - strlen(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / GREATEST(strlen(text), 1) AS p_ratio,
         CAST(list_sum(list_transform(toks, x -> strlen(x))) AS DOUBLE)
             / GREATEST(len(toks), 1) AS wlen,
         LEAST(CAST(len(toks) AS DOUBLE) / 20.0, 1.0) AS len_score
  FROM t
),
q AS (
  SELECT doc_id, source,
         ROUND(len_score * 0.3
               + (CASE WHEN wlen >= 2.0 AND wlen <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
               + (1.0 - LEAST(p_ratio * 4.0, 1.0)) * 0.2
               + LEAST(sw_ratio * 3.0, 1.0) * 0.2, 6) AS quality
  FROM feat
),
th AS (
  SELECT source,
         ROUND(quantile_cont(quality, 0.33), 6) AS p33,
         ROUND(quantile_cont(quality, 0.67), 6) AS p67
  FROM q GROUP BY source
)
SELECT q.doc_id, q.source, q.quality,
       CASE WHEN q.quality >= th.p67 THEN 'head'
            WHEN q.quality >= th.p33 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM q JOIN th USING (source)
ORDER BY q.doc_id
"""


DSIR_SAMPLE_K = 100


def doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING end-to-end (VERDICT r8 item 4 —
    the user-facing artifact of data selection): the k documents a
    target-domain resample actually admits, drawn WITHOUT replacement
    with probability ∝ exp(log_weight) via the Gumbel-form
    Efraimidis–Spirakis key (operators/importance.py::dsir_gumbel_key
    — log-space so crawl-scale weights never overflow exp()).

    The sort key uses the ROUNDED log weight (6 dp) — the exact
    values the weights query publishes and the oracle reproduces
    digit-for-digit — so float-summation-order noise between engines
    can never flip an ordering near ties; remaining ties break on
    doc_id. Selection is a global top-k (TakeOrdered ascending), no
    single-task window, same scale shape as doc_weighted_sample.
    """
    from ..caching import carry_cache_deps
    from ..operators import importance

    docs = read_table(spark, sf_dir, "documents")
    weights = importance.dsir_log_weights(docs, target=F.col("lang") == "en")
    scored = weights.select(
        "doc_id", "n_feats", F.round("log_weight", 6).alias("log_weight")
    )
    key = importance.dsir_gumbel_key("doc_id", "log_weight")
    sample = (
        scored.orderBy(key.asc(), "doc_id")
        .limit(DSIR_SAMPLE_K)
        .select("doc_id", "n_feats", "log_weight")
    )
    # tie the per_doc persist to the frame the caller actually acts
    # on — see doc_dsir_weights (ADVICE r9)
    return carry_cache_deps(sample, weights)


def _hex8_sql(expr: str) -> str:
    digits = [
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(digits) + ")"


DOC_DSIR_SAMPLE_SQL = (
    _dsir_sql()
    + f"""SELECT doc_id, n_feats, log_weight FROM w
ORDER BY ln(-ln(({_hex8_sql("md5('dsir-sample|' || CAST(doc_id AS VARCHAR))")}
                 + 0.5) / 4294967296.0)) - log_weight,
         doc_id
LIMIT {DSIR_SAMPLE_K}"""
)


# --- DSIR streaming admission gate (landed decision table) ----------------

# admit iff log_weight >= 0: "looks more like the target than like the
# raw corpus" — the natural zero of a log-likelihood ratio.
DSIR_GATE_THRESHOLD = 0.0
_GATE_BATCH_SALT = "dsirbatch"


def _ensure_dsir_decisions(spark: SparkSession, sf_dir: str) -> str:
    """Build-once accessor for a deterministic DSIR gate EPISODE
    (VERDICT r9 item 3 — the admissions surface faces the driver like
    the MinHash store does): the ratio store is estimated over the
    80% corpus split (``llm_ops._split_arrivals`` — same split as the
    arrivals-dedup family), then the 20% arrival slice lands through
    ``streaming/dsir_gate.score_batch`` as TWO deterministic batches
    (md5-parity of doc_id), exercising the same landing + replay-marker
    code path ``foreachBatch`` drives (score_batch is documented to
    run identically under both)."""
    import os

    from ..operators import importance
    from ..operators.sampling import hash_bucket, hex_threshold
    from ..sources.dataset import ensure_derived_dataset
    from ..streaming import dsir_gate
    from .llm_ops import _split_arrivals

    def build(path: str) -> None:
        store = os.path.join(path, "store")
        decisions = os.path.join(path, "decisions")
        arrivals, corpus = _split_arrivals(spark, sf_dir)
        importance.build_dsir_store(corpus, F.col("lang") == "en", store)
        parity = hash_bucket("doc_id", _GATE_BATCH_SALT) < F.lit(
            hex_threshold(0.5)
        )
        for batch_id, batch in enumerate(
            (arrivals.filter(parity), arrivals.filter(~parity))
        ):
            dsir_gate.score_batch(
                batch,
                batch_id,
                store,
                decisions,
                log_weight_min=DSIR_GATE_THRESHOLD,
                run_id="dsir-admissions-episode",
            )

    return ensure_derived_dataset(
        "dsir_decisions", [f"{sf_dir}/documents.parquet"], build
    )


def doc_dsir_admissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR admission gate's LANDED decision table — the
    user-facing artifact of streaming data selection (the per-doc
    admit/reject record a 100 TB ingest keeps for lineage audits):
    one row per arriving doc with its store-scored importance weight,
    the admit verdict, and the batch that landed it.

    Unlike ``doc_dsir_weights`` (inline, corpus-self-estimated), the
    gate scores against ratios PINNED to the reference-corpus split —
    the store contract that keeps micro-batch scores from drifting
    with batch composition. The oracle replays the whole episode:
    split, corpus-side dense smoothed histograms, arrival
    featurization, threshold, and batch parity."""
    from ..streaming.marker import read_batches

    decisions_dir = _ensure_dsir_decisions(spark, sf_dir) + "/decisions"
    return (
        read_batches(spark, decisions_dir)
        .select(
            "doc_id",
            "n_feats",
            F.round("log_weight", 6).alias("log_weight"),
            "admitted",
            F.col("batch_id").cast("int").alias("batch_id"),
        )
        .orderBy("doc_id")
    )


def _dsir_admissions_sql() -> str:
    from ..operators.sampling import hex_threshold
    from .llm_ops import _ARRIVALS_HEX, _ARRIVALS_SALT

    bucket = _hex4_sql("md5('dsir|' || gram)") + " % 1024"
    half = hex_threshold(0.5)  # one definition for both engines
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         string_split_regex(lower(trim(COALESCE(text, ''))), '\\s+') AS toks,
         substr(md5('{_ARRIVALS_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 8)
             AS bkt
  FROM documents
),
feats AS (
  SELECT doc_id, lang, bkt, unnest(toks) AS gram FROM t
  UNION ALL
  SELECT doc_id, lang, bkt,
         array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 1, 0) + 1)) AS u(i)
),
fb AS (
  SELECT doc_id, lang, bkt, {bucket} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM feats GROUP BY 1, 2, 3, 4
),
hist AS (
  SELECT bucket, SUM(cnt) AS raw_cnt,
         SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS tgt_cnt
  FROM fb WHERE bkt >= '{_ARRIVALS_HEX}' GROUP BY 1
),
tot AS (
  SELECT COALESCE(SUM(raw_cnt), 0) AS raw_tot,
         COALESCE(SUM(tgt_cnt), 0) AS tgt_tot
  FROM hist
),
ratio AS (
  SELECT b.bucket,
         LN((COALESCE(h.tgt_cnt, 0) + 1.0) / (tot.tgt_tot + 1024.0))
           - LN((COALESCE(h.raw_cnt, 0) + 1.0) / (tot.raw_tot + 1024.0))
             AS log_ratio
  FROM (SELECT unnest(range(0, 1024)) AS bucket) b
  LEFT JOIN hist h USING (bucket) CROSS JOIN tot
),
w AS (
  SELECT f.doc_id, CAST(SUM(f.cnt) AS BIGINT) AS n_feats,
         SUM(f.cnt * r.log_ratio) AS lw
  FROM fb f JOIN ratio r USING (bucket)
  WHERE f.bkt < '{_ARRIVALS_HEX}'
  GROUP BY f.doc_id
)
SELECT doc_id, n_feats, ROUND(lw, 6) AS log_weight,
       ROUND(lw, 6) >= {DSIR_GATE_THRESHOLD} AS admitted,
       CASE WHEN substr(md5('{_GATE_BATCH_SALT}|' || CAST(doc_id AS VARCHAR)),
                        1, 8) < '{half}'
            THEN 0 ELSE 1 END AS batch_id
FROM w ORDER BY doc_id
"""


QUERIES = {
    "doc_quality_classifier": doc_quality_classifier,
    "doc_boilerplate_fraction": doc_boilerplate_fraction,
    "doc_repetition_signals": doc_repetition_signals,
    "doc_pii_scrub": doc_pii_scrub,
    "doc_decontamination": doc_decontamination,
    "doc_decontamination_bloom": doc_decontamination_bloom,
    "doc_eval_span_overlap": doc_eval_span_overlap,
    "doc_encoding_audit": doc_encoding_audit,
    "doc_novelty_fraction": doc_novelty_fraction,
    "doc_curation_funnel": doc_curation_funnel,
    "doc_scrub_duplicate_spans": doc_scrub_duplicate_spans,
    "doc_dsir_weights": doc_dsir_weights,
    "doc_dsir_sample": doc_dsir_sample,
    "doc_source_quality_buckets": doc_source_quality_buckets,
    "doc_dsir_admissions": doc_dsir_admissions,
}

ORACLE = {
    "doc_quality_classifier": DOC_QUALITY_CLASSIFIER_SQL,
    "doc_boilerplate_fraction": DOC_BOILERPLATE_SQL,
    "doc_repetition_signals": DOC_REPETITION_SQL,
    "doc_pii_scrub": DOC_PII_SCRUB_SQL,
    "doc_decontamination": DOC_DECONTAMINATION_SQL,
    "doc_eval_span_overlap": DOC_EVAL_SPAN_OVERLAP_SQL,
    "doc_encoding_audit": DOC_ENCODING_AUDIT_SQL,
    "doc_novelty_fraction": DOC_NOVELTY_FRACTION_SQL,
    "doc_curation_funnel": DOC_CURATION_FUNNEL_SQL,
    "doc_scrub_duplicate_spans": DOC_SCRUB_DUPLICATE_SPANS_SQL,
    "doc_dsir_weights": DOC_DSIR_WEIGHTS_SQL,
    "doc_dsir_sample": DOC_DSIR_SAMPLE_SQL,
    "doc_source_quality_buckets": DOC_SOURCE_QUALITY_BUCKETS_SQL,
    "doc_dsir_admissions": _dsir_admissions_sql(),
}
