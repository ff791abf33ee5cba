"""LLM-data-pipeline queries over the documents/embeddings testdata
(north-star extension surface: dedup, similarity search, text
analysis, multimodal — BASELINE.json).

Oracle-checkable queries (exact math, deterministic ordering) carry a
DuckDB twin; the approximate/LSH paths are declared rows-only (driver
contract allows omitting the oracle) and are instead verified against
their exact twins in tests/test_llm_ops.py (recall assertions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup, multimodal, similarity, terms
from ..operators.sampling import hash_bucket, hex_threshold
from ..sources.readers import read_table
from ..operators.text import (
    LANG_PROFILES,
    avg_token_len,
    bpe_ish_token_count,
    with_char_entropy,
    fingerprint,
    lang_id,
    normalize,
    punct_ratio,
    quality_score,
    stopword_ratio,
    tokens,
    word_ngram_hashes,
)


# --- text analysis -------------------------------------------------------


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # Stage the token array once: inlining `tokens("text")` into all
    # three consumers would embed three copies of the split/regex tree
    # in one Project — HOF-bearing subtrees dodge subexpression
    # elimination and the generated code triples (measured ~4× slower
    # cold at sf0.1, dominated by codegen compile).
    staged = docs.select("doc_id", "lang", "text", tokens("text").alias("tk"))
    return staged.select(
        "doc_id",
        "lang",
        F.size("tk").alias("n_tokens"),
        F.size(F.array_distinct("tk")).alias("n_unique_tokens"),
        F.round(avg_token_len(F.col("tk")), 6).alias("avg_token_len"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


DOC_TOKEN_STATS_SQL = """
WITH t AS (
  SELECT doc_id, lang, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(toks) AS INTEGER)                AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique_tokens,
       ROUND(CAST(list_sum(list_transform(toks, x -> strlen(x))) AS DOUBLE)
             / GREATEST(len(toks), 1), 6)        AS avg_token_len,
       CAST(strlen(text) AS BIGINT)              AS n_chars_actual
FROM t ORDER BY doc_id
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # tokenize once (see doc_token_stats — codegen blowup otherwise)
    staged = docs.select("doc_id", "text", tokens("text").alias("tk"))
    tk = F.col("tk")
    return staged.select(
        "doc_id",
        F.round(stopword_ratio(tk, LANG_PROFILES["en"]), 6).alias("stopword_ratio"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(quality_score("text", toks=tk), 6).alias("quality"),
    )


_EN_SW = "['the','and','of','to','a','in','is','that','it','for']"

DOC_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id, text, toks,
         CAST(len(list_filter(toks, x -> list_contains({_EN_SW}, x))) AS DOUBLE)
             / GREATEST(len(toks), 1) AS sw_ratio,
         CAST(strlen(text) - strlen(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / GREATEST(strlen(text), 1) AS p_ratio,
         CAST(list_sum(list_transform(toks, x -> strlen(x))) AS DOUBLE)
             / GREATEST(len(toks), 1) AS wlen,
         LEAST(CAST(len(toks) AS DOUBLE) / 20.0, 1.0) AS len_score
  FROM t
)
SELECT doc_id,
       ROUND(sw_ratio, 6) AS stopword_ratio,
       ROUND(p_ratio, 6)  AS punct_ratio,
       ROUND(len_score * 0.3
             + (CASE WHEN wlen >= 2.0 AND wlen <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
             + (1.0 - LEAST(p_ratio * 4.0, 1.0)) * 0.2
             + LEAST(sw_ratio * 3.0, 1.0) * 0.2, 6) AS quality
FROM feat ORDER BY doc_id
"""


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # tokenize once across all four language profiles
    staged = docs.select("doc_id", "lang", tokens("text").alias("tk"))
    return staged.select(
        "doc_id", "lang", lang_id("tk", toks=F.col("tk")).alias("predicted_lang")
    )


_PROFILE_SQL = {
    "en": _EN_SW,
    "de": "['der','die','das','und','ist','nicht','ein','mit','zu','auf']",
    "fr": "['le','la','les','et','est','un','une','dans','pour','que']",
    "es": "['el','la','los','y','es','un','una','en','por','que']",
}

# Tie-break mirrors the Spark argmax (max over (score, lang) structs):
# among tied scores the lexicographically greatest language code wins,
# hence the CASE tests languages in reverse code order.
DOC_LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(toks, x -> list_contains({_PROFILE_SQL['en']}, x))) AS DOUBLE) / GREATEST(len(toks),1) AS s_en,
         CAST(len(list_filter(toks, x -> list_contains({_PROFILE_SQL['de']}, x))) AS DOUBLE) / GREATEST(len(toks),1) AS s_de,
         CAST(len(list_filter(toks, x -> list_contains({_PROFILE_SQL['fr']}, x))) AS DOUBLE) / GREATEST(len(toks),1) AS s_fr,
         CAST(len(list_filter(toks, x -> list_contains({_PROFILE_SQL['es']}, x))) AS DOUBLE) / GREATEST(len(toks),1) AS s_es
  FROM t
)
SELECT doc_id, lang,
       CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
            WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es) THEN 'es'
            WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
            ELSE 'de' END AS predicted_lang
FROM s ORDER BY doc_id
"""


def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-flavored token-count estimate (whitespace + digit/punct
    fracture points). The split is built lookaround-free (explicit
    separator insertion — operators/text.py ``bpe_ish_token_count``)
    precisely so DuckDB's RE2 engine can replay it verbatim: full
    value oracle, not rows-only."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


def doc_source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer cost accounting — training mixtures are
    specified in TOKENS, not documents, so the mixing/budgeting layer
    needs each source's token mass and fertility before any sampling
    rate can be set: (source, n_docs, n_chars, n_ws_tokens,
    n_bpe_tokens, fertility = bpe/ws tokens, chars_per_bpe_token).
    High-fertility sources (code, non-Latin scripts) cost more tokens
    per word — budgeting by document count over-trains on them.
    One scan, one ≤|sources|-row aggregate; the BPE-ish estimator is
    the same lookaround-free construction the per-doc query pins, so
    the oracle replays the whole report verbatim."""
    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select(
        "source",
        F.length("text").cast("long").alias("nc"),
        F.size(tokens("text")).cast("long").alias("ws"),
        bpe_ish_token_count("text").cast("long").alias("bpe"),
    )
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nc").cast("long").alias("n_chars"),
        F.sum("ws").cast("long").alias("n_ws_tokens"),
        F.sum("bpe").cast("long").alias("n_bpe_tokens"),
        F.round(F.sum("bpe") / F.sum("ws"), 6).alias("fertility"),
        F.round(F.sum("nc") / F.sum("bpe"), 6).alias("chars_per_bpe_token"),
    )


DOC_SOURCE_TOKEN_BUDGET_SQL = r"""
WITH marked AS (
  SELECT source,
         CAST(strlen(text) AS BIGINT) AS nc,
         CAST(len(string_split_regex(lower(trim(text)), '\s+'))
              AS BIGINT) AS ws,
         CAST(len(list_filter(string_split_regex(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(trim(text)),
                              '([a-z])([0-9])', '\1' || chr(1) || '\2', 'g'),
               '([0-9])([a-z])', '\1' || chr(1) || '\2', 'g'),
             '([^\w\s])', chr(1) || '\1', 'g'),
           '[\s' || chr(1) || ']+'), x -> x <> '')) AS BIGINT) AS bpe
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(nc) AS BIGINT) AS n_chars,
       CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(bpe) AS DOUBLE) / SUM(ws), 6) AS fertility,
       ROUND(CAST(SUM(nc) AS DOUBLE) / SUM(bpe), 6) AS chars_per_bpe_token
FROM marked
GROUP BY source
ORDER BY source
"""


def doc_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training order (sharded reproducible shuffle):
    shard + position are a pure function of (salt, doc_id) — identical
    across reruns, partitionings, and engines, which ``orderBy(rand())``
    is not. Full value oracle (DuckDB replays the hash order)."""
    from ..operators.sampling import sharded_training_order

    return sharded_training_order(read_table(spark, sf_dir, "documents"), "doc_id")


DOC_TRAINING_ORDER_SQL = """
WITH b AS (
  SELECT doc_id,
         substr(md5('order|' || CAST(doc_id AS VARCHAR)), 1, 8) AS order_key
  FROM documents
),
s AS (
  SELECT doc_id, order_key,
         CAST(instr('0123456789abcdef', substr(order_key, 1, 1)) - 1
              AS INTEGER) AS shard
  FROM b
)
SELECT doc_id, shard, order_key,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY order_key, doc_id) AS INTEGER)
         AS position
FROM s
ORDER BY shard, position
"""


def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for batch shaping: log2 buckets over
    the whitespace token count (a per-row map — no global NTILE sort
    barrier), with per-bucket population and the padding waste of
    padding every member to the bucket max. The table a batching
    policy is tuned from."""
    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select(
        F.floor(F.log2(F.size(tokens("text")))).cast("int").alias("bucket"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    return (
        staged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "min_tokens",
            "max_tokens",
            F.round(
                F.col("sum_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("avg_tokens"),
            (F.col("max_tokens") * F.col("n_docs") - F.col("sum_tokens")).alias(
                "padding_waste"
            ),
        )
    )


DOC_LENGTH_BUCKETS_SQL = """
WITH t AS (
  SELECT CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
)
SELECT CAST(floor(log2(n_tokens)) AS INTEGER) AS bucket,
       COUNT(*) AS n_docs,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
       CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT)
         AS padding_waste
FROM t
GROUP BY bucket
ORDER BY bucket
"""


# The same three fracture-point replacements + one split as
# operators/text.py::bpe_ish_token_count, in RE2/DuckDB spelling
# (\1-style backrefs, chr(1) separator).
DOC_BPE_TOKEN_COUNTS_SQL = r"""
WITH marked AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(lower(trim(text)),
                            '([a-z])([0-9])', '\1' || chr(1) || '\2', 'g'),
             '([0-9])([a-z])', '\1' || chr(1) || '\2', 'g'),
           '([^\w\s])', chr(1) || '\1', 'g') AS s
  FROM documents
)
SELECT m.doc_id,
       CAST(len(string_split_regex(lower(trim(d.text)), '\s+'))
            AS INTEGER) AS n_ws_tokens,
       CAST(len(list_filter(string_split_regex(m.s, '[\s' || chr(1) || ']+'),
                            x -> x <> '')) AS INTEGER) AS n_bpe_tokens
FROM marked m JOIN documents d USING (doc_id)
ORDER BY doc_id
"""


# Winnowing-style containment: fingerprints seen in more than this many
# documents are boilerplate (headers, licenses, navigation chrome) and
# are dropped BEFORE the self-join — a fingerprint shared by k docs
# otherwise produces k^2 join rows, the classic skew blow-up at scale.
HOT_FP_MAX_DF = 50


def doc_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-containment pairs via rolling 8-token fingerprints
    (winnowing-style): pairs of docs sharing >= 20 window hashes.
    Catches copied passages that whole-doc Jaccard dilutes away.

    Skew safety: fingerprints with document-frequency > HOT_FP_MAX_DF
    are dropped before pairing (standard winnowing hot-hash cap), and
    the df computation is a partial-aggregating groupBy — NOT a window:
    a window count over ``partitionBy(fp)`` funnels every row of a hot
    fingerprint through one sort partition with no map-side combine, so
    the df step itself would inherit the k² skew the cap exists to
    kill. Here each mapper emits one row per local fp, the tiny hot set
    (df > cap) broadcasts back as an anti-join, and pair generation is
    in-row over the per-fp id list (bounded ≤ C(cap, 2)) — one big
    exchange of capped rows, no self-join. A/B at sf0.1 (warm): window
    4.3-4.7 s, hot-set anti-join + self-join 4.2-4.4 s, this form
    4.3-5.1 s — a wash locally (gram hashing dominates); chosen on the
    skew/shuffle grounds above, which only bite at real scale.
    """
    from pyspark.storagelevel import StorageLevel

    from ..caching import unpersist_on_release

    docs = read_table(spark, sf_dir, "documents")
    # 64-bit window hashes (not md5 strings): an 8-byte shuffle key vs
    # 32 bytes; the oracle twin hashes with md5 but only the PAIRS are
    # compared, and both hashes group identical windows together.
    # Persisted for the two consumers (df aggregate, pair generation);
    # the release is tied to the result's lifetime, no leaked cache.
    # Stage the TOKENIZE in its own projection; keep the hash/distinct
    # chain inside the generator. Measured at sf0.1 (warm): inline
    # tokenize 4.0 s, tokenize-staged 0.6 s, fully-staged array 10.5 s
    # — an inline (or alias-collapsed) tokenize re-evaluates the regex
    # split per EMITTED row, while a fully-staged array gets its alias
    # substituted back into the generator by CollapseProject, which is
    # even worse. Tokenize-staged is the shape codegen handles.
    grams = (
        docs.select("doc_id", tokens("text").alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_ngram_hashes(F.col("tk"), 8))
            ).alias("fp"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hot = (
        grams.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > HOT_FP_MAX_DF)
        .select("fp")
    )
    by_fp = (
        grams.join(F.broadcast(hot), "fp", "left_anti")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    result = (
        by_fp.select(F.explode(pair_arr).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .filter(F.col("shared_windows") >= 20)
    )
    return unpersist_on_release(result, grams)


DOC_NGRAM_CONTAINMENT_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS fp
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 7, 0) + 1)) AS u(i)
),
kept AS (
  SELECT doc_id, fp
  FROM (SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM g)
  WHERE df <= 50
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_windows
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 20
ORDER BY id_a, id_b
"""


def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022): maximal verbatim
    token runs of length ≥ 8 shared across ≥ 2 documents, per document
    — the repeated-substring modality doc-level dedup misses (see
    ``operators/dedup.py::duplicate_spans`` for the construction and
    scale shape). Oracle-checkable end to end: the anchor-gram →
    distinct-doc-count → gaps-and-islands pipeline is exact, and the
    DuckDB twin groups on the gram STRING where Spark groups on its
    xxhash64 (identical grouping modulo 2⁻⁶⁴ collisions)."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, min_tokens=8).orderBy("doc_id", "span_start")


DOC_DUPLICATE_SPANS_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 7, 0) + 1)) AS u(i)
),
dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
pos AS (
  SELECT g.doc_id, g.pos,
         g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
             AS isl
  FROM grams g JOIN dup USING (gram)
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


def doc_token_dup_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level verbatim-duplication accounting — the headline
    number of every substring-dedup paper (Lee et al. 2022 report it
    as "% of tokens in duplicated substrings"): ONE row with
    (n_docs, n_tokens, n_tokens_duplicated, n_docs_affected,
    dup_share). Composes the span extractor (`dedup.duplicate_spans`,
    same min_tokens=8 as `doc_duplicate_spans`) with the
    interval-union token accounting the decontamination gate already
    uses (`streaming/decontam_gate.tokens_leaked` — spans from
    non-consecutive anchors can overlap, and a plain SUM(span_len)
    would double-count the shared tokens). Scale shape: the span
    pipeline's anchor-gram shuffle + a findings-sized window + one
    single-row aggregate; nothing new shuffles at corpus size."""
    from ..streaming.decontam_gate import tokens_leaked

    docs = read_table(spark, sf_dir, "documents")
    spans = dedup.duplicate_spans(docs, min_tokens=8)
    leaked = tokens_leaked(spans)
    per_doc = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_toks")
    ).join(leaked, "doc_id", "left")
    leak = F.coalesce("n_tokens_leaked", F.lit(0).cast("long"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        # coalesce AFTER the aggregate too: SUM over zero rows is NULL
        # in Spark, while the oracle's COALESCE(SUM(leak), 0) yields 0
        # on an empty corpus — both engines must agree on the empty
        # edge (ADVICE r9)
        F.coalesce(F.sum(leak), F.lit(0)).cast("long").alias(
            "n_tokens_duplicated"
        ),
        F.sum((F.coalesce("n_spans", F.lit(0)) > 0).cast("long"))
        .cast("long")
        .alias("n_docs_affected"),
        F.round(F.sum(leak) / F.sum("n_toks"), 6).alias("dup_share"),
    )


# Spans CTE cribbed from DOC_DUPLICATE_SPANS_SQL above (same grams /
# dup / islands pipeline, span_text dropped); the interval union is
# the same running-max sweep as tokens_leaked: a token counts iff it
# lies past every earlier span's max end within the doc.
DOC_TOKEN_DUP_SHARE_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 7, 0) + 1)) AS u(i)
),
dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
pos AS (
  SELECT g.doc_id, g.pos,
         g.pos - ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
             AS isl
  FROM grams g JOIN dup USING (gram)
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
  FROM pos GROUP BY doc_id, isl
),
contrib AS (
  SELECT doc_id,
         GREATEST(e - GREATEST(s, COALESCE(MAX(e) OVER (
             PARTITION BY doc_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)), 0)
           AS c
  FROM spans
),
leaked AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(c) AS leak
  FROM contrib GROUP BY doc_id
),
tot AS (SELECT doc_id, len(toks) AS n_toks FROM t)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(SUM(leak), 0) AS BIGINT) AS n_tokens_duplicated,
       CAST(SUM(CASE WHEN COALESCE(n_spans, 0) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_affected,
       ROUND(CAST(COALESCE(SUM(leak), 0) AS DOUBLE) / SUM(n_toks), 6)
           AS dup_share
FROM tot LEFT JOIN leaked USING (doc_id)
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (the pre-tokenizer step of a
    training pipeline): 32-token windows, 8-token overlap, tail never
    dropped. Native array expressions → per-row map, no shuffle."""
    from ..operators.text import chunk_tokens, tokens

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", tokens("text").alias("tk"))
        .select(
            "doc_id",
            F.posexplode(chunk_tokens(F.col("tk"), 32, 8)).alias(
                "chunk_id", "c"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.col("c.start").alias("start"),
            F.size("c.chunk").alias("n_tokens"),
            F.concat_ws(" ", F.col("c.chunk")).alias("chunk_text"),
        )
    )


DOC_CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks,
         CAST(u.s AS INTEGER) AS start,
         CAST((u.s - 1) / 24 AS INTEGER) AS chunk_id
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 8, 1) + 1, 24)) AS u(s)
)
SELECT doc_id, chunk_id, start,
       CAST(len(list_slice(toks, start, start + 31)) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(toks, start, start + 31), ' ') AS chunk_text
FROM s
ORDER BY doc_id, chunk_id
"""


def doc_chunk_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the chunk stream: per-lang running-total
    pack assignment at a 256-token budget, summarized per pack. The
    window cumsum is the whole algorithm — deterministic, one shuffle
    per lang group."""
    from ..operators.text import chunk_tokens, pack_chunks, tokens

    docs = read_table(spark, sf_dir, "documents")
    chunks = (
        docs.select("doc_id", "lang", tokens("text").alias("tk"))
        .select(
            "doc_id",
            "lang",
            F.posexplode(chunk_tokens(F.col("tk"), 32, 8)).alias(
                "chunk_id", "c"
            ),
        )
        .select("doc_id", "lang", "chunk_id", F.size("c.chunk").alias("n_tokens"))
    )
    packed = pack_chunks(
        chunks,
        budget=256,
        partition_cols=["lang"],
        order_cols=["doc_id", "chunk_id"],
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
    )


DOC_CHUNK_PACKS_SQL = """
WITH t AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
chunks AS (
  SELECT doc_id, lang,
         CAST((u.s - 1) / 24 AS BIGINT) AS chunk_id,
         len(list_slice(toks, CAST(u.s AS INTEGER), CAST(u.s AS INTEGER) + 31)) AS n_tokens
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 8, 1) + 1, 24)) AS u(s)
),
packed AS (
  SELECT lang,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS BIGINT)
           AS pack_id,
         n_tokens
  FROM chunks
)
SELECT lang, pack_id, COUNT(*) AS n_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM packed
GROUP BY lang, pack_id
ORDER BY lang, pack_id
"""


def doc_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source mixing (operators/sampling.py): per-lang
    hash-sample fractions (en 30%, zh 100%, others 60%). Membership is
    a pure function of (salt, doc_id), so the oracle checks it EXACTLY
    — unlike RNG sampling, which depends on partitioning."""
    from ..operators.sampling import stratified_hash_sample

    return (
        stratified_hash_sample(
            read_table(spark, sf_dir, "documents"),
            key_col="doc_id",
            strata_col="lang",
            fractions={"en": 0.3, "zh": 1.0},
            default_fraction=0.6,
            salt="mix",
        )
        .select("doc_id", "lang")
    )


DOC_SOURCE_MIX_SQL = """
SELECT doc_id, lang
FROM documents
WHERE substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang WHEN 'en' THEN '4ccccccc'
                WHEN 'zh' THEN 'g'
                ELSE '99999999' END
ORDER BY doc_id
"""


def doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α-temperature source mixing (operators/sampling.py): per-source
    sampling weights ∝ n^0.5 flatten the source distribution toward
    uniform (low-resource sources upsampled), realized with the same
    deterministic hash-mod membership as doc_source_mix — the whole
    mix report is a pure function of (salt, doc_id, α, target), so
    the oracle replays the weight → rate → hex-threshold → sampled
    count chain exactly."""
    from ..operators.sampling import temperature_mix_report

    return temperature_mix_report(
        read_table(spark, sf_dir, "documents"),
        key_col="doc_id",
        strata_col="source",
        alpha=0.5,
        target_total=200,
        salt="tmix",
    ).withColumnRenamed("n_rows", "n_docs")


DOC_TEMPERATURE_MIX_SQL = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
z AS (SELECT SUM(POW(CAST(n_docs AS DOUBLE), 0.5)) AS z FROM c),
r AS (
  SELECT source, n_docs,
         ROUND(POW(CAST(n_docs AS DOUBLE), 0.5) / z.z, 6) AS weight
  FROM c, z
),
r2 AS (
  SELECT source, n_docs, weight,
         ROUND(LEAST(1.0, 200.0 * weight / n_docs), 6) AS sample_rate
  FROM r
),
th AS (
  SELECT *, CASE WHEN sample_rate >= 1.0 THEN 'g'
            ELSE lower(lpad(hex(CAST(FLOOR(sample_rate * 4294967296.0)
                                     AS BIGINT)), 8, '0')) END AS th
  FROM r2
),
s AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_sampled
  FROM documents d JOIN th USING (source)
  WHERE substr(md5('tmix|' || CAST(d.doc_id AS VARCHAR)), 1, 8) < th.th
  GROUP BY d.source
)
SELECT th.source, n_docs, weight, sample_rate,
       COALESCE(s.n_sampled, 0) AS n_sampled
FROM th LEFT JOIN s USING (source)
ORDER BY source
"""


def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy quality signal
    (operators/text.py::with_char_entropy): bits/char of the
    normalized text — the compression-ratio proxy that catches
    degenerate repetition (→0) and random/encoded junk (→high) that
    token-level signals miss. The staged form materializes the sorted
    char array once per row between projections (r11 perf pass — see
    the HOF-LAMBDA RULE in operators/text.py); still zero shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    return with_char_entropy(
        docs.select("doc_id", "text"), "text", out="_ent", n_out="n_chars"
    ).select(
        "doc_id",
        F.col("n_chars"),
        F.round("_ent", 6).alias("char_entropy"),
    )


DOC_CHAR_ENTROPY_SQL = """
WITH t AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s
  FROM documents
),
c AS (
  SELECT doc_id, strlen(s) AS n_chars,
         list_sort(list_transform(list_distinct(string_split(s, '')),
             ch -> len(list_filter(string_split(s, ''), x -> x = ch)))) AS ks
  FROM t
)
SELECT doc_id, CAST(n_chars AS INTEGER) AS n_chars,
       ROUND(CASE WHEN n_chars = 0 THEN 0.0 ELSE
         -list_sum(list_transform(ks,
             k -> (CAST(k AS DOUBLE) / n_chars)
                  * log2(CAST(k AS DOUBLE) / n_chars))) + 0.0
       END, 6) AS char_entropy
FROM c ORDER BY doc_id
"""


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement, k=50,
    weight = document length (operators/sampling.py::
    weighted_sample_score, the Efraimidis–Spirakis construction over
    md5 uniforms): longer docs are proportionally likelier, the draw
    is a pure function of (salt, doc_id), and selection happens via a
    global top-k (TakeOrdered) — no single-task window, no RNG
    partitioning dependence. The oracle replays score and cut
    exactly."""
    from ..operators.sampling import weighted_sample_score

    docs = read_table(spark, sf_dir, "documents")
    score = weighted_sample_score(
        F.col("doc_id"), F.greatest(F.col("n_chars"), F.lit(1))
    )
    return (
        docs.select("doc_id", "n_chars", score.alias("_s"))
        .orderBy(F.desc("_s"), "doc_id")
        .limit(50)
        .select("doc_id", "n_chars")
    )


def _hex8_sql(expr: str) -> str:
    digits = [
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(digits) + ")"


DOC_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, n_chars
FROM documents
ORDER BY ln(({_hex8_sql("md5('wsample|' || CAST(doc_id AS VARCHAR))")} + 1.0)
            / 4294967296.0)
         / CAST(GREATEST(n_chars, 1) AS DOUBLE) DESC,
         doc_id
LIMIT 50
"""


def doc_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k sample PER STRATUM (5 docs per source):
    rank by the md5 hash bucket within each source — a uniform draw
    that is a pure function of (salt, doc_id), so it never churns as
    the corpus grows and both engines replay it exactly. The
    fixed-k-per-group complement of doc_source_mix's fixed-fraction
    sampling; one window per stratum, WindowGroupLimit-prunable."""
    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hash_bucket("doc_id", "persrc"), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 5)
    )


DOC_PER_SOURCE_SAMPLE_SQL = """
WITH b AS (
  SELECT doc_id, source,
         substr(md5('persrc|' || CAST(doc_id AS VARCHAR)), 1, 8) AS bucket
  FROM documents
)
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY source ORDER BY bucket, doc_id) AS INTEGER)
         AS sample_rank
FROM b
QUALIFY sample_rank <= 5
ORDER BY source, sample_rank
"""


def doc_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION — the report that tells a
    curation run what dedup actually found (how many singletons, how
    many big copy families, total rows removable). One aggregate over
    the cluster assignment; the oracle replays the full transitive
    closure and histograms it."""
    assign = doc_dedup_final(spark, sf_dir)
    sizes = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_removable"
            ),
        )
    )


DOC_DEDUP_CLUSTER_STATS_SQL = """
WITH RECURSIVE
t AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.95
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
walk (vid, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.vid
),
assign AS (
  SELECT vid, MIN(label) AS cluster_id FROM walk GROUP BY vid
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM assign GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       cluster_size * COUNT(*) AS n_docs,
       (cluster_size - 1) * COUNT(*) AS n_removable
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


# --- dedup ---------------------------------------------------------------


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(read_table(spark, sf_dir, "documents"))


DOC_EXACT_DEDUP_SQL = """
SELECT MIN(doc_id) AS doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 2
ORDER BY doc_id
"""


def doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(read_table(spark, sf_dir, "documents"), threshold=0.95)


DOC_JACCARD_PAIRS_SQL = """
WITH t AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.95
ORDER BY id_a, id_b
"""


def doc_dedup_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution end-to-end: exact-Jaccard pairs →
    connected components (iterative min-label propagation,
    operators/dedup.py) → deterministic min-id survivor per cluster.
    Every document appears once, singletons are their own cluster.

    The oracle computes the same transitive closure with a recursive
    CTE — exact at sf0.01 where the pair graph is brute-force
    enumerable. At scale the same clustering operator runs unchanged
    over the MinHash-LSH pair output (tests assert that equivalence).
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.95)
    return dedup.resolve_near_dups(docs, pairs)


DOC_DEDUP_FINAL_SQL = """
WITH RECURSIVE
t AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.95
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
walk (vid, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.vid
)
SELECT vid AS doc_id,
       MIN(label) AS cluster_id,
       CAST(vid = MIN(label) AS INTEGER) AS is_survivor
FROM walk
GROUP BY vid
ORDER BY doc_id
"""


def doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor policy: same clusters as
    doc_dedup_final, but the kept document per cluster is the one
    with the HIGHEST composite quality score (tie-break min doc_id) —
    the policy real corpus dedup runs (min-id keeps whatever arrived
    first; keep-best keeps the cleanest copy). The survivor choice is
    a per-cluster window over the tiny assignment table, not the
    corpus."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.95)
    assign = dedup.resolve_near_dups(docs, pairs).select("doc_id", "cluster_id")
    staged = docs.select("doc_id", "text", tokens("text").alias("tk"))
    quality = staged.select(
        "doc_id",
        F.round(quality_score("text", toks=F.col("tk")), 6).alias("quality"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        assign.join(quality, "doc_id")
        .withColumn(
            "is_survivor", (F.row_number().over(w) == 1).cast("int")
        )
        .select("doc_id", "cluster_id", "quality", "is_survivor")
    )


DOC_DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE
t AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.95
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
walk (vid, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.vid
),
c AS (SELECT vid AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY vid),
tq AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, x -> list_contains({_EN_SW}, x))) AS DOUBLE)
             / GREATEST(len(toks), 1) AS sw_ratio,
         CAST(strlen(text) - strlen(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / GREATEST(strlen(text), 1) AS p_ratio,
         CAST(list_sum(list_transform(toks, x -> strlen(x))) AS DOUBLE)
             / GREATEST(len(toks), 1) AS wlen,
         LEAST(CAST(len(toks) AS DOUBLE) / 20.0, 1.0) AS len_score
  FROM tq
),
q AS (
  SELECT doc_id,
         ROUND(len_score * 0.3
               + (CASE WHEN wlen >= 2.0 AND wlen <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
               + (1.0 - LEAST(p_ratio * 4.0, 1.0)) * 0.2
               + LEAST(sw_ratio * 3.0, 1.0) * 0.2, 6) AS quality
  FROM feat
)
SELECT c.doc_id, c.cluster_id, q.quality,
       CAST(ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                               ORDER BY q.quality DESC, c.doc_id ASC) = 1
            AS INTEGER) AS is_survivor
FROM c JOIN q USING (doc_id)
ORDER BY doc_id
"""


def doc_dedup_final_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH end-to-end dedup decision: MinHash-LSH candidate
    pairs (banded equi-join, never all-pairs) → the same connected-
    components clustering → min-id survivor per cluster.

    This is the composition a 100 TB corpus actually runs —
    ``doc_dedup_final`` above is its exact-verifier twin (O(n²) pair
    enumeration, feasible only at oracle scale). LSH verifies
    candidates with exact Jaccard at the same 0.95 threshold, so any
    divergence between the two is LSH recall, not semantics;
    tests assert cluster-assignment set-equality at sf0.01.
    Rows-only for the driver (the recursive-CTE oracle already covers
    the exact twin).
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs, threshold=0.95)
    return dedup.resolve_near_dups(docs, pairs)


def doc_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (LSH) — rows-only for the driver; recall vs the
    exact twin is asserted in tests."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.minhash_near_dups(docs, threshold=0.95)


# --- incremental (arrivals-vs-corpus) dedup ------------------------------

# Deterministic ingest split: ~20% of documents play the arriving
# batch, the rest the existing corpus. Hash-bucket membership (same
# construction as doc_source_mix) so Spark and DuckDB carve identical
# sides.
_ARRIVALS_FRACTION = 0.2
_ARRIVALS_SALT = "arrivals"
_INCR_THRESHOLD = 0.9
_ARRIVALS_HEX = hex_threshold(_ARRIVALS_FRACTION)


def _split_arrivals(spark: SparkSession, sf_dir: str):
    from ..operators.sampling import train_test_split

    docs = read_table(spark, sf_dir, "documents")
    corpus, arrivals = train_test_split(
        docs, "doc_id", _ARRIVALS_FRACTION, salt=_ARRIVALS_SALT
    )
    return arrivals, corpus


_arrivals_decision = dedup.arrivals_decision


def doc_arrivals_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup, EXACT twin: every arriving document
    checked against the existing corpus by cross-side token-set
    Jaccard (arrivals × corpus only — the corpus never self-joins),
    reduced to the per-arrival keep/drop decision. O(|A|·|C|) — the
    oracle-scale verifier of ``doc_arrivals_dedup_lsh``, which is the
    shape a daily 100 TB ingest actually runs."""
    arrivals, corpus = _split_arrivals(spark, sf_dir)
    pairs = dedup.jaccard_pairs_cross(arrivals, corpus, _INCR_THRESHOLD)
    return _arrivals_decision(arrivals, pairs)


DOC_ARRIVALS_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks,
         substr(md5('{_ARRIVALS_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 8) AS bkt
  FROM documents
),
arr AS (SELECT doc_id, toks FROM t WHERE bkt < '{_ARRIVALS_HEX}'),
cor AS (SELECT doc_id AS corpus_id, toks FROM t WHERE bkt >= '{_ARRIVALS_HEX}'),
m AS (
  SELECT a.doc_id, c.corpus_id
  FROM arr a JOIN cor c ON TRUE
  WHERE ROUND(CAST(len(list_intersect(a.toks, c.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, c.toks))), 6)
        >= {_INCR_THRESHOLD}
),
d AS (
  SELECT doc_id, MIN(corpus_id) AS dup_of, COUNT(*) AS n_matches
  FROM m GROUP BY doc_id
)
SELECT arr.doc_id,
       d.dup_of IS NOT NULL AS is_dup,
       d.dup_of,
       COALESCE(d.n_matches, 0) AS n_matches
FROM arr LEFT JOIN d USING (doc_id)
ORDER BY arr.doc_id
"""


def doc_arrivals_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup, SCALE path: cross-side MinHash band
    join (arrival signatures × corpus signatures — per-day cost scales
    with the batch's collisions, not |corpus|²), exact-Jaccard verify,
    same per-arrival decision. Rows-only for the driver (banding is
    approximate); agreement vs the exact twin is asserted in tests."""
    from ..caching import carry_cache_deps

    arrivals, corpus = _split_arrivals(spark, sf_dir)
    pairs = dedup.minhash_near_dups_incremental(
        arrivals, corpus, threshold=_INCR_THRESHOLD
    )
    # the decision join is lazy — transfer the token-set caches to the
    # returned frame or they unpersist before the action (ADVICE r9)
    return carry_cache_deps(_arrivals_decision(arrivals, pairs), pairs)


def ensure_minhash_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once accessor for the corpus MinHash signature store over
    the deterministic 80% corpus split — same offline/serving contract
    as :func:`ensure_ivf_index` (input-fingerprint cache, concurrent-
    build lock, exit cleanup)."""
    from ..sources.dataset import ensure_derived_dataset

    def build(path: str) -> None:
        _, corpus = _split_arrivals(spark, sf_dir)
        dedup.build_minhash_store(corpus, path)

    return ensure_derived_dataset(
        "minhash_store", [f"{sf_dir}/documents.parquet"], build
    )


def doc_arrivals_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STEADY-STATE serving shape of incremental dedup: the same
    decision as ``doc_arrivals_dedup_lsh``, but the corpus side reads
    the build-once ON-DISK signature store — per-call work is the
    arrival batch only; the corpus text is never touched. Rows-only
    for the driver; tests assert exact output equality with the
    inline LSH variant (same algorithm, same parameters — the store
    is a materialization, not an approximation)."""
    from ..caching import carry_cache_deps

    arrivals, _ = _split_arrivals(spark, sf_dir)
    store = dedup.load_minhash_store(spark, ensure_minhash_store(spark, sf_dir))
    pairs = dedup.minhash_near_dups_vs_store(
        arrivals, store, threshold=_INCR_THRESHOLD
    )
    return carry_cache_deps(_arrivals_decision(arrivals, pairs), pairs)


def doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (Hamming banding) — rows-only for the driver."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, max_hamming=3)


# --- similarity search ---------------------------------------------------


def _queries_df(spark: SparkSession, sf_dir: str, n: int = 10) -> DataFrame:
    return (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(
        read_table(spark, sf_dir, "embeddings"), _queries_df(spark, sf_dir), k=5
    )


EMBEDDING_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cos
  FROM embeddings e JOIN q ON e.vec_id != q.query_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
"""


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/similarity.py::hard_negatives): per query vector, the
    3 most-similar NON-near-duplicate corpus vectors (cos < 0.4, the
    same threshold the semantic-dedup path treats as duplicate).
    Exclusion runs before the rank cut so duplicates can't crowd the
    k. Exact scoring here; the rank column makes the output
    deterministic for the oracle."""
    return similarity.hard_negatives(
        read_table(spark, sf_dir, "embeddings"),
        _queries_df(spark, sf_dir),
        k=3,
        dup_threshold=0.4,
    )


EMBEDDING_HARD_NEGATIVES_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cos
  FROM embeddings e JOIN q ON e.vec_id != q.query_id
),
filtered AS (SELECT * FROM scored WHERE cos < 0.4),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM filtered
)
SELECT query_id, neighbor_id, cos, rank FROM ranked
WHERE rank <= 3 ORDER BY query_id, rank
"""


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(
        read_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


EMBEDDING_NEAR_DUP_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
ORDER BY id_a, id_b
"""


def embedding_dedup_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup decision: embedding-cosine
    near-dup pairs → connected components → deterministic min-id
    survivor per semantic cluster. The same cluster-resolution
    operator that closes the text dedup paths closes the embedding
    path — pairs alone can't drop rows (transitivity).

    Exact pair generation here (the oracle's recursive CTE replays
    the transitive closure over the same rounded-cosine graph);
    ``embedding_dedup_final_lsh`` is the SRP-bucketed composition a
    100 TB corpus runs, with agreement asserted in tests.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.4)
    return dedup.resolve_near_dups(emb, pairs, id_col="vec_id")


EMBEDDING_DEDUP_FINAL_SQL = """
WITH RECURSIVE
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
walk (vid, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e2.v, w.label FROM walk w JOIN edges e2 ON e2.u = w.vid
)
SELECT vid AS vec_id,
       MIN(label) AS cluster_id,
       CAST(vid = MIN(label) AS INTEGER) AS is_survivor
FROM walk
GROUP BY vid
ORDER BY vec_id
"""


def embedding_dedup_final_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of embedding_dedup_final: SRP-bucketed candidate
    pairs (exact-cosine verified at the same threshold) → the same
    clustering. Rows-only for the driver; cluster-agreement vs the
    exact composition asserted in tests."""
    emb = read_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs_lsh(emb, threshold=0.4)
    return dedup.resolve_near_dups(emb, pairs, id_col="vec_id")


def embedding_near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of embedding_near_dup_pairs (SRP-bucketed candidate
    generation, exact cosine verify) — rows-only for the driver;
    recall vs the brute-force twin asserted in tests."""
    return similarity.embedding_near_dup_pairs_lsh(
        read_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN — rows-only for the driver; recall vs brute
    force asserted in tests."""
    return similarity.lsh_topk(
        read_table(spark, sf_dir, "embeddings"), _queries_df(spark, sf_dir), k=5
    )


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN, IVF path (k-means coarse quantizer + cluster
    probing) — rows-only; recall vs brute force asserted in tests.

    Probes a PREBUILT index (:func:`ensure_ivf_index`): the k-means
    build is the offline/amortized step of an IVF deployment — query
    batches pay only centroid-assign + pruned-cluster scan. First call
    per (process, sf_dir) builds and persists the index; later calls
    (repeated query batches, the realistic serving shape) load + probe.
    """
    index = ensure_ivf_index(spark, sf_dir)
    return similarity.ivf_probe(index, _queries_df(spark, sf_dir), k=5, n_probe=8)


def ensure_ivf_index(spark: SparkSession, sf_dir: str):
    """Build-once/probe-many accessor for the IVF index over
    ``{sf_dir}/embeddings.parquet`` (32 clusters, seeded — deterministic
    for a given corpus). Returns a loaded :class:`similarity.IvfIndex`.

    The coarse quantizer trains on a 25% sample: k-means centroid
    placement needs the density shape, not every vector — measured at
    sf0.1 the sample cuts build time ~40% at equal-or-better recall
    (0.72 vs 0.65 @5, n_probe=8), and at 100 TB full-corpus k-means
    would be the index build's bottleneck. ASSIGNMENT still covers
    every vector — sampling affects centroid training only.

    The on-disk artifact (cluster-partitioned parquet + centroid table)
    is session-independent: cached per (corpus path, mtime, size) for
    the life of the process via
    :func:`..sources.dataset.ensure_derived_dataset` (stale-input
    rebuild, concurrent-build lock, removal at exit); a fresh
    ``load_ivf_index`` rebinds it to the calling session.
    """
    from ..sources.dataset import ensure_derived_dataset

    corpus = f"{sf_dir}/embeddings.parquet"

    def build(path: str) -> None:
        similarity.build_ivf_index(
            read_table(spark, sf_dir, "embeddings"),
            n_clusters=32,
            train_fraction=0.25,
            path=path,
        )

    return similarity.load_ivf_index(
        spark, ensure_derived_dataset("ivf_index", [corpus], build)
    )


def ensure_pq_index(spark: SparkSession, sf_dir: str):
    """Build-once accessor for the PQ serving artifacts over
    ``{sf_dir}/embeddings.parquet``: trained codebooks plus the encoded
    m-byte code table (same input-fingerprint cache / concurrent-build
    lock / exit-cleanup contract as :func:`ensure_ivf_index`).

    m=16 sub-quantizers × k=16 centroids → 16-byte codes (16× smaller
    than the raw 64-dim float column). On the near-random synthetic
    embeddings this measures recall@10 ≈ 0.45 vs brute force — the
    documented floor for a space with no real neighbor structure;
    clustered real embedding spaces run the same config far higher
    (see ``operators/quantization.py`` and tests).
    Returns (codebooks, codes DataFrame).
    """
    from ..operators import quantization
    from ..sources.dataset import ensure_derived_dataset

    corpus = f"{sf_dir}/embeddings.parquet"

    def build(path: str) -> None:
        # codebook training is capped at train_pq's default
        # max_train_rows=2^18 sample (r13): full-corpus k-means OOMed
        # the 10M-vector r12 probe, and centroids only need the
        # density shape — encoding below still covers every vector
        books = quantization.train_pq(
            read_table(spark, sf_dir, "embeddings"), m=16, k=16, dim=64, max_iter=5
        )
        books.write(spark, f"{path}/books")
        (
            quantization.pq_encode(books, read_table(spark, sf_dir, "embeddings"))
            .write.mode("overwrite")
            .parquet(f"{path}/codes")
        )

    p = ensure_derived_dataset("pq_index", [corpus], build)
    from ..operators.quantization import PqCodebooks

    books = PqCodebooks.load(spark, f"{p}/books")
    return books, spark.read.parquet(f"{p}/codes")


def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN over PREBUILT product-quantization codes
    (:func:`ensure_pq_index`): ADC serving scans only the 16-byte code
    column — rows-only check (PQ is approximate; no SQL twin); recall,
    determinism, and the batching-invariance contract (per-batch prune
    keyed on the ROUNDED score, same as the global cut) are asserted in
    ``tests/test_quantization.py``. Registered round 7 per rotation
    rule 1 (the r6 window was at capacity)."""
    from ..operators import quantization

    books, codes = ensure_pq_index(spark, sf_dir)
    return quantization.pq_adc_topk(
        books, codes, _queries_df(spark, sf_dir), k=5
    )


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str):
    """Build-once accessor for the FULL IVF-PQ serving layout: the IVF
    index's assignments PQ-encoded (``pq_encode_ivf``) and persisted
    PARTITIONED BY CLUSTER — so a probe reads n_probe/n_clusters of a
    table whose rows are (id, cluster, 16-byte code), never a raw
    vector. Same input-fingerprint cache / lock / exit-cleanup contract
    as :func:`ensure_ivf_index`. Returns (index, codebooks, encoded
    assignments DataFrame)."""
    from ..operators import quantization
    from ..sources.dataset import ensure_derived_dataset

    index = ensure_ivf_index(spark, sf_dir)
    books, _codes = ensure_pq_index(spark, sf_dir)
    corpus = f"{sf_dir}/embeddings.parquet"

    def build(path: str) -> None:
        (
            quantization.pq_encode_ivf(books, index)
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(path)
        )

    p = ensure_derived_dataset("ivfpq_index", [corpus], build)
    return index, books, spark.read.parquet(p)


def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving (IVFADC shape): coarse-probe to n_probe cells,
    ADC-score only those cells' PQ codes — the compressed AND pruned
    100 TB serving path (`operators/quantization.py::ivf_pq_topk`).
    Rows-only (approximate); the full-probe row-equality vs plain ADC
    and candidate-restriction contracts are in
    ``tests/test_quantization.py``.

    Staged in round 7 (window at capacity; rotation rule 1),
    registered round 8 as planned."""
    from ..operators import quantization

    index, books, encoded = ensure_ivfpq_index(spark, sf_dir)
    return quantization.ivf_pq_topk(
        index, books, encoded, _queries_df(spark, sf_dir), k=5, n_probe=8
    )


def ivf_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-occupancy report over the PREBUILT IVF index
    (:func:`ensure_ivf_index`): per-cluster vector counts plus the
    global max/mean imbalance factor — the re-cluster trigger every
    IVF deployment monitors (rebuild when the factor drifts far above
    1). One keyed count over the assignments table; the factor window
    runs over the n_clusters-row summary, never the corpus. Rows-only
    (k-means has no SQL twin); occupancy exactness and stability are
    asserted in ``tests/test_llm_ops.py``."""
    index = ensure_ivf_index(spark, sf_dir)
    return similarity.ivf_imbalance(index).orderBy("cluster")


def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED BPE trainer's artifact as a queryable table:
    the ordered merge list learned from the corpus (rank, left symbol,
    right symbol, merged token). One distributed corpus pass feeds a
    vocabulary-bounded single-task merge loop (operators/bpe.py, r10
    rework). Rows-only — the merge loop is iterative (argmax per
    step) and has no SQL twin; correctness is pinned by the property
    test in ``tests/test_bpe.py`` that proves exact-twin equality
    against a sequential reference tokenizer on random corpora, plus
    determinism/early-stop/round-trip tests."""
    from ..operators.bpe import bpe_train

    merges = bpe_train(read_table(spark, sf_dir, "documents"), n_merges=30)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left string, right string, merged string",
    )


def asset_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate pairs across REAL media: synthesized
    PNG and WAV assets (``multimodal.make_media_asset_table`` — group/
    variant construction plants identical-rendition and near-miss pairs)
    hashed once per modality (image dHash, audio temporal-spectral
    hash), paired through the SHARED SimHash block-combination banding,
    popcount-verified. Media bytes never shuffle — only (id, 8-byte
    hash) rows move. Rows-only (perceptual hashing has no SQL twin);
    the invariance suites in ``tests/test_llm_ops.py`` (re-encode,
    resolution, gain) pin the hash semantics and the planted pair
    structure is asserted in ``tests/test_llm_ops.py``."""
    from ..caching import carry_cache_deps

    assets = multimodal.make_media_asset_table(read_table(spark, sf_dir, "documents"))
    img = multimodal.image_near_dups(
        assets.filter(F.col("modality") == "image"), max_hamming=4
    )
    aud = multimodal.audio_near_dups(
        assets.filter(F.col("modality") == "audio"), max_hamming=4
    )
    out = (
        img.select(F.lit("image").alias("modality"), "id_a", "id_b", "hamming")
        .unionByName(
            aud.select(
                F.lit("audio").alias("modality"), "id_a", "id_b", "hamming"
            )
        )
        .orderBy("modality", "id_a", "id_b")
    )
    # both modalities' fingerprint persists must survive the lazy
    # union — same defeated-finalizer class as ADVICE r9's DSIR case
    return carry_cache_deps(out, img, aud)


# --- multimodal ----------------------------------------------------------


def asset_content_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing with an oracle: sha256 over the content
    bytes (text bytes standing in for encoded media)."""
    assets = multimodal.make_asset_table(read_table(spark, sf_dir, "documents"))
    return (
        multimodal.content_hash(assets)
        .select(
            "asset_id",
            "modality",
            "content_sha",
            F.length("content").cast("long").alias("n_bytes"),
        )
    )


ASSET_CONTENT_HASHES_SQL = """
SELECT doc_id AS asset_id,
       'image' AS modality,
       sha256(text) AS content_sha,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
FROM documents
ORDER BY asset_id
"""


def asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction. The fake decoder is
    deterministic arithmetic on the content digest (sha256 bytes
    / 255 as float32), so unlike a real codec it supports a FULL
    value oracle: DuckDB reconstructs each digest byte from the hex
    characters and replays the same float32 scaling — the whole
    Arrow-batched mapInPandas lane (schema, batching, byte handling)
    is hash-checked end-to-end, not just row-counted."""
    assets = multimodal.make_asset_table(read_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(assets, fake=True)
    return feats.select(
        "asset_id",
        "content_sha",
        "n_bytes",
        F.size("features").alias("n_features"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x.cast("double")), 6
        ).alias("feature_sum"),
    )


ASSET_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id AS asset_id,
         sha256(text) AS content_sha,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
  FROM documents
)
SELECT asset_id, content_sha, n_bytes,
       CAST(16 AS INTEGER) AS n_features,
       ROUND(list_sum(list_transform(range(0, 16), i ->
         CAST(CAST(((strpos('0123456789abcdef', substr(content_sha, 2*i+1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(content_sha, 2*i+2, 1)) - 1)) / 255.0
              AS FLOAT) AS DOUBLE))), 6) AS feature_sum
FROM b ORDER BY asset_id
"""


# --- corpus term statistics ---------------------------------------------


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF (keyword
    extraction / relevance weighting over the corpus)."""
    return terms.tfidf_top_terms(read_table(spark, sf_dir, "documents"), k=3)


DOC_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, term, tf, tfidf, rank FROM ranked
WHERE rank <= 3 ORDER BY doc_id, term
"""


def doc_token_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch frequency estimates (operators/cms.py) for
    every token with true count ≥ 100, alongside the exact counts —
    the mergeable fixed-state heavy-hitter counter, value-checked
    end-to-end: the md5-digit hashing makes the whole sketch a pure
    function of the data that the DuckDB oracle rebuilds verbatim
    (unlike the rows-only HLL paths). est_count ≥ true_count always;
    tests force collisions with a tiny sketch to exercise the
    one-sided error bound.

    The per-term count aggregate feeds BOTH the sketch
    (``cms_build_from_counts`` — hash work is O(vocabulary)) and the
    exact heavy-hitter table. Deliberately NOT persisted, measured
    both ways same-session (4 reps each): at sf0.1 no-persist runs
    1.19-1.28 s vs 1.60-2.02 s persisted (plus an 11 s first-rep
    materialization); at 50k docs 2.4-2.8 vs 3.0-3.6 s. The
    re-derivation is one columnar scan + map-side-combined count —
    cheaper than the persist's materialization barrier + store/read
    cycle (contrast doc_ngram_containment, whose persisted distinct
    gram set IS expensive to recompute). For reference the old
    per-instance-hash form measured 2.9-3.6 s / 19-23 s in the same
    session."""
    from ..operators import cms

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("tk")).select(
        F.explode("tk").alias("term")
    )
    term_counts = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    sketch = cms.cms_build_from_counts(term_counts, "term", "true_count")
    true_counts = term_counts.filter(F.col("true_count") >= 100)
    est = cms.cms_estimate(true_counts.select("term"), "term", sketch)
    return true_counts.join(est, "term").select(
        "term", "true_count", "est_count"
    )


def _cms_oracle_sql() -> str:
    from .curation import _hex4_sql

    def pos(key: str) -> str:
        return (
            _hex4_sql(f"md5('cms' || CAST(j AS VARCHAR) || '|' || {key})")
            + " % 512"
        )

    return f"""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
js AS (SELECT CAST(i AS INTEGER) AS j FROM range(4) r(i)),
probes AS (
  SELECT term, j, {pos("term")} AS pos FROM tok CROSS JOIN js
),
cms AS (
  SELECT j, pos, CAST(COUNT(*) AS BIGINT) AS n FROM probes GROUP BY j, pos
),
truec AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM tok GROUP BY term HAVING COUNT(*) >= 100
),
keyprobes AS (
  SELECT t.term, j, {pos("t.term")} AS pos FROM truec t CROSS JOIN js
),
est AS (
  SELECT k.term, CAST(MIN(COALESCE(c.n, 0)) AS BIGINT) AS est_count
  FROM keyprobes k LEFT JOIN cms c USING (j, pos) GROUP BY k.term
)
SELECT t.term, t.true_count, e.est_count
FROM truec t JOIN est e USING (term)
ORDER BY term
"""


DOC_TOKEN_CMS_SQL = _cms_oracle_sql()


def doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-50 tokens by occurrences (vocabulary head profile
    for tokenizer design)."""
    return terms.top_tokens(read_table(spark, sf_dir, "documents"), n=50)


DOC_TOP_TOKENS_SQL = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM toks GROUP BY term
ORDER BY n_occurrences DESC, term ASC LIMIT 50
"""


def asset_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (operators/multimodal.py::
    frame_sample_plan): per synthetic video asset, the frame
    timestamps a decoder would extract at 1 fps — posexploded to one
    row per frame. Pure arithmetic on asset metadata (no codec), so
    the oracle replays it exactly; the decode of each sampled frame
    is the documented stub boundary."""
    docs = read_table(spark, sf_dir, "documents")
    assets = multimodal.make_asset_table(docs, modality="video")
    plan = multimodal.frame_sample_plan(assets, every_ms=1000)
    return plan.select(
        "asset_id", F.posexplode("frame_ts_ms").alias("frame_idx", "frame_ts_ms")
    ).select(
        "asset_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
    )


ASSET_FRAME_SAMPLES_SQL = """
WITH a AS (SELECT doc_id AS asset_id, n_chars * 10 AS duration_ms
           FROM documents),
f AS (
  SELECT asset_id,
         unnest(range(0, GREATEST(CAST(FLOOR(duration_ms / 1000.0) AS INTEGER), 1)))
           AS frame_idx
  FROM a
)
SELECT asset_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 1000 AS BIGINT) AS frame_ts_ms
FROM f ORDER BY asset_id, frame_idx
"""


def doc_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing: per source, keep documents in
    deterministic hash order until the source's token budget (800)
    is filled — the "give me N tokens per source" contract training
    mixes are actually specified in (doc-count fractions drift with
    doc length; token budgets don't). The doc that CROSSES the budget
    is kept, so every source reaches its budget exactly once,
    deterministically.

    Scale shape: the cumsum window is NOT run over the whole corpus
    per source (that is one task per source at 100 TB). Every doc
    carries >=1 token (the empty string tokenizes to one element), so
    at most budget+1 docs per source can land inside the budget — a
    ``row_number() <= budget+1`` cut fires first, which Spark plans
    as WindowGroupLimit (each map partition keeps budget+1 rows
    BEFORE the shuffle), and the cumulative sum then runs over the
    <=budget+1 surviving rows per source. Lossless: the (budget+2)th
    doc in hash order has >=budget+1 predecessor tokens, already over
    budget; and dropping later rows cannot change an earlier row's
    backward-looking cumsum."""
    from ..operators.sampling import hash_bucket
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        hash_bucket("doc_id", "tbudget").alias("pick_order"),
    )
    budget = 800
    order = Window.partitionBy("source").orderBy("pick_order", "doc_id")
    capped = staged.withColumn(
        "_rk", F.row_number().over(order)
    ).filter(F.col("_rk") <= budget + 1)
    w = order.rowsBetween(Window.unboundedPreceding, 0)
    cum = capped.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.filter(
        F.col("cum_tokens") - F.col("n_tokens") < budget
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


DOC_TOKEN_BUDGET_SAMPLE_SQL = """
WITH staged AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
           AS n_tokens,
         substr(md5('tbudget|' || CAST(doc_id AS VARCHAR)), 1, 8) AS pick_order
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY pick_order, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM staged
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum
WHERE cum_tokens - n_tokens < 800
ORDER BY doc_id
"""


def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-QA confusion matrix for the language identifier:
    (actual lang, predicted lang) counts plus per-actual recall — the
    evaluation every filter model needs before it gates a corpus. One
    per-row prediction pass + a tiny langs² aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", "lang", tokens("text").alias("tk"))
    pred = staged.select(
        "lang", lang_id("tk", toks=F.col("tk")).alias("predicted_lang")
    )
    counts = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(tot), 6).alias(
            "frac_of_actual"
        ),
    )


def _lang_confusion_sql() -> str:
    # reuse the lang-ID scoring CTEs verbatim so the matrix can never
    # drift from the per-doc query it evaluates
    base = DOC_LANG_ID_SQL[: DOC_LANG_ID_SQL.rindex("SELECT doc_id, lang,")]
    return base + """
,
pred AS (
  SELECT lang,
         CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
              WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es) THEN 'es'
              WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
              ELSE 'de' END AS predicted_lang
  FROM s
),
c AS (
  SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT lang, predicted_lang, n_docs,
       ROUND(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY lang), 6) AS frac_of_actual
FROM c
ORDER BY lang, predicted_lang
"""


DOC_LANG_CONFUSION_SQL = _lang_confusion_sql()


def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free 80/10/10 train/val/test assignment summarized per
    source (operators/sampling.py hash_bucket/hex_threshold): split
    membership is a pure function of (salt, doc_id) — reproducible
    across reruns, engines, and resumptions, and a doc can never leak
    between splits because the three hash ranges partition the bucket
    space. Per-row map + one grouped count; the share window runs
    over the |sources|x3 summary frame, never the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = hash_bucket("doc_id", "split3")
    split = (
        F.when(bucket < F.lit(hex_threshold(0.8)), F.lit("train"))
        .when(bucket < F.lit(hex_threshold(0.9)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    per = (
        docs.select(F.col("source"), split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source")
    return per.select(
        "source",
        "split",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("frac_of_source"),
    )


DOC_SPLIT_ASSIGNMENT_SQL = f"""
WITH b AS (
  SELECT source,
         substring(md5(concat_ws('|', 'split3', CAST(doc_id AS VARCHAR))),
                   1, 8) AS bucket
  FROM documents
),
s AS (
  SELECT source,
         CASE WHEN bucket < '{hex_threshold(0.8)}' THEN 'train'
              WHEN bucket < '{hex_threshold(0.9)}' THEN 'val'
              ELSE 'test' END AS split
  FROM b
),
c AS (
  SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM s GROUP BY 1, 2
)
SELECT source, split, n_docs,
       ROUND(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY source), 6) AS frac_of_source
FROM c
ORDER BY source, split
"""


_VOCAB_K = 500


def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit QA: per document, the share of token OCCURRENCES
    not covered by the corpus's top-500 vocabulary — the out-of-vocab
    rate that decides whether a fixed vocab (or a trained tokenizer's
    merges) is big enough per language/source before committing to it.

    Plan: one explode feeds both passes — the vocabulary head is a
    keyed count cut by ``orderBy().limit(k)`` (TakeOrdered, never a
    global sort materialization; ties broken by token string so both
    engines cut identically), broadcast back as a membership probe;
    coverage is then a per-doc aggregate. OOV rate is an integer
    ratio — no cross-engine FP risk. At 100 TB persist the exploded
    tokens (two consumers) and raise k; shape is unchanged."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


DOC_VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, u.tok
  FROM documents,
       UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS u(tok)
),
vocab AS (
  SELECT tok FROM toks
  GROUP BY tok
  ORDER BY COUNT(*) DESC, tok ASC
  LIMIT {_VOCAB_K}
)
SELECT t.doc_id, t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY t.doc_id, t.lang
ORDER BY t.doc_id
"""


_LEAKAGE_THRESHOLD = 0.9


def _leakage_cells(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Label near-dup pairs with both docs' split assignments and
    aggregate into unordered (split_a, split_b) cells with a leaky
    flag — shared by the exact-oracle and LSH-scale audits."""
    bucket = hash_bucket("doc_id", "split3")
    split = (
        F.when(bucket < F.lit(hex_threshold(0.8)), F.lit("train"))
        .when(bucket < F.lit(hex_threshold(0.9)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assign = docs.select("doc_id", split.alias("split"))
    labeled = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
            ),
            "id_a",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
    )
    return (
        labeled.groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("leaky"),
        )
    )


def doc_split_leakage_audit_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE path of doc_split_leakage_audit: the pair source is the
    banded MinHash-LSH near-dup join (candidates from band-bucket
    equi-joins, exact-Jaccard verified — precision 1, recall bounded
    by the S-curve), so the audit never goes O(n²). Rows-only for the
    driver; per-cell count<=exact and recall are asserted in tests
    against the exact twin."""
    from ..caching import carry_cache_deps

    docs = read_table(spark, sf_dir, "documents")
    verified = dedup.minhash_near_dups(docs, threshold=_LEAKAGE_THRESHOLD)
    pairs = verified.select("id_a", "id_b")
    # lazy composition — keep the token-set/member caches alive until
    # the caller's action (ADVICE r9 pattern)
    return carry_cache_deps(_leakage_cells(docs, pairs), verified)


def doc_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs that straddle
    split boundaries — the check that catches an eval set contaminated
    by training near-dups even when exact dedup is clean. Composes the
    leak-free hash split (doc_split_assignment) with the exact
    all-pairs Jaccard twin (small-N oracle path; at 100 TB swap in
    ``dedup.minhash_near_dups`` — banded candidates, same downstream).
    Pair cells are unordered (least/greatest) so train→test and
    test→train land in one row; ``leaky`` marks cross-split cells.
    The two split-lookup joins key on doc ids against the pairs table,
    which is candidate-sized, never corpus-sized. This exact variant
    is the ORACLE twin (all-pairs, sf0.01-sized by design); run the
    LSH variant at scale."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=_LEAKAGE_THRESHOLD).select(
        "id_a", "id_b"
    )
    return _leakage_cells(docs, pairs)


DOC_SPLIT_LEAKAGE_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks,
         CASE WHEN substring(md5(concat_ws('|', 'split3',
                                           CAST(doc_id AS VARCHAR))), 1, 8)
                   < '{hex_threshold(0.8)}' THEN 'train'
              WHEN substring(md5(concat_ws('|', 'split3',
                                           CAST(doc_id AS VARCHAR))), 1, 8)
                   < '{hex_threshold(0.9)}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
pairs AS (
  SELECT LEAST(a.split, b.split) AS split_a,
         GREATEST(a.split, b.split) AS split_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))), 6)
        >= {_LEAKAGE_THRESHOLD}
)
SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       split_a <> split_b AS leaky
FROM pairs
GROUP BY split_a, split_b
ORDER BY split_a, split_b
"""


QUERIES = {
    "doc_token_stats": doc_token_stats,
    "doc_split_leakage_audit": doc_split_leakage_audit,
    "doc_vocab_coverage": doc_vocab_coverage,
    "doc_split_leakage_audit_lsh": doc_split_leakage_audit_lsh,
    "doc_chunks": doc_chunks,
    "doc_source_mix": doc_source_mix,
    "doc_temperature_mix": doc_temperature_mix,
    "doc_char_entropy": doc_char_entropy,
    "doc_per_source_sample": doc_per_source_sample,
    "doc_weighted_sample": doc_weighted_sample,
    "doc_token_budget_sample": doc_token_budget_sample,
    "doc_chunk_packs": doc_chunk_packs,
    "doc_quality": doc_quality,
    "doc_lang_id": doc_lang_id,
    "doc_lang_confusion": doc_lang_confusion,
    "doc_exact_dedup": doc_exact_dedup,
    "doc_jaccard_pairs": doc_jaccard_pairs,
    "doc_dedup_final": doc_dedup_final,
    "doc_dedup_keep_best": doc_dedup_keep_best,
    "doc_dedup_cluster_stats": doc_dedup_cluster_stats,
    "doc_dedup_final_lsh": doc_dedup_final_lsh,
    "doc_minhash_near_dups": doc_minhash_near_dups,
    "doc_simhash_near_dups": doc_simhash_near_dups,
    "doc_arrivals_dedup": doc_arrivals_dedup,
    "doc_arrivals_dedup_lsh": doc_arrivals_dedup_lsh,
    "doc_arrivals_dedup_store": doc_arrivals_dedup_store,
    "doc_bpe_token_counts": doc_bpe_token_counts,
    "doc_training_order": doc_training_order,
    "doc_split_assignment": doc_split_assignment,
    "doc_length_buckets": doc_length_buckets,
    "doc_ngram_containment": doc_ngram_containment,
    "doc_duplicate_spans": doc_duplicate_spans,
    "doc_token_dup_share": doc_token_dup_share,
    "doc_source_token_budget": doc_source_token_budget,
    "doc_tfidf_top_terms": doc_tfidf_top_terms,
    "doc_top_tokens": doc_top_tokens,
    "doc_token_cms_estimates": doc_token_cms_estimates,
    "embedding_topk_bruteforce": embedding_topk_bruteforce,
    "embedding_hard_negatives": embedding_hard_negatives,
    "embedding_near_dup_pairs": embedding_near_dup_pairs,
    "embedding_near_dup_pairs_lsh": embedding_near_dup_pairs_lsh,
    "embedding_dedup_final": embedding_dedup_final,
    "embedding_dedup_final_lsh": embedding_dedup_final_lsh,
    "embedding_lsh_topk": embedding_lsh_topk,
    "embedding_ivf_topk": embedding_ivf_topk,
    "embedding_pq_topk": embedding_pq_topk,
    "embedding_ivfpq_topk": embedding_ivfpq_topk,
    "ivf_imbalance": ivf_imbalance,
    "doc_bpe_merges": doc_bpe_merges,
    "asset_content_hashes": asset_content_hashes,
    "asset_frame_samples": asset_frame_samples,
    "asset_features": asset_features,
    "asset_near_dups": asset_near_dups,
}

ORACLE = {
    "doc_token_stats": DOC_TOKEN_STATS_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "doc_source_mix": DOC_SOURCE_MIX_SQL,
    "doc_temperature_mix": DOC_TEMPERATURE_MIX_SQL,
    "doc_char_entropy": DOC_CHAR_ENTROPY_SQL,
    "doc_per_source_sample": DOC_PER_SOURCE_SAMPLE_SQL,
    "doc_weighted_sample": DOC_WEIGHTED_SAMPLE_SQL,
    "doc_token_budget_sample": DOC_TOKEN_BUDGET_SAMPLE_SQL,
    "doc_chunk_packs": DOC_CHUNK_PACKS_SQL,
    "doc_quality": DOC_QUALITY_SQL,
    "doc_lang_id": DOC_LANG_ID_SQL,
    "doc_lang_confusion": DOC_LANG_CONFUSION_SQL,
    "doc_exact_dedup": DOC_EXACT_DEDUP_SQL,
    "doc_jaccard_pairs": DOC_JACCARD_PAIRS_SQL,
    "doc_dedup_final": DOC_DEDUP_FINAL_SQL,
    "doc_dedup_keep_best": DOC_DEDUP_KEEP_BEST_SQL,
    "doc_dedup_cluster_stats": DOC_DEDUP_CLUSTER_STATS_SQL,
    "doc_ngram_containment": DOC_NGRAM_CONTAINMENT_SQL,
    "doc_duplicate_spans": DOC_DUPLICATE_SPANS_SQL,
    "doc_token_dup_share": DOC_TOKEN_DUP_SHARE_SQL,
    "doc_source_token_budget": DOC_SOURCE_TOKEN_BUDGET_SQL,
    "doc_tfidf_top_terms": DOC_TFIDF_SQL,
    "doc_top_tokens": DOC_TOP_TOKENS_SQL,
    "doc_token_cms_estimates": DOC_TOKEN_CMS_SQL,
    "doc_bpe_token_counts": DOC_BPE_TOKEN_COUNTS_SQL,
    "doc_arrivals_dedup": DOC_ARRIVALS_DEDUP_SQL,
    "doc_training_order": DOC_TRAINING_ORDER_SQL,
    "doc_split_assignment": DOC_SPLIT_ASSIGNMENT_SQL,
    "doc_split_leakage_audit": DOC_SPLIT_LEAKAGE_SQL,
    "doc_vocab_coverage": DOC_VOCAB_COVERAGE_SQL,
    "doc_length_buckets": DOC_LENGTH_BUCKETS_SQL,
    "embedding_topk_bruteforce": EMBEDDING_TOPK_SQL,
    "embedding_hard_negatives": EMBEDDING_HARD_NEGATIVES_SQL,
    "embedding_near_dup_pairs": EMBEDDING_NEAR_DUP_SQL,
    "embedding_dedup_final": EMBEDDING_DEDUP_FINAL_SQL,
    "asset_content_hashes": ASSET_CONTENT_HASHES_SQL,
    "asset_frame_samples": ASSET_FRAME_SAMPLES_SQL,
    "asset_features": ASSET_FEATURES_SQL,
    # doc_minhash_near_dups, doc_simhash_near_dups, doc_dedup_final_lsh,
    # doc_arrivals_dedup_lsh, embedding_lsh_topk, embedding_pq_topk,
    # embedding_ivfpq_topk, asset_near_dups: approximate → rows-only.
    # ivf_imbalance (k-means
    # occupancy) and doc_bpe_merges (iterative argmax loop): no SQL
    # twin → rows-only, pinned by exact-twin/property tests instead.
}
