"""Lexical retrieval + corpus-LM queries over the documents table
(north-star extension surface: similarity/search and text analysis —
BASELINE.json).

Every query here is exact and deterministic, so each carries a DuckDB
oracle twin replaying the identical math (same tokenization regex,
same natural-log formulas, same rounding, same tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import retrieval
from ..sources.readers import read_table

# A mixed-selectivity ad-hoc query: "dup" is rare in the corpus (high
# idf, drives the ranking), the rest are common (tf/length
# normalization differentiates).
BM25_QUERY_TERMS = ["dup", "spark", "merge", "window"]
BM25_K = 10


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a bag-of-words query under BM25 (Lucene
    idf form). The scale property: postings are filtered to the query
    terms before any shuffle — see operators/retrieval.py."""
    return retrieval.bm25_topk(
        read_table(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=BM25_K
    )


_TOKS_CTE = (
    "SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks "
    "FROM documents"
)

DOC_BM25_TOPK_SQL = f"""
WITH t AS ({_TOKS_CTE}),
toks AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t
),
post AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks
  WHERE term IN ('dup', 'merge', 'spark', 'window')
  GROUP BY doc_id, dl, term
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(len(toks)) AS avgdl FROM t
),
dfs AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM post GROUP BY term
),
scored AS (
  SELECT p.doc_id, p.term,
         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf * (1.2 + 1))
           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl)) AS term_score
  FROM post p JOIN dfs d USING (term) CROSS JOIN stats s
),
per_doc AS (
  SELECT doc_id, ROUND(SUM(term_score), 6) AS score,
         CAST(COUNT(DISTINCT term) AS BIGINT) AS n_query_terms_hit
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score, n_query_terms_hit,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER)
           AS rank
  FROM per_doc
)
SELECT doc_id, score, n_query_terms_hit, rank
FROM ranked WHERE rank <= {BM25_K} ORDER BY rank
"""


def doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline inverted-index build: per term df / total_tf / capped
    top-5-by-tf posting sample as a canonical string."""
    docs = read_table(spark, sf_dir, "documents")
    return retrieval.inverted_index(docs, max_postings=5)


DOC_INVERTED_INDEX_SQL = f"""
WITH t AS ({_TOKS_CTE}),
toks AS (SELECT doc_id, unnest(toks) AS term FROM t),
post AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
capped AS (
  SELECT doc_id, term, tf,
         ROW_NUMBER() OVER (
           PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS pos
  FROM post
)
SELECT term,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       string_agg(
         CASE WHEN pos <= 5 THEN CAST(doc_id AS VARCHAR) END,
         ',' ORDER BY pos) AS top_doc_ids
FROM capped
GROUP BY term
ORDER BY term
"""


def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality signal (CCNet/KenLM pattern): avg log-prob of
    each document's bigrams under an add-one-smoothed model fit on the
    corpus itself."""
    return retrieval.bigram_lm_scores(read_table(spark, sf_dir, "documents"))


DOC_LM_SCORE_SQL = f"""
WITH t AS ({_TOKS_CTE}),
g0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t
),
g AS (
  SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1 FROM g0
),
c2 AS (SELECT bigram, CAST(COUNT(*) AS DOUBLE) AS c2 FROM g GROUP BY bigram),
c1 AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM g GROUP BY w1),
vocab AS (
  SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v
  FROM (SELECT unnest(toks) AS term FROM t)
),
scored AS (
  SELECT g.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + vocab.v)) AS logprob
  FROM g JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN vocab
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(AVG(logprob), 6) AS avg_logprob
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       p.avg_logprob
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


def doc_lm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-gated quality filter over the LM score: documents in
    the corpus's worst 5% by bigram log-probability (the CCNet recipe:
    score with a corpus LM, drop the tail). r11: the threshold comes
    from operators/percentiles.py::global_percentiles_exact — an
    un-grouped native ``percentile()`` buffers the whole score column
    in ONE task (the holistic-aggregate trap the r11 probe measured on
    the orders lineage), while the distributed-selection form stays
    exact AND parallel, so no approx_percentile swap is needed at
    100 TB. The threshold is still one scalar, broadcast into the
    filter."""
    from ..operators.percentiles import global_percentiles_exact

    scores = retrieval.bigram_lm_scores(read_table(spark, sf_dir, "documents"))
    th = global_percentiles_exact(scores, "avg_logprob", [0.05]).select(
        F.round("pct", 6).alias("p05")
    )
    return (
        scores.crossJoin(F.broadcast(th))
        .filter(F.col("avg_logprob") < F.col("p05"))
        .select("doc_id", "avg_logprob", "p05")
    )


DOC_LM_OUTLIERS_SQL = f"""
WITH t AS ({_TOKS_CTE}),
g0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t
),
g AS (
  SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1 FROM g0
),
c2 AS (SELECT bigram, CAST(COUNT(*) AS DOUBLE) AS c2 FROM g GROUP BY bigram),
c1 AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM g GROUP BY w1),
vocab AS (
  SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v
  FROM (SELECT unnest(toks) AS term FROM t)
),
scored AS (
  SELECT g.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + vocab.v)) AS logprob
  FROM g JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN vocab
),
per_doc AS (
  SELECT doc_id, ROUND(AVG(logprob), 6) AS avg_logprob
  FROM scored GROUP BY doc_id
),
th AS (
  SELECT ROUND(quantile_cont(avg_logprob, 0.05), 6) AS p05 FROM per_doc
)
SELECT p.doc_id, p.avg_logprob, th.p05
FROM per_doc p CROSS JOIN th
WHERE p.avg_logprob < th.p05
ORDER BY p.doc_id
"""


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_POOL = 50  # per-ranker candidate pool fused into the final top-10


def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: BM25 lexical ranking fused with embedding
    cosine ranking by reciprocal-rank fusion —
    rrf(d) = Σ_rankers 1/(RRF_K + rank_r(d)), missing-from-a-ranker
    contributes 0. The standard first-stage setup for RAG/search over
    a curated corpus (the documents and embeddings tables share the
    0..N-1 id space, as a multimodal corpus table would).

    Scale shape: each ranker produces a tiny top-``RRF_POOL`` (BM25
    never shuffles more than the query terms' postings; the cosine
    ranker broadcasts the single query vector over the corpus), and
    the fusion is a full-outer join of two 50-row frames — driver-side
    small, executor-side nothing.
    """
    from ..operators.similarity import brute_force_topk

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")

    lex = retrieval.bm25_topk(docs, BM25_QUERY_TERMS, k=RRF_POOL).select(
        "doc_id", F.col("rank").alias("rank_lex")
    )
    sem = (
        brute_force_topk(
            emb, emb.filter(F.col("vec_id") == 0).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ), k=RRF_POOL,
        )
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rank_sem"))
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_lex",
            "rank_sem",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("rank_sem")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= 10)
        .select("doc_id", "rank_lex", "rank_sem", "rrf", "fused_rank")
    )


DOC_HYBRID_RRF_SQL = f"""
WITH t AS ({_TOKS_CTE}),
toks AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t
),
post AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks
  WHERE term IN ('dup', 'merge', 'spark', 'window')
  GROUP BY doc_id, dl, term
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(len(toks)) AS avgdl FROM t
),
dfs AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM post GROUP BY term
),
scored AS (
  SELECT p.doc_id,
         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf * (1.2 + 1))
           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl)) AS term_score
  FROM post p JOIN dfs d USING (term) CROSS JOIN stats s
),
per_doc AS (
  SELECT doc_id, ROUND(SUM(term_score), 6) AS score FROM scored GROUP BY doc_id
),
lex AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER)
           AS rank_lex
  FROM per_doc
  ORDER BY rank_lex LIMIT {RRF_POOL}
),
q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0
),
cos AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6)
           AS c
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
),
sem AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY c DESC, doc_id ASC) AS INTEGER)
           AS rank_sem
  FROM cos
  ORDER BY rank_sem LIMIT {RRF_POOL}
),
fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         lex.rank_lex, sem.rank_sem,
         ROUND(COALESCE(1.0 / ({RRF_K} + lex.rank_lex), 0.0)
               + COALESCE(1.0 / ({RRF_K} + sem.rank_sem), 0.0), 6) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rank_lex, rank_sem, rrf,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS INTEGER)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= 10
ORDER BY fused_rank
"""


QUERIES = {
    "doc_bm25_topk": doc_bm25_topk,
    "doc_inverted_index": doc_inverted_index,
    "doc_lm_score": doc_lm_score,
    "doc_lm_outliers": doc_lm_outliers,
    "doc_hybrid_rrf": doc_hybrid_rrf,
}

ORACLE = {
    "doc_bm25_topk": DOC_BM25_TOPK_SQL,
    "doc_inverted_index": DOC_INVERTED_INDEX_SQL,
    "doc_lm_score": DOC_LM_SCORE_SQL,
    "doc_lm_outliers": DOC_LM_OUTLIERS_SQL,
    "doc_hybrid_rrf": DOC_HYBRID_RRF_SQL,
}
