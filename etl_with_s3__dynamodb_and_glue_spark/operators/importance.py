"""DSIR-style importance weighting for data selection (Xie et al.,
"Data Selection for Language Models via Importance Resampling",
NeurIPS 2023 — public method): score every raw document by how
target-like its hashed n-gram feature distribution is, so a 100 TB
crawl can be resampled toward a high-quality target domain in one
bounded-state pass. Reference scope: the reference repo has no
data-selection surface; this extends the LLM-curation family
alongside the quality classifier (operators/classifier.py) — the
classifier scores *absolute* quality from a trained model, DSIR
scores *relative to a target corpus* with no model at all.

Construction (all JVM-side expressions, no UDFs):

1. **Features**: unigrams + word bigrams of the whitespace-normalized
   text, each hashed into one of ``B`` buckets with the repo's
   portable md5-digit construction (operators/classifier.py). The
   portable hash is the same deliberate choice as the CMS sketch
   (operators/cms.py): the whole weight table becomes a pure
   deterministic function of the data that the DuckDB oracle rebuilds
   verbatim, so the driver value-checks the operator end-to-end.
2. **Two bucket histograms in ONE aggregation pass**: raw = every
   doc, target = docs matching the caller's predicate (conditional
   sum). B rows of state total, however large the corpus.
3. **Per-bucket log-likelihood ratio** with add-one smoothing,
   broadcast back onto the per-doc bucket counts; a doc's log
   importance weight is the count-weighted sum of the ratios of the
   buckets it touches — the bag-of-hashed-ngrams likelihood ratio of
   "drawn from target" vs "drawn from raw".

Scale shape: one explode + map-side-combinable groupBy for the
per-doc bucket profile (a doc's grams never shuffle — only its
``(doc_id, bucket, cnt)`` rows do, ≤ min(B, n_grams) per doc), one
≤B-row global histogram, one broadcast join, one final per-doc sum.
Estimator state is O(B) regardless of corpus size — what makes
importance resampling viable at crawl scale where a learned filter
needs a model server per executor. The per-doc profile feeds both
the histogram branch and the final join and IS persisted (round-9
A/B measurement — see :func:`dsir_log_weights`): the CMS build's
recompute-beats-persist rule does NOT transfer here, because both
consumers sit downstream of the full two-n-gram corpus explode
rather than a cheap distinct-key hash.

The resampling step (draw k docs ∝ exp(log_weight)) composes with
the existing Efraimidis–Spirakis machinery: for weights that fit a
double, pass ``exp(log_weight)`` to
operators/sampling.py::weighted_sample_score + global TakeOrdered;
at crawl scale use :func:`dsir_gumbel_key`, the same A-RES ordering
computed entirely in log space (plans/curation.py::doc_dsir_sample
is the declared end-to-end query).
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window, functions as F

from .classifier import _hex4
from .text import tokens, word_ngrams

B_BUCKETS = 1024


def gram_bucket(gram: Column, buckets: int = B_BUCKETS) -> Column:
    """Feature-hash one gram string into [0, buckets) — seeded
    ('dsir|') portable md5-digit construction, replayable in SQL."""
    return (_hex4(F.md5(F.concat(F.lit("dsir|"), gram))) % buckets).cast(
        "int"
    )


class _JvmScopedMemo:
    """Memo of values bound to one JVM, such as classic Columns: each
    holds a py4j handle into the gateway that built it, and that handle
    is dead once the gateway is shut down. Entries made under an
    earlier gateway are dropped at the first lookup under a new one, so
    a session restarted in the same process rebuilds them. A restart
    that keeps the JVM keeps them."""

    def __init__(self) -> None:
        self._gateway = None
        self._entries: dict = {}

    def get(self, key):
        if self._gateway is not SparkContext._gateway:
            self.clear()
        return self._entries.get(key)

    def put(self, key, value) -> None:
        self._entries[key] = value

    def clear(self) -> None:
        self._entries.clear()
        self._gateway = SparkContext._gateway


# the unigram++bigram feature expression keyed by text column name —
# expression metadata only (see the note at the use site in
# hashed_feature_counts)
_FEATURE_EXPR_MEMO = _JvmScopedMemo()


def hashed_feature_counts(
    df: DataFrame,
    text_col: str = "text",
    carry_cols: tuple[str, ...] = ("doc_id",),
    buckets: int = B_BUCKETS,
) -> DataFrame:
    """Per-doc hashed-ngram bucket profile: (carry_cols…, bucket,
    cnt). Features are unigrams ++ word bigrams (the DSIR paper's
    hashed n-gram featurization); one explode, one
    map-side-combinable groupBy."""
    # NULL text coalesces to '' (ADVICE r8): tokens(NULL) is a NULL
    # array and the explode would silently drop the doc from every
    # downstream weight/resample; '' tokenizes to [''] — one gram —
    # so the doc still scores and the "EVERY input doc" contract of
    # dsir_log_weights holds.
    from .gates import ensure_scan_parallelism

    # EXPRESSION MEMO (r14 construction-cost round): the exploded
    # feature expression is a pure function of (text_col,) — the
    # tokens + shifted-view bigram tree is ~50 py4j round trips to
    # build (≈0.3-0.5 s of driver time per query construction on the
    # bench host). Column objects are immutable unresolved expression
    # trees, safely shared across DataFrames/queries; this caches the
    # EXPRESSION, never data, and only for the JVM that built it.
    feats = _FEATURE_EXPR_MEMO.get(text_col)
    if feats is None:
        toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
        feats = F.concat(toks, word_ngrams(toks, 2))
        _FEATURE_EXPR_MEMO.put(text_col, feats)
    # Split-adaptive repartition (r13 opt round, operators/gates.py):
    # the unigram+bigram explode and per-gram md5 sit DIRECTLY on the
    # corpus scan with no shuffle in between, so a one-file input runs
    # the whole featurization on one core.
    # Interleaved A/B at sf0.1 (r13):
    # doc_dsir_weights 3.50 → 2.29 s (1.53×). Value-safe here by
    # construction: everything between this exchange and the next one
    # is per-row hashing, and the aggregates that follow are exact
    # integer counts — no float summation order anywhere upstream of
    # the (shuffle-partitioned, hence unaffected) weight sum.
    return (
        ensure_scan_parallelism(df)
        .select(*carry_cols, F.explode(feats).alias("gram"))
        .select(*carry_cols, gram_bucket(F.col("gram"), buckets).alias("bucket"))
        .groupBy(*carry_cols, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def bucket_log_ratios(
    per_doc: DataFrame, buckets: int = B_BUCKETS, dense: bool = False
) -> DataFrame:
    """(bucket, log_ratio) from a per-doc profile carrying an
    ``is_target`` flag: ln p̂_target(bucket) − ln p̂_raw(bucket), both
    add-one smoothed over the full bucket space. ≤B rows — broadcast
    material by construction.

    The corpus totals come from a global window OVER THE ≤B-ROW
    HISTOGRAM, not a one-row aggregate crossJoined back: the usual
    one-row-crossJoin idiom plans a separate aggregate branch that
    re-derives the per-doc profile (a third full corpus explode —
    observed in the formatted plan before this shape), while the
    window is one extra pass over ≤B already-aggregated rows in the
    same stage. Global windows are banned over data-sized frames, not
    over sketch-sized ones.

    ``dense=True`` emits a row for EVERY bucket (unobserved buckets
    get the pure-smoothing ratio) — required when the table is
    persisted as a scoring store (:func:`build_dsir_store`): a
    later-arriving doc can touch buckets the build corpus never did,
    and an inner probe join must not silently drop those features."""
    hist = per_doc.groupBy("bucket").agg(
        F.sum("cnt").alias("raw_cnt"),
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(F.lit(0))).alias(
            "tgt_cnt"
        ),
    )
    if dense:
        all_buckets = per_doc.sparkSession.range(buckets).select(
            F.col("id").cast("int").alias("bucket")
        )
        hist = all_buckets.join(hist, "bucket", "left").fillna(
            0, ["raw_cnt", "tgt_cnt"]
        )
    whole = Window.partitionBy()
    b = float(buckets)
    return hist.select(
        "bucket",
        (
            F.log(
                (F.col("tgt_cnt") + 1.0)
                / (F.sum("tgt_cnt").over(whole) + b)
            )
            - F.log(
                (F.col("raw_cnt") + 1.0)
                / (F.sum("raw_cnt").over(whole) + b)
            )
        ).alias("log_ratio"),
    )


def dsir_log_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = B_BUCKETS,
) -> DataFrame:
    """(id_col, n_feats, log_weight) for EVERY input doc: the DSIR
    log importance weight of the doc under target-vs-raw hashed-ngram
    unigram+bigram models. ``target`` is a boolean Column over ``df``
    rows selecting the target exemplars (they are scored too — raw
    includes target by definition, and their high weights are the
    expected fixed point).

    Every observed bucket exists in the raw histogram by construction
    (raw = all docs), so the final inner join drops nothing.

    The per-doc profile IS persisted here (round-9 A/B, reversing the
    rule inherited from the CMS build): unlike the CMS case — where
    the recomputed branch is one cheap distinct-key hash — BOTH of
    this plan's consumers sit downstream of the full two-n-gram
    corpus explode, and the aggregated profile is tiny relative to
    the exploded grams. Measured at sf0.1: 3.22 s recompute → 2.06 s
    persisted (best-of-3); at the 10× probe corpus 5.79 → 3.89 s
    (best-of-2) — ~35% at both scales. Storage is tied to the
    returned frame's lifetime (``unpersist_on_release``)."""
    from pyspark import StorageLevel

    from ..caching import unpersist_on_release

    per_doc = hashed_feature_counts(
        df.select(id_col, text_col, target.alias("is_target")),
        text_col=text_col,
        carry_cols=(id_col, "is_target"),
        buckets=buckets,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ratios = bucket_log_ratios(per_doc, buckets=buckets)
    result = (
        per_doc.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_weight"),
        )
    )
    return unpersist_on_release(result, per_doc)


def dsir_gumbel_key(
    key: Column | str, log_weight: Column | str, salt: str = "dsir-sample"
) -> Column:
    """Efraimidis–Spirakis (A-RES) sampling key in LOG-WEIGHT space:
    rank rows ASCENDING by ``ln(−ln u) − log_w`` — the same ordering
    as ``u^(1/w)`` descending (sampling.py::weighted_sample_score),
    but without ever materializing ``w = exp(log_w)``, which for DSIR
    log weights (hundreds of nats either way at crawl scale) would
    overflow/underflow a double. Derivation: u^(1/w) desc ⟺ ln(u)/w
    desc ⟺ −ln(u)/w asc ⟺ (w>0, −ln u>0) ln(−ln u) − ln w asc.

    ``u`` is the row's deterministic md5 uniform, here centered as
    ``(hex8 + 0.5)/2³²`` so u ∈ (0,1) STRICTLY open — ``ln(u)`` and
    ``ln(−ln u)`` are both finite for every input, and the DuckDB
    oracle (which raises on ln(0)) replays the key verbatim. Per-row
    map; pair with a global or per-stratum top-k (TakeOrdered
    ascending), exactly like the linear-weight sampler."""
    from .classifier import _hex_val

    k = F.col(key) if isinstance(key, str) else key
    lw = F.col(log_weight) if isinstance(log_weight, str) else log_weight
    h = F.md5(F.concat_ws("|", F.lit(salt), k.cast("string")))
    hex8 = sum(
        _hex_val(h, i + 1).cast("long") * F.lit(16 ** (7 - i)).cast("long")
        for i in range(8)
    )
    u = (hex8.cast("double") + 0.5) / F.lit(float(16**8))
    return F.log(-F.log(u)) - lw.cast("double")


# Store format stamp (the anchor-store discipline, dedup.py): the
# bucket count AND hash construction are baked into the persisted
# ratios, so a probe under a different featurization would score
# garbage silently — fail loudly instead.
_DSIR_FORMAT_NAME = "_DSIR_FORMAT"


def _dsir_format(buckets: int) -> str:
    return f"dsir-md5-unibigram-b{buckets}-v1"


def _check_dsir_format(path: str, buckets: int) -> None:
    import os

    marker = os.path.join(path, _DSIR_FORMAT_NAME)
    found = None
    if os.path.isfile(marker):
        with open(marker) as f:
            found = f.read().strip()
    want = _dsir_format(buckets)
    if found != want:
        raise ValueError(
            f"DSIR ratio store {path!r} was built as {found or '<unstamped>'!r} "
            f"but this probe expects {want!r} — scores would be "
            "garbage; rebuild with build_dsir_store at the matching "
            "bucket count"
        )


def build_dsir_store(
    df: DataFrame,
    target: Column,
    path: str,
    text_col: str = "text",
    buckets: int = B_BUCKETS,
) -> None:
    """Persist the DENSE per-bucket log-ratio table — the build-once
    side of incremental data selection (the same offline/serving
    split as the dedup signature, decontamination anchor, CMS and HLL
    stores): the target/raw histograms are estimated ONCE over a
    reference corpus, and every arriving batch scores against B
    broadcast rows without re-reading it. Dense (every bucket, with
    unobserved buckets carrying the pure-smoothing ratio) so a probe
    never drops a feature the build corpus happened not to contain."""
    import os

    ratios = bucket_log_ratios(
        hashed_feature_counts(
            df.select(text_col, target.alias("is_target")),
            text_col=text_col,
            carry_cols=("is_target",),
            buckets=buckets,
        ),
        buckets=buckets,
        dense=True,
    )
    ratios.coalesce(1).write.mode("overwrite").parquet(path)
    tmp = os.path.join(path, _DSIR_FORMAT_NAME + ".tmp")
    with open(tmp, "w") as f:
        f.write(_dsir_format(buckets))
    os.replace(tmp, os.path.join(path, _DSIR_FORMAT_NAME))


def dsir_score_with_store(
    docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = B_BUCKETS,
) -> DataFrame:
    """(id_col, n_feats, log_weight) for an ARRIVING batch against a
    persisted ratio store (:func:`build_dsir_store`) — per-batch cost
    is the batch's own feature pass plus a broadcast of B rows; the
    reference corpus is never touched again. Usable directly inside
    ``foreachBatch`` like the near-dup ingest and decontamination
    gates. The store's bucket count and hash construction must match
    this build's (fails loudly otherwise)."""
    _check_dsir_format(store_path, buckets)
    spark = docs.sparkSession
    per_doc = hashed_feature_counts(
        docs.select(id_col, text_col),
        text_col=text_col,
        carry_cols=(id_col,),
        buckets=buckets,
    )
    ratios = spark.read.parquet(store_path)
    return (
        per_doc.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_weight"),
        )
    )
