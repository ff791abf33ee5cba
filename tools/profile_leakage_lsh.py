"""Isolated stage profile of doc_split_leakage_audit_lsh (VERDICT r11
item 7 — the query is the bench-extras ceiling at 7.4–8.2 s, and it is
r13-parked, so this round is MEASUREMENT ONLY).

Times each stage of the composition in isolation (fresh session, noop
sink, cache cleared between stages) at sf0.1, the same treatment that
diagnosed doc_lm_score's join fallback in r10. Stage deltas attribute
the cost:

  1. token_sets        — tokenize + in-row distinct
  2. signatures        — 64 minhashes over the token sets
  3. candidates        — banded bucket equi-join, pre-verify distinct
  4. verified pairs    — exact-Jaccard verify (array_intersect)
  5. full audit        — + split lookups (candidate-sized) + cell agg
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from etl_with_s3__dynamodb_and_glue_spark import get_spark  # noqa: E402
from etl_with_s3__dynamodb_and_glue_spark.operators import dedup  # noqa: E402
from etl_with_s3__dynamodb_and_glue_spark.plans import llm_ops  # noqa: E402
from etl_with_s3__dynamodb_and_glue_spark.sources.readers import (  # noqa: E402
    read_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed(label, fn, spark, reps=2):
    best = None
    for _ in range(reps):
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 3)
        best = dt if best is None or dt < best else best
    print(json.dumps({"stage": label, "sec_best": best, "reps": reps}))
    return best


def main():
    spark = get_spark("profile-leakage-lsh")
    docs = read_table(spark, SF_DIR, "documents")
    # warm-up (JVM/codegen/footers)
    docs.limit(100).select(F.length("text")).write.format("noop").mode(
        "overwrite"
    ).save()

    thr = llm_ops._LEAKAGE_THRESHOLD
    timed("1_token_sets", lambda: dedup.token_sets(docs), spark)
    timed(
        "2_signatures",
        lambda: dedup.minhash_signatures(
            dedup.token_sets(docs).withColumnRenamed("toks", "shingles"),
            shingle_col="shingles",
        ),
        spark,
    )
    timed(
        "4_verified_pairs",
        lambda: dedup.minhash_near_dups(docs, threshold=thr),
        spark,
    )
    timed(
        "5_full_audit",
        lambda: llm_ops.doc_split_leakage_audit_lsh(spark, SF_DIR),
        spark,
    )


if __name__ == "__main__":
    main()
