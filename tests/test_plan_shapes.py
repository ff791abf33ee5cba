"""Physical-plan assertions (SURVEY.md §7 phase 5): the optimizations
we rely on at 100 TB must actually fire at plan time — broadcast the
dimension join, WindowGroupLimit for top-k, parquet filter pushdown,
partition pruning on the keyed sink, and shuffle counts for the
temporal operators."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_with_s3__dynamodb_and_glue_spark.operators.temporal import (
    as_of_join,
    range_join,
)
from etl_with_s3__dynamodb_and_glue_spark.operators.windows import (
    ranked_desc,
    top_k_per_group,
)
from etl_with_s3__dynamodb_and_glue_spark.plans import music_pipeline as mp
from etl_with_s3__dynamodb_and_glue_spark.sources.readers import read_events
from etl_with_s3__dynamodb_and_glue_spark.sources.sinks import ParquetKeyValueSink
from tests.conftest import SF_SMOKE


def plan_str(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_dimension_join_is_broadcast(spark):
    streams = spark.createDataFrame(
        [(1, "t1", "2024-06-25 10:00:00")], "user_id string, track_id string, listen_time string"
    )
    songs = spark.createDataFrame(
        [("t1", "Song", "rock")], "track_id string, track_name string, track_genre string"
    )
    plan = plan_str(mp.enrich(streams, songs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_window_group_limit_fires(spark):
    counts = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").groupBy(
        "o_custkey", "o_orderpriority"
    ).count()
    top = top_k_per_group(
        counts,
        group_by=["o_orderpriority"],
        order_by=ranked_desc("count", ["o_custkey"]),
        k=3,
    )
    assert "WindowGroupLimit" in plan_str(top)


def test_parquet_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    plan = plan_str(q)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)]" in plan
    # scan must read only the 2 projected columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_kv_sink_read_prunes_partitions(spark, tmp_path):
    sink = ParquetKeyValueSink(str(tmp_path / "kv"))
    df = spark.createDataFrame(
        [("2024-06-25", 1), ("2024-06-26", 2), ("2024-06-27", 3)],
        "date string, n int",
    )
    sink.write(df, "t", key="date")
    q = spark.read.parquet(str(tmp_path / "kv" / "t")).filter(
        F.col("date") == "2024-06-25"
    )
    plan = plan_str(q)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "isnotnull(date" in pf_line
    # pruning proof: only 1 of 3 partition directories is scanned
    assert q.rdd.getNumPartitions() <= 1 or "2024-06-25" in plan


def test_serving_lookup_prunes_to_one_partition(spark):
    """The consumer read path (reference README.md:69-75) must hit ONE
    date partition of the written serving dataset: a literal partition
    filter in the FileSourceScan, and a pruned-down file count — at
    100 TB the serve cost is a day's rows, not the table."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.star_queries import (
        serving_top_rows_lookup,
    )

    q = serving_top_rows_lookup(spark, SF_SMOKE)
    plan = plan_str(q)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "date" in pf_line and "[]" not in pf_line
    # the top-5 must be a TakeOrdered, not a global sort shuffle
    assert "TakeOrderedAndProject" in plan


def test_as_of_join_is_one_shuffle_no_join(spark):
    left = read_events(spark, SF_SMOKE).select(
        "user_id", F.col("ts").alias("t"), "event_id"
    )
    right = left.select("user_id", F.col("t").alias("rt"), F.col("event_id").alias("payload"))
    out = as_of_join(left, right, "user_id", "t", "rt", ["payload"])
    plan = plan_str(out, mode="simple")
    assert "Join" not in plan  # no join operator at all — union + window
    assert plan.count("Exchange") == 1  # one shuffle, on the key


def test_range_join_is_hash_join_not_nested_loop(spark):
    ev = read_events(spark, SF_SMOKE).select("user_id", F.col("ts").alias("t"), "event_id")
    right = ev.select("user_id", F.col("t").alias("rt"), F.col("event_id").alias("f_id"))
    out = range_join(ev, right, "user_id", "t", "rt", 0, 600)
    plan = plan_str(out)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_flagship_whole_stage_codegen_spans(spark):
    """The KPI lineage must stay inside whole-stage codegen — a Python
    UDF in the hot path would break the spans."""
    import __spark_entry__ as e

    df = e.entry(spark)
    df.collect()  # AQE finalizes the physical plan only at execution
    plan = plan_str(df, mode="formatted")
    # formatted mode marks codegen'd operators with '*'
    assert "* Filter" in plan or "* HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cobucketed_join_has_no_exchange_or_sort(spark, tmp_path):
    """Two tables bucketed+sorted on the same key must sort-merge join
    with ZERO Exchange and ZERO Sort — the on-disk layout IS the
    shuffle. This is the 100 TB fact-join strategy (bucketed.py)."""
    from etl_with_s3__dynamodb_and_glue_spark.sources.bucketed import (
        cobucket_join,
        write_bucketed,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    write_bucketed(orders, "b_orders", str(tmp_path / "bo"), ["o_custkey"], 8)
    write_bucketed(customer, "b_customer", str(tmp_path / "bc"), ["o_custkey"], 8)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = cobucket_join(spark, "b_orders", "b_customer", ["o_custkey"])
            plan = plan_str(joined, mode="simple")
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert "Bucketed: true" in plan and "SelectedBucketsCount: 8 out of 8" in plan
            # NOTE: per-task Sorts remain — Spark ≥3.0 ignores bucket
            # sort metadata unless
            # spark.sql.legacy.bucketedTableScan.outputOrdering is set
            # (SPARK-28595). The scale win is the eliminated Exchange;
            # the residual sort is per-task over already-sorted runs.
            # and a groupBy on the bucket key also needs no shuffle
            agg = (
                spark.table("b_orders")
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            assert "Exchange" not in plan_str(agg, mode="simple")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_lsh_topk_candidates_carry_ids_not_vectors(spark):
    """The SRP-LSH candidate join must move only (id, table, bucket)
    rows — posexploding the corpus VECTORS n_tables times re-creates
    the dim×n_tables-per-row blow-up the operator exists to avoid.
    Guard: no generator (explode) node in the plan outputs the vector
    column; vectors re-attach only after the candidate distinct."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_str(lsh_topk(emb, queries, k=5))
    # formatted mode: "Arguments: posexplode(...), [<carried cols>], ..."
    explode_lines = [ln for ln in plan.splitlines() if "posexplode(" in ln]
    assert explode_lines  # the banding explode exists
    for line in explode_lines:
        assert "cvec" not in line and "qvec" not in line, line


def test_lsh_topk_large_query_batch_not_forced_broadcast(spark, monkeypatch):
    """A query batch above gates.LSH_BROADCAST_QUERIES_MAX must NOT
    carry a broadcast hint (a forced broadcast of an unbounded batch is
    an executor OOM); results must match the broadcast path exactly."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import gates
    from etl_with_s3__dynamodb_and_glue_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = lsh_topk(emb, queries, k=5)
        assert "BroadcastHashJoin" in plan_str(hinted)
        monkeypatch.setattr(gates, "LSH_BROADCAST_QUERIES_MAX", 0)
        shuffled = lsh_topk(emb, queries, k=5)
        assert "BroadcastHashJoin" not in plan_str(shuffled)
        key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
        assert key(shuffled) == key(hinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_running_sum_never_windows_the_full_frame(spark):
    """The distributed prefix sum must not contain an un-partitioned
    window over the data: every Window node either partitions by the
    stamped pid (parallel) or runs over the numPartitions-row totals
    frame. An empty PARTITION BY over the main input would be the
    single-task collapse the operator exists to avoid."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.prefix import running_sum

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = running_sum(df, "v", ["k"], num_partitions=8)
    plan = plan_str(out, mode="extended")
    # the data-side window is keyed by the pid stamp
    assert "windowspecdefinition(_pid" in plan.replace(" ", "").lower() or (
        "partitionBy" not in plan
    ), plan
    # range partitioning happened (the global-order shuffle)
    assert "rangepartitioning" in plan.lower(), plan
    # offsets come back via a broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan_str(out), plan_str(out)


def test_bloom_probe_joins_are_broadcast(spark):
    """Every bloom word-table probe must be a broadcast join (the
    table is <= m/64 rows by construction) — a shuffle join here
    would move the corpus k times."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import bloom

    keys = spark.range(100).select(F.col("id").alias("k"))
    words = bloom.bloom_build(keys, "k", m_bits=1 << 12, n_hashes=4)
    probed = bloom.bloom_might_contain(
        spark.range(500).select(F.col("id").alias("k")),
        "k",
        words,
        m_bits=1 << 12,
        n_hashes=4,
    )
    plan = plan_str(probed)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_sample_uses_take_ordered(spark):
    """The k=50 weighted-sample cut must be TakeOrdered (bounded
    per-partition heaps + driver merge), never a full global sort."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["doc_weighted_sample"](
        spark, "/root/testdata/sf0.001"
    )
    plan = plan_str(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_decile_bins_have_no_data_sized_window(spark):
    """Scale-safe quantile binning: no single-task window over the
    DATA. The original pin was "no Window node at all" (boundaries
    from one percentile aggregate); since the r12 swap to distributed
    selection the boundary pass legitimately contains Window nodes —
    the per-slice rank is partitioned by (partition-id, group), and
    the offset/collect windows run over metadata-sized frames
    (≤ partitions × groups rows). What must NEVER return is (a) an
    ntile/rank over the un-partitioned orders rows and (b) the native
    holistic percentile. So: every Window in the plan either carries a
    partition spec or consumes the slice-counts aggregate, pinned by
    forbidding the two bad spellings instead of all windows."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["orders_price_decile_bins"](
        spark, "/root/testdata/sf0.001"
    )
    plan = plan_str(df)
    assert "ntile" not in plan, plan
    assert "percentile(" not in plan, plan
    # the rank window over the data-sized pairs frame must be
    # partitioned (spark_partition_id + group), never global
    assert "row_number() windowspecdefinition(_pid" in plan.lower() or (
        "row_number" not in plan.lower()
    ), plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_point_in_time_join_is_hash_join_not_nested_loop(spark):
    """The validity range must ride the key equi-join as a residual
    predicate — a BroadcastNestedLoopJoin here would be the quadratic
    trap the operator exists to avoid."""
    from etl_with_s3__dynamodb_and_glue_spark.operators.temporal import (
        point_in_time_join,
    )

    hist = spark.range(100).selectExpr(
        "id as k", "cast(id as string) payload",
        "timestamp'2020-01-01' as valid_from",
        "cast(null as timestamp) as valid_to",
    )
    facts = spark.range(1000).selectExpr(
        "id as fid", "id % 100 as k", "timestamp'2022-01-01' as ts"
    )
    plan = plan_str(point_in_time_join(facts, hist, ["k"], "ts"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan or "BroadcastHashJoin" in plan, plan


def test_cms_probe_is_broadcast_and_build_combines_map_side(spark):
    """The sketch side of a CMS probe must broadcast (it is <= d*w
    rows by construction); the build's explode must partial-aggregate
    before its one shuffle."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import cms

    toks = spark.range(5000).selectExpr("cast(id % 97 as string) term")
    sketch = cms.cms_build(toks, "term")
    est = cms.cms_estimate(toks.distinct(), "term", sketch)
    plan = plan_str(est)
    assert "BroadcastHashJoin" in plan, plan
    build_plan = plan_str(sketch)
    # partial_count before the exchange = map-side combine
    assert "partial_count" in build_plan or "HashAggregate" in build_plan, build_plan


def test_skew_profile_uses_take_ordered_not_global_window(spark):
    """event_key_skew_profile's top-10 must come from TakeOrdered
    (parallel per-partition top-k), never an unpartitioned row_number
    window over ALL per-key aggregates — at 10^9 distinct keys that
    window is one task. The only Window allowed is over the already
    limited 10-row result."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.event_time import (
        event_key_skew_profile,
    )

    plan = plan_str(event_key_skew_profile(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    # the window must consume the limited result: in the formatted plan
    # the TakeOrderedAndProject node sits BELOW (higher node id than)
    # the Window node, i.e. it is the window's child.
    win_pos = plan.index("Window")
    tko_pos = plan.index("TakeOrderedAndProject")
    assert tko_pos > win_pos or "WindowGroupLimit" not in plan


def test_winsorized_stats_percentile_table_is_broadcast(spark):
    """The per-group p05/p95 table is |groups| rows — it must come
    back to the fact table as a broadcast join, never a sort-merge."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.tpch_like import (
        lineitem_winsorized_stats,
    )

    plan = plan_str(lineitem_winsorized_stats(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_no_native_percentile_in_swapped_plans(spark):
    """The r12 percentile swaps (banked r11): none of the three
    remaining holistic-percentile users may re-acquire a native
    ``percentile()`` aggregate — the few-groups form buffers the
    whole column in a handful of reducers (measured exponent 1.37 at
    100×, and the un-grouped decile-bins form buffered EVERYTHING in
    one task). The physical plan shows holistic aggregates as
    ObjectHashAggregate with a `percentile(` expression; distributed
    selection uses only HashAggregate / window nodes."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        doc_source_quality_buckets,
    )
    from etl_with_s3__dynamodb_and_glue_spark.plans.functions_surface import (
        orders_price_decile_bins,
    )
    from etl_with_s3__dynamodb_and_glue_spark.plans.tpch_like import (
        lineitem_winsorized_stats,
    )

    for fn in (
        orders_price_decile_bins,
        lineitem_winsorized_stats,
        doc_source_quality_buckets,
    ):
        plan = plan_str(fn(spark, SF_SMOKE))
        assert "percentile(" not in plan, (fn.__name__, plan)


def test_split_assignment_prunes_text_column(spark):
    """The split is a pure function of doc_id; the parquet scan must
    read only (doc_id, source) — dragging the text column through a
    row-count query would be a 100 TB disaster."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        doc_split_assignment,
    )

    plan = plan_str(doc_split_assignment(spark, SF_SMOKE))
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas, plan
    for line in read_schemas:
        assert "text" not in line, line
        assert "doc_id" in line and "source" in line, line


def test_minhash_near_dups_never_goes_nested_loop(spark):
    """The LSH promise is candidates-from-equi-joins: banding, verify
    attachment, and the collapse expansion must all plan as hash/merge
    joins — a CartesianProduct or nested-loop node anywhere means a
    non-equi condition snuck in and the operator degenerated to
    all-pairs."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        doc_minhash_near_dups,
    )

    plan = plan_str(doc_minhash_near_dups(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rolling_distinct_exact_broadcasts_active_days(spark):
    """The exact calendar-trailing companion must restrict covered
    days to ACTIVE days via a broadcast of the tiny day table — not a
    shuffle join against the fanned-out pairs, and never a range/
    nested-loop join (the DuckDB twin's BETWEEN is fine at oracle
    scale; Spark's plan is the bounded-explode + equi-join shape)."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.functions_surface import (
        rolling_7d_distinct_exact,
    )

    plan = plan_str(rolling_7d_distinct_exact(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_duplicate_spans_never_goes_nested_loop(spark):
    """Substring-level exact dedup must stay equi-join shaped end to
    end: the duplicated-gram attach and the span-text reconstruction
    join both key on hash/doc_id — a CartesianProduct or nested-loop
    node means the anchor construction degenerated to all-pairs."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        doc_duplicate_spans,
    )

    plan = plan_str(doc_duplicate_spans(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zscores_use_broadcast_stats_not_segment_window(spark):
    """Per-segment standardization must broadcast the 5-row stats
    table, not window-partition the whole fact by segment (5 giant
    tasks at scale)."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.functions_surface import (
        customer_balance_zscores,
    )

    plan = plan_str(customer_balance_zscores(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_token_budget_sample_rank_cut_is_group_limited(spark):
    """The budget+1 rank cut must plan as WindowGroupLimit so each map
    partition prunes to budget+1 rows BEFORE the stratum shuffle — the
    cumsum never sees the whole corpus per source."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        doc_token_budget_sample,
    )

    plan = plan_str(doc_token_budget_sample(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan


def test_eval_span_overlap_broadcasts_eval_grams(spark):
    """Cross-corpus decontamination must broadcast the EVAL gram-hash
    set (eval suites are tiny next to a training corpus) and stay
    equi-join shaped — a shuffle of the corpus on gram, or any
    nested-loop node, means the broadcast semi-join degenerated."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        doc_eval_span_overlap,
    )

    plan = plan_str(doc_eval_span_overlap(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_scrub_duplicate_spans_stays_equi_join_shaped(spark):
    """The scrub-and-admit query (staged r9) composes the span
    extractor with one per-doc span-list left join; nothing in the
    composition may introduce an all-pairs node, and the eval gram
    set must still ride a broadcast."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        doc_scrub_duplicate_spans,
    )

    plan = plan_str(doc_scrub_duplicate_spans(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_weekly_distinct_exact_is_one_shuffle_no_window(spark):
    """The exact weekly-distinct companion is one groupBy(week) —
    holistic countDistinct forces the shuffle, but there must be
    exactly one exchange over events and no window (a Window here
    would mean the rollup degenerated to a per-row frame)."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.functions_surface import (
        weekly_user_distinct_exact,
    )

    plan = plan_str(weekly_user_distinct_exact(spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_ratio_table_is_broadcast_and_corpus_scans_twice(spark):
    """DSIR weights: the ≤B-row log-ratio table joins back by
    broadcast (never a shuffle of the per-doc profile against it, and
    never a nested loop), and the corpus is derived exactly TWICE —
    profile branch + histogram branch. The bucket totals ride a
    global window over the ≤B-row histogram instead of the one-row
    crossJoin idiom, which planned a third full corpus explode."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        doc_dsir_weights,
    )

    plan = plan_str(doc_dsir_weights(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # count scan NODES of the documents table tolerantly (ADVICE r8:
    # exact string-match on 'Scan parquet' was brittle across plan
    # formatting changes): any node line mentioning both a scan and
    # the documents file. Upper bound — the regression this guards is
    # a THIRD corpus derivation (the one-row-crossJoin idiom's extra
    # explode branch); fewer scans (e.g. a future exchange-reuse)
    # would be an improvement, not a bug.
    tree = plan.split("\n\n")[0]
    scans = [
        ln
        for ln in tree.splitlines()
        if re.search(r"Scan\s+parquet|FileScan", ln)
    ]
    assert 1 <= len(scans) <= 2, tree


def test_bigram_lm_gram_joins_never_sort_merge(spark):
    """r11 regression pin for the r10-measured scale-killer: past the
    broadcast threshold the two full-gram-stream joins in
    bigram_lm_scores must fall back to SHUFFLED HASH, never sort-merge
    (sort-merge sorts the gram stream twice; measured ~40 s / exponent
    ~1.2 at 500k docs vs ~12 s / ~0.76 hinted). Simulate the
    past-threshold regime by disabling auto-broadcast. The one
    tolerated SortMergeJoin is the final all_docs ⋈ per_doc LEFT join:
    both of its sides are n_docs-row (never gram-stream-sized), and a
    third hint there measured inside session noise at 500k (rejected,
    BENCH_NOTES_r11)."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.retrieval import (
        doc_lm_score,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_str(doc_lm_score(spark, SF_SMOKE), "simple")
        assert plan.count("ShuffledHashJoin") >= 2, plan
        assert plan.count("SortMergeJoin") <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_char_entropy_staged_form_sorts_the_char_array_once(spark):
    """r11 regression pin for the HOF-LAMBDA RULE rework: the staged
    with_char_entropy path must keep the sorted-char-array projection
    as a REAL column — if a future optimizer change (or a refactor
    back to chained expressions) inlines it into its consumers, the
    sort is re-evaluated many times per row (measured 8.6 s vs 1.37 s
    at sf0.1). The optimized plan must contain the array_sort(split
    expression exactly once."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        doc_char_entropy,
    )

    plan = plan_str(doc_char_entropy(spark, SF_SMOKE), "formatted")
    assert plan.count("array_sort(split") == 1, plan


def test_boilerplate_min_docs_2_path_never_joins_the_gram_stream(spark):
    """r11 regression pin, second edition. The first r11 rework hinted
    the gram-stream ⋈ (gram, df) join to SHUFFLE_HASH (2.7× at 500k) —
    and the third-decade probe OOMed it at 5M docs: distinct 5-grams
    grow ~linearly with the corpus, so the hash build side is
    UNBOUNDED (unlike the vocabulary-bounded LM/TF-IDF build sides).
    The shipped min_docs=2 path eliminates the gram join entirely
    (df==1 owner recovery via min(doc_id)); the ONLY join in the plan
    is the doc-keyed counts ⋈ uniques — so with broadcast disabled the
    plan carries at most ONE join of any kind."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        doc_boilerplate_fraction,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_str(doc_boilerplate_fraction(spark, SF_SMOKE), "simple")
        n_joins = (
            plan.count("SortMergeJoin")
            + plan.count("ShuffledHashJoin")
            + plan.count("BroadcastHashJoin")
            + plan.count("BroadcastNestedLoopJoin")
            + plan.count("CartesianProduct")
        )
        assert n_joins <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_novelty_fraction_never_joins_the_gram_stream(spark):
    """r12 regression pin — same class as the boilerplate pin above.
    The old doc_novelty_fraction carried the verbatim OLD boilerplate
    skeleton (gram stream joined back against the corpus-proportional
    first-seen table — slow at 500k, un-hintable, OOM at 5M). The
    rework's only join is the doc-keyed counts ⋈ owners left join, so
    with broadcast disabled the plan carries at most ONE join of any
    kind, and the gram stream feeds nothing but its one aggregate."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.curation import (
        doc_novelty_fraction,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_str(doc_novelty_fraction(spark, SF_SMOKE), "simple")
        n_joins = (
            plan.count("SortMergeJoin")
            + plan.count("ShuffledHashJoin")
            + plan.count("BroadcastHashJoin")
            + plan.count("BroadcastNestedLoopJoin")
            + plan.count("CartesianProduct")
        )
        assert n_joins <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _parse_plan_tree(plan: str) -> dict:
    """Parse simple-mode explain output into {text, children} nodes.
    Spark renders the operator tree with 3-char indentation units and
    introduces every non-root node with '+- ' or ':- '."""
    tree_part = plan.split("===== Subqueries", 1)[0]
    parsed: list[tuple[int, dict]] = []
    for raw in tree_part.splitlines():
        if not raw.strip() or raw.startswith("=="):
            continue
        m = re.search(r"[:+]- ", raw)
        if m:
            depth = m.start() // 3 + 1
            text = raw[m.end() :]
        elif not raw[0].isspace():
            depth, text = 0, raw
        else:  # continuation/detail line
            continue
        parsed.append((depth, {"text": text, "children": []}))
    root = parsed[0][1]
    stack: list[tuple[int, dict]] = [(0, root)]
    for depth, node in parsed[1:]:
        while stack and stack[-1][0] >= depth:
            stack.pop()
        stack[-1][1]["children"].append(node)
        stack.append((depth, node))
    return root


def test_store_serving_join_never_builds_on_the_store(spark):
    """r12 scale finding (BENCH_NOTES_r12 §7): at the 5M-doc store
    probe the optimizer picked a STORE-derived side as a broadcast
    build (zstd-compressed parquet size estimates sat under the 64 MB
    auto-broadcast threshold) and collected >1 GiB of task results
    into the driver — a guaranteed driver OOM at deployment scale.
    minhash_near_dups_vs_store now pins every build side to the
    batch-derived frame. The plan-level contract: store rows may only
    flow through an Exchange (shuffle or broadcast collection) AFTER a
    BroadcastHashJoin has already cut them on its STREAMED side —
    i.e. no exchange ever moves raw corpus-scale store rows."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        doc_arrivals_dedup_store,
    )

    plan = plan_str(doc_arrivals_dedup_store(spark, SF_SMOKE), "simple")
    root = _parse_plan_tree(plan)

    def is_store_scan(text: str) -> bool:
        # only the signature store carries toks_h / minhash columns
        return "Scan parquet" in text and ("toks_h" in text or "mh_0" in text)

    def paths_to_scan(node: dict):
        if is_store_scan(node["text"]):
            yield [node]
        for child in node["children"]:
            for p in paths_to_scan(child):
                yield [node] + p

    # the store must appear at all (guards against the test silently
    # passing if the lineage stops reading the parquet store)
    assert any(True for _ in paths_to_scan(root)), plan

    bad: list[str] = []

    def walk(node: dict) -> None:
        text = node["text"]
        if text.startswith(("Exchange", "BroadcastExchange")):
            for p in paths_to_scan(node):
                protected = False
                for i, step in enumerate(p):
                    if "BroadcastHashJoin" in step["text"] and i + 1 < len(p):
                        build = step["children"][
                            0 if "BuildLeft" in step["text"] else 1
                        ]
                        if p[i + 1] is not build:
                            protected = True  # scan on the streamed side
                            break
                if not protected:
                    bad.append(text[:100])
        for child in node["children"]:
            walk(child)

    walk(root)
    assert not bad, (bad, plan)


def test_ivf_serving_scans_are_statically_partition_pruned(spark):
    """r13 e10m finding: the cluster equi-join against the broadcast
    probe side pruned COMPUTE but not I/O — dynamic partition pruning
    declined to fire across the Python-evaluated probe, so the
    cluster-partitioned index scan read every cell
    (`PartitionFilters: [isnotnull(cluster)]`; IVF-PQ served in 47 s
    at 10M vectors, slower than the unpruned plain-ADC scan). Both
    serving paths now collect the bounded probed-cell set and apply
    it as a LITERAL isin on the partition column; the scan of a
    partitioned on-disk index must carry a static INSET partition
    filter."""
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        embedding_ivf_topk,
        embedding_ivfpq_topk,
    )

    for q in (embedding_ivf_topk, embedding_ivfpq_topk):
        plan = plan_str(q(spark, SF_SMOKE))
        scan_filters = [
            line
            for line in plan.splitlines()
            if "PartitionFilters" in line and "cluster" in line
        ]
        assert scan_filters, f"{q.__name__}: no partitioned cluster scan\n{plan}"
        assert any("INSET" in line or " IN (" in line for line in scan_filters), (
            f"{q.__name__}: cluster scan not statically pruned: {scan_filters}"
        )


def test_store_serving_fallback_join_also_protects_the_store(spark, monkeypatch):
    """r14 (VERDICT r13 item 5): the arrival token-set broadcast in
    minhash_near_dups_vs_store is size-gated — a backfill-scale batch
    falls back to a plain equi-join of two batch-bounded sides. The
    fallback plan must satisfy the same contract as the broadcast
    plan: no exchange ever moves raw corpus-scale store rows, and the
    store is never a broadcast build side."""
    from etl_with_s3__dynamodb_and_glue_spark.operators import gates
    from etl_with_s3__dynamodb_and_glue_spark.plans.llm_ops import (
        doc_arrivals_dedup_store,
    )

    monkeypatch.setattr(gates, "ARRIVAL_BROADCAST_MAX_BYTES", 0)
    plan = plan_str(doc_arrivals_dedup_store(spark, SF_SMOKE), "simple")
    root = _parse_plan_tree(plan)

    def is_store_scan(text: str) -> bool:
        return "Scan parquet" in text and ("toks_h" in text or "mh_0" in text)

    def paths_to_scan(node: dict):
        if is_store_scan(node["text"]):
            yield [node]
        for child in node["children"]:
            for p in paths_to_scan(child):
                yield [node] + p

    assert any(True for _ in paths_to_scan(root)), plan

    bad: list[str] = []

    def walk(node: dict) -> None:
        text = node["text"]
        if text.startswith(("Exchange", "BroadcastExchange")):
            for p in paths_to_scan(node):
                protected = False
                for i, step in enumerate(p):
                    if "BroadcastHashJoin" in step["text"] and i + 1 < len(p):
                        build = step["children"][
                            0 if "BuildLeft" in step["text"] else 1
                        ]
                        if p[i + 1] is not build:
                            protected = True
                            break
                if not protected:
                    bad.append(text[:100])
        for child in node["children"]:
            walk(child)

    walk(root)
    assert not bad, (bad, plan)
