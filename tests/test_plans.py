"""Physical-plan shape assertions: the scale contract.

Correctness tests prove the operators compute the right answer at small
scale; these prove the *plans* are the ones that survive a 100 TB /
1000-executor scale-up: filters and projections reach the parquet
reader, small dimensions broadcast, order-by+limit plans as top-k (no
global sort), aggregations have a map-side partial step, pairwise
operators never plan a cartesian product, and the known Catalyst
expression-duplication traps (expensive expressions inlined into
per-row scan filters) stay fixed.
"""

from __future__ import annotations

import re

import pytest

from lakehouse_platform_nyc_taxi_spark import harness
from lakehouse_platform_nyc_taxi_spark.operators import fencing

from .conftest import SF_ORACLE


def plan_of(spark, name: str) -> str:
    """Formatted physical plan (same text as df.explain('formatted'))."""
    df = harness.registry()[name].fn(spark, SF_ORACLE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def optimized_of(spark, name: str) -> str:
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    df = harness.registry()[name].fn(spark, SF_ORACLE)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_push_to_parquet(spark):
    plan = plan_of(spark, "scan_projection_filter")
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "GreaterThan" in plan
    # only the 4 referenced columns are read, not the 11-column lineitem
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) <= {"l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate", "l_discount"}
    assert "l_comment" not in m.group(1)


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "join_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_orderby_limit_is_topk_not_global_sort(spark):
    plan = plan_of(spark, "orderby_limit_topk")
    assert "TakeOrderedAndProject" in plan
    # a global Sort exchange would be the non-scalable plan
    assert "rangepartitioning" not in plan.lower()


def test_similarity_topk_is_topk_with_broadcast_query(spark):
    plan = plan_of(spark, "similarity_topk_bruteforce")
    assert "TakeOrderedAndProject" in plan
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan  # 1-row side is broadcast, not cartesian


def test_aggregations_have_partial_step(spark):
    for name in ("agg_pricing_summary", "agg_daily_rollup", "dedup_exact"):
        plan = plan_of(spark, name)
        assert "partial" in plan.lower(), f"{name}: no map-side partial aggregation"


def test_pairwise_operators_never_cartesian(spark):
    for name in (
        "dedup_minhash_lsh_pairs",
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
        "dedup_exact_substring",
        "dedup_incremental_minhash",
        "multimodal_phash_neardup",
        "dedup_simhash_neardup",
        "dedup_audio_neardup",
        "join_asof",
        "join_range",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name} planned a cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} planned a nested-loop join"


def test_no_expensive_expression_inlined_into_scan_filters(spark):
    """Regression for the two measured Catalyst traps (6-50x slowdowns):
    InferFiltersFromGenerate and constraint propagation inlining
    array-transform pipelines into per-row Filter/Scan nodes."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh_pairs", "dedup_embedding_cosine"):
        plan = optimized_of(spark, name)
        for line in plan.split("\n"):
            if "Filter" in line and "Generate" not in line:
                assert "transform(" not in line, (
                    f"{name}: HOF pipeline inlined into a filter:\n{line[:300]}"
                )


GRAM_QUERIES = (
    "dedup_ngram_jaccard", "dedup_clusters", "dedup_cluster_containment",
    "dedup_ngram_containment", "dedup_cluster_survivors", "dedup_decontamination",
    "sampling_fold_leakage", "text_gram_novelty", "dedup_lsh_precision",
    "dedup_cluster_purge", "text_decontamination", "corpus_overlap_matrix",
    "corpus_novelty",
)


#: Queries whose gram table goes through ``fence_if_small``, which
#: checkpoints it while the query is built and leaves only a LogicalRDD
#: in the plan.
FENCED_GRAM_QUERIES = ("corpus_overlap_matrix", "corpus_novelty")
#: Queries that read a checkpointed pair table or component labels
#: (session artifacts built by the n-gram Jaccard/containment cores), so
#: their own plans hold no gram lambda.
PAIR_TABLE_QUERIES = (
    "dedup_clusters", "dedup_cluster_containment", "dedup_cluster_survivors",
    "sampling_fold_leakage", "dedup_cluster_purge",
)


@pytest.mark.parametrize("name", GRAM_QUERIES)
def test_gram_lambdas_never_split_text(spark, monkeypatch, name):
    """Word n-grams are built from a projected token column: no regex
    split may run inside a higher-order-function lambda, once per gram
    window instead of once per document."""
    if name in FENCED_GRAM_QUERIES:
        # the fence's own lazy branch (above its budget), so the gram
        # lambdas stay in the optimized plan
        monkeypatch.setattr(fencing, "fence_if_small", lambda df, *a, **k: df)
    plan = optimized_of(spark, name)
    if name not in PAIR_TABLE_QUERIES:
        assert "lambdafunction(" in plan, f"{name}: no gram lambda in the plan"
    for m in re.finditer(r"lambdafunction\(", plan):
        depth = 0
        for end in range(m.end() - 1, len(plan)):  # to the matching ")"
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        body = plan[m.start():end]
        assert "split(" not in body, f"{name}: split inside a lambda:\n{body[:300]}"


def test_whole_stage_codegen_covers_scan_queries(spark):
    # text_stats moved out of this list: its scan-parallelize repartition
    # puts an AQE boundary above the scan, and pre-execution AdaptiveSparkPlan
    # output doesn't mark codegen spans (they still happen at runtime)
    for name in ("cast_rename_projection", "datetime_features", "star_extend_projection"):
        plan = plan_of(spark, name)
        # formatted mode marks codegen'd nodes with a leading '*'
        assert re.search(r"^\s*[+:]?-?\s*\* ", plan, re.M), f"{name}: no codegen span"


def test_incremental_watermark_stays_distributed(spark):
    # the watermark is a 1-row max aggregate broadcast-joined back into the
    # scan — in-plan, lazy, no collected python-side literal; a driver
    # collect would show up as a literal predicate and no join at all
    plan = plan_of(spark, "incremental_watermark")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("Location: InMemoryFileIndex") == 2  # events scanned twice, max + probe


@pytest.mark.parametrize("name", ["agg_rollup", "agg_cube", "agg_grouping_sets"])
def test_multilevel_aggs_use_single_expand(spark, name):
    plan = plan_of(spark, name)
    assert "Expand" in plan, f"{name}: no Expand node"
    # one Expand pass over one scan, not one scan per grouping level
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_batch_similarity_broadcasts_queries_no_cartesian(spark):
    for name in ("similarity_topk_batch", "similarity_topk_ivf_batch"):
        plan = plan_of(spark, name)
        assert "Broadcast" in plan, f"{name}: query batch not broadcast"
        assert "CartesianProduct" not in plan, f"{name} planned a cartesian product"
        assert "SortMergeJoin" not in plan, f"{name}: corpus-side shuffle join"


def test_corpus_curation_shuffle_budget(spark):
    """The curation chain must stay at 2 data shuffles (dedup digest
    groupBy + per-source cap window) plus broadcasts; a third shuffle
    means a stage re-joined something it already had."""
    df = harness.registry()["corpus_curation"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    data_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    # (the explicit round-robin scan-parallelize repartition is excluded:
    # it exists only because the testdata ships one unsplittable row group)
    assert data_shuffles <= 3, plan


def test_embedding_dim_stats_partial_agg(spark):
    plan = plan_of(spark, "embedding_dim_stats")
    assert "partial" in plan.lower()
    assert "Generate" in plan  # posexplode, not a Python UDF


def _exec_plan(spark, name: str) -> str:
    df = harness.registry()[name].fn(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pii_scrub_is_shuffle_free_single_pass(spark):
    """PII scrub must stay a pure mapper fused into the scan: any
    Exchange means someone added a shuffle to a per-row operator."""
    plan = _exec_plan(spark, "text_pii_scrub")
    assert "Exchange" not in plan
    # executedPlan marks whole-stage-codegen'd nodes as "*(n)"
    assert re.search(r"\*\(\d+\)", plan), "no codegen span"


def test_doc_chunking_is_shuffle_free(spark):
    plan = _exec_plan(spark, "doc_chunking")
    assert "Exchange" not in plan


def test_sequence_packing_single_shard_exchange(spark):
    """Packing's only shuffle is the per-shard window cumsum — shards
    pack independently; a global (empty-key) window or extra exchange
    would serialize the 100 TB run."""
    plan = _exec_plan(spark, "sequence_packing")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_ngram_jaccard_df_cap_reuses_posting_exchange(spark):
    """The df cap must ride the posting-list exchange, not re-derive the
    gram pipeline: one posting exchange below the window, the second
    join side reusing it — never two gram-pipeline derivations."""
    plan = _exec_plan(spark, "dedup_ngram_jaccard")
    assert "Window" in plan
    # <= 3: a+b posting exchanges (or one + ReusedExchange) + the final
    # pair-count aggregate; the pre-round-3 df-cap shape added a 4th
    # (separate groupBy over postings) plus a semi join
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    # At scale both sides sort-merge over ONE posting exchange
    # (ReusedExchange); at oracle scale the build side may broadcast
    # instead, which is also a single-derivation plan. Either is fine —
    # what must never appear is a second groupBy-over-postings pipeline
    # (the pre-round-3 shape: an extra aggregate exchange + semi join).
    assert ("ReusedExchange" in plan) or ("BroadcastHashJoin" in plan), plan
    assert "LeftSemi" not in plan


def test_scd2_history_single_key_exchange(spark):
    """All four window passes + the island rollup must share ONE
    hash-partitioning on the dimension key (the sessionize plan family);
    a second data exchange means a window stopped reusing the sort."""
    plan = _exec_plan(spark, "scd2_event_history")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Spark's runtime bloom-filter injection — the 100 TB lever for
    selective dim->fact joins that cannot broadcast: the filtered dim
    side builds a bloom filter at runtime and the fact scan drops
    non-matching rows BEFORE the join shuffle. Production defaults gate
    on a 10 GB application-side scan, so the test lowers the threshold;
    the assertion is that the engine's queries run with the feature ON
    and the plan shape (might_contain on the fact key) appears."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan
        assert j.collect()[0]["count"] > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling — the other 100 TB skew valve beside the
    explicit salting in operators/skew.py: a hot join key whose shuffle
    partition dwarfs the median is split into subpartitions at runtime
    (SortMergeJoin(skew=true) in the FINAL adaptive plan). Thresholds
    are lowered to trigger at test scale; production defaults (256 MB
    advisory, factor 5) do the same on real skew."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 180_100
        # the same QueryExecution that ran carries the final plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_covariance_shuffle_is_cell_bounded(spark):
    """The n*d^2 triple stream must partial-aggregate map-side: the plan
    has a partial HashAggregate below the (i, j) exchange, so shuffle
    volume is O(tasks * d^2), never the exploded stream; the marginal
    joins broadcast (d-row side)."""
    plan = plan_of(spark, "embedding_covariance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # partial-then-final aggregate pairs around the exchange
    assert plan.count("HashAggregate") >= 2


def test_collocations_corpus_never_shuffles_twice(spark):
    """Bigram/unigram counts partial-aggregate before their exchanges;
    corpus totals enter as 1-row broadcasts, not shuffles; the count
    joins are vocabulary-sized."""
    df = harness.registry()["text_collocations"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # the two 1-row totals
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort


def test_gapfill_no_dense_side_shuffle(spark):
    """Generative gapfill: the only exchanges carry occupied slots
    (<= one per event); the exploded dense rows flow straight to the
    sink with no join or further exchange above the Generate."""
    plan = plan_of(spark, "timeseries_gapfill_15min")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_random_projection_is_shuffle_free(spark):
    """The JL projection must fuse into the scan: literal sign matrix,
    row-local folds — a data-key Exchange means someone broke the
    mapper. (load_table_parallel's roundrobin repartition is the
    documented bench-scale single-row-group artifact, not a shuffle the
    operator asked for.)"""
    plan = _exec_plan(spark, "embedding_random_projection")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Generate" not in plan  # no explode — per-dim folds only


def test_bm25_no_token_explode_no_corpus_shuffle(spark):
    """BM25 computes tf row-locally (array filter) and broadcasts one
    corpus-stats row: no Generate (explode) of the token stream, and the
    only exchanges feed the 1-row stats aggregate / final top-k — never
    a hashpartitioning of the corpus on a data key."""
    plan = _exec_plan(spark, "text_bm25_topk")
    assert "Generate" not in plan, "token explode leaked into BM25"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_lm_surprisal_vocab_side_broadcast(spark):
    """The surprisal join must broadcast the vocabulary-sized count
    table back onto the token stream, not shuffle the corpus twice: one
    hashpartitioning for the vocab count + one for the per-doc rollup."""
    plan = _exec_plan(spark, "text_lm_surprisal")
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_hybrid_rrf_windows_only_over_candidate_sets(spark):
    """Ranks must come from TakeOrdered'd 100-row candidate sets — a
    global Window over the corpus (Exchange SinglePartition feeding a
    Sort over the full scan) would not survive 100 TB. The plan's
    single-partition exchanges must sit above LocalLimit'd subtrees."""
    plan = _exec_plan(spark, "hybrid_search_rrf")
    assert "TakeOrderedAndProject" in plan
    # final top-10 + two candidate generations
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_analyze_statistics_flip_join_to_broadcast(spark, tmp_path):
    """Catalyst's cost-based optimizer consumes ANALYZE TABLE statistics:
    a dimension just over the static autoBroadcast threshold stays
    sort-merge without stats, and flips to broadcast-hash once ANALYZE
    records its true (small) size. Pinning this proves the engine's
    statistics surface is wired, not just configured."""
    spark.sql("CREATE DATABASE IF NOT EXISTS cbo_t")
    try:
        spark.sql("DROP TABLE IF EXISTS cbo_t.fact")
        spark.sql("DROP TABLE IF EXISTS cbo_t.dim")
        spark.range(0, 200000).selectExpr(
            "id", "id % 1000 AS k"
        ).write.saveAsTable("cbo_t.fact")
        # ~2 KB of per-row hex digests: incompressible, so the table is
        # ~2 MB on disk and its no-stats (file-size) estimate really is
        # over the threshold; a repeated character compresses to a few KB
        spark.range(0, 1000).selectExpr(
            "id AS k",
            "concat_ws('', transform(sequence(1, 16), i -> sha2(concat(id, ':', i), 512))) AS pad",
        ).write.saveAsTable("cbo_t.dim")
        prev = {
            "spark.sql.cbo.enabled": spark.conf.get("spark.sql.cbo.enabled"),
            "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"
            ),
            "spark.sql.adaptive.enabled": spark.conf.get(
                "spark.sql.adaptive.enabled"
            ),
        }
        try:
            spark.conf.set("spark.sql.cbo.enabled", "true")
            # threshold sits between the no-stats size estimate (file
            # bytes, above) and the ANALYZEd estimate (below); AQE off so
            # the STATIC planner decision is what the plan shows
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024)
            )
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            q = "SELECT count(*) FROM cbo_t.fact f JOIN cbo_t.dim d ON f.k = d.k"
            before = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in before, before
            spark.sql("ANALYZE TABLE cbo_t.dim COMPUTE STATISTICS")
            spark.sql("ANALYZE TABLE cbo_t.fact COMPUTE STATISTICS")
            after = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in after, after
            assert "SortMergeJoin" not in after, after
            # and the statistics are durable catalog state, not session
            stats = spark.sql("DESC EXTENDED cbo_t.dim").collect()
            rows = {r.col_name: r.data_type for r in stats}
            assert "Statistics" in rows and "rows" in rows["Statistics"]
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_t.fact")
        spark.sql("DROP TABLE IF EXISTS cbo_t.dim")
        spark.sql("DROP DATABASE IF EXISTS cbo_t")


def test_cbo_statistics_reorder_star_join(spark):
    """Cost-based join REORDER (the companion to the broadcast-flip test):
    a star query written in the worst order — fact x wide-dim first,
    selective dim last — is re-sequenced by the DP join-reorderer once
    ANALYZE column statistics land, so the selective join runs innermost
    and the wide dim joins against the already-shrunk intermediate. At
    100 TB this ordering is the difference between shuffling the fact
    table's full width through the wide dim and shuffling a filtered
    fraction of it."""
    import re

    spark.sql("CREATE DATABASE IF NOT EXISTS ro_t")
    try:
        for t in ("fact", "dwide", "dsel"):
            spark.sql(f"DROP TABLE IF EXISTS ro_t.{t}")
        spark.range(0, 200000).selectExpr(
            "id", "id % 5000 AS k1", "id % 50 AS k2"
        ).write.saveAsTable("ro_t.fact")
        spark.range(0, 5000).selectExpr(
            "id AS k1", "repeat('x', 500) AS pad"
        ).write.saveAsTable("ro_t.dwide")
        spark.range(0, 50).selectExpr(
            "id AS k2", "id % 2 AS flag"
        ).write.saveAsTable("ro_t.dsel")
        prev = {
            k: spark.conf.get(k)
            for k in (
                "spark.sql.cbo.enabled",
                "spark.sql.cbo.joinReorder.enabled",
                "spark.sql.adaptive.enabled",
            )
        }
        try:
            spark.conf.set("spark.sql.cbo.enabled", "true")
            spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            q = """SELECT count(*) FROM ro_t.fact f
                   JOIN ro_t.dwide w ON f.k1 = w.k1
                   JOIN ro_t.dsel s ON f.k2 = s.k2
                   WHERE s.flag = 0"""

            def scan_order():
                opt = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
                return re.findall(r"ro_t\.(\w+)", opt)

            # without stats the written (bad) order survives
            assert scan_order() == ["fact", "dwide", "dsel"]
            for t in ("fact", "dwide", "dsel"):
                spark.sql(f"ANALYZE TABLE ro_t.{t} COMPUTE STATISTICS")
                spark.sql(
                    f"ANALYZE TABLE ro_t.{t} COMPUTE STATISTICS FOR ALL COLUMNS"
                )
            # with stats the selective dim joins first
            assert scan_order() == ["fact", "dsel", "dwide"]
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP DATABASE IF EXISTS ro_t CASCADE")


def test_fuzzy_join_blocked_never_cartesian(spark):
    """Pigeonhole blocking must reach the plan as a plain equi-join on
    (len, seg_i, seg) — an all-pairs cartesian (or non-equi nested-loop
    join) means the blocking keys were lost to a filter rewrite."""
    plan = plan_of(spark, "fuzzy_join_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_lineage_is_truncated(spark):
    """The returned plan must NOT re-embed the whole iterative tree:
    without per-iteration localCheckpoint the plan re-reads the source
    once per path through the loop (hundreds of scans by iteration 3).
    After truncation the final plan reads the checkpointed rank vector
    plus at most the nation dimension."""
    plan = _exec_plan(spark, "graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # checkpointed rank vector
    assert plan.count("FileScan parquet") <= 1  # the nation dim only


def test_pagerank_iteration_shape_one_shuffle_one_scalar_broadcast(spark):
    """One declarative iteration (checkpointing off): the edge/rank join
    and per-dst fenced aggregation are hash joins/aggregates; the only
    nested-loop join is the 1-row dangling-mass crossJoin (the
    repo-standard scalar-broadcast pattern); never a data-sized
    cartesian."""
    from pyspark.sql import functions as F

    from lakehouse_platform_nyc_taxi_spark.operators.graph import pagerank

    edges = spark.range(100).select(
        (F.col("id") % 10).alias("src"),
        ((F.col("id") + 3) % 10).alias("dst"),
        F.lit(1.0).alias("w"),
    )
    out = pagerank(edges, iterations=1, weight="w", checkpoint_every=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_profile_is_single_scan(spark):
    """The wide profile aggregate (counts, nulls, distincts, min/max,
    mean for 4 columns) must read lineitem exactly once — per-column
    rescans are the anti-pattern this operator exists to avoid. The
    the melt-then-aggregate shape partially de-duplicates map-side on
    (col_name, val), so shuffle volume is the per-column distinct-value
    total, never the melted stream."""
    plan = _exec_plan(spark, "table_profile_numeric")
    assert plan.count("FileScan parquet") == 1
    assert "partial" in plan.lower()
    # the rejected alternative (wide aggregate, N count_distincts) plans
    # an Expand keyed by all profiled columns at once — 2.5x slower
    assert "Expand" not in plan


def test_max_concurrency_no_global_sort(spark):
    """The sweep line sorts within event_type window partitions only: a
    rangepartitioning exchange (global sort) would serialize the whole
    boundary stream through one task order at 100 TB."""
    plan = plan_of(spark, "events_max_concurrency")
    assert "Exchange rangepartitioning" not in plan


def test_ohlc_is_single_agg_no_window_sort(spark):
    """open/close come from arg-extreme aggregates: one partial-agg
    shuffle, no Window node, no sort — the row_number-over-window
    formulation would range-sort every group."""
    plan = _exec_plan(spark, "timeseries_ohlc")
    assert "Window" not in plan
    assert "partial" in plan.lower()
    assert "Exchange rangepartitioning" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Hive-partitioned fact joined to a filtered dim must plan a
    dynamicpruning PartitionFilter: at 100 TB the dim filter's matching
    partition values are broadcast into the fact scan at runtime, so
    the scan opens only the surviving partitions — without DPP every
    partition is read and filtered post-join."""
    p = str(tmp_path / "fact_parts")
    spark.range(0, 2000).selectExpr(
        "id", "id % 10 AS d", "id * 1.0 AS v"
    ).write.partitionBy("d").parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [(i, f"n{i}") for i in range(10)], "d long, name string"
    ).filter("name = 'n3'")
    q = fact.join(dim, "d").groupBy("name").sum("v")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = q._jdf.queryExecution().explainString(mode)
    assert "dynamicpruning" in plan.lower(), plan


def test_dv_read_anti_join_broadcasts_tombstones(spark, tmp_path):
    """Reading a MOR-deleted snapshot table plans the deletion-vector
    anti-join with the (tombstone-sized) DV side broadcast — never a
    shuffle of the data side keyed on (file, pos)."""
    from pyspark.sql import functions as SF

    from lakehouse_platform_nyc_taxi_spark.sources import snapshots as snap

    path = str(tmp_path / "dv_plan")
    snap.create_table(
        spark.range(0, 5000).select(
            SF.col("id"), (SF.col("id") % 10).alias("bucket")
        ).repartition(4),
        path,
    )
    snap.delete_where_mor(spark, path, SF.col("id") < 100)
    df = snap.read_table(spark, path)
    assert df.count() == 4900
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------------- round-6 operator wave
def test_triangle_count_never_cartesian(spark):
    """Degree-ordered triangle counting must stay equi-join shaped —
    the 3-way closure is joins on (u) and (x, y), never a product."""
    plan = plan_of(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_degree_stats_single_aggregation_pass(spark):
    """The melt formulation aggregates once on node — joining two
    per-direction aggregates would plan 2+ aggregate exchanges over the
    edge stream."""
    plan = plan_of(spark, "graph_degree_stats")
    # exactly one exchange keyed by the melted node column
    assert len(re.findall(r"hashpartitioning\(node", plan)) == 1


def test_basket_pairs_generated_map_side(spark):
    """Pair generation is an explode over each basket's sorted array —
    the item stream shuffles ONCE (to group baskets) + once for the
    pair count; the self-join formulation would shuffle it twice before
    counting. No join anywhere in the plan."""
    plan = plan_of(spark, "basket_pair_histogram")
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert join not in plan, join
    assert "explode(flatten(transform" in plan


def test_funnel_single_user_shuffle(spark):
    """The greedy fold runs row-local after ONE shuffle on user; the
    3-pass oracle shape (join per stage) must not leak in."""
    plan = plan_of(spark, "events_funnel")
    for join in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert join not in plan, join
    assert len(re.findall(r"hashpartitioning\(u(?:ser_id)?#", plan)) == 1


def test_salted_agg_two_phase(spark):
    """Phase 1 keys on (key, salt), phase 2 on key alone — the hot-key
    split must be visible as the two grouping shapes."""
    plan = plan_of(spark, "join_skew_salted")
    assert "_salt" in plan
    # final exchange on the bare key (merge phase)
    assert re.search(r"hashpartitioning\(l_returnflag#\d+, \d+\)", plan), plan


def test_round10_operators_plan_shapes(spark):
    # Gopher gate: a pure projection — no keyed shuffle anywhere (the
    # only allowed Exchange is the scan-parallelize round-robin from
    # load_table_parallel, which carries no partitioning key).
    plan = plan_of(spark, "quality_gopher_rules")
    assert "hashpartitioning" not in plan.lower(), (
        "gopher_rules should be a shuffle-free projection"
    )
    # C4 gate: same contract — a single codegen projection, zero keyed
    # shuffles.
    plan = plan_of(spark, "quality_c4_rules")
    assert "hashpartitioning" not in plan.lower(), (
        "c4_rules should be a shuffle-free projection"
    )
    # SemDeDup: the within-cluster pair join is keyed on cell (equi),
    # never a nested loop / cartesian over the corpus.
    plan = plan_of(spark, "embedding_kmeans_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Overlap matrix: the shingle self-join is hash-keyed (equi on the
    # md5 long); only the C(S,2)-row source pair frame may nested-loop.
    plan = plan_of(spark, "corpus_overlap_matrix")
    assert "CartesianProduct" not in plan


def test_pq_adc_serving_is_lookup_projection(spark):
    """PQ ADC serving (the repeated-query hot path): after the one-time
    code pivot, scoring must be a pure lookup projection — no join of
    any kind and exactly ONE keyed exchange (the pivot groupBy); the
    top-k is TakeOrdered, never a global sort."""
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import (
        PqCodebook,
        pq_adc_topk,
    )

    codes = spark.createDataFrame(
        [(i, s, (i + s) % 2) for i in range(6) for s in range(2)],
        "vec_id long, sub int, cell int",
    )
    book = PqCodebook(
        m=2,
        k=2,
        dims=4,
        cents={
            s: [(c, [0.1 * (s + 1), 0.2 * (c + 1)], 0.05) for c in range(2)]
            for s in range(2)
        },
    )
    df = pq_adc_topk(codes, book, [1.0, 0.0, 0.0, 1.0], k=3)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "Join" not in plan, plan
    assert plan.lower().count("hashpartitioning") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_round10b_operators_plan_shapes(spark):
    # Hard negatives: the labeled query batch must broadcast; the corpus
    # never shuffles for the scoring join.
    plan = plan_of(spark, "similarity_hard_negatives")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    # Novelty: hashed-shingle groupBys only — no pairwise join at all.
    plan = plan_of(spark, "corpus_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # HT estimate: membership is a row-local filter fused into the scan —
    # the sample stage itself must not add a keyed exchange beyond the
    # two group aggregates (sample-side + exact-side).
    plan = plan_of(spark, "sampling_bernoulli_estimate")
    assert plan.lower().count("hashpartitioning") <= 3, plan
    # Winsorize: bound table joins back by broadcast, not a shuffle join.
    plan = plan_of(spark, "events_winsorize")
    assert "BroadcastHashJoin" in plan


def test_tpch_star_joins_broadcast_dims(spark):
    for name in (
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        "tpch_q10_returned_items",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q12_shipping_delay",
        "tpch_q13_customer_distribution",
        "tpch_q14_promo_effect",
        "tpch_q15_top_supplier",
        "tpch_q17_small_quantity_revenue",
        "tpch_q18_large_volume_customer",
        "tpch_q19_discounted_revenue",
        "tpch_q22_global_sales_opportunity",
        "tpch_q4_order_priority",
        "tpch_q21_suppliers_who_kept_waiting",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        # every scan carries a pushed filter or pruned schema
        assert "PushedFilters" in plan, name


def test_tpch_q6_is_scan_plus_partial_agg(spark):
    # Q6 is the scan-bandwidth query: no join at all, predicate pushed,
    # and the scan reads only the 4 columns the predicate/agg touch.
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    assert "Join" not in plan
    assert "PushedFilters: [" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_round11_sketch_stats_plan_shapes(spark):
    # CMS: probe estimates join the bounded cell table by broadcast.
    plan = plan_of(spark, "agg_count_min_sketch")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # Chi-squared: margins broadcast onto the bounded grid; the only
    # nested-loops are the 1-row totals / domain cross joins.
    plan = plan_of(spark, "stats_chi_squared")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # AB lift / Markov: pure aggregate/window pipelines — no join at all.
    for name in ("stats_ab_lift", "events_markov_transitions"):
        plan = plan_of(spark, name)
        assert "Join" not in plan, name


def test_dsir_ratio_table_broadcasts_mixture_has_no_explode(spark):
    # DSIR: the 4096-row log-ratio table must broadcast back onto the
    # token stream (never a shuffle join), and the only nested-loop is
    # the 1-row totals cross join.
    for name in ("sampling_dsir_weights", "sampling_dsir_select"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # Mixture planner: token counts are row-local size(split(...)) —
    # no explode (Generate), no join of any kind.
    plan = plan_of(spark, "corpus_mixture_plan")
    assert "Generate" not in plan
    assert "Join" not in plan


def test_tpch_q18_single_lineitem_scan(spark):
    # The IN-subquery + regroup folds into ONE lineitem aggregation
    # (orders/customer join 1:1 onto the per-order sums), so the fact
    # table must scan exactly once and nothing sort-merges.
    plan = plan_of(spark, "tpch_q18_large_volume_customer")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_entity_resolution_plan_pinned(spark):
    """VERDICT r11 #3: pin entity_resolution_golden's timed plan shape.
    The eval-scale pair graph takes connected_components' union-find
    fast path (one MapInPandas over a coalesced partition — no
    iterative exchange ladder), and the golden-record assembly must
    never plan a cartesian or nested-loop join. Exchange count is
    bounded so a future edit can't silently re-introduce the per-round
    shuffle stack into the timed path."""
    plan = plan_of(spark, "entity_resolution_golden")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan, "small-graph union-find path not taken"
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 8, f"ER timed plan grew to {n_exchanges} exchanges:\n{plan[:2000]}"


def test_running_sums_take_small_input_fast_path(spark):
    """VERDICT r11 #4 / r12 #5: the exact running sums in
    agg_weighted_median and events_max_concurrency go through
    two_phase_running_sum, whose row-count guard picks the plan by
    scale. At eval scale (row count under the 4M guard) the SINGLE-
    window form must run — the bucketed form's extra shuffle + offset
    join cost ~1.5 s here for skew protection the input doesn't need.
    Above the guard the bucketed shape is pinned by
    test_two_phase_running_sum_guards (detail window partitions by
    (key, range _bucket), never the bare 3-value group key)."""
    for name, detail_marker in (
        ("agg_weighted_median", "l_orderkey"),
        ("events_max_concurrency", "delta"),
    ):
        plan = optimized_of(spark, name)
        specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
        detail = [s for s in specs if detail_marker in s]
        assert detail, f"{name}: detail window not found in plan"
        assert "_bucket" not in plan, (
            f"{name}: small-input fast path not taken at eval scale"
        )


def test_gram_novelty_single_pass_no_join(spark):
    """text_gram_novelty must compute first-occurrence via a window
    over the gram partition — NO join anywhere in the plan (the
    groupBy+join formulation tokenizes the corpus twice; measured
    15.6 s vs 1.5 s at sf0.1)."""
    plan = plan_of(spark, "text_gram_novelty")
    assert "Join" not in plan, plan[:2000]
    assert "Window" in plan


def test_decontamination_single_gram_shuffle(spark):
    """dedup_decontamination: the has-eval flag is a window over ONE
    exploded gram table; the only join is the 1-row broadcast
    combiner. Exactly one hashpartitioning exchange may carry the
    gram column."""
    import re

    plan = plan_of(spark, "dedup_decontamination")
    joins = re.findall(r"\w*Join\w*", plan)
    assert all("BroadcastNestedLoopJoin" in j or j == "Join" for j in joins), joins
    gram_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "gram" in l
    ]
    assert len(gram_exchanges) <= 1, gram_exchanges


def test_r13_wave_never_cartesian(spark):
    """No r13 query may plan a CartesianProduct; the 1-row/cell-bounded
    combiner crossJoins must stay BroadcastNestedLoop over bounded
    sides (whitelisted per query)."""
    bounded_bnlj_ok = {
        # 1-row aggregate combiners / bounded-candidate composers
        "dedup_decontamination", "sampling_fold_leakage",
        "stats_bootstrap_ci", "sampling_priority_estimate",
        "orders_pareto_share", "similarity_mmr_rerank",
        # |sources|^2 matrix assembly over per-source aggregates
        "dedup_cluster_containment",
    }
    for name in (
        "tpcds_q5_channel_rollup", "tpcds_q38_period_intersect",
        "tpcds_q47_yoy_ratio", "tpcds_q51_cumulative_join",
        "tpcds_q67_rollup_topk", "sampling_reservoir_weighted",
        "sampling_priority_estimate", "dedup_cluster_containment",
        "dedup_decontamination", "sampling_fold_leakage",
        "stats_mann_whitney", "stats_bootstrap_ci", "orders_cohort_ltv",
        "text_gram_novelty", "graph_link_prediction",
        "similarity_mmr_rerank",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name} planned a cartesian"
        if name not in bounded_bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} planned a nested-loop join"
            )


def test_link_prediction_backbone_is_takeordered_not_global_window(spark):
    """VERDICT r13 #1: the backbone top-k must plan as
    TakeOrderedAndProject (per-partition k-row heaps) — the old
    row_number()-over-unpartitioned-window form moved the ENTIRE
    collapsed edge table to one partition and sorted it in one task.
    No windowspecdefinition without a partition spec may appear over
    the edge table."""
    plan = plan_of(spark, "graph_link_prediction")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    opt = optimized_of(spark, "graph_link_prediction")
    assert "windowspecdefinition" not in opt, (
        "backbone regressed to a window formulation:\n" + opt[:2000]
    )


def test_zipf_rank_has_no_global_sort_window(spark):
    """VERDICT r13 #5: the vocabulary rank must come from the midrank
    composition (bounded offset joins + row_number partitioned by
    (cnt, bucket)) — not a row_number over an unpartitioned window,
    which sorts the whole vocabulary in one task. Every window spec in
    the optimized plan must carry a partition list naming cnt."""
    opt = optimized_of(spark, "text_zipf_fit")
    specs = re.findall(r"windowspecdefinition\([^)]*\)", opt)
    assert specs, "expected the (cnt, bucket)-partitioned row_number window"
    for s in specs:
        assert "cnt" in s and "_bkt" in s, f"unpartitioned window spec: {s}"


def test_rfm_boundary_path_has_no_global_ntile(spark):
    """VERDICT r13 #2: the forced boundary path (small_users=0) must
    plan NO ntile window at all — tile assignment is a row-local array
    fold over one broadcast boundary row; the only remaining windows
    are two_phase_running_sum internals over the count-grouped
    boundary tables (value-cardinality-sized, not user-sized)."""
    from lakehouse_platform_nyc_taxi_spark.operators import stats
    from lakehouse_platform_nyc_taxi_spark.sources import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    df = stats.rfm_segments(ev, "user_id", "ts", "value", small_users=0)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ntile" not in opt, opt[:2000]


def test_bootstrap_replicates_collapse_before_shuffle(spark):
    """stats_bootstrap_ci: the B-replicate explode must partial-
    aggregate map-side — the only hashpartitioning exchange over the
    replicate key carries the 64-row partial table, so no exchange
    input is B x N rows."""
    plan = plan_of(spark, "stats_bootstrap_ci")
    assert "partial" in plan.lower()
    assert "Generate explode" in plan or "explode" in plan


def test_r14_wave_plan_shapes(spark):
    """r14 additions: no cartesians anywhere; Q69's EXISTS/NOT-EXISTS
    chain decorrelates to semi/anti hash joins; Q88 is one scan with
    NO join; ECE's only joins are 1-row broadcast combiners; the
    conformal rank-k election never plans an unpartitioned row_number
    over the calibration split."""
    for name in (
        "tpcds_q69_exists_gate", "tpcds_q88_time_bands",
        "stats_ece_calibration", "stats_conformal_coverage",
        "timeseries_holt_winters",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name} planned a cartesian"
    q69 = plan_of(spark, "tpcds_q69_exists_gate")
    assert "LeftSemi" in q69 and "LeftAnti" in q69
    q88 = plan_of(spark, "tpcds_q88_time_bands")
    assert "Join" not in q88, q88[:1500]
    assert "partial" in q88.lower()  # map-side conditional-count partials
    conf = optimized_of(spark, "stats_conformal_coverage")
    for s in re.findall(r"windowspecdefinition\([^)]*\)", conf):
        assert "_g" in s, f"unpartitioned window in conformal plan: {s}"
    for name in ("stats_roc_auc", "stats_ks_two_sample",
                 "stats_brier_decomposition"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name} planned a cartesian"
        assert "SortMergeJoin" not in plan, f"{name}: non-broadcast join"
        assert "partial" in plan.lower(), f"{name}: no map-side partials"


def test_lift_gain_no_row_scale_sort(spark):
    """stats_lift_gain: bucket assignment happens on the VALUE-grouped
    table via a broadcast boundary array — no ntile, and every window
    is either two_phase internals or the 10-row output cumsum."""
    opt = optimized_of(spark, "stats_lift_gain")
    assert "ntile" not in opt
    plan = plan_of(spark, "tpcds_q97_overlap")
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


def test_r15_wave_plan_shapes(spark):
    """r15 additions: no cartesians; PR curve / Spearman / Gini never
    plan an ntile or unpartitioned row_number over row-scale data
    (two-phase running sums only); Q36's rank window partitions on the
    grouping level + parent over the rollup output; the Mahalanobis
    outlier top-k is a TakeOrderedAndProject, not a global sort."""
    for name in (
        "stats_pr_curve", "stats_spearman_corr", "orders_gini",
        "timeseries_backtest_accuracy", "events_kaplan_meier",
        "stats_isotonic_calibration", "stats_ols_two_features",
        "events_ips_offpolicy", "profile_benford",
        "profile_fd_violations", "events_sequence_mining",
        "layout_bloom_skipping", "embedding_outlier_scores",
        "tpcds_q36_lochierarchy",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name} planned a cartesian"
    for name in ("stats_pr_curve", "stats_spearman_corr", "orders_gini"):
        opt = optimized_of(spark, name)
        assert "ntile" not in opt, f"{name} planned an ntile"
    q36 = optimized_of(spark, "tpcds_q36_lochierarchy")
    for s in re.findall(r"windowspecdefinition\([^)]*\)", q36):
        assert "lochierarchy" in s, f"unpartitioned Q36 window: {s}"
    out = plan_of(spark, "embedding_outlier_scores")
    assert "TakeOrderedAndProject" in out
    seq = optimized_of(spark, "events_sequence_mining")
    for s in re.findall(r"windowspecdefinition\([^)]*\)", seq):
        assert "user_id" in s, f"unpartitioned lead window: {s}"
    ols = plan_of(spark, "stats_ols_two_features")
    assert "partial" in ols.lower()  # mergeable moment partials


def test_round16_operators_plan_shapes(spark):
    # Image/text Hamming-banded dedup and the trend test: candidate
    # generation is always an equi-join on (band, value) buckets or a
    # key equi-join — never a corpus-sized cartesian.
    for name in ("dedup_phash_clusters", "stats_cochran_armitage"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # Audio feature extraction is a pure mapInPandas pass: the only
    # exchange allowed is the scan-parallelize round robin (no keyed
    # shuffle anywhere).
    plan = plan_of(spark, "multimodal_audio_features")
    assert "hashpartitioning" not in plan.lower(), (
        "audio_frame_features should not shuffle"
    )
    # The ANOVA pair and Herfindahl broadcast their k-row mean/total
    # tables back into the fact scan.
    for name in ("stats_anova_oneway", "stats_brown_forsythe", "orders_herfindahl"):
        plan = plan_of(spark, name)
        assert "BroadcastExchange" in plan, f"{name}: k-row stats table not broadcast"


def test_fence_sites_never_cartesian_below(spark):
    """r19 fence audit (VERDICT r18 #3): a localCheckpoint fence erases
    Catalyst size stats, which once flipped a downstream non-equi join
    to CartesianProduct (the r18 containment incident). Pin every
    fence-consuming query's plan cartesian-free; BNLJ only where the
    r13 pin already whitelists a bounded combiner side."""
    bounded_bnlj_ok = {
        # 1-row / bounded-side combiner crossJoins (exactly the sites
        # where the sf0.01 plans show a BNLJ today — tight whitelist)
        "basket_association_rules",   # 1-row basket-total cross join
        "text_lm_surprisal",          # 1-row total-tokens broadcast
        "text_tfidf_topk",            # 1-row n_docs corpus constant
        "corpus_kl_to_global",        # 1-row grand-total margin
        "text_log_odds_terms",        # 1-row margin combiners
        "sampling_dsir_weights",      # 1-row normalizer
        "sampling_dsir_select",
        "privacy_t_closeness",        # 1-row global distribution join
        "corpus_overlap_matrix",      # |sources|^2 pair frame (tiny side
                                      # broadcast; bounded by definition)
        "layout_bloom_skipping",      # 4-row probe frame range join
    }
    for name in (
        "basket_association_rules",
        "corpus_overlap_matrix",
        "corpus_kl_to_global",
        "text_log_odds_terms",
        "privacy_t_closeness",
        "privacy_l_diversity",
        "sampling_dsir_weights",
        "sampling_dsir_select",
        "text_tfidf_topk",
        "text_lm_surprisal",
        "text_rarity_stats",
        "text_bigram_lm",
        "layout_bloom_skipping",
        "embedding_kmeans_semdedup",
        "orders_gini",
        "dedup_simhash_neardup",
        "multimodal_phash_neardup",
        "dedup_audio_neardup",
        "dedup_phash_clusters",
        "similarity_mmr_rerank",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name} planned a cartesian"
        if name not in bounded_bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} planned a nested-loop join below a fence"
            )


def test_local_checkpoint_keeps_upper_bound_size_estimate(spark, tmp_path):
    """A fence does not erase the Catalyst size estimate: the checkpointed
    ``LogicalRDD`` keeps the estimate of the plan it materialized. That
    estimate is an upper bound scaled from the input files, so a 25-row
    aggregate over a 200k-row file is still estimated far above the bytes
    the checkpoint holds. This is why bounded fenced sides carry explicit
    broadcast hints."""
    path = str(tmp_path / "t")
    spark.range(200_000).selectExpr("id % 25 AS k", "id AS v").write.parquet(path)
    agg = spark.read.parquet(path).groupBy("k").count()
    fenced = agg.localCheckpoint()

    def estimate(df) -> int:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    assert estimate(fenced) == estimate(agg)
    rdd_id = fenced._jdf.queryExecution().optimizedPlan().rdd().id()
    held = {
        i.id(): i.memSize() + i.diskSize()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }[rdd_id]
    assert fenced.count() == 25
    assert estimate(fenced) > 100 * held > 0
