"""Physical-plan assertions: the scale properties (pushdown, pruning,
broadcast, codegen) must hold, not just the results.  These tests pin the
plan shapes so a refactor that silently de-optimizes a query fails CI."""

from __future__ import annotations

import pytest

from ida_ice_energy_simulation_etl_pipeline_spark.plans import ALL_QUERIES

SF = "/root/testdata/sf0.001"


def _executed_plan(spark, name: str) -> str:
    df = ALL_QUERIES[name].fn(spark, SF)
    df.collect()  # materialize so AQE finalizes the plan
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(spark, name: str) -> str:
    df = ALL_QUERIES[name].fn(spark, SF)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_keyed_lookup_pushes_filter_to_scan(spark):
    plan = _executed_plan(spark, "keyed_lookup")
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(o_custkey,5)" in plan.replace(" ", "")


def test_pricing_summary_prunes_columns(spark):
    plan = _executed_plan(spark, "pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    # only the 6 needed columns reach the scan; the other 5 are pruned
    assert "l_quantity" in scan and "l_extendedprice" in scan
    assert "l_partkey" not in scan and "l_suppkey" not in scan


def test_region_revenue_broadcasts_all_dims(spark):
    plan = _executed_plan(spark, "region_revenue")
    # at this scale AQE should resolve every join to broadcast-hash —
    # no sort-merge join anywhere
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_region_revenue_partial_agg_before_shuffle(spark):
    """The lineitem→order-grain pre-aggregate must fire MAP-SIDE: a
    partial_sum below the orderkey exchange means only one pre-combined
    row per (partition, orderkey) crosses the wire — at 100 TB that is
    the difference between shuffling lineitem and shuffling orders."""
    plan = _executed_plan(spark, "region_revenue").split("== Initial Plan ==")[0]
    # the lineitem partial is the one over l_extendedprice (the final
    # r_name/n_name agg has its own partial_sum(order_rev) higher up)
    partial = plan.find("partial_sum((l_extendedprice")
    exchange = plan.find("Exchange hashpartitioning(l_orderkey")
    assert partial != -1, "order-grain partial aggregate missing"
    assert exchange != -1, "order-grain exchange missing"
    # the executed-plan string prints top-down: the exchange node appears
    # ABOVE (before) its child partial aggregate
    assert exchange < partial, "partial aggregate is not below the exchange"


def test_quality_scan_is_single_pass(spark):
    # AQE's toString prints Final + Initial sections; count scans in Final
    plan = _executed_plan(spark, "quality_scan").split("== Initial Plan ==")[0]
    # all seven QA rules in ONE scan of lineitem
    assert plan.count("FileScan parquet") == 1


def test_whole_stage_codegen_active(spark):
    # codegen stages print as "*(n) Operator" in the plan string
    plan = _executed_plan(spark, "pricing_summary")
    assert "*(1)" in plan and "*(2)" in plan


def test_threshold_ratio_no_python_udf(spark):
    for name in ("threshold_ratio", "text_quality", "dedup_exact", "lang_id"):
        plan = _optimized_plan(spark, name)
        assert "PythonUDF" not in plan, f"{name} fell off the JVM fast path"


def test_multimodal_is_arrow_batched(spark):
    plan = _optimized_plan(spark, "multimodal_features")
    # mapInPandas shows as MapInPandas (Arrow), not row-wise BatchEvalPython
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_anti_join_strategy(spark):
    plan = _executed_plan(spark, "customers_without_orders")
    assert "LeftAnti" in plan


def test_similarity_ivf_broadcasts_codebook(spark):
    # the 8-row codebook and the query set must broadcast — the corpus side
    # must never be built into a hash table or cross-joined at scale
    plan = _executed_plan(spark, "similarity_ivf")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_dedup_embedding_joins_on_band_bucket(spark):
    # candidate generation must be an equi-join on the band bucket —
    # a cartesian pair enumeration would be O(n²) at scale
    plan = _executed_plan(spark, "dedup_embedding")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_region_revenue_preaggregates_before_join(spark):
    # the lineitem partial aggregate must sit BELOW the orders join:
    # exactly two hash-aggregate pairs (order-grain rollup + final),
    # and no expand/distinct pass
    plan = _optimized_plan(spark, "region_revenue")
    agg_pos = plan.find("Aggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    assert "Expand" not in plan  # countDistinct would inject Expand


def test_repetition_stats_is_map_only(spark):
    # both repetition signals are array higher-order functions computed
    # inside the row — the plan must have NO explode (Generate) and only
    # the final per-source rollup exchange
    plan = _optimized_plan(spark, "repetition_stats")
    assert "Generate" not in plan, "repetition signals fell back to explode"
    exec_plan = _executed_plan(spark, "repetition_stats").split("== Initial Plan ==")[0]
    # one keyed exchange (the per-source rollup); the RoundRobin repartition
    # is ensure_parallelism's small-input spread, a no-op at real scale
    assert exec_plan.count("Exchange hashpartitioning") <= 1


def test_event_pivot_single_scan_no_distinct_job(spark):
    # explicit pivot values → ONE scan and no separate distinct() job over
    # event_type; Spark plans the pivot as two keyed aggregates (partial
    # sum at (group, value) grain, then pivot assembly), so both exchanges
    # move at most |groups|×|values| rows
    plan = _executed_plan(spark, "event_pivot").split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_orders_rollup_single_expand(spark):
    # ROLLUP = one Expand + one aggregate pair: every granularity from a
    # single shuffle, not one GROUP BY per level
    plan = _optimized_plan(spark, "orders_rollup")
    assert plan.count("Expand") == 1


def test_sessionize_single_exchange(spark):
    # the lag window, the running-sum window, and the (user, session)
    # rollup must all ride ONE user_id exchange: the windows share the
    # sort, and hashpartitioning(user_id) satisfies the rollup's
    # (user_id, session_id) clustering — a second exchange would mean a
    # planner regression
    plan = _executed_plan(spark, "sessionize").split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 2


def test_event_funnel_single_user_exchange(spark):
    # the r7 window-chain funnel: all three step minimums AND the
    # per-user collapse ride ONE user_id exchange (chained selects over
    # the same partitioning add Window operators, not exchanges); the
    # only other keyed exchange is the final single-row aggregate's.
    # A re-join or per-step aggregate would show up as extra exchanges —
    # the shape this pin exists to reject (8 scheduled stages pre-r7).
    plan = _executed_plan(spark, "event_funnel").split("== Initial Plan ==")[0]
    assert plan.count("Window") == 3
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_segmented_funnel_one_exchange_plus_broadcast_dim(spark):
    # same step frame as event_funnel + ONE broadcast dim join + the
    # segment rollup: exactly two keyed exchanges (user_id chain +
    # segment aggregate), customer joined by broadcast only
    plan = _executed_plan(spark, "segmented_funnel").split("== Initial Plan ==")[0]
    assert plan.count("Window") == 3
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_check_union_tag_single_report_aggregate(spark):
    # the r7 union-tag report: after the broadcast SEMI join + doc-grain
    # distinct, the per-source census is ONE conditional aggregate over
    # the tagged union — no join may reappear after the distinct
    plan = _executed_plan(spark, "contamination_check").split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") == 1  # the semi join only
    assert plan.count("SortMergeJoin") == 0
    assert "Union" in plan


def test_seq_packing_window_is_sharded(spark):
    # the running-sum window must partition by source — a global
    # (unpartitioned) window would funnel the corpus through one task
    plan = _executed_plan(spark, "seq_packing")
    assert "SinglePartition" not in plan.split("== Initial Plan ==")[0]


def test_top_tokens_avoids_global_sort(spark):
    # orderBy+limit must compile to TakeOrderedAndProject (per-partition
    # k-heaps + driver merge), never a global Sort over the full aggregate
    plan = _executed_plan(spark, "top_tokens").split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_jaccard_df_cap_adds_no_exchange_at_scale(spark):
    """The df-cap count window must ride the self-join's own shuffle: at
    scale the inverted-index self-join is a SHUFFLED join on shingle_h —
    exactly the partitioning the window needs — so the capped plan may
    not add a single distinct exchange over the uncapped plan.  Broadcast
    is disabled to reproduce the at-scale join strategy (at fixture size
    AQE broadcasts the join, where the window legitimately keeps its own
    exchange; measured wall time there is unchanged — see dedup.py)."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import load_table

    docs = load_table(spark, SF, "documents")

    def n_distinct_exchanges(df) -> int:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        return final.count("Exchange hashpartitioning") - final.count(
            "ReusedExchange"
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        capped = n_distinct_exchanges(ngram_jaccard_pairs(docs))
        uncapped = n_distinct_exchanges(ngram_jaccard_pairs(docs, df_cap=None))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert capped <= uncapped, f"cap added exchanges: {capped} > {uncapped}"


def test_export_summary_is_two_scans_no_shuffle_join(spark):
    # two single-row global aggregates cross-joined: the join must be a
    # 1×1 broadcast nested loop, never a shuffle
    plan = _executed_plan(spark, "export_summary").split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_set_ops_no_cartesian(spark):
    # INTERSECT/EXCEPT must plan as aggregate joins on key-grain rows
    plan = _executed_plan(spark, "set_ops")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_split_sample_and_fingerprint_are_map_only(spark):
    # both merged text queries are per-row hash derivations: no explode,
    # no Python, at most the one final rollup exchange
    for name in ("split_sample", "text_fingerprint"):
        plan = _optimized_plan(spark, name)
        assert "PythonUDF" not in plan, f"{name} fell off the JVM fast path"
        assert "Generate" not in plan, f"{name} gained an explode"
    exec_plan = _executed_plan(spark, "split_sample").split("== Initial Plan ==")[0]
    assert exec_plan.count("Exchange hashpartitioning") <= 1


def test_multimodal_pipeline_both_arrow_paths(spark):
    # the merged query must run BOTH mapInPandas shapes, Arrow-batched,
    # and never fall back to row-wise Python evaluation.  Since the r11
    # EXIF fold the features half carries THREE MapInPandas stages
    # (byte-features extractor + the EXIF writer→reader chain); the
    # frames half keeps its one — four total, all Arrow.
    plan = _optimized_plan(spark, "multimodal_pipeline")
    assert plan.count("MapInPandas") == 4
    assert "BatchEvalPython" not in plan


def test_cube_and_grouping_sets_single_expand(spark):
    # CUBE (8 groupings) and explicit GROUPING SETS (3 groupings) each plan
    # as ONE Expand + one aggregate pair — every grain from a single
    # shuffle, never one GROUP BY per grain
    for name in ("cube_summary", "priority_grouping_sets"):
        plan = _optimized_plan(spark, name)
        assert plan.count("Expand") == 1, f"{name} lost the single-Expand plan"
    # the dim join must resolve below the Expand as a broadcast at this SF
    exec_plan = _executed_plan(spark, "cube_summary")
    assert "SortMergeJoin" not in exec_plan


def test_simhash_hashes_each_token_once(spark):
    """The simhash fold must reference the PRE-HASHED array, not inline
    md5(token) into each of the 16 struct-field expressions (HOF lambdas
    get no CSE, so an inline md5 would run up to 16x per token).  The
    analyzed expression tree must therefore contain exactly ONE md5 call
    — inside the materializing transform()."""
    df = ALL_QUERIES["dedup_simhash"].fn(spark, SF)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.count("md5") == 1, f"expected 1 md5 call, plan has {plan.count('md5')}"
    assert "transform(" in plan


def test_jaccard_single_scan_and_merge_self_join(spark):
    """The shingle computation (scan→explode→hash) is the expensive part
    of the Jaccard kernel: the final AQE plan must run it ONCE, with every
    other consumer reading a ReusedExchange, and the self-join must be the
    pinned sort-merge (one shuffle read twice), never a broadcast rebuild
    of the whole subtree."""
    df = ALL_QUERIES["dedup_ngram_jaccard"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final.count("Scan parquet")
    assert final.count("Generate") == 1  # one explode
    assert final.count("SortMergeJoin") == 1
    assert final.count("ReusedExchange") >= 2


def test_contamination_semi_join_doc_grain_shuffle(spark):
    """Contamination check: the eval gram set joins as the BROADCAST
    side of a SEMI join (only matched gram rows survive it), the
    contaminated-doc distinct shuffles at DOC grain (never the raw
    gram stream), and the third scan — doc totals — is pruned to the
    source column alone, so its bytes are negligible."""
    import re

    df = ALL_QUERIES["contamination_check"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 3, final.count("Scan parquet")
    assert "BroadcastHashJoin" in final and "LeftSemi" in final
    assert "hashpartitioning(doc_id" in final  # doc-level, not gram-level
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", final)
    assert any(s == "source:string" for s in schemas), schemas


def test_ensure_parallelism_fanout_capped_by_shuffle_partitions(spark):
    """The round-robin fan-out never exceeds the session's shuffle
    partitioning: a workload-sized session (bench sets partitions from
    input bytes) must not blast tiny inputs into cores-wide task waves;
    at production settings (partitions >= cores) the cap is inert."""
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import (
        ensure_parallelism,
    )

    cores = spark.sparkContext.defaultParallelism
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        small = max(2, cores // 2)
        spark.conf.set("spark.sql.shuffle.partitions", str(small))
        df = spark.range(1000).coalesce(1)
        assert ensure_parallelism(spark, df).rdd.getNumPartitions() == small
        spark.conf.set("spark.sql.shuffle.partitions", str(cores * 64))
        df2 = spark.range(1000).coalesce(1)
        assert ensure_parallelism(spark, df2).rdd.getNumPartitions() == cores
        # already-parallel inputs are never reshuffled
        df3 = spark.range(1000).repartition(cores * 2)
        assert ensure_parallelism(spark, df3) is df3
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_ensure_parallelism_skips_tiny_file_inputs(spark, tmp_path):
    """Sub-256 KB file-backed inputs skip the round-robin spread — the
    whole table's work fits in one sub-ms task, so the extra exchange
    stage is pure critical-path floor; larger inputs keep the spread."""
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import (
        PARALLELISM_MIN_BYTES,
        ensure_parallelism,
    )

    tiny_path = str(tmp_path / "tiny.parquet")
    spark.range(100).coalesce(1).write.parquet(tiny_path)
    tiny = spark.read.parquet(tiny_path).coalesce(1)
    assert ensure_parallelism(spark, tiny) is tiny

    big_path = str(tmp_path / "big.parquet")
    # incompressible payload so the file comfortably clears the threshold
    spark.range(60000).selectExpr(
        "id", "sha2(cast(id as string), 256) as a", "sha2(cast(id+1 as string), 256) as b"
    ).coalesce(1).write.parquet(big_path)
    big = spark.read.parquet(big_path).coalesce(1)
    import os

    assert (
        sum(
            os.path.getsize(os.path.join(big_path, f))
            for f in os.listdir(big_path)
        )
        >= PARALLELISM_MIN_BYTES
    ), "fixture must exceed the skip threshold for the second assertion"
    assert (
        ensure_parallelism(spark, big).rdd.getNumPartitions()
        > big.rdd.getNumPartitions()
    )

    # inputFiles() percent-encodes file: URIs — a path with a space must
    # still resolve for getsize, or the skip silently never fires for it.
    enc_path = str(tmp_path / "dir with space" / "tiny.parquet")
    spark.range(100).coalesce(1).write.parquet(enc_path)
    enc = spark.read.parquet(enc_path).coalesce(1)
    assert any("%20" in f for f in enc.inputFiles()), (
        "fixture must exercise a percent-encoded URI"
    )
    assert ensure_parallelism(spark, enc) is enc


def test_lsh_band_self_join_is_merge_with_reused_exchange(spark):
    """The MinHash-LSH band self-join must read ONE reused exchange twice
    (pinned sort-merge) — AQE's broadcast pick re-executes the whole
    signature derivation to build the hash side (measured ~2x at sf0.1)."""
    df = ALL_QUERIES["dedup_minhash_lsh"].fn(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert final.count("SortMergeJoin") == 1
    assert final.count("ReusedExchange") >= 1
    assert "BroadcastHashJoin" not in final


def test_tfidf_rides_one_docid_exchange(spark):
    # the doc_id hash repartition is the ONLY corpus-grain exchange: the
    # (doc_id, token) tf aggregate and the per-doc ranking window both
    # reuse its HashPartitioning, and document frequencies come back via
    # broadcast (vocabulary-grain), whose own small shuffle is the one
    # other hashpartitioning exchange allowed here
    plan = _executed_plan(spark, "tfidf_top_terms").split("== Initial Plan ==")[0]
    live = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "ReusedExchange" not in l
    ]
    assert sum("doc_id" in l for l in live) == 1
    assert len(live) <= 2  # + the vocabulary-grain dfreq shuffle
    # the dfreq branch must REUSE the doc_id exchange, not rescan the table
    assert "ReusedExchange" in plan
    assert "BroadcastExchange" in plan


def test_table_profile_pruned_scans(spark):
    # one pruned scan per profiled column, each reading ONLY its column
    # (total bytes = one full-width scan): an unpruned branch would
    # multiply 100 TB reads by the column count
    import re

    from ida_ice_energy_simulation_etl_pipeline_spark.plans.relational import (
        PROFILE_COLUMNS,
    )

    plan = _executed_plan(spark, "table_profile").split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == len(PROFILE_COLUMNS)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == len(PROFILE_COLUMNS)
    for s in schemas:
        assert s.count(":") == 1, f"unpruned profile scan: {s}"


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark):
    """The session enables Spark's runtime bloom-filter injection: a
    selective dim-side predicate should cut the fact scan before the join
    at production scale.  The application-side size threshold (10 GB
    default) is what keeps it OFF at fixture scale, so lower it here to
    pin that the capability actually fires in this session config."""
    from pyspark.sql import functions as F

    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import load_table

    # production-representative conditions: the app side exceeds the scan
    # threshold and the join is a genuine shuffle join (the injection rule
    # tests SIZES, not hints — a broadcastable build side skips it because
    # broadcast already prunes at the join)
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "might_contain" in plan or "bloomfilter" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_similarity_pq_is_map_only_outside_topk(spark):
    """PQ encode + asymmetric scoring must stay in-row over the broadcast
    codebook array: the only hash exchanges allowed in the executed plan
    are the two grouped_topk window phases — a corpus-grain shuffle here
    means the encode regressed to a join+group-by formulation."""
    exec_plan = _executed_plan(spark, "similarity_pq").split("== Initial Plan ==")[0]
    n_hash = exec_plan.count("Exchange hashpartitioning")
    assert n_hash <= 2, f"PQ plan gained a corpus-grain shuffle ({n_hash} exchanges)"
    assert "BroadcastNestedLoopJoin" in exec_plan or "BroadcastExchange" in exec_plan


def test_quality_classifier_is_map_only(spark):
    """Model inference must stay inside codegen: no exchange beyond
    ensure_parallelism's RoundRobin spread, no Generate, no Python eval."""
    plan = _optimized_plan(spark, "quality_classifier")
    assert "Generate" not in plan
    exec_plan = _executed_plan(spark, "quality_classifier").split("== Initial Plan ==")[0]
    assert exec_plan.count("Exchange hashpartitioning") == 0
    assert "BatchEvalPython" not in exec_plan and "ArrowEvalPython" not in exec_plan


def test_incremental_dedup_band_join_is_equi(spark):
    """Batch-vs-index candidate generation must be an equi-join on the
    band bucket — a nested-loop or cartesian pairing would be O(batch x
    index) at scale."""
    plan = _executed_plan(spark, "incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_column_histograms_no_percentile_buffer(spark):
    """The rank-bracket quantile must not regress to percentile()'s
    buffer-everything aggregate (no partial aggregation) nor to the
    Expand-based multi-distinct; the 36-row boundary-target frame must
    broadcast to the cumulative-count stream."""
    plan = _executed_plan(spark, "column_histograms")
    assert "percentile" not in plan.lower()
    assert "Expand" not in plan
    assert "BroadcastExchange" in plan


def test_weighted_sample_single_window_exchange(spark):
    """A-ES scoring is map-only; the only hash exchange is the per-source
    top-k window (grouped-topk two-phase applies beyond fixture scale)."""
    exec_plan = _executed_plan(spark, "weighted_sample").split("== Initial Plan ==")[0]
    assert exec_plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in exec_plan


def test_contamination_overlap_no_expand(spark):
    """Distinct-gram counting must be the stacked-aggregate form — a
    multi-countDistinct compiles to an Expand that doubles the exploded
    gram-grain stream (the shape contamination_check engineers around)."""
    plan = _executed_plan(spark, "contamination_overlap")
    assert "Expand" not in plan


def test_span_scrub_no_cartesian_single_span_shuffle(spark):
    """span_scrub's mark-back must stay an equi-join on span_h (AQE may
    broadcast the dup set when tiny, never nested-loop); the rebuild is
    in-row — no Python eval anywhere."""
    plan = _executed_plan(spark, "span_scrub")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_semantic_broadcasts_codebook_one_cell_shuffle(spark):
    """SemDeDup cell assignment must ride the broadcast codebook in-row
    (no per-vector assignment join); the ONLY corpus-grain hash exchange
    is the cell-id shuffle feeding the per-cell GEMM, which must be the
    Arrow path (FlatMapGroupsInPandas), never row-pickled Python."""
    exec_plan = _executed_plan(spark, "dedup_semantic").split("== Initial Plan ==")[0]
    assert "BroadcastExchange" in exec_plan or "BroadcastNestedLoopJoin" in exec_plan
    assert "FlatMapGroupsInPandas" in exec_plan
    assert "BatchEvalPython" not in exec_plan
    # RoundRobin spread (ensure_parallelism) + the TakeOrdered seed are
    # allowed; corpus-grain hash exchanges must not exceed the one cell
    # shuffle plus the seed codebook's tiny aggregate
    assert exec_plan.count("Exchange hashpartitioning") <= 2


def test_funnel_episodes_single_exchange_no_joins_no_python(spark):
    """The episode twin's whole semantics (greedy anchor chain, per-
    episode step windows) must run IN-ROW after the one user-grain
    collect_list exchange — no joins, no window operators, no Python.
    At 100 TB the only data movement is one events shuffle keyed by
    user_id, with map-side partial collect_lists."""
    plan = _executed_plan(spark, "funnel_episodes").split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_collect_list" in plan  # map-side combine before the wire


def test_boilerplate_scrub_no_cartesian_no_python(spark):
    """The per-source df gate must stay equi-join machinery end-to-end:
    the 20-row per-source doc-count joins as a broadcast hash join (never
    nested-loop), the boilerplate mark-back is an equi-join on
    (source, window), and the coverage resolve is in-row — no Python."""
    plan = _executed_plan(spark, "boilerplate_scrub")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # document frequency partial-aggregates map-side before the wire
    assert "partial_count" in plan


def test_dsir_importance_broadcast_model_no_python(spark):
    """DSIR's model must reach the (doc, bucket) partials as a BROADCAST
    (B = 64 rows regardless of corpus size); the only nested-loop allowed
    is the 64×1 smoothing-totals merge; scoring is in-row column math —
    no Python anywhere."""
    plan = _executed_plan(spark, "dsir_importance").split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # totals merge only
    assert "BroadcastHashJoin" in plan  # log-ratios onto the partials
    assert "partial_count" in plan  # feature counts combine map-side


def test_epoch_shuffle_no_global_sort(spark):
    """The contiguous index must come from the bucket+offset composition,
    never a rangepartitioned global sort (one reducer's worth of corpus)
    — and the offset table joins as a broadcast."""
    plan = _executed_plan(spark, "epoch_shuffle")
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_curation_e2e_composed_shape(spark):
    """The chained curation stages must keep their individual shape
    guarantees when composed: no cartesian beyond DSIR's 64×1
    smoothing-totals merge and the one-row BPE merge-table broadcast
    (round-10: packing budgets on real BPE token counts), no
    rangepartitioned global sort for the epoch order, no Python
    anywhere."""
    plan = _executed_plan(spark, "corpus_curation_e2e").split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan
    # DSIR totals merge + the broadcast BPE merge-table fan-out
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_scores_map_only_around_one_row_stats(spark):
    """BM25 with literal query terms must be two map-only corpus scans
    around a one-row stats aggregate: in-row tf filters (no explode, no
    token-grain shuffle), the single broadcast nested-loop fan-out of
    the stats row, no Python, no sort-merge join."""
    plan = _executed_plan(spark, "bm25_scores").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "Generate explode" not in plan  # tf is in-row, never exploded


def test_winnow_fingerprints_in_row_selection(spark):
    """The k-gram hashing and per-window minima must be in-row HOFs —
    the only Generate node is the fingerprint-index explode (the
    winnowed index, density-bounded by construction), the only
    exchanges are source- and fingerprint-grain, the stats⋈distinct
    join broadcasts, no Python."""
    plan = _executed_plan(spark, "winnow_fingerprints").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Generate explode") == 1  # the winnowed index only
    assert "BroadcastHashJoin" in plan  # source-grain stats join


def test_winnow_contamination_semi_join_no_filter_trap(spark):
    """The contamination probe must consume the winnowed index through
    a fingerprint-grain semi join (broadcast or hash — never sort-merge
    or cartesian), with NO monster inferred-filter predicate below the
    Generates (the pushdown trap documented on winnow_fingerprints:
    its signature is a Filter line carrying the full winnowing
    expression — md5 inside a lambda inside a Filter)."""
    plan = _executed_plan(spark, "winnow_contamination").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "LeftSemi" in plan
    for line in plan.splitlines():
        if "Filter" in line and "md5" in line:
            raise AssertionError(
                "inferred-filter pushdown trap resurfaced: " + line[:200]
            )


def test_gopher_rules_in_row_signals_one_exchange(spark):
    """Every Gopher signal must stay an in-row HOF over the token array
    (no explode, no token-grain shuffle, no Python); the only exchange
    is the source-grain aggregate."""
    plan = _executed_plan(spark, "gopher_rules").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" not in plan  # no explode anywhere
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(source") == 1


def test_bm25_serve_broadcast_query_table_one_explode(spark):
    """The multi-query serving shape must keep the inverted index the
    ONLY Generate node (tokens filter against the broadcast request
    vocabulary in-row BEFORE the explode, so the exploded stream is
    query-vocab hits, not corpus tokens); the request table, the per-term
    df and the one-row stats all broadcast — no sort-merge join, no
    non-broadcast cartesian, no token-grain groupBy, no Python."""
    plan = _executed_plan(spark, "bm25_serve").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the df branch re-executes the index lineage, so the hits explode
    # appears twice (two map-side scans, the bm25_scores posture) — but
    # EVERY Generate is over the vocab-filtered hits array; a raw-token
    # explode (Generate explode(split(text...)) would be corpus-token
    # grain and must never appear
    assert plan.count("Generate explode") <= 2
    assert "Generate explode(split(" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # dfreq + query table


def test_ppl_buckets_single_lang_exchange_for_terciles(spark):
    """The tercile window must ride ONE lang-keyed hash exchange (no
    rangepartitioned global sort) on top of lm_perplexity's model
    pipeline; no Python anywhere."""
    plan = _executed_plan(spark, "ppl_buckets").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    # one ntile window, partitioned by lang
    assert plan.count("hashpartitioning(lang") == 1


def test_bpe_encode_broadcast_table_in_row_fold(spark):
    """BPE application must be in-row column math against broadcast
    one-row tables (merge table + vocab): no Python, no token-grain
    shuffle of the corpus — the only exchanges are the tiny pair-count
    and vocab aggregates; the nested-loop joins are exclusively the
    1-row broadcast fan-outs."""
    plan = _executed_plan(spark, "bpe_encode").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # id assignment never shuffles docs
    assert plan.count("BroadcastNestedLoopJoin") <= 3


def test_zipf_fit_vocab_grain_no_global_sort(spark):
    """The rank-curve fit must be the canonical scalable word count
    (token-grain hash agg with map-side partial combine), a per-source
    rank window (hash exchange, never a rangepartitioned global sort),
    and the OLS closed form as plain aggregates — no Python, no
    cartesian, no collect-side math."""
    plan = _executed_plan(spark, "zipf_fit").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    # the rank window rides ONE source-keyed exchange
    assert plan.count("hashpartitioning(source") >= 1


def test_bpe_fertility_broadcast_table_in_row_fold(spark):
    """Fertility reuses bpe_encode's shape: the merge table is a one-row
    broadcast fan-out (never a shuffle join), the greedy fold is in-row,
    and the only corpus-grain operation is the final per-source
    aggregate — no Python, no token-grain corpus shuffle."""
    plan = _executed_plan(spark, "bpe_fertility").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_rake_keywords_doc_grain_window_topk(spark):
    """RAKE segmentation must ride a doc_id-keyed window (bounded by
    document length, never corpus-grain), phrase/word stats must stay
    hash aggregates, and the top-k must be TakeOrdered (limit-pushed),
    never a global sort of the phrase table."""
    plan = _executed_plan(spark, "rake_keywords").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(doc_id" in plan
    assert "TakeOrderedAndProject" in plan


def test_pagerank_topk_never_global_sorts(spark):
    """PageRank's visible tail (iterations are localCheckpoint-truncated)
    must be a TakeOrdered top-k over the checkpointed rank vector — no
    Python, no cartesian, no rangepartitioned global sort."""
    plan = _executed_plan(spark, "pagerank_parts").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "TakeOrderedAndProject" in plan


def test_retention_cohorts_broadcasts_cohort_sizes(spark):
    """The cohort-size join must broadcast (cohort-grain is weeks-count
    rows at any event volume); no Python, no cartesian, no global
    sort."""
    plan = _executed_plan(spark, "retention_cohorts").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_source_divergence_broadcasts_totals(spark):
    """The divergence terms must join at vocab grain with BROADCAST
    totals (source totals + one global row) — no shuffle join of the
    count tables against totals, no Python, no cartesian beyond the
    single-row broadcast fan-out, no global sort."""
    plan = _executed_plan(spark, "source_divergence").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_corpus_decon_e2e_semi_probe_no_traps(spark):
    """The composed Gopher-gate + decontamination chain: the Gopher
    conjunction stays in-row (no Python, no token-grain explode before
    the winnowing Generates), the probe consumes the winnowed index
    through a LEFT SEMI join with the eval side broadcast, and the
    winnow_fingerprints inferred-filter pushdown trap (md5 inside a
    Filter) never resurfaces below the Generates."""
    plan = _executed_plan(spark, "corpus_decon_e2e").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan  # eval fps + flagged ids ride small
    for line in plan.splitlines():
        if "Filter" in line and "md5" in line:
            raise AssertionError(
                "inferred-filter pushdown trap resurfaced: " + line[:200]
            )


def test_heaps_fit_map_only_to_one_source_exchange(spark):
    """Both Heaps coordinates are in-row array sizes — the plan must be
    map-only (no explode, no join, no Python) until the single
    source-grain closed-form-OLS aggregate."""
    plan = _executed_plan(spark, "heaps_fit").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" not in plan  # no explode anywhere
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(source") == 1


def test_winnow_cross_matrix_fp_grain_no_traps(spark):
    """The source-pair overlap matrix must self-join at winnowed-
    fingerprint grain (density-bounded) — never doc×doc, never a
    cartesian — and the winnowing pushdown trap stays absent."""
    plan = _executed_plan(spark, "winnow_cross_matrix").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Filter" in line and "md5" in line:
            raise AssertionError(
                "inferred-filter pushdown trap resurfaced: " + line[:200]
            )


def test_novel_ngrams_partial_agg_before_join(spark):
    """Test-side n-grams must collapse to (source, gram) counts before
    the gram-grain join (partial aggregate on the explode's input
    partitions), and nothing runs in Python."""
    plan = _executed_plan(spark, "novel_ngrams").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # partial aggregation marker below the join: a HashAggregate pair
    assert plan.count("HashAggregate") >= 2


def test_collocation_pmi_vocab_grain_broadcast_totals(spark):
    """PMI joins stay at vocab/bigram grain with the one-row totals
    riding a broadcast; no Python, no cartesian fan-out."""
    plan = _executed_plan(spark, "collocation_pmi").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_lzw_tiff_census_two_arrow_stages_one_exchange(spark):
    """The LZW-TIFF census composes the synthetic writer and the real
    codec stack as chained Arrow mapInPandas stages (map-only with the
    scan); the only exchange is the source-grain aggregate."""
    plan = _executed_plan(spark, "lzw_tiff_census").split(
        "== Initial Plan =="
    )[0]
    assert plan.count("MapInPandas") == 2
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning(source") == 1


def test_triangle_count_no_cartesian_semi_close(spark):
    """Degree-oriented triangle counting: the wedge join and the
    edge-grain closing probe must be hash joins (no cartesian), the
    closing probe a LEFT SEMI, and nothing runs in Python."""
    plan = _executed_plan(spark, "triangle_count").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_embedding_dispersion_fixed_fanout_broadcast_rejoin(spark):
    """The centroid path's posexplode is a FIXED ×dim fan-out feeding a
    dim-grain aggregate; the rejoin rides a broadcast (|labels| rows);
    the cosine stays an in-JVM fold (no Python)."""
    plan = _executed_plan(spark, "embedding_dispersion").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_neyman_sample_dim_windows_broadcast_quota(spark):
    """Neyman allocation: the stats/allocation math runs on dim-sized
    frames, the quota rides a broadcast back to the corpus, and the
    selection window is per-stratum (never a global corpus sort); no
    Python anywhere."""
    plan = _executed_plan(spark, "neyman_sample").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_winnow_pairs_fp_grain_capped_no_traps(spark):
    """Winnowed near-dup pairs: the self-join runs at fingerprint grain
    with the df cap applied first (semi join against the rare-fp set);
    no cartesian, no Python, and the winnowing pushdown trap stays
    absent."""
    plan = _executed_plan(spark, "winnow_pairs").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # the df cap
    for line in plan.splitlines():
        if "Filter" in line and "md5" in line:
            raise AssertionError(
                "inferred-filter pushdown trap resurfaced: " + line[:200]
            )


def test_degree_assortativity_no_forced_vertex_broadcast(spark):
    """Assortativity: the degree table is VERTEX-grain, so it carries NO
    forced broadcast hint (r13 verdict — the same driver-OOM posture the
    dup_modularity fix removed); AQE broadcasts it at fixture scale from
    runtime stats and is free to pick a shuffle join at 100 TB.  Moments
    stay one global integer aggregate; no cartesian beyond the 1x1
    result merge, no Python."""
    plan = _executed_plan(spark, "degree_assortativity").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # at most the 1x1 single-row result merge may plan as a cartesian
    assert plan.count("CartesianProduct") <= 1


def test_dup_modularity_banded_pairs_broadcast_sources(spark):
    """Modularity over the near-dup graph: candidate pairs come from
    the banded LSH join (never doc×doc — no cartesian), the source
    lookups carry NO forced broadcast hint (the projection is
    fact-grain; AQE decides from runtime stats — r12 ADVICE fix), and
    everything past the pair join is dim-grain integer aggregation."""
    plan = _executed_plan(spark, "dup_modularity").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # at most the 1x1 single-row result merge may plan as a cartesian
    assert plan.count("CartesianProduct") <= 1


def test_term_burstiness_two_level_vocab_pattern(spark):
    """Burstiness: the (doc, term) partial collapses on the explode's
    input partitions before the term-grain rollup — exactly two keyed
    exchanges, no Python, no join."""
    plan = _executed_plan(spark, "term_burstiness").split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_near_dup_agreement_no_cartesian_no_python(spark):
    """The agreement harness composes both bounded candidate
    generators and joins them at pair grain — no cartesian, no Python,
    and the winnowing pushdown trap stays absent."""
    plan = _executed_plan(spark, "near_dup_agreement").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Filter" in line and "md5" in line:
            raise AssertionError(
                "inferred-filter pushdown trap resurfaced: " + line[:200]
            )


def test_kcore_decomposition_bounded_peel_no_python(spark):
    """k-core (new r13): the visible tail (peel rounds are
    localCheckpoint-truncated like CC/PageRank) must be pure integer
    aggregation over the checkpointed core edge sets — no Python, no
    cartesian, no global sort; and the semantics must be the bounded
    peel both engines share (fixpoint reached well inside KCORE_ROUNDS
    on the fixtures, pinned by value equality in the parity suite)."""
    plan = _executed_plan(spark, "kcore_decomposition").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_kcore_peel_reaches_fixpoint_within_rounds(spark):
    """The KCORE_ROUNDS rail must comfortably exceed the true peel
    depth on a crafted worst-ish case (a chain peels one layer per
    round from each end — depth ~len/2), and kcore_edges must match
    first-principles expectations: a chain has an empty 2-core, a
    cycle IS its own 2-core, a K4 survives at k=3."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        KCORE_ROUNDS,
        kcore_edges,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["doc_a", "doc_b"]
    )
    assert kcore_edges(chain, 2).count() == 0
    assert 10 // 2 < KCORE_ROUNDS  # chain peel depth stays inside the rail

    cycle = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(0, 9)], ["doc_a", "doc_b"]
    )
    assert kcore_edges(cycle, 2).count() == 10  # cycle is its own 2-core

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        ["doc_a", "doc_b"],
    )
    assert kcore_edges(k4, 3).count() == 6  # K4 survives k=3 intact


def test_ktruss_decomposition_bounded_peel_no_python(spark):
    """k-truss (new r13): like the k-core pin — the visible tail over
    the localCheckpoint-truncated peel rounds must be pure integer
    aggregation; no Python, no cartesian, no global sort."""
    plan = _executed_plan(spark, "ktruss_decomposition").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_ktruss_distinguishes_cores_from_trusses(spark):
    """The crafted case that separates the two kernels: a 'star of
    triangles' — K4 plus a pendant triangle glued at one vertex.
    Every vertex has degree ≥ 2, so the 2-core keeps ALL 9 edges; but
    the pendant triangle's edges sit in exactly one triangle each, so
    the 4-truss (support ≥ 2) peels it down to the K4 — trusses count
    TRIANGLES where cores count NEIGHBORS.  Also pins the pivot-corner
    canonicalization (x<y<z) on a graph where the degree-oriented
    pivot falls before, between, and after its two out-neighbors."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        kcore_edges,
        ktruss_edges,
    )

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pendant = [(3, 10), (3, 11), (10, 11)]
    g = spark.createDataFrame(k4 + pendant, ["doc_a", "doc_b"])
    assert kcore_edges(g, 2).count() == 9  # core keeps the glued triangle
    truss4 = ktruss_edges(g, 4)
    assert sorted(map(tuple, truss4.collect())) == sorted(k4)  # truss peels it
    assert ktruss_edges(g, 3).count() == 9  # every edge closes ≥1 triangle


def test_ktruss_edges_shared_edge_and_pendant_triangle(spark):
    """Two triangles sharing edge (1,2): at k=4 every edge but (1,2)
    drops (support 1 < 2), which leaves (1,2) with support 0, so the
    4-truss is empty.  K4 plus a pendant triangle: the pendant drops
    and the K4 survives whole."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        ktruss_edges,
    )

    g = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)], ["doc_a", "doc_b"]
    )
    assert ktruss_edges(g, 4).count() == 0
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    g = spark.createDataFrame(
        k4 + [(3, 10), (3, 11), (10, 11)], ["doc_a", "doc_b"]
    )
    assert sorted(map(tuple, ktruss_edges(g, 4).collect())) == sorted(k4)


def test_chained_peel_guard_matches_independent_bounded_unroll(spark):
    """r16 chain guard (r15 verdict item 4): when a peel exhausts its
    rounds rail without reaching fixpoint, chaining the next k from its
    partial result diverges from the oracle's independent bounded
    unroll — the guard must re-run cold from the full graph instead.
    Crafted rail-exhausting case: path 1–10 plus vertex 20 joined to
    7/8/9, rail = 1.  k=2 (one round) removes only the path endpoints
    and does NOT converge; the ORACLE's k=3 single round from the full
    graph keeps {7,8,9,20} (5 edges) — but chained from the k=2 partial
    (where vertex 9 has already lost neighbor 10) it would keep only
    {7,8,20} (3 edges).  Expected rows are the oracle's."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        _chained_peel_summaries,
        kcore_edges,
    )

    edges = [(i, i + 1) for i in range(1, 10)] + [(7, 20), (8, 20), (9, 20)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"]).localCheckpoint(
        eager=True
    )
    out = _chained_peel_summaries(pairs, (2, 3), kcore_edges, "core", rail=1)
    assert sorted(map(tuple, out.collect())) == [(2, 9, 10), (3, 4, 5)]


def test_cc_lpa_sym_capture_regimes_identical(spark, monkeypatch):
    """r16 deploy-regime pin (r15 verdict item 1): the partitioned sym
    capture (pre-partitioned by the per-round join key, captured through
    local_checkpoint_partitioned, label side pinned SHUFFLE_HASH) must
    produce bitwise-identical components and labels to the fixture-scale
    plain regime — the regime only chooses which exchanges the round
    plans pay.  Each regime is forced by replacing the selector."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators import graph
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        connected_components,
        lpa_labels,
    )

    # two triangles + a bridge + an isolated pair + a chain
    edges = [
        (1, 2), (2, 3), (1, 3),
        (4, 5), (5, 6), (4, 6),
        (3, 4),
        (7, 8),
        (10, 11), (11, 12), (12, 13),
    ]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    verts = pairs.selectExpr("doc_a AS vertex_id").union(
        pairs.selectExpr("doc_b AS vertex_id")
    ).distinct()
    e = pairs.selectExpr("doc_a AS src", "doc_b AS dst")

    results = {}
    for mode, deploy in (("plain", False), ("partitioned", True)):
        monkeypatch.setattr(graph, "_deploy_regime", lambda _ckpt: deploy)
        cc = sorted(map(tuple, connected_components(verts, e).collect()))
        lpa = sorted(map(tuple, lpa_labels(pairs).collect()))
        results[mode] = (cc, lpa)
    assert results["plain"] == results["partitioned"]
    # sanity: the fixture really exercises both kernels (bridged
    # triangles are ONE component; LPA keeps the bridge apart)
    cc, lpa = results["plain"]
    assert len({c for _, c in cc}) == 3
    assert len({l for _, l in lpa}) >= 4


def test_dup_communities_bounded_rounds_no_python(spark):
    """LPA communities (new r14): like the k-core pin — the visible
    tail over the localCheckpoint-truncated vote rounds must be pure
    keyed aggregation; no Python, no cartesian, no global sort, no
    vertex-grain broadcast hint."""
    plan = _executed_plan(spark, "dup_communities").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_lpa_communities_hold_across_weak_bridge(spark):
    """The crafted case that separates LPA from connected components:
    two triangles joined by ONE bridge edge are a single CC component,
    but majority voting keeps each triangle on its own anchor — two
    communities.  Also pins the self-vote convergence fix: a bare
    2-clique (where synchronous LPA without self-vote oscillates with
    period 2 forever) converges to its min label."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        LPA_ROUNDS,
        lpa_labels,
    )

    tri_a = [(1, 2), (1, 3), (2, 3)]
    tri_b = [(4, 5), (4, 6), (5, 6)]
    bridge = [(3, 4)]
    g = spark.createDataFrame(tri_a + tri_b + bridge, ["doc_a", "doc_b"])
    labels = {r["v"]: r["label"] for r in lpa_labels(g).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}

    pair = spark.createDataFrame([(7, 9)], ["doc_a", "doc_b"])
    labels = {r["v"]: r["label"] for r in lpa_labels(pair).collect()}
    assert labels == {7: 7, 9: 7}  # converged, not oscillating
    assert LPA_ROUNDS >= 3  # the two-triangle case stabilizes in 3


def test_community_bridges_no_python_no_cartesian(spark):
    """CC-vs-LPA agreement surface (new r14): vertex-grain join of the
    two label kernels + one component rollup — no Python, no cartesian,
    no global sort in the visible tail."""
    plan = _executed_plan(spark, "community_bridges").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_community_bridges_flags_bridged_component(spark):
    """The crafted two-triangles-one-bridge graph: ONE connected
    component (the bridge joins them) containing TWO LPA communities —
    exactly the bridged-farm shape the surface exists to flag.  A lone
    triangle reads one component, one community, not bridged."""
    from pyspark.sql import functions as F

    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        connected_components,
        lpa_labels,
    )

    tri_a = [(1, 2), (1, 3), (2, 3)]
    tri_b = [(4, 5), (4, 6), (5, 6)]
    g = spark.createDataFrame(
        tri_a + tri_b + [(3, 4)], ["doc_a", "doc_b"]
    )
    verts = (
        g.select(F.col("doc_a").alias("vertex_id"))
        .unionAll(g.select(F.col("doc_b").alias("vertex_id")))
        .distinct()
    )
    cc = connected_components(
        verts, g.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    lpa = lpa_labels(g)
    joined = cc.join(lpa.select(F.col("v").alias("vertex_id"), "label"), "vertex_id")
    rows = (
        joined.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("label").alias("n_communities"),
        )
        .collect()
    )
    assert len(rows) == 1  # the bridge makes it ONE component
    assert rows[0]["n_members"] == 6
    assert rows[0]["n_communities"] == 2  # ...but TWO communities


def test_community_refine_moves_boundary_vertex(spark):
    """Louvain one-level refinement (new r15): the crafted case where
    LPA's majority vote lands a boundary vertex on the wrong side.
    Vertex 8 (neighbors 1∈c1, 2∈c2, 5∈c2) is labeled c1 by LPA (tie-
    break toward the smaller anchor through the vote schedule) but has
    2 of 3 edges into c2 — the integer gain g = 2m(e_vc − e_va) −
    k(tot_c − tot_a + k) is positive for the move, so the pass moves
    exactly that one vertex and modularity rises from the hand-
    computed 9/13 − 356/676 ≈ 0.165680 to 10/13 − 338/676 ≈ 0.269231.
    Reference values verified against an independent pure-Python
    implementation of the same frozen-partition pass."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        community_refine_frame,
        lpa_labels,
    )

    edges = [(1, 3), (1, 6), (1, 8), (2, 4), (2, 5), (2, 7), (2, 8),
             (3, 6), (3, 7), (4, 5), (5, 6), (5, 8), (6, 7)]
    g = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    labels = {r["v"]: r["label"] for r in lpa_labels(g).collect()}
    assert labels == {1: 1, 2: 2, 3: 1, 4: 2, 5: 2, 6: 1, 7: 1, 8: 1}

    row = community_refine_frame(g).collect()[0]
    assert row["n_vertices"] == 8
    assert row["n_moved"] == 1
    assert row["n_communities_before"] == 2
    assert row["n_communities_after"] == 2
    assert row["modularity_before"] == 0.16568
    assert row["modularity_after"] == 0.269231
    assert row["modularity_after"] > row["modularity_before"]


def test_community_refine_fixpoint_on_clean_communities(spark):
    """On the two-triangles-one-bridge graph LPA already finds the
    modularity-optimal split, so the refinement pass is an identity:
    nothing moves and both modularity columns agree."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
        community_refine_frame,
    )

    tri_a = [(1, 2), (1, 3), (2, 3)]
    tri_b = [(4, 5), (4, 6), (5, 6)]
    g = spark.createDataFrame(tri_a + tri_b + [(3, 4)], ["doc_a", "doc_b"])
    row = community_refine_frame(g).collect()[0]
    assert row["n_vertices"] == 6
    assert row["n_moved"] == 0
    assert row["n_communities_before"] == row["n_communities_after"] == 2
    assert row["modularity_before"] == row["modularity_after"]


def test_community_refine_no_python_no_cartesian(spark):
    """community_refine (new r15): keyed shuffles at vertex/community/
    edge grain plus one-row totals merges only — no Python, no
    CartesianProduct (the one-row crossJoins compile to broadcast
    nested-loop merges), no global sort, no forced vertex-grain
    broadcast in the visible tail."""
    plan = _executed_plan(spark, "community_refine").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_eval_leak_profile_capped_probe_no_python(spark):
    """Eval-grain leak profile (new r13): the fp-grain probe must ride
    the train-side df cap (LeftSemi), never a cartesian, no Python,
    and the winnowing pushdown trap stays absent."""
    plan = _executed_plan(spark, "eval_leak_profile").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # the df-cap probe
    for line in plan.splitlines():
        if "Filter" in line and "md5" in line:
            raise AssertionError(
                "inferred-filter pushdown trap resurfaced: " + line[:200]
            )


def test_degree_distribution_two_keyed_aggregates(spark):
    """Degree histogram (new r13): two keyed integer aggregates over
    the banded pair set — no Python, no cartesian, no global sort."""
    plan = _executed_plan(spark, "degree_distribution").split(
        "== Initial Plan =="
    )[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
