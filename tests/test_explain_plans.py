"""Physical-plan regression battery (tools/explain_audit.py as pytest).

Locks in the plans we actually want — broadcast joins for dim lookups,
TakeOrderedAndProject for top-k, pushed filters at the scan, codegen
on the expression path — so a refactor that silently degrades one of
them (e.g. a broadcast turning into a sort-merge exchange) fails CI
instead of surfacing as a 100×-scale bench regression.
"""

from __future__ import annotations

import re

import pytest

from baronbatch_etl_spark.queries import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _plan(spark, registry, name: str, sf_dir: str) -> str:
    df = registry[name].fn(spark, sf_dir)
    # collect() drives this DataFrame's QueryExecution → the audited
    # plan is AQE's FINAL one (runtime join strategy, codegen spans)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims(spark, registry, sf_dir):
    plan = _plan(spark, registry, "flagship_player_stats", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_j1_dim_lookup_is_broadcast(spark, registry, sf_dir):
    plan = _plan(spark, registry, "j1_broadcast_dim_lookup", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_o1_topk_is_take_ordered(spark, registry, sf_dir):
    # sort desc + limit must fuse into TakeOrderedAndProject — a
    # global Sort + CollectLimit would materialize the full sort
    plan = _plan(spark, registry, "o1_topk_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "\nSort " not in plan


def test_p2_filter_reaches_the_scan(spark, registry, sf_dir):
    plan = _plan(spark, registry, "p2_filter_eq", sf_dir)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "equality predicate must push down"


def test_p1_projection_prunes_columns(spark, registry, sf_dir):
    plan = _plan(spark, registry, "p1_projection", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 3, f"scan reads too many columns: {read_cols}"


def test_expression_path_is_codegen(spark, registry, sf_dir):
    # derived-metrics math must stay inside whole-stage codegen
    plan = _plan(spark, registry, "f_derived_metrics", sf_dir)
    assert re.search(r"\*\(\d+\)", plan), "no WholeStageCodegen span"


def test_anti_join_broadcasts(spark, registry, sf_dir):
    plan = _plan(spark, registry, "j3_anti_orphans", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name", ["s_cosine_topk", "s_ivf_topk", "s_srp_topk", "s_mips_topk"]
)
def test_single_query_topk_is_broadcast_take_ordered(
    spark, registry, sf_dir, name
):
    # every one-query search must stay map-only: one broadcast of the
    # single query row, TakeOrderedAndProject top-k, no corpus shuffle
    plan = _plan(spark, registry, name, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # only the broadcast of the query row and spread()'s round-robin
    # input rebalance — never a key-hash shuffle of the corpus
    assert "Exchange hashpartitioning" not in plan


def test_contamination_probe_is_broadcast(spark, registry, sf_dir):
    # the benchmark shingle set must broadcast: corpus-side semi-probe
    # with no shuffle of training data through the join
    plan = _plan(spark, registry, "t_contamination", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_sample_is_shuffle_free(spark, registry, sf_dir):
    # the whole point of hash-threshold mixture sampling: a row-local
    # map with zero exchanges at any corpus size
    plan = _plan(spark, registry, "t_mixture_sample", sf_dir)
    assert "Exchange" not in plan


def test_pack_sequences_single_bounded_exchange(spark, registry, sf_dir):
    # one hash exchange on (source, pack_shard); AQE may coalesce it
    # (AQEShuffleRead) but must not add a second shuffle or a sort-
    # merge join
    plan = _plan(spark, registry, "t_pack_sequences", sf_dir)
    assert plan.count("Exchange hashpartitioning") <= 2  # window + agg reuse
    assert "SortMergeJoin" not in plan


def test_quantize_is_pure_scan(spark, registry, sf_dir):
    # index compression is a row-local pass: no KEYED exchange, no
    # join — it must run at scan speed on any corpus. (A round-robin
    # fan-out is permitted: io.spread() widens one-split local inputs
    # to the core count and is a no-op on real many-split scans.)
    plan = _plan(spark, registry, "s_quantize_int8", sf_dir)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_cdc_chunks_is_shuffle_free(spark, registry, sf_dir):
    # the chunker is row-local (Arrow batch per partition) — the only
    # operators above the scan are the UDF eval + explode
    plan = _plan(spark, registry, "t_cdc_chunks", sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_chunk_dedup_two_phase_distinct(spark, registry, sf_dir):
    # chunk-level dedup shuffles only digest-sized rows: the canonical
    # two-phase distinct-count plan — Exchange on (fp, doc_id) with
    # map-side partial aggs, then Exchange on fp — and no join anywhere
    plan = _plan(spark, registry, "d_chunk_dedup", sf_dir)
    # AQE plan strings repeat operators in the "Initial Plan" section —
    # count exchanges in the final plan only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2
    assert "partial_count" in plan  # map-side combine before either
    assert "Join" not in plan


@pytest.mark.parametrize(
    "name", ["s_ivf_recall", "s_batch_topk", "s_hard_negatives"]
)
def test_query_set_no_corpus_shuffle(spark, registry, sf_dir, name):
    # query-set rankings reduce map-side (broadcast queries, window
    # over per-query survivors); corpus rows must never hit a
    # sort-merge join or an exchange keyed by anything but q_id
    plan = _plan(spark, registry, name, sf_dir)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_span_dedup_partial_aggregates(spark, registry, sf_dir):
    # the groupBy on span must fold map-side (partial_count) before
    # the exchange — shuffling raw exploded spans would move the whole
    # reconstructed corpus over the wire
    plan = _plan(spark, registry, "d_span_dedup", sf_dir)
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_broadcasts_filter(spark, registry, sf_dir):
    # the 1024-row bloom table must broadcast; the ground-truth digest
    # join may broadcast too — but only by AQE's size decision, never
    # by hint: a forced corpus-wide broadcast fails outright at 100 TB
    df = registry["d_bloom_dedup"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, (
        "only the ≤1024-word bloom table may carry a broadcast hint"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2  # AQE broadcasts at this SF
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_w2_recent_slice_is_take_ordered(spark, registry, sf_dir):
    # the single-user newest-300 must be a distributed top-k, not a
    # single-partition WindowExec sort (SURVEY §2.5's own note)
    plan = _plan(spark, registry, "w2_recent_slice", sf_dir)
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final
    assert "Window" not in final
    assert "Exchange" not in final


def test_training_set_capstone_plan(spark, registry, sf_dir):
    # the capstone composes quality → dedup → LSH keep-one →
    # decontamination → mixture → split → rollup as ONE Catalyst DAG:
    # the contamination probe broadcasts (single hint), and no stage
    # degrades to a sort-merge join or cartesian product
    df = registry["t_training_set"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, (
        "only the benchmark shingle probe may carry a broadcast hint"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "BroadcastHashJoin" in final


def test_lsh_recall_no_corpus_shuffle(spark, registry, sf_dir):
    # recall instrumentation runs the LSH path AND the exact blocked
    # path — both must keep their bucketed shapes: band/block-keyed
    # exchanges only, no sort-merge join, no cartesian product
    plan = _plan(spark, registry, "d_lsh_recall", sf_dir)
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_bm25_topk_is_take_ordered_with_broadcast_stats(
    spark, registry, sf_dir
):
    plan = _plan(spark, registry, "t_bm25", sf_dir)
    # final top-20 must not be a global sort; corpus scalars + df
    # lookup must broadcast, never shuffle the scored side
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_split_assign_is_shuffle_free(spark, registry, sf_dir):
    plan = _plan(spark, registry, "t_split_assign", sf_dir)
    # split assignment is a row-local projection: any Exchange means
    # the scan-speed contract broke
    assert "Exchange" not in plan


def test_kmeans_assignment_is_map_only(spark, registry, sf_dir):
    # the final assignment pass must not join or shuffle the corpus:
    # centroids are plan literals, so the only operators over the
    # embedding scan are projections (plus spread's single-split
    # repartition on the tiny local fixture)
    plan = _plan(spark, registry, "s_kmeans_assign", sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan  # argmin is array_min, not a window


def test_eval_sample_partial_topk_before_exchange(spark, registry, sf_dir):
    # rank<=k per stratum must reduce map-side: WindowGroupLimit in
    # Partial mode ahead of the exchange, so the shuffle carries at
    # most k rows per stratum per input partition
    plan = _plan(spark, registry, "t_eval_sample", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    # §4 runtime filtering: when a selective build side can't
    # broadcast, Spark injects a bloom filter (might_contain) on the
    # probe side's scan — rows that can't join die before the shuffle.
    # Local fixtures sit under the size thresholds, so the test lowers
    # them to prove the engine config path works end to end.
    from pyspark.sql import functions as F

    from baronbatch_etl_spark.io import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_orderpriority"
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cms_grid_single_full_data_exchange(spark, registry, sf_dir):
    # the only full-data shuffle is the token partial agg; the grid
    # fold and candidate top-k reuse the checkpointed vocab — and the
    # candidates must be TakeOrderedAndProject, not a global sort
    plan = _plan(spark, registry, "a_cms_heavy_hitters", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the vocab agg materializes ONCE (checkpoint) and both branches
    # scan it; the grid itself folds with a map-side partial sum and
    # reaches the probe as a broadcast
    assert "Scan ExistingRDD" in plan
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan


def test_edit_distance_is_candidate_bounded(spark, registry, sf_dir):
    # LSH banding generates candidates; the DP must be the thresholded
    # 3-arg form and the plan must never fall back to all-pairs
    plan = _plan(spark, registry, "d_edit_distance", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # threshold reached the DP (the plan renders it as Some(8))
    assert re.search(r"levenshtein\([^()]*, Some\(8\)\)", plan), plan


def test_paged_api_scan_partitions_are_pages(spark, registry, sf_dir):
    # pagination IS partition planning: the physical scan fans out one
    # task per (user, page) — 50 users × 4 pages
    from baronbatch_etl_spark.sources import paged_api

    paged_api.register(spark)
    df = (
        spark.read.format("paged_api")
        .option("n_users", 50).option("pages", 4).option("page_size", 25)
        .load()
    )
    assert df.rdd.getNumPartitions() == 200
    # the registered query bundles one user's pages per task (same
    # 200-page plan, 4× fewer task spin-ups)
    bundled = (
        spark.read.format("paged_api")
        .option("n_users", 50).option("pages", 4).option("page_size", 25)
        .option("pages_per_task", 4)
        .load()
    )
    assert bundled.rdd.getNumPartitions() == 50
    assert bundled.count() == 50 * 4 * 25
    plan = _plan(spark, registry, "s1_paginated_scan", sf_dir)
    assert "BatchScan paged_api" in plan


def test_dedup_report_flags_join_and_aggregate(spark, registry, sf_dir):
    # the survivorship flags are 8-byte-keyed joins (broadcast at this
    # scale) + one source-keyed partial agg; composition must never
    # fall back to a cartesian/nested-loop shape
    plan = _plan(spark, registry, "d_dedup_report", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_corpus_drift_single_full_data_exchange(spark, registry, sf_dir):
    # the (source, tok) counts materialize once (checkpoint scan); the
    # corpus total attaches as a 1-row broadcast scalar; no sort-merge
    # join anywhere — the vocab joins broadcast at this scale
    plan = _plan(spark, registry, "t_corpus_drift", sf_dir)
    final = plan.split("== Initial Plan ==")[0]
    assert "Scan ExistingRDD" in final  # shared counts materialization
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "IdentityBroadcastMode" in final  # 1-row scalar attach


def test_source_overlap_reuses_checkpointed_shingles(spark, registry, sf_dir):
    # six consumers share ONE materialization of the distinct
    # (source, shingle) set; the pair grid joins broadcast
    plan = _plan(spark, registry, "d_source_overlap", sf_dir)
    final = plan.split("== Initial Plan ==")[0]
    assert "Scan ExistingRDD" in final
    assert "ArrowEvalPython" not in final  # hashing not replayed downstream
    assert "SortMergeJoin" not in final


def test_bigram_novelty_is_single_pass_no_join(spark, registry, sf_dir):
    # the sentinel-trick rewrite: ONE generate (posexplode) over ONE
    # document scan, two aggregations, and NO join back to documents —
    # a second Generate or any join means the distinct-bigram build
    # regressed to per-branch recomputation
    plan = _plan(spark, registry, "t_bigram_novelty", sf_dir)
    # AQE dumps final + initial plans; count shapes in the final only
    plan = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bGenerate\b", plan)) == 1, plan
    assert "Join" not in plan, "no join-back of the corpus vocabulary"
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1, (
        "bigrams must come from one Arrow pass"
    )


def test_phash_fingerprint_is_arrow_not_hof(spark, registry, sf_dir):
    # the aHash must run as an Arrow-vectorized pandas UDF pass, not as
    # interpreted higher-order aggregate folds. mm_phash_dedup
    # materializes the fingerprint frame, so the UDF runs in that
    # frame's own plan and the query reads the stored rows
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.operators import multimodal as M

    media = M.documents_as_media(load_table(spark, sf_dir, "documents"))
    fps = M.payload_fingerprints(media)
    fps.collect()
    assert "ArrowEvalPython" in fps._jdf.queryExecution().executedPlan().toString()
    plan = _plan(spark, registry, "mm_phash_dedup", sf_dir)
    assert "aggregate(" not in plan, "HOF fold found in the hot path"
    assert "CartesianProduct" not in plan


def test_weighted_sample_is_take_ordered_scan(spark, registry, sf_dir):
    # the ES race must be a row-local projection + TakeOrderedAndProject
    # (per-partition top-k): no Exchange, no global Sort, no join
    plan = _plan(spark, registry, "t_weighted_sample", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "\nSort " not in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_domain_quota_partial_window_limit(spark, registry, sf_dir):
    # the rank-<=Q filter must pre-trim map-side: a WindowGroupLimit
    # BELOW the exchange, so a skewed domain never floods one reducer
    plan = _plan(spark, registry, "t_domain_quota", sf_dir)
    final = plan.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in final
    pre = final.split("Exchange")[-1]  # deepest = before the shuffle
    assert "WindowGroupLimit" in pre


def test_source_entropy_no_token_join_back(spark, registry, sf_dir):
    # the reduction runs over the VOCABULARY (source,token rollup) and
    # the per-source totals broadcast back — the corpus-sized token
    # stream must never be join-shuffled a second time
    plan = _plan(spark, registry, "t_source_entropy", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_leakage_split_bucket_is_row_local(spark, registry, sf_dir):
    # the split assignment itself adds NO exchange beyond the verified
    # d_dup_clusters machinery: same exchange count as clustering, and
    # the component join-back to documents broadcasts (components are
    # a tiny fraction of the corpus)
    base = _plan(spark, registry, "d_dup_clusters", sf_dir)
    plan = _plan(spark, registry, "t_split_leakage_safe", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange ") <= base.count("Exchange ") + 2


def test_pagerank_iterations_reuse_staged_edges(spark, registry, sf_dir):
    # the edge list is staged once (partitioned localCheckpoint →
    # "Scan ExistingRDD" in the final plan) and every unrolled round
    # joins ranks onto those stationary partitions: no cartesian, no
    # per-round re-shuffle of an edge-list-sized side — rank frames
    # are node-sized, so AQE turns the contribution joins into
    # broadcasts over the checkpointed scan
    plan = _plan(spark, registry, "g_pagerank", sf_dir)
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    # the iterations never touch the source tables again: every
    # parquet scan happened before the staging checkpoint
    assert "Scan parquet" not in plan
    # 3 rounds × contribution agg + rank-side exchanges (the printed
    # AQE string includes the pre-adaptive plan too) — a per-round
    # re-shuffle of the edge list would blow well past this bound
    assert plan.count("Exchange hashpartitioning") <= 12


def test_hybrid_rrf_legs_are_bounded_topk(spark, registry, sf_dir):
    """Each RRF leg must reach its top-50 through TakeOrderedAndProject
    (per-partition heads, driver merge) — never an unpartitioned full
    sort of the scored corpus; the fusion join is then ≤100 rows."""
    plan = _plan(spark, registry, "s_hybrid_rrf", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_is_copartitioned_smj(spark, registry, sf_dir):
    """The CDC full-outer join must co-partition BOTH snapshots on the
    key (SortMergeJoin, FullOuter) and broadcast neither — both sides
    are table-sized at the target scale."""
    plan = _plan(spark, registry, "q_snapshot_diff", sf_dir)
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan


def test_triangle_census_stages_edges_once(spark, registry, sf_dir):
    """The frequent-pair derivation must be checkpointed: every census
    consumer reads Scan ExistingRDD, and the lineitem self-join's
    parquet scans appear only in the (pre-checkpoint) staging, never
    replayed per aggregate leg."""
    plan = _plan(spark, registry, "g_triangle_count", sf_dir)
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_cusum_argmax_is_integer_decimal(spark, registry, sf_dir):
    """The change-point search runs on DECIMAL(38,0) deviations — the
    only double in the plan is the final magnitude report."""
    df = registry["w_cusum_changepoint"].fn(spark, sf_dir)
    row = df.first()
    assert row.n_days > 0 and row.cusum_peak >= 0
    # the analyzed plan carries the decimal(38,0) deviation column
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "decimal(38,0)" in analyzed


# ---------------------------------------------------------------------------
# The r8 verdict's scale-killer class: unpartitioned WindowExec over a
# data-grain frame (one task swallows the corpus). The detector lives
# in tools/explain_audit.py and runs over all 200 plans per round;
# these tests pin its parsing against the four WindowExec toString
# shapes and prove the five rewritten queries are clean.
# ---------------------------------------------------------------------------

from tools.explain_audit import (  # noqa: E402
    _python_udf_calls,
    _unpartitioned_windows,
    repeated_python_udf_calls,
)


def test_unpartitioned_window_detector_shapes():
    # toString shapes captured from Spark 4.1 (probe in round 9)
    part_order = (
        "+- Window [row_number() windowspecdefinition(k#1L, id#0L ASC"
        " NULLS FIRST, specifiedwindowframe(RowFrame, a$(), b$())) AS"
        " x#2], [k#1L], [id#0L ASC NULLS FIRST]"
    )
    part_only = (
        "+- Window [count(1) windowspecdefinition(k#1L,"
        " specifiedwindowframe(RowFrame, a$(), b$())) AS x#4L], [k#1L]"
    )
    order_only = (
        "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS"
        " FIRST, specifiedwindowframe(RowFrame, a$(), b$())) AS x#7],"
        " [id#0L ASC NULLS FIRST]"
    )
    bare = (
        "+- Window [count(1)"
        " windowspecdefinition(specifiedwindowframe(RowFrame, a$(),"
        " b$())) AS x#9L]"
    )
    pid_ok = (
        "+- Window [sum(_gr_cnt#42L) windowspecdefinition(_gr_pid#79"
        " ASC NULLS FIRST, specifiedwindowframe(RangeFrame, a$(),"
        " b$())) AS _we0#54L], [_gr_pid#79 ASC NULLS FIRST]"
    )
    # r9-advice evaders: a data-grain order that merely CONTAINS the
    # pid token, and a lookalike column name — both must still flag
    pid_composite = (
        "+- Window [row_number() windowspecdefinition(doc_id#3 ASC"
        " NULLS FIRST, _gr_pid#79 ASC NULLS FIRST,"
        " specifiedwindowframe(RowFrame, a$(), b$())) AS x#7],"
        " [doc_id#3 ASC NULLS FIRST, _gr_pid#79 ASC NULLS FIRST]"
    )
    pid_lookalike = (
        "+- Window [row_number() windowspecdefinition(_gr_pid_x#5 ASC"
        " NULLS FIRST, specifiedwindowframe(RowFrame, a$(), b$()))"
        " AS x#7], [_gr_pid_x#5 ASC NULLS FIRST]"
    )
    assert _unpartitioned_windows(part_order) == []
    assert _unpartitioned_windows(part_only) == []
    assert len(_unpartitioned_windows(order_only)) == 1
    assert len(_unpartitioned_windows(bare)) == 1
    assert _unpartitioned_windows(pid_ok) == []  # bounded offsets frame
    assert len(_unpartitioned_windows(pid_composite)) == 1
    assert len(_unpartitioned_windows(pid_lookalike)) == 1


@pytest.mark.parametrize(
    "name",
    [
        "t_perplexity_bucket",
        "w_rfm_segment",
        "w_ntile_battery",
        "a_gini_concentration",
        "w_time_to_convert",
    ],
)
def test_global_rank_rewrites_have_no_single_partition_window(
    spark, registry, sf_dir, name
):
    plan = _plan(spark, registry, name, sf_dir)
    spark.catalog.clearCache()
    bad = _unpartitioned_windows(plan.split("== Initial Plan ==")[0])
    assert not bad, f"{name}: unpartitioned WindowExec over {bad}"


def test_rfm_is_a_single_rank_pass(spark, registry, sf_dir):
    """The r10 rework's structural invariant: the three ntile(5)
    scores stack into ONE distributed-rank pass, so the whole plan
    carries exactly one WindowExec (the rank's ≤P-row offsets
    prefix-sum) — the r9 shape chained three."""
    import re

    # pre-execution plan: after collect() the persisted rank subtree
    # (where the offsets Window lives) collapses into an
    # InMemoryTableScan and the count would read 0
    df = registry["w_rfm_segment"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    windows = {
        m.group(0)
        for m in re.finditer(
            r"\bWindow(?:InPandas)? \[[^\n]*", plan
        )
    }
    assert len(windows) == 1, (
        f"w_rfm_segment grew to {len(windows)} distinct window passes "
        f"({sorted(windows)}) — the stacked single-rank design "
        "regressed"
    )


def test_minhash_lsh_band_join_shape(spark, registry, sf_dir):
    # the band self-join is keyed on (band, key) and moves band rows
    # through exactly one exchange (the build side, hashed on
    # (band int, key string) — a broadcast at this scale); the probe
    # side's only exchange is the doc_id repartition, which already
    # clusters the (doc_a, doc_b) distinct, so nothing else shuffles
    plan = _plan(spark, registry, "d_minhash_lsh", sf_dir)
    final = plan.split("== Initial Plan ==")[0]
    joins = re.findall(
        r"HashJoin \[band#\d+, key#\d+\], \[band#\d+, key#\d+\], Inner", final
    )
    assert len(joins) == 1
    band_exchanges = re.findall(
        r"BroadcastExchange HashedRelationBroadcastMode\(List\("
        r"input\[\d+, int, false\], input\[\d+, string, false\]\)",
        final,
    )
    assert len(band_exchanges) == 1
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", final)
    assert len(shuffles) == 1, shuffles
    assert re.fullmatch(r"doc_id#\d+L?, \d+", shuffles[0])
    assert "REPARTITION_BY_NUM" in final


@pytest.mark.parametrize("name", ["d_simhash_pairs", "mm_phash_dedup"])
def test_simhash_pairs_verify_runs_in_join_condition(spark, registry, sf_dir, name):
    # both Hamming-blocking queries run dedup.hamming_pairs: popcount
    # and the first-colliding-block predicate evaluate inside the
    # (block, key) join's condition, so no aggregate and no exchange
    # ever sees a candidate row (only the doc_id repartition and the
    # build side's broadcast sit below the join)
    radius = {"d_simhash_pairs": 3, "mm_phash_dedup": 4}[name]
    plan = _plan(spark, registry, name, sf_dir)
    final = plan.split("== Initial Plan ==")[0]
    join = re.search(
        r"HashJoin \[block#\d+, key#\d+L\], \[block#\d+, key#\d+L\], "
        r"Inner, Build\w+, (.*), false\n",
        final,
    )
    assert join is not None
    cond = join.group(1)
    assert re.search(rf"bit_count\(\(sh#\d+L \^ sh#\d+L\)\) <= {radius}", cond)
    assert re.search(r"\(block#\d+ = 3\) AND NOT", cond)
    above_join = final[: join.start()]
    assert "Exchange" not in above_join
    assert "Aggregate" not in final
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", final)
    assert len(shuffles) == 1 and re.fullmatch(r"doc_id#\d+L?, \d+", shuffles[0])


@pytest.mark.parametrize("name", sorted(load_all()))
def test_python_udfs_run_once_per_row(spark, registry, sf_dir, name):
    # every registry query: one UDF call on one input sits in at most
    # one EvalPython node. A filter on a UDF result is pushed below its
    # projection, or a join pulls a copy of the call into its own
    # projection, and Catalyst then evaluates the UDF in a second node
    final = _plan(spark, registry, name, sf_dir).split("== Initial Plan ==")[0]
    twice = repeated_python_udf_calls(final)
    assert twice == [], f"{name}: {twice}"
    if name not in ("d_minhash_lsh", "d_ngram_jaccard", "t_char_entropy"):
        return
    # the pair operators verify in the JVM and run no Python at all
    calls = _python_udf_calls(final)
    flat = [c.split("(")[0] for node in calls for c in node]
    assert len(flat) == len(set(flat)), f"{name}: {calls}"
    if name.startswith("d_"):
        assert calls == [], f"{name}: {calls}"


def test_bpe_tokens_runs_its_regexp_once(spark, registry, sf_dir):
    # n_subwords and n_long both read the extracted subwords; CollapseProject
    # must not inline the regexp into each of them
    final = _plan(spark, registry, "t_bpe_tokens", sf_dir).split(
        "== Initial Plan =="
    )[0]
    assert final.count("regexp_extract_all(") == 1, final


@pytest.mark.parametrize(
    "name", ["d_minhash_lsh", "d_simhash_pairs", "d_ngram_jaccard", "mm_phash_dedup"]
)
def test_pair_probe_repartition_is_not_coalesced(spark, registry, sf_dir, name):
    # the doc_id probe repartition keeps its full width after AQE: a
    # column-only repartition of a sub-MiB frame is coalesced back to
    # one partition, which runs the whole join and verify on one core
    lines = _plan(spark, registry, name, sf_dir).split(
        "== Initial Plan =="
    )[0].splitlines()
    (at,) = [
        i for i, ln in enumerate(lines)
        if re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)", ln)
    ]
    readers = []
    for ln in reversed(lines[:at]):
        if "ShuffleQueryStage" not in ln and "AQEShuffleRead" not in ln:
            break
        readers.append(ln.strip())
    assert readers, lines[at]
    assert not any("coalesced" in r for r in readers), readers


def _arrow_evals(df) -> list[str]:
    """The ArrowEvalPython nodes of a frame's optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]


def test_signature_builds_run_one_arrow_udf_call(spark, sf_dir):
    # text becomes signatures in ONE Python UDF call per document: the
    # staged doc_signatures build and the streaming admission keys each
    # plan one ArrowEvalPython node evaluating one UDF — no per-column
    # signature UDFs, and no second Arrow pass from a filter pushed
    # below the UDF's projection
    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.queries.catalog_llm import _signature_table
    from baronbatch_etl_spark.streaming.ops import _doc_keys

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.select("doc_id", "text")
    for df in (_signature_table(docs), _doc_keys(batch)):
        (node,) = _arrow_evals(df)
        assert len(re.findall(r"pythonUDF\d+#", node)) == 1, node
