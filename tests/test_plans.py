"""Physical-plan assertions — the 100 TB posture gate (SURVEY.md §4).

Correctness tests prove the operators compute the right answer; these
prove the plans are the ones that survive a 1000-executor scale-up:
filters reach the parquet scan, projections prune the read schema,
dimension joins broadcast, aggregations combine map-side, top-k never
does a global sort, and no LSH/dedup operator degenerates into a
cartesian product.
"""

from __future__ import annotations

import pytest

from polybot_data_etl_spark import registry


def plan_of(spark, sf_dir, name: str) -> str:
    df = registry.queries()[name](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_scan_project_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_scan_project")
    # projection-only query: read schema is exactly the 3 selected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>" in plan
    assert "Exchange" not in plan  # narrow: no shuffle at all


def test_filter_range_pushes_predicates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_filter_range")
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    # only the needed measures are read
    assert "l_comment" not in plan
    # aggregation is partial (map-side combine) then final
    assert "partial_sum" in plan


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_q1_partial_final(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_agg_q1")
    assert "partial_sum" in plan and "partial_count" in plan
    # exactly one shuffle for the aggregation (plus none for the scan)
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1


def test_topk_avoids_global_sort(spark, sf_dir):
    for name in ("q_topk_global", "q_sort_multi"):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "GlobalSort" not in plan and "\n+- Sort " not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_ngram",
        "q_dedup_simhash",
        "q_dedup_embed",
        "q_dedup_minhash",
        "q_sim_topk_lsh",
        "q_join_inner",
        "q_join_multi",
        "q_ts_session",
    ],
)
def test_no_cartesian_products(spark, sf_dir, name):
    """LSH/dedup candidate generation and every relational join must be
    an equi-join — a CartesianProduct/nested-loop here means the bucket
    key got lost and the operator is O(n²) at scale.

    Memoized queries (r7) return a localCheckpoint wrapper whose plan
    collapses to `Scan ExistingRDD` — inspecting that would make this
    test vacuous, so those names resolve to their underlying plan
    builders instead."""
    from polybot_data_etl_spark.functions import dedup as _dedup
    from polybot_data_etl_spark.functions import text as _text

    builders = {
        "q_dedup_minhash": lambda s, d: _text.minhash_pairs(
            __import__(
                "polybot_data_etl_spark.catalog", fromlist=["table"]
            ).table(s, d, "documents")
        ),
        "q_dedup_embed": _dedup._build_embed_pairs,
    }
    if name in builders:
        df = builders[name](spark, sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
    else:
        plan = plan_of(spark, sf_dir, name)
    # prove the inspected plan is the REAL candidate-generation tree,
    # not a collapsed checkpoint scan (vacuous-test guard)
    assert "HashAggregate" in plan or "Join" in plan, name
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    # text scoring is a pure narrow projection: a single codegen'd stage,
    # no exchange, no Python
    for name in ("q_text_keyword_score", "q_text_fingerprint", "q_fn_math"):
        plan = plan_of(spark, sf_dir, name)
        # formatted mode marks codegen'd operators with "[codegen id : N]"
        assert "codegen id" in plan, name
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_win_range_frame_high_cardinality_partition(spark, sf_dir):
    """VERDICT r1: the RANGE-frame window must partition by a
    high-cardinality key (o_custkey), not the 3-value o_orderstatus
    that funnels the table into 3 tasks."""
    plan = plan_of(spark, sf_dir, "q_win_range_frame")
    assert "windowspecdefinition(o_custkey" in plan
    assert "o_orderstatus" not in plan


def test_win_dist_scaled_no_global_data_sort(spark, sf_dir):
    """The scale-safe distribution query's windows over DATA partition
    by the value bucket; the only unpartitioned window runs over the
    tiny ≤32-row bucket summary."""
    plan = plan_of(spark, sf_dir, "q_win_dist_scaled")
    assert "windowspecdefinition(bkt" in plan
    # the full-data window (over customer rows) is bkt-partitioned: its
    # exchange hashes on bkt, never SinglePartition
    assert "hashpartitioning(bkt" in plan


def test_win_weighted_median_scaled_no_global_data_sort(spark, sf_dir):
    """VERDICT r5 #5: the scaled weighted-median twin's cum-weight
    window over DATA must partition by (flag, value-bucket) — never a
    3-partition per-flag sort of the fact table; the only flag-only-
    partitioned window runs over the ≤96-row bucket summary, and both
    re-attach joins are broadcast equi-joins (no NLJ)."""
    plan = plan_of(spark, sf_dir, "q_win_weighted_median_scaled")
    assert "windowspecdefinition(l_returnflag" in plan
    # the full-data window's exchange hashes on (flag, bkt)
    import re

    assert re.search(r"hashpartitioning\(l_returnflag#\d+, bkt#\d+", plan)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # The allowed nested-loops are the 1-row quantile cut-point attach
    # (round 8: the bounds moved in-plan as a broadcast 1-row array
    # instead of driver-side literals — the standard 1-row
    # control-frame crossJoin idiom).  The syntactic tree shows one
    # copy per bounds consumer; at execution they collapse into a
    # single broadcast via ReusedExchange (verified r8).  Pin: never
    # more nested-loops than duplicated cut-point subtrees — a
    # data×data nested loop would break this cap.
    assert plan.count("BroadcastNestedLoopJoin") <= plan.count(
        "percentile_approx"
    )


def test_basket_lift_support_join_unhinted(spark, sf_dir):
    """VERDICT r5 #6: the per-item support table is bounded by |parts|
    — not broadcast-safe at catalog scale — so its two re-attach joins
    must carry NO broadcast hint (AQE chooses from measured size); the
    only allowed hint is the 1-row order-total crossJoin."""
    from polybot_data_etl_spark import registry

    df = registry.queries()["q_basket_lift"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1
    hint_pos = analyzed.find("ResolvedHint")
    assert "n_orders" in analyzed[hint_pos : hint_pos + 400]


def test_dedup_embed_verify_join_not_hint_forced(spark, sf_dir):
    """VERDICT r1: attaching embeddings to bucket rows must be a plain
    equi-join on vec_id (AQE may still broadcast at small scale, but no
    hint may force shipping the full vector store). The only allowed
    hint is on the tiny (band,bucket) size summary.

    Inspects the underlying builder: the registered query memoizes a
    localCheckpoint wrapper (r7), whose analyzed plan collapses to the
    checkpoint node once another test materializes it."""
    from polybot_data_etl_spark.functions.dedup import _build_embed_pairs

    df = _build_embed_pairs(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1
    # the hinted subtree is the count aggregate, not a raw relation
    import re

    hint_pos = analyzed.find("ResolvedHint")
    after = analyzed[hint_pos : hint_pos + 400]
    assert "n_bucket" in after


def test_embed_quantize_is_narrow(spark, sf_dir):
    """Quantization is a per-row projection: no shuffle, no Python."""
    plan = plan_of(spark, sf_dir, "q_embed_quantize")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_partial_aggs_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_text_tfidf")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Queries allowed to plan a nested-loop/cartesian or row-Python node —
# each is deliberate and bounded (documented in its docstring).
_NLJ_ALLOWED = {
    "q_join_cross",       # 5×25 dim cross join by definition
    "q_sim_pairs",        # probe-bounded brute-force baseline
    "q_sim_topk",         # probe-bounded brute-force baseline
    "q_win_dist_scaled",  # 1-row totals broadcast crossJoin
    "q_text_vocab",       # 1-row token-total broadcast crossJoin
    "q_dq_freshness",     # 1-row global-max broadcast crossJoin
    "q_graph_pagerank",   # 1-row node-count broadcast crossJoin
    "q_mix_temperature",  # 1-row normalizer broadcast crossJoin
    "q_mix_epochs",       # 1-row normalizer broadcast crossJoin
    "q_graph_triangles",  # 1-row edge-count × 1-row triangle-count join
    "q_ts_seasonality",   # 1-row z-score stats broadcast crossJoin
    "q_text_pmi",         # 1-row bigram-total broadcast crossJoin
    "q_ts_growth",        # 1-row horizon-max broadcast crossJoin
    "q_ml_knn",           # probe-bounded brute-force k-NN baseline
    "q_stats_ttest",      # 1-row × 1-row group-summary cross
    "q_stats_cuped",      # 1-row (θ, x̄) frame broadcast crossJoin
    "q_stats_kruskal",    # 1-row tie-correction broadcast crossJoin
    "q_ml_pr_curve",      # ≤10-row threshold grid × bounded score frame
    "q_mix_upsample",     # 1-row max-count broadcast crossJoin (plan)
    "q_ml_threshold",     # 1-row actual-positive total broadcast crossJoin
    "q_ml_ks",            # 1-row class-total broadcast crossJoin
    "q_ml_lift",          # 1-row (n, np) totals broadcast crossJoin
    "q_mix_kl",           # 1-row (n, k) totals broadcast crossJoin
    "q_stats_bootstrap",  # 1-row observed-mean broadcast crossJoin
    "q_basket_lift",      # 1-row order-total broadcast crossJoin
    "q_ts_theilsen",      # bounded day-frame pair join + 1-row slope cross
    "q_ml_brier",         # 1-row bin-summary/raw-Brier broadcast crosses
    "q_stats_fdr",        # 1-row (mu, k) totals broadcast crossJoin
    "q_text_jsd",         # bounded source-domain × vocab grid cross
    "q_stats_tost",       # 1-row × 1-row group-summary cross (ttest shape)
    "q_embed_recall_at_k",  # inherits q_sim_topk's probe-bounded cross
    "q_ml_parity",        # 1-row max-rate broadcast crossJoin
    "q_sample_balanced",  # 1-row min-class-count broadcast crossJoin
    "q_dedup_minhash_eval",  # 1-row count-summary broadcast crosses
    "q_ts_periodogram",   # bounded day-frame × 5-frequency cross
    "q_dedup_threshold_sweep",  # verified pair frame × 8-row grid join
    "q_stats_poisson_rate",  # 1-row (min, max) bounds broadcast crossJoin
    "q_stats_hill",       # 1-row x_k order-stat broadcast crossJoin
    "q_stats_median_ci",  # 1-row rank-bracket broadcast crossJoin
    "q_dq_id_gaps",       # 1-row gap-summary broadcast crossJoin
    "q_embed_prefix_agreement",  # probe-bounded brute-force top-1 pair
    "q_dedup_capture_recapture",  # 1-row count-summary broadcast crosses
    "q_stats_cohens_d",   # 1-row × 1-row group-summary cross (ttest shape)
    "q_graph_kcore",      # 1-row node-count × 1-row edge-count crosses
    "q_win_share_of_total",  # 1-row grand-total broadcast crossJoin
    "q_ts_entropy_rate",  # 1-row H × 1-row H0 broadcast cross
    "q_graph_clustering",  # 1-row wedge × 1-row triangle crosses
    "q_dq_drift_chi2",    # 1-row (min,max)-epoch broadcast crossJoin
    "q_ts_retention_halflife",  # bounded age×offset grid + 1-row fit cross
    "q_ts_fano",          # constant 3-row scale-grid broadcast cross
    "q_ml_fold_stability",  # 1-row stability-summary broadcast cross
    "q_ts_profile_drift",  # 1-row (min,max)-epoch broadcast crossJoin
    "q_text_fertility",   # 1-row corpus-fertility broadcast crossJoin
    "q_ts_incidents",     # 1-row SLO-baseline broadcast crossJoin
    "q_agg_abc",          # 1-row revenue-total broadcast crossJoin
    "q_stats_overlap",    # 1-row (min,max) bin-grid broadcast crossJoin
    "q_stats_mannwhitney",  # 1-row quantile cut-point broadcast crossJoin (r8)
    # --- round-10 registrations (each a bounded control-frame cross,
    #     judged per the same rule as the rows above) ---
    "q_graph_modularity",  # 1-row edge-mass total broadcast crossJoin
    "q_ts_xcorr",          # ≤366-row daily series × 8-row lag grid cross
    "q_ts_interrupted",    # 1-row cutpoint/fit-summary broadcast crossJoin
    "q_text_ngram_coverage",  # 1-row bigram-total × 4-row k grid crosses
    "q_text_burstiness",   # 1-row corpus-totals broadcast crossJoin
    "q_stats_kendall",     # calendar-bounded O(days²) sign-product pair join
    "q_stats_friedman",    # day×type grid ≤(366·k) tie-correction crosses
    "q_stats_cramers_v",   # ≤r×c contingency grid zero-fill cross
    "q_stats_welch",       # k-row group frame × 1-row totals crossJoin
    "q_agg_lorenz",        # 10-row decile frame × 1-row total crossJoin
    # --- round-11 plan flips (the registered plan is now the bucketed
    #     recipe; each gained the idiom's 1-row control-frame cross) ---
    "q_dq_rle",            # 1-row totals × 1-row boundary-stitch cross
    "q_win_dist",          # = q_win_dist_scaled plan (1-row totals cross)
    "q_agg_rfm",           # 1-row customer-total broadcast crossJoin
}
_ROW_PYTHON_ALLOWED = {
    "q_udf_python",   # the deliberate row-at-a-time UDF surface (#71)
    "q_udtf_split",   # Python UDTF lateral (#74)
}


def test_no_unexpected_antipatterns_in_any_query(spark, sf_dir):
    """Fleet-wide plan sweep: no registered query may introduce a
    cartesian/nested-loop join or row-at-a-time Python outside the
    explicit allowlists — the regression net for every future operator."""
    from polybot_data_etl_spark import registry

    bad = {}
    for name in registry.queries():
        if name == "q_dedup_clusters":
            continue  # iterative: builds labels eagerly; covered elsewhere
        plan = plan_of(spark, sf_dir, name)
        flags = []
        if "CartesianProduct" in plan and name not in _NLJ_ALLOWED:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in _NLJ_ALLOWED:
            flags.append("nested-loop")
        if "BatchEvalPython" in plan and name not in _ROW_PYTHON_ALLOWED:
            flags.append("row-python")
        if flags:
            bad[name] = flags
    assert not bad, bad


def test_contamination_equi_join_no_pairs(spark, sf_dir):
    """Decontamination meets on a shingle equi-join (hash-partitioned or
    broadcast) and two-phase-aggregates the hit counts — never a
    doc-pair product."""
    plan = plan_of(spark, sf_dir, "q_text_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan
    # dual count-distinct compiles to the Expand + staged-HashAggregate
    # rewrite (partial per (doc, gram) then merge) — never a resort to
    # a single-node distinct
    assert "Expand" in plan and plan.count("HashAggregate") >= 2


def test_gapfill_partitions_by_user(spark, sf_dir):
    """The spine join and the forward-fill window both key on user_id —
    no global single-partition sort anywhere."""
    plan = plan_of(spark, sf_dir, "q_ts_gapfill")
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan
    # a global window would show an empty partition spec / SinglePartition
    assert "SinglePartition" not in plan


def test_salted_join_joins_on_salt(spark, sf_dir):
    """The salted join's equi-keys include the salt column, and the
    fact side is not broadcast."""
    plan = plan_of(spark, sf_dir, "q_join_salted")
    assert "__salt" in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_and_mix_stratum_windows(spark, sf_dir):
    """Both sampling/mixing queries window per stratum (lang), never a
    global sort of the corpus."""
    for name in ("q_sample_weighted", "q_mix_budget"):
        plan = plan_of(spark, sf_dir, name)
        assert "hashpartitioning(lang" in plan, name
        assert "SinglePartition" not in plan, name


def _window_specs(plan: str) -> list[str]:
    import re

    return re.findall(r"windowspecdefinition\([^)]*\)", plan)


def test_mix_budget_and_pack_greedy_data_windows_bucket_sharded(
    spark, sf_dir
):
    """VERDICT r3 #2/#3: the prefix-sum window over the CORPUS (the one
    ordering by the portable hash ``__h``) must partition by
    (lang, hash-range bucket) — a single-lang data window hands one
    task an entire language at 100 TB.  The only lang-only window runs
    over the ≤32-row-per-lang bucket summary (orders by ``__bkt``)."""
    for name in ("q_mix_budget", "q_pack_greedy"):
        plan = plan_of(spark, sf_dir, name)
        data_specs = [s for s in _window_specs(plan) if "__h#" in s]
        assert data_specs, name
        for s in data_specs:
            assert "__bkt" in s, (name, s)


def test_ts_concurrency_sweep_is_hour_sharded(spark, sf_dir):
    """VERDICT r3 #4: the sweep-line running sum (the window ordering
    by the boundary timestamp ``t``) must partition by (day, hour) —
    a day-only window makes a hot day one ~2×10⁸-row sorted task.  The
    day-only window may only touch the ≤25-row per-hour carry summary
    (orders by ``hr``)."""
    plan = plan_of(spark, sf_dir, "q_ts_concurrency")
    data_specs = [s for s in _window_specs(plan) if " t#" in s or "(t#" in s]
    assert data_specs
    for s in data_specs:
        assert "hr#" in s, s


def test_chunk_is_narrow_generate(spark, sf_dir):
    """Chunking is a per-row Generate + codegen substring — zero
    shuffles, no join, no Python."""
    plan = plan_of(spark, sf_dir, "q_text_chunk")
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_split_histogram_mode_partial_aggs(spark, sf_dir):
    """The split/histogram/mode/anomaly family is hash-agg shaped with
    map-side combine; none of them sorts globally."""
    for name in ("q_split_assign", "q_agg_histogram", "q_agg_mode",
                 "q_ts_anomaly", "q_cdc_compact"):
        plan = plan_of(spark, sf_dir, name)
        assert "HashAggregate" in plan or "Window" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "SinglePartition" not in plan, name


def test_pack_greedy_windows_per_lang(spark, sf_dir):
    """Sequence packing prefix-sums within the lang partition (the
    sharded pack key at scale) — never a global ordering."""
    plan = plan_of(spark, sf_dir, "q_pack_greedy")
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


def test_cdc_compact_windows_on_user(spark, sf_dir):
    """Changelog compaction windows on the high-cardinality key."""
    plan = plan_of(spark, sf_dir, "q_cdc_compact")
    assert "hashpartitioning(user_id" in plan


def test_resample_single_key_no_global_sort(spark, sf_dir):
    """OHLC resample: both row_number windows and the final agg hash on
    the same (day, event_type) key — no global sort, no extra keys."""
    plan = plan_of(spark, sf_dir, "q_ts_resample")
    assert "hashpartitioning(day" in plan
    assert "SinglePartition" not in plan


def test_locf_and_ewma_partition_by_user(spark, sf_dir):
    """The carried-forward and EWMA windows key on user_id (high
    cardinality); EWMA's fold is a JVM higher-order function, not
    Python."""
    for name in ("q_ts_locf", "q_ts_ewma"):
        plan = plan_of(spark, sf_dir, name)
        assert "hashpartitioning(user_id" in plan, name
        assert "SinglePartition" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_pagerank_broadcasts_iteration_joins(spark, sf_dir):
    """PageRank's fact-side joins and every per-iteration rank join are
    hash/broadcast equi-joins; iterating never plans a cartesian over
    data-sized frames (the only NLJ is the 1-row node-count)."""
    plan = plan_of(spark, sf_dir, "q_graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_vocab_head_is_take_ordered(spark, sf_dir):
    """The vocabulary top-200 must come from a distributed TakeOrdered,
    not a global sort of the whole vocabulary."""
    plan = plan_of(spark, sf_dir, "q_text_vocab")
    assert "TakeOrderedAndProject" in plan


def test_freshness_partial_max(spark, sf_dir):
    """Freshness is two map-side-combined max aggs + a 1-row broadcast —
    no sort, no wide join."""
    plan = plan_of(spark, sf_dir, "q_dq_freshness")
    assert "partial_max" in plan
    assert "Sort" not in plan


def test_scd2_snapshot_windows_on_user(spark, sf_dir):
    """The AS-OF reconstruction is one lead() window on user_id plus a
    filter — no range join, no global sort."""
    plan = plan_of(spark, sf_dir, "q_scd2_snapshot")
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_perplexity_equi_joins_partial_aggs(spark, sf_dir):
    """LM scoring joins on bigram/w1 equi-keys with map-side-combined
    count tables — never a doc-pair or token-pair product."""
    plan = plan_of(spark, sf_dir, "q_text_perplexity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_corr_single_shuffle_partial_sums(spark, sf_dir):
    """The moment-based corr is one map-side-combined hash agg: all six
    sums partial-aggregate before the single group-key shuffle."""
    plan = plan_of(spark, sf_dir, "q_agg_corr")
    assert "partial_sum" in plan
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1


def test_centroid_partial_aggregates_components(spark, sf_dir):
    """Vector averaging must partial-aggregate the exploded components
    inside each partition — the shuffle carries |labels|×|dims| partial
    rows, not raw vectors."""
    plan = plan_of(spark, sf_dir, "q_embed_centroid")
    assert "partial_sum" in plan or "partial_avg" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_psi_aggregates_before_joins(spark, sf_dir):
    """PSI's joins run over count frames (post-agg), never raw events;
    everything after the first agg is bucket-sized."""
    plan = plan_of(spark, sf_dir, "q_dq_psi")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_pruned_scan_pushes_ts_range(spark, sf_dir):
    """The ts-range predicate must reach the parquet scan (PushedFilters
    row-group skipping), and only the three needed columns are read."""
    plan = plan_of(spark, sf_dir, "q_scan_time_pruned")
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed
    assert "props" not in plan  # column pruning
    assert "partial_sum" in plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Spark's runtime bloom-filter injection: a selective dimension
    filter materializes a bloom filter that is pushed into the fact
    side's scan stage, so fact rows with no join partner die before the
    shuffle — at 100 TB this is the difference between shuffling the
    full fact table and shuffling the ~2% that survives the dim filter.
    Disabled-broadcast forces the shuffle-join shape where the bloom
    matters; confs are restored after."""
    import pyspark.sql.functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from polybot_data_etl_spark.catalog import table

        li = table(spark, sf_dir, "lineitem")
        pt = table(spark, sf_dir, "part").filter(
            F.col("p_partkey") % 50 == 0
        )
        j = (
            li.join(pt, li.l_partkey == pt.p_partkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bitmap_distinct_two_stage_no_join(spark, sf_dir):
    """The bitmap rollup is exactly two aggregation exchanges (per-
    bucket OR, then per-key sum) — no join, no expand: the shuffle
    carries bitmaps, never raw ids."""
    plan = plan_of(spark, sf_dir, "q_agg_bitmap_distinct")
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 2
    assert "Join" not in plan
    assert "Expand" not in plan  # unlike count(DISTINCT)'s plan


def test_link_fuzzy_has_no_join_at_all(spark, sf_dir):
    """Deletion-neighborhood linkage generates candidate pairs entirely
    via posting lists (groupBy + double explode): the physical plan
    contains ZERO join operators — the strongest possible no-self-join
    statement."""
    plan = plan_of(spark, sf_dir, "q_link_fuzzy")
    assert "Join" not in plan
    assert "ObjectHashAggregate" in plan  # collect_list posting lists
    assert "Generate" in plan  # variant + pair explodes


def test_weighted_median_single_exchange(spark, sf_dir):
    """Both windows and the final aggregate share one l_returnflag
    hash partitioning: the whole query is a single shuffle."""
    plan = plan_of(spark, sf_dir, "q_win_weighted_median")
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1
    assert "hashpartitioning(l_returnflag" in plan


def test_cms_counters_broadcast_topk_no_global_sort(spark, sf_dir):
    """The 1024-row counter table broadcasts to the key probe, and the
    final top-20 is TakeOrderedAndProject — no sort-merge join of the
    probe against counters, no global sort."""
    plan = plan_of(spark, sf_dir, "q_agg_cms_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_markov_window_keyed_on_user(spark, sf_dir):
    """The lag sequence shuffles on the high-cardinality user_id; the
    probability normalization runs over the 5x5 post-agg matrix."""
    plan = plan_of(spark, sf_dir, "q_ts_markov")
    assert "hashpartitioning(user_id" in plan


def test_nested_struct_field_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """Catalyst prunes unread STRUCT LEAVES from the parquet read
    schema, not just top-level columns: selecting one leaf of a
    two-field struct must scan a single-field struct.  At 100 TB wide
    nested event schemas live or die by this."""
    import pyspark.sql.functions as F

    from polybot_data_etl_spark.catalog import table

    path = str(tmp_path / "nested")
    c = table(spark, sf_dir, "customer")
    c.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")
        ).alias("profile"),
    ).write.parquet(path)
    got = spark.read.parquet(path).select("c_custkey", "profile.bal")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    assert "ReadSchema: struct<c_custkey:bigint,profile:struct<bal:double>>" in plan
    assert "name" not in plan.split("ReadSchema")[1][:120]


def test_ml_score_is_fused_narrow(spark, sf_dir):
    """The ICDE'25 inference-as-SQL claim, checked: model + features
    compile to ONE codegen'd narrow stage — no shuffle, no Python."""
    plan = plan_of(spark, sf_dir, "q_ml_score")
    assert "codegen id" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_new_filters_are_narrow(spark, sf_dir):
    for name in ("q_text_gopher", "q_text_readability", "q_fn_url"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_kmeans_broadcasts_centroids(spark, sf_dir):
    """Lloyd assignment must broadcast the k×dim centroid frame and
    re-center via partial aggs — a shuffled centroid join or a
    non-combined re-centering would not survive 100 TB."""
    plan = plan_of(spark, sf_dir, "q_embed_kmeans")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_avg" in plan or "partial_sum" in plan


def test_semantic_dedup_single_cluster_shuffle(spark, sf_dir):
    """SemDeDup = group-by-cluster + per-cluster pandas kernel: exactly
    one exchange (the cluster key), Arrow-batched Python, no pairs
    frame before Python."""
    plan = plan_of(spark, sf_dir, "q_dedup_semantic")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") >= 1
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # pairs are emitted by the kernel, not a join


def test_qualify_windows_on_custkey(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_sql_qualify")
    assert "partitionspec(o_custkey" in plan.lower().replace(" ", "") or (
        "Window" in plan and "o_custkey" in plan
    )
    assert "TakeOrderedAndProject" in plan or "GlobalSort" not in plan


def test_overlap_join_is_day_equi_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_join_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_card_single_expand_agg(spark, sf_dir):
    """GROUPING SETS must compile to one Expand + hash agg, not a
    union of four scans."""
    plan = plan_of(spark, sf_dir, "q_pipeline_card")
    # one scan in the plan TREE (formatted mode repeats the node name in
    # the detail section, hence the "+-" prefix)
    assert plan.count("+- Scan parquet") == 1
    assert "Expand" in plan


def test_stats_partial_sums(spark, sf_dir):
    for name in ("q_stats_regression", "q_stats_chisq"):
        plan = plan_of(spark, sf_dir, name)
        assert "partial_sum" in plan or "partial_count" in plan, name


def test_holt_no_fact_table_window(spark, sf_dir):
    """The Holt fold must run over the aggregated daily series (bounded
    by the calendar), never a window over raw events."""
    plan = plan_of(spark, sf_dir, "q_ts_holt")
    assert "partial_count" in plan          # daily counts combine map-side
    assert "Window" not in plan             # fold is an expression, not a window


def test_m4_single_combinable_agg(spark, sf_dir):
    """M4's whole point: one map-side-combinable agg, output bounded by
    series × pixels — no windows, no joins, one exchange."""
    plan = plan_of(spark, sf_dir, "q_ts_m4")
    assert "partial_min" in plan and "partial_max" in plan
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1


def test_benford_window_only_on_digit_frame(spark, sf_dir):
    """The single-partition window is fine ONLY because it runs over
    the 9-row digit aggregate, after the map-side-combined count."""
    plan = plan_of(spark, sf_dir, "q_dq_benford")
    assert "partial_count" in plan
    # window input comes from the aggregate, so the exchange feeding it
    # is a SinglePartition over ≤9 rows — the fact scan never single-partitions
    assert "Scan parquet" in plan


def test_cuped_no_fact_windows(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_stats_cuped")
    assert "Window" not in plan
    assert "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_concurrency_sweep_partitions_by_day(spark, sf_dir):
    """The running-sum window must hash-partition on day — a global
    sweep would funnel every boundary event into one task."""
    plan = plan_of(spark, sf_dir, "q_ts_concurrency")
    assert "windowspecdefinition(day" in plan
    assert "hashpartitioning(day" in plan


def test_zipf_head_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_text_zipf")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_skyline_aggregates_before_frontier_window(spark, sf_dir):
    """The frontier window must consume the per-(seg, day) aggregate,
    never raw orders: partial max first, window partitioned by seg."""
    plan = plan_of(spark, sf_dir, "q_win_skyline")
    assert "partial_max" in plan
    assert "windowspecdefinition(seg" in plan


def test_reservoir_windows_are_sharded_then_merged(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_sample_reservoir")
    # pass 1 partitions by (lang, shard-of-32) — no whole-language sort
    assert "pmod" in plan
    # two window stages: shard-local top-k, then the per-lang merge of
    # the ≤32k survivors
    assert plan.count("Window") >= 2
    # projection prunes text: only lang/doc_id/n_chars are read
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_embed_cov_single_reduce_no_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_embed_cov")
    # all O(d²) moments in one partial/final agg — no join, no window
    assert "Join" not in plan and "Window" not in plan
    assert "partial_sum" in plan
    # the only exchanges are the 1-row agg gather + the 36-row sort
    assert plan.count("Exchange") <= 3


def test_ndcg_reuses_user_partitioning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_ml_ndcg")
    # window and per-user agg share the user_id hash partitioning:
    # exactly one hashpartitioning(user_id) exchange feeds both
    assert plan.count("hashpartitioning(user_id") == 1


def test_spearman_rank_frames_broadcast_back(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_stats_spearman")
    # both distinct-value rank frames come back via broadcast joins —
    # the fact table is never shuffled for the join
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_ml_eval_windows_input_is_bounded_score_frame(spark, sf_dir):
    """The ml-eval family plans unpartitioned windows (WARN WindowExec)
    that are safe ONLY because their input is the distinct-score frame
    (bounded by the 4-dp score grid, ≤ ~10k rows at any corpus size),
    never the fact table.  Pin that: every Window's Input must be the
    aggregated (score, cnt*) columns — a raw fact column appearing
    there means someone re-pointed the window at the corpus
    (VERDICT r4 #4)."""
    import re

    raw_fact_cols = ("embedding#", "label#", "truth#", "event_", "user_id#")
    for name in ("q_ml_auc", "q_ml_ks", "q_ml_threshold", "q_ml_feature_auc"):
        plan = plan_of(spark, sf_dir, name)
        wins = re.findall(r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", plan)
        assert wins, f"{name}: expected a Window over the score frame"
        for inp in wins:
            assert "cnt" in inp, f"{name}: window input {inp!r} lacks agg cols"
            for col in raw_fact_cols:
                assert col not in inp, (
                    f"{name}: window input {inp!r} references fact column"
                    f" {col} — the bounded-frame contract is broken"
                )
    # pr_curve has no window at all: the sweep is a broadcast range join
    assert "Window" not in plan_of(spark, sf_dir, "q_ml_pr_curve")


def test_winsorized_approx_variant_is_sketch_partial(spark, sf_dir):
    """q_agg_winsorized's cutpoints keep the EXACT percentile aggregate
    (DuckDB quantile_cont parity), not an approx_percentile sketch."""
    import re

    exact = plan_of(spark, sf_dir, "q_agg_winsorized")
    assert re.search(r"(?<!approx_)percentile\(", exact)


def test_ml_lift_fact_window_is_score_partitioned(spark, sf_dir):
    """q_ml_lift's global-rank construction: the only window that sees
    fact rows must be PARTITIONED BY score (high-cardinality — the
    rank-within-score stage); the unpartitioned windows may only see
    the bounded distinct-score / 10-row decile frames (same contract
    as the ml-eval family)."""
    import re

    plan = plan_of(spark, sf_dir, "q_ml_lift")
    blocks = re.findall(
        r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]\nArguments: \[([^\n]*)",
        plan,
    )
    assert blocks, "expected Window operators in q_ml_lift"
    for inp, args in blocks:
        if "vec_id#" in inp or "truth#" in inp:  # the fact-row window
            assert "windowspecdefinition(score#" in args, (
                "fact-row window lost its score partitioning: " + args
            )
        else:  # bounded frames only
            assert "c#" in inp or "n_pos#" in inp, inp


def test_theil_window_input_is_nation_aggregate(spark, sf_dir):
    """q_agg_theil plans an unpartitioned window (WARN WindowExec)
    that is safe ONLY because its input is the 25-row per-nation
    moment aggregate — pin that the Window never sees the orders fact
    (same contract as the ml-eval distinct-score pins)."""
    import re

    plan = plan_of(spark, sf_dir, "q_agg_theil")
    wins = re.findall(r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert wins, "expected a Window over the nation aggregate"
    for inp in wins:
        assert "sg" in inp and "ng" in inp, (
            f"window input {inp!r} lacks the nation-moment agg cols"
        )
        for col in ("o_totalprice#", "o_custkey#", "x#"):
            assert col not in inp, (
                f"window input {inp!r} references fact column {col}"
            )


def test_source_diversity_window_input_is_source_aggregate(spark, sf_dir):
    """q_text_source_diversity's unpartitioned windows are safe ONLY
    over the k-row per-source aggregate — pin that no Window input
    references the raw documents text column (theil-pin contract)."""
    import re

    plan = plan_of(spark, sf_dir, "q_text_source_diversity")
    wins = re.findall(r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert wins, "expected a Window over the source aggregate"
    for inp in wins:
        assert "docs" in inp and "toks" in inp, (
            f"window input {inp!r} lacks the per-source agg cols"
        )
        assert "text#" not in inp and "doc_id#" not in inp, (
            f"window input {inp!r} references the raw documents table"
        )


def test_link_predict_pairs_are_explode_generated_no_self_join(spark, sf_dir):
    """Round-6 rewrite pin: edge and wedge pair generation is explode²
    over collected arrays (Generate nodes), NOT shuffle self-joins —
    the only join left is the candidate anti-join against the edge set.
    A SortMergeJoin/ShuffledHashJoin on l_orderkey or v reappearing
    means someone reverted to the O(shuffle) pair generator."""
    plan = plan_of(spark, sf_dir, "q_graph_link_predict")
    import re

    # wedge explode² (the edge side's Generates sit behind the
    # localCheckpoint cut, so the visible plan shows the wedge pair)
    assert len(re.findall(r"\(\d+\) Generate", plan)) >= 2
    assert "explode(ws" in plan

    for m in re.finditer(r"(SortMergeJoin|ShuffledHashJoin) \[([^\]]*)\]", plan):
        keys = m.group(2)
        assert "l_orderkey" not in keys and not keys.startswith("v#"), (
            f"pair-generating self-join reappeared on keys {keys!r}"
        )


def test_agg_abc_shares_one_revenue_frame(spark, sf_dir):
    """Round-6 rewrite pin: the per-part revenue frame is checkpointed
    once at the percentile probe; the four downstream consumers reuse
    it, so the FINAL plan contains no lineitem parquet scan at all
    (a scan reappearing means the shared subtree was un-cut and the
    shuffle runs per consumer again)."""
    plan = plan_of(spark, sf_dir, "q_agg_abc")
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_minhash_eval_found_side_is_probe_bounded(spark, sf_dir, monkeypatch):
    """q_dedup_minhash_eval (r7): BOTH sides are probe-bounded — every
    parquet scan in the plan (the query reads only documents) carries
    the doc_id < 100 pushdown, so the found side runs the signature
    kernel over the probe subset, never the corpus (a corpus scan →
    100-doc kernel at 100 TB).  Banding is per-doc deterministic, so
    probe×probe LSH pairs are identical either way (the oracle keeps
    the filtered-full-corpus formulation as the independent witness).

    The lazy localCheckpoints in the MinHash path hide the lineage
    behind `Scan ExistingRDD`, so the plan is taken with
    localCheckpoint patched to the identity: the scans it shows are
    the lineage under those checkpoints."""
    import re

    from polybot_data_etl_spark.functions.dedup import clear_pair_cache

    clear_pair_cache()  # a memoized corpus pair frame would hide scans
    try:
        monkeypatch.setattr(
            type(spark.range(1)), "localCheckpoint", lambda self, *a, **k: self
        )
        plan = plan_of(spark, sf_dir, "q_dedup_minhash_eval")
        monkeypatch.undo()
        scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
        assert scans, "expected parquet scans in the plan"
        probe_pushed = [
            ln
            for ln in plan.splitlines()
            if "PushedFilters" in ln and "LessThan(doc_id,100)" in ln
        ]
        assert len(probe_pushed) == len(scans), (
            f"{len(scans)} parquet scans but only {len(probe_pushed)}"
            f" carry the probe pushdown:\n{plan[:2000]}"
        )
    finally:
        clear_pair_cache()


# Registered queries whose optimized plan contains an UNPARTITIONED
# window directly over data-sized input (no Aggregate/Limit between the
# window and a scan).  EMPTY since the round-11 flip (VERDICT r10
# §Next-round #1): q_dq_rle, q_dq_id_gaps and q_win_dist now register
# their bucketed two-pass plans (the former naive forms of the first
# two live on as rle_profile_global / id_gaps_global, pytest
# cross-checks only).  Any future entry here needs a pinned-exact
# scale twin and a SCALE.md row.
_GLOBAL_DATA_WINDOW_ALLOWED: set[str] = set()


def test_no_unpartitioned_window_over_data(spark, sf_dir):
    """Fleet-wide plan sweep (round 8): an unpartitioned window whose
    input reaches a scan with no cardinality-bounding node between
    (Aggregate / Limit / Deduplicate) is a one-task global sort of the
    data — the shape that dies first at 100 TB.  Every such site must
    either carry a pinned-exact scale twin (allowlist above) or be
    rewritten with the two-pass bucket-offset recipe.

    Caveat encoded here: Aggregate counts as bounding even when its
    grouping key is an entity id (per-customer, per-user) — those
    frames still grow with data, just sublinearly, and the sweep
    cannot statically tell a 25-row event_type key from a 10^9-row
    custkey one.  The one known case, q_agg_rfm's ntiles over the
    per-customer frame, was flipped to its bucketed-rank plan in
    round 11 (operators/behavior.py), so the blind spot is currently
    empty; SCALE.md §global-window-inventory tracks it."""
    from polybot_data_etl_spark import registry

    def children(n):
        cs = n.children()
        return [cs.apply(i) for i in range(cs.size())]

    bounding = {
        "Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate",
        "OneRowRelation", "LocalRelation",
    }

    def bounded(n):
        if n.getClass().getSimpleName() in bounding:
            return True
        cs = children(n)
        if not cs:
            return False  # leaf = relation/scan
        return all(bounded(c) for c in cs)

    def n_global_data_windows(df):
        plan = df._jdf.queryExecution().optimizedPlan()
        count = [0]

        def walk(n):
            if (
                n.getClass().getSimpleName() == "Window"
                and n.partitionSpec().isEmpty()
                and not bounded(children(n)[0])
            ):
                count[0] += 1
            for c in children(n):
                walk(c)

        walk(plan)
        return count[0]

    bad = {}
    for name, fn in registry.queries().items():
        if name == "q_dedup_clusters":
            continue  # iterative: builds labels eagerly; covered elsewhere
        hits = n_global_data_windows(fn(spark, sf_dir))
        if hits and name not in _GLOBAL_DATA_WINDOW_ALLOWED:
            bad[name] = hits
    assert not bad, (
        "unpartitioned window over data-sized input (one-task global "
        f"sort at scale) outside the twin-backed allowlist: {bad}"
    )
