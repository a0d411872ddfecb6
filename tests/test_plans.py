"""Physical-plan contract tests (SURVEY.md §4.2): the shapes that make
these operators scale are asserted so a regression is a test failure,
not a 100 TB incident."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from topn_spark.plans import (
    assert_plan_contains,
    assert_plan_lacks,
    formatted_plan,
)
from topn_spark.queries import QUERIES


def q(spark, name):
    return QUERIES[name].builder(spark, SF_SMALL)


def test_global_topn_is_bounded_heap_no_shuffle(spark):
    # TakeOrderedAndProject = per-partition heap + driver merge; a full
    # sort would show Sort + Exchange (rangepartitioning).
    df = q(spark, "q01")
    assert_plan_contains(df, "TakeOrderedAndProject")
    assert_plan_lacks(df, "Exchange")


def test_grouped_topn_has_mapside_rank_cut(spark):
    # WindowGroupLimit below the Exchange = at most k rows per group
    # leave each map task.
    plan = formatted_plan(q(spark, "q04"))
    first_wgl = plan.find("WindowGroupLimit")
    first_exchange = plan.find("Exchange")
    assert first_wgl != -1 and first_exchange != -1


def test_salted_topn_limits_both_phases(spark):
    # x32's two cuts (keyed by (key, __salt), then by key) each keep a
    # WindowGroupLimit directly below their Exchange.
    tree = formatted_plan(q(spark, "x32_topn_salted")).split("\n\n", 1)[0]
    ops = [ln.strip(" +-").split(" (")[0] for ln in tree.splitlines()]
    below = [ops[i + 1] for i, op in enumerate(ops[:-1]) if op == "Exchange"]
    assert ops.count("Window") == 2, tree
    assert below.count("WindowGroupLimit") == 2, tree


def test_filter_and_projection_push_into_scan(spark):
    plan = formatted_plan(q(spark, "q05"))
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # column pruning: scan reads only projected + filtered columns
    # (4 of lineitem's 11), nothing else
    assert (
        "Output [4]: [l_orderkey" in plan
        and "l_linenumber" in plan
        and "l_extendedprice" not in plan
    )


def test_dim_joins_broadcast(spark):
    # (formatted mode under AQE prints the plan twice — initial +
    # current — so count >= 2, and no sort-merge join anywhere)
    plan = formatted_plan(q(spark, "q06"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_semi_anti_joins(spark):
    assert "LeftSemi" in formatted_plan(q(spark, "q08"))
    assert "LeftAnti" in formatted_plan(q(spark, "q09"))


def test_hash_agg_partial_final(spark):
    # partial (map-side combine) + final HashAggregate around the
    # exchange: the pre-shuffle reduction that matters at scale.
    plan = formatted_plan(q(spark, "q12"))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_whole_stage_codegen_everywhere(spark):
    # AQE finalizes codegen at execution; '*(n)' stage prefixes in the
    # executed plan mark WholeStageCodegen spans.
    for name in ("q05", "q12", "q26"):
        df = q(spark, name)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in executed, f"{name} has no codegen stages:\n{executed}"


def test_asof_join_has_no_nested_loop(spark):
    assert_plan_lacks(q(spark, "x10_asof_join"), "NestedLoop", "CartesianProduct")


def test_bucketed_asof_has_no_nested_loop(spark):
    # q11's keyless as-of is planned as time-bucketed equi-joins: a
    # nested-loop or data-sized broadcast here is the O(probe x build)
    # regression the bucketed operator exists to avoid.
    assert_plan_lacks(
        q(spark, "q11"), "BroadcastNestedLoopJoin", "CartesianProduct"
    )


def test_bucketed_asof_no_nlj_with_non_nullable_probe(spark):
    # The always-1 span-attach key must stay an equi key even when the
    # probe time column is NON-nullable: a col==col key would be folded
    # by SimplifyBinaryComparison there, degrading step (3) to the
    # BroadcastNestedLoopJoin the docstring rules out. The key is
    # derived nondeterministically precisely to survive this schema.
    import datetime

    from pyspark.sql import functions as F

    from topn_spark.operators.asof import asof_join_bucketed

    base = F.lit(datetime.datetime(2024, 1, 1))  # non-nullable literal
    probe = spark.range(100).select(
        F.col("id").alias("pid"),
        (base + F.make_interval(hours=F.col("id"))).alias("pt"),
    )
    quote = spark.range(40).select(
        (base + F.make_interval(hours=F.col("id") * 2)).alias("qt"),
        (F.col("id") * 1.5).alias("px"),
    )
    assert not probe.schema["pt"].nullable  # the schema under test
    joined = asof_join_bucketed(
        probe, quote, "pt", "qt", "pid", ["px"], bucket="day"
    )
    assert_plan_lacks(joined, "BroadcastNestedLoopJoin", "CartesianProduct")
    # and it still computes: every probe at/after the first quote matches
    assert joined.where(F.col("qt_asof").isNotNull()).count() == 100


def test_cosine_topk_is_bounded_heap(spark):
    assert_plan_contains(q(spark, "x07_cosine_topk"), "TakeOrderedAndProject")


def test_events_scan_prunes_columns(spark):
    # q27 touches only event_id/event_type/value: the ts shim must not
    # force reading other columns.
    plan = formatted_plan(q(spark, "q27"))
    assert "ReadSchema: struct<event_id:bigint,event_type:string,value:double>" in plan


def test_chunking_is_map_only(spark):
    # chunking = generate + posexplode + substring: must be a single
    # map stage — an Exchange here would shuffle the full corpus text.
    plan = formatted_plan(q(spark, "x34_chunking").limit(10))
    assert "Generate" in plan
    assert "Exchange" not in plan


def test_hash_sample_pushes_scan_filters_nothing_extra(spark):
    # the sampling predicate is an md5 filter — not pushable — but the
    # scan must still prune to the consumed columns only.
    plan = formatted_plan(q(spark, "x35_hash_sample"))
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_heavy_hitters_partial_final_and_heap(spark):
    # explode → partial agg before the shuffle (distinct tokens only
    # cross the wire) → final agg → bounded-heap top-k.
    plan = formatted_plan(q(spark, "x39_heavy_hitters"))
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_packing_windows_partition_by_corpus_key(spark):
    # the packing cumsum must be a keyed window (hashpartitioning by
    # source), never a single global window partition.
    plan = formatted_plan(q(spark, "x38_packing"))
    assert "Window" in plan
    assert "hashpartitioning(source" in plan


def test_audit_scale_flags_hazards(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from topn_spark.plans import audit_scale

    cross = spark.range(100).crossJoin(
        spark.range(50).withColumnRenamed("id", "j")
    )
    assert any("NestedLoop" in f or "Cartesian" in f
               for f in audit_scale(cross))

    keyless = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.partitionBy().orderBy("id"))
    )
    assert any("SinglePartition" in f and f.startswith("WARN")
               for f in audit_scale(keyless))


def test_audit_scale_accepts_clean_plans(spark):
    from pyspark.sql import functions as F

    from topn_spark.plans import audit_scale
    from topn_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name in (
        "q01",
        "q04",
        "q12",
        "x10_asof_join",
        # round-4 additions: prefix-filtered jaccard, the multimodal
        # decode family, line dedup, weighted sampling
        "x27_ngram_jaccard",
        "x89_pixel_decode_stats",
        "x90_audio_decode_stats",
        "x91_line_dedup",
        "x92_weighted_sample",
        "x93_video_header_decode",
        # round-4 y-series: ties (grouped WindowGroupLimit + global
        # threshold-rescan), order stats, listagg, decorrelated scalar
        # subquery, grid radius join, kmeans assignment, cross-corpus
        # anti join, bigram fluency
        "y01_topn_ties_grouped",
        "y02_topn_ties_global",
        "y03_median_mode",
        "y04_listagg",
        "y05_scalar_subquery",
        "y06_radius_join",
        "y07_kmeans",
        "y08_cross_corpus_dedup",
        "y09_bigram_fluency",
        "y10_corpus_pipeline",
        "y12_semantic_dedup",
        "y13_group_by_all",
        "y14_vocab_oov",
        "y15_video_frame_times",
        "y17_hashed_features",
        # round-4 second wave: dup-passage coverage, Welch t-test,
        # robust z-score, mixture sampling, PQ ANN, nearest as-of
        "y18_dup_ngram_coverage",
        "y19_welch_ttest",
        "y20_robust_zscore",
        "y21_mixture_sample",
        "y22_pq_ann",
        "y23_asof_nearest",
        "y24_join_size_estimate",
        "y25_table_diff",
        "y26_bpe_tokenize",
        "y27_bfs_hops",
        "y28_python_datasource",
        "y29_ohlc_bars",
        "y30_cohens_kappa",
        "y31_calibration_ece",
        "y33_pipeline_spec",
        "y34_scd2_as_of",
        "y35_stratified_split",
        "y36_population_stability",
        # round-5 z-series
        "z01_png_decode",
        "z02_bpe_train",
        "z03_ivfpq_ann",
        "z04_gif_decode",
        "z05_jpeg_decode",
        "z06_image_features",
        "z07_image_resize",
        "z08_audio_features",
        "z09_url_features",
        "z10_domain_cap",
        "z11_histogram_features",
        "z12_video_frame_sample",
        # round-7: markup extraction, unicode tokens, ANN re-rank
        "z13_html_extract",
        "z14_unicode_tokens",
        "z15_ann_rerank",
        "z16_quality_logreg",
        "z17_g711_audio",
        "z18_web_pipeline",
        "z19_bpe_unicode",
        "z20_script_profile",
        "z21_nfc_normalize",
        "z22_compress_ratio",
        # round-7 second wave: published filter suites + span removal
        "z23_gopher_rules",
        "z24_c4_line_filter",
        "z25_dup_span_removal",
        "z26_temperature_rebalance",
        "z27_gopher_repetition",
        # round-7 third wave: model-based filtering (CCNet / DSIR)
        "z28_bigram_lm",
        "z29_perplexity",
        "z30_ccnet_buckets",
        "z31_dsir_weights",
        "z32_warc_parse",
        "z33_zorder_blocks",
        "z34_cc_pipeline",
        "z35_wb_perplexity",
        "z36_train_shards",
        "z37_c4_span_dedup",
        "z38_unigram_lm_train",
        "z39_unigram_lm_apply",
        "z40_leakage_safe_split",
        "z41_corpus_report",
        "z42_corpus_overlap",
        "z43_tokenizer_eval",
        "z44_image_neardup",
        # round-8: language ID, byte BPE, sequence packing
        "z45_langid_ngram",
        "z46_byte_bpe",
        "z47_pack_sequences",
        "z48_script_tokens",
        "z49_pretrain_pipeline",
        "z50_url_filter",
        "z51_pii_redact",
        "z52_neardup_keep_best",
        "z53_unpack_round_trip",
        "z54_token_budget_mixture",
        "z55_kn_perplexity",
        "z56_pack_with_eos",
        "z57_routed_quality",
        "z58_ngram_decontaminate",
        "z59_epoch_mixture",
        # round-9 second wave: attribute sidecars + mixer
        "z60_tag_attributes",
        "z61_mixer",
        "z62_scrub_dup_paragraphs",
        "z63_expand_epochs",
        "z64_mixer_report",
        "z65_contamination_report",
        "z66_sft_chat_prep",
        "z67_best_of_n",
        "z68_score_bin_sample",
        "z69_redact_conversation",
        "z70_preference_pairs",
        "z71_loss_spans",
        "z72_token_loss_mask",
        "z73_pack_masked",
        "z74_unpack_masked_round_trip",
        "z75_fim_transform",
        "z76_conversation_report",
        "z77_packing_report",
        "z78_token_windows",
        "z79_dedup_conversations",
        "z80_ngram_diversity",
        "z81_bpe_loss_mask",
        "z82_corpus_diff",
        "z83_sft_decontaminate",
        "z84_multimodal_chat",
        "z85_preference_margin_report",
        "z86_conversation_neardup",
        "z87_unigram_loss_mask",
    ):
        warns = [
            f
            for f in audit_scale(QUERIES[name].builder(spark, sf))
            if f.startswith("WARN")
        ]
        spark.catalog.clearCache()
        assert warns == [], f"{name}: {warns}"

    # scalar aggregates funnel one row per partition, not the dataset
    agg = spark.range(1000).agg(F.countDistinct("id"))
    assert [f for f in audit_scale(agg) if f.startswith("WARN")] == []


def test_key_skew_profile_finds_hot_key(spark):
    from pyspark.sql import functions as F

    from topn_spark.diag import key_skew_profile

    df = spark.range(1000).select(
        F.when(F.col("id") < 600, "hot").otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("k")
    )
    top = key_skew_profile(df, ["k"], k=3).collect()
    assert top[0]["k"] == "hot"
    assert top[0]["n"] == 600
    assert abs(top[0]["frac"] - 0.6) < 1e-9


def test_partition_profile_counts_all_rows(spark):
    from topn_spark.diag import partition_profile

    df = spark.range(0, 10000, 1, 8)
    prof = partition_profile(df).collect()
    assert sum(r["n"] for r in prof) == 10000
    assert len(prof) == 8


def test_profile_table_stats_and_scale_mode(spark):
    """profile_table: exact stats on a null-bearing fixture; approx
    mode stays within HLL tolerance AND avoids the per-distinct-column
    Expand (the single-shuffle scale path)."""
    from topn_spark.diag import profile_table

    rows = [(1, "a"), (2, "b"), (3, None), (None, "a"), (2, "c")]
    df = spark.createDataFrame(rows, "x int, s string")
    exact = {r.col_name: r for r in profile_table(df).collect()}
    assert exact["x"].n == 5 and exact["x"].n_null == 1
    assert exact["x"].ndv == 3 and exact["s"].ndv == 3
    assert exact["x"].min_v == "1" and exact["x"].max_v == "3"
    assert exact["s"].n_null == 1 and exact["s"].min_v == "a"

    approx = {r.col_name: r for r in profile_table(df, approx=True).collect()}
    for c in ("x", "s"):
        assert abs(approx[c].ndv - exact[c].ndv) <= max(1, 0.05 * exact[c].ndv)
    plan = profile_table(df, approx=True)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    exact_plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan  # the cost approx mode removes


def test_check_expectations_single_pass_gate(spark):
    from pyspark.sql import functions as F

    from topn_spark.diag import check_expectations

    rows = [(1, "a@x.io", 10.0), (2, None, -5.0), (3, "bad", 200.0), (4, "b@y.co", 50.0)]
    df = spark.createDataFrame(rows, "id int, email string, score double")
    out = {
        r.rule: r
        for r in check_expectations(
            df,
            {
                "id not null": F.col("id").isNotNull(),
                "email looks valid": F.col("email").rlike("^[^@]+@[^@]+$"),
                "score in range": F.col("score").between(0, 100),
            },
            allow_fail=0.25,
        ).collect()
    }
    assert out["id not null"].n_fail == 0 and out["id not null"].ok
    # NULL email predicate counts as failure: 'bad' + NULL = 2 fails
    assert out["email looks valid"].n_fail == 2
    assert not out["email looks valid"].ok  # 0.5 > 0.25
    assert out["score in range"].n_fail == 2 and not out["score in range"].ok
    assert all(r.n == 4 for r in out.values())
    # one scan: a single aggregate, no join/union per rule
    plan = check_expectations(
        df, {"a": F.col("id") > 0, "b": F.col("score") > 0}
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one rule"):
        check_expectations(df, {})
    with _pytest.raises(ValueError, match="quotes"):
        check_expectations(df, {"bad'name": F.lit(True)})


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """A selective dim joined without broadcast injects a bloom
    semi-join reduction on the fact side (runtime row-level
    filtering) once the size gates are lowered."""
    from topn_spark.catalog import load_table
    from topn_spark.plans import enable_runtime_bloom_filters, formatted_plan

    saved = {
        k: spark.conf.get(k)
        for k in [
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        ]
    }
    try:
        enable_runtime_bloom_filters(spark)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_SMALL, "lineitem")
        orders = load_table(spark, SF_SMALL, "orders").where(
            "o_totalprice > 400000"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = formatted_plan(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # sanity: the filtered join still answers correctly
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_epoch_shuffle_plan_single_shard_exchange(spark):
    """z88 contract: the reshuffle is ONE hash exchange on the shard
    key — never a global sort (rangepartitioning)."""
    from topn_spark.catalog import load_table
    from topn_spark.operators.pipeline import epoch_shuffle

    df = load_table(spark, SF_SMALL, "documents").select("doc_id")
    plan = (
        epoch_shuffle(df, 1, 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_curriculum_stages_plan_no_global_sort(spark):
    """z94 contract: exact global rank through the two-phase bucket
    scan — broadcast offsets, no rangepartitioning exchange."""
    from topn_spark.catalog import load_table
    from topn_spark.operators.pipeline import curriculum_stages

    df = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "n_chars"
    )
    plan = (
        curriculum_stages(df, "n_chars", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_cluster_balanced_sample_plan_window_group_limit(spark):
    """z95 contract: the per-cluster cap evaluates map-side
    (WindowGroupLimit) so a cluster never materializes."""
    from topn_spark.catalog import load_table
    from topn_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = [[1.0 if d == j else 0.0 for d in range(64)] for j in range(2)]
    plan = (
        cluster_balanced_sample(emb, cents, 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan
