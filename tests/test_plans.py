"""Plan-shape regression tests: the physical plans must stay the plans
we designed for 100 TB (broadcasts chosen, pushdown reaching the scan,
shuffle counts bounded, codegen covering the hot path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.plans import inspect
from spark_kinesis_article_analysis_spark.registry import all_specs
from tests.conftest import SF_CORRECTNESS

SPECS = all_specs()


def _hash_keys(df) -> list[list[str]]:
    """Key columns (expression ids stripped) of every hash exchange in
    the formatted plan, in plan order."""
    import re

    return [
        re.findall(r"(\w+)#\d+", keys)
        for keys in re.findall(r"hashpartitioning\((.*?), \d+\)", inspect.explain_str(df))
    ]


class TestBroadcasts:
    def test_dim_joins_broadcast(self, spark):
        for name in ["join_broadcast_dim", "join_multiway_star", "sim_cosine_topk"]:
            df = SPECS[name].build(spark, SF_CORRECTNESS)
            assert inspect.has_broadcast_join(df), f"{name}: dim join must broadcast"

    def test_star_join_fact_shuffles_once(self, spark):
        """5-way star: one fact-fact sort-merge pair + final agg; all dims
        broadcast. Exchange count must stay small (no dim shuffles)."""
        df = SPECS["join_multiway_star"].build(spark, SF_CORRECTNESS)
        assert inspect.count_exchanges(df) <= 3, inspect.explain_str(df)


class TestPushdown:
    def test_filters_reach_parquet_scan(self, spark):
        df = SPECS["filter_predicates"].build(spark, SF_CORRECTNESS)
        pf = inspect.pushed_filters(df)
        assert "GreaterThan" in pf or "GreaterThanOrEqual" in pf, pf
        assert "In(l_returnflag" in pf or "In(" in pf, pf

    def test_column_pruning_reaches_scan(self, spark):
        df = SPECS["distinct_projection"].build(spark, SF_CORRECTNESS)
        cols = inspect.read_schema_columns(df)
        assert set(cols) == {"c_mktsegment", "c_nationkey"}, cols


class TestShuffleBudget:
    def test_article_pipeline_single_shuffle(self, spark):
        """JSON parse -> tokenize -> window agg is one hash exchange; a second
        one appearing means partial aggregation or projection fusion broke."""
        df = SPECS["article_pipeline_sliding"].build(spark, SF_CORRECTNESS)
        assert inspect.count_exchanges(df) == 1, inspect.explain_str(df)

    def test_pricing_summary_single_shuffle(self, spark):
        df = SPECS["agg_pricing_summary"].build(spark, SF_CORRECTNESS)
        assert inspect.count_exchanges(df) == 1, inspect.explain_str(df)

    def test_dedup_exact_single_shuffle(self, spark):
        df = SPECS["dedup_exact"].build(spark, SF_CORRECTNESS)
        assert inspect.count_exchanges(df) == 1, inspect.explain_str(df)


class TestCodegen:
    def test_hot_paths_whole_stage_codegen(self, spark):
        """AQE hides codegen subtrees in the un-executed plan, so check the
        non-adaptive plan — same operators, codegen annotations visible."""
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            for name in ["agg_pricing_summary", "filter_predicates", "scalar_math_functions"]:
                df = SPECS[name].build(spark, SF_CORRECTNESS)
                assert inspect.codegen_stage_count(df) >= 1, f"{name}: no codegen stage"
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


class TestCorpusPipelinePlanShape:
    def test_map_only_ops_have_zero_shuffles(self, spark):
        """Chunking, split assignment, vector norms, and the scalar families
        must stay scan-fused map stages — any Exchange here is a regression."""
        for name in [
            "text_chunk_sliding",
            "split_hash_assign",
            "embed_norm_stats",
            "scalar_string_extended",
            "sample_stratified",
            "text_pii_scrub",
            "embed_quantize_int8",
            "text_repetition_stats",
        ]:
            df = SPECS[name].build(spark, SF_CORRECTNESS)
            assert inspect.count_exchanges(df) == 0, f"{name}: {inspect.explain_str(df)}"

    def test_single_shuffle_ops(self, spark):
        """Packing/gating window by lang, centroid aggs by (label, pos),
        keep-latest windows by custkey, Q6 is scan+global agg: exactly one
        hash exchange each."""
        for name in [
            "pack_sequences_bounded",
            "quality_percentile_gate",
            "embed_centroid_per_label",
            "dedup_keep_latest",
            "tpch_q6_forecast_revenue",
            "funnel_user_stages",
            "window_session_dynamic_gap",
        ]:
            df = SPECS[name].build(spark, SF_CORRECTNESS)
            assert inspect.count_exchanges(df) == 1, f"{name}: {inspect.explain_str(df)}"

    def test_segment_dedup_is_agg_join_not_window(self, spark):
        """Segment-level dedup must find first occurrences with a map-side
        combinable min(struct) aggregation + join — NEVER a row_number
        window partitioned by segment, whose hot boilerplate segments
        would each land on a single reducer. Two corpus-grain shuffles
        (segment agg, doc reassembly) plus AQE's choice of join exchange."""
        df = SPECS["text_segment_dedup"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "Window" not in plan, plan
        assert inspect.count_exchanges(df) <= 3, plan


class TestQualityOpsPlanShape:
    def test_contamination_broadcasts_eval_grams(self, spark):
        """The eval-set shingle list is benchmark-sized (tiny) — the corpus
        shingle stream must join it via broadcast, never a corpus shuffle."""
        df = SPECS["text_contamination_flags"].build(spark, SF_CORRECTNESS)
        assert inspect.has_broadcast_join(df), inspect.explain_str(df)

    def test_mixture_resample_broadcasts_weights(self, spark):
        """Per-language weights broadcast back over the corpus; the only
        exchanges carry language-grain partial counts, so the count stays
        bounded and no Window/sort appears."""
        df = SPECS["corpus_mixture_resample"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert inspect.has_broadcast_join(df), plan
        assert "Window" not in plan, plan
        assert inspect.count_exchanges(df) <= 3, plan


class TestTpchPlanShape:
    def test_q3_broadcasts_customer_and_bounds_shuffles(self, spark):
        df = SPECS["tpch_q3_shipping_priority"].build(spark, SF_CORRECTNESS)
        assert inspect.has_broadcast_join(df)
        assert inspect.count_exchanges(df) <= 3, inspect.explain_str(df)

    def test_q6_predicates_fully_pushed(self, spark):
        pf = inspect.pushed_filters(SPECS["tpch_q6_forecast_revenue"].build(spark, SF_CORRECTNESS))
        for frag in ["l_shipdate", "l_discount", "l_quantity"]:
            assert frag in pf, pf

    def test_q19_disjunction_stays_hash_join(self, spark):
        """OR-of-ANDs spanning both join sides: Catalyst must keep the
        l_partkey equi-key (hash join + residual filter), never degrade
        to a nested loop over lineitem x part."""
        df = SPECS["tpch_q19_discounted_revenue"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_q16_exclusion_is_broadcast_anti_join(self, spark):
        """The NOT IN supplier exclusion must plan as a broadcast anti
        join (the list is dim-sized), not a shuffled one."""
        plan = inspect.explain_str(
            SPECS["tpch_q16_supplier_part_counts"].build(spark, SF_CORRECTNESS)
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan

    def test_q7_q8_dims_broadcast_one_fact_shuffle(self, spark):
        """The twice-joined nation dim and every other dim broadcast;
        the only corpus-scale exchanges belong to lineitem x orders and
        the final aggregate."""
        for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share"):
            df = SPECS[name].build(spark, SF_CORRECTNESS)
            plan = inspect.explain_str(df)
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: {plan}"
            assert inspect.has_broadcast_join(df), name
            assert inspect.count_exchanges(df) <= 4, f"{name}: {plan}"

    def test_q20_semi_join_chain_broadcasts(self, spark):
        """Both IN subqueries must land as broadcast semi-joins — the
        qualifying-part list and the heavy-supplier set are tiny."""
        plan = inspect.explain_str(
            SPECS["tpch_q20_promotion_suppliers"].build(spark, SF_CORRECTNESS)
        )
        assert "LeftSemi" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


class TestCorpusEndToEndPlanShape:
    def test_composed_pipeline_bounded_shuffles(self, spark):
        """Corpus-scale exchanges stay at exactly two — the dedup agg and
        the (__shard, lang, split) local-window hash; the survivor
        semi-join broadcasts and the shard id is doc_id-range arithmetic
        (monotone_range_shard), so there is no repartitionByRange and no
        boundary-sampling pass. The remaining exchanges all move the
        per-shard totals table (num_shards x |lang x split| rows — KBs at
        any corpus size), the price of packing without a per-language
        straggler reducer (skew.range_sharded_running_sum)."""
        df = SPECS["corpus_prep_end_to_end"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert inspect.count_exchanges(df) <= 5, plan
        # arithmetic sharding: no range exchange, no sampling pass
        assert "rangepartitioning" not in plan, plan
        # the corpus-scale window carries the shard split
        import re

        assert re.search(r"hashpartitioning\(__shard[^,]*, lang", plan), plan
        assert inspect.has_broadcast_join(df)


class TestBinnedRangeJoin:
    def test_binned_rewrite_avoids_nested_loop(self, spark):
        """The bin-equi rewrite must plan as a hash join; a
        BroadcastNestedLoopJoin appearing means the equi key was lost and
        every (row, period) pair is being evaluated again."""
        df = SPECS["join_range_binned"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestBloomPrefilter:
    def test_bits_broadcast_and_no_corpus_scale_join(self, spark):
        """The m-bit membership sketch must broadcast (<= BLOOM_BITS rows
        by construction); the exact join runs only on candidates."""
        plan = inspect.explain_str(
            SPECS["dedup_bloom_prefilter"].build(spark, SF_CORRECTNESS)
        )
        assert "BroadcastHashJoin" in plan, plan

    def test_candidates_superset_of_duplicates(self, spark):
        """Bloom guarantee: no false negatives — every exact duplicate is
        a bloom candidate (false positives allowed, that's the trade)."""
        rows = SPECS["dedup_bloom_prefilter"].build(spark, SF_CORRECTNESS).collect()
        assert rows, "prefilter returned no batch docs"
        for r in rows:
            if r.is_duplicate:
                assert r.bloom_candidate, f"false negative at doc {r.doc_id}"


class TestIvfAssignmentMapOnly:
    def test_assignment_has_no_pair_grain_shuffle_or_window(self, spark):
        """IVF assignment must stay a pure map stage: centroids fold to one
        broadcast array row and each vector computes its argmax centroid
        inside a higher-order expression. The only row_number window
        allowed is the FINAL top-k over the (tiny) probe-cell candidates,
        and the only hash exchange is that window's. A second window or
        hash exchange means the pair-grain (vector x centroid) assignment
        form is back — the 100 TB killer this plan replaced."""
        import re

        df = SPECS["sim_ivf_topk"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
        # r10: exactly TWO hash exchanges — the multi-assignment dedup
        # (HashAggregate distinct at candidate grain) and the final
        # top-k window's. The trained-centroid subtree sits behind a
        # lineage-cutting checkpoint (Scan ExistingRDD), so its
        # single-row aggs never re-enter this plan.
        assert plan.count("hashpartitioning") == 2, plan
        assert "ExistingRDD" in plan, plan
        assert inspect.count_exchanges(df) <= 3, plan

    def test_training_update_is_one_cluster_grain_agg(self, spark, monkeypatch):
        """The trained cells' update is ONE hash aggregation keyed by the
        cell alone. The training's lazy localCheckpoint is made a no-op
        here so the plan keeps the lineage it would otherwise cut."""
        from spark_kinesis_article_analysis_spark.catalog import load
        from spark_kinesis_article_analysis_spark.functions.similarity import (
            _cosine_vectors,
            _ivf_trained_cents,
        )

        e = _cosine_vectors(load(spark, SF_CORRECTNESS, "embeddings"))
        monkeypatch.setattr(type(e), "localCheckpoint", lambda self, eager=True: self)
        df = _ivf_trained_cents(e)
        assert _hash_keys(df) == [["cid"]], inspect.explain_str(df)

    def test_probe_side_filter_pushes_to_scan(self, spark):
        """The probe subtree re-derives its assignment from the
        vec_id < N_QUERIES scan so the corpus-wide assignment pass runs
        once; the proof is the pushed LessThan on the probe-side scan."""
        df = SPECS["sim_ivf_topk"].build(spark, SF_CORRECTNESS)
        assert "LessThan(vec_id" in inspect.pushed_filters(df)


class TestTemporalPlanShape:
    def test_asof_join_is_one_exchange_no_join_operator(self, spark):
        """The as-of union+window rewrite must plan as ONE hash exchange
        (the per-user window's) and NO join operator at all — a Join node
        or a second exchange means either the theta-join form or a
        build-side pre-aggregation crept back in."""
        df = SPECS["join_asof"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert plan.count("hashpartitioning") == 1, plan
        assert "Join" not in plan, plan

    def test_range_interval_join_is_hash_not_nested_loop(self, spark):
        """The interval-overlap join must hash-join on the bin key; a
        nested-loop (or cartesian) node means the bin equi key was lost
        and every (click, window) pair is being evaluated."""
        df = SPECS["join_range_interval"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "HashJoin" in plan, plan

    def test_gapfill_densification_is_post_aggregation(self, spark):
        """Densification (sequence/explode + left join + LOCF window) must
        sit ABOVE the bucket aggregation: exactly one corpus-grain
        exchange (the bucket groupBy's hashpartitioning over the raw
        events relation); everything after operates at bucket-grain
        cardinality."""
        import re

        df = SPECS["time_bucket_gapfill"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        # Corpus-grain exchanges partition on (event_type, bucket) straight
        # off the scan; there must be exactly one full-width aggregation
        # feeding both the series bounds and the join-back (plan reuse or a
        # second cheap scan are both acceptable — but no exchange may carry
        # more than bucket-grain rows beyond the first aggregation).
        assert "HashAggregate" in plan, plan
        assert len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)) == 0, plan


class TestScd2AndFuzzyPlanShape:
    def test_scd2_history_is_one_exchange(self, spark):
        """Both SCD2 windows (lag change-detect, lead validity) share one
        (custkey) partitioning + (date, orderkey) sort — the whole
        history build must plan over a single hash exchange."""
        df = SPECS["scd2_history"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert plan.count("hashpartitioning") == 1, plan

    def test_fuzzy_dedup_has_no_pair_grain_self_join(self, spark):
        """Candidates must come from the shared banded-bucket expansion
        (higher-order combinations), never a banded self-join (which
        re-derives the shingle->minhash upstream per side) or a nested
        loop over doc pairs."""
        df = SPECS["dedup_fuzzy_levenshtein"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestScaleOpsPlanShape:
    def test_sampling_and_projection_are_map_only(self, spark):
        """Hash sampling and the JL projection are scan-fused map stages;
        any Exchange is a regression."""
        for name in ["sample_hash_portable", "embed_random_projection"]:
            df = SPECS[name].build(spark, SF_CORRECTNESS)
            assert inspect.count_exchanges(df) == 0, f"{name}: {inspect.explain_str(df)}"

    def test_heavy_hitters_is_partial_agg_plus_takeordered(self, spark):
        """Two-phase claim: partial HashAggregate before the token
        exchange (hot tokens combine map-side), and the final top-k is
        TakeOrderedAndProject — never a global Sort of the distinct-token
        set."""
        df = SPECS["agg_heavy_hitters"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "TakeOrderedAndProject" in plan, plan
        assert plan.count("HashAggregate") >= 2, plan  # partial + final

    def test_rolling_interval_stats_single_exchange(self, spark):
        df = SPECS["time_rolling_interval_stats"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert plan.count("hashpartitioning") == 1, plan

    def test_cumulative_distinct_two_exchanges(self, spark):
        """(event_type, user_id) flag window + event_type running sum —
        exactly two hash exchanges, and no join (the rewrite is
        window-only)."""
        df = SPECS["window_cumulative_distinct"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert plan.count("hashpartitioning") == 2, plan
        assert "Join" not in plan, plan

    def test_zorder_stats_broadcast_no_corpus_shuffle_before_agg(self, spark):
        """The 1-row domain-stats agg must reach the corpus side as a
        broadcast; the only corpus-scale exchange is the final zbucket
        aggregation."""
        df = SPECS["layout_zorder_cluster"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert inspect.has_broadcast_join(df), plan
        assert "CartesianProduct" not in plan, plan

    def test_cdc_merge_is_single_join_no_window(self, spark):
        """MERGE compiles to ONE full-outer join + projection: no window
        operator, no second corpus-grain join."""
        df = SPECS["cdc_merge_upsert"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "SortMergeJoin FullOuter" in plan or "FullOuter" in plan, plan
        assert "Window" not in plan, plan

    def test_kmeans_portable_assignment_is_map_side(self, spark):
        """Both assignment passes fold the broadcast centroid array
        map-side: no pair-grain window, no nested loop; the only
        corpus-grain exchange is the cluster-grain update agg."""
        df = SPECS["cluster_kmeans_portable"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "CartesianProduct" not in plan, plan
        assert "Window" not in plan, plan
        assert inspect.has_broadcast_join(df), plan

    def test_kmeans_portable_update_is_one_cluster_grain_agg(self, spark):
        """The centroid update is ONE hash aggregation keyed by the
        cluster alone — not a (cluster, pos) agg feeding a cluster agg."""
        df = SPECS["cluster_kmeans_portable"].build(spark, SF_CORRECTNESS)
        assert _hash_keys(df) == [["cid"]], inspect.explain_str(df)

    def test_pq_encode_is_broadcast_assign(self, spark):
        """PQ encode mirrors the kmeans posture: the M x K codebook folds
        to one broadcast row and every subvector picks its code map-side
        — no pair-grain window; corpus-grain exchanges are only the
        codebook-update and per-vector code aggregations."""
        df = SPECS["embed_pq_quantize"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "CartesianProduct" not in plan, plan
        assert "Window" not in plan, plan
        assert inspect.has_broadcast_join(df), plan

    def test_pq_adc_scan_is_broadcast_lookup(self, spark):
        """ADC search (FAISS scan shape): the per-query distance tables
        fold to ONE broadcast map and each encoded vector scores every
        query map-side via M map lookups — no corpus join, no
        aggregation shuffle on the scan; the only corpus-grain exchange
        is the two-phase sharded top-k's local window (merge phase is
        bounded — see test_scale_layout.test_sim_topk_windows_are_sharded).
        (The aggregates visible in the plan belong to the sample-grain
        codebook training.)"""
        df = SPECS["sim_pq_adc_topk"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "CartesianProduct" not in plan, plan
        assert inspect.has_broadcast_join(df), plan

    def test_simhash_is_map_only(self, spark):
        """r5 rewrite: the signature is computed in the scan that reads the
        document (per-bit folds over the hashed distinct-token array) —
        the plan must contain NO exchange at all. The prior explode +
        groupBy(doc_id) form shuffled a 32-vote partial row per document
        even though doc_id is already the row grain."""
        df = SPECS["dedup_simhash"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "Exchange" not in plan, plan
        assert "Generate" not in plan, plan  # no explode either

    def test_kmeans_lloyd_assignment_has_no_shuffle(self, spark):
        """r5 rewrite: per-round assignment folds the broadcast centroid
        array map-side and carries emb through, so the FINAL plan (the
        last assignment) holds exactly one broadcast join and zero
        shuffle exchanges — the recenter aggs live behind per-round
        localCheckpoints, and there is no join back to the corpus."""
        from spark_kinesis_article_analysis_spark.functions.similarity import kmeans_lloyd

        df = kmeans_lloyd(spark, SF_CORRECTNESS, rounds=2)
        plan = inspect.explain_str(df)
        assert inspect.has_broadcast_join(df), plan
        assert "Exchange hashpartitioning" not in plan, plan
        # exactly one corpus read: no join back to the embeddings table
        # (formatted mode prints each node twice — tree + detail — so
        # count FileScans in the executed plan string instead)
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert executed.count("FileScan parquet") == 1, executed

    def test_fuzzy_levenshtein_single_evaluation(self, spark):
        """r5: the O(len^2) edit distance must appear ONCE in the
        executed plan — the filter + two projections otherwise re-inline
        the deterministic expression (3 evaluations per candidate pair;
        the documented filter-re-inline trap), fixed by the candidate-
        grain cache barrier.

        Count on a cache-free plan: if an earlier test already ran this
        builder, CacheManager substitutes the MATERIALIZED persisted
        frame, and a materialized AdaptiveSparkPlan prints the subtree
        twice (== Final Plan == + == Initial Plan ==), doubling every
        substring (found as an order-dependent failure in the full
        suite)."""
        spark.catalog.clearCache()
        df = SPECS["dedup_fuzzy_levenshtein"].build(spark, SF_CORRECTNESS)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("levenshtein") == 1, plan

    def test_sharded_topk_local_phase_partitions_on_salt(self, spark):
        """Phase 1's window must partition on (segment, salt) — the
        straggler-free exchange — before the bounded final rank."""
        df = SPECS["topk_per_group_sharded"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert "__salt" in plan and plan.count("hashpartitioning") == 2, plan


class TestNgramJaccardPlanShape:
    def test_inverted_index_form_no_self_join(self, spark):
        """r5 rewrite: posting lists build with one groupBy-shingle, pairs
        expand intra-group — the plan must contain NO join between two
        shingle-exploded corpus scans (the old self-join re-derived the
        explode per side) and NO cartesian product; the df-capped index
        is cached (InMemoryRelation) so its two consumers share one
        upstream scan+explode."""
        df = SPECS["dedup_ngram_jaccard"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df, "simple")
        assert "CartesianProduct" not in plan
        assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, (
            "capped posting-list index must be cached for its two consumers"
        )
        # joins in the plan are only the two doc-grain size lookups
        # (simple mode prints each operator once, unlike formatted)
        n_smj = plan.count("SortMergeJoin")
        n_bhj = plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin")
        assert n_smj + n_bhj <= 2, plan


class TestRound9PlanShape:
    def test_map_only_round9_ops_have_zero_shuffles(self, spark):
        """URL canonicalization, the hashed linear scorer, and both image
        codec/transform stages are pure per-row pipelines — any Exchange
        is a regression."""
        for name in [
            "url_normalize",
            "text_hashed_ngram_score",
            "multimodal_codec_bmp",
            "multimodal_resize_nearest",
        ]:
            df = SPECS[name].build(spark, SF_CORRECTNESS)
            assert inspect.count_exchanges(df) == 0, (
                f"{name}: {inspect.explain_str(df)}"
            )

    def test_url_dedup_single_corpus_shuffle(self, spark):
        """dedup_exact's plan shape: ONE canonical-key exchange feeds both
        the group fold and the annotate join (the small group side goes
        broadcast under AQE)."""
        df = SPECS["dedup_url_canonical"].build(spark, SF_CORRECTNESS)
        assert inspect.count_exchanges(df) <= 2, inspect.explain_str(df)

    def test_interval_ops_single_user_exchange(self, spark):
        """Both interval rewrites partition everything on user_id — the
        windows and the final aggregate must REUSE one exchange."""
        for name in ["interval_coalesce", "interval_overlap_depth"]:
            df = SPECS[name].build(spark, SF_CORRECTNESS)
            assert inspect.count_exchanges(df) == 1, (
                f"{name}: {inspect.explain_str(df)}"
            )

    def test_bm25_broadcasts_df_and_stats(self, spark):
        """The df/avgdl side-tables are tiny aggregates — they must come
        back as broadcasts, never co-shuffles of the posting stream; the
        posting shuffle + global top-k bound the exchange count."""
        df = SPECS["text_bm25_topk"].build(spark, SF_CORRECTNESS)
        assert inspect.has_broadcast_join(df), inspect.explain_str(df)
        assert inspect.count_exchanges(df) <= 5, inspect.explain_str(df)

    def test_bm25_vocabulary_filter_precedes_explode(self, spark):
        """Only query-vocabulary tokens may reach the posting shuffle: the
        array filter must sit below the explode (generate), not after it."""
        df = SPECS["text_bm25_topk"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df, "simple")
        assert "array_contains" in plan and "Generate explode" in plan, plan
        assert plan.index("array_contains") >= plan.index("Generate explode"), (
            "filter must be inside the generated array expression "
            "(plans print top-down: explode above its input filter)\n" + plan
        )

    def test_semantic_chunks_broadcast_centroids_no_pair_grain(self, spark):
        """Assignment joins ONE folded centroid row broadcast and chunks
        with a single cluster-grain window — no pair-grain exchange, no
        cartesian product before the capped chunk stage."""
        from spark_kinesis_article_analysis_spark.functions.semantic import (
            _semantic_chunks,
        )

        df = _semantic_chunks(spark, SF_CORRECTNESS)
        assert inspect.has_broadcast_join(df), inspect.explain_str(df)
        assert inspect.count_exchanges(df) <= 2, inspect.explain_str(df)
        assert "CartesianProduct" not in inspect.explain_str(df, "simple")


class TestRound9Batch2PlanShape:
    def test_triangle_pipeline_all_equi_joins(self, spark):
        """Degree orientation, wedge enumeration, and wedge closing are
        equi-joins over bounded keys — no cartesian product anywhere, and
        the 3x-consumed simple-edge set is pinned (localCheckpoint) so
        the dedup shuffle runs once."""
        df = SPECS["graph_triangle_stats"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df, "simple")
        assert "CartesianProduct" not in plan, plan

    def test_cms_matrix_broadcasts_to_probes(self, spark):
        """The folded d x w cell matrix is tiny by construction — the
        probe lookup must consume it broadcast, never co-shuffle the
        probe set."""
        df = SPECS["sketch_countmin_portable"].build(spark, SF_CORRECTNESS)
        assert inspect.has_broadcast_join(df), inspect.explain_str(df)

    def test_token_budget_mix_single_source_exchange(self, spark):
        """Token counts are map-side; the only shuffle is the source-keyed
        prefix-sum window."""
        df = SPECS["corpus_token_budget_mix"].build(spark, SF_CORRECTNESS)
        assert inspect.count_exchanges(df) == 1, inspect.explain_str(df)

    def test_seq_pattern_single_user_exchange(self, spark):
        """Fold-to-string is one user-keyed aggregate; the regexes are
        map-side over the folded row."""
        df = SPECS["seq_pattern_events"].build(spark, SF_CORRECTNESS)
        assert inspect.count_exchanges(df) == 1, inspect.explain_str(df)


class TestFoldMaterializationHelper:
    """functions/folds.py — the one shared barrier for the HOF
    filter-re-inline trap (r10, VERDICT r9 #4). The three queries that
    each independently paid the re-evaluation surprise now share one
    documented helper; this class pins the once-only evaluation."""

    def test_rrf_weighted_fold_not_reinlined_past_the_barrier(self, spark):
        """After materialize_fold, the filter/sort consumers must scan
        the checkpointed RDD — the uni+bigram md5 `aggregate(` fold must
        appear ZERO times downstream of the barrier (it was 3x, a
        measured 6.5x slowdown, before r9's fix)."""
        from spark_kinesis_article_analysis_spark.functions.folds import (
            materialize_fold,
        )
        from spark_kinesis_article_analysis_spark.functions.ranking import (
            _hashed_weighted,
        )

        weighted = materialize_fold(_hashed_weighted(spark, SF_CORRECTNESS))
        consumer = (
            weighted.where(F.col("n_feats") > 0)
            .orderBy(F.col("wsum").desc(), F.col("doc_id").asc())
            .limit(5)
        )
        plan = consumer._jdf.queryExecution().executedPlan().toString()
        assert "aggregate(" not in plan, plan
        assert "ExistingRDD" in plan, plan

    def test_rrf_full_query_evaluates_hashed_fold_once(self, spark):
        """The registered rank_fusion_rrf plan: the hashed-model fold's
        weight arithmetic (the `conv(substring(md5(...)))` bucket) must
        survive in at most one plan subtree — on the checkpoint-producer
        side, never re-inlined into both rank consumers."""
        spark.catalog.clearCache()
        df = SPECS["rank_fusion_rrf"].build(spark, SF_CORRECTNESS)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the fold ran at barrier-creation time; the final plan reads the
        # materialized RDD
        assert plan.count("aggregate(") == 0, plan

    def test_persist_method_marks_frame_cached(self, spark):
        from spark_kinesis_article_analysis_spark.functions.folds import (
            materialize_fold,
        )

        df = materialize_fold(spark.range(3).toDF("x"), method="persist")
        assert df.storageLevel.useMemory
        df.unpersist()

    def test_unknown_method_rejected(self, spark):
        import pytest

        from spark_kinesis_article_analysis_spark.functions.folds import (
            materialize_fold,
        )

        with pytest.raises(ValueError):
            materialize_fold(spark.range(1), method="cache-me-maybe")


class TestRound10PlanShape:
    def test_key_skew_bounded_exchanges_and_topk_cut(self, spark):
        """Key-grain count shuffles + the single-row stats fold; the
        stats come back as a broadcast (never a co-shuffle) and the
        output is a TakeOrderedAndProject cut, not a global sort. The
        initial plan prints the count subtree twice (stats branch +
        join branch — identical exchanges, deduped by ReuseExchange at
        runtime), hence <= 3 exchanges, not 2."""
        df = SPECS["diag_key_skew"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert inspect.has_broadcast_join(df), plan
        assert "TakeOrderedAndProject" in plan, plan
        assert inspect.count_exchanges(df) <= 3, plan

    def test_ohlc_is_one_grouped_aggregation(self, spark):
        """The whole bar computes in ONE aggregation on (bucket, series)
        — exactly one exchange with a map-side PARTIAL aggregate below
        it, no window, no join. (struct-min/max plans as SortAggregate —
        per-partition sorts, but the partial/final combine split is
        intact, which is what matters for skewed buckets at scale.)"""
        import re

        df = SPECS["ts_resample_ohlc"].build(spark, SF_CORRECTNESS)
        plan = inspect.explain_str(df)
        assert inspect.count_exchanges(df) == 1, plan
        assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0, plan
        assert "Join" not in plan, plan
        # partial (map-side) aggregate functions exist (partial_min/...)
        assert "partial_min" in plan and "partial_sum" in plan, plan

    def test_kinesis_batch_read_is_shard_parallel(self, spark):
        """The kinesis_api batch scan must expose one input partition
        per shard (N_SHARDS), not a single-slot read."""
        from spark_kinesis_article_analysis_spark.operators.kinesis_batch import (
            N_SHARDS,
            _ingested_stream,
            kinesis_options,
        )
        from pyspark import cloudpickle

        from spark_kinesis_article_analysis_spark.sources import (
            kinesis_source as _ks,
        )

        cloudpickle.register_pickle_by_value(_ks)
        spark.dataSource.register(_ks.KinesisApiDataSource)
        stream = _ingested_stream(spark, SF_CORRECTNESS)
        reader = _ks.KinesisApiBatchReader(kinesis_options(stream))
        assert len(reader.partitions()) == N_SHARDS
