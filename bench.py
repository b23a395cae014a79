#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>, ...}
where `queries` holds the slowest 20 entries (the driver's stdout tail
capture is ~2 KB; the 85-query map no longer fits — see BENCH_r09's
"parsed": null). The COMPLETE per-query map is written to
BENCH_LOCAL.json (committed) and referenced via `queries_file`.

Each query is timed end-to-end (plan build + execution) with a
materializing action that avoids driver-side result transfer cost
dominating (count of a noop-filtered result would let Catalyst prune
work, so we use ``write.format("noop")`` — full execution, no sink IO).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from spark_kinesis_article_analysis_spark.registry import all_specs
from spark_kinesis_article_analysis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline set: the flagship + one representative per operator family.
HEADLINE = [
    "article_pipeline_sliding",   # the reference pipeline end-to-end
    "agg_pricing_summary",        # TPC-H Q1 shape
    "join_multiway_star",         # 5-way star join
    "join_broadcast_dim",         # broadcast probe
    "topk_per_group",             # analytic window
    "time_window_sliding",        # time windows on events
    "time_window_session",        # stateful-ish session windows
    "dedup_exact",                # hash dedup
    "dedup_minhash_lsh",          # LSH near-dup (the scale path)
    "sim_cosine_topk",            # brute-force similarity baseline
    "text_quality_score",         # text analysis map stage
    "scalar_array_functions",     # higher-order array ops
    "tpch_q3_shipping_priority",  # selective dim filter -> fact join -> top-k
    "tpch_q6_forecast_revenue",   # fully-pushed-down scan + global agg
    "text_chunk_sliding",         # corpus-prep map stage (chunking)
    "dedup_cluster_components",   # iterative label propagation
    "corpus_prep_end_to_end",     # composed dedup->gate->split->pack pipeline
    "text_segment_dedup",         # C4-style segment-level corpus dedup
    "embed_quantize_int8",        # map-only embedding quantization
    "window_session_dynamic_gap", # per-row gap expression sessions
    # round-3 breadth: the heaviest previously-unbenched families
    "tpch_q5_local_supplier_volume",  # 6-way join cycle (heaviest tpch_extra shape)
    "tpch_q21_waiting_suppliers",     # double fact self-join + anti/semi
    "scalar_string_functions",    # scalar-family representative
    "quality_gate_sharded",       # histogram-sharded percentile gate
    "corpus_ingest_batch_form",   # streaming-ingest batch parity form
    # r3 pathology fixes — keep visible so they can't regress silently
    "text_contamination_flags",   # 5-gram screen (was 11.6s pre-fix)
    "dedup_embedding_cosine",     # blocked pair cosine (was 6.2s pre-fix)
    "scalar_try_functions",       # ANSI try_* (was 5.2s pre-fix)
    # round-4 breadth: heaviest still-unbenched representatives
    "dedup_ngram_jaccard",        # the quadratic exact baseline (SHOULD be visibly expensive)
    "sim_ivf_topk",               # cell-probe ANN scale path
    "agg_grouping_sets",          # multi-grain rollup in one pass
    "window_distribution",        # percent_rank/cume_dist/ntile analytic family
    "scalar_xml_functions",       # priciest scalar family (XML round-trip parse)
    # round-4 temporal/stats additions
    "join_asof",                  # union+window as-of join (1 exchange)
    "join_range_interval",        # bin-join interval overlap, both sides corpus-scale
    "time_bucket_gapfill",        # rollup + densify + LOCF
    "agg_stats_corr_regr",        # corr/covar/regr_* co-moment family
    "agg_exact_percentile",       # single array-percentage buffer (was 2 separate sorts)
    "dedup_fuzzy_levenshtein",    # LSH candidates + edit-distance verify
    "scd2_history",               # CDC/SCD2 validity intervals, one exchange
    # round-4c scale ops
    "agg_heavy_hitters",          # corpus-wide token frequency top-k
    "window_cumulative_distinct", # two-window running-distinct rewrite
    "layout_zorder_cluster",      # stats broadcast + interleave + bucket agg
    "cluster_kmeans_portable",    # value-hash-verified Lloyd round (ordered folds)
    "scalar_variant_json",        # VARIANT parse family (heaviest unbenched scalar)
    # round-5 breadth: the remaining warm-sweep heavies (VERDICT r4 #5)
    "cluster_kmeans_lloyd",       # full iterative Lloyd (heaviest sweep entry)
    "dedup_simhash",              # 32-bit per-token vote aggregation
    "dedup_minhash_lsh_portable", # md5-portable banded LSH end-to-end
    "agg_bitmap_distinct",        # bitmap-bucketed exact distinct counting
    # round-7 breadth: the new operator families (totals are NOT
    # comparable to rounds <= 6 on the "value" field — compare the
    # shared per-query keys; SCALE.md reports the like-for-like subtotal)
    "multimodal_codec_decode",    # real WAV/PPM decode via mapInPandas
    "text_substring_dedup",       # ExactSubstr stride-gram duplication stats
    "text_substring_cut",         # interval-merge fold removal (cut stage)
    "sql_recursive_bom",          # WITH RECURSIVE UnionLoop (iterative cost visible)
    "graph_pagerank_portable",    # integer-exact 4-round PageRank
    # round-8 additions (totals comparable to r7 only on shared keys)
    "multimodal_codec_png",       # real PNG codec (zlib + 5 filter types)
    "sql_recursive_reachability", # BFS fixpoint w/ UNION-dedup semantics
    "dedup_containment",          # directional containment over the inverted index
    "corpus_domain_cap",          # sharded-rank per-domain budget
    # round-9 additions (totals comparable to r8 only on shared keys)
    "interval_coalesce",          # gaps-and-islands merge, one user exchange
    "interval_overlap_depth",     # sweep-line peak concurrency
    "dedup_url_canonical",        # URL canonicalize + first-occurrence fold
    "text_bm25_topk",             # BM25 retrieval (filtered postings + broadcasts)
    "text_hashed_ngram_score",    # hashed linear scorer, map-only integer fold
    "dedup_semantic_cluster",     # SemDeDup retention over capped cluster chunks
    "multimodal_codec_bmp",       # real BMP codec round trip
    "multimodal_resize_nearest",  # PNG decode + nearest 2x resize
    "graph_triangle_stats",       # degree-oriented triangle counting
    "sketch_countmin_portable",   # relational CMS build + probes
    "corpus_token_budget_mix",    # source-budget prefix-sum selection
    "seq_pattern_events",         # fold-to-string regex sequence match
    "rank_fusion_rrf",            # RRF over BM25 + quality rankings
    "multimodal_codec_gif",       # real GIF87a codec (LZW round trip)
    "corpus_source_divergence",   # per-source entropy/KL, ordered folds
    "quality_gopher_gate",        # consolidated Gopher rule gate, map-only
    "agg_audience_overlap",       # exact set-op overlap matrix
    "multimodal_codec_jpeg",      # real baseline JPEG (DCT + Huffman)
    "multimodal_codec_avi_frames",  # real AVI container, 1-to-N frames
    # round-10 additions (totals comparable to r9 only on shared keys)
    "kinesis_api_batch",          # real wire-protocol round trip (moto endpoint)
    "diag_key_skew",              # key-skew profile, bounded two-phase
    "ts_resample_ohlc",           # OHLC bars, one SortAggregate exchange
    "s3_manifest_roundtrip",      # object-store sink round trip (manifest commit)
    # round-11 additions
    "stream_wire_end_to_end",     # Kinesis stream read -> parse -> manifest stream sink
    "s3_manifest_snapshot",       # pinned time-travel read across a compaction
    "agg_hll_exact_regime",       # sketch-bytes union, exactness-decidable regime
    "sim_pq_adc_topk",            # PQ asymmetric-distance search over encoded corpus
    # round-12 additions
    "stream_quality_gate_end_to_end",  # in-flight gopher gate -> manifest stream sink
    "text_trigram_backoff_logprob",    # held-out Stupid-Backoff trigram LM scoring
    "corpus_mix_temperature",          # p^alpha source mixing design
    "sim_nsw_topk",                    # graph-ANN beam search (the third ANN family)
    "stream_ann_end_to_end",           # streaming query vectors -> IVF index -> epoch-fenced sink
    "layout_hilbert_cluster",          # Hilbert layout key (arithmetic fold, no Morton seams)
    "s3_manifest_changes_since",       # incremental (CDC-shaped) manifest read
    "stream_stream_join_end_to_end",   # dual-stream watermarked interval join -> manifest sink
    "stream_table_to_table_end_to_end",  # manifest table consumed as a stream, hopped to a table
    "s3_manifest_row_deletes",         # merge-on-read DELETE WHERE (distributed position planning)
    "s3_manifest_merge_upsert",        # MERGE INTO: delete-matched + append, full DML surface
    "s3_manifest_pruned_scan",         # zone-map data skipping: pushFilters -> object pruning
    "s3_manifest_snapshot_at_time",    # as-of-timestamp time travel
]


WARMUP_SF_DIR = "/root/testdata/sf0.001"


def _release_storage(spark) -> None:
    """Drop every persisted block between queries — the r11->r11 drift
    fix. localCheckpoint()/persist() blocks are never auto-released, so
    across 86 queries x (warmup + 3 trials) the iterative/ANN operators
    accumulate hundreds of checkpoint RDDs in the unified memory pool
    (measured: +23 persistent RDDs after just 4 queries x 3 trials),
    squeezing execution memory and GC for every query that runs later —
    a broad ~15% inflation on UNTOUCHED queries in BENCH_r11. Every
    build is self-contained (each trial rebuilds its DataFrame; no
    module keeps a live DataFrame referencing an old checkpoint across
    builds — stream_wire/kinesis memoize paths and service state, not
    plans), so releasing between queries is semantics-free."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist()


def _noise_sentinel(spark) -> float:
    """Wall-clock of a CONSTANT data-independent computation (fixed-size
    range scan + sum), min-of-3. Code never changes this workload, so
    round-over-round drift in the sentinel is the VM/scheduler, not the
    engine — the divisor that separates noise from regression when
    comparing BENCH files across rounds (r7 showed a uniform ~1.25x
    zero-code-change drift that cost a round to diagnose)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(id * 3 % 7) AS s"
        ).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _ivf_recall_curve(spark, specs) -> dict[str, float]:
    """recall@k of the trained cell-probe ANN (`sim_ivf_topk`) against
    the exact brute-force top-k (`sim_cosine_topk`) at the bench scale
    factor, swept over probe widths — the quality side of the ANN
    speed/quality trade, recorded per round so the 100 TB scale-path
    claim carries a measured curve, not just a plan-shape argument
    (every result set is tiny: N_QUERIES x TOP_K)."""
    from spark_kinesis_article_analysis_spark.functions.similarity import ivf_topk

    exact = specs["sim_cosine_topk"].build(spark, SF_DIR).select(
        "query_id", "neighbor_id"
    )
    total = exact.count()
    curve: dict[str, float] = {}
    for nprobe in (1, 4, 8):
        if not total:
            curve[str(nprobe)] = 1.0
            continue
        ivf = ivf_topk(spark, SF_DIR, nprobe=nprobe).select("query_id", "neighbor_id")
        hits = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi").count()
        curve[str(nprobe)] = round(hits / total, 4)
    # the PQ pair: quantization-dominated on this isotropic synthetic
    # corpus (r11 measured 0.28 for both, and identically against an
    # exact-L2 baseline — the loss is the 16-cell/8-dim codebooks, not
    # the probe step or the cosine/L2 metric mix; PQ needs cluster
    # structure real embeddings have). Recorded per round so a codebook
    # change shows up as a recall move, not a silent trade.
    for name in ("sim_pq_adc_topk", "sim_ivfpq_topk", "sim_nsw_topk"):
        if total:
            approx = specs[name].build(spark, SF_DIR).select("query_id", "neighbor_id")
            hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
            curve[name] = round(hits / total, 4)
        else:
            curve[name] = 1.0
    return curve


def main() -> None:
    spark = get_spark(app_name="bench")
    specs = all_specs()
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    # Warmup at the smallest SF: JIT/codegen compilation of every headline
    # plan happens here, so the timed runs below measure steady-state
    # execution (what a long-running cluster actually sees), not first-call
    # JVM compilation.
    for name in HEADLINE:
        specs[name].build(spark, WARMUP_SF_DIR).write.format("noop").mode("overwrite").save()
        _release_storage(spark)
    sentinel = _noise_sentinel(spark)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        build = specs[name].build
        best = float("inf")
        for _trial in range(3):  # min-of-3: damp scheduler/GC noise
            t0 = time.perf_counter()
            df = build(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            # r13 trial-isolation fix (VERDICT r12 #2): release persisted
            # storage between TRIALS, not only between queries. persist()
            # registers in the CacheManager by canonicalized plan, so a
            # rebuilt DataFrame in trial 2-3 plan-matches trial 1's
            # InMemoryRelation and min-of-3 reported the WARM number for
            # persist-based queries (dedup_containment,
            # dedup_semantic_cluster, dedup_ngram_jaccard). Every trial is
            # now cold; the release itself runs outside the timed window.
            _release_storage(spark)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
    # Sentinel re-run AFTER the suite: if end/start diverges while both
    # run the same constant workload, the JVM degraded DURING the run
    # (storage/GC pressure) — the in-run twin of the cross-round check.
    sentinel_end = _noise_sentinel(spark)
    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # fixed workload, excluded from `value`: compare across
        # rounds to normalize out VM drift before reading deltas
        "noise_sentinel_sec": sentinel,
        # same workload at suite END: end/start >> 1 means the shared
        # JVM degraded during the run (the r11 drift signature)
        "noise_sentinel_end_sec": sentinel_end,
        # ANN quality at this scale factor (speed is in `queries`);
        # keyed by nprobe — "4" is the registered query's default
        "ivf_recall_at_k": _ivf_recall_curve(spark, specs),
        # host 1/5/15-min load averages at suite end: r12 found isolated
        # back-to-back runs differing 20-40% broadly (different worst
        # offenders each run, sentinels only weakly co-varying) — name
        # the shared-host contention so cross-round deltas are read
        # against it instead of being attributed to plan changes
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    # Full per-query map goes to a committed file: the driver's stdout
    # capture keeps only the LAST ~2 KB, and round 9's 85-query line
    # outgrew it (BENCH_r09.json recorded "parsed": null — the head of
    # the JSON line was cut off). The machine line stays short enough to
    # always survive the tail capture; `queries` carries the slowest
    # entries that fit and `queries_file` points at the complete map.
    local_path = Path(__file__).resolve().parent / "BENCH_LOCAL.json"
    local_path.write_text(json.dumps(record, indent=1) + "\n")
    ranked = sorted(timings.items(), key=lambda kv: -kv[1])
    keep = 20
    while True:
        line = dict(record)
        line["queries"] = dict(ranked[:keep])
        line["n_queries"] = len(timings)
        line["queries_truncated"] = keep < len(timings)
        line["queries_file"] = local_path.name
        out = json.dumps(line, separators=(",", ":"))
        # degrade, never abort: all queries already RAN — if long names
        # outgrow the tail-capture budget, drop slowest-map entries until
        # the line fits (the full map is in BENCH_LOCAL.json regardless)
        if len(out) < 1800 or keep == 0:
            break
        keep -= 1
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
