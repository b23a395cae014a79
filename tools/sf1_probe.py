#!/usr/bin/env python
"""One-shot sf1 scaling probe (VERDICT r7 #8): replicate the sf0.1
corpus 10x with shifted keys, run the most shuffle-heavy headline
queries at both scales, and print per-query wall-time scaling factors.

Purpose: convert the "designed for 100 TB" claim from a plan-shape
argument into a measured scale trend. A query whose wall-time grows
~linearly (ratio ~10x on 10x data, modulo fixed per-query overhead
that AMORTIZES at scale, so ratios below ~10 are expected for
overhead-dominated queries) is behaving; a ratio far above its
documented complexity is a scaling bug.

Corpus construction: each table is unioned 10x with every key column
shifted by replica * (max_key + 1), so join fan-outs, group
cardinalities, and key-space densities scale the way a real sf1 corpus
would. Two honest distortions, called out with the results:

* documents texts repeat verbatim per replica -> the probe corpus is
  DUPLICATE-DENSE (10 exact copies of every text). Near-dup operators
  therefore see ~C(10,2)=45 genuine candidate pairs per distinct text —
  more REAL work per input row than a natural corpus, by construction.
  Their ratios are reported against that pair-count growth, not 10x.
* events keep their original time range (density grows 10x instead of
  the range) — sessions/windows get denser, which is the harder case
  for the window operators, so a good ratio here is conservative.

Writes the replica under /tmp/spark_graft_sf1 (NOT the repo, NOT
/root/testdata). Idempotent: reuses the replica if present.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

SF01 = "/root/testdata/sf0.1"
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
REPLICAS = 10

#: Replica row-group size. r13 finding: a parquet scan can never run
#: more NON-EMPTY tasks than the file has row groups, and both the
#: driver's sf0.1 corpus AND DuckDB's default COPY (~122k-row groups)
#: leave documents/embeddings as ONE row group even at 10x — every
#: corpus-map stage was single-task at BOTH scales, which is why the
#: 8-vs-32-core ratios sat at ~1 everywhere. 8k-row groups let the
#: replica's scans parallelize the way a real multi-file 100 TB table
#: would, so the core-scaling probe measures the ENGINE, not the
#: fixture's file layout.
ROW_GROUP = 2048

#: key columns to shift per table (column -> shift base derives from the
#: table that OWNS the key, so foreign keys stay consistent)
KEYS = {
    "lineitem": {"l_orderkey": "orders.o_orderkey", "l_partkey": "part.p_partkey",
                 "l_suppkey": "supplier.s_suppkey"},
    "orders": {"o_orderkey": "orders.o_orderkey", "o_custkey": "customer.c_custkey"},
    "customer": {"c_custkey": "customer.c_custkey", "c_nationkey": None},
    "supplier": {"s_suppkey": "supplier.s_suppkey", "s_nationkey": None},
    "part": {"p_partkey": "part.p_partkey"},
    "events": {"event_id": "events.event_id", "user_id": "events.user_id"},
    "documents": {"doc_id": "documents.doc_id"},
    "embeddings": {"vec_id": "embeddings.vec_id"},
}

#: the shuffle-heavy probe set (headline representatives per family)
PROBE = [
    "agg_pricing_summary",         # full-fact scan + grouped agg
    "join_multiway_star",          # 4 broadcast dims + fact agg
    "tpch_q21_waiting_suppliers",  # fact self-joins + anti/semi
    "tpch_q5_local_supplier_volume",  # 6-way join cycle
    "time_window_session",         # session windows over events
    "dedup_exact",                 # single-shuffle hash dedup
    "dedup_minhash_lsh",           # banded LSH (duplicate-dense: see module doc)
    "text_segment_dedup",          # segment-grain aggregate dedup
    "corpus_prep_end_to_end",      # composed corpus pipeline
    "cluster_kmeans_lloyd",        # bounded iterative Lloyd
    # round-9 shuffle-heavy additions
    "interval_coalesce",           # user-keyed prefix windows (10x denser events)
    "dedup_url_canonical",         # canonical-key fold + annotate join
    "text_bm25_topk",              # filtered postings + broadcast stats
    "dedup_semantic_cluster",      # capped intra-cluster pair join
    "dedup_containment",           # r13: persist-based shingle index (VERDICT r12 #5 set)
    "graph_triangle_stats",        # wedge join (graph is key-BOUNDED: see note)
    # round-9 batch-2/3 additions (VERDICT r9 #6) + the r10 retrained IVF
    "rank_fusion_rrf",             # two bounded rank lists + checkpointed fold
    "quality_gopher_gate",         # consolidated map-only rule gate
    "agg_audience_overlap",        # exact segment-pair set ops
    "corpus_source_divergence",    # per-source ordered entropy folds
    "multimodal_codec_jpeg",       # real DCT/Huffman python codec, map-only
    "multimodal_codec_avi_frames", # container walk, 1-to-N frame rows
    "sketch_countmin_portable",    # d x w folded matrix + broadcast probes
    "seq_pattern_events",          # user-keyed fold-to-string + regex
    "sim_ivf_topk",                # r10: trained centroids + spill assignment
    # round-10/11 wire-protocol + diagnostics rows (VERDICT r10 #6).
    # The wire-protocol rows time the WHOLE round trip on first build
    # (ingest via PutRecords / manifest-committed write, then read) —
    # conservative: a steady-state read-only ratio would be smaller.
    "kinesis_api_batch",           # distributed producer -> shard-parallel API read
    "s3_manifest_roundtrip",       # manifest-committed object sink + read
    "s3_manifest_snapshot",        # r11: pinned snapshot read across a compaction
    "diag_key_skew",               # two-level skew diagnostic agg
    "ts_resample_ohlc",            # bucketed struct-min/max OHLC fold
    "text_embed_feature_hash",     # hashing-trick embedding fold
    "agg_hll_exact_regime",        # r11: sketch-bytes union (merge without rescan)
    "embed_pq_quantize",           # r11: per-subspace codebook train + broadcast encode
    "sim_ivfpq_topk",              # r11: probe -> ADC over encoded candidates
    "stream_wire_end_to_end",      # r11: streaming wire round trip (first-build ingest incl.)
    # round-12 rows (VERDICT r11 #8): the r11 late ops + the two
    # re-sharded top-k plans + the streaming gate composition
    "text_bigram_logprob",         # two corpus-grain count exchanges + scoring join
    "corpus_curriculum_order",     # 3-double cutpoint agg + map projection
    "text_bpe_train_encode",       # word-type-grain training + map-side encode
    "sim_pq_adc_topk",             # post-sharding: broadcast map-scan + 2-phase top-k
    "sim_cosine_topk",             # post-sharding exact baseline
    "stream_quality_gate_end_to_end",  # gate -> manifest sink round trip (first-build ingest incl.)
    # round-12 batch 2+ rows
    "text_trigram_backoff_logprob",    # three model-half count exchanges + scoring joins
    "sim_nsw_topk",                # graph build (linear LSH blocking) + bounded beam search
    "stream_ann_end_to_end",       # streaming IVF serving round trip (first-build ingest incl.)
    "layout_hilbert_cluster",      # stats broadcast + arithmetic-fold key + bucket agg
    # round-12 batch 6/7 rows: manifest lifecycle + the dual-stream join
    "s3_manifest_changes_since",   # incremental read (first-build: 2 appends + compaction incl.)
    "s3_manifest_vacuumed",        # vacuum + HEAD read (shares the changes_since table build)
    "stream_stream_join_end_to_end",  # dual-stream watermarked interval join round trip
    "stream_table_to_table_end_to_end",  # commit-log stream hop (first-build incl., min drops it)
    "s3_manifest_row_deletes",        # merge-on-read masked read (delete planned in trial 1)
    "s3_manifest_merge_upsert",       # post-merge read (merge planned in trial 1)
    "s3_manifest_pruned_scan",        # zone-map pruned range scan (table built in trial 1)
]


def build_replica() -> None:
    os.makedirs(SF1, exist_ok=True)
    con = duckdb.connect()
    # nation/region are fixed dimensions at every TPC-H scale
    for t in ("nation", "region"):
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{SF01}/{t}.parquet')) "
            f"TO '{SF1}/{t}.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP})"
        )
    maxes: dict[str, int] = {}

    def base(ref: str) -> int:
        if ref not in maxes:
            t, c = ref.split(".")
            maxes[ref] = con.sql(
                f"SELECT coalesce(max({c}), 0) + 1 FROM read_parquet('{SF01}/{t}.parquet')"
            ).fetchone()[0]
        return maxes[ref]

    for t, keycols in KEYS.items():
        marker = f"{SF1}/{t}.parquet"
        if os.path.exists(marker):
            continue
        cols = [r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM read_parquet('{SF01}/{t}.parquet')"
        ).fetchall()]
        selects = []
        for i in range(REPLICAS):
            exprs = []
            for c in cols:
                ref = keycols.get(c, None)
                if c in keycols and ref is not None and i > 0:
                    exprs.append(f"{c} + {i * base(ref)} AS {c}")
                else:
                    exprs.append(c)
            selects.append(
                f"SELECT {', '.join(exprs)} FROM read_parquet('{SF01}/{t}.parquet')"
            )
        con.sql(
            f"COPY ({' UNION ALL '.join(selects)}) TO '{marker}' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP})"
        )
    con.close()


def _selected() -> list[str]:
    """PROBE, optionally restricted to the names passed as argv (after
    any --scale pair) — re-probing a few new queries must not re-pay the
    whole list."""
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--scale" in sys.argv:
        i = sys.argv.index("--scale")
        names = [a for a in names if a != sys.argv[i + 1]]
    if not names:
        return PROBE
    unknown = [n for n in names if n not in PROBE]
    if unknown:
        raise SystemExit(f"not in PROBE: {unknown}")
    return names


def run_one_scale(sf_dir: str) -> None:
    """Child-process mode: time every PROBE query at one scale factor in
    a FRESH Spark session (one JVM per scale — a shared session lets the
    first scale's cached/persisted state and GC pressure contaminate the
    second scale's timings; the first probe run measured sf1 FASTER than
    sf0.1 on three queries because of exactly that)."""
    from bench import _release_storage
    from spark_kinesis_article_analysis_spark.registry import all_specs
    from spark_kinesis_article_analysis_spark.session import get_spark

    spark = get_spark(app_name="sf1_probe")
    specs = all_specs()
    out: dict[str, float] = {}
    for name in _selected():
        build = specs[name].build
        # warmup (codegen) at the smallest SF
        build(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            # same trial isolation as bench.py — persist()-based queries
            # plan-match across rebuilds, so without the release trials
            # 2-3 report warm-cache numbers.
            _release_storage(spark)
        out[name] = round(best, 3)
        print(f"# {sf_dir} {name}: {best:.3f}s", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    import subprocess

    build_replica()
    results: dict[str, dict[str, float]] = {}
    for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
        proc = subprocess.run(
            [sys.executable, __file__, "--scale", sf_dir, *_selected()],
            capture_output=True,
            text=True,
            check=True,
        )
        sys.stderr.write(proc.stderr[-2000:])
        results[label] = json.loads(proc.stdout.strip().splitlines()[-1])
    out = {
        name: {
            "sf0.1": results["sf0.1"][name],
            "sf1": results["sf1"][name],
            "ratio": round(results["sf1"][name] / results["sf0.1"][name], 2),
        }
        for name in _selected()
    }
    print(json.dumps({"probe": "sf1_scaling", "replicas": REPLICAS, "queries": out}))


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--scale":
        run_one_scale(sys.argv[2])
    else:
        main()
