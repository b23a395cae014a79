"""Graph-ANN (NSW) quality floor + graph invariants — same discipline
as tests/test_ivf.py / test_pq_recall.py: the oracle proves the graph
build and beam routing are computed exactly; these tests guard the
QUALITY and the structural invariants a hash can't see."""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECTNESS


def _recall(spark, sf_dir: str) -> float:
    from spark_kinesis_article_analysis_spark.registry import all_specs

    specs = all_specs()
    exact = (
        specs["sim_cosine_topk"].build(spark, sf_dir).select("query_id", "neighbor_id")
    )
    total = exact.count()
    assert total > 0
    approx = specs["sim_nsw_topk"].build(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    return hits / total


@pytest.mark.parity
class TestNswRecallFloor:
    def test_recall_at_5_floor(self, spark):
        """recall@5 >= 0.35 at sf0.01 (measures 0.44 with M=12/B=16/H=4/
        40 entries — the isotropic corpus is the graph-routing worst
        case, same story as PQ; clustered real embeddings route far
        better). Below the floor means the edge construction or the
        beam selection regressed, not noise."""
        recall = _recall(spark, SF_CORRECTNESS)
        assert recall >= 0.35, f"NSW recall@5 fell to {recall:.3f}"

    def test_degree_cap_holds(self, spark):
        """No node may exceed NSW_M out-edges — an uncapped degree node
        makes a hop's expansion unbounded."""
        from pyspark.sql import functions as F

        from spark_kinesis_article_analysis_spark.functions.nsw import (
            NSW_M,
            _corpus,
            nsw_edges,
        )

        deg = (
            nsw_edges(_corpus(spark, SF_CORRECTNESS))
            .groupBy("src")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert deg <= NSW_M

    def test_multi_entry_beats_single_entry(self, spark):
        """The documented flat-geometry lesson: the multi-entry search
        must strictly beat a single-entry run of the same beam budget
        on this corpus (0.08 vs 0.44 measured)."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from spark_kinesis_article_analysis_spark import catalog
        from spark_kinesis_article_analysis_spark.functions import nsw
        from spark_kinesis_article_analysis_spark.functions.similarity import (
            N_QUERIES,
            TOP_K,
            _cosine_vectors,
            dot,
        )
        from spark_kinesis_article_analysis_spark.registry import all_specs

        specs = all_specs()
        exact = (
            specs["sim_cosine_topk"]
            .build(spark, SF_CORRECTNESS)
            .select("query_id", "neighbor_id")
        )
        total = exact.count()

        e = nsw._corpus(spark, SF_CORRECTNESS)
        edges = nsw.nsw_edges(e).localCheckpoint(eager=False)
        q = (
            _cosine_vectors(catalog.load(spark, SF_CORRECTNESS, "embeddings"))
            .filter(F.col("vec_id") < N_QUERIES)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("emb").alias("qe"),
                F.col("nrm").alias("qnrm"),
            )
        )
        score = F.round(
            dot(F.col("qe"), F.col("emb")) / (F.col("qnrm") * F.col("nrm")), 6
        ).alias("score")
        single = e.orderBy("vec_id").limit(1)
        visited = q.crossJoin(F.broadcast(single)).select(
            "query_id", "qe", "qnrm", F.col("vec_id").alias("node"), score
        )
        wb = W.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("node").asc()
        )
        for _ in range(nsw.NSW_HOPS):
            beam = (
                visited.withColumn("rn", F.row_number().over(wb))
                .filter(F.col("rn") <= nsw.NSW_BEAM)
                .select("query_id", "qe", "qnrm", "node")
            )
            expand = (
                beam.join(edges, beam["node"] == edges["src"])
                .select("query_id", "qe", "qnrm", F.col("dst").alias("cand"))
                .distinct()
            )
            scored = expand.join(e, expand["cand"] == e["vec_id"]).select(
                "query_id", "qe", "qnrm", F.col("cand").alias("node"), score
            )
            visited = visited.unionByName(scored).distinct().localCheckpoint(
                eager=False
            )
        single_res = (
            visited.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", F.col("node").alias("neighbor_id"))
        )
        single_recall = (
            exact.join(single_res, ["query_id", "neighbor_id"], "left_semi").count()
            / total
        )
        multi_recall = _recall(spark, SF_CORRECTNESS)
        assert multi_recall > single_recall, (multi_recall, single_recall)
