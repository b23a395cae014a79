"""IVF ANN quality floor (VERDICT r10 item 8).

``bench.py`` records the recall-vs-nprobe curve every round, but a
record is not a gate: a centroid-training edit could silently regress
ANN quality and the bench line would just quietly show a smaller
number. This pins a hard floor so such an edit FAILS loudly.

Floors are per scale factor because recall depends on corpus geometry:
the r10 measured curve at sf0.1 is 0.36/0.52/0.80/0.88 at nprobe
1/2/4/8 (trained centroids + 2x multi-assignment); at sf0.01 the
4000-vector corpus is easy (recall 1.0). Floors sit a little under the
measured values to absorb corpus regeneration noise, not algorithmic
regressions.

``TestCentroidKernel`` pins the tie rule of the centroid kernel that
IVF training, assignment and probing (and k-means, PQ and SemDeDup)
share."""

from __future__ import annotations

import pytest

from spark_kinesis_article_analysis_spark.functions.similarity import ivf_topk
from tests.conftest import SF_CORRECTNESS


def _recall_at_nprobe(spark, sf_dir: str, nprobe: int) -> float:
    from spark_kinesis_article_analysis_spark.registry import all_specs

    exact = (
        all_specs()["sim_cosine_topk"]
        .build(spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    total = exact.count()
    assert total > 0, "exact top-k came back empty — recall undefined"
    ivf = ivf_topk(spark, sf_dir, nprobe=nprobe).select("query_id", "neighbor_id")
    hits = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi").count()
    return hits / total

@pytest.mark.parity
class TestIvfRecallFloor:
    def test_recall_at_5_floor_nprobe_4(self, spark):
        """The headline operating point (IVF_NPROBE=4): recall@5 must
        hold >= 0.75 — sf0.1 measures 0.80, sf0.01 measures 1.0, and
        anything below the floor means the trained-centroid assignment
        or the multiprobe CTE regressed, not noise."""
        recall = _recall_at_nprobe(spark, SF_CORRECTNESS, nprobe=4)
        assert recall >= 0.75, f"recall@5 at nprobe=4 fell to {recall:.3f}"

    def test_recall_monotone_in_nprobe(self, spark):
        """Widening the probe set can only add candidates, so recall
        must be monotone in nprobe — a violation means the probe CTE is
        not actually selecting the nprobe NEAREST cells."""
        r1 = _recall_at_nprobe(spark, SF_CORRECTNESS, nprobe=1)
        r4 = _recall_at_nprobe(spark, SF_CORRECTNESS, nprobe=4)
        r8 = _recall_at_nprobe(spark, SF_CORRECTNESS, nprobe=8)
        assert r1 <= r4 <= r8, f"recall not monotone: {r1} {r4} {r8}"


class TestCentroidKernel:
    #: (metric, vector, nrm, centroids): cid 7 wins on the UNROUNDED
    #: score, but both centroids score the same once rounded to 6 places
    _TIED = {
        "d2": ([0.0, 0.0], 1.0, [(7, [1.0, 0.0], 1.0), (3, [0.0, 1.0000001], 1.0000001)]),
        "cos": ([1.0, 0.0], 1.0, [(7, [1.0, 0.0], 1.0), (3, [1.0, 1e-4], (1 + 1e-8) ** 0.5)]),
    }

    @pytest.mark.parametrize("form", ["argmin", "top_n"])
    @pytest.mark.parametrize("metric", ["d2", "cos"])
    def test_rounded_tie_goes_to_smaller_cid(self, spark, metric, form):
        """Two centroids with equal rounded scores resolve to the smaller
        cid, whatever their order in the folded array."""
        from pyspark.sql import functions as F

        from spark_kinesis_article_analysis_spark.functions.similarity import (
            nearest_centroid_sql,
            nearest_centroids,
        )

        vec, nrm, cents = self._TIED[metric]
        df = spark.createDataFrame(
            [(vec, nrm, [(cid, cent, cnrm) for cid, cent, cnrm in cents])],
            "v array<double>, nrm double, "
            "cents array<struct<cid: bigint, cent: array<double>, cnrm: double>>",
        )
        if form == "argmin":
            got = df.select(F.expr(nearest_centroid_sql("v", metric=metric))["cid"]).first()[0]
            assert got == 3
        else:
            got = df.select(nearest_centroids("v", 2, metric)).first()[0]
            assert got == [3, 7]
