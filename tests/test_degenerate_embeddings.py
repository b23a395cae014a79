"""Oracle parity on degenerate embeddings — the ZERO vector and the
NULL embedding.

Cosine is undefined for a zero-norm vector, and under ANSI mode (Spark
4 default) a single all-zero embedding row — padding, a dead encoder, a
null-imputed batch — previously killed sim_cosine_topk, sim_ivf_topk
and dedup_embedding_cosine outright with DIVIDE_BY_ZERO (found by this
fixture, round 4). The cosine-scoring operators now exclude zero-norm
vectors on BOTH engine sides (similarity.NONZERO_SQL); operators where
a zero vector is a legitimate row (norm stats, centroids, quantization)
keep it. A NULL embedding (round 4c) follows the vector-grain analogue
of the NULL-ts window rule: no position in the space — excluded by the
clustering/scoring operators on BOTH engine sides (it otherwise poisons
k-means round-1 centroid means asymmetrically: Spark's posexplode drops
it, DuckDB's unnest NULLs the whole mean) and NULL-propagated by the
norm operators (the pandas UDF previously killed its whole Arrow batch
on np.dot(None, None)). A vector with a NULL or NaN ELEMENT is as
invalid as a wrong-dimension one (similarity.valid_vector and its twin
VALID_DIM_SQL): every operator drops it on both engine sides. These
tests run every embeddings-only oracle spec against a corpus where the
edge cases are always present, so parity cannot regress with a future
testdata generation.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_kinesis_article_analysis_spark.catalog import TABLES
from spark_kinesis_article_analysis_spark.registry import all_specs
from tests.oracle_harness import _normalize

_VECS = (
    [(0, [0.0] * 64, 0)]                                   # zero vector
    + [(i, [0.5] * 64, 1) for i in range(1, 6)]            # identical cluster
    + [(6, [-0.5] * 64, 1)]                                # antipodal
    + [(7, [float(j % 3 - 1) for j in range(64)], 2)]
    + [
        (i, [((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(64)], i % 3)
        for i in range(8, 30)
    ]
    + [(30, None, 2)]                                      # NULL embedding
    + [(31, [0.25] * 20 + [float("nan")] + [0.25] * 43, 0)]  # NaN element
    + [(32, [-0.25] * 40 + [None] + [-0.25] * 23, 1)]        # NULL element
)


@pytest.fixture(scope="module")
def emb_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("degenerate_embeddings")
    tbl = pa.table(
        {
            "vec_id": pa.array([v[0] for v in _VECS], pa.int64()),
            "embedding": pa.array([v[1] for v in _VECS], pa.list_(pa.float32())),
            "label": pa.array([v[2] for v in _VECS], pa.int64()),
        }
    )
    pq.write_table(tbl, d / "embeddings.parquet")
    return str(d)


def _embeddings_only_specs() -> list[str]:
    others = [t for t in TABLES if t != "embeddings"]
    return [
        name
        for name, spec in all_specs().items()
        if spec.oracle is not None
        and "embeddings" in spec.oracle
        and not any(re.search(rf"\b{t}\b", spec.oracle) for t in others)
    ]


@pytest.mark.parametrize("name", _embeddings_only_specs())
def test_degenerate_embedding_parity(spark, name, emb_dir):
    spec = all_specs()[name]
    got = _normalize(spec.build(spark, emb_dir).toPandas())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_dir}/embeddings.parquet')"
    )
    want = _normalize(con.sql(spec.oracle).df())
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True, obj=name)


def test_zero_vector_excluded_from_cosine_kept_elsewhere(spark, emb_dir):
    specs = all_specs()
    topk = specs["sim_cosine_topk"].build(spark, emb_dir)
    assert topk.filter("query_id = 0 OR neighbor_id = 0").count() == 0
    pairs = specs["dedup_embedding_cosine"].build(spark, emb_dir)
    assert pairs.filter("vec_a = 0 OR vec_b = 0").count() == 0
    # non-cosine operators keep the zero vector as a legitimate row
    quant = specs["embed_quantize_int8"].build(spark, emb_dir)
    if "vec_id" in quant.columns:
        assert quant.filter("vec_id = 0").count() == 1


def test_rows_only_embedding_specs_survive_zero_vector(spark, emb_dir):
    """The no-oracle embedding spec must at least execute over a zero
    vector."""
    df = all_specs()["cluster_kmeans_lloyd"].build(spark, emb_dir)
    assert df.count() >= 0
