"""Composition semantics for the end-to-end near-dup removal pipeline
(functions/dedup_pipeline.py). Cross-engine exactness is covered by
test_oracle_parity; these pin the composition-specific behaviors —
transitive closure over verified pairs, singleton pass-through, and
one-survivor-per-component — on corpora where the answer is known, plus
the shared components loop (propagate_over_edges) and the key-group star
edges dedup_cluster_components feeds it."""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.functions.dedup_pipeline import (
    near_dup_components,
    propagate_over_edges,
)
from spark_kinesis_article_analysis_spark.registry import all_specs
from tests.conftest import SF_CORRECTNESS
from tests.oracle_harness import _normalize

SPECS = all_specs()


class TestPropagateOverEdges:
    def test_chain_collapses_to_min_label(self, spark):
        labels = spark.createDataFrame(
            [(i, i) for i in range(1, 7)], "doc_id long, label long"
        )
        undirected = [(1, 2), (2, 3), (3, 4), (5, 6)]
        edges = spark.createDataFrame(
            undirected + [(b, a) for a, b in undirected], "src long, dst long"
        )
        out = {r.doc_id: r.label for r in propagate_over_edges(labels, edges).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}

    def test_edges_are_evaluated_once(self, spark):
        """The edge list is materialised once on entry: a lazy edge plan
        (MinHash-LSH -> verify, key-group windows) joined afresh every
        round would re-run its whole upstream plan rounds x over. A
        40-node chain needs at least 5 rounds, so a per-round evaluation
        shows up as a multiple of the edge count."""
        evaluated = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def counted(src):
            evaluated.add(1)
            return src

        undirected = [(i, i + 1) for i in range(1, 40)]
        rows = undirected + [(b, a) for a, b in undirected]
        edges = spark.createDataFrame(rows, "src long, dst long").select(
            counted("src").alias("src"), "dst"
        )
        labels = spark.createDataFrame(
            [(i, i) for i in range(1, 41)], "doc_id long, label long"
        )
        out = {r.label for r in propagate_over_edges(labels, edges).collect()}
        assert out == {1}
        assert evaluated.value == len(rows)

    def test_no_edges_is_identity(self, spark):
        labels = spark.createDataFrame([(7, 7), (9, 9)], "doc_id long, label long")
        edges = spark.createDataFrame([], "src long, dst long")
        out = {r.doc_id: r.label for r in propagate_over_edges(labels, edges).collect()}
        assert out == {7: 7, 9: 9}


class TestNearDupEndToEnd:
    def test_fixture_invariants(self, spark):
        rows = SPECS["dedup_near_dup_end_to_end"].build(spark, SF_CORRECTNESS).collect()
        by_comp: dict = {}
        for r in rows:
            by_comp.setdefault(r.component_id, []).append(r)
        # exactly one survivor per component, and it is the min doc_id
        for cid, members in by_comp.items():
            survivors = [m for m in members if m.is_survivor]
            assert len(survivors) == 1, (cid, members)
            assert survivors[0].doc_id == min(m.doc_id for m in members) == cid
            assert all(m.component_size == len(members) for m in members)
        # every document of the corpus is present exactly once
        n_docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet").count()
        assert len(rows) == n_docs
        assert len({r.doc_id for r in rows}) == n_docs

    def test_verified_pairs_share_components(self, spark):
        """Composition correctness: each verified near-dup pair from the
        isolated portable pipeline lands in ONE component here."""
        pairs = SPECS["dedup_minhash_lsh_portable"].build(spark, SF_CORRECTNESS).collect()
        comp = {
            r.doc_id: r.component_id
            for r in SPECS["dedup_near_dup_end_to_end"].build(spark, SF_CORRECTNESS).collect()
        }
        assert pairs, "fixture should contain near-dup pairs"
        for p in pairs:
            assert comp[p.doc_a] == comp[p.doc_b], p

    def test_transitive_chain_single_component(self, spark):
        """A ~ B and B ~ C with A, C more distant: transitivity must put
        all three in one component — the bug class a per-pair survivor
        election would hit."""
        base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
        a = base
        b = base + " tail1 tail2"
        c = base + " tail1 tail2 tail3 tail4"
        docs = spark.createDataFrame(
            [(1, a), (2, b), (3, c), (4, "totally different content here entirely")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in near_dup_components(docs).collect()}
        assert out[1].component_id == out[2].component_id == out[3].component_id == 1
        assert out[1].is_survivor and not out[2].is_survivor and not out[3].is_survivor
        assert out[4].component_id == 4 and out[4].is_survivor


class TestClusterComponents:
    def test_null_doc_ids_and_singletons_match_oracle(self, spark, tmp_path):
        """dedup_cluster_components' star edges keep every document: a
        singleton has only its hub self-edges, and a NULL doc_id reaches
        its component only through its hub's edge to it (a src != dst
        filter would drop both). The DuckDB closure folds the NULL ids
        into one row; so must Spark."""
        docs = [
            (1, "a b c"),
            (2, "c b a"),
            (None, "b a c"),
            (None, "solo words here"),
            (3, "solo words here too"),
            (4, None),
            (5, ""),
            (6, "unique"),
        ]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([i for i, _ in docs], pa.int64()),
                    "text": pa.array([t for _, t in docs], pa.string()),
                }
            ),
            str(tmp_path / "documents.parquet"),
        )
        spec = SPECS["dedup_cluster_components"]
        got = _normalize(spec.build(spark, str(tmp_path)).toPandas())
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
        want = _normalize(con.sql(spec.oracle).df())
        assert len(want) == len(docs) - 1
        assert list(got.columns) == list(want.columns)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
