"""Oracle parity on degenerate documents (<= 1 token, no bigrams).

The shipped testdata generations so far have min 10 tokens per doc, so
the driver compare never exercises the short-doc path. A regeneration
containing a 1-token document would previously have produced a FALSE
driver failure: the Spark builders emit such docs with 0.0 repetition
fractions (the `_bigrams` guard), but the oracles inner-joined the
bigram-frequency CTE and silently dropped them. These tests run the
same builder-vs-DuckDB compare over a crafted corpus where every edge
case is present, so the row-set parity holds for ANY future generation.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_kinesis_article_analysis_spark.registry import all_specs
from tests.oracle_harness import _normalize

# doc_id, text — every short-doc shape plus normal and duplicate texts;
# doc_ids chosen so both md5-bucket batch/corpus splits are non-empty.
_DOCS = [
    (1, "solo"),                       # 1 token: no bigrams
    (2, ""),                           # empty text: split -> [''], 1 token
    (3, "two tokens"),                 # exactly one bigram
    (4, "a a a a a a a a a a"),        # degenerate repetition (gate fails)
    (5, "alpha beta gamma delta epsilon zeta"),
    (6, "alpha beta gamma delta epsilon zeta"),  # exact dup of 5
    (7, "one two three four"),         # 4 tokens: under the 5-gram floor
    (8, "the quick brown fox jumps over the lazy dog again"),
    (9, "solo"),                       # dup of the 1-token doc
    (50, "eval set holdout document with enough tokens to shingle"),
    (100, "the quick brown fox jumps over the lazy dog again"),  # contaminated vs 50? no — dup of 8
    (150, "eval set holdout document with enough tokens to shingle"),  # shares 5-grams with 50
    (200, None),                       # NULL text: must not vanish or flip row sets
    (250, "null lang document with enough tokens to shingle here"),  # NULL lang
]


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("degenerate_corpus")
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in _DOCS], pa.int64()),
            "text": pa.array([t for _, t in _DOCS], pa.string()),
            # doc 250 has NULL lang: one GROUP in grouping/window
            # partitioning on both engines, match-nothing in joins —
            # the same two-semantics split the NULL-user_id events pin
            "lang": pa.array(
                [None if i == 250 else ("en" if i % 3 else "de") for i, _ in _DOCS],
                pa.string(),
            ),
            "source": pa.array(
                [None if i == 250 else "synthetic" for i, _ in _DOCS], pa.string()
            ),
            "n_chars": pa.array(
                [len(t) if t is not None else None for _, t in _DOCS], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, d / "documents.parquet")
    return str(d)


def _compare(spark, name: str, sf_dir: str) -> None:
    spec = all_specs()[name]
    got = _normalize(spec.build(spark, sf_dir).toPandas())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = _normalize(con.sql(spec.oracle).df())
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True, obj=name)


def _documents_only_specs() -> list[str]:
    """Every oracle-backed spec whose oracle touches ONLY `documents` —
    auto-discovered so new registrations are covered without editing
    this list. (Specs joining other tables can't run against the
    documents-only fixture dir.)"""
    import re

    from spark_kinesis_article_analysis_spark.catalog import TABLES

    others = [t for t in TABLES if t != "documents"]
    return [
        name
        for name, spec in all_specs().items()
        if spec.oracle is not None
        and "documents" in spec.oracle
        and not any(re.search(rf"\b{t}\b", spec.oracle) for t in others)
    ]


@pytest.mark.parametrize("name", _documents_only_specs())
def test_degenerate_doc_parity(spark, name, corpus_dir):
    _compare(spark, name, corpus_dir)


def test_one_token_docs_survive_with_zero_fracs(spark, corpus_dir):
    rows = {
        r["doc_id"]: r
        for r in all_specs()["text_repetition_stats"]
        .build(spark, corpus_dir)
        .collect()
    }
    assert set(rows) == {i for i, _ in _DOCS}, "short docs must not be dropped"
    for did in (1, 2, 9):
        r = rows[did]
        assert r["n_tokens"] == 1
        assert r["dup_bigram_frac"] == 0.0
        assert r["top_bigram_frac"] == 0.0
        assert r["passes_gate"] is True
