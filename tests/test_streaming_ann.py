"""Streaming ANN serving path (streaming/ann_stream.py): exactly-once
across a foreachBatch restart via the manifest sink's epochId fence,
and result parity with the batch IVF operator."""

from __future__ import annotations

import os
import random

import pytest

pytest.importorskip("boto3")
pytest.importorskip("moto")


def _write_embeddings(spark, dirpath: str, rows: list[tuple[int, str]]) -> None:
    """rows = (vec_id, label); embeddings derive from a seeded PRNG so
    appends are deterministic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_kinesis_article_analysis_spark.functions.similarity import EMB_DIM

    def vec(i: int) -> list[float]:
        rnd = random.Random(f"ann:{i}")
        return [rnd.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]

    tbl = pa.table(
        {
            "vec_id": pa.array([i for i, _ in rows], pa.int64()),
            "label": pa.array([l for _, l in rows]),
            "embedding": pa.array(
                [vec(i) for i, _ in rows], pa.list_(pa.float32())
            ),
        }
    )
    import os
    import uuid

    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(tbl, f"{dirpath}/part-{uuid.uuid4().hex[:8]}.parquet")


def _ensure_bucket():
    import boto3

    from spark_kinesis_article_analysis_spark.operators.kinesis_batch import _endpoint
    from spark_kinesis_article_analysis_spark.operators.s3_batch import BUCKET

    client = boto3.client(
        "s3",
        region_name="us-east-1",
        endpoint_url=_endpoint(),
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
    )
    try:
        client.create_bucket(Bucket=BUCKET)
    except client.exceptions.BucketAlreadyOwnedByYou:
        pass


def _read_back(spark, prefix: str):
    from pyspark import cloudpickle

    from spark_kinesis_article_analysis_spark.operators.s3_batch import s3_options
    from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

    cloudpickle.register_pickle_by_value(_s3o)
    spark.dataSource.register(_s3o.S3ParquetManifestDataSource)
    reader = spark.read.format("s3_parquet_manifest")
    for k, v in s3_options(prefix).items():
        reader = reader.option(k, v)
    return reader.load()


_N = {"n": 0}


def _fresh_prefix() -> str:
    _N["n"] += 1
    return f"ann-test-{_N['n']}"


class TestStreamingAnn:
    def test_exactly_once_across_restart(self, spark, tmp_path):
        """Run the query stream, stop, append a NEW query vector,
        resume from the same checkpoint: earlier queries' results stay
        exactly once (their epoch is fenced), the new query's results
        appear, and no (query, neighbor) pair duplicates."""
        from collections import Counter

        from spark_kinesis_article_analysis_spark.functions.similarity import TOP_K
        from spark_kinesis_article_analysis_spark.streaming.ann_stream import (
            run_ann_stream,
        )

        _ensure_bucket()
        emb_dir = str(tmp_path / "embeddings.parquet")
        ckpt = str(tmp_path / "ckpt")
        prefix = _fresh_prefix()
        # corpus 5..104 + queries 0,1 (vec_id < N_QUERIES stream filter)
        _write_embeddings(
            spark, emb_dir, [(i, "c") for i in range(5, 105)] + [(0, "q"), (1, "q")]
        )
        run_ann_stream(spark, emb_dir, prefix, ckpt)
        first = _read_back(spark, prefix).collect()
        c1 = Counter(r.query_id for r in first)
        assert set(c1) == {0, 1}
        assert all(v <= TOP_K for v in c1.values())
        pairs1 = [(r.query_id, r.neighbor_id) for r in first]
        assert len(pairs1) == len(set(pairs1))

        _write_embeddings(spark, emb_dir, [(2, "q")])  # new query arrives
        run_ann_stream(spark, emb_dir, prefix, ckpt)  # resume, same checkpoint
        rows = _read_back(spark, prefix).collect()
        c2 = Counter(r.query_id for r in rows)
        assert set(c2) == {0, 1, 2}, c2
        # fenced epochs: queries 0/1 did not duplicate on restart
        assert c2[0] == c1[0] and c2[1] == c1[1], (c1, c2)
        pairs2 = [(r.query_id, r.neighbor_id) for r in rows]
        assert len(pairs2) == len(set(pairs2))

    def test_multi_batch_drain_registers_once(self, spark, tmp_path, monkeypatch):
        """A drain, an append and a resumed drain (two micro-batches):
        the session's sources are registered once, before the first
        start — the foreachBatch writes register nothing."""
        from spark_kinesis_article_analysis_spark.operators.s3_batch import manifest_reader
        from spark_kinesis_article_analysis_spark.streaming.ann_stream import (
            run_ann_stream,
        )
        from tests.test_s3_manifest import _count_registrations, _new_active_session

        _ensure_bucket()
        calls = _count_registrations(monkeypatch)
        emb_dir = str(tmp_path / "embeddings.parquet")
        ckpt = str(tmp_path / "ckpt")
        prefix = _fresh_prefix()
        with _new_active_session(spark) as session:
            _write_embeddings(session, emb_dir, [(i, "c") for i in range(5, 45)] + [(0, "q")])
            run_ann_stream(session, emb_dir, prefix, ckpt)
            _write_embeddings(session, emb_dir, [(1, "q")])
            run_ann_stream(session, emb_dir, prefix, ckpt)
            got = manifest_reader(session, prefix).load().collect()
        assert sorted(f for f in os.listdir(f"{ckpt}/commits") if f.isdigit()) == ["0", "1"]
        assert {r.query_id for r in got} == {0, 1}
        assert calls == {"kinesis_api": 1, "s3_parquet_manifest": 1}

    def test_parity_with_batch_ivf(self, spark):
        """The streamed results read back must equal sim_ivf_topk's
        batch answer row for row (same index code, same constants)."""
        from spark_kinesis_article_analysis_spark.registry import all_specs
        from tests.conftest import SF_CORRECTNESS

        specs = all_specs()
        got = sorted(
            map(
                tuple,
                specs["stream_ann_end_to_end"].build(spark, SF_CORRECTNESS).collect(),
            )
        )
        want = sorted(
            map(tuple, specs["sim_ivf_topk"].build(spark, SF_CORRECTNESS).collect())
        )
        assert got == want
        assert want, "batch IVF returned nothing — test is vacuous"
