"""``operators/s3_batch.built_once`` — the one build-once memo behind
the wire-protocol queries' tables and streams. No Spark and no AWS
endpoint: the bucket step is replaced by a counter."""

from __future__ import annotations

import tempfile

import pytest

from spark_kinesis_article_analysis_spark.operators import s3_batch


@pytest.fixture
def buckets(monkeypatch):
    calls = []
    monkeypatch.setattr(s3_batch, "ensure_bucket", lambda: calls.append(1))
    monkeypatch.setattr(s3_batch, "_BUILT", {})
    return calls


def test_failed_build_is_retried(buckets):
    attempts = []

    def build(prefix):
        attempts.append(prefix)
        if len(attempts) == 1:
            raise TimeoutError("first drain did not finish")
        return prefix

    with pytest.raises(TimeoutError):
        s3_batch.built_once("/data/sf0.01", "stream-x", build)
    assert s3_batch.built_once("/data/sf0.01", "stream-x", build) == "stream-x-sf0.01"
    assert attempts == ["stream-x-sf0.01", "stream-x-sf0.01"]


def test_successful_build_runs_once(buckets):
    attempts = []

    def build(prefix):
        attempts.append(prefix)
        return {"prefix": prefix, "n": len(attempts)}

    first = s3_batch.built_once("/data/sf0.01/", "docsnap", build)
    again = s3_batch.built_once("/data/sf0.01", "docsnap", build)
    assert first is again
    assert attempts == ["docsnap-sf0.01"]
    assert len(buckets) == 1  # the bucket step runs with the build, not per call


def test_stems_on_one_sf_dir_get_distinct_prefixes(buckets):
    got = [
        s3_batch.built_once("/data/sf0.1", stem, lambda prefix: prefix)
        for stem in ("docdel", "docmerge", "docdel")
    ]
    assert got == ["docdel-sf0.1", "docmerge-sf0.1", "docdel-sf0.1"]
    assert len(set(got)) == 2


def test_streamed_prefix_once_is_built_once(buckets, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    runs = []
    for _ in range(2):
        prefix = s3_batch.streamed_prefix_once(
            "/data/sf0.01", "stream-y", lambda p, ckpt: runs.append((p, ckpt))
        )
    assert prefix == "stream-y-sf0.01"
    assert [p for p, _ in runs] == ["stream-y-sf0.01"]
