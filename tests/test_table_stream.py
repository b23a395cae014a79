"""Manifest table as a streaming source (S3ManifestStreamReader) and
the table-to-table hop (streaming/table_stream.py): incremental
consumption exactly-once across drains and restarts, compaction-in-
range emptiness, sinceManifest starting positions, and committed row
deletes staying deleted — the semantics the identity oracle can't
see."""

from __future__ import annotations

import pytest

pytest.importorskip("boto3")
pytest.importorskip("moto")

from tests.test_streaming_gate import _ensure_bucket  # noqa: E402

_N = {"n": 0}


def _fresh_prefix(stem: str = "tstream") -> str:
    _N["n"] += 1
    return f"{stem}-test-{_N['n']}"


def _write_table(spark, prefix: str, ids: list[int]) -> None:
    from spark_kinesis_article_analysis_spark.operators.s3_batch import s3_options

    df = spark.createDataFrame([(i, f"t{i}") for i in ids], "k long, v string")
    w = df.coalesce(1).write.format("s3_parquet_manifest").mode("append")
    for k, v in s3_options(prefix).items():
        w = w.option(k, v)
    w.save()


def _read_table(spark, prefix: str):
    from spark_kinesis_article_analysis_spark.operators.s3_batch import s3_options

    reader = spark.read.format("s3_parquet_manifest")
    for k, v in s3_options(prefix).items():
        reader = reader.option(k, v)
    return reader.load()


def _register(spark):
    from pyspark import cloudpickle

    from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

    cloudpickle.register_pickle_by_value(_s3o)
    spark.dataSource.register(_s3o.S3ParquetManifestDataSource)


class TestTableStream:
    def test_incremental_hop_exactly_once(self, spark, tmp_path):
        """Drain, append to the source, drain again from the SAME
        checkpoint: the second drain moves ONLY the new rows; nothing
        duplicates."""
        from spark_kinesis_article_analysis_spark.streaming.table_stream import (
            run_table_stream,
        )

        _ensure_bucket()
        _register(spark)
        src, dst = _fresh_prefix("src"), _fresh_prefix("dst")
        ckpt = str(tmp_path / "ckpt")
        _write_table(spark, src, [1, 2])
        run_table_stream(spark, src, dst, ckpt)
        assert sorted(r.k for r in _read_table(spark, dst).collect()) == [1, 2]

        _write_table(spark, src, [3])
        run_table_stream(spark, src, dst, ckpt)
        assert sorted(r.k for r in _read_table(spark, dst).collect()) == [1, 2, 3]

    def test_compaction_in_range_is_an_empty_batch(self, spark, tmp_path):
        """A compaction manifest re-lists every historical object; the
        stream's object-set difference must surface it as ZERO new rows,
        not a table replay."""
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            compact_manifests,
        )
        from spark_kinesis_article_analysis_spark.operators.s3_batch import s3_options
        from spark_kinesis_article_analysis_spark.streaming.table_stream import (
            run_table_stream,
        )

        _ensure_bucket()
        _register(spark)
        src, dst = _fresh_prefix("src"), _fresh_prefix("dst")
        ckpt = str(tmp_path / "ckpt")
        _write_table(spark, src, [1, 2])
        run_table_stream(spark, src, dst, ckpt)

        compact_manifests(s3_options(src))
        run_table_stream(spark, src, dst, ckpt)  # only the compaction is new
        assert sorted(r.k for r in _read_table(spark, dst).collect()) == [1, 2]

    def test_since_manifest_starting_position(self, spark, tmp_path):
        """sinceManifest starts the subscription AFTER a pinned commit —
        the CDC consumer that doesn't want the backfill."""
        from spark_kinesis_article_analysis_spark.operators.s3_batch import s3_options
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            _load_manifests,
            _s3,
        )
        from spark_kinesis_article_analysis_spark.streaming.table_stream import (
            run_table_stream,
        )

        _ensure_bucket()
        _register(spark)
        src, dst = _fresh_prefix("src"), _fresh_prefix("dst")
        _write_table(spark, src, [1, 2])
        low = {k.lower(): v for k, v in s3_options(src).items()}
        [(pin, _)] = _load_manifests(_s3(low), low["bucket"], low["prefix"])
        _write_table(spark, src, [3])
        run_table_stream(spark, src, dst, str(tmp_path / "ckpt"), since=pin)
        assert sorted(r.k for r in _read_table(spark, dst).collect()) == [3]

    def test_stream_masks_committed_row_deletes(self, spark, tmp_path):
        """Rows a committed DELETE removed stay removed through the hop:
        each streamed object carries its delete vector, as the batch
        read does."""
        from spark_kinesis_article_analysis_spark.operators.s3_batch import s3_options
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            delete_where,
        )
        from spark_kinesis_article_analysis_spark.streaming.table_stream import (
            run_table_stream,
        )

        _ensure_bucket()
        _register(spark)
        src, dst = _fresh_prefix("src"), _fresh_prefix("dst")
        _write_table(spark, src, [1, 2, 3, 4])
        assert delete_where(spark, s3_options(src), "k % 2 = 0")
        assert sorted(r.k for r in _read_table(spark, src).collect()) == [1, 3]
        run_table_stream(spark, src, dst, str(tmp_path / "ckpt"))
        assert sorted(r.k for r in _read_table(spark, dst).collect()) == [1, 3]

    def test_stream_read_matches_batch_read(self, spark, tmp_path):
        """The streamed hop of a multi-append table equals the batch
        read of the source, row for row (and the destination rows pass
        through the schema-adapting shared read path)."""
        from spark_kinesis_article_analysis_spark.streaming.table_stream import (
            run_table_stream,
        )

        _ensure_bucket()
        _register(spark)
        src, dst = _fresh_prefix("src"), _fresh_prefix("dst")
        _write_table(spark, src, [1, 2])
        _write_table(spark, src, [3, 4])
        _write_table(spark, src, [5])
        run_table_stream(spark, src, dst, str(tmp_path / "ckpt"))
        got = sorted(map(tuple, _read_table(spark, dst).collect()))
        want = sorted(map(tuple, _read_table(spark, src).collect()))
        assert got == want
