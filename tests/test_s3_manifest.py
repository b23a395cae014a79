"""The manifest-committed S3 parquet sink/source against the real S3
wire API (moto-served): atomic-commit semantics an oracle can't see.

Row-value correctness of the full round trip is the driver-verdicted
``s3_manifest_roundtrip`` oracle; this file proves the commit protocol:
nothing is readable before the manifest PUT, aborted/rogue objects stay
invisible forever, appends are one manifest each."""

from __future__ import annotations

import json

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

from spark_kinesis_article_analysis_spark.operators.kinesis_batch import (  # noqa: E402
    _endpoint,
)
from spark_kinesis_article_analysis_spark.sources.s3_objects import (  # noqa: E402
    S3ManifestReader,
    S3ManifestWriter,
    _load_manifests,
    _s3,
)

_SCHEMA = StructType(
    [StructField("k", LongType()), StructField("v", StringType())]
)
_N = {"n": 0}


def _fresh(prefix_rows=None):
    _N["n"] += 1
    bucket, prefix = f"bucket-{_N['n']}", "t"  # >= 3 chars, S3 naming rule
    opts = {
        "bucket": bucket,
        "prefix": prefix,
        "regionName": "us-east-1",
        "endpointUrl": _endpoint(),
        "awsAccessKeyId": "x",
        "awsSecretKey": "x",
    }
    _s3({k.lower(): v for k, v in opts.items()}).create_bucket(Bucket=bucket)
    return opts


def _batches(rows, chunk: int | None = None):
    """Rows -> Arrow RecordBatches, the engine's actual task-write input
    (the writers are DataSourceArrowWriter subclasses)."""
    import pyarrow as pa

    from spark_kinesis_article_analysis_spark.sources.s3_objects import (
        _canonical_arrow_schema,
    )

    aschema = _canonical_arrow_schema(_SCHEMA)
    rows = list(rows)
    n = chunk or max(len(rows), 1)
    out = []
    for i in range(0, len(rows), n):
        part = rows[i : i + n]
        cols = list(zip(*part))
        out.append(
            pa.record_batch(
                [
                    pa.array(c, type=aschema.field(j).type)
                    for j, c in enumerate(cols)
                ],
                names=[f.name for f in aschema],
            )
        )
    return iter(out)


def _write(opts, rows) -> None:
    w = S3ManifestWriter(opts, _SCHEMA, overwrite=False)
    msgs = [w.write(_batches(rows))]
    w.commit(msgs)


def _read_rows(opts):
    r = S3ManifestReader(opts)
    out = []
    for p in r.partitions():
        for batch in r.read(p):
            out.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return sorted(out)


class TestManifestCommitProtocol:
    def test_uncommitted_objects_are_invisible(self):
        opts = _fresh()
        w = S3ManifestWriter(opts, _SCHEMA, overwrite=False)
        msg = w.write(_batches([(1, "a"), (2, "b")]))  # task output, NO commit
        assert msg.keys  # the object exists in the store...
        assert _read_rows(opts) == []  # ...but no manifest -> invisible
        w.abort([msg])
        client = _s3(w.options)
        listed = client.list_objects_v2(Bucket=opts["bucket"], Prefix="t/data/")
        assert listed.get("KeyCount", 0) == 0  # abort cleaned the objects

    def test_commit_makes_exactly_the_committed_rows_visible(self):
        opts = _fresh()
        _write(opts, [(1, "a"), (2, "b"), (3, None)])
        assert _read_rows(opts) == [(1, "a"), (2, "b"), (3, None)]

    def test_rogue_object_under_data_prefix_never_read(self):
        """A retried task's orphan (or any junk under data/) must stay
        unreachable: readers enumerate manifests, not ListObjects."""
        opts = _fresh()
        _write(opts, [(1, "a")])
        client = _s3({k.lower(): v for k, v in opts.items()})
        client.put_object(
            Bucket=opts["bucket"], Key="t/data/part-rogue.parquet", Body=b"junk"
        )
        assert _read_rows(opts) == [(1, "a")]

    def test_append_is_one_manifest_each_and_unions(self):
        opts = _fresh()
        _write(opts, [(1, "a")])
        _write(opts, [(2, "b")])
        assert _read_rows(opts) == [(1, "a"), (2, "b")]
        low = {k.lower(): v for k, v in opts.items()}
        assert len(_load_manifests(_s3(low), low["bucket"], low["prefix"])) == 2

    def test_manifests_order_by_commit_time_for_schema(self):
        """ADVICE r10: 'newest manifest' must mean newest COMMIT, not
        lexicographically-largest random name — bodies carry
        committed_at_us and ordering uses it."""
        low = {k.lower(): v for k, v in _fresh().items()}
        client = _s3(low)
        # adversarial names: reverse-lexicographic vs commit order
        for name, at, ddl in [
            ("manifest-zzz.json", 100, "struct<old:bigint>"),
            ("manifest-aaa.json", 200, "struct<new:bigint>"),
        ]:
            client.put_object(
                Bucket=low["bucket"],
                Key=f"{low['prefix']}/manifests/{name}",
                Body=json.dumps(
                    {"objects": [], "rows": 0, "schema_ddl": ddl,
                     "committed_at_us": at, "replaces": []}
                ).encode(),
            )
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            S3ParquetManifestDataSource,
        )

        ds = S3ParquetManifestDataSource(dict(low))
        assert ds.schema() == "struct<new:bigint>"

    def test_empty_partition_writes_no_object(self):
        opts = _fresh()
        w = S3ManifestWriter(opts, _SCHEMA, overwrite=False)
        msg = w.write(_batches([]))
        assert msg.keys == [] and msg.rows == 0

    def test_overwrite_mode_rejected(self):
        with pytest.raises(ValueError, match="append-only"):
            S3ManifestWriter(_fresh(), _SCHEMA, overwrite=True)

    def test_streaming_complete_mode_rejected(self):
        """outputMode('complete')/'update' pass overwrite=True — the
        append-only streaming sink must reject it loudly, not append
        every epoch's full snapshot (self-review r11 finding)."""
        from pyspark.sql.types import StructType as _ST

        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            S3ParquetManifestDataSource,
        )

        ds = S3ParquetManifestDataSource(
            {k.lower(): v for k, v in _fresh().items()}
        )
        with pytest.raises(ValueError, match="append-only"):
            ds.streamWriter(_ST(), overwrite=True)

    def test_leading_empty_batches_lose_nothing(self):
        """An empty Arrow batch ahead of real ones must not eat the
        first non-empty batch (the discarded-peek data-loss bug found
        by self-review r11)."""
        import itertools

        import pyarrow as pa

        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            _canonical_arrow_schema,
        )

        aschema = _canonical_arrow_schema(_SCHEMA)
        empty = pa.record_batch(
            [pa.array([], type=f.type) for f in aschema],
            names=[f.name for f in aschema],
        )
        opts = _fresh()
        w = S3ManifestWriter(opts, _SCHEMA, overwrite=False)
        batches = itertools.chain(
            [empty, empty], _batches([(1, "a"), (2, "b")]), [empty]
        )
        msg = w.write(batches)
        w.commit([msg])
        assert msg.rows == 2
        assert _read_rows(opts) == [(1, "a"), (2, "b")]

    def test_manifest_records_schema_and_rowcount(self):
        opts = _fresh()
        _write(opts, [(7, "z"), (8, "y")])
        low = {k.lower(): v for k, v in opts.items()}
        [(_, m)] = _load_manifests(_s3(low), low["bucket"], low["prefix"])
        assert m["rows"] == 2 and "struct<k:bigint,v:string>" == m["schema_ddl"]
        assert m["committed_at_us"] > 0 and m["replaces"] == []

    def test_large_partition_streams_as_multipart(self, monkeypatch):
        """Task memory bound (ADVICE r10): a partition bigger than the
        part size must ship through multipart upload in parts, not one
        giant in-memory buffer — and the round trip stays exact."""
        import hashlib

        from spark_kinesis_article_analysis_spark.sources import s3_objects as m

        # the REAL 5 MB minimum part size (moto enforces EntityTooSmall
        # exactly like S3, so shrinking the part size is not an option)
        monkeypatch.setattr(m, "_PART_SIZE", 5 * 1024 * 1024)
        calls = {"parts": 0}
        real_sink = m._S3MultipartSink

        class CountingSink(real_sink):
            def _ship_part(self):
                calls["parts"] += 1
                super()._ship_part()

        monkeypatch.setattr(m, "_S3MultipartSink", CountingSink)
        opts = _fresh()
        # incompressible payloads (hash-chained WITHIN each row — a
        # repeated digest would let snappy crush the file 10x) so the
        # parquet bytes actually cross two part boundaries (~24 MB)
        h = hashlib.sha256(b"seed")
        rows = []
        for i in range(12000):
            parts = []
            for _ in range(32):
                h = hashlib.sha256(h.digest())
                parts.append(h.hexdigest())
            rows.append((i, "".join(parts)))
        w = m.S3ManifestWriter(opts, _SCHEMA, overwrite=False)
        w.commit([w.write(_batches(rows, chunk=1000))])
        assert calls["parts"] >= 2  # genuinely multipart
        assert _read_rows(opts) == sorted(rows)

    def test_multipart_abort_on_write_failure(self, monkeypatch):
        """A task that dies mid-object must abort its multipart upload
        (S3 bills dangling parts) and surface the error."""
        from spark_kinesis_article_analysis_spark.sources import s3_objects as m

        monkeypatch.setattr(m, "_PART_SIZE", 16 * 1024)
        opts = _fresh()
        low = {k.lower(): v for k, v in opts.items()}

        def batches():
            for i in range(3):
                yield from _batches([(i * 100 + j, "y" * 200) for j in range(100)])
            raise RuntimeError("source blew up mid-partition")

        w = S3ManifestWriter(opts, _SCHEMA, overwrite=False)
        with pytest.raises(RuntimeError, match="mid-partition"):
            w.write(batches())
        client = _s3(low)
        mp = client.list_multipart_uploads(Bucket=opts["bucket"])
        assert not mp.get("Uploads")  # nothing dangling
        assert _read_rows(opts) == []  # and nothing visible


class TestSnapshotAndCompaction:
    def test_snapshot_read_pins_the_pre_append_state(self):
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            _manifest_keys,
        )

        opts = _fresh()
        low = {k.lower(): v for k, v in opts.items()}
        _write(opts, [(1, "a"), (2, "b")])
        [snap_key] = _manifest_keys(_s3(low), low["bucket"], low["prefix"])
        _write(opts, [(3, "c")])
        assert _read_rows(opts) == [(1, "a"), (2, "b"), (3, "c")]
        pinned = dict(opts, snapshotManifest=snap_key)
        assert _read_rows(pinned) == [(1, "a"), (2, "b")]

    def test_snapshot_at_unknown_manifest_is_loud(self):
        opts = _fresh()
        _write(opts, [(1, "a")])
        r = S3ManifestReader(dict(opts, snapshotManifest="t/manifests/nope.json"))
        with pytest.raises(ValueError, match="not a committed manifest"):
            r.partitions()

    def test_compaction_tombstones_are_invisible_and_exact(self):
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            _manifest_keys,
            compact_manifests,
        )

        opts = _fresh()
        low = {k.lower(): v for k, v in opts.items()}
        _write(opts, [(1, "a")])
        _write(opts, [(2, "b")])
        _write(opts, [(3, "c")])
        pre_keys = _manifest_keys(_s3(low), low["bucket"], low["prefix"])
        assert len(pre_keys) == 3
        snap_key = pre_keys[1]  # pre-compaction snapshot: first 2 appends
        new_key = compact_manifests(opts)
        # reads see each row exactly once (compacted-away manifests dead)
        assert _read_rows(opts) == [(1, "a"), (2, "b"), (3, "c")]
        # reader now enumerates ONE active manifest
        manifests = _load_manifests(_s3(low), low["bucket"], low["prefix"])
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            _active_manifests,
        )

        active = _active_manifests(manifests)
        assert [k for k, _ in active] == [new_key]
        # a snapshot pinned BEFORE the compaction still resolves exactly
        assert _read_rows(dict(opts, snapshotManifest=snap_key)) == [
            (1, "a"),
            (2, "b"),
        ]
        # appending after compaction keeps working
        _write(opts, [(4, "d")])
        assert _read_rows(opts) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]

    def test_double_compaction_is_stable(self):
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            compact_manifests,
        )

        opts = _fresh()
        _write(opts, [(1, "a")])
        _write(opts, [(2, "b")])
        compact_manifests(opts)
        compact_manifests(opts)  # compacting a compaction: still exact
        assert _read_rows(opts) == [(1, "a"), (2, "b")]


class TestStreamingManifestSink:
    def _query(self, spark, src_dir, opts, ckpt):
        from pyspark import cloudpickle

        from spark_kinesis_article_analysis_spark.sources import s3_objects as _m

        cloudpickle.register_pickle_by_value(_m)
        spark.dataSource.register(_m.S3ParquetManifestDataSource)
        stream = (
            spark.readStream.schema("k long, v string").json(src_dir)
        )
        w = stream.writeStream.format("s3_parquet_manifest").option(
            "checkpointLocation", ckpt
        )
        for k, v in opts.items():
            w = w.option(k, v)
        return w.trigger(availableNow=True).start()

    def test_epoch_fenced_streaming_restart_is_exactly_once(self, spark, tmp_path):
        """The reference's writeStream->S3 sink (process_articles.py:
        85-91) on the manifest protocol: stop, add input, restart from
        the same checkpoint — every row exactly once, one manifest per
        epoch, epoch ids monotonic."""
        import json as _json

        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            _manifest_keys,
        )

        src = tmp_path / "src"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")
        opts = _fresh()
        low = {k.lower(): v for k, v in opts.items()}
        (src / "a.json").write_text(
            "\n".join(_json.dumps({"k": i, "v": f"a{i}"}) for i in range(30))
        )
        q = self._query(spark, str(src), opts, ckpt)
        q.awaitTermination(120)
        assert len(_read_rows(opts)) == 30
        (src / "b.json").write_text(
            "\n".join(_json.dumps({"k": i, "v": f"b{i}"}) for i in range(7))
        )
        q = self._query(spark, str(src), opts, ckpt)
        q.awaitTermination(120)
        rows = _read_rows(opts)
        assert len(rows) == 37 and len(set(rows)) == 37  # exactly once
        keys = _manifest_keys(_s3(low), low["bucket"], low["prefix"])
        assert all("manifest-epoch-" in k for k in keys)
        manifests = _load_manifests(_s3(low), low["bucket"], low["prefix"])
        epochs = [b["epoch"] for _, b in manifests]
        assert epochs == sorted(epochs) and len(set(epochs)) == len(epochs)

    def test_recommitted_epoch_overwrites_not_appends(self):
        """The fence itself: committing the same epoch twice (a replayed
        microbatch after driver failure) leaves ONE manifest whose
        object list is the LAST attempt's — rows appear exactly once."""
        from pyspark.sql.types import StructType

        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            S3ManifestStreamWriter,
            _manifest_keys,
        )

        opts = _fresh()
        low = {k.lower(): v for k, v in opts.items()}
        w = S3ManifestStreamWriter(opts, _SCHEMA)
        # attempt 1 of epoch 0
        m1 = w.write(_batches([(1, "a"), (2, "b")]))
        w.commit([m1], batchId=0)
        # driver dies post-commit, pre-checkpoint; replay re-runs epoch 0
        m2 = w.write(_batches([(1, "a"), (2, "b")]))
        w.commit([m2], batchId=0)
        assert _read_rows(opts) == [(1, "a"), (2, "b")]  # not doubled
        keys = _manifest_keys(_s3(low), low["bucket"], low["prefix"])
        assert len(keys) == 1  # one manifest per epoch, ever

    def test_replayed_epoch_keeps_original_commit_time(self):
        """Replay overwrite must carry the ORIGINAL committed_at_us
        forward (ADVICE r11): a replayed epoch that re-stamped itself
        would re-sort AFTER later batches in the commit log, shifting
        what a snapshotManifest pinned to its name includes. With the
        carry, an epoch's log position is immutable across replays."""
        import json as _json

        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            S3ManifestStreamWriter,
            _load_manifests,
        )

        opts = _fresh()
        low = {k.lower(): v for k, v in opts.items()}
        w = S3ManifestStreamWriter(opts, _SCHEMA)
        w.commit([w.write(_batches([(1, "a")]))], batchId=0)
        w.commit([w.write(_batches([(9, "z")]))], batchId=1)  # later epoch
        manifests = _load_manifests(_s3(low), low["bucket"], low["prefix"])
        t0 = {b["epoch"]: b["committed_at_us"] for _, b in manifests}
        # replay epoch 0 AFTER epoch 1 committed (restart from an old
        # checkpoint): its commit time must not move past epoch 1's
        w.commit([w.write(_batches([(1, "a")]))], batchId=0)
        manifests = _load_manifests(_s3(low), low["bucket"], low["prefix"])
        t1 = {b["epoch"]: b["committed_at_us"] for _, b in manifests}
        assert t1[0] == t0[0], "replay re-stamped the epoch's commit time"
        assert t1[0] < t1[1]
        # and the log order (by committed_at_us) still lists epoch 0 first
        assert [b["epoch"] for _, b in manifests] == [0, 1]

    def test_streaming_abort_deletes_task_objects(self):
        from spark_kinesis_article_analysis_spark.sources.s3_objects import (
            S3ManifestStreamWriter,
        )

        opts = _fresh()
        w = S3ManifestStreamWriter(opts, _SCHEMA)
        msg = w.write(_batches([(1, "a")]))
        w.abort([msg, None], batchId=3)
        client = _s3(w.options)
        listed = client.list_objects_v2(Bucket=opts["bucket"], Prefix="t/data/")
        assert listed.get("KeyCount", 0) == 0
        assert _read_rows(opts) == []


class TestEngineReadPaths:
    def test_full_engine_write_read_with_inferred_schema(self, spark):
        """spark.write -> spark.read with NO user schema: the reader
        derives it from the newest manifest."""
        from pyspark import cloudpickle

        from spark_kinesis_article_analysis_spark.sources import s3_objects as _m

        cloudpickle.register_pickle_by_value(_m)
        spark.dataSource.register(_m.S3ParquetManifestDataSource)
        opts = _fresh()
        df = spark.createDataFrame([(i, f"s{i}") for i in range(100)], "k long, v string")
        w = df.repartition(4).write.format("s3_parquet_manifest").mode("append")
        for k, v in opts.items():
            w = w.option(k, v)
        w.save()
        r = spark.read.format("s3_parquet_manifest")
        for k, v in opts.items():
            r = r.option(k, v)
        got = r.load()
        assert got.schema.simpleString() == "struct<k:bigint,v:string>"
        assert got.count() == 100
        assert got.agg({"k": "sum"}).collect()[0][0] == sum(range(100))


class TestClientReuse:
    def test_one_client_per_service_and_options(self):
        """Sources and sinks share one boto3 client per service and
        options within a process (``sources.aws``) instead of building
        one per read, write and commit."""
        from spark_kinesis_article_analysis_spark.sources.kinesis_source import _client

        opts = {"regionname": "us-east-1", "endpointurl": "http://127.0.0.1:9",
                "awsaccesskeyid": "x", "awssecretkey": "x"}
        assert _s3(opts) is _s3(dict(opts))
        assert _s3(opts) is not _s3({**opts, "endpointurl": "http://127.0.0.1:10"})
        assert _s3(opts) is not _s3({**opts, "awsaccesskeyid": "y"})
        assert _client(opts) is not _s3(opts)
        assert _client(opts).meta.service_model.service_name == "kinesis"

    def test_concurrent_first_use_builds_one_client(self):
        """Threads racing on a cold key all get the same client."""
        import sys
        import threading

        opts = {"regionname": "us-east-1", "endpointurl": "http://127.0.0.1:11",
                "awsaccesskeyid": "x", "awssecretkey": "x"}
        got = []
        threads = [threading.Thread(target=lambda: got.append(_s3(opts))) for _ in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert len(got) == 8 and len({id(c) for c in got}) == 1

    def test_shared_client_copies_identical(self):
        """Each source carries its own copy of the cache helper (either
        may be pickled by value alone); the copies must not drift."""
        import inspect

        from spark_kinesis_article_analysis_spark.sources import kinesis_source, s3_objects

        assert inspect.getsource(kinesis_source._shared_client) == inspect.getsource(s3_objects._shared_client)
        assert kinesis_source._CLIENTS == s3_objects._CLIENTS


#: Driver script for the isolation test below: the package is importable
#: by the driver only (argv[1] on its sys.path), never by the workers.
_ISOLATED_DRIVER = r"""
import importlib.util
import sys

sys.path.insert(0, sys.argv[1])
from pyspark import cloudpickle

from spark_kinesis_article_analysis_spark.operators.kinesis_batch import kinesis_options
from spark_kinesis_article_analysis_spark.operators.s3_batch import ensure_bucket, s3_options
from spark_kinesis_article_analysis_spark.session import get_spark
from spark_kinesis_article_analysis_spark.sources import kinesis_source as _ks
from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

spark = get_spark(app_name="isolated", master="local[2]", shuffle_partitions=2)
probe = spark.sparkContext.parallelize([0], 1).map(
    lambda _: importlib.util.find_spec("spark_kinesis_article_analysis_spark") is None
)
assert probe.collect() == [True], "workers can import the package"
for m in (_ks, _s3o):
    cloudpickle.register_pickle_by_value(m)
spark.dataSource.register(_ks.KinesisApiDataSource)
spark.dataSource.register(_s3o.S3ParquetManifestDataSource)

kopts = kinesis_options("isolated")
_ks._client(_ks._norm_options(kopts)).create_stream(StreamName="isolated", ShardCount=2)
rows = [(f"k{i}", f"d{i}") for i in range(20)]
spark.sparkContext.parallelize(rows, 2).foreachPartition(
    lambda it: _ks.put_records_partition(kopts, it) and None
)
reader = spark.read.format("kinesis_api")
for k, v in kopts.items():
    reader = reader.option(k, v)
ensure_bucket()
sopts = s3_options("isolated")
w = reader.load().selectExpr("cast(data as string) as data").repartition(2).write
w = w.format("s3_parquet_manifest").mode("append")
for k, v in sopts.items():
    w = w.option(k, v)
w.save()
r = spark.read.format("s3_parquet_manifest")
for k, v in sopts.items():
    r = r.option(k, v)
got = sorted(row.data for row in r.load().collect())
assert got == sorted(d for _, d in rows), got
spark.stop()
print("ISOLATED-OK")
"""


def test_sources_run_on_workers_that_cannot_import_the_package(tmp_path):
    """Kinesis put/read and S3 manifest write/read, with both source
    modules pickled by value, on workers whose path lacks the package
    (working directory outside the repo, no PYTHONPATH): the sources may
    only need stdlib, pyspark and boto3 there."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", _ISOLATED_DRIVER, repo],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "ISOLATED-OK" in done.stdout, done.stderr[-4000:]
