"""Traced twins of the wire source and sink, used only by ``--trace 1``.

Each class subclasses the package's own DataSource and times the calls
Spark makes into it (driver planning, executor reads, task writes,
commits), appending one JSON line per call to
``<traceDir>/spans-<pid>.jsonl``. The benchmark registers them under
their own format names; the package code they wrap is unchanged. This
module is pickled by value into Spark's Python processes.
"""

from __future__ import annotations

import json
import os
import time

from spark_kinesis_article_analysis_spark.sources.kinesis_source import (
    KinesisApiDataSource,
    KinesisApiParallelStreamReader,
)
from spark_kinesis_article_analysis_spark.sources.s3_objects import (
    S3ManifestStreamWriter,
    S3ManifestWriter,
    S3ParquetManifestDataSource,
)


def _emit(trace_dir: str, name: str, t0: float, **attrs) -> None:
    rec = {"name": name, "start": t0, "end": time.time(), "pid": os.getpid(), **attrs}
    with open(os.path.join(trace_dir, f"spans-{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


class TracedKinesisReader(KinesisApiParallelStreamReader):
    def latestOffset(self) -> dict:
        t0 = time.time()
        out = super().latestOffset()
        _emit(self.options["tracedir"], "kinesis.latestOffset", t0)
        return out

    def partitions(self, start: dict, end: dict):
        t0 = time.time()
        out = super().partitions(start, end)
        _emit(self.options["tracedir"], "kinesis.partitions", t0, n=len(out))
        return out

    def read(self, partition):
        t0 = time.time()
        n = 0
        for row in super().read(partition):
            n += 1
            yield row
        if partition is not None:
            _emit(partition.options["tracedir"], "kinesis.read", t0, rows=n,
                  batch=[partition.start_us, partition.end_us])


class TracedKinesisSource(KinesisApiDataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis_api_traced"

    def streamReader(self, schema):
        return TracedKinesisReader(self.options)


class _TimedWrites:
    def write(self, iterator):
        t0 = time.time()
        msg = super().write(iterator)
        _emit(self.options["tracedir"], "s3.write", t0, objects=len(msg.keys), rows=msg.rows)
        return msg


class TracedStreamWriter(_TimedWrites, S3ManifestStreamWriter):
    def commit(self, messages, batchId: int) -> None:
        t0 = time.time()
        super().commit(messages, batchId)
        _emit(self.options["tracedir"], "s3.commit", t0, epoch=batchId)


class TracedBatchWriter(_TimedWrites, S3ManifestWriter):
    def commit(self, messages) -> None:
        t0 = time.time()
        super().commit(messages)
        _emit(self.options["tracedir"], "s3.commit", t0)


class TracedS3Sink(S3ParquetManifestDataSource):
    @classmethod
    def name(cls) -> str:
        return "s3_parquet_manifest_traced"

    def writer(self, schema, overwrite: bool):
        super().writer(schema, overwrite)  # the package's own argument checks
        return TracedBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        super().streamWriter(schema, overwrite)
        return TracedStreamWriter(self.options, schema)
