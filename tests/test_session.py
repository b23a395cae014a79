"""The package session's partition and checkpoint contract
(``session.get_spark``): batch exchanges and the curation shard counts
use the caller's partition count, a new stateful stream starts with one
state partition, and checkpoint files go through the FileSystem-based
manager with their ``.crc`` sidecars kept."""

from __future__ import annotations

import inspect as pyinspect
import json
import os
import re
import subprocess
import sys

import pytest

from spark_kinesis_article_analysis_spark.operators import skew
from spark_kinesis_article_analysis_spark.plans import inspect
from spark_kinesis_article_analysis_spark.registry import all_specs
from spark_kinesis_article_analysis_spark.streaming import pipeline as sp
from tests.conftest import REPO, SF_CORRECTNESS

#: conftest's session: get_spark(shuffle_partitions=8)
BATCH_PARTITIONS = 8


def _recording(fn, seen: list[int]):
    sig = pyinspect.signature(fn)

    def wrapper(*args, **kwargs):
        seen.append(sig.bind(*args, **kwargs).arguments["num_shards"])
        return fn(*args, **kwargs)

    return wrapper


class TestBatchPartitions:
    def test_batch_group_by_uses_the_callers_count(self, spark):
        df = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
        plan = inspect.explain_str(df)
        assert re.search(rf"hashpartitioning\(k#\d+L, {BATCH_PARTITIONS}\)", plan), plan

    @pytest.mark.parametrize(
        "name", ["pack_sequences_sharded", "quality_gate_sharded", "corpus_prep_end_to_end"]
    )
    def test_range_shards_follow_the_batch_count(self, spark, monkeypatch, name):
        seen: list[int] = []
        for fn in ("range_sharded_running_sum", "range_sharded_percent_rank"):
            monkeypatch.setattr(skew, fn, _recording(getattr(skew, fn), seen))
        all_specs()[name].build(spark, SF_CORRECTNESS)
        assert seen == [BATCH_PARTITIONS]


class TestNewStream:
    def test_one_state_partition_and_checksummed_checkpoint(self, spark, tmp_path):
        payload, ckpt = str(tmp_path / "payload"), tmp_path / "ckpt"
        rows = [
            (json.dumps({"article_id": f"a{i}", "title": "t", "author": f"u{i % 3}",
                         "publish_date": f"2024-01-01 00:0{i}:00", "content": "w1 w2"}),)
            for i in range(6)
        ]
        spark.createDataFrame(rows, sp.PAYLOAD_SCHEMA).coalesce(1).write.parquet(payload)
        agg = sp.article_stream(sp.payload_stream(spark, payload), watermark="10 seconds")
        q = (
            agg.writeStream.format("memory").queryName("session_contract")
            .option("checkpointLocation", str(ckpt)).trigger(availableNow=True).start()
        )
        try:
            q.awaitTermination(120)
            progress = [p for p in q.recentProgress if p["stateOperators"]]
        finally:
            q.stop()
        assert progress and {p["stateOperators"][0]["numStateStoreInstances"] for p in progress} == {1}
        assert [d for d in os.listdir(ckpt / "state" / "0") if not d.startswith("_")] == ["0"]
        for log in ("offsets", "commits"):
            files = os.listdir(ckpt / log)
            assert "0" in files and ".0.crc" in files, (log, files)

    def test_checkpoint_manager_is_file_system_based(self, spark, tmp_path):
        jvm = spark._jvm
        manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}"),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_default_master_uses_the_cpus_this_process_may_run_on():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = (
        "from spark_kinesis_article_analysis_spark.session import get_spark\n"
        "s = get_spark(app_name='default-cpus')\n"
        "print(s.sparkContext.master)\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split()[-1] == f"local[{len(os.sched_getaffinity(0))}]"
