"""``article_stream``: the reference pipeline as deployed.

An open-loop producer process PutRecords seeded articles onto a
4-shard Kinesis stream served by the mock service; the query is
``readStream.format("kinesis_api")`` -> ``parse_articles`` ->
``with_word_count`` -> ``windowed_avg_word_count(watermark="10 seconds")``
-> ``s3_parquet_manifest`` stream sink, append mode, default trigger.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

import common
import gen

N_SHARDS = 4
#: Nominal offered rate: below what the query sustains on 4 cores and a
#: small share of the mock's measured PutRecords ceiling, so neither the
#: program nor the service saturates.
RATE = 100.0
WATERMARK_S = 10
#: Records of the untimed warm-up pass.
WARM_RECORDS = 50


class StreamBench:
    def __init__(self, run: common.Run, seconds: float) -> None:
        self.run, self.seconds = run, seconds
        self.n = int(RATE * seconds)
        self.service, port_file = common.start_service(run)
        self.port_file = port_file
        self.endpoint = ""
        self.spark = None
        self.stream = ""
        self.tracer = common.Tracer(False)

    # --- set-up -------------------------------------------------------------

    def setup(self, k: int, master: str | None = None, event_log: bool = False) -> float:
        """One program set-up; returns its seconds: session start,
        DataSource registration, bucket and stream creation, then one
        trivial job."""
        from pyspark import cloudpickle

        from spark_kinesis_article_analysis_spark.sources import kinesis_source, s3_objects

        if self.spark is not None:
            common.stop_session(self.spark)
        t0 = time.perf_counter()
        self.spark = common.start_session(self.run, master=master, event_log=event_log)
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        for mod in (kinesis_source, s3_objects):
            cloudpickle.register_pickle_by_value(mod)
        self.spark.dataSource.register(kinesis_source.KinesisApiDataSource)
        self.spark.dataSource.register(s3_objects.S3ParquetManifestDataSource)
        if not self.endpoint:
            self.endpoint = common.service_endpoint(self.service, self.port_file)
        common.ensure_bucket(self.endpoint)
        self.stream = f"articles-{k}"
        self._create_stream(self.stream)
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def _kin_opts(self, stream: str | None = None) -> dict:
        return {"streamName": stream or self.stream, **common.aws_options(self.endpoint)}

    def _create_stream(self, name: str, shards: int = N_SHARDS):
        kin = common.boto("kinesis", self.endpoint)
        kin.create_stream(StreamName=name, ShardCount=shards)
        kin.get_waiter("stream_exists").wait(StreamName=name, WaiterConfig={"Delay": 0.1})
        return kin

    def ceiling(self) -> dict:
        """The mock's PutRecords and GetRecords rates for articles of this
        workload's shape, measured once at set-up on a scratch stream."""
        kin = self._create_stream("ceiling", shards=1)
        recs = [{"Data": d, "PartitionKey": k} for k, d in gen.article_payloads(self.run.seed + 7, 1000, RATE)]
        t = time.perf_counter()
        for i in range(0, len(recs), 500):
            kin.put_records(StreamName="ceiling", Records=recs[i : i + 500])
        put_s = time.perf_counter() - t
        it = kin.get_shard_iterator(StreamName="ceiling", ShardId="shardId-000000000000",
                                    ShardIteratorType="TRIM_HORIZON")["ShardIterator"]
        t, got = time.perf_counter(), 0
        while got < len(recs):
            r = kin.get_records(ShardIterator=it, Limit=1000)
            got += len(r["Records"])
            it = r["NextShardIterator"]
        get_s = time.perf_counter() - t
        return {"put_rps": round(len(recs) / put_s), "get_rps": round(len(recs) / get_s)}

    def warm_up(self) -> float:
        """Untimed pass of the full query over a small stream, so the
        measured phase starts with compiled code and live workers."""
        t0 = time.perf_counter()
        kin = self._create_stream("warm")
        recs = gen.article_payloads(self.run.seed + 1000, WARM_RECORDS, RATE)
        kin.put_records(StreamName="warm", Records=[{"Data": d, "PartitionKey": k} for k, d in recs])
        q = self._query("warm", "warm-out", available_now=True)
        q.awaitTermination(120)
        q.stop()
        return time.perf_counter() - t0

    # --- the query -----------------------------------------------------------

    def _query(self, stream: str, prefix: str, available_now: bool = False, traced: bool = False):
        from spark_kinesis_article_analysis_spark.operators.article import (
            parse_articles,
            windowed_avg_word_count,
            with_word_count,
        )

        src, sink = ("kinesis_api_traced", "s3_parquet_manifest_traced") if traced else (
            "kinesis_api", "s3_parquet_manifest")
        extra = {"traceDir": self.run.path("spans")} if traced else {}
        payload = self.spark.readStream.format(src).options(**self._kin_opts(stream), **extra).load()
        windows = windowed_avg_word_count(
            with_word_count(parse_articles(payload)), watermark=f"{WATERMARK_S} seconds"
        )
        w = (
            windows.writeStream.format(sink)
            .outputMode("append")
            .option("checkpointLocation", self.run.path("ckpt", prefix))
            .options(**common.s3_options(self.endpoint, prefix), **extra)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def register_traced(self) -> None:
        from pyspark import cloudpickle

        import traced

        cloudpickle.register_pickle_by_value(traced)
        os.makedirs(self.run.path("spans"), exist_ok=True)
        self.spark.dataSource.register(traced.TracedKinesisSource)
        self.spark.dataSource.register(traced.TracedS3Sink)

    def measure(self, label: str, traced: bool = False) -> dict:
        """One open-loop phase: start the query on a fresh stream, offer
        ``RATE`` records/s for ``seconds``, drain, stop; then compute the
        phase's metrics and check its output."""
        stream, prefix = f"{self.stream}-{label}", f"out-{label}"
        self._create_stream(stream)
        log_path = self.run.path(f"producer-{label}.json")
        producer = subprocess.Popen(
            [sys.executable, os.path.join(common.BENCH_DIR, "producer.py"), self.endpoint, stream,
             str(self.run.seed), str(self.n), str(RATE), log_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.run.children.append(producer)
        q = self._query(stream, prefix, traced=traced)
        if producer.stdout.readline().strip() != "ready":
            raise RuntimeError("producer failed to start")
        deadline = time.time() + 60
        while not q.recentProgress:
            if time.time() > deadline or q.exception() is not None:
                raise RuntimeError(f"query did not start: {q.exception()}")
            time.sleep(0.05)
        meter = common.ProgramMeter([self.service.pid, producer.pid])
        before = common.service_counters(self.endpoint)
        svc_cpu0 = common.proc_cpu_s(self.service.pid)
        start = time.time() + 0.1
        cpu0 = meter.cpu_s()
        meter.start()
        producer.stdin.write(f"{start!r}\n")
        producer.stdin.flush()
        producer.wait(timeout=self.seconds + 120)
        # CPU per record over the offered-load window; the drain after it
        # varies in length with the latency being measured
        cpu_loaded = meter.cpu_s() - cpu0
        # drain: every record consumed, then one more batch: the batch
        # after the last data batch runs with the final watermark and
        # commits the windows it closed
        deadline = time.time() + 60
        consumed_at = None
        while time.time() < deadline and q.exception() is None:
            prog = q.recentProgress
            total = sum(p.numInputRows for p in prog)
            if total >= self.n and consumed_at is None:
                consumed_at = len(prog)
            if consumed_at is not None and len(prog) >= consumed_at + 1:
                break
            time.sleep(0.05)
        end = time.time()
        meter.stop()
        svc_cpu = common.proc_cpu_s(self.service.pid) - svc_cpu0
        counters = common.counter_delta(common.service_counters(self.endpoint), before)
        failure = q.exception()
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        with open(log_path) as f:
            plog = json.load(f)
        out = self._evaluate(prefix, progress, plog)
        last_rec_end = out.pop("_last_record_commit", end)
        window_s = max(last_rec_end, start + 1e-3) - start
        out.update(
            {
                "items_per_s": out["consumed"] / window_s,
                "cpu_ms_per_kitem": cpu_loaded * 1000 / self.n * 1000,
                "peak_pss_mb": meter.peak_mem / 2**20,
                "service.cpu_share": svc_cpu / (end - start),
                "generator.lag_ms": common.pct([(c[3] - c[2]) * 1000 for c in plog["calls"]], 99),
                "counters": counters,
                "progress": progress,
                "plog": plog,
                "start": start,
                "end": end,
            }
        )
        if failure is not None:
            out["failed"] += 1
            out["error"] = str(failure)
        return out

    # --- results -------------------------------------------------------------

    def _evaluate(self, prefix: str, progress: list[dict], plog: dict) -> dict:
        import duckdb
        import pandas as pd

        meta = gen.article_meta(self.run.seed, self.n, RATE)
        rows, manifests = common.committed_table(self.endpoint, prefix)
        if rows is None:
            rows = pd.DataFrame(columns=["window_start", "window_end", "author",
                                         "average_word_count", "committed_at_us"])
        due = plog["start"] + np.arange(self.n) / plog["rate"]
        failed_puts = sum(c[5] for c in plog["calls"])
        consumed = sum(p["numInputRows"] for p in progress)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0) for p in progress for op in p.get("stateOperators", [])
        )
        # expected output: every window the final watermark has closed
        log = pd.DataFrame({"ts": meta["ts"], "author": [gen.author_name(a) for a in meta["author"]],
                            "word_count": meta["word_count"]})
        final_wm = int(meta["ts"].max()) - WATERMARK_S
        con = duckdb.connect()
        con.sql(f"SET threads TO {common.nproc()}")
        con.register("log", log)
        want = con.sql(f"""
            WITH x AS (
                SELECT author, word_count,
                       unnest(generate_series((ts // 60) * 60 - 240, (ts // 60) * 60, 60)) AS ws
                FROM log)
            SELECT make_timestamp(ws * 1000000) AS window_start,
                   make_timestamp((ws + 300) * 1000000) AS window_end,
                   author, round(avg(word_count), 9) AS average_word_count
            FROM x GROUP BY ws, author HAVING ws + 300 <= {final_wm}""").df()
        got = rows[["window_start", "window_end", "author", "average_word_count"]].copy()
        got["average_word_count"] = got["average_word_count"].astype(float).round(9)
        mismatched = common.mismatched_rows(got, want)
        # latency: one sample per window closing — the window's commit
        # time minus the due time of the first record whose event time
        # pushed the watermark past the window's end
        running_max = np.maximum.accumulate(meta["ts"])
        latencies = []
        if len(rows):
            ends = rows.groupby("window_end")["committed_at_us"].max()
            for w_end, commit_us in ends.items():
                w_s = int(pd.Timestamp(w_end).timestamp())
                i = int(np.searchsorted(running_max, w_s + WATERMARK_S, side="left"))
                if i < self.n:
                    latencies.append(commit_us / 1000 - due[i] * 1000)
        # the batch that consumed the last record: its end time
        seen, last_commit = 0, None
        for p in progress:
            seen += p["numInputRows"]
            if seen >= self.n and last_commit is None:
                t = pd.Timestamp(p["timestamp"]).timestamp()
                last_commit = t + p["durationMs"].get("triggerExecution", 0) / 1000
        return {
            "attempted": self.n + len(want),
            "failed": failed_puts + max(0, self.n - consumed) + mismatched + dropped,
            "consumed": consumed,
            "mismatched_rows": mismatched,
            "expected_rows": len(want),
            "latencies_ms": latencies,
            "manifests": manifests,
            "rows_dropped_by_watermark": dropped,
            "_last_record_commit": last_commit,
        }
