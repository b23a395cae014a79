"""Shared plumbing: environment pinning, the Spark session, the mock
service process, process-tree CPU/RSS sampling, spans, Spark event-log
parsing, statistics and the oracle comparison."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import urllib.request

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
#: Driver heap: fits a 15 GB host next to the mock service, the
#: generator and the Python workers (the package default is 16g). The
#: heap starts at full size, so peak memory does not depend on when the
#: collector chose to grow it.
DRIVER_MEM = "2g"
#: Program set-ups per run; ``setup_s`` is their median.
SETUPS = 5
#: Fixed amount of pure-Python work timed as a host-noise sentinel.
_SENTINEL_N = 300_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """Paths and environment of one benchmark run. Everything the run
    writes lives under ``<checkout>/.bench_out/<name>/`` and is removed
    at exit; a traced run keeps its spans in
    ``.bench_out/trace-<workload>-<seed>.json``."""

    def __init__(self, workload: str, seed: int) -> None:
        self.workload, self.seed = workload, seed
        self.base = os.path.join(ROOT, ".bench_out")
        self.out = os.path.join(self.base, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.out, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog", "data"):
            os.makedirs(os.path.join(self.out, sub), exist_ok=True)
        self.cpus = nproc()
        # pinned before pyspark/package import: the session module reads
        # these at import time, and Spark's workers inherit them
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(self.cpus),
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "SPARK_LOCAL_DIRS": os.path.join(self.out, "spark-local"),
                "TMPDIR": os.path.join(self.out, "tmp"),
                "PYTHONPATH": os.pathsep.join(
                    [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
                ),
                "PYSPARK_PYTHON": sys.executable,
                "PYSPARK_DRIVER_PYTHON": sys.executable,
                # boto3 reads no profile from outside the checkout and
                # never asks an instance-metadata endpoint for anything
                "AWS_CONFIG_FILE": os.path.join(self.out, "aws-config"),
                "AWS_SHARED_CREDENTIALS_FILE": os.path.join(self.out, "aws-credentials"),
                "AWS_EC2_METADATA_DISABLED": "true",
            }
        )
        os.environ.pop("SPARK_GRAFT_SF_DIR", None)
        self.children: list[subprocess.Popen] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.out, *parts)

    def environment(self) -> dict:
        load1, load5, _ = os.getloadavg()
        return {
            "cpus_used": self.cpus,
            "master": f"local[{self.cpus}]",
            "driver_memory": DRIVER_MEM,
            "load_avg_1m": round(load1, 2),
            "load_avg_5m": round(load5, 2),
            "noise_sentinel_ms": round(noise_sentinel_ms(), 2),
        }

    def close(self) -> None:
        for p in self.children:
            if p.poll() is None:
                p.terminate()
        for p in self.children:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        shutil.rmtree(self.out, ignore_errors=True)


def noise_sentinel_ms() -> float:
    """Wall time of a fixed pure-Python loop (min of 3): a slow host
    shows here before it shows in the program's numbers."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(_SENTINEL_N):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t)
    return best * 1000


# --- Spark session --------------------------------------------------------


def start_session(run: Run, master: str | None = None, event_log: bool = False):
    """The package's own session factory with the run's pinned conf."""
    from spark_kinesis_article_analysis_spark.session import get_spark

    extra = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": run.path("spark-local"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={run.path('tmp')}",
        "spark.sql.warehouse.dir": run.path("tmp", "warehouse"),
    }
    if event_log:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": run.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    else:
        extra["spark.eventLog.enabled"] = "false"
    return get_spark(master=master, extra_conf=extra)


def stop_session(spark) -> None:
    spark.stop()
    # a stopped session must not be handed back by getOrCreate
    from pyspark.sql import SparkSession

    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def stop_jvm(exclude: list[int]) -> None:
    """Stop the JVM PySpark launched and wait until it and every process
    under it (Python workers) have exited. ``exclude``: this process's
    other children, which the caller stops itself."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = ProgramMeter(exclude).pids()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its driver's pipe closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.time() > deadline:
            for p in pids:
                with contextlib.suppress(OSError):
                    os.kill(p, 9)
            deadline = float("inf")
        time.sleep(0.1)


# --- mock AWS service -------------------------------------------------------


def start_service(run: Run) -> tuple[subprocess.Popen, str]:
    port_file = run.path("service.port")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "service.py"), port_file],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    run.children.append(proc)
    return proc, port_file


def service_endpoint(proc: subprocess.Popen, port_file: str, timeout: float = 60) -> str:
    deadline = time.time() + timeout
    while not os.path.exists(port_file):
        if proc.poll() is not None or time.time() > deadline:
            raise RuntimeError("mock service did not start")
        time.sleep(0.02)
    with open(port_file) as f:
        return f"http://127.0.0.1:{int(f.read())}"


def service_counters(endpoint: str) -> dict:
    with urllib.request.urlopen(f"{endpoint}/__bench/counters", timeout=30) as r:
        return json.loads(r.read())


def counter_delta(after: dict, before: dict) -> dict:
    out = {}
    for api, c in after["apis"].items():
        b = before["apis"].get(api, {})
        out[api] = {k: v - b.get(k, 0) for k, v in c.items()}
    return {"apis": out, "records_returned": after["records_returned"] - before["records_returned"]}


def aws_options(endpoint: str) -> dict:
    return {
        "regionName": "us-east-1",
        "endpointUrl": endpoint,
        "awsAccessKeyId": "testing",
        "awsSecretKey": "testing",
    }


#: The bucket every workload's sink writes to.
BUCKET = "bench-output"


def s3_options(endpoint: str, prefix: str) -> dict:
    return {"bucket": BUCKET, "prefix": prefix, **aws_options(endpoint)}


def ensure_bucket(endpoint: str) -> None:
    s3 = boto("s3", endpoint)
    try:
        s3.create_bucket(Bucket=BUCKET)
    except s3.exceptions.BucketAlreadyOwnedByYou:
        pass


def list_keys(endpoint: str, prefix: str) -> list[dict]:
    """Every object (key, size) under ``prefix``, all pages."""
    s3 = boto("s3", endpoint)
    out, token = [], None
    while True:
        kw = {"Bucket": BUCKET, "Prefix": prefix}
        if token:
            kw["ContinuationToken"] = token
        resp = s3.list_objects_v2(**kw)
        out += resp.get("Contents", [])
        if not resp.get("IsTruncated"):
            return out
        token = resp["NextContinuationToken"]


def committed_table(endpoint: str, prefix: str):
    """A sink table read straight off the service (boto3 + pyarrow, no
    Spark): its rows, each tagged with its manifest's
    ``committed_at_us``, and the manifest bodies."""
    import io

    import pandas as pd
    import pyarrow.parquet as pq

    s3 = boto("s3", endpoint)
    frames, manifests = [], []
    for obj in list_keys(endpoint, f"{prefix}/manifests/"):
        body = json.loads(s3.get_object(Bucket=BUCKET, Key=obj["Key"])["Body"].read())
        manifests.append(body)
        for key in body["objects"]:
            raw = s3.get_object(Bucket=BUCKET, Key=key)["Body"].read()
            df = pq.read_table(io.BytesIO(raw)).to_pandas()
            df["committed_at_us"] = body["committed_at_us"]
            frames.append(df)
    rows = pd.concat(frames, ignore_index=True) if frames else None
    return rows, manifests


def boto(service: str, endpoint: str):
    import boto3

    return boto3.client(
        service,
        region_name="us-east-1",
        endpoint_url=endpoint,
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
    )


# --- process-tree CPU and RSS ----------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2 :].split()
        # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(d)] = (int(fields[1]), cpu)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes (the
    forked Python workers share most of theirs) count split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProgramMeter:
    """CPU and peak memory (PSS) of the program: every descendant of this process
    (the JVM and the Python workers it forks), minus the subtrees of the
    processes the benchmark runs beside it (mock service, generator)."""

    def __init__(self, exclude: list[int]) -> None:
        self.exclude = set(exclude)
        self.peak_mem = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        return self._program(_proc_table())

    def _program(self, table) -> list[int]:
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu_s(self) -> float:
        table = _proc_table()
        return sum(table[p][1] for p in self._program(table))

    def mem(self) -> int:
        return sum(_pss_bytes(p) for p in self.pids())

    def start(self) -> None:
        self.peak_mem = 0
        self._stop.clear()

        def loop() -> None:
            while not self._stop.wait(0.1):
                self.peak_mem = max(self.peak_mem, self.mem())

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_mem = max(self.peak_mem, self.mem())


def proc_cpu_s(pid: int) -> float:
    table = _proc_table()
    return table[pid][1] if pid in table else 0.0


# --- spans ------------------------------------------------------------------


class Tracer:
    """Spans at the benchmark's calls into each layer: name, start, end,
    parent and the id shared by the spans of one job or micro-batch.
    Kept in memory; written out once at the end of the run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "trace_id": trace_id, "start": time.time(),
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover, in ms."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i]) * 1000
        return out

    def total_ms(self, name: str) -> float:
        return sum((s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name)


def read_span_files(pattern: str) -> list[dict]:
    """Spans that traced source/sink wrappers wrote from Spark's Python
    processes, one JSON object per line."""
    out = []
    for path in glob.glob(pattern):
        with open(path) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


# --- Spark event log ----------------------------------------------------------


def event_log_tasks(eventlog_dir: str) -> tuple[list[dict], list[dict], dict]:
    """(task records, job records, stage -> (submit, complete) ms) from
    the Spark event log(s) written under ``eventlog_dir``. Tasks and jobs
    carry the job group the benchmark set around the call that ran them
    (``stream`` for the streaming query's micro-batches)."""
    tasks, jobs, stage_group, stage_wall = [], [], {}, {}
    for path in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = ("stream" if props.get("sql.streaming.queryId")
                             else props.get("spark.jobGroup.id", ""))
                    jobs.append({"group": group, "call_site": props.get("callSite.short", "")})
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info.get("Submission Time") and info.get("Completion Time"):
                        stage_wall[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    dur = info["Finish Time"] - info["Launch Time"]
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "duration_ms": dur,
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        # scheduler delay + (de)serialization: the part of
                        # the task's life that is not its run time
                        "overhead_ms": max(0, dur - m.get("Executor Run Time", 0)),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    })
    for t in tasks:
        t["group"] = stage_group.get(t["stage"], "")
    return tasks, jobs, stage_wall


def session_metrics(tasks: list[dict]) -> dict:
    return {
        "session.gc_ms": float(sum(t["gc_ms"] for t in tasks)),
        "session.task_overhead_ms": float(sum(t["overhead_ms"] for t in tasks)),
        "session.spill_bytes": float(sum(t["spill"] for t in tasks)),
        "session.tasks": float(len(tasks)),
    }


def max_task_share(tasks: list[dict], stage_wall: dict) -> float:
    """Slowest task over its stage's wall time, for the stage with the
    most task time (the stage that bounds the job)."""
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    best, share = -1.0, 0.0
    for sid, ts in by_stage.items():
        total = sum(t["duration_ms"] for t in ts)
        if sid in stage_wall and total > best:
            wall = stage_wall[sid][1] - stage_wall[sid][0]
            best, share = total, max(t["duration_ms"] for t in ts) / max(wall, 1)
    return share


def partition_skew(tasks: list[dict]) -> float:
    """Median over shuffle-reading stages of (max / median) per-task
    shuffle-read bytes."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        if t["shuffle_read"] > 0:
            by_stage.setdefault(t["stage"], []).append(t["shuffle_read"])
    ratios = [max(v) / float(np.median(v)) for v in by_stage.values() if len(v) > 1]
    return float(np.median(ratios)) if ratios else 0.0


# --- statistics ---------------------------------------------------------------


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def median(values) -> float:
    return pct(values, 50)


# --- oracle comparison ----------------------------------------------------------


def duck(sf_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET threads TO {nproc()}")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
    return con


def oracle_sql(sql: str) -> str:
    """The oracle text with every named non-recursive CTE marked
    ``MATERIALIZED``. DuckDB otherwise inlines a CTE at each reference,
    and a recursive step re-evaluates the whole chain beneath it on every
    iteration (80 s instead of 3 s for the near-dup oracle on 800
    documents, 4-core host). Materializing changes cost, never the
    result."""
    import re

    return re.sub(r"(?m)^(WITH RECURSIVE |WITH |)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def normalize(df):
    """Column-name-sorted, row-sorted frame with engine-neutral dtypes."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) else df[c]
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def mismatched_rows(got, want) -> int:
    """Rows present on one side and not the other (multiset difference)
    after normalization; a column-set mismatch counts every row."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return max(len(g), len(w), 1)
    cols = list(g.columns)
    g = g.assign(_n=g.groupby(cols, dropna=False).cumcount())
    w = w.assign(_n=w.groupby(cols, dropna=False).cumcount())
    m = g.merge(w, on=cols + ["_n"], how="outer", indicator=True)
    return int((m["_merge"] != "both").sum())
