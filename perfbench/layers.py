"""The traced run: per-layer metrics, tracing overhead, single-thread
baseline.

After the untraced measurement, the program is set up again with the
Spark event log on and the traced source/sink twins registered, the
same workload is measured once more with spans at the benchmark's calls
into each layer, and the layers' numbers are read from outside: spans,
the event log, ``StreamingQueryProgress`` and the mock service's
counters. A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import json
import os

import numpy as np

import common


def traced(bench, workload: str, e2e: dict, res: dict, warm_s: float, extra: dict):
    """Returns (per-layer metrics, detail, failed, attempted) of the
    traced phase(s)."""
    failed, attempted = 0, 0
    throughput = res["items_per_s"]
    if workload == "curation":
        # the untraced job was the JVM's first (cold); the traced one will
        # not be, so the overhead is taken against a warm untraced job
        bench.setup(common.SETUPS + 2)
        res = bench.measure("reference")
        e2e = {"result_p50_ms": common.median(res["latencies_ms"])}
        failed, attempted = res["failed"], res["attempted"]
    bench.setup(common.SETUPS, event_log=True)
    bench.register_traced()
    bench.tracer.enabled = True
    tres = bench.measure("traced", traced=True)
    bench.tracer.enabled = False
    common.stop_session(bench.spark)
    bench.spark = None
    tasks, jobs, stage_wall = common.event_log_tasks(bench.run.path("eventlog"))
    spans = common.read_span_files(bench.run.path("spans", "spans-*.jsonl"))
    work = [t for t in tasks if t["group"] != "check"]
    m = {"session.warmup_s": warm_s, **common.session_metrics(work)}
    lat = tres["latencies_ms"]
    m["trace.overhead_result_p50_ms"] = common.median(lat) - e2e["result_p50_ms"]
    m["trace.overhead_items_per_s"] = res["items_per_s"] - tres["items_per_s"]
    m["throughput.items_per_s"] = throughput
    detail = {"traced_latency_samples": len(lat), "tasks": len(work),
              "self_ms": bench.tracer.self_times_ms()}
    with open(os.path.join(bench.run.base, f"trace-{workload}-{bench.run.seed}.json"), "w") as f:
        json.dump({"spans": bench.tracer.spans, "layer_spans": spans}, f)
    if workload == "article_stream":
        m.update(_stream(bench, tres, tasks, spans, extra))
        bench.setup(common.SETUPS + 1, master="local[1]")
        base = bench.measure("local1")
        m["baseline.local1_result_p50_ms"] = common.median(base["latencies_ms"])
        m["baseline.local1_items_per_s"] = base["items_per_s"]
        m["baseline.local1_cpu_ms_per_kitem"] = base["cpu_ms_per_kitem"]
        failed, attempted = base["failed"], base["attempted"]
    else:
        m.update(_curation(bench, tres, tasks, jobs, stage_wall, spans))
    return m, detail, failed + tres["failed"], attempted + tres["attempted"]


def _span_ms(spans: list[dict], name: str) -> list[float]:
    """Durations of the named spans; task writes count only when they
    wrote rows (empty partitions write no object)."""
    return [(s["end"] - s["start"]) * 1000 for s in spans
            if s["name"] == name and s.get("rows", 1) > 0]


def _data_object_bytes(bench, prefix: str) -> float:
    sizes = [o["Size"] for o in common.list_keys(bench.endpoint, prefix) if "/data/" in o["Key"]]
    return float(np.mean(sizes)) if sizes else 0.0


def _stream(bench, tres: dict, tasks: list[dict], spans: list[dict], extra: dict) -> dict:
    import pandas as pd

    progress, consumed = tres["progress"], max(tres["consumed"], 1)
    busy = [p for p in progress if p["numInputRows"] > 0]
    dur = lambda key, ps: [p["durationMs"].get(key, 0) for p in ps]  # noqa: E731
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    apis = tres["counters"]["apis"]
    calls = sum(apis.get(a, {}).get("requests", 0) for a in ("GetRecords", "GetShardIterator", "ListShards"))
    returned = tres["counters"]["records_returned"]
    # backlog after each batch: records put by its end minus records
    # consumed through it; its slope over the measured window
    put_end = np.array([c[4] for c in tres["plog"]["calls"]])
    put_n = np.cumsum([c[1] for c in tres["plog"]["calls"]])
    t, backlog, seen = [], [], 0
    for p in progress:
        seen += p["numInputRows"]
        end = pd.Timestamp(p["timestamp"]).timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000
        if tres["start"] <= end <= tres["end"] and seen < consumed:
            k = int(np.searchsorted(put_end, end, side="right"))
            t.append(end)
            backlog.append((put_n[k - 1] if k else 0) - seen)
    reads: dict[tuple, float] = {}
    for s in spans:
        if s["name"] == "kinesis.read" and s["rows"] > 0:
            key = tuple(s["batch"])
            reads[key] = reads.get(key, 0.0) + (s["end"] - s["start"]) * 1000
    stream_tasks = [x for x in tasks if x["group"] == "stream"]
    manifests = tres["manifests"]
    return {
        "sources.kinesis_source.plan_ms": common.median(_span_ms(spans, "kinesis.latestOffset"))
        + common.median(_span_ms(spans, "kinesis.partitions")),
        "sources.kinesis_source.read_ms": common.median(list(reads.values())),
        "sources.kinesis_source.api_calls_per_krec": calls / consumed * 1000,
        "sources.kinesis_source.discarded_share": max(0, returned - consumed) / max(returned, 1),
        "sources.kinesis_source.backlog_slope_rps": float(np.polyfit(t, backlog, 1)[0]) if len(t) > 1 else 0.0,
        "sources.s3_objects.write_ms": common.median(_span_ms(spans, "s3.write")),
        "sources.s3_objects.commit_ms": common.median(_span_ms(spans, "s3.commit")),
        "sources.s3_objects.objects_per_commit": float(np.mean([len(b["objects"]) for b in manifests]))
        if manifests else 0.0,
        "sources.s3_objects.bytes_per_object": _data_object_bytes(bench, "out-traced/"),
        "streaming.trigger_ms": common.median(dur("triggerExecution", busy)),
        "streaming.query_planning_ms": common.median(dur("queryPlanning", busy)),
        "streaming.wal_ms": common.median(
            [a + b for a, b in zip(dur("walCommit", busy), dur("commitOffsets", busy))]),
        "streaming.state_commit_ms": common.median([op.get("commitTimeMs", 0) for op in ops]),
        "streaming.state_rows": float(max((op.get("numRowsTotal", 0) for op in ops), default=0)),
        "streaming.state_bytes": float(max((op.get("memoryUsedBytes", 0) for op in ops), default=0)),
        "streaming.empty_batch_share": 1 - len(busy) / max(len(progress), 1),
        "streaming.rows_dropped_by_watermark": float(tres["rows_dropped_by_watermark"]),
        "operators.article.task_cpu_ms_per_krec": sum(x["cpu_ms"] for x in stream_tasks) / consumed * 1000,
        "operators.article.shuffle_bytes_per_krec": sum(x["shuffle_write"] for x in stream_tasks)
        / consumed * 1000,
        "operators.article.partition_skew": common.partition_skew(stream_tasks),
        "service.cpu_share": tres["service.cpu_share"],
        "service.put_ceiling_rps": float(extra["ceiling"]["put_rps"]),
        "service.get_ceiling_rps": float(extra["ceiling"]["get_rps"]),
        "generator.lag_ms": tres["generator.lag_ms"],
    }


def _dedup_candidates(bench) -> tuple[int, int]:
    """(LSH candidate pairs, verified pairs) of the near-dup flow on the
    measured corpus, from the stages of the registry's own oracle."""
    oracle = common.oracle_sql(bench.specs["dedup_near_dup_end_to_end"].oracle)
    head = oracle.split("\ne AS ")[0].rstrip().rstrip(",")
    con = common.duck(bench.sf_dir, ("documents",))
    row = con.sql(head + "\nSELECT (SELECT count(*) FROM cand), (SELECT count(*) FROM verified)").fetchone()
    return int(row[0]), int(row[1])


def _curation(bench, tres: dict, tasks: list[dict], jobs: list[dict], stage_wall: dict,
              spans: list[dict]) -> dict:
    from spark_kinesis_article_analysis_spark.functions.similarity import N_QUERIES

    n_jobs = len(tres["latencies_ms"])
    per_job = lambda name: bench.tracer.total_ms(name) / n_jobs  # noqa: E731
    cand, verified = _dedup_candidates(bench)
    # one label-sum collect per propagation round (dedup_pipeline's
    # convergence probe), counted from the jobs' call sites
    rounds = [j for j in jobs if j["group"] == "dedup" and "dedup_pipeline.py" in j["call_site"]
              and j["call_site"].startswith("collect")]
    check = tres["check"]
    return {
        "service.cpu_share": tres["service.cpu_share"],
        "functions.dedup.ms": per_job("functions.dedup"),
        "functions.dedup.propagation_rounds": len(rounds) / n_jobs,
        "functions.dedup.candidate_pairs": float(cand),
        "functions.dedup.candidate_precision": verified / max(cand, 1),
        "functions.dedup.max_task_share": common.max_task_share(
            [t for t in tasks if t["group"] == "dedup"], stage_wall),
        "functions.gopher.ms": per_job("functions.gopher"),
        "functions.gopher.kept_share": check["gopher_kept_share"],
        "operators.skew.pack_ms": per_job("operators.skew.pack"),
        "sources.s3_objects.write_ms": common.median(_span_ms(spans, "s3.write")),
        "sources.s3_objects.commit_ms": common.median(_span_ms(spans, "s3.commit")),
        "sources.s3_objects.objects_per_commit": check["objects_per_commit"],
        "sources.s3_objects.bytes_per_object": _data_object_bytes(bench, "survivors-traced"),
        "functions.semantic.ms": per_job("functions.semantic"),
        "functions.semantic.pairs_per_vector": check["semantic_pairs_per_vector"],
        "functions.semantic.dropped_share": check["semantic_dropped_share"],
        "functions.similarity.train_ms": per_job("functions.similarity.train"),
        "functions.similarity.assign_ms": per_job("functions.similarity.assign"),
        "functions.similarity.search_ms": per_job("functions.similarity.search"),
        "functions.similarity.candidates_per_query": sum(o["candidates"] for o in tres["outputs"])
        / n_jobs / N_QUERIES,
        "functions.similarity.recall_at_k": check["recall_at_k"],
    }
