"""The repository's benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``BENCHMARK.json`` for why each exists):

* ``article_stream`` — the reference streaming pipeline on the Kinesis
  wire path, open loop (``stream.py``);
* ``curation`` — near-dup components, Gopher gate and corpus prep with
  one sink commit, then semantic dedup and IVF build + search, closed
  loop (``batch.py``).

Every run generates its inputs from ``--seed`` (``gen.py``), sets the
program up five times (``setup_s`` is the median), warms the stream up
with one untimed pass (a batch job is measured cold, as a fresh
application runs it), measures for ``--seconds`` and checks every output
against an independent computation (DuckDB over the generator's log for
the stream, the registry's DuckDB oracles for the batch jobs). The last
line of stdout is the JSON result: end-to-end metrics with ``--trace
0``; with ``--trace 1`` a second, traced phase (spans at the
benchmark's calls into each layer, traced source/sink twins, the Spark
event log, streaming progress and the mock service's counters) gives
the per-layer metrics, the tracing overhead and, for the stream, a
``local[1]`` baseline. The mock AWS service and the open-loop producer
run as separate processes; their CPU is never counted as the program's.

End-to-end metrics, reported by every workload:

* ``result_p50_ms`` / ``result_p90_ms`` — time from a result's last
  input being available to the result being committed: per window
  closing for the stream (sink commit time minus the due time of the
  record whose event time closed the window), per job for batch work;
* ``cpu_ms_per_kitem`` — CPU of the JVM and its Python workers per 1,000
  items (records offered while the producer runs; documents plus
  vectors per job);
* ``peak_pss_mb`` — peak memory of the same processes, as proportional
  set size (pages the forked Python workers share count once in total);
* ``setup_s`` — median of five program set-ups.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("article_stream", "curation")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result lines."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def end_to_end(setups: list[float], res: dict) -> dict:
    import common

    lat = res["latencies_ms"]
    return {
        "setup_s": common.median(setups),
        "result_p50_ms": common.median(lat),
        "result_p90_ms": common.pct(lat, 90),
        "cpu_ms_per_kitem": res["cpu_ms_per_kitem"],
        "peak_pss_mb": res["peak_pss_mb"],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "spark_kinesis_article_analysis_spark")):
        _fail("the package under test is not in this checkout")
    sys.path[:0] = [ROOT, BENCH_DIR]
    spec = _spec()

    import common

    run = common.Run(args.workload, args.seed)
    bench = None
    try:
        if args.workload == "article_stream":
            import gen
            import stream

            bench = stream.StreamBench(run, args.seconds)
            props = gen.article_properties(args.seed, bench.n, stream.RATE)
        else:
            import batch

            bench = batch.CurationBench(run, args.seconds)
            props = bench.inputs()
        log("inputs ready")
        setups = [bench.setup(k) for k in range(common.SETUPS)]
        log(f"set-ups {setups}")
        extra = {"ceiling": bench.ceiling()} if args.workload == "article_stream" else {}
        warm_s = bench.warm_up()
        log(f"warm-up {warm_s:.1f}s")
        res = bench.measure("m")
        log("measured")
        e2e = end_to_end(setups, res)
        failed, attempted = res["failed"], res["attempted"]
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "environment": run.environment(),
            "inputs": props,
            "latency_samples": len(res["latencies_ms"]),
            "end_to_end": e2e,
            "items_per_s": res["items_per_s"],
            "setups_s": [round(s, 3) for s in setups],
            "warmup_s": round(warm_s, 3),
            "check": res.get("check") or {"mismatched_rows": res.get("mismatched_rows"),
                                          "expected_rows": res.get("expected_rows")},
            **extra,
        }
        if res.get("error"):
            summary["error"] = res["error"]
        if args.trace:
            import layers

            metrics, detail, tfail, tatt = layers.traced(bench, args.workload, e2e, res, warm_s, extra)
            failed += tfail
            attempted += tatt
            summary["trace"] = detail
            names = spec["per_layer"]
        else:
            metrics = e2e
            names = spec["end_to_end"]
        summary["failed"] = failed
        print(json.dumps(summary, default=str))
        result = {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                        for m in names},
        }
    finally:
        if bench is not None and bench.spark is not None:
            common.stop_session(bench.spark)
        common.stop_jvm([p.pid for p in run.children])
        run.close()
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
