"""Open-loop article producer, run as its own process.

``python3 producer.py <endpoint> <stream> <seed> <n> <rate> <log_path>``
builds the seeded article payloads, prints ``ready``, then reads one
line from stdin holding the wall-clock start time. Record ``i`` is due
at ``start + i / rate``; every tick the producer sends all due records
in PutRecords calls of at most 500, on one connection, whether or not
the consumer keeps up. It writes a JSON log of every call (first
record, count, due time of its first record, call start and end, failed
records) to ``log_path`` and exits.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

#: Scheduling tick: records due within one tick go out in one call.
TICK_S = 0.02
#: Resend attempts for records a PutRecords call reports failed.
MAX_ATTEMPTS = 5


def main() -> None:
    import boto3

    endpoint, stream, seed, n, rate, log_path = sys.argv[1:7]
    n, rate = int(n), float(rate)
    payloads = gen.article_payloads(int(seed), n, rate)
    client = boto3.client(
        "kinesis",
        region_name="us-east-1",
        endpoint_url=endpoint,
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
    )
    client.describe_stream_summary(StreamName=stream)  # open the connection
    print("ready", flush=True)
    start = float(sys.stdin.readline())
    calls = []
    i = 0
    while i < n:
        now = time.time()
        due_n = min(n, int((now - start) * rate) + 1)
        if due_n <= i:
            time.sleep(min(TICK_S, start + i / rate - now))
            continue
        j = min(due_n, i + 500)
        pending = [{"Data": d, "PartitionKey": k} for k, d in payloads[i:j]]
        t0 = time.time()
        for _ in range(MAX_ATTEMPTS):
            resp = client.put_records(StreamName=stream, Records=pending)
            if not resp.get("FailedRecordCount"):
                pending = []
                break
            pending = [p for p, r in zip(pending, resp["Records"]) if "ErrorCode" in r]
        calls.append([i, j - i, start + i / rate, t0, time.time(), len(pending)])
        i = j
    with open(log_path + ".tmp", "w") as f:
        json.dump({"start": start, "rate": rate, "calls": calls}, f)
    os.replace(log_path + ".tmp", log_path)


if __name__ == "__main__":
    main()
