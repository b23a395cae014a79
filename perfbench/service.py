"""Mock AWS endpoint (moto: Kinesis + S3) in its own process, with
service-side request counters.

Run as ``python3 service.py <port_file>``: binds 127.0.0.1 on an
OS-assigned port, writes the port to ``port_file`` once it is serving,
and serves until SIGTERM. ``GET /__bench/counters`` returns, per API,
requests, request bytes and response bytes, plus the number of records
GetRecords returned. Counting happens here, outside the measured
program, so the program under test is unchanged.
"""

from __future__ import annotations

import json
import logging
import os
import signal
import sys
import threading
from collections import defaultdict
from urllib.parse import parse_qs

_lock = threading.Lock()
_counts: dict = defaultdict(lambda: {"requests": 0, "bytes_in": 0, "bytes_out": 0})
_records_returned = [0]


def _api(environ) -> str:
    target = environ.get("HTTP_X_AMZ_TARGET", "")
    if target:
        return target.rsplit(".", 1)[-1]  # Kinesis_20131202.GetRecords
    method = environ["REQUEST_METHOD"]
    path = environ.get("PATH_INFO", "/").strip("/")
    query = parse_qs(environ.get("QUERY_STRING", ""), keep_blank_values=True)
    if "/" not in path:  # bucket-level call
        if method == "GET":
            return "ListObjectsV2" if "list-type" in query else "GetBucket"
        return f"{method.title()}Bucket"
    if method == "PUT":
        return "UploadPart" if "partNumber" in query else "PutObject"
    if method == "POST":
        return "CompleteMultipartUpload" if "uploadId" in query else "CreateMultipartUpload"
    return {"GET": "GetObject", "HEAD": "HeadObject", "DELETE": "DeleteObject"}.get(method, method)


def counting(app):
    def wrapped(environ, start_response):
        if environ.get("PATH_INFO") == "/__bench/counters":
            with _lock:
                body = json.dumps({"apis": dict(_counts), "records_returned": _records_returned[0]})
            start_response("200 OK", [("Content-Type", "application/json")])
            return [body.encode()]
        api = _api(environ)
        size_in = int(environ.get("CONTENT_LENGTH") or 0)
        chunks = list(app(environ, start_response))
        size_out = sum(len(c) for c in chunks)
        returned = sum(c.count(b'"SequenceNumber"') for c in chunks) if api == "GetRecords" else 0
        with _lock:
            c = _counts[api]
            c["requests"] += 1
            c["bytes_in"] += size_in
            c["bytes_out"] += size_out
            _records_returned[0] += returned
        return chunks

    return wrapped


def main() -> None:
    from moto.moto_server.werkzeug_app import DomainDispatcherApplication, create_backend_app
    from werkzeug.serving import make_server

    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    server = make_server(
        "127.0.0.1", 0, counting(DomainDispatcherApplication(create_backend_app)), threaded=True
    )
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=server.shutdown).start())
    tmp = sys.argv[1] + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.socket.getsockname()[1]))
    os.replace(tmp, sys.argv[1])
    server.serve_forever()


if __name__ == "__main__":
    main()
