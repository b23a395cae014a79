"""Real Kinesis read path over the AWS wire API (boto3), as a Spark 4
Python DataSource — format name ``kinesis_api``.

The reference consumes Kinesis through a JVM connector jar
(``reference docker-compose.yml:115``) that is absent from this
environment. This source reads the SAME service through the public
HTTP API instead: ``ListShards`` -> ``GetShardIterator`` ->
``GetRecords``, one Spark input partition per shard for the batch
reader (parallel, shard-pruned — the same partitioning unit every
Kinesis connector uses). The output schema mirrors the connector
envelope (``data``/``partitionKey``/``sequenceNumber``/``shardId``/...)
so everything downstream — ``operators/article.parse_articles``, the
window aggregation, the parquet sink — is byte-for-byte the shared
pipeline code.

Option names map 1:1 to ``streaming/kinesis.KinesisConfig`` and the AWS
Labs connector (``streamName``, ``regionName``, ``endpointUrl``,
``awsAccessKeyId``, ``awsSecretKey``, ``startingPosition``). The
``awsSecretKey`` option carries the SECRET key — the reference's
credential swap bug (``process_articles.py:45,57`` passes the access
key in both slots) is deliberately not replicated, same as
``streaming/kinesis.py``.

Two readers:

* **batch** (``spark.read.format("kinesis_api")``): a bounded snapshot
  — each shard drains from its start position until GetRecords reports
  caught-up (no records and ``MillisBehindLatest == 0``) or the shard
  is closed (``NextShardIterator`` null past a split/merge). One input
  partition per shard; boto3 clients are fetched inside ``read()``
  on the worker (one per process, ``_shared_client``), never pickled.
* **streaming** (``spark.readStream.format("kinesis_api")``): a
  partition-based :class:`DataSourceStreamReader` — per-shard input
  partitions whose GetRecords run ON THE EXECUTORS, with arrival-time
  fence offsets (see :class:`KinesisApiParallelStreamReader`). The
  driver's per-batch work is metadata only (one ListShards); at real
  shard counts the read bandwidth scales with the cluster, not the
  driver. ``option("readerMode", "simple")`` selects the previous
  :class:`SimpleDataSourceStreamReader` (driver-side, per-shard
  sequence-number offsets) — kept as the offset/restart CONTRACT proof
  and for debugging, not as the scale path.

Resharding: a split/merge closes the parent shard (it gains an
``EndingSequenceNumber`` and its iterator eventually returns a null
``NextShardIterator``). Both readers drain parents before children —
shards are ordered parent-first (Kinesis guarantees a record routed to
a parent precedes any same-key record in its children), and the stream
reader remembers closed shards in the offset so they are never
re-polled.

Tested against the real API served by moto (``tests/test_kinesis_api.py``)
— stream creation, multi-shard ingest, TRIM_HORIZON drain, per-shard
sequence ordering, restart replay, and a split mid-stream.
"""

from __future__ import annotations

import sys
import types
from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

if TYPE_CHECKING:
    from pyspark.sql.types import StructType

#: Connector-envelope schema (AWS Labs connector field names).
ENVELOPE_SCHEMA = (
    "data binary, streamName string, partitionKey string, "
    "sequenceNumber string, approximateArrivalTimestamp timestamp, "
    "shardId string"
)

#: GetRecords page size. 1000 keeps round trips low; Kinesis caps the
#: call at 10k records / 10 MB either way.
_GET_LIMIT = 1000

#: PutRecords retry budget per flush (exponential backoff between
#: attempts). Throttles clear in well under this; anything still
#: failing is a permanent rejection that must surface.
_PUT_MAX_ATTEMPTS = 8


#: ``sys.modules`` key of the boto3 client cache that the Kinesis source
#: and the S3 sink share within a Python process. A module object there,
#: not a global here: this module may be pickled by value to workers,
#: which rebuilds its globals on every task, and the workers need not be
#: able to import this package. ``s3_objects`` holds an identical copy
#: of ``_shared_client`` for the same reason.
_CLIENTS = "_skaa_boto3_clients"


def _shared_client(service: str, options: dict):
    """This process's boto3 ``service`` client for the connector
    ``options`` (lower-cased keys), built on first use: a build costs
    ~7-11 ms of CPU and a micro-batch needs about ten. The SECRET key
    goes to the secret slot (the reference passes the access key in
    both, ``process_articles.py:45,57``)."""
    import boto3

    kwargs: dict = {"region_name": options.get("regionname", "us-east-1")}
    if options.get("endpointurl"):
        kwargs["endpoint_url"] = options["endpointurl"]
    if options.get("awsaccesskeyid"):
        kwargs["aws_access_key_id"] = options["awsaccesskeyid"]
    if options.get("awssecretkey"):
        kwargs["aws_secret_access_key"] = options["awssecretkey"]
    cache = sys.modules.setdefault(_CLIENTS, types.ModuleType(_CLIENTS)).__dict__
    key = (service, tuple(sorted(kwargs.items())))
    client = cache.get(key)
    if client is None:
        # clients are thread-safe; racing first uses keep the first stored
        client = cache.setdefault(key, boto3.client(service, **kwargs))
    return client


def _client(options: dict):
    """boto3 Kinesis client from connector-style options, shared per
    process — a client is not picklable, so it is fetched inside
    driver/worker calls."""
    return _shared_client("kinesis", options)


def _norm_options(options: dict) -> dict:
    """Lower-case option keys once (Spark lower-cases DataSource option
    names already; normalizing again keeps direct construction in tests
    honest)."""
    return {str(k).lower(): v for k, v in options.items()}


def _list_shards_parent_first(client, stream: str) -> list[dict]:
    """All shards (open and closed), parents before children — the drain
    order that preserves per-key ordering across a reshard."""
    shards: list[dict] = []
    token = None
    while True:
        kwargs = {"StreamName": stream} if token is None else {"NextToken": token}
        resp = client.list_shards(**kwargs)
        shards.extend(resp["Shards"])
        token = resp.get("NextToken")
        if not token:
            break
    by_id = {s["ShardId"]: s for s in shards}

    def depth(s: dict) -> int:
        d, cur = 0, s
        while cur.get("ParentShardId") in by_id:
            cur = by_id[cur["ParentShardId"]]
            d += 1
        return d

    return sorted(shards, key=lambda s: (depth(s), s["ShardId"]))


def _drain_shard(
    client,
    stream: str,
    shard_id: str,
    after_seq: str | None,
    stop_after_seq: str | None = None,
) -> "tuple[list, str | None, bool]":
    """Read a shard's currently-available records.

    Starts AFTER ``after_seq`` (TRIM_HORIZON when None); stops when the
    shard reports caught-up, closes, or (when ``stop_after_seq`` is set,
    the replay fence) the recorded end sequence number is reached.
    Returns (records, last_seq_or_None, closed).
    """
    if after_seq:
        it = client.get_shard_iterator(
            StreamName=stream,
            ShardId=shard_id,
            ShardIteratorType="AFTER_SEQUENCE_NUMBER",
            StartingSequenceNumber=after_seq,
        )["ShardIterator"]
    else:
        it = client.get_shard_iterator(
            StreamName=stream, ShardId=shard_id, ShardIteratorType="TRIM_HORIZON"
        )["ShardIterator"]
    out: list = []
    last_seq: str | None = None
    closed = False
    while it:
        resp = client.get_records(ShardIterator=it, Limit=_GET_LIMIT)
        recs = resp.get("Records", [])
        for r in recs:
            if stop_after_seq is not None and int(r["SequenceNumber"]) > int(
                stop_after_seq
            ):
                return out, last_seq, closed
            out.append(r)
            last_seq = r["SequenceNumber"]
        it = resp.get("NextShardIterator")
        if it is None:
            closed = True  # SHARD_END: the shard was split/merged away
            break
        if not recs and resp.get("MillisBehindLatest", 0) == 0:
            break  # caught up with the tip — bounded snapshot ends here
    return out, last_seq, closed


def _envelope(rec: dict, stream: str, shard_id: str) -> tuple:
    ts = rec.get("ApproximateArrivalTimestamp")
    if ts is not None and ts.tzinfo is None:
        # Yield tz-AWARE datetimes: Spark converts aware values to the
        # correct instant regardless of the session timezone, whereas a
        # naive datetime is interpreted in the session zone (shifting
        # the instant under non-UTC sessions). boto3 normally returns
        # aware timestamps; attach UTC if a server handed back naive.
        import datetime as _dt

        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return (
        bytes(rec["Data"]),
        stream,
        rec["PartitionKey"],
        rec["SequenceNumber"],
        ts,
        shard_id,
    )


class KinesisShardPartition(InputPartition):
    def __init__(self, shard_id: str) -> None:
        self.shard_id = shard_id


class KinesisApiBatchReader(DataSourceReader):
    """Bounded snapshot read: one partition per shard, each draining
    TRIM_HORIZON -> current tip on the executor."""

    def __init__(self, options: dict) -> None:
        self.options = _norm_options(options)
        if not self.options.get("streamname"):
            raise ValueError("kinesis_api requires the streamName option")
        pos = self.options.get("startingposition", "TRIM_HORIZON").upper()
        if pos != "TRIM_HORIZON":
            raise ValueError(
                "kinesis_api batch reads are TRIM_HORIZON snapshots; "
                f"startingPosition={pos!r} is a streaming-only concept here"
            )

    def partitions(self) -> Sequence[KinesisShardPartition]:
        client = _client(self.options)
        shards = _list_shards_parent_first(client, self.options["streamname"])
        return [KinesisShardPartition(s["ShardId"]) for s in shards]

    def read(self, partition: KinesisShardPartition) -> Iterator[tuple]:
        if partition is None:
            return  # empty-partitions probe (see s3_objects read note)
        stream = self.options["streamname"]
        client = _client(self.options)
        recs, _last, _closed = _drain_shard(client, stream, partition.shard_id, None)
        for r in recs:
            yield _envelope(r, stream, partition.shard_id)


class KinesisApiStreamReader(SimpleDataSourceStreamReader):
    """Per-shard sequence-number offsets; exactly-once across restarts.

    Offset layout: ``{"seq": {shard_id: last_sequence_number}},
    {"closed": [shard_id, ...]}`` — primitives only, as the offset
    contract requires. A shard absent from ``seq`` has never been read
    (TRIM_HORIZON); a shard in ``closed`` is fully drained past its
    split/merge and is never polled again."""

    def __init__(self, options: dict) -> None:
        self.options = _norm_options(options)
        if not self.options.get("streamname"):
            raise ValueError("kinesis_api requires the streamName option")

    def initialOffset(self) -> dict:
        pos = self.options.get("startingposition", "TRIM_HORIZON").upper()
        if pos == "TRIM_HORIZON":
            return {"seq": {}, "closed": []}
        if pos == "LATEST":
            # start past everything currently in the stream
            client = _client(self.options)
            stream = self.options["streamname"]
            seq: dict[str, str] = {}
            closed: list[str] = []
            for s in _list_shards_parent_first(client, stream):
                recs, last, was_closed = _drain_shard(
                    client, stream, s["ShardId"], None
                )
                if last is not None:
                    seq[s["ShardId"]] = last
                if was_closed:
                    closed.append(s["ShardId"])
            return {"seq": seq, "closed": closed}
        raise ValueError(f"unsupported startingPosition {pos!r}")

    def read(self, start: dict) -> "tuple[Iterator[tuple], dict]":
        stream = self.options["streamname"]
        client = _client(self.options)
        seq = dict(start.get("seq", {}))
        closed = set(start.get("closed", []))
        out: list[tuple] = []
        # re-list every batch: resharding creates shards mid-stream
        for s in _list_shards_parent_first(client, stream):
            sid = s["ShardId"]
            if sid in closed:
                continue
            recs, last, was_closed = _drain_shard(client, stream, sid, seq.get(sid))
            for r in recs:
                out.append(_envelope(r, stream, sid))
            if last is not None:
                seq[sid] = last
            # a shard is done when its iterator hit SHARD_END, or when
            # the metadata says it's sealed (EndingSequenceNumber set —
            # no record can ever be appended) and we just drained to the
            # tip. The metadata check matters because some servers (moto
            # included) keep vending iterators for sealed shards instead
            # of nulling NextShardIterator.
            if was_closed or "EndingSequenceNumber" in s.get(
                "SequenceNumberRange", {}
            ):
                closed.add(sid)
        return iter(out), {"seq": seq, "closed": sorted(closed)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Failure-recovery replay of a committed range: re-read each
        shard from start's position, fenced at end's recorded sequence
        number — deterministic because sequence numbers are immutable
        and monotonic per shard."""
        stream = self.options["streamname"]
        client = _client(self.options)
        start_seq = start.get("seq", {})
        end_seq = end.get("seq", {})
        start_closed = set(start.get("closed", []))
        out: list[tuple] = []
        for s in _list_shards_parent_first(client, stream):
            sid = s["ShardId"]
            if sid in start_closed or sid not in end_seq:
                continue
            if start_seq.get(sid) == end_seq[sid]:
                continue  # nothing of this shard in the batch
            recs, _last, _closed = _drain_shard(
                client, stream, sid, start_seq.get(sid), stop_after_seq=end_seq[sid]
            )
            for r in recs:
                out.append(_envelope(r, stream, sid))
        return iter(out)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; Kinesis retention is time-based


def _ts_micros(ts) -> int:
    """Arrival timestamp -> integer epoch microseconds (naive = UTC).
    Integer comparisons on both the fence and the record side keep the
    inclusion rule exact — no float-equality edge at the boundary."""
    import datetime as _dt

    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return int(round(ts.timestamp() * 1_000_000))


class KinesisShardRangePartition(InputPartition):
    """One shard × one arrival-time range ``[start_us, end_us)`` — the
    executor-side read unit of :class:`KinesisApiParallelStreamReader`.
    Carries the (string-only, picklable) connector options so ``read``
    can build its own boto3 client on the worker."""

    def __init__(self, shard_id: str, start_us: int, end_us: int, options: dict) -> None:
        self.shard_id = shard_id
        self.start_us = start_us
        self.end_us = end_us
        self.options = options


class KinesisApiParallelStreamReader(DataSourceStreamReader):
    """Executor-parallel streaming read: per-shard input partitions,
    arrival-time fence offsets.

    Why fences, not sequence numbers: in the partition-based API the
    driver must fix the batch's END offset *before* any data is read
    (``latestOffset`` -> ``partitions`` -> executor ``read``), and
    Kinesis has no cheap "tip sequence number per shard" call — finding
    it means reading the records, which is exactly the driver-side
    bottleneck this reader removes (the Simple reader's documented
    limit). The service DOES give a deterministic time axis for free:
    ``ApproximateArrivalTimestamp`` is server-assigned at append and
    non-decreasing within a shard, and ``AT_TIMESTAMP`` shard iterators
    seek straight to a fence. So:

    * offset        = ``{"fence_us": T, "sealed": {shard_id: obs_T}}``
      (primitives only, as the offset contract requires)
    * batch [a, b)  = every record with arrival ts in ``[a, b)``
    * ``latestOffset`` = one ListShards + a clock read — METADATA ONLY,
      no GetRecords ever runs on the driver
    * ``read``      = executor-side ``AT_TIMESTAMP(a)`` drain, stopping
      at the first record with ts >= b (per-shard ts monotonicity)

    Determinism of replay: every record with ts < b was already
    appended (and immutable) when the driver stamped fence b = "now",
    and records appended later necessarily get ts >= b — so re-running
    ``partitions(a, b) -> read`` after a failure yields the same rows.
    Shards created after b can't hold rows with ts < b, so a changed
    ListShards view can't change the replayed batch either.

    Clock caveat (documented, configurable): the fence is driver time
    while arrival stamps are server time. A producer whose PutRecords
    lands server-side *after* the driver stamped the fence but with an
    arrival ts *before* it (driver clock ahead of server clock) would
    fall between batches. ``fenceLagMs`` (default 0) plans each fence
    that many ms in the past — set it >= the deployment's clock-skew +
    put-latency bound. Against the in-process test endpoint both clocks
    are the same host clock and puts happen-before the fence read, so
    the default is exact.

    Sealed-shard pruning: a reshard seals parents. A shard observed
    sealed at fence T has every record ts < T (appends happen-before
    the seal, the seal happens-before the observation), so once the
    batch start moves strictly past T the shard can never contribute
    again — ``partitions`` skips it, bounding per-batch API calls by
    the number of LIVE shards, not reshard history. The observation
    fence rides in the offset itself, so pruning survives restarts."""

    def __init__(self, options: dict) -> None:
        self.options = _norm_options(options)
        if not self.options.get("streamname"):
            raise ValueError("kinesis_api requires the streamName option")
        self._lag_us = int(float(self.options.get("fencelagms", "0")) * 1000)
        # fenceLagMs=0 is exact ONLY when producer and driver share a
        # clock (the in-process test endpoint). Against a real/remote
        # endpoint, driver-ahead clock skew beyond the lag means records
        # stamped just before a fence arrive just after it was planned —
        # silently falling between batches (ADVICE r11). Loud warning,
        # not a changed default: tests stay exact, production gets told.
        endpoint = self.options.get("endpointurl", "")
        # parse the HOST, don't substring-match: "kinesis-localhost-gw.
        # corp.example.com" must still warn, "http://[::1]:5000" must not
        # (self-review r12 finding)
        from urllib.parse import urlparse

        host = (urlparse(endpoint).hostname or "") if endpoint else ""
        local = host in ("localhost", "127.0.0.1", "::1")
        if self._lag_us == 0 and not local:
            import warnings

            warnings.warn(
                "kinesis_api parallel reader: fenceLagMs=0 against a "
                f"non-local endpoint ({endpoint or 'AWS default'}). Records "
                "arriving with server stamps earlier than a planned fence "
                "(producer/driver clock skew + put latency) are LOST between "
                "batches. Set fenceLagMs >= your clock-skew + put-latency "
                "bound (seconds, not ms, is typical for real deployments); "
                "see MIGRATION.md's kinesis_api option table.",
                stacklevel=2,
            )
        #: first-observed-sealed fences, memoized driver-side; merged
        #: into each latestOffset so the durable copy lives in the
        #: checkpointed offset (self-heals after restart: re-observed
        #: seals re-enter pruning one batch later).
        self._sealed: dict[str, int] = {}
        #: monotonic fence floor. Within a process latestOffset bumps it;
        #: across a RESTART the floor re-learns from the checkpointed
        #: offsets the engine passes to partitions() (Spark replays the
        #: last uncommitted batch before asking for a new fence, so the
        #: learner usually fires first). If a backwards clock step still
        #: produces end < start for a fresh batch, partitions() fails
        #: LOUDLY rather than letting the offset regress — a regressed
        #: commit would re-emit every record in the rolled-back range.
        self._last_fence_us = 0

    def _now_fence_us(self) -> int:
        import time

        now = int(time.time() * 1_000_000) - self._lag_us
        # strictly monotonic even against clock steps: a fence that
        # moved backwards would re-open an already-committed range
        self._last_fence_us = max(now, self._last_fence_us + 1)
        return self._last_fence_us

    def initialOffset(self) -> dict:
        pos = self.options.get("startingposition", "TRIM_HORIZON").upper()
        if pos == "TRIM_HORIZON":
            return {"fence_us": 0, "sealed": {}}
        if pos == "LATEST":
            # unlike the Simple reader, LATEST needs no draining — the
            # current tip is simply "everything with ts < now"
            return {"fence_us": self._now_fence_us(), "sealed": {}}
        raise ValueError(f"unsupported startingPosition {pos!r}")

    def latestOffset(self) -> dict:
        client = _client(self.options)
        shards = _list_shards_parent_first(client, self.options["streamname"])
        fence = self._now_fence_us()
        listed = set()
        for s in shards:
            sid = s["ShardId"]
            listed.add(sid)
            if "EndingSequenceNumber" in s.get("SequenceNumberRange", {}):
                self._sealed.setdefault(sid, fence)
        # prune memo to still-listed shards: a shard aged out of
        # ListShards (retention) can't be returned by partitions() at all
        self._sealed = {k: v for k, v in self._sealed.items() if k in listed}
        return {"fence_us": fence, "sealed": dict(self._sealed)}

    def partitions(self, start: dict, end: dict) -> Sequence[KinesisShardRangePartition]:
        start_us = int(start.get("fence_us", 0))
        end_us = int(end.get("fence_us", 0))
        # re-learn the fence floor from the engine's own offsets (covers
        # restarts: the replayed batch teaches the fresh reader the
        # checkpointed position before any new fence is stamped)
        self._last_fence_us = max(self._last_fence_us, start_us, end_us)
        if end_us < start_us:
            raise ValueError(
                f"kinesis_api: batch end fence {end_us} precedes start "
                f"{start_us} — the driver clock stepped backwards across "
                "a restart (or fenceLagMs grew). Fences must be "
                "monotonic; refusing to plan a regressed range (a "
                "regressed commit would re-emit every record in it). "
                "Fix the clock and restart the query."
            )
        if end_us == start_us:
            return []
        sealed = {k: int(v) for k, v in (start.get("sealed") or {}).items()}
        client = _client(self.options)
        shards = _list_shards_parent_first(client, self.options["streamname"])
        out = []
        for s in shards:
            sid = s["ShardId"]
            if sid in sealed and sealed[sid] < start_us:
                continue  # sealed strictly before the range: nothing left
            out.append(KinesisShardRangePartition(sid, start_us, end_us, self.options))
        return out

    def read(self, partition: KinesisShardRangePartition) -> Iterator[tuple]:
        if partition is None:
            return  # empty-partitions probe (see s3_objects read note)
        opts = partition.options
        stream = opts["streamname"]
        client = _client(opts)
        # ApproximateArrivalTimestamp is, as named, APPROXIMATE — AWS
        # does not guarantee strict per-shard monotonicity (stamping
        # jitter across lease handovers). Stopping at the FIRST record
        # past the end fence would permanently lose a jittered-early
        # record sitting after it; instead keep scanning a slack window
        # past the fence (discarding out-of-range rows) and only stop
        # once a record exceeds end + slack. Symmetrically, a record
        # with ts < start positioned late is collected by the PREVIOUS
        # batch's slack scan, and the `ts < start` skip here prevents
        # double-collection. Jitter beyond the slack loses records —
        # size tsJitterMs to the deployment's observed stamping jitter.
        slack_us = int(float(opts.get("tsjitterms", "1000")) * 1000)
        if partition.start_us <= 0:
            it = client.get_shard_iterator(
                StreamName=stream,
                ShardId=partition.shard_id,
                ShardIteratorType="TRIM_HORIZON",
            )["ShardIterator"]
        else:
            it = client.get_shard_iterator(
                StreamName=stream,
                ShardId=partition.shard_id,
                ShardIteratorType="AT_TIMESTAMP",
                Timestamp=partition.start_us / 1_000_000,
            )["ShardIterator"]
        while it:
            resp = client.get_records(ShardIterator=it, Limit=_GET_LIMIT)
            recs = resp.get("Records", [])
            for r in recs:
                ts_us = _ts_micros(r["ApproximateArrivalTimestamp"])
                if ts_us >= partition.end_us + slack_us:
                    return  # past the fence by more than the jitter bound
                if ts_us < partition.start_us or ts_us >= partition.end_us:
                    continue  # outside [start, end): another batch's row
                yield _envelope(r, stream, partition.shard_id)
            it = resp.get("NextShardIterator")
            if it is None:
                return  # SHARD_END
            if not recs and resp.get("MillisBehindLatest", 0) == 0:
                return  # caught up: later appends get ts >= end fence anyway

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; Kinesis retention is time-based


class KinesisApiDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis_api"

    def schema(self) -> str:
        return ENVELOPE_SCHEMA

    def reader(self, schema: "StructType") -> KinesisApiBatchReader:
        return KinesisApiBatchReader(self.options)

    def streamReader(self, schema: "StructType") -> KinesisApiParallelStreamReader:
        """Default streaming path: the executor-parallel reader.
        ``option("readerMode", "simple")`` falls back to the driver-side
        Simple reader (Spark routes to ``simpleStreamReader`` when this
        method raises PySparkNotImplementedError — the documented
        dispatch in pyspark.sql.datasource_internal._streamReader)."""
        if _norm_options(self.options).get("readermode", "parallel") == "simple":
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader (readerMode=simple)"},
            )
        return KinesisApiParallelStreamReader(self.options)

    def simpleStreamReader(self, schema: "StructType") -> KinesisApiStreamReader:
        return KinesisApiStreamReader(self.options)


def put_records_partition(options: dict, rows: "Iterator") -> int:
    """Producer helper for ``foreachPartition``: PutRecords the
    (partition_key, data) rows of one Spark partition in chunks of 500
    (the API cap), retrying per-record throttles. Returns the record
    count (foreachPartition discards it; callers invoking directly can
    assert). This is the distributed form of the reference's
    ``populate_stream.py`` producer loop."""
    opts = _norm_options(options)
    client = _client(opts)
    stream = opts["streamname"]
    batch: list[dict] = []
    n = 0

    def flush() -> None:
        nonlocal batch
        pending = batch
        batch = []
        attempts = 0
        while pending:
            resp = client.put_records(StreamName=stream, Records=pending)
            if not resp.get("FailedRecordCount"):
                return
            failed = [
                (rec, r)
                for rec, r in zip(pending, resp["Records"])
                if "ErrorCode" in r  # throttled/internal-error rows retry
            ]
            pending = [rec for rec, _ in failed]
            attempts += 1
            # bounded: a permanently-rejected record (e.g. ValidationException
            # on an oversized payload) must fail the task visibly, not spin it
            if attempts >= _PUT_MAX_ATTEMPTS:
                code = failed[0][1].get("ErrorCode", "?")
                msg = failed[0][1].get("ErrorMessage", "")
                raise RuntimeError(
                    f"PutRecords: {len(pending)} record(s) still failing after "
                    f"{attempts} attempts (first error {code}: {msg})"
                )
            import time

            time.sleep(min(0.05 * (2 ** (attempts - 1)), 1.0))

    for row in rows:
        data = row.data if hasattr(row, "data") else row[1]
        pk = row.partition_key if hasattr(row, "partition_key") else row[0]
        if isinstance(data, str):
            data = data.encode("utf-8")
        batch.append({"Data": data, "PartitionKey": pk})
        n += 1
        if len(batch) >= 500:
            flush()
    flush()
    return n
