"""The ``kinesis_api`` source against the real AWS wire protocol
(moto-served endpoint): bounded batch drain, per-shard sequence-number
offsets, restart replay fencing, resharding, option mapping.

The batch round-trip's VALUE correctness is the driver-verdicted
``kinesis_api_batch`` oracle (tests/test_oracle_parity.py runs it too);
this file covers the protocol behaviors an oracle can't see."""

from __future__ import annotations

import json

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

from spark_kinesis_article_analysis_spark.operators.kinesis_batch import (  # noqa: E402
    _endpoint,
    kinesis_options,
)
from spark_kinesis_article_analysis_spark.sources.kinesis_source import (  # noqa: E402
    KinesisApiBatchReader,
    KinesisApiParallelStreamReader,
    put_records_partition,
)

_COUNTER = {"n": 0}


def _fresh_stream(shards: int = 2) -> tuple[str, object]:
    _COUNTER["n"] += 1
    name = f"t{_COUNTER['n']}"
    client = boto3.client(
        "kinesis",
        region_name="us-east-1",
        endpoint_url=_endpoint(),
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
    )
    client.create_stream(StreamName=name, ShardCount=shards)
    return name, client


def _put(client, stream: str, n: int, prefix: str = "r") -> set[bytes]:
    payloads = set()
    for i in range(n):
        data = json.dumps({"k": f"{prefix}{i}"}).encode()
        client.put_record(StreamName=stream, Data=data, PartitionKey=f"{prefix}{i}")
        payloads.add(data)
    return payloads


class TestBatchReader:
    def test_snapshot_drains_every_shard_exactly_once(self):
        stream, client = _fresh_stream(shards=3)
        sent = _put(client, stream, 40)
        reader = KinesisApiBatchReader(kinesis_options(stream))
        parts = reader.partitions()
        assert len(parts) == 3
        rows = [row for p in parts for row in reader.read(p)]
        assert {r[0] for r in rows} == sent
        assert len(rows) == 40  # no duplicates across shard partitions
        # envelope integrity: shard field matches the partition that read it
        for p in parts:
            for row in reader.read(p):
                assert row[5] == p.shard_id

    def test_per_shard_sequence_numbers_ascend(self):
        stream, client = _fresh_stream(shards=1)
        _put(client, stream, 10)
        reader = KinesisApiBatchReader(kinesis_options(stream))
        [part] = reader.partitions()
        seqs = [int(row[3]) for row in reader.read(part)]
        assert seqs == sorted(seqs) and len(set(seqs)) == 10

    def test_missing_stream_name_rejected(self):
        with pytest.raises(ValueError, match="streamName"):
            KinesisApiBatchReader({"regionName": "us-east-1"})

    def test_producer_helper_batches_and_counts(self):
        stream, client = _fresh_stream(shards=2)
        rows = [(f"k{i}", json.dumps({"i": i})) for i in range(1203)]
        n = put_records_partition(kinesis_options(stream), iter(rows))
        assert n == 1203  # crosses the 500-record PutRecords cap twice
        reader = KinesisApiBatchReader(kinesis_options(stream))
        got = sum(len(list(reader.read(p))) for p in reader.partitions())
        assert got == 1203


class TestStreamReader:
    """Full engine path: readStream through the default (parallel)
    reader, availableNow into a parquet sink, restarts from the same
    checkpoint."""

    @staticmethod
    def _run_available_now(spark, stream: str, sink: str, ckpt: str) -> None:
        from pyspark import cloudpickle

        from spark_kinesis_article_analysis_spark.sources import (
            kinesis_source as _ks,
        )

        cloudpickle.register_pickle_by_value(_ks)
        spark.dataSource.register(_ks.KinesisApiDataSource)
        reader = spark.readStream.format("kinesis_api")
        for k, v in kinesis_options(stream).items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .selectExpr("cast(data as string) AS payload", "shardId", "sequenceNumber")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_spark_streaming_restart_is_exactly_once(self, spark, tmp_path):
        """Stop, ingest more, restart from the same checkpoint — the
        second run appends ONLY the new records."""
        stream, client = _fresh_stream(shards=2)
        _put(client, stream, 15, "one")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        self._run_available_now(spark, stream, sink, ckpt)
        assert spark.read.parquet(sink).count() == 15
        _put(client, stream, 6, "two")
        self._run_available_now(spark, stream, sink, ckpt)
        got = [r.payload for r in spark.read.parquet(sink).collect()]
        assert len(got) == 21 and len(set(got)) == 21

    def test_split_between_restarts_is_exactly_once(self, spark, tmp_path):
        """Consume the parent, stop, split it (real service contract —
        see _faithful_split), put more records for the SAME partition
        keys, restart from the same checkpoint: every record is
        committed exactly once, the post-split ones from the children."""
        stream, client = _fresh_stream(shards=1)
        before = _put(client, stream, 8, "k")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        self._run_available_now(spark, stream, sink, ckpt)
        assert {r.payload.encode() for r in spark.read.parquet(sink).collect()} == before
        parent_id = client.describe_stream(StreamName=stream)[
            "StreamDescription"
        ]["Shards"][0]["ShardId"]
        children = _faithful_split(stream, parent_id)
        after = set()
        for i in range(8):  # same keys as before, new payloads
            data = json.dumps({"k": f"k{i}", "after": True}).encode()
            client.put_record(StreamName=stream, Data=data, PartitionKey=f"k{i}")
            after.add(data)
        self._run_available_now(spark, stream, sink, ckpt)
        rows = spark.read.parquet(sink).collect()
        got = [r.payload.encode() for r in rows]
        assert len(got) == 16 and set(got) == before | after
        assert {r.shardId for r in rows if r.payload.encode() in after} <= set(children)
        assert {r.shardId for r in rows if r.payload.encode() in before} == {parent_id}


def _faithful_split(stream: str, shard_id: str) -> tuple[str, str]:
    """Perform a split per the REAL Kinesis contract, directly on the
    in-process moto backend: seal the parent, create two children over
    its hash halves, and LEAVE the parent's records untouched (original
    sequence numbers and arrival timestamps).

    Needed because moto's ``split_shard`` diverges from the service: it
    re-puts the parent's records (re-stamping ``created_at`` to the
    split time and re-assigning sequence numbers), which fabricates
    records arriving in a sealed shard after its seal — impossible
    against real Kinesis, where a split never touches existing records.
    Same infidelity class as its ``merge_shards`` one (see
    _faithful_merge). The ThreadedMotoServer shares this process, so
    backend state is directly reachable. Children are inserted BEFORE
    the parent in the shard map because moto routes puts to the first
    shard covering the key hash regardless of ``is_open`` — the real
    service routes new puts to the open children. Returns the two child
    shard ids."""
    from collections import OrderedDict

    from moto.kinesis.models import Shard, kinesis_backends

    backend = kinesis_backends["123456789012"]["us-east-1"]
    s = backend.describe_stream(stream_arn=None, stream_name=stream)
    parent = s.shards[shard_id]
    assert parent.is_open
    last_id = max(sh._shard_id for sh in s.shards.values())
    mid = (parent.starting_hash + parent.ending_hash) // 2
    c1 = Shard(last_id + 1, parent.starting_hash, mid - 1, parent=parent.shard_id)
    c2 = Shard(last_id + 2, mid, parent.ending_hash, parent=parent.shard_id)
    parent.is_open = False
    reordered = OrderedDict()
    reordered[c1.shard_id] = c1
    reordered[c2.shard_id] = c2
    for k, v in s.shards.items():
        reordered[k] = v
    s.shards = reordered
    return c1.shard_id, c2.shard_id


def _faithful_merge(stream: str, shard_a: str, shard_b: str) -> str:
    """Merge two adjacent shards per the REAL Kinesis contract: seal
    BOTH parents in place (records, sequence numbers, and arrival
    timestamps untouched — still readable until retention) and create
    one child covering the union hash range. moto's ``merge_shards``
    instead copies the first parent's records into the child and keeps
    routing puts into the sealed parents, so exactness over a merge is
    asserted against this faithful form.
    Returns the child shard id."""
    from collections import OrderedDict

    from moto.kinesis.models import Shard, kinesis_backends

    backend = kinesis_backends["123456789012"]["us-east-1"]
    s = backend.describe_stream(stream_arn=None, stream_name=stream)
    a, b = s.shards[shard_a], s.shards[shard_b]
    assert a.is_open and b.is_open
    lo = min(a.starting_hash, b.starting_hash)
    hi = max(a.ending_hash, b.ending_hash)
    last_id = max(sh._shard_id for sh in s.shards.values())
    child = Shard(
        last_id + 1, lo, hi, parent=a.shard_id, adjacent_parent=b.shard_id
    )
    a.is_open = False
    b.is_open = False
    reordered = OrderedDict()
    reordered[child.shard_id] = child  # routing must reach the child first
    for k, v in s.shards.items():
        reordered[k] = v
    s.shards = reordered
    return child.shard_id


class TestParallelStreamReader:
    """The executor-parallel DataSourceStreamReader: per-shard input
    partitions, arrival-time fence offsets, metadata-only driver."""

    def _batch(self, r, start, end):
        return [row for p in r.partitions(start, end) for row in r.read(p)]

    def test_one_partition_per_shard_and_batch_exactness(self):
        stream, client = _fresh_stream(shards=3)
        first = _put(client, stream, 18, "a")
        r = KinesisApiParallelStreamReader(kinesis_options(stream))
        start = r.initialOffset()
        assert start == {"fence_us": 0, "sealed": {}}
        end1 = r.latestOffset()
        parts = r.partitions(start, end1)
        assert len(parts) == 3  # the scale contract: one input partition per shard
        assert {p.shard_id for p in parts} == {
            s["ShardId"]
            for s in client.describe_stream(StreamName=stream)["StreamDescription"]["Shards"]
        }
        rows1 = self._batch(r, start, end1)
        assert {row[0] for row in rows1} == first and len(rows1) == 18
        for p in parts:  # envelope shard field matches the partition
            assert all(row[5] == p.shard_id for row in r.read(p))
        second = _put(client, stream, 7, "b")
        end2 = r.latestOffset()
        rows2 = self._batch(r, end1, end2)
        assert {row[0] for row in rows2} == second  # nothing re-read
        assert r.partitions(end2, end2) == []  # empty range plans no work

    def test_replay_of_committed_range_is_exact(self):
        stream, client = _fresh_stream(shards=2)
        _put(client, stream, 9, "a")
        r = KinesisApiParallelStreamReader(kinesis_options(stream))
        start = r.initialOffset()
        end = r.latestOffset()
        original = sorted(row[3] for row in self._batch(r, start, end))
        _put(client, stream, 5, "later")  # must NOT leak into the replay
        replay = sorted(row[3] for row in self._batch(r, start, end))
        assert replay == original
        # a FRESH reader (fresh driver after restart) replays identically
        r2 = KinesisApiParallelStreamReader(kinesis_options(stream))
        replay2 = sorted(row[3] for row in self._batch(r2, start, end))
        assert replay2 == original

    def test_latest_starting_position_skips_history(self):
        stream, client = _fresh_stream(shards=2)
        _put(client, stream, 8, "old")
        opts = dict(kinesis_options(stream))
        opts["startingPosition"] = "LATEST"
        r = KinesisApiParallelStreamReader(opts)
        start = r.initialOffset()
        fresh = _put(client, stream, 3, "new")
        end = r.latestOffset()
        rows = self._batch(r, start, end)
        assert {row[0] for row in rows} == fresh

    def test_latest_offset_never_reads_records_on_the_driver(self, monkeypatch):
        """The point of the parallel reader: the driver's per-batch work
        is ListShards + a clock read — GetRecords happens only inside
        partition read() on executors."""
        from spark_kinesis_article_analysis_spark.sources import kinesis_source

        stream, client = _fresh_stream(shards=2)
        _put(client, stream, 5, "a")
        real_client = kinesis_source._client

        class NoRecordsClient:
            def __init__(self, inner):
                self._inner = inner

            def __getattr__(self, name):
                if name in ("get_records", "get_shard_iterator"):
                    raise AssertionError(f"driver-side {name} call")
                return getattr(self._inner, name)

        monkeypatch.setattr(
            kinesis_source, "_client", lambda opts: NoRecordsClient(real_client(opts))
        )
        r = KinesisApiParallelStreamReader(kinesis_options(stream))
        end = r.latestOffset()  # must not touch record APIs
        parts = r.partitions(r.initialOffset(), end)  # nor planning
        assert len(parts) == 2

    def test_split_before_consumption_prunes_parent_after_grace_batch(self):
        stream, client = _fresh_stream(shards=1)
        sent = _put(client, stream, 6, "pre")
        desc = client.describe_stream(StreamName=stream)["StreamDescription"]
        parent = desc["Shards"][0]
        mid = (
            int(parent["HashKeyRange"]["StartingHashKey"])
            + int(parent["HashKeyRange"]["EndingHashKey"])
        ) // 2
        client.split_shard(
            StreamName=stream,
            ShardToSplit=parent["ShardId"],
            NewStartingHashKey=str(mid),
        )
        r = KinesisApiParallelStreamReader(kinesis_options(stream))
        start = r.initialOffset()
        end1 = r.latestOffset()
        rows1 = self._batch(r, start, end1)
        assert {row[0] for row in rows1} == sent and len(rows1) == 6
        assert parent["ShardId"] in end1["sealed"]
        post = _put(client, stream, 10, "post")
        end2 = r.latestOffset()
        rows2 = self._batch(r, end1, end2)
        assert {row[0] for row in rows2} == post and len(rows2) == 10
        # grace batch passed: the sealed parent leaves the plan entirely
        end3 = r.latestOffset()
        parts3 = r.partitions(end2, end3)
        assert parent["ShardId"] not in {p.shard_id for p in parts3}
        assert self._batch(r, end2, end3) == []

    def test_faithful_midstream_split_is_exactly_once(self):
        """Split DURING consumption under the real service contract
        (parent sealed in place, records untouched — see
        _faithful_split): no duplicate, no loss, parent pruned."""
        stream, client = _fresh_stream(shards=1)
        before = _put(client, stream, 6, "pre")
        r = KinesisApiParallelStreamReader(kinesis_options(stream))
        start = r.initialOffset()
        end1 = r.latestOffset()
        rows1 = self._batch(r, start, end1)
        assert {row[0] for row in rows1} == before
        parent_id = client.describe_stream(StreamName=stream)[
            "StreamDescription"
        ]["Shards"][0]["ShardId"]
        children = _faithful_split(stream, parent_id)
        after = _put(client, stream, 10, "post")
        end2 = r.latestOffset()
        rows2 = self._batch(r, end1, end2)
        assert {row[0] for row in rows2} == after and len(rows2) == 10
        assert {row[5] for row in rows2} <= set(children)  # routed to children
        assert parent_id in end2["sealed"]
        # fixpoint + pruning
        end3 = r.latestOffset()
        assert self._batch(r, end2, end3) == []
        end4 = r.latestOffset()
        assert parent_id not in {p.shard_id for p in r.partitions(end3, end4)}

    def test_faithful_split_then_merge_is_exactly_once(self):
        """The full reshard cycle under the real service contract —
        1 shard -> split -> 2 shards -> merge -> 1 shard — consumed
        MID-CYCLE: every record exactly once, all three retired shards
        pruned at the end. This is the merge-exactness coverage moto's
        own merge_shards cannot provide (VERDICT r10 item 5)."""
        stream, client = _fresh_stream(shards=1)
        seen: list = []
        r = KinesisApiParallelStreamReader(kinesis_options(stream))
        pre = _put(client, stream, 5, "pre")
        off0 = r.initialOffset()
        off1 = r.latestOffset()
        seen += self._batch(r, off0, off1)
        parent_id = client.describe_stream(StreamName=stream)[
            "StreamDescription"
        ]["Shards"][0]["ShardId"]
        c1, c2 = _faithful_split(stream, parent_id)
        mid = _put(client, stream, 8, "mid")  # routed to the split children
        off2 = r.latestOffset()
        seen += self._batch(r, off1, off2)
        merged = _faithful_merge(stream, c1, c2)
        post = _put(client, stream, 6, "post")  # routed to the merge child
        off3 = r.latestOffset()
        seen += self._batch(r, off2, off3)
        payloads = [row[0] for row in seen]
        assert len(payloads) == 19 and set(payloads) == pre | mid | post
        assert {row[5] for row in seen if row[0] in post} == {merged}
        # drain to fixpoint, then all three retired shards leave the plan
        off4 = r.latestOffset()
        assert self._batch(r, off3, off4) == []
        off5 = r.latestOffset()
        polled = {p.shard_id for p in r.partitions(off4, off5)}
        assert polled == {merged}  # parent, c1, c2 all pruned
        assert self._batch(r, off4, off5) == []

    def test_split_keeps_per_key_batch_order(self):
        """A backlog of puts before and after a split, cut into several
        latestOffset batches (one of which spans the split): for every
        key, no child-shard record lands in an earlier batch than that
        key's parent-shard records, and reading the batches in order
        (each batch's partitions parent-first) reproduces every key's
        put order."""
        stream, client = _fresh_stream(shards=1)
        keys = [f"k{i}" for i in range(6)]
        put_order: dict[str, list[bytes]] = {k: [] for k in keys}

        def put_round(tag: str) -> None:
            for k in keys:
                data = f"{k}:{tag}".encode()
                client.put_record(StreamName=stream, Data=data, PartitionKey=k)
                put_order[k].append(data)

        r = KinesisApiParallelStreamReader(kinesis_options(stream))
        offsets = [r.initialOffset()]
        parent_id = client.describe_stream(StreamName=stream)[
            "StreamDescription"
        ]["Shards"][0]["ShardId"]
        put_round("a")
        offsets.append(r.latestOffset())
        put_round("b")
        children = _faithful_split(stream, parent_id)
        put_round("c")  # same batch as "b": the cut spans the split
        offsets.append(r.latestOffset())
        put_round("d")
        offsets.append(r.latestOffset())
        put_round("e")
        offsets.append(r.latestOffset())

        # read only after the whole backlog is in place
        batches = [self._batch(r, a, b) for a, b in zip(offsets, offsets[1:])]
        rows = [(i, row) for i, batch in enumerate(batches) for row in batch]
        assert sorted(row[0] for _, row in rows) == sorted(
            d for ds in put_order.values() for d in ds
        )  # exactly once
        post_split = [row for _, row in rows if row[0].endswith((b":c", b":d", b":e"))]
        assert {row[5] for row in post_split} <= set(children)
        for k in keys:
            mine = [(i, row) for i, row in rows if row[2] == k]
            parent_batches = [i for i, row in mine if row[5] == parent_id]
            child_batches = [i for i, row in mine if row[5] != parent_id]
            assert len(parent_batches) == 2 and len(child_batches) == 3
            assert max(parent_batches) <= min(child_batches), (k, mine)
            assert [row[0] for _, row in mine] == put_order[k]

    def test_pruning_survives_restart_via_the_offset(self):
        """The sealed map rides in the checkpointed offset, so a fresh
        reader (post-restart, empty memo) still skips dead shards."""
        stream, client = _fresh_stream(shards=1)
        _put(client, stream, 4, "pre")
        r = KinesisApiParallelStreamReader(kinesis_options(stream))
        end1 = r.latestOffset()
        self._batch(r, r.initialOffset(), end1)
        parent_id = client.describe_stream(StreamName=stream)[
            "StreamDescription"
        ]["Shards"][0]["ShardId"]
        _faithful_split(stream, parent_id)
        end2 = r.latestOffset()
        end3 = r.latestOffset()
        assert parent_id in end2["sealed"]
        # start=end3: its sealed obs fence (stamped at end2) is strictly
        # below end3's fence, so the grace batch has passed
        r2 = KinesisApiParallelStreamReader(kinesis_options(stream))  # fresh driver
        end4 = r2.latestOffset()
        parts = r2.partitions(end3, end4)
        assert parent_id not in {p.shard_id for p in parts}

    def test_zero_fence_lag_warns_on_non_local_endpoint(self):
        """fenceLagMs=0 is exact only on a shared clock: against a
        non-local endpoint the reader must warn loudly (ADVICE r11 —
        MIGRATION.md promotes this reader as the production default);
        a local endpoint or a nonzero lag must stay silent."""
        import warnings as _w

        with pytest.warns(UserWarning, match="fenceLagMs=0 against a non-local"):
            KinesisApiParallelStreamReader(
                {"streamname": "s", "endpointurl": "https://kinesis.us-east-1.amazonaws.com"}
            )
        # host PARSING, not substring: a remote host that merely contains
        # "localhost" must still warn (self-review r12)
        with pytest.warns(UserWarning, match="fenceLagMs=0 against a non-local"):
            KinesisApiParallelStreamReader(
                {"streamname": "s", "endpointurl": "https://kinesis-localhost-gw.corp.example.com"}
            )
        with _w.catch_warnings():
            _w.simplefilter("error")
            KinesisApiParallelStreamReader(
                {"streamname": "s", "endpointurl": "http://127.0.0.1:5000"}
            )
            KinesisApiParallelStreamReader(
                {"streamname": "s", "endpointurl": "http://[::1]:5000"}
            )
            KinesisApiParallelStreamReader(
                {"streamname": "s", "endpointurl": "http://localhost:5000"}
            )
            KinesisApiParallelStreamReader(
                {
                    "streamname": "s",
                    "endpointurl": "https://kinesis.us-east-1.amazonaws.com",
                    "fencelagms": "2000",
                }
            )

    def test_regressed_fence_fails_loudly(self):
        """A backwards driver-clock step across a restart must fail the
        plan, never silently commit a regressed offset (which would
        re-emit every record in the rolled-back range) — self-review
        r11 finding."""
        r = KinesisApiParallelStreamReader({"streamname": "s"})
        with pytest.raises(ValueError, match="stepped backwards"):
            r.partitions({"fence_us": 100, "sealed": {}}, {"fence_us": 50, "sealed": {}})
        # and the engine's own offsets teach the fence floor: a fresh
        # fence can never land below the checkpointed position
        assert r._last_fence_us >= 100
        assert r._now_fence_us() > 100
        # an offset without a fence (the sequence-number layout of the
        # removed driver-side reader) must fail, not plan a TRIM_HORIZON
        # re-read of every record that checkpoint already committed
        stream, client = _fresh_stream(shards=1)
        _put(client, stream, 3, "committed")
        local = KinesisApiParallelStreamReader(kinesis_options(stream))
        old_layout = {"seq": {"shardId-000000000000": "3"}, "closed": []}
        with pytest.raises(KeyError, match="fence_us"):
            local.partitions(old_layout, local.latestOffset())
        with pytest.raises(KeyError, match="fence_us"):
            local.partitions({"fence_us": 100, "sealed": {}}, old_layout)

    def test_stream_reader_dispatch(self):
        """Streaming dispatch (pyspark's _streamReader) lands on the
        executor-parallel reader."""
        from pyspark.sql.datasource_internal import _streamReader
        from pyspark.sql.types import StructType

        from spark_kinesis_article_analysis_spark.sources.kinesis_source import (
            KinesisApiDataSource,
        )

        ds = KinesisApiDataSource({"streamname": "s"})
        assert isinstance(
            _streamReader(ds, StructType()), KinesisApiParallelStreamReader
        )


class TestFullReferencePipelineOnWire:
    def test_watermarked_windows_kinesis_to_manifest(self, spark, tmp_path):
        """The COMPLETE reference pipeline (process_articles.py:53-91) on
        real wire protocols, windowed aggregation included: Kinesis API
        -> executor-parallel stream read -> parse -> 10 s watermark ->
        5 min/1 min sliding windows x author -> avg(word_count) ->
        append mode -> epoch-fenced manifest sink on the S3 API — across
        THREE restarts of the same checkpoint (each run ingests more,
        the next run's watermark closes earlier windows, exactly the
        append-mode emission cadence). The assertion is the golden
        equivalence: the sink's closed windows equal the BATCH twin of
        the same payloads filtered to window_end <= final watermark."""
        got, expected, instances = self._three_runs(spark, tmp_path)
        assert got == expected and len(got) == 10  # 5 sliding windows x 2 authors
        assert {g[2] for g in got} == {"alice", "bob"}  # carol/dave still open
        assert instances == [{1}, {1}, {1}]

    def test_checkpoint_with_four_state_partitions_restarts(self, spark, tmp_path):
        """A checkpoint first started with 4 state partitions and the
        FileContext checkpoint manager (the session defaults before one
        state partition) restarts twice under the current defaults: the
        offset log's partition count wins, and the sink still holds each
        closed window exactly once, equal to the batch twin."""
        got, expected, instances = self._three_runs(
            spark,
            tmp_path,
            first_run_conf={
                "spark.sql.shuffle.partitions": "4",
                "spark.sql.streaming.checkpointFileManagerClass": "org.apache.spark.sql."
                "execution.streaming.checkpointing.FileContextBasedCheckpointFileManager",
            },
        )
        assert instances == [{4}, {4}, {4}]
        assert got == expected and len(got) == 10
        assert len({g[:3] for g in got}) == len(got)

    def _three_runs(self, spark, tmp_path, first_run_conf=None):
        """Three availableNow runs of the wire pipeline on one checkpoint,
        the first with ``first_run_conf`` set on the session. Returns the
        sink's windows, the batch twin's closed windows and, per run, the
        set of ``numStateStoreInstances`` its progress reported."""
        import json as _json

        from pyspark import cloudpickle
        from pyspark.sql import functions as F

        from spark_kinesis_article_analysis_spark.operators.article import (
            windowed_avg_word_count,
            with_word_count,
            parse_articles,
        )
        from spark_kinesis_article_analysis_spark.sources import (
            kinesis_source as _ks,
            s3_objects as _s3o,
        )

        cloudpickle.register_pickle_by_value(_ks)
        cloudpickle.register_pickle_by_value(_s3o)
        spark.dataSource.register(_ks.KinesisApiDataSource)
        spark.dataSource.register(_s3o.S3ParquetManifestDataSource)
        stream, client = _fresh_stream(shards=2)
        import boto3

        from spark_kinesis_article_analysis_spark.operators.kinesis_batch import (
            _endpoint,
        )

        s3c = boto3.client(
            "s3", region_name="us-east-1", endpoint_url=_endpoint(),
            aws_access_key_id="x", aws_secret_access_key="x",
        )
        s3c.create_bucket(Bucket="wire-pipeline")
        sink_opts = {
            "bucket": "wire-pipeline",
            "prefix": "enriched_articles",
            "regionName": "us-east-1",
            "endpointUrl": _endpoint(),
            "awsAccessKeyId": "x",
            "awsSecretKey": "x",
        }
        ckpt = str(tmp_path / "ckpt")

        def art(aid, author, ts, content="w1 w2 w3 w4"):
            return {
                "article_id": aid, "title": f"t {aid}", "author": author,
                "publish_date": ts, "content": content,
            }

        def ingest(arts):
            for a in arts:
                client.put_record(
                    StreamName=stream,
                    Data=_json.dumps(a).encode(),
                    PartitionKey=a["article_id"],
                )

        def run_once():
            reader = spark.readStream.format("kinesis_api")
            for k, v in kinesis_options(stream).items():
                reader = reader.option(k, v)
            parsed = with_word_count(parse_articles(
                reader.load().select(F.col("data").cast("string").alias("data"))
            ))
            agg = windowed_avg_word_count(parsed, watermark="10 seconds")
            w = agg.writeStream.format("s3_parquet_manifest").option(
                "checkpointLocation", ckpt
            ).outputMode("append")
            for k, v in sink_opts.items():
                w = w.option(k, v)
            q = w.trigger(availableNow=True).start()
            q.awaitTermination(180)
            instances.append({
                op["numStateStoreInstances"] for p in q.recentProgress for op in p["stateOperators"]
            })

        instances: list[set[int]] = []
        batch_a = [
            art("a1", "alice", "2024-01-01 00:00:30"),
            art("b1", "bob", "2024-01-01 00:00:45", "w1 w2"),
        ]
        batch_b = [art("c1", "carol", "2024-01-01 02:00:00")]
        batch_c = [art("d1", "dave", "2024-01-01 04:00:00")]
        ingest(batch_a)
        first_run_conf = first_run_conf or {}
        saved = {k: spark.conf.get(k) for k in first_run_conf}
        try:
            for k, v in first_run_conf.items():
                spark.conf.set(k, v)
            run_once()  # absorbs alice/bob; nothing closed yet
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        ingest(batch_b)
        run_once()  # watermark from run 1 still < alice/bob window ends
        ingest(batch_c)
        run_once()  # watermark now 01:59:50 -> alice/bob windows emit

        r = spark.read.format("s3_parquet_manifest")
        for k, v in sink_opts.items():
            r = r.option(k, v)
        got = sorted(
            (str(x.window_start), str(x.window_end), x.author,
             float(x.average_word_count))
            for x in r.load().collect()
        )
        # golden equivalence: the BATCH twin of the same payloads,
        # filtered to windows the final watermark (02:00:00 - 10s) closed
        payload = spark.createDataFrame(
            [(_json.dumps(a),) for a in batch_a + batch_b + batch_c], "data string"
        )
        twin = windowed_avg_word_count(with_word_count(parse_articles(payload)))
        expected = sorted(
            (str(x.window_start), str(x.window_end), x.author,
             float(x.average_word_count))
            for x in twin.filter(
                F.col("window_end") <= F.lit("2024-01-01 01:59:50").cast("timestamp")
            ).collect()
        )
        return got, expected, instances


class TestOptionMapping:
    def test_secret_key_lands_in_the_secret_slot(self, monkeypatch):
        """The reference passes the ACCESS key in both credential slots
        (process_articles.py:45,57); the source must not replicate it."""
        import boto3 as b3

        from spark_kinesis_article_analysis_spark.sources import kinesis_source

        seen = {}

        def capture(service, **kwargs):
            seen.update(kwargs)
            raise RuntimeError("stop")

        monkeypatch.setattr(b3, "client", capture)
        with pytest.raises(RuntimeError):
            kinesis_source._client(
                {
                    "streamname": "s",
                    "regionname": "eu-west-1",
                    "awsaccesskeyid": "AKID",
                    "awssecretkey": "SECRET",
                    "endpointurl": "http://x",
                }
            )
        assert seen["aws_access_key_id"] == "AKID"
        assert seen["aws_secret_access_key"] == "SECRET"
        assert seen["region_name"] == "eu-west-1"
        assert seen["endpoint_url"] == "http://x"
