"""Object-store parquet sink/source over the real S3 wire API (boto3) —
format name ``s3_parquet_manifest``.

The reference writes its parquet output to S3 through S3A
(``process_articles.py:88-90``, endpoint conf ``:43-47``); the S3A jar
(hadoop-aws) is absent from this environment and not installable, so
the binding itself stays conf-passthrough (``streaming/kinesis.py`` /
``session.get_spark(extra_conf=...)``). What CAN be built and tested
here is the part that actually matters at 100 TB: the COMMIT PROTOCOL.

S3 has no atomic rename, so the HDFS FileOutputCommitter
(write-to-temp, rename-to-final) is broken on object stores — a failed
job leaves readable partial output, and rename is a full copy. The
industry answer is manifest commit (EMRFS/S3A committers; the Iceberg/
Delta metadata log is the same idea one level up): tasks PUT data
objects under unreferenced keys, and the job's single atomic commit
point is one PUT of a manifest object listing exactly the objects that
belong to the table. Readers enumerate MANIFESTS, never ListObjects
over data keys — so aborted tasks, task retries, and in-flight jobs are
invisible by construction, and appends are one manifest each.

This module implements that protocol as a Spark 4 Python DataSource:

* batch write: each task streams its partition into a parquet object —
  row-group chunks through a multipart upload, so task memory is
  bounded by the part size, not the partition size — and the driver's
  ``commit`` PUTs ``<prefix>/manifests/manifest-<ts>-<uuid>.json``
  carrying the object list, row counts, commit time, and the Spark
  schema DDL. ``abort`` deletes the task objects.
* streaming write (``writeStream.format("s3_parquet_manifest")``): the
  reference's sink (``process_articles.py:85-91``) re-expressed on the
  manifest protocol — the per-epoch commit point is ONE manifest PUT at
  the EPOCH-KEYED name ``manifest-epoch-<batchId>.json``. The key is
  the fence: a restart that replays epoch N re-commits the SAME key
  (idempotent overwrite listing the replay's objects), so at most one
  manifest per epoch ever exists and the sink is exactly-once end to
  end when the source replays offsets deterministically. The first
  attempt's now-unreferenced objects stay invisible by construction.
* read: list the manifests (paginated), drop manifests tombstoned by a
  later manifest's ``replaces`` list (compaction), union the surviving
  object lists, one Spark input partition per data object, each read as
  pyarrow RecordBatches (Arrow path, no per-row Python). ``schema()``
  comes from the NEWEST manifest by commit time (manifest bodies carry
  ``committed_at_us``; names alone are not ordered across writer
  kinds). ``option("snapshotManifest", <key>)`` reads the table AS OF
  that manifest: only manifests committed at-or-before it are
  considered — time travel over the append-only manifest log.
  ``option("sinceManifest", <key>)`` is the incremental twin: only rows
  appended AFTER that commit (object-set difference of the two
  snapshots, so a post-``since`` compaction doesn't replay history);
  the two compose into a (since, snapshot] range read.
* compaction: :func:`compact_manifests` rewrites the current manifest
  set into ONE manifest whose ``replaces`` tombstones the old ones —
  bounding reader manifest enumeration, which otherwise grows one
  manifest per append/epoch forever. Old manifests stay in place, so
  pre-compaction snapshot reads still resolve.
* vacuum: :func:`vacuum_orphans` deletes data objects no manifest
  references (uploads from task attempts that died before commit) —
  the storage-reclaim half of maintenance.
* row-level deletes (merge-on-read): :func:`delete_where` plans matching
  (object, position) pairs executor-side via the ``withRowPosition``
  metadata columns (``_object_key``/``_row_pos`` — Iceberg's _file/_pos
  model) and :func:`commit_deletes` PUTs ONE positional delete manifest;
  reads mask the vectors per object, no data object is ever rewritten,
  pinned snapshots still see the rows, compaction folds vectors forward.
* data skipping (zone maps): every write folds per-object column
  min/max/null-count stats into the manifest (``object_stats``); the
  batch reader implements ``pushFilters`` (Spark 4.1 Python DataSource
  pushdown) and prunes whole objects whose range provably excludes the
  pushed conjunction — manifest-level parquet-row-group pruning. All
  filters are returned to Spark for post-scan re-evaluation, so stats
  are an IO optimization, never a correctness input.

Options (shared surface with the kinesis source): ``bucket``,
``prefix``, ``endpointUrl``, ``regionName``, ``awsAccessKeyId``,
``awsSecretKey``, plus ``snapshotManifest`` / ``sinceManifest`` /
``withRowPosition`` (read).
Tested against the real S3 API served by moto
(``tests/test_s3_manifest.py``, ``tests/test_s3_incremental.py``),
including abort/rogue-object invisibility, append semantics,
epoch-fenced restart, snapshot reads, compaction invisibility,
incremental reads, and vacuum.
"""

from __future__ import annotations

import io
import itertools
import json
import sys
import types
import uuid
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

if TYPE_CHECKING:
    from pyspark.sql.types import StructType

#: Multipart part size: the bound on task write memory. 8 MB clears
#: S3's 5 MB minimum-part rule with headroom for a large final row group.
_PART_SIZE = 8 * 1024 * 1024

#: ``sys.modules`` key of the boto3 client cache that the Kinesis source
#: and the S3 sink share within a Python process. A module object there,
#: not a global here: this module may be pickled by value to workers,
#: which rebuilds its globals on every task, and the workers need not be
#: able to import this package. ``kinesis_source`` holds an identical
#: copy of ``_shared_client`` for the same reason.
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


def _s3(options: dict):
    """boto3 S3 client from connector-style options, shared per process
    (same cache as the Kinesis source)."""
    return _shared_client("s3", options)


def _norm(options: dict) -> dict:
    opts = {str(k).lower(): v for k, v in options.items()}
    if not opts.get("bucket") or not opts.get("prefix"):
        raise ValueError("s3_parquet_manifest requires bucket + prefix options")
    return opts


def _truthy(v) -> bool:
    return str(v).lower() in ("true", "1", "yes") if v is not None else False


def _now_us() -> int:
    import time

    return time.time_ns() // 1_000


def _manifest_keys(client, bucket: str, prefix: str) -> list[str]:
    keys: list[str] = []
    token = None
    while True:
        kwargs = {"Bucket": bucket, "Prefix": f"{prefix}/manifests/"}
        if token:
            kwargs["ContinuationToken"] = token
        resp = client.list_objects_v2(**kwargs)
        keys.extend(o["Key"] for o in resp.get("Contents", []))
        if not resp.get("IsTruncated"):
            break
        token = resp.get("NextContinuationToken")
    return sorted(keys)


def _load_manifests(client, bucket: str, prefix: str) -> list[tuple[str, dict]]:
    """All manifests as ``(key, body)``, ordered by COMMIT TIME (body
    ``committed_at_us``, key as the tiebreak) — the table's commit log
    order. Key names are writer-kind-specific (timestamped for batch,
    epoch-numbered for streaming), so the body timestamp, not the name,
    is the ordering authority (a lexicographic 'newest name' would pick
    an arbitrary manifest — the schema-evolution trap)."""
    out = []
    for k in _manifest_keys(client, bucket, prefix):
        body = client.get_object(Bucket=bucket, Key=k)["Body"].read()
        out.append((k, json.loads(body)))
    out.sort(key=lambda kv: (kv[1].get("committed_at_us", 0), kv[0]))
    return out


def _resolve_snapshot(options: dict, manifests: list[tuple[str, dict]]):
    """The read's snapshot pin: ``snapshotManifest`` (a key) wins; else
    ``snapshotAtUs`` (epoch micros) resolves AS-OF-TIMESTAMP to the
    last manifest committed at-or-before that instant — the
    Iceberg/Delta timestamp-travel twin of the key pin. A timestamp
    before the first commit is a loud error (an empty read there would
    silently masquerade as an empty table)."""
    key = options.get("snapshotmanifest")
    if key is not None:
        return key
    at = options.get("snapshotatus")
    if at is None:
        return None
    at_us = int(at)
    best = None
    for k, body in manifests:  # commit-log order
        if body.get("committed_at_us", 0) <= at_us:
            best = k
    if best is None:
        raise ValueError(
            f"snapshotAtUs {at_us} precedes the first commit "
            f"({manifests[0][1].get('committed_at_us') if manifests else 'no manifests'})"
        )
    return best


def _active_manifests(
    manifests: list[tuple[str, dict]], snapshot_key: str | None = None
) -> list[tuple[str, dict]]:
    """Apply snapshot truncation, then compaction tombstones.

    Snapshot: keep only manifests committed at-or-before the named one
    (commit-log order). Tombstones: a manifest's ``replaces`` list names
    manifest keys it subsumes — those are dropped, but only tombstones
    from manifests INSIDE the snapshot apply, so a post-snapshot
    compaction cannot rewrite history under a pinned read."""
    if snapshot_key is not None:
        keys = [k for k, _ in manifests]
        if snapshot_key not in keys:
            raise ValueError(
                f"snapshotManifest {snapshot_key!r} is not a committed manifest"
            )
        manifests = manifests[: keys.index(snapshot_key) + 1]
    dead: set[str] = set()
    for _, body in manifests:
        dead.update(body.get("replaces", []))
    return [(k, b) for k, b in manifests if k not in dead]


class _S3MultipartSink(io.RawIOBase):
    """File-like PUT target for a parquet writer: buffers sequential
    writes and ships each ``_PART_SIZE`` chunk as a multipart part, so
    the task holds at most one part in memory regardless of partition
    size. Totals under one part skip multipart and land as a single
    ``put_object``. ``abort()`` cancels the multipart upload (S3 bills
    uncompleted parts until aborted)."""

    def __init__(self, client, bucket: str, key: str) -> None:
        self._client, self._bucket, self._key = client, bucket, key
        self._buf = bytearray()
        self._upload_id: str | None = None
        self._parts: list[dict] = []
        self._written = 0

    def writable(self) -> bool:
        return True

    def tell(self) -> int:
        return self._written

    def write(self, b) -> int:
        self._buf += b
        self._written += len(b)
        if len(self._buf) >= _PART_SIZE:
            self._ship_part()
        return len(b)

    def _ship_part(self) -> None:
        if self._upload_id is None:
            self._upload_id = self._client.create_multipart_upload(
                Bucket=self._bucket, Key=self._key
            )["UploadId"]
        num = len(self._parts) + 1
        etag = self._client.upload_part(
            Bucket=self._bucket,
            Key=self._key,
            PartNumber=num,
            UploadId=self._upload_id,
            Body=bytes(self._buf),
        )["ETag"]
        self._parts.append({"PartNumber": num, "ETag": etag})
        self._buf.clear()

    def close(self) -> None:
        if self.closed:
            return
        try:
            if self._upload_id is None:
                self._client.put_object(
                    Bucket=self._bucket, Key=self._key, Body=bytes(self._buf)
                )
            else:
                if self._buf:
                    self._ship_part()  # final part may be under the minimum
                self._client.complete_multipart_upload(
                    Bucket=self._bucket,
                    Key=self._key,
                    UploadId=self._upload_id,
                    MultipartUpload={"Parts": self._parts},
                )
        finally:
            super().close()

    def abort(self) -> None:
        if self._upload_id is not None:
            self._client.abort_multipart_upload(
                Bucket=self._bucket, Key=self._key, UploadId=self._upload_id
            )
        self._buf.clear()
        super().close()


def _canonical_arrow_schema(schema: "StructType"):
    """The on-disk arrow schema: nullable-normalized (Spark marks
    literal-derived columns non-nullable; batch fields vary) and
    timestamps pinned to tz=UTC so every data object stores the same
    instant-correct representation regardless of the writing session's
    timezone (batches arrive stamped with the SESSION zone)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    fields = []
    for f in to_arrow_schema(schema):
        t = f.type
        if pa.types.is_timestamp(t) and t.tz is not None:
            t = pa.timestamp(t.unit, tz="UTC")
        fields.append(pa.field(f.name, t, nullable=True))
    return pa.schema(fields)


def _write_parquet_object(
    options: dict, schema: "StructType", iterator: Iterator
) -> "_ObjectsCommit":
    """One task partition -> at most one parquet data object. The task
    receives Arrow RecordBatches straight from the engine (the Arrow
    writer path: no per-row Python, timestamps carry their zone so
    instants survive any session timezone) and streams them as parquet
    row groups through a multipart upload — task memory is bounded by
    Spark's arrow batch size + the part size, not the partition. Empty
    partitions produce no object (and no empty-file row-group edge)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = _canonical_arrow_schema(schema)
    batches = iter(iterator)
    # peek past any leading EMPTY batches without dropping a non-empty
    # one (a discarded peek here would silently lose that batch's rows
    # from the committed object — found by self-review r11)
    first = next(batches, None)
    while first is not None and first.num_rows == 0:
        first = next(batches, None)
    if first is None:
        return _ObjectsCommit(keys=[], rows=0)

    key = f"{options['prefix']}/data/part-{uuid.uuid4().hex}.parquet"
    sink = _S3MultipartSink(_s3(options), options["bucket"], key)
    n = 0
    stats = _StatsAccumulator(arrow_schema)
    try:
        writer = pq.ParquetWriter(sink, arrow_schema)
        for batch in itertools.chain([first], batches):
            if batch.num_rows == 0:
                continue
            # instant-preserving: aware-to-aware tz cast + nullability
            table = pa.Table.from_batches([batch]).cast(arrow_schema)
            writer.write_table(table)
            stats.update(table)
            n += batch.num_rows
        writer.close()
        sink.close()
    except BaseException:
        sink.abort()
        raise
    return _ObjectsCommit(keys=[key], rows=n, stats={key: stats.result(n)})


class _StatsAccumulator:
    """Per-object zone-map stats, folded batch-at-a-time (scalars only —
    no batch is retained): ``{col: [min, max, null_count]}`` for int /
    float / string columns, plus ``"rows"``. These ride in the manifest
    (``object_stats``) and power manifest-level DATA SKIPPING — the
    reader prunes whole objects whose range provably excludes a pushed
    filter. Columns of other types (timestamps, binary, nested) record
    no stats and are simply never pruned on — stats are an optimization
    with a keep-the-object default, never a correctness input (Spark
    re-evaluates every filter post-scan regardless)."""

    def __init__(self, arrow_schema) -> None:
        import pyarrow as pa

        self._cols = [
            f.name
            for f in arrow_schema
            if pa.types.is_integer(f.type)
            or pa.types.is_floating(f.type)
            or pa.types.is_string(f.type)
            or pa.types.is_large_string(f.type)
        ]
        self._mins: dict = {}
        self._maxs: dict = {}
        self._nulls: dict = dict.fromkeys(self._cols, 0)

    def update(self, table) -> None:
        import pyarrow.compute as pc

        for c in self._cols:
            col = table.column(c)
            self._nulls[c] += col.null_count
            if col.null_count == len(col):
                continue  # all-null batch: no min/max contribution
            mm = pc.min_max(col).as_py()
            lo, hi = mm["min"], mm["max"]
            if c not in self._mins or lo < self._mins[c]:
                self._mins[c] = lo
            if c not in self._maxs or hi > self._maxs[c]:
                self._maxs[c] = hi

    def result(self, rows: int) -> dict:
        out: dict = {"rows": rows}
        for c in self._cols:
            entry = [self._mins.get(c), self._maxs.get(c), self._nulls[c]]
            # floats: NaN breaks both JSON round-trip and ordering — drop
            # the range, keep the null count (no pruning on that column)
            if any(isinstance(v, float) and v != v for v in entry[:2]):
                entry = [None, None, self._nulls[c]]
            out[c] = entry
        return out


def _manifest_body(
    messages, schema: "StructType", epoch: int | None = None
) -> dict:
    body = {
        "objects": [k for m in messages if m is not None for k in m.keys],
        "rows": sum(m.rows for m in messages if m is not None),
        "schema_ddl": schema.simpleString(),
        "committed_at_us": _now_us(),
        "replaces": [],
    }
    stats = {}
    for m in messages:
        if m is not None:
            stats.update(getattr(m, "stats", {}) or {})
    if stats:
        body["object_stats"] = stats  # zone maps: {object: {col: [min, max, nulls]}}
    if epoch is not None:
        body["epoch"] = epoch
    return body


@dataclass
class _ObjectsCommit(WriterCommitMessage):
    keys: list
    rows: int
    stats: dict = None  # {object_key: {col: [min, max, nulls], "rows": n}}


def _commit_epoch_manifest(options: dict, schema, messages, epoch: int) -> None:
    """The epoch-keyed idempotent commit, shared by the streaming sink
    and the batch writer's ``epochId`` mode (the foreachBatch
    exactly-once recipe): ONE PUT at ``manifest-epoch-<epoch>.json``;
    a replay overwrites at the same key (the fence) and carries the
    ORIGINAL committed_at_us forward so the epoch's position in the
    commit log is immutable across replays (ADVICE r11)."""
    body = _manifest_body(messages, schema, epoch=epoch)
    client = _s3(options)
    key = f"{options['prefix']}/manifests/manifest-epoch-{epoch:020d}.json"
    try:
        prev = json.loads(
            client.get_object(Bucket=options["bucket"], Key=key)["Body"].read()
        )
        body["committed_at_us"] = prev["committed_at_us"]
    except client.exceptions.NoSuchKey:
        pass  # first attempt of this epoch — fresh commit time is correct
    # Anything else (throttle, network, permissions, corrupt body)
    # PROPAGATES: treating a transient GET failure as "no prior commit"
    # would re-stamp a replayed epoch past later batches — the exact
    # commit-log reordering the carry exists to prevent (self-review
    # r12 finding). The engine retries/aborts the micro-batch; a failed
    # commit is recoverable, a silently reordered log is not.
    client.put_object(
        Bucket=options["bucket"], Key=key, Body=json.dumps(body).encode("utf-8")
    )


class S3ManifestWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: "StructType", overwrite: bool) -> None:
        if overwrite:
            # overwrite = a new manifest tombstoning everything before it
            # — supported for MAINTENANCE via compact_manifests; as a
            # write mode it invites accidental table truncation, so the
            # sink stays append-only like the parquet streaming sink it
            # mirrors.
            raise ValueError("s3_parquet_manifest is append-only; use mode('append')")
        self.options = _norm(options)
        self.schema = schema

    def write(self, iterator: Iterator) -> _ObjectsCommit:
        return _write_parquet_object(self.options, self.schema, iterator)

    def commit(self, messages) -> None:
        # foreachBatch exactly-once mode: with an epochId option every
        # attempt of the same micro-batch commits to the SAME epoch key
        # (idempotent overwrite) instead of appending a new manifest —
        # without it, a replayed foreachBatch body would duplicate its
        # rows on read. Streaming sinks get this fence automatically;
        # foreachBatch callers opt in with .option("epochId", batch_id).
        if self.options.get("epochid") is not None:
            _commit_epoch_manifest(
                self.options, self.schema, messages, int(self.options["epochid"])
            )
            return
        body = _manifest_body(messages, self.schema)
        # THE atomic commit point: a single PUT. Until this object
        # exists, nothing the tasks wrote is reachable by any reader.
        # The timestamp prefix keeps batch manifest names monotonic
        # (ordering authority is still the body's committed_at_us).
        _s3(self.options).put_object(
            Bucket=self.options["bucket"],
            Key=(
                f"{self.options['prefix']}/manifests/"
                f"manifest-{body['committed_at_us']:020d}-{uuid.uuid4().hex[:8]}.json"
            ),
            Body=json.dumps(body).encode("utf-8"),
        )

    def abort(self, messages) -> None:
        client = _s3(self.options)
        for m in messages:
            if m is None:
                continue
            for k in m.keys:
                client.delete_object(Bucket=self.options["bucket"], Key=k)


class S3ManifestStreamWriter(DataSourceStreamArrowWriter):
    """The streaming form: parquet objects per task per epoch, ONE
    manifest PUT per epoch at the epoch-keyed name — the commit point
    AND the idempotence fence. A restarted query that replays epoch N
    (sources re-read the same offset range) re-PUTs
    ``manifest-epoch-<N>.json`` with the replay's object list:
    overwriting, not appending, so the epoch's rows appear exactly once
    no matter how many attempts committed. Mirrors the reference's
    ``writeStream...format("parquet")`` S3 sink (process_articles.py:
    85-91) with object-store-correct atomicity."""

    def __init__(self, options: dict, schema: "StructType") -> None:
        self.options = _norm(options)
        self.schema = schema

    def write(self, iterator: Iterator) -> _ObjectsCommit:
        return _write_parquet_object(self.options, self.schema, iterator)

    def commit(self, messages, batchId: int) -> None:
        # Epoch-keyed idempotent PUT with original-commit-time carry on
        # replay (ADVICE r11) — shared with the batch writer's
        # foreachBatch epochId mode, see _commit_epoch_manifest.
        _commit_epoch_manifest(self.options, self.schema, messages, batchId)

    def abort(self, messages, batchId: int) -> None:
        client = _s3(self.options)
        for m in messages:
            if m is None:
                continue
            for k in m.keys:
                client.delete_object(Bucket=self.options["bucket"], Key=k)


class _ObjectPartition(InputPartition):
    def __init__(self, key: str, deletes: tuple = ()) -> None:
        self.key = key
        #: positional delete vector for this object (sorted row indexes
        #: from active delete manifests) — merge-on-read row deletes
        self.deletes = deletes


def _active_object_stats(active: list[tuple[str, dict]]) -> dict:
    """Zone-map stats of the active manifest set, first writer wins
    (an object's stats are immutable — later manifests only re-list)."""
    out: dict = {}
    for _, body in active:
        for k, st in (body.get("object_stats") or {}).items():
            out.setdefault(k, st)
    return out


def _active_delete_vectors(active: list[tuple[str, dict]]) -> dict:
    """Union the positional delete vectors of the active manifest set:
    ``{object_key: sorted positions}``. Delete manifests participate in
    the commit log like any other (snapshot truncation naturally
    excludes post-snapshot deletes; compaction folds them forward)."""
    out: dict[str, set] = {}
    for _, body in active:
        for k, positions in (body.get("deletes") or {}).items():
            out.setdefault(k, set()).update(int(p) for p in positions)
    return {k: tuple(sorted(v)) for k, v in out.items()}


def _stats_exclude(stats: dict, flt) -> bool:
    """True iff an object's zone-map stats PROVE no row can satisfy the
    pushed filter — the prune decision. Anything uncertain (no stats
    for the column, un-handled filter type, type mismatch) keeps the
    object; Spark re-evaluates every filter post-scan regardless, so a
    wrong keep costs IO, never correctness."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
    )

    attr = getattr(flt, "attribute", None)
    if not attr or len(attr) != 1:
        return False
    entry = stats.get(attr[0])
    if not isinstance(entry, list) or len(entry) != 3:
        return False
    lo, hi, nulls = entry
    rows = stats.get("rows")
    if isinstance(flt, IsNull):
        return nulls == 0
    if isinstance(flt, IsNotNull):
        return isinstance(rows, int) and nulls == rows
    if lo is None or hi is None:
        return False  # all-null or statless range: only null-ness prunable
    try:
        if isinstance(flt, EqualTo):
            return flt.value is not None and (flt.value < lo or flt.value > hi)
        if isinstance(flt, In):
            return all(v is None or v < lo or v > hi for v in flt.value)
        if isinstance(flt, GreaterThan):
            return hi <= flt.value
        if isinstance(flt, GreaterThanOrEqual):
            return hi < flt.value
        if isinstance(flt, LessThan):
            return lo >= flt.value
        if isinstance(flt, LessThanOrEqual):
            return lo > flt.value
    except TypeError:
        return False  # incomparable types: keep
    return False


class S3ManifestReader(DataSourceReader):
    def __init__(self, options: dict, schema: "StructType | None" = None) -> None:
        self.options = _norm(options)
        #: the TABLE schema Spark planned with (newest manifest's DDL,
        #: or a user-supplied .schema()). When set, read() adapts every
        #: data object to it — the schema-evolution path. None (direct
        #: protocol-test use) keeps raw object batches.
        self.table_schema = schema
        #: filters saved by the pruning subclass for zone-map skipping
        self.pruning_filters: list = []

    def partitions(self) -> Sequence[_ObjectPartition]:
        client = _s3(self.options)
        manifests = _load_manifests(
            client, self.options["bucket"], self.options["prefix"]
        )
        active = _active_manifests(manifests, _resolve_snapshot(self.options, manifests))
        # sinceManifest: incremental (CDC-shaped) read — only rows
        # appended AFTER the named commit. Computed as a set difference
        # of the two snapshots' OBJECT lists (objects now minus objects
        # as-of-since), not "manifests after since": a compaction
        # manifest committed after `since` re-lists every historical
        # object, so the manifest-grain cut would replay the whole
        # table as changes. Object identity is append-immutable (tasks
        # never rewrite data objects), so the diff is exact. Composes
        # with snapshotManifest for a (since, snapshot] range read.
        baseline: set[str] = set()
        since = self.options.get("sincemanifest")
        if since is not None:
            baseline = {
                k
                for _, body in _active_manifests(manifests, since)
                for k in body["objects"]
            }
        keys: list[str] = []
        seen: set[str] = set()
        for _, body in active:
            for k in body["objects"]:
                if k not in seen and k not in baseline:
                    seen.add(k)  # belt+braces: an object belongs once
                    keys.append(k)
        if self.pruning_filters:
            # zone-map data skipping: drop objects whose recorded
            # column ranges PROVE the pushed filters (an AND) can't
            # match — planning-time IO elimination, the manifest-level
            # twin of parquet row-group pruning. Objects without stats
            # always survive; Spark re-applies every filter post-scan.
            st = _active_object_stats(active)
            keys = [
                k
                for k in keys
                if k not in st
                or not any(_stats_exclude(st[k], f) for f in self.pruning_filters)
            ]
        dv = _active_delete_vectors(active)  # merge-on-read row deletes
        return [_ObjectPartition(k, dv.get(k, ())) for k in keys]

    def read(self, partition: _ObjectPartition) -> Iterator:
        if partition is None:
            # the DataSource API probes read() with None when
            # partitions() returned [] (empty table — e.g. a manifest
            # committed over an empty write); same quirk replay_source
            # documents
            return
        yield from _read_object_adapted(
            self.options,
            self.table_schema,
            partition.key,
            deletes=getattr(partition, "deletes", ()),
            with_pos=_truthy(self.options.get("withrowposition")),
        )


#: reader-materialized metadata columns (Iceberg's _file/_pos model):
#: request with option("withRowPosition", "true") — the provenance a
#: row-level DELETE needs to address rows without rewriting objects
_META_COLS = ("_object_key", "_row_pos")


def _read_object_adapted(
    options: dict,
    table_schema,
    key: str,
    deletes: tuple = (),
    with_pos: bool = False,
) -> Iterator:
    """One data object -> Arrow batches adapted to the table schema —
    the executor-side read shared by the batch and streaming readers.

    SCHEMA EVOLUTION: each data object keeps the schema of the append
    that wrote it; the read adapts it to the TABLE schema (the newest
    manifest's DDL) — columns an older append lacks are nulled, columns
    dropped since are pruned, widened types are cast (an incompatible
    change raises loudly in the cast, never silently corrupts).
    Per-object and column-at-a-time — no rewrite amplification, the
    Iceberg/Delta read-side evolution model. ``table_schema=None``
    (direct protocol-test use) yields raw object batches.

    ROW DELETES (merge-on-read): ``deletes`` holds the object's active
    positional delete vector — those row indexes (parquet row order,
    stable) are masked out at read; surviving rows KEEP their original
    positions, so a later delete addresses rows the same way regardless
    of earlier deletes. ``with_pos`` materializes the ``_object_key`` /
    ``_row_pos`` metadata columns the delete planner reads."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    body = _s3(options).get_object(Bucket=options["bucket"], Key=key)["Body"].read()
    table = pq.read_table(io.BytesIO(body))
    n = table.num_rows
    keep = np.ones(n, dtype=bool)
    if deletes:
        keep[[int(d) for d in deletes if 0 <= int(d) < n]] = False
    positions = np.flatnonzero(keep)
    if deletes:
        table = table.filter(pa.array(keep))

    def meta_col(name: str, rows: int):
        if name == "_object_key":
            return pa.chunked_array([pa.array([key] * rows, type=pa.string())])
        return pa.chunked_array([pa.array(positions[:rows], type=pa.int64())])

    if table_schema is not None:
        target = _canonical_arrow_schema(table_schema)
        if not table.schema.equals(target, check_metadata=False):
            arrays = [
                meta_col(f.name, table.num_rows)
                if f.name in _META_COLS
                else table.column(f.name).cast(f.type)
                if f.name in table.column_names
                else pa.chunked_array([pa.nulls(table.num_rows, type=f.type)])
                for f in target
            ]
            table = pa.Table.from_arrays(arrays, schema=target)
    elif with_pos:
        # schema-less (protocol-test) path: metadata columns append last
        for name in _META_COLS:
            table = table.append_column(name, meta_col(name, table.num_rows))
    yield from table.to_batches()  # Arrow batches — no per-row Python


class S3ManifestPruningReader(S3ManifestReader):
    """The batch reader with zone-map DATA SKIPPING. Merely DEFINING
    ``pushFilters`` makes Spark demand
    ``spark.sql.python.filterPushdown.enabled=true`` (it refuses to
    plan otherwise), so the capability lives in this subclass and
    ``DataSource.reader()`` selects it only when the active session has
    the conf on — a vanilla session keeps working, it just scans every
    object. The repo's own sessions (session.get_spark and the
    registry's per-build pin) enable it."""

    def pushFilters(self, filters):
        """Save every filter for stats-based object pruning in
        partitions(), and return ALL of them — Spark keeps evaluating
        each filter post-scan, so the zone maps are purely an IO
        optimization and a stale/absent stat can never change an
        answer. (A filter type _stats_exclude doesn't understand simply
        never prunes.)"""
        self.pruning_filters = list(filters)
        return filters


class S3ManifestStreamReader(DataSourceStreamReader):
    """Streaming SOURCE over the manifest commit log — the table format
    as an unbounded input (`readStream.format("s3_parquet_manifest")`),
    the Delta/Iceberg "table as stream" consume model that closes the
    loop with the streaming SINK: table-to-table micro-batch pipelines
    on one format.

    * offset = ``{"committed_at_us": T, "key": K}`` — the commit-log
      position of the last CONSUMED manifest ((body time, key) is the
      log's total order; primitives only, per the offset contract).
    * ``latestOffset`` = one manifest listing — metadata-only driver
      work, O(active log) GETs of KB-scale bodies (compaction bounds
      it), zero data reads.
    * batch (a, b] = data objects first listed by a manifest in that
      log range, MINUS objects already listed at-or-before ``a`` — the
      same object-set difference as the batch ``sinceManifest`` read,
      so a compaction manifest inside the range (which re-lists every
      historical object) contributes NOTHING and lands as an empty
      micro-batch instead of replaying the table.
    * ``read`` = executor-side object GET -> Arrow batches, adapted to
      the plan-time table schema (shared `_read_object_adapted`); one
      input partition per new object, read parallelism = append width.

    Replay determinism: manifests at-or-before a stamped offset are
    immutable in log position (batch manifests are never rewritten;
    epoch manifests carry their ORIGINAL committed_at_us across replay
    overwrites), and data objects are append-immutable — so recomputing
    ``partitions(a, b)`` after a crash yields the same object set. The
    one documented edge: an epoch manifest overwritten by an upstream
    sink replay AFTER this stream consumed it can list different
    objects; the stream sees manifests, not epochs, and will not re-read
    a consumed position — pin upstream replays with the sink's epoch
    fence before consuming downstream (the same contract Delta's
    idempotent stream writes require).

    Options: the shared surface plus ``sinceManifest`` as the STARTING
    position (begin after that commit; default = table start)."""

    def __init__(self, options: dict, schema: "StructType | None" = None) -> None:
        self.options = _norm(options)
        self.table_schema = schema

    def _log(self) -> list[tuple[str, dict]]:
        return _load_manifests(
            _s3(self.options), self.options["bucket"], self.options["prefix"]
        )

    def initialOffset(self) -> dict:
        since = self.options.get("sincemanifest")
        if since is not None:
            bodies = dict(self._log())
            if since not in bodies:
                raise ValueError(
                    f"sinceManifest {since!r} is not a committed manifest"
                )
            return {
                "committed_at_us": bodies[since].get("committed_at_us", 0),
                "key": since,
            }
        return {"committed_at_us": 0, "key": ""}

    def latestOffset(self) -> dict:
        log = self._log()
        if not log:
            return {"committed_at_us": 0, "key": ""}
        key, body = log[-1]
        return {"committed_at_us": body.get("committed_at_us", 0), "key": key}

    def partitions(self, start: dict, end: dict) -> Sequence[_ObjectPartition]:
        s = (int(start.get("committed_at_us", 0)), start.get("key", ""))
        e = (int(end.get("committed_at_us", 0)), end.get("key", ""))
        if e <= s:
            return []
        seen: set[str] = set()
        new: list[str] = []
        for key, body in self._log():  # commit-log order
            pos = (body.get("committed_at_us", 0), key)
            if pos > e:
                break  # a later batch's manifests: their objects stay new
            for o in body["objects"]:
                if pos <= s:
                    seen.add(o)
                elif o not in seen:
                    seen.add(o)
                    new.append(o)
        return [_ObjectPartition(k) for k in new]

    def read(self, partition: _ObjectPartition) -> Iterator:
        if partition is None:
            return  # empty-batch probe (see S3ManifestReader.read)
        yield from _read_object_adapted(self.options, self.table_schema, partition.key)

    def commit(self, end: dict) -> None:
        pass  # position durability is the engine's checkpoint, not ours


class S3ParquetManifestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "s3_parquet_manifest"

    def schema(self) -> str:
        opts = _norm(self.options)
        manifests = _load_manifests(_s3(opts), opts["bucket"], opts["prefix"])
        active = _active_manifests(manifests, _resolve_snapshot(opts, manifests))
        if not active:
            raise ValueError(
                "s3_parquet_manifest: no committed manifests under "
                f"s3://{opts['bucket']}/{opts['prefix']}/manifests/"
            )
        # newest by commit time — under schema evolution the latest
        # append's schema is the table's current one
        ddl = active[-1][1]["schema_ddl"]
        if _truthy(opts.get("withrowposition")):
            # materialize the provenance metadata columns the row-delete
            # planner addresses rows by (Iceberg's _file/_pos model)
            meta = "_object_key:string,_row_pos:bigint"
            if ddl.startswith("struct<") and ddl.endswith(">"):
                inner = ddl[len("struct<") : -1]
                ddl = f"struct<{inner + ',' if inner else ''}{meta}>"
            else:
                ddl = f"{ddl}, _object_key string, _row_pos bigint"
        return ddl

    def reader(self, schema: "StructType") -> S3ManifestReader:
        # Zone-map skipping is OPT-IN per read (option("dataSkipping",
        # "true")) rather than conf-sniffed: this method runs in the
        # Python PLANNING WORKER, where no SparkSession is active, so
        # the session conf is unreadable here — and merely DEFINING
        # pushFilters makes Spark refuse to plan unless
        # spark.sql.python.filterPushdown.enabled is true (which the
        # repo's session factory and the registry's per-build pin both
        # set). The option contains that requirement to reads that
        # actually filter; every other read takes the base reader and
        # works on any session.
        cls = (
            S3ManifestPruningReader
            if _truthy(_norm(self.options).get("dataskipping"))
            else S3ManifestReader
        )
        return cls(self.options, schema)

    def streamReader(self, schema: "StructType") -> S3ManifestStreamReader:
        return S3ManifestStreamReader(self.options, schema)

    def writer(self, schema: "StructType", overwrite: bool) -> S3ManifestWriter:
        return S3ManifestWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: "StructType", overwrite: bool) -> S3ManifestStreamWriter:
        if overwrite:
            # complete/update output modes re-emit state every epoch;
            # appending those snapshots would multiply every group once
            # per epoch on read. The sink is append-only like its batch
            # form — reject loudly instead of corrupting silently.
            raise ValueError(
                "s3_parquet_manifest streaming sink is append-only; "
                "use outputMode('append')"
            )
        return S3ManifestStreamWriter(self.options, schema)


def compact_manifests(options: dict) -> str:
    """Manifest maintenance: rewrite the CURRENT active manifest set
    into one manifest whose ``replaces`` tombstones every manifest
    listed so far — readers then enumerate O(1) manifests instead of
    one per historical append/epoch. Data objects are untouched (no
    rewrite amplification); old manifests stay in place so snapshot
    reads pinned before the compaction still resolve. Returns the new
    manifest's key. Driver-side by design: compaction moves metadata
    (KBs), not data."""
    opts = _norm(options)
    client = _s3(opts)
    manifests = _load_manifests(client, opts["bucket"], opts["prefix"])
    if not manifests:
        raise ValueError("compact_manifests: nothing to compact")
    active = _active_manifests(manifests)
    objects: list[str] = []
    seen: set[str] = set()
    for _, body in active:
        for k in body["objects"]:
            if k not in seen:
                seen.add(k)
                objects.append(k)
    body = {
        "objects": objects,
        "rows": sum(b["rows"] for _, b in active),
        "schema_ddl": active[-1][1]["schema_ddl"],
        "committed_at_us": _now_us(),
        "replaces": [k for k, _ in manifests],
        "compaction": True,
    }
    # fold the active positional delete vectors forward — tombstoning a
    # delete manifest WITHOUT carrying its vector would resurrect rows
    dv = _active_delete_vectors(active)
    if dv:
        body["deletes"] = {k: list(v) for k, v in dv.items()}
    # fold zone-map stats forward too — losing them wouldn't be a
    # correctness bug (no stats = no pruning), but it WOULD silently
    # turn every post-compaction scan into a full scan
    st = _active_object_stats(active)
    if st:
        body["object_stats"] = st
    key = (
        f"{opts['prefix']}/manifests/"
        f"manifest-{body['committed_at_us']:020d}-{uuid.uuid4().hex[:8]}.json"
    )
    client.put_object(
        Bucket=opts["bucket"], Key=key, Body=json.dumps(body).encode("utf-8")
    )
    return key


def commit_deletes(options: dict, deletes: dict) -> str:
    """Commit a positional delete manifest: ``{object_key: [row
    positions]}`` rows become invisible at read (merge-on-read — no
    data object is rewritten). One KB-scale PUT is the whole commit,
    same atomicity as an append; snapshot reads pinned before it still
    see the rows; compaction folds vectors forward. Positions address
    an object's ORIGINAL parquet row order (survivors keep their
    positions across earlier deletes), so vectors from independent
    deletes union commutatively."""
    opts = _norm(options)
    client = _s3(opts)
    manifests = _load_manifests(client, opts["bucket"], opts["prefix"])
    if not manifests:
        raise ValueError("commit_deletes: no committed table to delete from")
    active = _active_manifests(manifests)
    known = {k for _, b in active for k in b["objects"]}
    unknown = sorted(set(deletes) - known)
    if unknown:
        raise ValueError(f"commit_deletes: unknown data objects {unknown!r}")
    body = {
        "objects": [],
        "rows": 0,
        "schema_ddl": active[-1][1]["schema_ddl"],  # carried forward
        "committed_at_us": _now_us(),
        "replaces": [],
        "deletes": {k: sorted({int(p) for p in v}) for k, v in deletes.items() if v},
    }
    key = (
        f"{opts['prefix']}/manifests/"
        f"manifest-{body['committed_at_us']:020d}-{uuid.uuid4().hex[:8]}.json"
    )
    client.put_object(
        Bucket=opts["bucket"], Key=key, Body=json.dumps(body).encode("utf-8")
    )
    return key


def delete_where(spark, options: dict, condition: str) -> str:
    """Row-level DELETE WHERE on the manifest table, merge-on-read:
    plan the matching (object, position) pairs with a DISTRIBUTED read
    (the ``withRowPosition`` metadata columns — predicate evaluation and
    position harvesting run executor-side, one task per object), then
    commit ONE positional delete manifest. Returns the manifest key
    ("" when nothing matched — no empty commit).

    Driver memory holds only the MATCHED positions (grouped per
    object), which is the delete's own size, not the table's. At a
    scale where single deletes touch billions of rows, the upgrade path
    is Iceberg's: spill each object's vector to a delete FILE and list
    those in the manifest — the read side here already consumes
    per-object vectors, so only the manifest body changes."""
    from pyspark.sql import functions as F

    reader = spark.read.format("s3_parquet_manifest")
    for k, v in options.items():
        reader = reader.option(k, v)
    matched = (
        reader.option("withRowPosition", "true")
        .load()
        .filter(condition)
        .groupBy("_object_key")
        .agg(F.collect_list("_row_pos").alias("pos"))
    )
    deletes = {r["_object_key"]: [int(p) for p in r["pos"]] for r in matched.toLocalIterator()}
    if not deletes:
        return ""
    return commit_deletes(options, deletes)


def merge_into(spark, options: dict, source, key: str) -> str:
    """MERGE INTO (upsert) on the manifest table, merge-on-read: rows
    of ``source`` replace target rows sharing ``key``; unmatched source
    rows append. Two commits — one positional delete manifest over the
    matched keys, one ordinary append of the whole source — so readers
    between them see the delete-but-not-yet-insert state; at this
    format's single-writer contract that is the same read-committed
    window any two-commit writer has (Delta folds both into one commit;
    the fold here would be a manifest carrying both ``objects`` and
    ``deletes``, which the reader already supports — kept as two
    commits for auditability of WHAT each commit did).

    The matched-position planning is DISTRIBUTED: target read with the
    ``withRowPosition`` metadata columns, LEFT SEMI join against the
    source's key set (broadcast when small — Catalyst's call), positions
    harvested per object. Driver memory holds only the matched
    positions — the merge's own size, not the table's. Returns the
    append's... nothing useful — returns the delete manifest key (""
    when no target row matched, i.e. a pure append)."""
    from pyspark.sql import functions as F

    reader = spark.read.format("s3_parquet_manifest")
    for k, v in options.items():
        reader = reader.option(k, v)
    target = reader.option("withRowPosition", "true").load()
    matched = (
        target.join(source.select(F.col(key)).distinct(), key, "left_semi")
        .groupBy("_object_key")
        .agg(F.collect_list("_row_pos").alias("pos"))
    )
    deletes = {
        r["_object_key"]: [int(p) for p in r["pos"]] for r in matched.toLocalIterator()
    }
    delete_key = commit_deletes(options, deletes) if deletes else ""
    w = source.write.format("s3_parquet_manifest").mode("append")
    for k, v in options.items():
        w = w.option(k, v)
    w.save()
    return delete_key


def vacuum_orphans(options: dict) -> list[str]:
    """Table maintenance, the other half of :func:`compact_manifests`:
    delete data objects under ``{prefix}/data/`` that NO manifest
    references — the leavings of task attempts that uploaded but died
    before their driver committed a manifest (the commit protocol makes
    them invisible to readers; this reclaims their storage). Returns
    the deleted keys, sorted.

    Referenced-ness is judged against EVERY manifest body, tombstoned
    ones included: a snapshot read pinned before a compaction resolves
    through replaced manifests, so their objects are still live — only
    objects no manifest has ever listed are orphans. Driver-side by
    design, like compaction: it moves metadata and DELETE calls (KBs),
    never data. At 100 TB the listing is the cost — one paginated LIST
    per 1000 objects under the prefix, no reads of object bodies."""
    opts = _norm(options)
    client = _s3(opts)
    referenced: set[str] = set()
    for _, body in _load_manifests(client, opts["bucket"], opts["prefix"]):
        referenced.update(body["objects"])
    orphans: list[str] = []
    token = None
    while True:
        kwargs = {"Bucket": opts["bucket"], "Prefix": f"{opts['prefix']}/data/"}
        if token:
            kwargs["ContinuationToken"] = token
        resp = client.list_objects_v2(**kwargs)
        orphans.extend(
            o["Key"] for o in resp.get("Contents", []) if o["Key"] not in referenced
        )
        if not resp.get("IsTruncated"):
            break
        token = resp.get("NextContinuationToken")
    for k in orphans:
        client.delete_object(Bucket=opts["bucket"], Key=k)
    return sorted(orphans)
