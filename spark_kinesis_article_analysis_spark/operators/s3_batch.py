"""Oracle-checked round trip through the S3 manifest-committed
parquet sink/source — the reference's S2/S3 output path (parquet on an
object store, ``process_articles.py:88-90``) exercised against the real
S3 wire API.

This module is also the manifest table's one front door for the
wire-protocol queries (``s3_snapshot``, ``s3_incremental``,
``kinesis_batch``, ``stream_wire`` and the ``streaming`` modules):

* :func:`_endpoint` — one in-process moto server per driver (both AWS
  services ride the same endpoint), started lazily, stopped atexit;
* :func:`registered` — both wire sources pickled by value and both
  DataSources registered on the session;
* :func:`manifest_reader` / :func:`manifest_append` — the table's read
  and append, options through :func:`s3_options`;
* :func:`parquet_file_stream` and :func:`run_available_now` — a parquet
  file as a stream and one bounded drain of a streaming query;
* :func:`built_once` — one bucket+prefix per (process, sf_dir, stem),
  built once; rebuilds reuse the committed manifests instead of
  appending duplicates.

At 100 TB the identical plan runs against real S3 — the endpoint URL is
the only change (jar-equipped deployments use S3A + a magic committer
instead; the manifest protocol here is the same commit model).
"""

from __future__ import annotations

import atexit
import os

from pyspark.sql import DataFrame, SparkSession

from spark_kinesis_article_analysis_spark.registry import register

BUCKET = "analytics-output"

FORMAT = "s3_parquet_manifest"

_SERVER: dict = {}

_BUILT: dict = {}


def _endpoint() -> str:
    """Start (once per process) the in-process AWS API endpoint."""
    if not _SERVER:
        import logging

        from moto.server import ThreadedMotoServer

        # one log line per API call otherwise (werkzeug access log)
        logging.getLogger("werkzeug").setLevel(logging.ERROR)
        server = ThreadedMotoServer(port=0, verbose=False)
        server.start()
        atexit.register(server.stop)
        _SERVER["port"] = server._server.socket.getsockname()[1]
    return f"http://127.0.0.1:{_SERVER['port']}"


def s3_options(prefix: str) -> dict:
    """Connector options for the table at ``prefix``, keyed the way
    ``sources/s3_objects`` reads them (lower case; Spark's reader and
    writer options are case-insensitive)."""
    return {
        "bucket": BUCKET,
        "prefix": prefix,
        "regionname": "us-east-1",
        "endpointurl": _endpoint(),
        "awsaccesskeyid": "testing",
        "awssecretkey": "testing",
    }


def ensure_bucket():
    """Create the shared test bucket if absent (idempotent) and return
    the boto3 client."""
    from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

    client = _s3o._s3(s3_options(""))
    try:
        client.create_bucket(Bucket=BUCKET)
    except client.exceptions.BucketAlreadyOwnedByYou:
        pass
    return client


def registered(spark: SparkSession) -> SparkSession:
    """``spark`` with both wire sources usable: ``s3_objects`` and
    ``kinesis_source`` marked for pickling by value (nothing guarantees
    the package is on the Python workers' path under a driver's session;
    both import only stdlib, pyspark, pyarrow and boto3) and each
    DataSource registered once per session. A registration pickles its
    module (about 30 ms), so a session whose own registry already holds
    the name — a streaming query's clone of a registered session
    included — is left as it is."""
    from pyspark import cloudpickle

    from spark_kinesis_article_analysis_spark.sources import kinesis_source as _ks
    from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

    for module in (_ks, _s3o):
        cloudpickle.register_pickle_by_value(module)
    manager = spark._jsparkSession.sessionState().dataSourceManager()  # type: ignore[attr-defined]
    for source in (_ks.KinesisApiDataSource, _s3o.S3ParquetManifestDataSource):
        if not manager.dataSourceExists(source.name()):
            spark.dataSource.register(source)
    return spark


def manifest_reader(spark: SparkSession, prefix: str, stream: bool = False):
    """The batch (or, with ``stream``, streaming) reader of the table
    at ``prefix``."""
    spark = registered(spark)
    return (spark.readStream if stream else spark.read).format(FORMAT).options(
        **s3_options(prefix)
    )


def manifest_append(df: DataFrame, prefix: str, **options) -> None:
    """Append ``df`` to the table at ``prefix``: one manifest commit.
    ``df``'s session must be :func:`registered`. ``options`` are extra
    writer options (``epochId``)."""
    df.write.format(FORMAT).mode("append").options(**s3_options(prefix), **options).save()


def manifest_stream(df: DataFrame, prefix: str, checkpoint: str, name: str) -> None:
    """One bounded drain of the streaming frame ``df`` into the table at
    ``prefix``: one epoch-keyed manifest per micro-batch. Restartable —
    the same checkpoint resumes, and a replayed epoch overwrites its own
    manifest."""
    registered(df.sparkSession)
    writer = df.writeStream.format(FORMAT).options(**s3_options(prefix))
    run_available_now(writer.option("checkpointLocation", checkpoint), name)


def run_available_now(writer, name: str) -> None:
    """Start ``writer`` with the availableNow trigger and block until
    it has drained what was there at start. A query still running after
    300 s is stopped and raised as a ``TimeoutError``: the callers'
    memo (:func:`built_once`) must never serve a half-written table."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            f"{name}: availableNow query did not finish within 300s "
            f"(exception: {q.exception()})"
        )


def parquet_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """The parquet at ``path`` as a file stream. The file stream source
    needs a DIRECTORY, so a single file (the sf_dir layout) streams via
    its parent directory and a filename glob that keeps sibling tables
    out."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def built_once(sf_dir: str, stem: str, build):
    """``build(prefix)``'s result, built once per (process, sf_dir,
    stem); ``prefix`` is ``<stem>-<sf_dir basename>``, so two stems on
    one sf_dir never share a table. The bucket exists before ``build``
    runs. A build that raises is not memoized: the next call retries
    instead of serving a half-written table."""
    prefix = f"{stem}-" + sf_dir.rstrip("/").rsplit("/", 1)[-1]
    if prefix not in _BUILT:
        ensure_bucket()
        _BUILT[prefix] = build(prefix)
    return _BUILT[prefix]


def streamed_prefix_once(sf_dir: str, stem: str, run) -> str:
    """The wire-streaming specs' lifecycle (``stream_wire``,
    ``gate_stream``, ``join_stream``, ``table_stream``, ``ann_stream``):
    :func:`built_once` around ``run(prefix, checkpoint_dir)``, which
    must block until the stream has drained (availableNow)."""
    import tempfile

    def build(prefix: str) -> str:
        run(prefix, tempfile.mkdtemp(prefix=stem.replace("-", "_") + "_ckpt_"))
        return prefix

    return built_once(sf_dir, stem, build)


def _written_prefix(spark: SparkSession, sf_dir: str) -> str:
    from spark_kinesis_article_analysis_spark.catalog import load

    def build(prefix: str) -> str:
        manifest_append(load(registered(spark), sf_dir, "documents"), prefix)
        return prefix

    return built_once(sf_dir, "documents", build)


@register(
    "s3_manifest_roundtrip",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents
""",
    tags=("reference", "S2", "S3", "sink", "object-store", "round-trip"),
    doc=(
        "End-to-end round trip through the manifest-committed object-store "
        "sink: documents -> distributed parquet-object PutObject tasks -> "
        "ONE atomic manifest PUT (the commit point — S3 has no rename, so "
        "manifest listing is what makes aborted/retried task output "
        "invisible) -> manifest-driven shard-parallel read back (one input "
        "partition per object, Arrow batches). Oracle is the identity "
        "projection off documents: a hash match proves the sink + commit "
        "protocol + reader preserved every row exactly once."
    ),
)
def s3_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _written_prefix(spark, sf_dir)
    return manifest_reader(spark, prefix).load().select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
