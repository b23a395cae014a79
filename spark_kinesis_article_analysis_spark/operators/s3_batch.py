"""Driver-verdicted round trip through the S3 manifest-committed
parquet sink/source — the reference's S2/S3 output path (parquet on an
object store, ``process_articles.py:88-90``) exercised against the real
S3 wire API.

Same lifecycle pattern as ``kinesis_batch``: one in-process moto server
per driver (shared — both AWS services ride the same endpoint), one
bucket+prefix per (process, sf_dir), written once; rebuilds reuse the
committed manifests instead of appending duplicates. At 100 TB the
identical plan runs against real S3 — the endpoint URL is the only
change (jar-equipped deployments use S3A + a magic committer instead;
the manifest protocol here is the same commit model).

r12 note, load-bearing for the registry: r11 rewrote the underlying
sources/s3_objects.py (+409 lines — streaming epoch manifests, Arrow
writer, compaction) without touching this file, leaving this spec's
r10 verdict stale against the shipped source. This edit re-stales it
so the driver re-verdicts the round trip (VERDICT r11 item 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_kinesis_article_analysis_spark.operators.kinesis_batch import _endpoint
from spark_kinesis_article_analysis_spark.registry import register

_WRITTEN: dict[str, bool] = {}

BUCKET = "analytics-output"


def s3_options(prefix: str) -> dict:
    return {
        "bucket": BUCKET,
        "prefix": prefix,
        "regionName": "us-east-1",
        "endpointUrl": _endpoint(),
        "awsAccessKeyId": "testing",
        "awsSecretKey": "testing",
    }


def ensure_bucket():
    """Create the shared test bucket if absent (idempotent) and return
    the boto3 client. ONE copy of the create/``BucketAlreadyOwnedByYou``
    dance — five modules had grown their own byte-identical copies
    (self-review r12), so an endpoint/credential fix would predictably
    have missed one."""
    from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

    client = _s3o._s3({k.lower(): v for k, v in s3_options("").items()})
    try:
        client.create_bucket(Bucket=BUCKET)
    except client.exceptions.BucketAlreadyOwnedByYou:
        pass
    return client


_STREAMED: dict[str, str] = {}


def streamed_prefix_once(sf_dir: str, stem: str, run) -> str:
    """Shared lifecycle for the wire-streaming specs (stream_wire,
    gate_stream, ann_stream): ensure the bucket, run the streaming
    build ONCE per (process, sf_dir), memoize the manifest prefix so
    rebuilds reuse the committed manifests instead of appending
    duplicates. ``run(prefix, checkpoint_dir)`` must block until the
    stream has drained (availableNow) — a raise leaves the prefix
    un-memoized so the next call retries rather than serving a
    half-written table. Extracted from three near-identical module
    copies (self-review r12)."""
    import tempfile

    prefix = f"{stem}-" + sf_dir.rstrip("/").rsplit("/", 1)[-1]
    if prefix in _STREAMED:
        return prefix
    ensure_bucket()
    run(prefix, tempfile.mkdtemp(prefix=stem.replace("-", "_") + "_ckpt_"))
    _STREAMED[prefix] = prefix
    return prefix


def _written_prefix(spark: SparkSession, sf_dir: str) -> str:
    from pyspark import cloudpickle

    from spark_kinesis_article_analysis_spark.catalog import load
    from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

    prefix = "documents-" + sf_dir.rstrip("/").rsplit("/", 1)[-1]
    if prefix in _WRITTEN:
        return prefix
    cloudpickle.register_pickle_by_value(_s3o)
    ensure_bucket()
    spark.dataSource.register(_s3o.S3ParquetManifestDataSource)
    d = load(spark, sf_dir, "documents")
    opts = s3_options(prefix)
    writer = d.write.format("s3_parquet_manifest").mode("append")
    for k, v in opts.items():
        writer = writer.option(k, v)
    writer.save()
    _WRITTEN[prefix] = True
    return prefix


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
    from pyspark import cloudpickle

    from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

    cloudpickle.register_pickle_by_value(_s3o)
    spark.dataSource.register(_s3o.S3ParquetManifestDataSource)
    prefix = _written_prefix(spark, sf_dir)
    reader = spark.read.format("s3_parquet_manifest")
    for k, v in s3_options(prefix).items():
        reader = reader.option(k, v)
    return reader.load().select("doc_id", "text", "lang", "source", "n_chars")
