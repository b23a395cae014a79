"""Oracle-checked round trip through the ``kinesis_api`` source —
the real Kinesis WIRE PROTOCOL, exercised end to end.

This query proves the S1 contract against the actual AWS Kinesis HTTP
API: a moto-served in-process endpoint (the public mock of the real service,
speaking the real protocol) receives the documents corpus through a
DISTRIBUTED PutRecords producer (``foreachPartition`` — the scaled form
of the reference's ``populate_stream.py:78-156`` loop), and
``spark.read.format("kinesis_api")`` reads it back shard-parallel
through ListShards/GetShardIterator/GetRecords, then runs the
reference's parse + word-count path (``process_articles.py:53-75``).
The oracle computes the same projection straight off ``documents``, so
a hash match proves the producer + the service + the source preserved
every payload byte and the parse inverted the envelope exactly.

Lifecycle: the shared in-process endpoint of ``operators/s3_batch``
(one ThreadedMotoServer per driver process, port 0 — OS assigned, no
collisions — started lazily and stopped atexit); one stream per
(process, sf_dir), ingested once through ``s3_batch.built_once``, so
rebuilds reuse the already-ingested stream instead of appending
duplicates. The producer is technically at-least-once under task
RETRY (as every real Kinesis producer is); against the local in-process
endpoint a put never fails mid-task, and the oracle hash would surface
a duplicate loudly if one ever appeared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.operators.article import (
    _EPOCH_2024,
    documents_as_article_payload,
    parse_articles,
    with_word_count,
)
from spark_kinesis_article_analysis_spark.operators.s3_batch import (
    _endpoint,
    built_once,
    registered,
)
from spark_kinesis_article_analysis_spark.registry import register

#: Shard count for the round-trip stream: >1 so the read is genuinely
#: shard-parallel and partition-key routing is exercised.
N_SHARDS = 4


def kinesis_options(stream: str) -> dict:
    """Connector-style options for the in-process endpoint (the same
    names a jar-equipped deployment passes — MIGRATION.md maps them)."""
    return {
        "streamName": stream,
        "regionName": "us-east-1",
        "endpointUrl": _endpoint(),
        "awsAccessKeyId": "testing",
        "awsSecretKey": "testing",  # the SECRET slot — swap bug not replicated
    }


def _ingested_stream(spark: SparkSession, sf_dir: str) -> str:
    """Create + populate the stream for ``sf_dir`` (idempotent per
    process): distributed PutRecords of the wire-format article
    envelopes, partition-keyed by article_id — Kinesis' md5 hash-range
    routing spreads keys over the shards exactly as production would."""
    from spark_kinesis_article_analysis_spark.sources import kinesis_source as _ks

    def build(stream: str) -> str:
        opts = kinesis_options(stream)
        _ks._client(_ks._norm_options(opts)).create_stream(
            StreamName=stream, ShardCount=N_SHARDS
        )
        registered(spark)
        records = documents_as_article_payload(spark, sf_dir).select(
            F.get_json_object(F.col("data"), "$.article_id").alias("partition_key"),
            F.col("data"),
        )
        records.foreachPartition(
            lambda rows: _ks.put_records_partition(opts, rows) and None
        )
        return stream

    return built_once(sf_dir, "articles", build)


@register(
    "kinesis_api_batch",
    oracle=f"""
SELECT CAST(doc_id AS VARCHAR)                                              AS article_id,
       source                                                               AS title,
       lang                                                                 AS author,
       make_timestamp(({_EPOCH_2024} + (doc_id * 137) % 86400) * 1000000)   AS publish_date,
       text                                                                 AS content,
       len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'))                                AS word_count
FROM documents
""",
    tags=("reference", "S1", "S5", "source", "kinesis", "round-trip"),
    doc=(
        "End-to-end round trip through the REAL Kinesis wire protocol: "
        "documents -> wire-format JSON envelopes -> distributed PutRecords "
        "producer (the populate_stream.py path) -> a moto-served Kinesis "
        "endpoint -> shard-parallel batch read via the kinesis_api Python "
        "DataSource (ListShards/GetShardIterator/GetRecords, one input "
        "partition per shard) -> the reference's parse + word-count "
        "pipeline. Oracle is the same projection straight off documents: a "
        "hash match proves producer, service, source, and parse preserved "
        "every byte. At 100 TB the identical plan runs against the real "
        "service: the endpoint URL is the only thing that changes."
    ),
)
def kinesis_api_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _ingested_stream(spark, sf_dir)
    replayed = (
        registered(spark).read.format("kinesis_api").options(**kinesis_options(stream)).load()
    )
    parsed = with_word_count(parse_articles(replayed))
    return parsed.select(
        "article_id", "title", "author", "publish_date", "content", "word_count"
    )
