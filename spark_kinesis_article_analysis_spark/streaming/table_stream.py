"""Table-to-table streaming on the manifest format — the commit log as
an unbounded SOURCE (``sources/s3_objects.S3ManifestStreamReader``)
composed with the epoch-fenced streaming SINK of the same format.

This is the medallion-pipeline primitive (Delta/Iceberg's "table as
stream"): a downstream job subscribes to a table's commit log and
processes each append exactly once — here literally

    manifest table A  --readStream-->  micro-batches of NEW rows
                      --writeStream--> manifest table B

with offsets = commit-log positions riding in the engine checkpoint,
batches = object-set differences (a compaction inside the range lands
as an EMPTY batch, not a table replay) read through each object's
row-delete vector as of the batch's end, and the sink's epoch fence
making the whole hop idempotent across restarts. A delete committed
after the batch that consumed its object is not retracted downstream.

The registered spec streams the ``s3_snapshot`` lifecycle table (two
appends + a compaction) into a fresh table and reads THAT back — the
identity oracle then proves source offsets, incremental planning,
schema-adapted object reads, the hop, and the destination commit
preserved every row exactly once. Incremental consumption (a second
drain after a new append moves only the new rows), compaction-in-range
emptiness, sinceManifest starts, and restart exactly-once are pinned in
``tests/test_table_stream.py``.

Scale posture: ``latestOffset`` is metadata-only (KB manifest GETs,
O(active log) — compaction bounds it); each micro-batch reads ONLY the
newly committed objects, one input partition per object (read
parallelism = append width); the hop itself is a zero-shuffle map; sink
memory is bounded by the multipart part size. Nothing in the path
scales with table HISTORY — only with the increment, which is the whole
point of consuming a table as a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_kinesis_article_analysis_spark.operators.s3_batch import (
    manifest_reader,
    manifest_stream,
    streamed_prefix_once,
)
from spark_kinesis_article_analysis_spark.operators.s3_snapshot import (
    _COLS,
    _prepared,
)
from spark_kinesis_article_analysis_spark.registry import register


def run_table_stream(
    spark: SparkSession,
    src_prefix: str,
    dst_prefix: str,
    checkpoint: str,
    since: str | None = None,
) -> None:
    """One bounded (availableNow) hop of table ``src_prefix``'s commit
    log into table ``dst_prefix``. Restartable: the checkpoint carries
    the source's commit-log position; replayed epochs fence at the
    sink."""
    reader = manifest_reader(spark, src_prefix, stream=True)
    if since is not None:
        reader = reader.option("sinceManifest", since)
    manifest_stream(reader.load(), dst_prefix, checkpoint, "table_stream")


def _streamed_prefix(spark: SparkSession, sf_dir: str) -> str:
    src = _prepared(spark, sf_dir)["prefix"]  # appends + compaction done
    return streamed_prefix_once(
        sf_dir,
        "stream-table",
        lambda prefix, ckpt: run_table_stream(spark, src, prefix, ckpt),
    )


@register(
    "stream_table_to_table_end_to_end",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents
""",
    tags=("S2", "S3", "streaming", "object-store", "cdc", "wire-protocol"),
    doc=(
        "The manifest table consumed AS A STREAM and re-committed as a "
        "table: commit-log offsets in the engine checkpoint, each "
        "micro-batch reads only newly committed objects (object-set "
        "difference — the compaction in the source's history lands as "
        "an empty batch, not a replay), epoch-fenced commit at the "
        "destination, manifest-driven read back. Oracle = all "
        "documents: a hash match proves the log subscription, "
        "incremental planning, the hop, and the destination commit "
        "preserved every row exactly once. Incremental/restart/"
        "sinceManifest semantics pinned in tests/test_table_stream.py."
    ),
)
def stream_table_to_table_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _streamed_prefix(spark, sf_dir)
    return manifest_reader(spark, prefix).load().select(*_COLS)
