"""Oracle-checked snapshot-read and compaction queries for the
``s3_parquet_manifest`` table format (``sources/s3_objects.py``).

``s3_manifest_roundtrip`` proves one append reads back exactly; these
two prove the MANIFEST LOG semantics that make the format operable at
100 TB, against the real S3 wire API:

* ``s3_manifest_snapshot`` — two appends land (even doc_ids, then odd),
  the table is COMPACTED, and the query reads pinned at the manifest
  committed after append 1. Oracle = the even half: a hash match proves
  snapshot isolation (append 2 invisible) AND that a later compaction
  cannot rewrite history under a pinned read.
* ``s3_manifest_compacted`` — the same table read at HEAD after the
  compaction folded three manifests (append even + append odd + their
  tombstoning rewrite) into one. Oracle = all documents: a hash match
  proves compaction changed enumeration cost, not content.

Setup is idempotent per (process, sf_dir) through the shared front
door in ``operators/s3_batch`` (in-process moto endpoint, one prefix
per sf_dir, built once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_kinesis_article_analysis_spark.operators.s3_batch import (
    BUCKET,
    built_once,
    manifest_append,
    manifest_reader,
    registered,
    s3_options,
)
from spark_kinesis_article_analysis_spark.registry import register

_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _prepared(spark: SparkSession, sf_dir: str) -> dict:
    """Append evens, snapshot, append odds, compact — once per process."""
    from spark_kinesis_article_analysis_spark.catalog import load
    from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o

    def build(prefix: str) -> dict:
        opts = s3_options(prefix)
        d = load(registered(spark), sf_dir, "documents").select(*_COLS)
        manifest_append(d.where(d.doc_id % 2 == 0), prefix)
        [snap_key] = _s3o._manifest_keys(_s3o._s3(opts), BUCKET, prefix)
        manifest_append(d.where(d.doc_id % 2 != 0), prefix)
        _s3o.compact_manifests(opts)
        return {"prefix": prefix, "snap_key": snap_key}

    return built_once(sf_dir, "docsnap", build)


def _read(spark: SparkSession, sf_dir: str, snapshot: bool) -> DataFrame:
    st = _prepared(spark, sf_dir)
    reader = manifest_reader(spark, st["prefix"])
    if snapshot:
        reader = reader.option("snapshotManifest", st["snap_key"])
    return reader.load().select(*_COLS)


@register(
    "s3_manifest_snapshot",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 2 = 0
""",
    tags=("S2", "S3", "object-store", "snapshot", "time-travel"),
    doc=(
        "Snapshot (time-travel) read of the manifest-committed table: "
        "pinned at the manifest of append 1 (even doc_ids), after append "
        "2 (odd) and a full compaction landed. Oracle = the even half "
        "straight off documents: a hash match proves snapshot isolation "
        "and that compaction tombstones do not apply across a pinned "
        "read. At 100 TB this is the reproducibility primitive — a "
        "training run pins one manifest and is immune to later appends "
        "and maintenance."
    ),
)
def s3_manifest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, snapshot=True)


@register(
    "s3_manifest_compacted",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents
""",
    tags=("S2", "S3", "object-store", "compaction"),
    doc=(
        "HEAD read after manifest compaction folded the append history "
        "into one manifest (old ones tombstoned via its replaces list, "
        "data objects untouched). Oracle = all documents: a hash match "
        "proves every row survives exactly once. At 100 TB compaction "
        "bounds reader planning at O(active manifests), not O(appends "
        "ever) — a streaming sink commits one manifest per epoch, so an "
        "uncompacted year is ~10^6 manifest GETs per query plan."
    ),
)
def s3_manifest_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, snapshot=False)
