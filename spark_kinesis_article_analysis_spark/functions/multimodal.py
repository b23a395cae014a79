"""Multimodal column pattern: opaque binary payloads + typed metadata.

The pattern (north star): image/audio/video ride as a ``binary`` column
next to a metadata struct (mime, dimensions, source); byte length and
content hash are JVM-side expressions over the binary column. The
decode and frame-extraction steps — Arrow-batched ``mapInPandas``
operators that parse real WAV/PPM/PNG/AVI bytes — live in
``functions/multimodal_codec.py`` and ``functions/multimodal_image.py``.
At 100 TB the payloads would come from ``binaryFile`` reads or pointer
columns into object storage; everything downstream is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.registry import register


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload binary, meta struct) — the canonical
    multimodal column layout. The utf-8 encoded text stands in for opaque
    media bytes."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("n_chars"),
            F.col("source").alias("source"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


@register(
    "multimodal_binary_metadata",
    oracle="""
SELECT doc_id,
       'text/plain'                 AS mime,
       octet_length(encode(text))   AS n_bytes,
       md5(text)                    AS payload_md5,
       n_chars                      AS meta_chars
FROM documents
""",
    tags=("multimodal", "binary", "north-star"),
    doc=(
        "Binary payload + metadata struct column pattern: byte length and content "
        "hash computed on the binary column, metadata fields projected from the "
        "struct — all JVM-side."
    ),
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_binary_payload(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.n_chars").alias("meta_chars"),
    )
