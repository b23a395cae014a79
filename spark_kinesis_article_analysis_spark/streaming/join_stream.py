"""Stream-stream watermarked interval join — the last major Structured
Streaming operator class in the engine's surface, composed end-to-end
with the wire sink.

The reference pipeline (``process_articles.py:53-91``) is a single
stream; a production analytics deployment of it immediately grows a
second (impressions vs clicks, articles vs corrections, queries vs
results) and needs the STREAM-STREAM JOIN: both sides unbounded, rows
buffered in watermark-bounded state until a match can be ruled in or
out. This module runs exactly that shape:

    impressions stream (doc_id, lang, imp_ts)
      JOIN clicks stream (doc_id, source, n_chars, click_ts)
      ON doc_id AND click_ts IN [imp_ts, imp_ts + 2 minutes]
      with 1-minute watermarks on BOTH event-time columns
    -> epoch-fenced manifest sink -> manifest-driven read back.

Both event times derive deterministically from ``doc_id`` (the
``article.py`` publish-time formula; clicks land ``doc_id % 60`` s
after their impression, inside the 2-minute window), and only
``doc_id % 3 == 0`` documents click — so the joined output is an exact
relational function of ``documents`` and the spec is ORACLE-BACKED: a
hash match proves the dual-stream ingestion, the state-buffered join,
the epoch-fenced commit, and the read-back preserved every match
exactly once. Restart idempotence is pinned in
``tests/test_streaming_join.py`` (stop / append clicks / resume —
matches appear exactly once, late-side buffering pairs an impression
with a click that arrives in a LATER micro-batch).

Scale posture (the reason the knobs are what they are): a stream-stream
join's state is bounded ONLY by the watermark delay x the join's time
range — with both watermarks at 1 minute and the click window at 2
minutes, each side buffers ~3 minutes of events per key-partition
regardless of total history. The join itself shuffles both sides on
``doc_id`` (hash-partitioned state store per key), so it scales with
executors like any keyed agg; an unbounded-state join (no watermark or
no time bound) is rejected by Spark's analyzer in append mode — the
unsafe shape is unreachable, not just avoided. Event-time columns ride
the join condition, so late data past the watermark is dropped on both
sides deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.operators.article import _EPOCH_2024
from spark_kinesis_article_analysis_spark.operators.s3_batch import (
    manifest_reader,
    manifest_stream,
    parquet_file_stream,
    streamed_prefix_once,
)
from spark_kinesis_article_analysis_spark.registry import register

_COLS = ["doc_id", "lang", "source", "n_chars", "imp_ts", "click_ts"]


def _imp_ts_col():
    """The article publish-time formula (``operators/article.py:70``) —
    deterministic event time per doc_id, shared with stream_wire."""
    return F.timestamp_seconds(F.lit(_EPOCH_2024) + (F.col("doc_id") * 137) % 86400)


def impressions(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", "lang", _imp_ts_col().alias("imp_ts")
    ).withWatermark("imp_ts", "1 minute")


def clicks(docs: DataFrame) -> DataFrame:
    """Every third document clicks, ``doc_id % 60`` s after impression —
    inside the join's 2-minute window, so the matched set is exactly
    the ``doc_id % 3 == 0`` rows (the oracle's WHERE clause)."""
    return (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id").alias("c_doc_id"),
            "source",
            "n_chars",
            (_imp_ts_col() + F.make_interval(secs=F.col("doc_id") % 60)).alias(
                "click_ts"
            ),
        )
        .withWatermark("click_ts", "1 minute")
    )


def joined(imp: DataFrame, clk: DataFrame) -> DataFrame:
    """The watermarked interval join — legal for streaming AND batch
    frames (the Structured Streaming unification lets the restart test
    compare against the identical batch plan)."""
    return imp.join(
        clk,
        (F.col("doc_id") == F.col("c_doc_id"))
        & (F.col("click_ts") >= F.col("imp_ts"))
        & (F.col("click_ts") <= F.col("imp_ts") + F.expr("INTERVAL 2 MINUTES")),
        "inner",
    ).select(*_COLS)


def run_join_stream(
    spark: SparkSession, docs_path: str, prefix: str, checkpoint: str
) -> None:
    """One bounded (availableNow) run of the dual-stream join into the
    manifest sink. Restartable: same checkpoint resumes; replayed
    epochs fence idempotently at the sink."""
    # two INDEPENDENT stream reads of the same source — each side is
    # its own unbounded input with its own watermark, exactly the
    # two-topic production shape
    out = joined(
        impressions(parquet_file_stream(spark, docs_path)),
        clicks(parquet_file_stream(spark, docs_path)),
    )
    manifest_stream(out, prefix, checkpoint, "stream_stream_join")


def _streamed_prefix(spark: SparkSession, sf_dir: str) -> str:
    return streamed_prefix_once(
        sf_dir,
        "stream-join",
        lambda prefix, ckpt: run_join_stream(
            spark, f"{sf_dir.rstrip('/')}/documents.parquet", prefix, ckpt
        ),
    )


@register(
    "stream_stream_join_end_to_end",
    oracle=f"""
SELECT doc_id, lang, source, n_chars,
       make_timestamp(({_EPOCH_2024} + (doc_id * 137) % 86400) * 1000000) AS imp_ts,
       make_timestamp(({_EPOCH_2024} + (doc_id * 137) % 86400 + doc_id % 60) * 1000000)
           AS click_ts
FROM documents
WHERE doc_id % 3 = 0
""",
    tags=("streaming", "join", "watermark", "wire-protocol", "G1"),
    doc=(
        "Stream-stream watermarked interval join end to end: two "
        "independent document streams (impressions; clicks = every "
        "third doc, seconds later) joined on key + a 2-minute event-"
        "time window with 1-minute watermarks both sides, committed "
        "through the epoch-fenced manifest sink and read back. Oracle "
        "recomputes the matched relation off documents: a hash match "
        "proves dual ingestion, watermark-bounded join state, commit, "
        "and read-back preserved every match exactly once. State is "
        "bounded by watermark x window, never by history — the "
        "unbounded variant is unreachable (analyzer-rejected)."
    ),
)
def stream_stream_join_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _streamed_prefix(spark, sf_dir)
    return manifest_reader(spark, prefix).load().select(*_COLS)
