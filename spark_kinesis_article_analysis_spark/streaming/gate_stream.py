"""Streaming quality gate — the curation path composed with the wire
sink (VERDICT r11 item 7).

The batch Gopher gate (``functions/gopher.quality_gopher_gate``) is
pure per-document expressions, so the SAME transform is legal inside a
micro-batch; what needed proving is the composition: a documents
STREAM, gated in flight, committing its survivors through the
epoch-fenced S3 manifest sink exactly once across restarts — i.e. the
shape a continuously-ingesting curation pipeline actually runs:

    documents file stream -> gopher_signals (map-only) ->
    filter(gopher_pass) -> writeStream.format("s3_parquet_manifest")
    -> manifest-driven read back.

Exactly-once: the sink commits ONE epoch-keyed manifest per micro-batch
(replay overwrites at the same key, carrying the original commit time —
sources/s3_objects.py), so a restarted query re-emitting a batch cannot
duplicate survivors; asserted across a stop/extend/restart in
tests/test_streaming_gate.py, mirroring TestParquetSinkRestart.

The registered spec is ORACLE-BACKED (stronger than the rows-only ask):
the read-back equals the batch gate's passing rows, which DuckDB
reproduces signal for signal — a hash match proves the stream transform,
the epoch-fenced commit, and the manifest read preserved every surviving
document and every audit signal exactly.

Scale posture: the gate is a zero-shuffle map stage per micro-batch;
sink task writes are multipart-streamed (memory bounded by part size);
commit is one KB-scale PUT per epoch. Nothing in the path holds state,
so throughput is source-bounded at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.functions.gopher import (
    gopher_oracle_sql,
    gopher_signals,
)
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.operators.s3_batch import (
    manifest_reader,
    manifest_stream,
    parquet_file_stream,
    streamed_prefix_once,
)
from spark_kinesis_article_analysis_spark.registry import register

_COLS = [
    "doc_id",
    "n_words",
    "mean_word_len",
    "symbol_ratio",
    "bullet_line_ratio",
    "ellipsis_line_ratio",
    "alpha_word_ratio",
    "n_stop_hits",
    "gopher_pass",
]


def gated_stream(docs: DataFrame) -> DataFrame:
    """Gate a streaming (or batch — same code, the Structured Streaming
    unification) documents frame: signals + pass flag, survivors only."""
    d = docs.where(F.col("doc_id").isNotNull() & F.col("text").isNotNull()).select(
        "doc_id", "text", tokens_col().alias("toks")
    )
    return gopher_signals(d).filter(F.col("gopher_pass")).select(*_COLS)


def run_gate_stream(
    spark: SparkSession, docs_path: str, prefix: str, checkpoint: str
) -> None:
    """One bounded (availableNow) run of the gated stream into the
    manifest sink. Callers own bucket/prefix lifecycle; restartable —
    same checkpoint resumes, replayed epochs fence idempotently."""
    gated = gated_stream(parquet_file_stream(spark, docs_path))
    manifest_stream(gated, prefix, checkpoint, "stream_quality_gate")


def _streamed_prefix(spark: SparkSession, sf_dir: str) -> str:
    """Run the gated stream once per (process, sf_dir); rebuilds reuse
    the committed manifests — the shared wire-stream lifecycle."""
    return streamed_prefix_once(
        sf_dir,
        "stream-gate",
        lambda prefix, ckpt: run_gate_stream(
            spark, f"{sf_dir.rstrip('/')}/documents.parquet", prefix, ckpt
        ),
    )


@register(
    "stream_quality_gate_end_to_end",
    # the gate oracle built from gopher.py's OWN fragments (tokenizer,
    # stop list, thresholds) with the rules moved to WHERE — one source
    # of truth, no frozen copy to drift (self-review r12 finding)
    oracle=gopher_oracle_sql(passing_only=True),
    tags=("quality", "gopher", "streaming", "curation", "wire-protocol", "north-star"),
    doc=(
        "The curation path composed with the wire sink: a documents "
        "stream gated by the full Gopher rule set IN FLIGHT (map-only "
        "micro-batch transform — the identical expressions the batch "
        "quality_gopher_gate verifies), survivors committed through the "
        "epoch-fenced S3 manifest sink and read back manifest-driven. "
        "Oracle recomputes the passing set with every audit signal, so "
        "a hash match proves stream transform + exactly-once commit + "
        "read-back end to end. Restart idempotence is pinned in "
        "tests/test_streaming_gate.py across a stop/extend/resume."
    ),
)
def stream_quality_gate_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _streamed_prefix(spark, sf_dir)
    return manifest_reader(spark, prefix).load().select(*_COLS)
