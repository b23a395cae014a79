"""Streaming ANN lookup — a stream of query vectors probing the static
trained IVF index, with exactly-once results on the manifest wire sink.

The serving half of the ANN story: ``sim_ivf_topk`` proves the index
and search semantics in batch; production also runs the CONTINUOUS
form — queries arrive as a stream, the index is a static artifact, and
each micro-batch's results must land exactly once. This module is that
composition, built from the same public pieces:

* index (once, outside the stream): the trained cells + the
  multi-assigned corpus, built by ``similarity._ivf_index`` — the
  helper ``similarity.ivf_index_and_probes`` builds the batch index
  with, so the streamed results are definitionally the batch
  operator's results.
* per micro-batch (``foreachBatch`` — the batch plan runs inside the
  micro-batch, so the top-k window is legal): queries fold the
  broadcast centroid array map-side to their IVF_NPROBE cells
  (``similarity._ivf_probes``, the batch probe side), join
  the assigned corpus on cell id, score the rounded cosine, rank.
* exactly-once: the inner write uses the manifest sink's ``epochId``
  mode — every attempt of micro-batch N commits to the SAME
  ``manifest-epoch-N.json`` (idempotent overwrite, original commit
  time carried), so a foreachBatch replay after a crash cannot
  duplicate results. This is THE foreachBatch idempotence recipe the
  sink exposes (sources/s3_objects.py::_commit_epoch_manifest).

The registered spec streams the standard query set and reads the
committed results back; the oracle is ``sim_ivf_topk``'s exact SQL
(shared ``IVF_TRAIN_CTES``) — a hash match proves the streaming
composition changed NOTHING about the answer.

Scale shape: the index artifacts are built once and reused across
micro-batches (assigned is corpus-scale and stays distributed; cents
broadcast); per batch the work is the batch operator's probe-side plan
at micro-batch query cardinality. State: none (the index is static) —
throughput is source-bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.similarity import (
    IVF_NPROBE,
    IVF_TRAIN_CTES,
    N_QUERIES,
    TOP_K,
    _cosine_vectors,
    _ivf_index,
    _ivf_probes,
    ivf_score_and_rank,
)
from spark_kinesis_article_analysis_spark.operators.s3_batch import (
    manifest_append,
    manifest_reader,
    parquet_file_stream,
    registered,
    run_available_now,
    streamed_prefix_once,
)
from spark_kinesis_article_analysis_spark.registry import register


def run_ann_stream(
    spark: SparkSession, emb_path: str, prefix: str, checkpoint: str
) -> None:
    """Stream query vectors (vec_id < N_QUERIES) from ``emb_path``
    against the IVF index of the same corpus; commit per-batch top-k
    through the manifest sink's epoch fence. Restartable: the same
    checkpoint resumes and replayed epochs overwrite idempotently."""
    # static index (built once; reused by every micro-batch) — the same
    # helpers ivf_index_and_probes builds the batch index with
    cents, assigned = _ivf_index(
        _cosine_vectors(load(spark, os.path.dirname(emb_path) or ".", "embeddings"))
    )
    assigned = assigned.localCheckpoint(eager=False)

    def score_batch(batch: DataFrame, batch_id: int) -> None:
        probes = _ivf_probes(_cosine_vectors(batch), cents, IVF_NPROBE)
        # the SHARED score-and-rank back half — one scoring discipline
        # for batch and stream (self-review r12 killed the local copy)
        topk = ivf_score_and_rank(assigned, probes)
        # epochId: the foreachBatch idempotence fence
        manifest_append(topk, prefix, epochId=str(batch_id))

    # register before start, on this session: score_batch's write
    # resolves against what it registered (a registration made only
    # inside score_batch does not reach it), so batches register nothing
    queries = parquet_file_stream(registered(spark), emb_path).filter(
        F.col("vec_id") < N_QUERIES
    )
    writer = queries.writeStream.foreachBatch(score_batch)
    run_available_now(writer.option("checkpointLocation", checkpoint), "stream_ann")


def _streamed_prefix(spark: SparkSession, sf_dir: str) -> str:
    """Serve the query stream once per (process, sf_dir) — the shared
    wire-stream lifecycle (operators/s3_batch.streamed_prefix_once)."""
    return streamed_prefix_once(
        sf_dir,
        "stream-ann",
        lambda prefix, ckpt: run_ann_stream(
            spark, f"{sf_dir.rstrip('/')}/embeddings.parquet", prefix, ckpt
        ),
    )


@register(
    "stream_ann_end_to_end",
    oracle=f"""
WITH {IVF_TRAIN_CTES},
scored AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
           round(list_cosine_similarity(p.qe, a.emb), 6) AS cosine
    FROM probes p JOIN assigned a
      ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM scored
) WHERE rn <= {TOP_K}
""",
    tags=("similarity", "ivf", "ann", "streaming", "wire-protocol", "north-star"),
    doc=(
        "The ANN SERVING path: a stream of query vectors probing the "
        "static trained IVF index (identical training/assignment code "
        "and constants as sim_ivf_topk), each micro-batch's top-k "
        "committed through the manifest sink's epochId fence inside "
        "foreachBatch — a replayed batch overwrites its own epoch, so "
        "results land exactly once across crashes/restarts. Oracle is "
        "sim_ivf_topk's exact SQL: a hash match proves the streaming "
        "composition changed nothing about the answer. Index built "
        "once and reused across micro-batches; no streaming state."
    ),
)
def stream_ann_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _streamed_prefix(spark, sf_dir)
    return manifest_reader(spark, prefix).load().select("query_id", "neighbor_id", "cosine")
