"""Graph-based ANN — beam search over a bounded-degree neighbor graph
(the NSW family: Malkov et al., "Approximate nearest neighbor algorithm
based on navigable small world graphs", Inf. Systems 2014; HNSW is its
layered descendant). Completes the engine's ANN triad: IVF (cell
probing, ``sim_ivf_topk``), PQ (compressed exhaustive scan,
``sim_pq_adc_topk``), and now graph traversal — the family that wins
when per-query latency matters more than build cost.

Construction (relational, oracle-mirrorable): candidate edges come from
the SAME md5-portable sign-plane LSH blocking ``dedup_embedding_cosine``
uses (COSINE_LSH_TABLES tables x NSW_BITS bits, blocks hard-capped at
COSINE_BLOCK_CAP vectors by the md5-ordered sub-split — per-task pair
work <= CAP^2, total linear in N), then each node keeps its NSW_M best bucket-mates by
(cosine DESC, neighbor ASC). Both directions of a block pair are
emitted, so the graph is symmetric before the degree cap — the NSW
"navigable" property comes from LSH mates being mostly-near with a few
far ones (different tables disagree), which is what lets greedy search
route.

Search (H-hop beam, unrolled — H and BEAM are constants so the loop is
H static dataflow rounds, no driver round trips at all):

    visited_0 = entry set          every NSW_ENTRY_STRIDE-th corpus vec_id
    round h:  beam = top-BEAM of visited by (score DESC, node ASC)
              expand beam's out-edges, score new nodes against the query
              visited += expansions (distinct — score is a pure function
              of (query, node), so duplicates collapse exactly)
    answer  = top-K of visited_H

Scale shape: the per-round expansion is BEAM x M candidate ids per
query — a broadcast against the corpus for the vector lookup (one
corpus scan per hop; a production layout co-locates neighbor vectors
with the adjacency row, HNSW-style, making the hop a local read).
Degree is capped at NSW_M so visited grows <= Q x (entries + H x BEAM x M)
rows — bounded regardless of corpus size; every ranking window runs on
that bounded set. Graph build cost is the LSH blocking's linear
candidate work + one bounded per-node top-M.

Recall at the test geometry is measured per round by bench.py alongside
the IVF/PQ curves and floored in tests/test_nsw.py — same discipline:
the oracle proves the COMPUTATION (graph, routing, ranking) exact; the
floor guards the QUALITY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.dedup import (
    COSINE_BLOCK_CAP,
    COSINE_LSH_TABLES,
    _cosine_block_assignments,
    scored_block_pairs,
)
from spark_kinesis_article_analysis_spark.functions.similarity import (
    EMB_DIM,
    N_QUERIES,
    NONZERO_SQL,
    TOP_K,
    _cosine_vectors,
    dot,
    plane_bit_sql,
)
from spark_kinesis_article_analysis_spark.registry import register

#: graph degree cap (edges kept per node)
NSW_M = 12
#: beam width during search
NSW_BEAM = 16
#: search hops (unrolled)
NSW_HOPS = 4
#: entry-point stride: search starts from every STRIDE-th corpus vector
#: (the same stride the IVF seeds use). Multi-entry is what makes NSW
#: work on geometry-free data — measured on this corpus: single-entry
#: recall@5 0.08, 40 entries 0.44 at the same beam budget (isotropic
#: vectors give greedy routing no gradient to follow, so entry
#: DIVERSITY buys more than beam width — the flat-geometry twin of
#: IVF's multiprobe lesson).
NSW_ENTRY_STRIDE = 100
#: sign bits per LSH table for edge candidates (dedup_embedding_cosine's
#: blocking — its COSINE_LSH_TABLES tables, blocks capped at
#: COSINE_BLOCK_CAP — with fewer bits)
NSW_BITS = 6


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb, nrm) of the graph's nodes: the cosine vectors that
    are not queries."""
    e = _cosine_vectors(load(spark, sf_dir, "embeddings"))
    return e.filter(F.col("vec_id") >= N_QUERIES).select("vec_id", "emb", "nrm")


def nsw_edges(e: DataFrame) -> DataFrame:
    """(src, dst, cosine): each node's NSW_M best LSH-block-mates.
    The dedup_embedding_cosine blocking (md5-ordered sub-split caps
    every block) with a per-node degree cap instead of a threshold."""
    pairs = scored_block_pairs(_cosine_block_assignments(e, NSW_BITS))
    # both directions of every intra-block pair
    sym = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "cosine"
    ).unionByName(
        pairs.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "cosine")
    )
    # degree cap: candidate count per src is bounded by construction
    # (<= TABLES * (CAP - 1)), so the plain window is already bounded
    wd = W.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst").asc())
    return (
        sym.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= NSW_M)
        .select("src", "dst", "cosine")
    )


def nsw_topk(spark: SparkSession, sf_dir: str, hops: int = NSW_HOPS) -> DataFrame:
    e = _corpus(spark, sf_dir)
    # r13 hop fusion (guide §2.4 remove shuffles / §1.2 fix the shape):
    # 1. The dst VECTOR is co-located with the adjacency row (the HNSW
    #    layout the module doc already names as the production form) —
    #    each hop joins the broadcast beam against ONE edge-table scan
    #    instead of an edges scan PLUS a full-corpus scan+join to fetch
    #    candidate embeddings. Storage trade: the edge table carries
    #    <= NSW_M copies of each vector; hop cost halves.
    edges = (
        nsw_edges(e)
        .join(
            e.select(
                F.col("vec_id").alias("dst"),
                F.col("emb").alias("demb"),
                F.col("nrm").alias("dnrm"),
            ),
            "dst",
        )
        .select("src", "dst", "demb", "dnrm")
        .localCheckpoint(eager=False)
    )
    q = (
        _cosine_vectors(load(spark, sf_dir, "embeddings"))
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    # entry score reads (emb, nrm) from the entry row; edge score reads
    # the co-located (demb, dnrm) — same fold, same rounding, so a node
    # reached both ways scores bit-identically.
    entry_score = F.round(
        dot(F.col("qe"), F.col("emb")) / (F.col("qnrm") * F.col("nrm")), 6
    ).alias("score")
    edge_score = F.round(
        dot(F.col("qe"), F.col("demb")) / (F.col("qnrm") * F.col("dnrm")), 6
    ).alias("score")
    entries = e.filter(F.col("vec_id") % NSW_ENTRY_STRIDE == 0)
    # hop state stays the r12 narrow (query_id, node, score); qe/qnrm
    # re-attach from the broadcast bounded query set at scoring time.
    visited = q.crossJoin(F.broadcast(entries)).select(
        "query_id", F.col("vec_id").alias("node"), entry_score
    )
    wb = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("node").asc())
    # 2. The per-hop visited-level distinct() (its own all-column hash
    #    exchange) and the NEXT hop's beam window (an exchange by
    #    query_id) fuse into ONE exchange per hop: repartition by
    #    query_id, then dedup-by-(query_id, node) and beam-rank as two
    #    window passes over the SAME partitioning (hashpartitioning on
    #    query_id satisfies both windows' clustering, so only local
    #    sorts separate them). Dedup on (query_id, node) is exact
    #    because score is a pure deterministic function of the pair —
    #    the r12 argument that removed expand.distinct(), applied to the
    #    visited level; the oracle's UNION over (query_id, node, score)
    #    triples collapses the same rows.
    wd = W.partitionBy("query_id", "node").orderBy("node")

    def dedup_rank(u: DataFrame, checkpoint: bool = True) -> DataFrame:
        out = (
            u.repartition("query_id")
            .withColumn("dup", F.row_number().over(wd))
            .filter(F.col("dup") == 1)
            .drop("dup")
            .withColumn("rn", F.row_number().over(wb))
        )
        # per-hop frames are consumed TWICE (beam + next union): the lazy
        # checkpoint keeps the plan flat in hops; the FINAL pass has one
        # consumer, so a checkpoint there would only add a materialization
        # (and hide the search's plan shape from explain).
        return out.localCheckpoint(eager=False) if checkpoint else out

    for _ in range(hops):
        ranked = dedup_rank(visited)
        beam = ranked.filter(F.col("rn") <= NSW_BEAM).select("query_id", "node")
        scored = (
            F.broadcast(beam)
            .join(edges, beam["node"] == edges["src"])
            .join(F.broadcast(q), "query_id")
            .select("query_id", F.col("dst").alias("node"), edge_score)
        )
        visited = ranked.select("query_id", "node", "score").unionByName(scored)
    final = dedup_rank(visited, checkpoint=False)
    return (
        final.filter(F.col("rn") <= TOP_K)
        .select("query_id", F.col("node").alias("neighbor_id"), F.col("score").alias("cosine"))
    )


def _nsw_oracle() -> str:
    d2_pair = (
        f"round(list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        "i -> ea.emb[i] * eb.emb[i])) / (ea.nrm * eb.nrm), 6)"
    )
    qscore = (
        f"round(list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        "i -> q.qe[i] * e.emb[i])) / (q.qnrm * e.nrm), 6)"
    )
    hops = []
    prev = "v0"
    for h in range(1, NSW_HOPS + 1):
        hops.append(f"""
beam{h} AS (
    SELECT query_id, node FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, node ASC) AS rn
        FROM {prev}
    ) WHERE rn <= {NSW_BEAM}
),
v{h} AS (
    SELECT * FROM {prev}
    UNION
    SELECT DISTINCT b.query_id, ed.dst AS node, {qscore.replace('q.', 'qq.').replace('e.emb', 'e.emb').replace('e.nrm', 'e.nrm')} AS score
    FROM beam{h} b
    JOIN edges ed ON ed.src = b.node
    JOIN e ON e.vec_id = ed.dst
    JOIN q qq ON qq.query_id = b.query_id
)""")
        prev = f"v{h}"
    hops_sql = ",".join(hops)
    return f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
    FROM embeddings WHERE vec_id >= {N_QUERIES} AND {NONZERO_SQL}
),
q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS qnrm
    FROM embeddings WHERE vec_id < {N_QUERIES} AND {NONZERO_SQL}
),
tb AS (SELECT unnest(generate_series(0, {COSINE_LSH_TABLES - 1})) AS table_id),
bk AS (
    SELECT vec_id, table_id, {plane_bit_sql(NSW_BITS)} AS bucket
    FROM (SELECT vec_id, emb FROM e) e CROSS JOIN tb
),
ck AS (
    SELECT vec_id, table_id, bucket,
           (row_number() OVER (PARTITION BY table_id, bucket
                               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1)
               // {COSINE_BLOCK_CAP} AS sub
    FROM bk
),
pairs AS (
    SELECT DISTINCT a.vec_id AS pa, b.vec_id AS pb
    FROM ck a JOIN ck b
      ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.sub = b.sub
     AND a.vec_id < b.vec_id
),
sym AS (
    SELECT pa AS src, pb AS dst, {d2_pair} AS cosine
    FROM pairs JOIN e ea ON ea.vec_id = pa JOIN e eb ON eb.vec_id = pb
    UNION ALL
    SELECT pb AS src, pa AS dst, {d2_pair} AS cosine
    FROM pairs JOIN e ea ON ea.vec_id = pa JOIN e eb ON eb.vec_id = pb
),
edges AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cosine DESC, dst ASC) AS rn
        FROM sym
    ) WHERE rn <= {NSW_M}
),
entries AS (SELECT vec_id AS node FROM e WHERE vec_id % {NSW_ENTRY_STRIDE} = 0),
v0 AS (
    SELECT q.query_id, entries.node, {qscore} AS score
    FROM q, entries JOIN e ON e.vec_id = entries.node
),{hops_sql}
SELECT query_id, neighbor_id, cosine FROM (
    SELECT query_id, node AS neighbor_id, score AS cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, node ASC) AS rn
    FROM {prev}
) WHERE rn <= {TOP_K}
"""


@register(
    "sim_nsw_topk",
    oracle=_nsw_oracle(),
    tags=("similarity", "topk", "nsw", "graph", "ann", "north-star"),
    doc=(
        "Graph-based ANN (the NSW family — HNSW's single-layer core): "
        "a bounded-degree neighbor graph built from the md5-portable "
        "LSH blocking (per-node top-M bucket-mates by cosine), searched "
        "by an H-hop beam from a deterministic multi-entry set (every STRIDE-th vector — entry diversity, not beam width, is what buys recall on isotropic geometry) — beam = "
        "top-B of visited, expand out-edges, score, repeat; static "
        "unrolled dataflow, zero driver round trips. Visited set is "
        "bounded at Q x (entries + H*B*M) rows so every ranking window is "
        "bounded; one corpus scan per hop for vector lookup (production "
        "co-locates neighbor vectors with adjacency, HNSW-style). "
        "Completes the ANN triad next to sim_ivf_topk and "
        "sim_pq_adc_topk; value-hash exact against the unrolled DuckDB "
        "twin, recall floored in tests/test_nsw.py."
    ),
)
def sim_nsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nsw_topk(spark, sf_dir)
