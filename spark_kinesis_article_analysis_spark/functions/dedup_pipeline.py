"""The complete near-duplicate REMOVAL pipeline, end-to-end and
oracle-exact: portable MinHash-LSH candidate pairs -> exact-Jaccard
verify -> connected components over the verified-pair graph ->
canonical-survivor election.

``functions/dedup.py`` proves each stage in isolation; a production
corpus dedup runs them COMPOSED, and the composition has its own
failure modes (pairs double-counted across bands, transitive chains
split across components, survivors elected per-pair instead of
per-cluster). This module registers the composed flow as one
driver-verifiable query: because the LSH stage uses the md5-portable
geometry (`dedup._portable_minhash_geometry`, the same constants that
generate the oracle SQL) and component labels are min doc_ids, every
row of the final survivor table is value-hash-checked against DuckDB
running the identical pipeline (banded CTEs + recursive-CTE closure).

Scale shape: the LSH/verify stages inherit ``dedup.py``'s plan (banded
buckets, intra-bucket expansion, candidate-only verify); the component
stage propagates labels over the VERIFIED pair graph only — a
vanishing fraction of the corpus — with :func:`propagate_over_edges`,
the package's one connected-components loop (min-label propagation +
pointer jumping + one localCheckpoint per round, O(log diameter)
rounds; ``pipeline.dedup_cluster_components`` runs it too, over
key-group star edges). The edge list is materialised once on entry,
so the LSH/verify plan runs once, not once per round. The convergence
probe is one O(1) scalar agg per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.dedup import (
    _BANDED_SQL,
    _MINHASH_SQL,
    _SHINGLE_SQL,
    VERIFY_JACCARD_MIN,
    _minhash_lsh_pipeline,
    _portable_minhash_geometry,
)
from spark_kinesis_article_analysis_spark.registry import register

#: Jaccard floor for an LSH candidate pair to become a dedup edge — the
#: SAME object ``_minhash_lsh_pipeline``'s verify filter reads, so this
#: module's oracle f-string cannot desync from the Spark path (r7 ADVICE:
#: the two used to be independent literals).
EDGE_JACCARD_MIN = VERIFY_JACCARD_MIN


#: Round from which each propagation round adds one pointer jump. A
#: typical duplicate graph (small stars, diameter <= 3) converges
#: before a jump would help, and the chase join costs a shuffle.
JUMP_AFTER = 2


def propagate_over_edges(
    labels: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Min-label propagation over an explicit directed edge list — the
    connected-components loop of the MapReduce family (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    ``labels``: (doc_id, label), each seed label a doc_id of the node's
    own component (label=doc_id always is); ``edges``: (src, dst), must
    contain both directions of every undirected edge. Both inputs are
    materialised once on entry, so a lazy ``edges`` plan (LSH, key-group
    windows) is evaluated once, not once per round.
    Per round: each node takes the min of its own label and its
    in-neighbors' labels; from round ``JUMP_AFTER`` on, one pointer jump
    (labels are doc_ids, so chase label -> that doc's label) halves
    remaining chain lengths — O(JUMP_AFTER + log diameter) rounds.
    Labels only decrease, so the label SUM is strictly decreasing until
    the fixpoint: the convergence probe is one scalar agg per round
    (the documented O(1) collect). The sum accumulates in DECIMAL(38,0),
    not BIGINT: labels are doc_ids, and on a 64-bit id domain a BIGINT
    sum could wrap (non-ANSI overflow), aliasing two distinct label
    states and falsely signalling convergence — DECIMAL keeps the
    strictly-decreasing signal injective (r7 ADVICE).
    Raises loudly on non-convergence: with pointer jumping that means
    diameter ~2^max_rounds, and a silent exit would split components."""
    labels = labels.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    prev_sum = None
    for rnd in range(max_rounds):
        neigh = edges.join(labels, edges["src"] == labels["doc_id"]).select(
            edges["dst"].alias("doc_id"), "label"
        )
        merged = (
            labels.unionByName(neigh).groupBy("doc_id").agg(F.min("label").alias("label"))
        )
        if rnd >= JUMP_AFTER:
            chase = merged.select(
                F.col("doc_id").alias("jl"), F.col("label").alias("jll")
            )
            merged = merged.join(chase, merged["label"] == chase["jl"], "left").select(
                "doc_id", F.least("label", F.coalesce("jll", "label")).alias("label")
            )
        labels = merged.localCheckpoint(eager=True)
        label_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if label_sum == prev_sum:
            return labels
        prev_sum = label_sum
    raise RuntimeError(
        "propagate_over_edges: component propagation did not converge "
        f"within max_rounds={max_rounds} (graph diameter ~2^{max_rounds} "
        "with pointer jumping — pass a larger max_rounds for this corpus)"
    )


@register(
    "dedup_near_dup_end_to_end",
    oracle=f"""
WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
mh AS (
    SELECT doc_id,
           {_MINHASH_SQL}
    FROM sh GROUP BY doc_id
),
banded AS (
    {_BANDED_SQL}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT doc_a, doc_b, count(*) AS i
    FROM cand
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
),
verified AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE i / (na.n + nb.n - i) >= {EDGE_JACCARD_MIN}
),
e AS (
    SELECT doc_a AS src, doc_b AS dst FROM verified
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM verified
),
walk(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.src, w.label FROM walk w JOIN e ON e.dst = w.doc_id
)
SELECT doc_id,
       min(label) AS component_id,
       CAST(count(*) OVER (PARTITION BY min(label)) AS BIGINT) AS component_size,
       doc_id = min(label) AS is_survivor
FROM walk
GROUP BY doc_id
""",
    tags=("dedup", "minhash", "components", "end-to-end", "north-star"),
    doc=(
        "The composed near-dup removal flow: md5-portable MinHash-LSH "
        "candidates -> exact-Jaccard verify (>= 0.1) -> connected components "
        "over the verified-pair graph -> survivor = the component's min "
        "doc_id. Docs touching no verified pair are singleton survivors "
        "(NULL/short text included). Every stage value-hash-checked against "
        "the identical DuckDB pipeline."
    ),
)
def dedup_near_dup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_components(load(spark, sf_dir, "documents"))


def near_dup_components(d: DataFrame) -> DataFrame:
    """The composed flow over any (doc_id, text) frame — see the
    registered spec's doc for semantics."""
    minhash, band_key = _portable_minhash_geometry()
    pairs = _minhash_lsh_pipeline(d, minhash, band_key).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    seed = d.select("doc_id", F.col("doc_id").alias("label"))
    comp = propagate_over_edges(seed, edges)
    return comp.select(
        "doc_id",
        F.col("label").alias("component_id"),
        F.count("*").over(W.partitionBy("label")).alias("component_size"),
        (F.col("doc_id") == F.col("label")).alias("is_survivor"),
    )
