"""Semantic (embedding-space) deduplication with the SemDeDup retention
policy: cluster first, then drop near-duplicates inside each cluster,
keeping the member closest to its centroid.

MinHash/Jaccard families catch *lexical* duplication; semantically
redundant documents (same content re-worded, translations, templated
rewrites) only collide in embedding space. The published recipe
(SemDeDup, Abbas et al. 2023, arXiv:2303.09540) is: k-means the
embeddings, compare pairs ONLY within a cluster, and where a pair's
cosine exceeds a threshold keep the vector closest to the cluster
centroid — the "most representative" member — dropping the rest.

This spec is that pipeline in oracle-exact form:

* **Clustering**: one deterministic assignment round to the seeded
  centroid set (vec_id < K, the ``cluster_kmeans_portable`` init), by
  ROUNDED cosine (argmax, cid tiebreak) — the centroid kernel of
  ``functions/similarity.py``. The full Lloyd loop is
  ``cluster_kmeans_lloyd``'s job; this spec needs a *fixed* partition
  of the space, and one assignment round keeps the oracle one CTE.
* **Intra-cluster chunking**: clusters are md5-order sub-split at
  ``SEM_BLOCK_CAP`` vectors (the ``dedup_embedding_cosine`` cap
  pattern) so per-task pair work is <= CAP^2 and total candidate work
  stays LINEAR in corpus size no matter how lopsided the clustering —
  the honest price is missed cross-chunk pairs inside oversized
  clusters, identical on both engines.
* **Retention**: inside a chunk, a vector is dropped iff some
  qualifying partner (rounded cosine >= ``SEM_TAU``) sits strictly
  closer to the centroid (rounded; vec_id breaks exact ties). Per
  near-dup neighborhood exactly the best-anchored member survives.

Scale shape: centroids fold to ONE broadcast row; assignment is
map-side argmax inside a higher-order expression (no pair-grain rows);
the chunk id is one per-cluster window; the pair stage self-joins on
the bounded (cluster, chunk) key. The only corpus-grain shuffles are
the chunk window and the pair join's co-partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.similarity import (
    NONZERO_SQL,
    _cosine_vectors,
    dot,
    fold_centroids,
    nearest_centroid_sql,
)
from spark_kinesis_article_analysis_spark.registry import register

#: Seeded centroid count (vec_id < K — cluster_kmeans_portable's init).
SEM_K = 8
#: Near-duplicate cosine threshold (rounded-6 compare on both engines).
SEM_TAU = 0.3
#: Per-(cluster, chunk) residency cap — bounds pair work at CAP^2.
SEM_BLOCK_CAP = 64


def _sem_oracle() -> str:
    cos = "round(list_cosine_similarity({a}, {b}), 6)"
    cos_cent = cos.format(a="e.v", b="c.cent")
    cos_pair = cos.format(a="a.v", b="b.v")
    return f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE {NONZERO_SQL}
),
c0 AS (SELECT vec_id AS cid, v AS cent FROM e WHERE vec_id < {SEM_K}),
a0 AS (
    SELECT vec_id, v, cluster, cos_cent FROM (
        SELECT e.vec_id, e.v, c.cid AS cluster, {cos_cent} AS cos_cent,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_cent} DESC, c.cid ASC) AS rn
        FROM e CROSS JOIN c0 c
    ) WHERE rn = 1
),
ck AS (
    SELECT vec_id, v, cluster, cos_cent,
           (row_number() OVER (PARTITION BY cluster
                               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1)
               // {SEM_BLOCK_CAP} AS sub
    FROM a0
),
dropped AS (
    SELECT DISTINCT a.vec_id
    FROM ck a JOIN ck b
      ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id <> b.vec_id
    WHERE {cos_pair} >= {SEM_TAU}
      AND (b.cos_cent > a.cos_cent
           OR (b.cos_cent = a.cos_cent AND b.vec_id < a.vec_id))
)
SELECT ck.vec_id, ck.cluster, ck.cos_cent,
       d.vec_id IS NULL AS kept
FROM ck LEFT JOIN dropped d ON d.vec_id = ck.vec_id
"""


@register(
    "dedup_semantic_cluster",
    oracle=_sem_oracle(),
    tags=("dedup", "semantic", "embedding", "semdedup", "north-star"),
    doc=(
        "SemDeDup-style semantic dedup (arXiv:2303.09540): assign every "
        "valid vector to its max-cosine seeded centroid (vec_id < 8, "
        "rounded argmax), md5-chunk each cluster at 64 vectors, and inside "
        "a chunk drop any vector that has a >= 0.3-cosine partner sitting "
        "strictly closer to the centroid (vec_id tiebreak) — per near-dup "
        "neighborhood the most representative member survives. Centroids "
        "broadcast as one folded row, assignment is a map-side higher-order "
        "argmax, and pair work is capped at 64^2 per chunk — linear total "
        "candidate work at any corpus size."
    ),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consumed 3x (both pair sides + output). r12: persist() instead of
    # the r11 EAGER localCheckpoint — eager paid a separate build-time
    # job for the whole assign+chunk subtree, and the checkpoint's
    # ExistingRDD hid its stats from the planner; persist materializes
    # once inside the main action and keeps InMemoryRelation stats
    # (the dedup_containment measurement, same trade note there).
    ck = _semantic_chunks(spark, sf_dir).persist()
    return _semantic_keep(ck)


def _semantic_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY (vec_id, v, nrm, cluster, cos_cent, sub) frame — split
    from the registered builder so plan tests can pin the broadcast
    centroid join and map-side argmax before the checkpoint truncates
    the plan (the ``graph._pagerank_frames`` pattern)."""
    e = _cosine_vectors(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("emb").alias("v"), "nrm"
    )
    folded = fold_centroids(
        e.filter(F.col("vec_id") < SEM_K).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cent"), F.col("nrm").alias("cnrm")
        ),
        "cnrm",
    )
    # the centroid kernel's cosine argmin: (negated rounded cosine, cid),
    # so the order matches the oracle's (cos DESC, cid ASC) row_number.
    # NULL best (empty centroid set) drops the row: the oracle's CROSS
    # JOIN against an empty c0 emits nothing (the kmeans empty-seed
    # rule, fuzz find #24).
    a0 = (
        e.join(F.broadcast(folded))
        .withColumn("b", F.expr(nearest_centroid_sql("v", metric="cos")))
        .filter(F.col("b").isNotNull())
        .select(
            "vec_id",
            "v",
            "nrm",
            F.col("b.cid").alias("cluster"),
            (-F.col("b.score")).alias("cos_cent"),
        )
    )
    w = W.partitionBy("cluster").orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return a0.withColumn(
        "sub", ((F.row_number().over(w) - 1) / SEM_BLOCK_CAP).cast("long")
    )


def _semantic_keep(ck: DataFrame) -> DataFrame:
    """Pair stage + retention over the (checkpointed) chunk frame."""
    a = ck.alias("a")
    b = ck.alias("b")
    pair_cos = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    better = (F.col("b.cos_cent") > F.col("a.cos_cent")) | (
        (F.col("b.cos_cent") == F.col("a.cos_cent"))
        & (F.col("b.vec_id") < F.col("a.vec_id"))
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .filter((pair_cos >= SEM_TAU) & better)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    d = dropped.withColumn("is_dropped", F.lit(True))
    return (
        ck.join(d, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "cos_cent",
            F.col("is_dropped").isNull().alias("kept"),
        )
    )
