"""Corpus-curation operators the big crawl pipelines run between dedup
and training: containment detection and per-domain frequency caps.

The reference has no corpus surface at all (its 249 LoC process a
Kinesis article stream, ``app/process_articles.py``); these extend the
engine the same way ``functions/dedup.py``/``pipeline.py`` do, per the
mandated LLM-training-data scope.

* **Containment** (`dedup_containment`): Jaccard under-weighs a short
  document copied INSIDE a long one (|A∩B|/|A∪B| is diluted by the long
  side), which is exactly the quote/boilerplate/wrapper-page duplication
  a crawl is full of. Containment C(A in B) = |A∩B| / |A| scores the
  short side directly. Same scale shape as ``dedup_ngram_jaccard``:
  one inverted-index shuffle, df-capped posting lists, intra-list pair
  expansion — never an all-pairs or shingle-grain self-join.
* **Domain caps** (`corpus_domain_cap`): crawl pipelines cap documents
  per registrable domain so boilerplate-heavy hosts can't dominate the
  training mixture (C4/RefinedWeb-style). Selection must be
  DETERMINISTIC (content-addressed hash order, not arrival order) so
  reruns and engine swaps keep the identical corpus. The hot-domain
  skew shape is the two-phase sharded top-k (`operators/skew.py`
  rationale): per-(domain, salt) partial rank bounds any single task at
  cap x shards rows, then the tiny survivor set re-ranks globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.dedup import (
    MAX_SHINGLE_DF,
    _SHINGLE_SQL,
    shared_shingle_counts,
)
from spark_kinesis_article_analysis_spark.registry import register

#: Containment floor: the smaller document must have at least this
#: fraction of its shingles inside the pair's other side.
CONTAINMENT_MIN = 0.5

#: Per-domain document budget.
DOMAIN_CAP = 8
#: Salt fan-out for the hot-domain two-phase rank.
DOMAIN_CAP_SHARDS = 8


@register(
    "dedup_containment",
    oracle=f"""
WITH shingled AS ({_SHINGLE_SQL}),
hot AS (SELECT shingle FROM shingled GROUP BY shingle HAVING count(*) > {MAX_SHINGLE_DF}),
kept AS (SELECT s.* FROM shingled s ANTI JOIN hot h ON s.shingle = h.shingle),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(inter / sa.sz, 6) AS containment_a,
       round(inter / sb.sz, 6) AS containment_b
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / sa.sz >= {CONTAINMENT_MIN} OR inter / sb.sz >= {CONTAINMENT_MIN}
""",
    tags=("dedup", "containment", "ngram", "north-star"),
    doc=(
        "Word-3-gram CONTAINMENT near-dup pairs: C(A in B) = |A∩B| / |A| "
        "per direction, kept when either side is >= 0.5 contained — "
        "catches a short document copied inside a long one, which Jaccard "
        "dilutes below any usable threshold. Same linear plan as "
        "dedup_ngram_jaccard: df-capped inverted index, intra-posting-list "
        "pair expansion, one corpus-grain shuffle."
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = shared_shingle_counts(load(spark, sf_dir, "documents"))
    ca = F.col("inter") / F.col("sa.sz")
    cb = F.col("inter") / F.col("sb.sz")
    return counts.filter((ca >= CONTAINMENT_MIN) | (cb >= CONTAINMENT_MIN)).select(
        "doc_a",
        "doc_b",
        F.round(ca, 6).alias("containment_a"),
        F.round(cb, 6).alias("containment_b"),
    )


@register(
    "corpus_domain_cap",
    oracle=f"""
SELECT doc_id, source,
       CAST(CASE WHEN rnk <= {DOMAIN_CAP} THEN rnk END AS BIGINT) AS domain_rank,
       rnk <= {DOMAIN_CAP}                                        AS kept
FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
           ) AS rnk
    FROM documents
    WHERE doc_id IS NOT NULL
)
""",
    tags=("curation", "domain-cap", "sampling", "north-star"),
    doc=(
        "Per-domain document budget (C4/RefinedWeb-style host cap): every "
        "document is ranked inside its source by the md5 of its doc_id — a "
        "content-addressed, rerun- and engine-stable order — and kept while "
        "rank <= 8; kept rows carry their exact rank (audit view), dropped "
        "rows carry NULL (their exact overflow rank would cost a full-domain "
        "order for rows the pipeline is discarding). Hot-domain skew: the "
        "rank runs as a two-phase (source, salt)-sharded top-k — any single "
        "task holds at most cap x shards candidate rows of a hot domain, "
        "never the whole domain (the skew.py pattern; plan pinned)."
    ),
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("hk"))
    )
    # Phase 1: rank inside (source, salt) and keep only plausible
    # survivors — a doc can only make the global top-CAP of its domain if
    # it is within the top-CAP of its own shard. Bounds every task at
    # CAP x SHARDS rows per domain regardless of how hot the domain is.
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(DOMAIN_CAP_SHARDS))
    w1 = W.partitionBy("source", "s").orderBy(F.col("hk").asc(), F.col("doc_id").asc())
    shard_rank = (
        d.withColumn("s", salt)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= DOMAIN_CAP)
        .drop("r1", "s")
    )
    # Phase 2: exact global rank over the <= CAP x SHARDS survivors per
    # domain. Winners are exactly the domain's CAP hash-smallest docs
    # (any global top-CAP doc is top-CAP within its own shard), so the
    # two-phase rank equals the oracle's full-domain row_number for every
    # kept row.
    w2 = W.partitionBy("source").orderBy(F.col("hk").asc(), F.col("doc_id").asc())
    winners = (
        shard_rank.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= DOMAIN_CAP)
        .select("doc_id", F.col("rnk").alias("domain_rank"))
    )
    # Dropped rows rank NULL by contract; the anti-join right side is the
    # bounded winner set (<= CAP x n_domains rows — broadcastable at any
    # corpus scale).
    return (
        d.join(F.broadcast(winners), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.col("domain_rank").cast("long").alias("domain_rank"),
            F.col("domain_rank").isNotNull().alias("kept"),
        )
    )
