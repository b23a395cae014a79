"""Stupid-Backoff trigram LM scoring — the next rung above
``text_bigram_logprob`` on the data-quality LM ladder (Brants et al.
2007, "Large Language Models in Machine Translation": at web scale the
right model is count ratios with a constant backoff multiplier, no
discounting — the exact shape a Spark pipeline can compute from pure
count aggregates).

Held-out construction (the part that makes backoff REAL): a trigram
model trained on the scored corpus itself never backs off — every
scored trigram is in the counts by construction. So the corpus splits
by parity: even doc_ids are the MODEL half (counts), odd doc_ids are
the SCORED half. Backoff then fires exactly where it should — on
scored trigrams the model half never saw:

    S(c | a b) = tc(a,b,c) / bc(a,b)                 if tc > 0
               = 0.4 * bc(b,c) / uc(b)               else if bc(b,c) > 0
               = 0.4^2 * (uc(c) + 0.5)/(N + 0.5*V)   else (add-k floor,
                 so an out-of-vocabulary word scores finite, not -inf)

Per-document mean ln S over its trigrams, rounded to 6 — the same
float discipline as the bigram spec (ln/avg hash-match precedent).

Scale shape: three corpus-grain count aggregations over the model half
(trigram, bigram, unigram — each one exchange with map-side partial
combine), scalar N/V on a 1-row broadcast, then the scoring joins.
The trigram->counts joins are AQE-skew-splittable on hot n-grams —
identical posture to text_bigram_logprob one order up. At 100 TB the
model half's count tables are themselves table-scale: they stay
SHUFFLE joins (no broadcast hint anywhere — the BPE vocab-broadcast
lesson, r11 verdict item 5, applied at design time here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register

#: Brants et al.'s backoff multiplier ("we use alpha = 0.4").
SB_ALPHA = 0.4
#: add-k floor at the unigram level so OOV words score finite.
SB_K = 0.5

_TOKS = r"string_split_regex(text, '[ \t\n\x0b\f\r]+')"


@register(
    "text_trigram_backoff_logprob",
    oracle=f"""
WITH docs AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
),
model AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
scored AS (SELECT * FROM docs WHERE doc_id % 2 = 1 AND len(toks) >= 3),
uc AS (
    SELECT t.term AS w, CAST(count(*) AS DOUBLE) AS cu
    FROM model, LATERAL unnest(toks) AS t(term) GROUP BY t.term
),
nv AS (SELECT CAST(sum(cu) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM uc),
bc AS (
    SELECT pr[1] AS a, pr[2] AS b, CAST(count(*) AS DOUBLE) AS cb
    FROM (SELECT unnest(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)])) AS pr
          FROM model WHERE len(toks) >= 2)
    GROUP BY a, b
),
tc AS (
    SELECT tr[1] AS a, tr[2] AS b, tr[3] AS c, CAST(count(*) AS DOUBLE) AS ct
    FROM (SELECT unnest(list_zip(toks[1:len(toks) - 2], toks[2:len(toks) - 1],
                                 toks[3:len(toks)])) AS tr
          FROM model WHERE len(toks) >= 3)
    GROUP BY a, b, c
),
grams AS (
    SELECT doc_id, tr[1] AS a, tr[2] AS b, tr[3] AS c
    FROM (SELECT doc_id, unnest(list_zip(toks[1:len(toks) - 2], toks[2:len(toks) - 1],
                                         toks[3:len(toks)])) AS tr
          FROM scored)
),
s AS (
    SELECT g.doc_id,
           CASE
             WHEN tc.ct IS NOT NULL THEN tc.ct / bab.cb
             WHEN bbc.cb IS NOT NULL THEN {SB_ALPHA} * bbc.cb / ub.cu
             ELSE {SB_ALPHA} * {SB_ALPHA} * (coalesce(ucc.cu, 0) + {SB_K})
                  / (nv.n + {SB_K} * nv.v)
           END AS score
    FROM grams g
    LEFT JOIN tc  ON tc.a = g.a AND tc.b = g.b AND tc.c = g.c
    LEFT JOIN bc bab ON bab.a = g.a AND bab.b = g.b
    LEFT JOIN bc bbc ON bbc.a = g.b AND bbc.b = g.c
    LEFT JOIN uc ub  ON ub.w = g.b
    LEFT JOIN uc ucc ON ucc.w = g.c, nv
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       round(avg(ln(score)), 6) AS avg_sb_logprob
FROM s GROUP BY doc_id
""",
    tags=("text", "quality", "lm", "trigram", "backoff", "north-star"),
    doc=(
        "Stupid-Backoff trigram LM quality score (Brants et al. 2007): "
        "held-out scoring — counts from the even-doc_id half, scores on "
        "the odd half, so the backoff chain (trigram ratio -> 0.4 x "
        "bigram ratio -> 0.16 x smoothed unigram floor) actually fires "
        "on unseen n-grams instead of being dead code. Three count "
        "exchanges over the model half, shuffle (never broadcast) "
        "scoring joins, 1-row N/V broadcast; per-doc mean ln score. "
        "The web-scale LM-filter shape: count ratios, no discounting."
    ),
)
def text_trigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("toks")
    )
    model = docs.filter(F.col("doc_id") % 2 == 0)
    scored_docs = docs.filter((F.col("doc_id") % 2 == 1) & (F.size("toks") >= 3))

    uc = (
        model.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("double").alias("cu"))
    )
    nv = uc.agg(
        F.sum("cu").cast("double").alias("n"), F.count("*").cast("double").alias("v")
    )

    def _bigrams(d: DataFrame) -> DataFrame:
        return d.filter(F.size("toks") >= 2).select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1), "
                    "slice(toks, 2, size(toks) - 1), (x, y) -> struct(x AS a, y AS b))"
                )
            ).alias("pr"),
        ).select("pr.a", "pr.b")

    bc = _bigrams(model).groupBy("a", "b").agg(
        F.count("*").cast("double").alias("cb")
    )

    tri_expr = F.expr(
        "zip_with(zip_with(slice(toks, 1, size(toks) - 2), "
        "slice(toks, 2, size(toks) - 2), (x, y) -> struct(x AS a, y AS b)), "
        "slice(toks, 3, size(toks) - 2), (p, z) -> struct(p.a AS a, p.b AS b, z AS c))"
    )
    tc = (
        model.filter(F.size("toks") >= 3)
        .select(F.explode(tri_expr).alias("tr"))
        .groupBy("tr.a", "tr.b", "tr.c")
        .agg(F.count("*").cast("double").alias("ct"))
    )
    grams = scored_docs.select("doc_id", F.explode(tri_expr).alias("tr")).select(
        "doc_id", F.col("tr.a").alias("a"), F.col("tr.b").alias("b"), F.col("tr.c").alias("c")
    )

    s = (
        grams.join(tc, ["a", "b", "c"], "left")
        .join(
            bc.select(F.col("a"), F.col("b"), F.col("cb").alias("cb_ab")),
            ["a", "b"],
            "left",
        )
        .join(
            bc.select(
                F.col("a").alias("b"), F.col("b").alias("c"), F.col("cb").alias("cb_bc")
            ),
            ["b", "c"],
            "left",
        )
        .join(uc.select(F.col("w").alias("b"), F.col("cu").alias("cu_b")), "b", "left")
        .join(uc.select(F.col("w").alias("c"), F.col("cu").alias("cu_c")), "c", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            F.when(F.col("ct").isNotNull(), F.col("ct") / F.col("cb_ab"))
            .when(
                F.col("cb_bc").isNotNull(),
                F.lit(SB_ALPHA) * F.col("cb_bc") / F.col("cu_b"),
            )
            .otherwise(
                F.lit(SB_ALPHA * SB_ALPHA)
                * (F.coalesce(F.col("cu_c"), F.lit(0.0)) + F.lit(SB_K))
                / (F.col("n") + F.lit(SB_K) * F.col("v"))
            )
            .alias("score"),
        )
    )
    return s.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.round(F.avg(F.log("score")), 6).alias("avg_sb_logprob"),
    )
