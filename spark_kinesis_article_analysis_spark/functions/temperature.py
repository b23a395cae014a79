"""Temperature-scaled source mixing — the multilingual/multi-source
sampling-rate computation every large pretraining mix runs (the
p_s^alpha rebalancing of XLM-R / mT5: raising low-resource sources,
damping the head, alpha in (0, 1]).

``corpus_token_budget_mix`` (functions/mixing.py) SELECTS documents
under fixed per-source budgets; this operator computes WHAT those
budgets should be: per-source token mass -> alpha-tempered weights ->
token quotas against a global budget, with the effective sampling
multiplier per source made explicit for audit (multiplier > 1 means
the source is upsampled / will repeat epochs; the standard mix-design
artifact).

    w_s = n_s^alpha / sum_t n_t^alpha
    quota_s = B * w_s          (B = TEMP_BUDGET tokens)
    mult_s = quota_s / n_s     (epochs of source s consumed at quota)

Scale shape: ONE map-side-combined aggregation to source grain
(sources are few — the output is dashboard-sized), a 1-row broadcast
of the normalizer, pure arithmetic after. The token counter is the
shared whitespace tokenization (split + size fold, no explode — token
COUNTS don't need token rows).

Float discipline: pow(n, 0.3) = exp(alpha ln n) is evaluated by both
engines in double; the weight divides two such terms once and rounds
to 6 (the ln/avg hash-match precedent class). Quotas stay DOUBLE
(round(B * w, 6)) rather than floor()ing to integers — an integer
cliff would turn a last-ulp weight difference into an off-by-one hash
mismatch; the consumer owns the final integral allocation policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register

#: sampling temperature exponent (XLM-R's multilingual alpha).
TEMP_ALPHA = 0.3
#: global token budget the quotas divide.
TEMP_BUDGET = 1_000_000

_TOKS = r"string_split_regex(text, '[ \t\n\x0b\f\r]+')"


@register(
    "corpus_mix_temperature",
    oracle=f"""
WITH src AS (
    SELECT source, CAST(sum(len({_TOKS})) AS DOUBLE) AS n_tokens
    FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    GROUP BY source
),
z AS (SELECT sum(pow(n_tokens, {TEMP_ALPHA})) AS z FROM src)
SELECT source,
       CAST(n_tokens AS BIGINT)                                   AS n_tokens,
       round(pow(n_tokens, {TEMP_ALPHA}) / z, 6)                  AS weight,
       round({TEMP_BUDGET} * pow(n_tokens, {TEMP_ALPHA}) / z, 6)  AS quota_tokens,
       round({TEMP_BUDGET} * pow(n_tokens, {TEMP_ALPHA}) / z / n_tokens, 6)
           AS sample_multiplier
FROM src, z
""",
    tags=("corpus", "mixing", "temperature", "sampling", "north-star"),
    doc=(
        "Temperature-scaled source mixing weights (the p^alpha "
        "rebalancing of XLM-R/mT5, alpha=0.3): per-source token mass -> "
        "tempered weight n^alpha / sum(n^alpha) -> token quota against "
        "a global budget + the effective sampling multiplier (>1 = "
        "upsampled source repeats epochs). One source-grain aggregation "
        "+ a 1-row normalizer broadcast; companion to "
        "corpus_token_budget_mix, which enforces the budgets this "
        "operator designs."
    ),
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", F.size(tokens_col()).alias("toks"))
        .groupBy("source")
        .agg(F.sum("toks").cast("double").alias("n_tokens"))
    )
    z = src.agg(F.sum(F.pow("n_tokens", F.lit(TEMP_ALPHA))).alias("z"))
    w = F.pow("n_tokens", F.lit(TEMP_ALPHA)) / F.col("z")
    return src.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(w, 6).alias("weight"),
        F.round(F.lit(TEMP_BUDGET) * w, 6).alias("quota_tokens"),
        F.round(F.lit(TEMP_BUDGET) * w / F.col("n_tokens"), 6).alias(
            "sample_multiplier"
        ),
    )
