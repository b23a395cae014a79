"""User-defined function surface: Python UDTF, vectorized pandas_udf,
grouped-agg pandas UDAF, and the pure-SQL entry point.

The engine's hot paths are 100% built-in Catalyst expressions (SURVEY.md
§2 'UDF/UDAF' row — the reference itself uses only builtins). These
operators exist to cover the *capability* checklist: when a user genuinely
needs Python, the right tools are (in order) vectorized Arrow-batched
pandas_udf / grouped-agg pandas UDAF (10-100x over row-at-a-time), and
UDTF for table-valued expansion. Each query here has a builtin-only
equivalent elsewhere in the repo (embed_norm_stats, agg_pricing_summary)
so the overhead is measurable, not hidden.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.registry import register
from spark_kinesis_article_analysis_spark.functions.similarity import (
    VALID_OR_NULL_SQL,
    valid_vector,
)


@register(
    "udtf_sentence_spans",
    oracle="""
WITH spans AS (
    SELECT doc_id,
           list_filter(list_transform(string_split_regex(text, '[.!?]'), p -> trim(p, ' ')),
                       p -> p <> '') AS sp
    FROM documents
)
SELECT doc_id, i - 1 AS span_idx, sp[i] AS span_text,
       CAST(len(string_split_regex(sp[i], '[ \\t\\n\\x0b\\f\\r]+')) AS INT) AS n_tokens
FROM spans, LATERAL unnest(generate_series(1, len(sp))) AS u(i)
""",
    tags=("udtf", "text"),
    doc=(
        "Python UDTF (table-valued function): one document row expands to its "
        "sentence-ish spans with index and token count, invoked via SQL "
        "LATERAL. Row-at-a-time Python — capability demo; the builtin "
        "posexplode form (scalar_posexplode) is the hot-path equivalent."
    ),
)
def udtf_sentence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="span_idx int, span_text string, n_tokens int")
    class SentenceSpans:
        def eval(self, text: str):
            idx = 0
            for part in re.split(r"[.!?]", text or ""):
                span = part.strip(" ")
                if span:
                    yield (idx, span, len(re.split(r"[ \t\n\x0b\f\r]+", span)))
                    idx += 1

    spark.udtf.register("sentence_spans", SentenceSpans)
    load(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT doc_id, s.span_idx, s.span_text, s.n_tokens "
        "FROM _udtf_docs, LATERAL sentence_spans(text) s"
    )


@register(
    "udf_pandas_vector_norm",
    oracle=f"""
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS l2_norm
FROM embeddings
WHERE {VALID_OR_NULL_SQL}
""",
    tags=("udf", "pandas", "similarity"),
    doc=(
        "Vectorized (Arrow-batched) scalar pandas_udf: per-row L2 norm "
        "computed with numpy over the whole batch. The builtin higher-order "
        "fold (embed_norm_stats) is the zero-Python equivalent."
    ),
)
def udf_pandas_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("double")
    def l2_norm(emb: pd.Series) -> pd.Series:
        import numpy as np

        # NULL embedding -> NULL norm, matching the builtin fold and the
        # oracle's list_sum(NULL) propagation (a bare np.dot(None, None)
        # would kill the whole Arrow batch instead of one row).
        return emb.map(lambda v: None if v is None else float(np.sqrt(np.dot(v, v))))

    e = (
        load(spark, sf_dir, "embeddings")
        .filter(valid_vector(or_null=True))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    return e.select("vec_id", F.round(l2_norm("emb"), 6).alias("l2_norm"))


@register(
    "udaf_pandas_weighted_mean",
    oracle="""
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS weighted_mean_price
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("udaf", "pandas", "agg"),
    doc=(
        "Grouped-agg pandas UDAF (GROUPED_AGG pandas_udf): quantity-weighted "
        "mean price per return flag. Arrow ships each group's columns to "
        "Python once; the builtin sum()/sum() expression form is the "
        "zero-Python equivalent."
    ),
)
def udaf_pandas_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("double")
    def wmean(price: pd.Series, qty: pd.Series) -> float:
        # min_count=1 mirrors SQL aggregate NULL semantics: pandas'
        # default skipna sum turns an all-NULL numerator into 0.0 where
        # sum(price*qty) is NULL — fuzz find #17 (a group whose every
        # price is NULL returned 0.0 instead of NULL). With min_count=1
        # both sums go NaN when no valid value exists and the division
        # propagates it, exactly like the zero-Python twin.
        num = (price * qty).sum(min_count=1)
        den = qty.sum(min_count=1)
        # Zero/NULL denominator -> NULL, never inf: both Spark's
        # non-ANSI Divide and DuckDB's double `/` yield NULL when the
        # divisor is 0 — fuzz find #20 (quantities [1,-4,1,2] sum to
        # exactly 0 and float division returned inf).
        if pd.isna(num) or pd.isna(den) or den == 0.0:
            return None
        return float(num / den)

    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(wmean("l_extendedprice", "l_quantity"), 4).alias("weighted_mean_price"))
    )


_SQL_REVENUE_BY_NATION = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register(
    "sql_interface_revenue_by_nation",
    oracle=_SQL_REVENUE_BY_NATION,
    tags=("sql", "join", "agg"),
    doc=(
        "Pure SQL front-end: the exact same ANSI text runs on spark.sql() "
        "(over registered views) and on the DuckDB oracle — Catalyst plans "
        "it identically to the DataFrame form (broadcast dims, one fact "
        "shuffle)."
    ),
)
def sql_interface_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("lineitem", "orders", "customer", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_REVENUE_BY_NATION)


@register(
    "grouped_map_zscore",
    oracle="""
WITH t AS (
    SELECT doc_id, lang, length(text) AS n_chars FROM documents
)
SELECT doc_id, lang,
       round((n_chars - avg(n_chars) OVER (PARTITION BY lang))
             / stddev_samp(n_chars) OVER (PARTITION BY lang), 6) AS z
FROM t
""",
    tags=("udf", "pandas", "grouped-map"),
    doc=(
        "Grouped-map applyInPandas: per-language z-score of document length, "
        "each group normalized as one Arrow-batched pandas DataFrame. The "
        "window-function form in the oracle is the builtin equivalent — "
        "use applyInPandas only when the per-group logic genuinely needs "
        "pandas/numpy (sklearn transforms, per-group model scoring)."
    ),
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=1)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "z": ((pdf["n_chars"] - mu) / sd).round(6),
            }
        )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )
    return d.groupBy("lang").applyInPandas(zscore, "doc_id long, lang string, z double")
