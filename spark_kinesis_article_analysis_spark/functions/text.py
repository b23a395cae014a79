"""Text analysis for training-data pipelines: tokenization, n-grams,
language-ID heuristic, quality scoring, document fingerprinting.

Generalizes the reference's single text op (whitespace word count,
``process_articles.py:74-75``) into the family an LLM-data pipeline
needs (BASELINE.json north star).

Everything is built-in Catalyst expressions (split/regexp/higher-order
array functions) — no Python UDFs — so the hot path stays inside
whole-stage codegen; at 100 TB these are scan-fused map-only stages
(zero shuffles except the explicit n-gram aggregation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.registry import register

#: Tiny per-language stopword markers for the heuristic language ID.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "es": ("el", "los", "que"),
    "fr": ("le", "les", "des"),
    "zh": ("de", "shi", "bu"),
}


def tokens_col(text_col: str | Column = "text") -> Column:
    """Whitespace-run tokenizer — the reference's exact tokenization —
    of a text column, by name or as a Column (a coalesced or case-mapped
    text). The package's one whitespace split."""
    return F.split(text_col, r"\s+")


@register(
    "text_token_count",
    oracle="""
SELECT doc_id,
       len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'))                  AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+'))           AS n_word_tokens,
       len(regexp_extract_all(text, '[0-9]+'))                 AS n_number_tokens,
       length(text)                                            AS n_chars_raw
FROM documents
""",
    tags=("text", "tokenize", "P5", "P6"),
    doc=(
        "Token counting two ways: whitespace runs (the reference's split+size) and a "
        "BPE-ish word/number regex (regexp_count), plus raw char length."
    ),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens_col()).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9]+")).alias("n_word_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[0-9]+")).alias("n_number_tokens"),
        F.length("text").alias("n_chars_raw"),
    )


@register(
    "text_quality_score",
    oracle="""
WITH t AS (
    SELECT doc_id, text, len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_tokens,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
           len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
                           x -> list_contains(['the','and','of','der','und','el','le','les'], x)))
               AS n_stop
    FROM documents
)
SELECT doc_id, n_tokens,
       round(n_chars / n_tokens, 6)                    AS mean_token_len,
       round(n_punct / greatest(n_chars, 1), 6)        AS punct_ratio,
       round(n_stop / greatest(n_tokens, 1), 6)        AS stopword_ratio,
       CASE WHEN n_tokens BETWEEN 20 AND 1000
             AND n_punct / greatest(n_chars, 1) < 0.1 THEN 1 ELSE 0 END AS quality_pass
FROM t
""",
    tags=("text", "quality"),
    doc=(
        "Document quality scoring: token count, mean token length, punctuation "
        "ratio, stopword ratio, and a pass/fail gate — the standard pre-training "
        "corpus filters."
    ),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in ["the", "and", "of", "der", "und", "el", "le", "les"]])
    t = d.select(
        "doc_id",
        F.size(tokens_col()).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))).alias("n_punct"),
        F.size(F.filter(tokens_col(), lambda x: F.array_contains(stop, x))).alias("n_stop"),
    )
    return t.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_chars") / F.col("n_tokens"), 6).alias("mean_token_len"),
        F.round(F.col("n_punct") / F.greatest(F.col("n_chars"), F.lit(1)), 6).alias("punct_ratio"),
        F.round(F.col("n_stop") / F.greatest(F.col("n_tokens"), F.lit(1)), 6).alias("stopword_ratio"),
        F.when(
            F.col("n_tokens").between(20, 1000)
            & (F.col("n_punct") / F.greatest(F.col("n_chars"), F.lit(1)) < 0.1),
            1,
        )
        .otherwise(0)
        .alias("quality_pass"),
    )


def _langid_case_sql() -> str:
    whens = []
    for lang, markers in LANG_MARKERS.items():
        cond = " OR ".join(
            f"list_contains(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), '{m}')" for m in markers
        )
        whens.append(f"WHEN ({cond}) THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'unknown' END"


@register(
    "text_langid",
    oracle=f"""
SELECT doc_id, lang AS labeled_lang, {_langid_case_sql()} AS predicted_lang
FROM documents
""",
    tags=("text", "langid"),
    doc=(
        "Heuristic language ID: first language whose stopword markers appear in the "
        "token set (n-gram/stopword heuristic — at scale this is a dictionary "
        "broadcast + array_contains, still JVM-side)."
    ),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens_col()
    expr = None
    for lang, markers in LANG_MARKERS.items():
        cond = None
        for m in markers:
            c = F.array_contains(toks, m)
            cond = c if cond is None else (cond | c)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    pred = expr.otherwise("unknown")
    return d.select("doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang"))


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'))), ' '))
           AS fingerprint,
       md5(substr(text, 1, 64)) AS prefix_hash
FROM documents
""",
    tags=("text", "fingerprint"),
    doc=(
        "Document fingerprinting: order-insensitive content hash (md5 over the "
        "sorted distinct token set — the canonical-form fingerprint) plus a prefix "
        "hash; both broadcast-joinable dedup keys at 100 TB."
    ),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.array_distinct(tokens_col())), " ")).alias("fingerprint"),
        F.md5(F.substring("text", 1, 64)).alias("prefix_hash"),
    )


@register(
    "text_top_bigrams",
    oracle="""
WITH toks AS (
    SELECT lang, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents
),
bigrams AS (
    SELECT lang, bg
    FROM toks, LATERAL unnest(list_transform(generate_series(1, len(t) - 1),
                                             i -> t[i] || ' ' || t[i + 1])) AS u(bg)
),
counted AS (
    SELECT lang, bg, count(*) AS n,
           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, bg ASC) AS rn
    FROM bigrams GROUP BY lang, bg
)
SELECT lang, bg, n FROM counted WHERE rn <= 5
""",
    tags=("text", "ngram"),
    doc=(
        "Token bigram extraction (higher-order transform over the token array) + "
        "per-language top-5 by frequency. N-gram generation is map-side; the only "
        "shuffle is the (lang, bigram) count."
    ),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("lang", tokens_col().alias("t"))
    bigrams = F.filter(
        F.transform(
            "t",
            lambda x, i: F.when(
                i < F.size(F.col("t")) - 1,
                F.concat(x, F.lit(" "), F.element_at(F.col("t"), i + 2)),
            ),
        ),
        lambda b: b.isNotNull(),
    )
    counted = (
        t.select("lang", F.explode(bigrams).alias("bg"))
        .groupBy("lang", "bg")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bg").asc())
    return counted.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5).select(
        "lang", "bg", "n"
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
WITH tok AS (
    SELECT doc_id, tkn
    FROM (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         LATERAL unnest(t) AS u(tkn)
),
tf AS (SELECT doc_id, tkn, count(*) AS tf FROM tok GROUP BY doc_id, tkn),
df AS (SELECT tkn, count(DISTINCT doc_id) AS df FROM tok GROUP BY tkn),
n AS (SELECT count(*) AS n_docs FROM documents),
weighted AS (
    SELECT tf.doc_id, tf.tkn AS term,
           round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY round(tf.tf * ln(n.n_docs / df.df), 6) DESC,
                                       tf.tkn ASC) AS rn
    FROM tf JOIN df ON tf.tkn = df.tkn CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM weighted WHERE rn <= 3
""",
    tags=("text", "tfidf", "north-star"),
    doc=(
        "TF-IDF token weighting (explode -> tf per (doc,term), df per term, "
        "ln(N/df) idf) with top-3 terms per doc. The df side is a tiny "
        "vocabulary aggregate -> broadcast back onto the tf stream; at 100 TB "
        "the only big shuffle is the (doc,term) count."
    ),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df derives from tf (rows are already distinct (doc,term)) — one
    # corpus scan + explode total, not two
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.count()  # scalar; parquet-metadata count, no data scan
    weighted = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        weighted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )
