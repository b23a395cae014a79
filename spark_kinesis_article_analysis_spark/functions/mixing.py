"""Token-budget-aware mixture selection — the "data mixing" step that
turns a curated corpus into a training mixture.

``corpus_mixture_resample`` (functions/quality.py) mixes by per-source
RATE; real recipes mix by per-source TOKEN BUDGET ("N tokens of web, M
of code, ..."), because the training run consumes tokens, not
documents. The selection must be deterministic and content-addressed
(md5 order — the ``corpus_domain_cap`` discipline) so reruns and engine
swaps produce the identical mixture, and a document is kept only if it
fits ENTIRELY inside its source's remaining budget (prefix rule: the
running token total up to and including the doc must not exceed the
budget — no partial documents).

Per-source budgets are themselves md5-derived here (200 + hash % 800
tokens) so sources genuinely differ and the cut lands mid-source; a
learned recipe would broadcast-join a (source, budget) table instead —
same plan, different literal.

Scale shape: token counts are map-side; the prefix sum is ONE
source-keyed window over (md5, doc_id) order. A window prefix-sum
serializes per source, which is correct here because the budget rule is
inherently sequential (doc k's fate depends on the exact token total
before it); at 100 TB the standard two-phase rewrite applies — rank
docs per (source, shard) with per-shard subtotals, prefix-sum the
d x shards subtotal table (tiny), then localize — the same shape as
``quality_gate_sharded``. The single-window form is the
spec; the sharded rewrite swaps in without changing results because
md5 order is total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register

#: budget(source) = BUDGET_BASE + md5(source) % BUDGET_SPREAD tokens.
BUDGET_BASE = 200
BUDGET_SPREAD = 800

_TOK_SQL = "string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')"


@register(
    "corpus_token_budget_mix",
    oracle=f"""
WITH d AS (
    SELECT doc_id, source,
           CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens
    FROM documents WHERE doc_id IS NOT NULL
),
b AS (
    SELECT doc_id, source, n_tokens,
           {BUDGET_BASE} + CAST(('0x' || substr(md5(coalesce(source, '')), 1, 6)) AS BIGINT)
               % {BUDGET_SPREAD} AS budget,
           sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
    FROM d
)
SELECT doc_id, source, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(budget AS BIGINT)     AS budget,
       cum_tokens <= budget       AS kept
FROM b
""",
    tags=("curation", "mixing", "token-budget", "sampling", "north-star"),
    doc=(
        "Token-budget mixture selection: every source gets a budget "
        "(md5-derived 200..999 tokens here; a recipe table in "
        "production), documents queue inside their source in content-"
        "addressed md5 order, and a document is kept iff the running "
        "token total THROUGH it still fits the budget — whole documents "
        "only, deterministic across reruns and engines. Token counts are "
        "map-side; the one shuffle is the source-keyed prefix-sum window "
        "(two-phase sharded rewrite documented for hot sources)."
    ),
)
def corpus_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            "source",
            F.size(tokens_col()).cast("long").alias("n_tokens"),
        )
    )
    budget = (
        F.lit(BUDGET_BASE)
        + F.conv(F.substring(F.md5(F.coalesce("source", F.lit(""))), 1, 6), 16, 10).cast(
            "long"
        )
        % BUDGET_SPREAD
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    b = d.select(
        "doc_id",
        "source",
        "n_tokens",
        budget.alias("budget"),
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    return b.select(
        "doc_id",
        "source",
        "n_tokens",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("budget").cast("long").alias("budget"),
        (F.col("cum_tokens") <= F.col("budget")).alias("kept"),
    )


# ---------------------------------------------------------------------------
# corpus_source_divergence — mixture diagnostics (entropy + KL vs corpus)
# ---------------------------------------------------------------------------


@register(
    "corpus_source_divergence",
    oracle=f"""
WITH tok AS (
    SELECT source, tkn AS term
    FROM (SELECT source, {_TOK_SQL} AS toks FROM documents WHERE doc_id IS NOT NULL),
         LATERAL unnest(toks) AS u(tkn)
),
st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, term),
s_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM st GROUP BY source),
corpus AS (SELECT term, CAST(sum(c) AS BIGINT) AS cc FROM st GROUP BY term),
n_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st),
contrib AS (
    SELECT st.source, st.term,
           (st.c / CAST(s_tot.n_s AS DOUBLE))
               * ln((st.c / CAST(s_tot.n_s AS DOUBLE))
                    / (corpus.cc / CAST(n_tot.n AS DOUBLE))) AS kl_part,
           -(st.c / CAST(s_tot.n_s AS DOUBLE))
               * ln(st.c / CAST(s_tot.n_s AS DOUBLE))        AS h_part
    FROM st JOIN s_tot USING (source) JOIN corpus USING (term) CROSS JOIN n_tot
)
SELECT c.source,
       s_tot.n_s                                  AS n_tokens,
       CAST(count(*) AS BIGINT)                   AS n_terms,
       round(list_reduce(list_prepend(0.0, list(h_part ORDER BY term)),
                         (x, y) -> x + y), 6)     AS entropy,
       round(list_reduce(list_prepend(0.0, list(kl_part ORDER BY term)),
                         (x, y) -> x + y), 6)     AS kl_vs_corpus
FROM contrib c JOIN s_tot USING (source)
GROUP BY c.source, s_tot.n_s
""",
    tags=("curation", "mixing", "divergence", "entropy", "north-star", "portable-twin"),
    doc=(
        "Mixture diagnostics per source: unigram entropy and KL(source || "
        "corpus) — the numbers a data-mixing recipe watches to spot a "
        "source whose token distribution collapsed or drifted. Per-term "
        "contributions are exact-count ratios through ln; the per-source "
        "sums run as TERM-ORDERED 0.0-seeded folds on both engines (the "
        "cluster_kmeans_portable float discipline), so partial-sum order "
        "cannot perturb the hash. One (source, term) shuffle; the corpus "
        "vocabulary aggregate derives from the same counts and broadcasts "
        "back. The ordered fold costs a collect_list per source "
        "(vocabulary-bounded); production at 100 TB would accept "
        "nondeterministic sum() — this spec VERIFIES the arithmetic and "
        "documents the price, exactly like cluster_kmeans_portable."
    ),
)
def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select("source", F.explode(tokens_col()).alias("term"))
    )
    st = d.groupBy("source", "term").agg(F.count("*").alias("c"))
    s_tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    corpus = st.groupBy("term").agg(F.sum("c").alias("cc"))
    n_tot = F.broadcast(st.agg(F.sum("c").alias("n")))
    p = F.col("c") / F.col("n_s").cast("double")
    q = F.col("cc") / F.col("n").cast("double")
    contrib = (
        st.join(s_tot, "source")
        .join(F.broadcast(corpus), "term")
        .join(n_tot)
        .select(
            "source",
            "term",
            "n_s",
            (p * F.log(p / q)).alias("kl_part"),
            (-p * F.log(p)).alias("h_part"),
        )
    )
    fold = lambda col: F.round(  # noqa: E731
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", col))),
                lambda s: s[col],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    return contrib.groupBy("source", "n_s").agg(
        F.count("*").alias("n_terms"),
        fold("h_part").alias("entropy"),
        fold("kl_part").alias("kl_vs_corpus"),
    ).select(
        "source",
        F.col("n_s").alias("n_tokens"),
        "n_terms",
        "entropy",
        "kl_vs_corpus",
    )
