"""Corpus quality / curation operators (round-3 additions).

Pre-training-data operators beyond the round-1 north-star set
(SURVEY.md §2 Part B mandates the LLM-pipeline surface; the reference
itself has only a word count, ``reference/app/process_articles.py:74-75``):

- ``text_repetition_stats`` — Gopher-style repetition quality signals
  (duplicate-token / duplicate-bigram / top-bigram fractions) as pure
  map-side higher-order expressions.
- ``text_contamination_flags`` — benchmark-contamination screen: flag
  corpus docs sharing word-5-grams with a (small, broadcast) eval set.
- ``dedup_incremental_batch`` — dedup a NEW batch against an existing
  corpus by content hash: anti join + intra-batch first-occurrence.
- ``corpus_mixture_resample`` — deterministic down-sampling toward a
  uniform language mixture (hash-uniform < per-language keep weight).
- ``corpus_ingest_batch_form`` — the streaming ingest composition
  (repetition gate + content dedup) as an oracle-backed batch query.
- ``dedup_bloom_prefilter`` — bloom-sketch membership prefilter ahead
  of the exact incremental-dedup join.

Scale notes (100 TB): repetition stats never shuffle (all per-row array
folds — pinned map-only in tests/test_plans.py); contamination joins the
corpus's shingle stream against an eval-set shingle list that is tiny by
construction (benchmarks are KB-MB scale) and broadcasts; incremental
dedup shuffles each side once on a 32-hex content hash; mixture
resampling is one language-grain count (KB) broadcast back over a
map-side hash threshold — no corpus shuffle at all; the bloom sketch is
<= m rows however big the corpus, so the batch probes it map-side and
only candidates reach the exact join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.splits import (
    BUCKET_SQL,
    TRAIN_MAX,
    doc_bucket,
)
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register


def _bigrams(toks):
    """Word-2-gram array: one entry per adjacent token pair (JVM-side).

    Guarded for short docs: ``F.sequence(1, n-1)`` DESCENDS through 0
    when n < 2 and ``element_at(arr, 0)`` throws — a single-token
    document must yield an empty bigram array (like the oracle's
    ``generate_series``), not kill the job."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(d: DataFrame) -> DataFrame:
    """Append the Gopher repetition signals to any frame with a ``text``
    column — pure map-side expressions, so it composes into batch AND
    streaming plans unchanged (used by
    ``streaming.pipeline.corpus_ingest_stream``)."""
    # NULL text is treated as EMPTY text (one '' token): the gate must be
    # decidable for every row — a NULL passes_gate would silently drop the
    # doc from a streaming filter, and half the stats would be NULL while
    # the bigram fractions defaulted to 0.0 (an incoherent hybrid).
    t = d.withColumn(
        "__t", tokens_col(F.coalesce(F.col("text"), F.lit("")))
    ).withColumn("__bg", _bigrams(F.col("__t")))
    # longest equal-run in the sorted bigram array == max occurrence count
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top_cnt = F.aggregate(F.array_sort("__bg"), acc0, step, lambda acc: acc["best"])
    dup_tok = F.lit(1) - F.size(F.array_distinct("__t")) / F.size("__t")
    # ANSI mode (Spark 4 default) throws DIVIDE_BY_ZERO — a single-token
    # doc has no bigrams, which means no bigram repetition: 0.0, not a
    # crashed job.
    n_bg = F.size("__bg")
    dup_bg = F.when(n_bg > 0, F.lit(1) - F.size(F.array_distinct("__bg")) / n_bg).otherwise(
        F.lit(0.0)
    )
    top_bg = F.when(n_bg > 0, top_cnt / n_bg).otherwise(F.lit(0.0))
    return (
        t.withColumn("n_tokens", F.size("__t"))
        .withColumn("dup_token_frac", F.round(dup_tok, 6))
        .withColumn("dup_bigram_frac", F.round(dup_bg, 6))
        .withColumn("top_bigram_frac", F.round(top_bg, 6))
        .withColumn("passes_gate", (top_bg <= 0.2) & (dup_tok <= 0.7))
        .drop("__t", "__bg")
    )



@register(
    "text_repetition_stats",
    oracle="""
WITH t AS (
    SELECT doc_id, string_split_regex(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents
),
g AS (
    SELECT doc_id, t,
           list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1]) AS bg
    FROM t
),
topf AS (
    SELECT doc_id, max(cnt) AS top_cnt
    FROM (
        SELECT doc_id, b, count(*) AS cnt
        FROM g, LATERAL unnest(bg) AS u(b)
        GROUP BY doc_id, b
    )
    GROUP BY doc_id
)
SELECT g.doc_id,
       len(t)                                              AS n_tokens,
       round(1 - len(list_distinct(t))  / len(t),  6)      AS dup_token_frac,
       CASE WHEN len(bg) = 0 THEN 0.0
            ELSE round(1 - len(list_distinct(bg)) / len(bg), 6)
       END                                                 AS dup_bigram_frac,
       CASE WHEN len(bg) = 0 THEN 0.0
            ELSE round(COALESCE(top_cnt, 0) / len(bg), 6)
       END                                                 AS top_bigram_frac,
       ((CASE WHEN len(bg) = 0 THEN 0.0
              ELSE COALESCE(top_cnt, 0) / len(bg) END) <= 0.2
        AND 1 - len(list_distinct(t)) / len(t) <= 0.7)     AS passes_gate
FROM g LEFT JOIN topf ON g.doc_id = topf.doc_id
""",
    tags=("text", "quality", "gopher", "north-star"),
    doc=(
        "Gopher-style repetition quality signals (Rae et al. 2021 §A1.1): "
        "duplicate-token fraction, duplicate-bigram fraction, and the "
        "most-frequent-bigram fraction, plus the combined pass/fail gate. "
        "Entirely map-side: the top-bigram count is a sorted-array run- "
        "length fold (F.aggregate over array_sort), NOT a (doc, gram) "
        "grain aggregation — zero shuffles at any corpus size, pinned in "
        "tests/test_plans.py."
    ),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "dup_bigram_frac",
        "top_bigram_frac",
        "passes_gate",
    )


@register(
    "corpus_ingest_batch_form",
    oracle="""
WITH t AS (
    SELECT doc_id, text, string_split_regex(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents
),
g AS (
    SELECT doc_id, text, t,
           list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1]) AS bg
    FROM t
),
topf AS (
    SELECT doc_id, max(cnt) AS top_cnt
    FROM (
        SELECT doc_id, b, count(*) AS cnt
        FROM g, LATERAL unnest(bg) AS u(b)
        GROUP BY doc_id, b
    )
    GROUP BY doc_id
),
stats AS (
    SELECT g.doc_id, md5(text) AS text_hash,
           len(t)                                         AS n_tokens,
           round(1 - len(list_distinct(t)) / len(t), 6)   AS dup_token_frac,
           CASE WHEN len(bg) = 0 THEN 0.0
                ELSE round(COALESCE(top_cnt, 0) / len(bg), 6)
           END                                            AS top_bigram_frac
    FROM g LEFT JOIN topf ON g.doc_id = topf.doc_id
    WHERE (CASE WHEN len(bg) = 0 THEN 0.0
                ELSE COALESCE(top_cnt, 0) / len(bg) END) <= 0.2
      AND 1 - len(list_distinct(t)) / len(t) <= 0.7
)
SELECT doc_id, text_hash, n_tokens, dup_token_frac, top_bigram_frac
FROM (
    SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
    FROM stats
) WHERE rn = 1
""",
    tags=("text", "quality", "streaming-parity", "north-star"),
    doc=(
        "The batch form of streaming.pipeline.corpus_ingest_stream, so the "
        "continuous-ingest composition (Gopher repetition gate -> content- "
        "hash dedup) has a driver-verdicted oracle: same gate expressions "
        "(repetition_stats, map-side), then one survivor per md5(text) — "
        "min doc_id, the deterministic batch analog of the stream's "
        "first-seen-within-watermark state. One shuffle (the survivor "
        "window on the 32-hex hash); hashes are uniform so no skew. "
        "The gate filter runs ABOVE the dedup window, not below it: "
        "identical texts have identical stats, so gate and dedup commute "
        "on output — but a filter directly on a projection re-inlines the "
        "repetition fold (a measured 10x slowdown; the trap is documented "
        "once in functions/folds.py). This site deliberately does NOT use "
        "folds.materialize_fold: the survivor window's exchange is already "
        "a once-only barrier over exactly the columns a checkpoint would "
        "write, so a checkpoint here would pay the doc-grain "
        "materialization twice."
    ),
)
def corpus_ingest_batch_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    hashed = repetition_stats(d).withColumn("text_hash", F.md5("text"))
    rn = F.row_number().over(W.partitionBy("text_hash").orderBy("doc_id"))
    return (
        hashed.withColumn("__rn", rn)
        .filter((F.col("__rn") == 1) & F.col("passes_gate"))
        .select("doc_id", "text_hash", "n_tokens", "dup_token_frac", "top_bigram_frac")
    )


_GRAM5_SQL = """
    SELECT doc_id, gram
    FROM (SELECT doc_id, string_split_regex(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents{where}),
         LATERAL unnest(list_distinct(list_transform(
             generate_series(1, len(t) - 4),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS u(gram)
"""


def _grams5(d: DataFrame) -> DataFrame:
    # Materialize the token array as a named column FIRST. Passing the
    # raw `tokens_col()` expression into the lambda would embed a separate
    # split() subtree at every element_at site — five full regex splits
    # of the document per gram (measured 27x slower). As an attribute
    # reference the split runs once per row; the projection below is a
    # Generate child, which CollapseProject leaves alone.
    t = d.select("doc_id", tokens_col().alias("__toks"))
    tk = F.col("__toks")
    g = F.when(
        # guard: sequence(1, n-4) descends through 0 for docs under 5
        # tokens and element_at(arr, 0) throws; such docs have no 5-gram
        F.size(tk) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 4),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tk, i),
                F.element_at(tk, i + 1),
                F.element_at(tk, i + 2),
                F.element_at(tk, i + 3),
                F.element_at(tk, i + 4),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return t.select("doc_id", F.explode(F.array_distinct(g)).alias("gram"))


@register(
    "text_contamination_flags",
    oracle=f"""
WITH eval_grams AS (
    SELECT DISTINCT gram FROM ({_GRAM5_SQL.format(where=" WHERE doc_id % 50 = 0")})
),
hits AS (
    SELECT doc_id, count(*) AS n_shared
    FROM ({_GRAM5_SQL.format(where=" WHERE doc_id % 50 <> 0")})
    JOIN eval_grams USING (gram)
    GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_shared, 0) AS n_shared,
       COALESCE(n_shared, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
WHERE d.doc_id % 50 <> 0
""",
    tags=("text", "contamination", "north-star"),
    doc=(
        "Benchmark-contamination screen: documents sharing any word-5-gram "
        "with the held-out eval set (stand-in: doc_id % 50 = 0) are flagged, "
        "with the shared-gram count. The eval shingle list is small by "
        "construction (benchmarks are KB-MB even when the corpus is 100 TB) "
        "so the join broadcasts; the corpus side is one explode -> one "
        "doc-grain count — no corpus self-join."
    ),
)
def text_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 50 == 0
    eval_grams = _grams5(d.filter(is_eval)).select("gram").distinct()
    corpus = d.filter(~is_eval)
    hits = (
        _grams5(corpus)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return corpus.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        (F.coalesce("n_shared", F.lit(0)) >= 1).alias("contaminated"),
    )


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH batch AS (
    SELECT doc_id, lang, md5(text) AS text_hash FROM documents
    WHERE {BUCKET_SQL} >= '{TRAIN_MAX}'
),
corpus AS (
    SELECT DISTINCT md5(text) AS text_hash FROM documents
    WHERE {BUCKET_SQL} < '{TRAIN_MAX}'
)
SELECT text_hash, doc_id, lang FROM (
    SELECT text_hash, doc_id, lang,
           row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text_hash = b.text_hash)
) WHERE rn = 1
-- row_number, NOT arg_min(lang, doc_id): DuckDB's arg_min SKIPS rows
-- whose arg is NULL, so a first-occurrence survivor with NULL lang
-- reported the lang of a LATER duplicate — diverging from Spark's
-- min(struct(doc_id, lang)), which keeps the true first row
-- (fuzz-found on an all-NULL-text corpus with mixed langs)
""",
    tags=("dedup", "incremental", "north-star"),
    doc=(
        "Incremental dedup of a NEW ingest batch against the existing "
        "corpus (the continuous-pipeline form of dedup_exact): batch rows "
        "anti-join the corpus on content hash, then intra-batch first "
        "occurrence via min(struct) — the batch/corpus split reuses the "
        "deterministic md5 split rule of split_hash_assign. Each side "
        "shuffles once on the 32-hex hash; at 100 TB the corpus side is a "
        "pre-materialized hash index, not a rescan, and the anti join is "
        "the only corpus-size-dependent cost."
    ),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = doc_bucket()
    h = F.md5("text").alias("text_hash")
    batch = d.filter(bucket >= TRAIN_MAX).select(h, "doc_id", "lang")
    corpus = d.filter(bucket < TRAIN_MAX).select(h).distinct()
    return (
        batch.join(corpus, "text_hash", "left_anti")
        .groupBy("text_hash")
        .agg(F.min(F.struct("doc_id", "lang")).alias("f"))
        .select("text_hash", F.col("f.doc_id").alias("doc_id"), F.col("f.lang").alias("lang"))
    )


@register(
    "corpus_mixture_resample",
    oracle="""
WITH lc AS (
    SELECT lang, count(*) AS n_l FROM documents GROUP BY lang
),
tot AS (
    SELECT count(*) AS total, count(DISTINCT lang) AS n_langs FROM documents
),
w AS (
    SELECT lang, n_l, least(1.0, (total / n_langs) / n_l) AS keep_w
    FROM lc, tot
)
SELECT doc_id, d.lang, round(keep_w, 6) AS keep_w
FROM documents d JOIN w ON d.lang = w.lang
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 6)) AS BIGINT)
      / 16777216.0 < keep_w
""",
    tags=("sampling", "mixture", "north-star"),
    doc=(
        "Deterministic resampling toward a uniform language mixture: per- "
        "language keep weight = min(1, target_share / actual_share), "
        "applied via a content-addressed uniform (md5 of doc_id, 24 bits "
        "-> [0,1)) so the sample is reproducible across engines and runs. "
        "The language histogram rides a partial-aggregate exchange that "
        "carries per-partition language counts (KB) — no row-grain "
        "shuffle — and broadcasts back; selection is a map-side threshold. "
        "Down-sampling only (weights capped at 1); up-weighting a rare "
        "language would repeat docs at the pack stage instead."
    ),
)
def corpus_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    lc = d.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = d.agg(F.count("*").alias("total"), F.countDistinct("lang").alias("n_langs"))
    w = lc.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(F.lit(1.0), (F.col("total") / F.col("n_langs")) / F.col("n_l")).alias("keep_w"),
    )
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))), 1, 6), 16, 10)
        .cast("long")
        / F.lit(16777216.0)
    )
    return (
        d.join(F.broadcast(w), "lang")
        .filter(u < F.col("keep_w"))
        .select("doc_id", "lang", F.round("keep_w", 6).alias("keep_w"))
    )


#: Bloom geometry for dedup_bloom_prefilter: k hash seeds x m bits.
#: Real deployments size m ~ 10 bits/corpus-doc; the fixed small m here
#: keeps the false-positive path exercised at test scale.
BLOOM_BITS = 8192
BLOOM_SEEDS = (0, 1, 2)


@register(
    "dedup_bloom_prefilter",
    oracle=f"""
WITH corpus AS (
    SELECT text FROM documents
    WHERE {BUCKET_SQL} < '{TRAIN_MAX}'
),
batch AS (
    SELECT doc_id, text FROM documents
    WHERE {BUCKET_SQL} >= '{TRAIN_MAX}'
),
bits AS (
    SELECT DISTINCT
           CAST(('0x' || substr(md5(text || ':bloom' || s), 1, 8)) AS BIGINT)
               % {BLOOM_BITS} AS bit
    FROM corpus, LATERAL unnest([0, 1, 2]) AS u(s)
),
probe AS (
    SELECT doc_id,
           count(*) FILTER (WHERE bit IN (SELECT bit FROM bits)) AS n_hit
    FROM (
        SELECT doc_id,
               CAST(('0x' || substr(md5(text || ':bloom' || s), 1, 8)) AS BIGINT)
                   % {BLOOM_BITS} AS bit
        FROM batch, LATERAL unnest([0, 1, 2]) AS u(s)
    )
    GROUP BY doc_id
),
exact AS (
    SELECT DISTINCT b.doc_id
    FROM batch b JOIN corpus c ON md5(b.text) = md5(c.text)
)
SELECT p.doc_id,
       n_hit = 3                    AS bloom_candidate,
       e.doc_id IS NOT NULL         AS is_duplicate
FROM probe p LEFT JOIN exact e ON p.doc_id = e.doc_id
""",
    tags=("dedup", "bloom", "incremental", "north-star"),
    doc=(
        "Bloom-prefiltered incremental dedup — the 100 TB cost shape for "
        "deduping a new batch against an existing corpus: the corpus "
        "folds to an m-bit membership sketch (here the distinct set bits, "
        "<= m rows, ALWAYS broadcastable no matter the corpus size), the "
        "batch probes it map-side, and only bloom candidates (true dups + "
        "the false-positive fraction) ever reach the exact content-hash "
        "join. Output keeps both verdicts so the FP behavior is "
        "observable and oracle-checked: bloom_candidate is a superset of "
        "is_duplicate, never smaller. Bit positions are md5-derived so "
        "both engines compute the identical sketch; real deployments "
        "would size m ~ 10 bits per corpus doc and use xxhash64."
    ),
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = doc_bucket()
    corpus = d.filter(bucket < TRAIN_MAX).select("text")
    batch = d.filter(bucket >= TRAIN_MAX).select("doc_id", "text")

    def bloom_bit(seed: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.col("text"), F.lit(f":bloom{seed}"))), 1, 8),
                16,
                10,
            ).cast("long")
            % BLOOM_BITS
        )

    bits = (
        corpus.select(
            F.explode(F.array(*[bloom_bit(s) for s in BLOOM_SEEDS])).alias("bit")
        )
        .distinct()
    )
    probe = (
        batch.select("doc_id", F.explode(F.array(*[bloom_bit(s) for s in BLOOM_SEEDS])).alias("bit"))
        .join(F.broadcast(bits.withColumn("__hit", F.lit(1))), "bit", "left")
        .groupBy("doc_id")
        .agg(F.count("__hit").alias("n_hit"))
    )
    exact = (
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(
            corpus.select(F.md5("text").alias("h")).distinct(),
            "h",
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        probe.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("n_hit") == len(BLOOM_SEEDS)).alias("bloom_candidate"),
            F.col("__dup").isNotNull().alias("is_duplicate"),
        )
    )
