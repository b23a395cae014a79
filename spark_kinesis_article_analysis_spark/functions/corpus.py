"""Round-2 corpus-preparation operators: segment-level dedup, PII
scrubbing, embedding quantization, dynamic-gap sessionization, sketch
merging, and explicit skew-mitigation queries.

These extend the reference's single text transform (whitespace word
count, ``app/process_articles.py:74-75``) with the remaining stages a
pre-training data pipeline runs between raw ingestion and packing:

* **Segment dedup** (C4/RefinedWeb-style line dedup): drop text
  *segments* repeated anywhere in the corpus, keeping the first
  occurrence, and reassemble each document from its surviving segments.
  The corpus here has no newline structure, so "line" = a fixed-length
  word segment — the dataflow (segment → global first-occurrence →
  reassemble) is identical.
* **PII scrub**: regex redaction (phone-shaped patterns, digit runs)
  with per-row redaction counts — pure map stage.
* **int8 quantization**: per-vector max-abs scale + reconstruction MSE
  — what an embedding store does before writing ANN shards.
* **Dynamic-gap sessions**: ``session_window`` whose gap is a per-row
  expression (purchases hold a session open longer) — the streaming
  operator family of the reference's G1-G5, batch-checked.
* **HLL partial/merge**: per-group distinct sketches that union without
  rescanning — THE 100 TB pattern for distinct counts (sketch once,
  merge cheaply; rows-only, sketches have no SQL oracle).
* **Skew queries**: the ``operators/skew.py`` primitives (salted join,
  two-phase hot-key aggregation) registered as driver-verifiable
  queries — each oracle is the PLAIN join/aggregate SQL, so the driver
  itself proves the skew-safe rewrites are row-identical.

Scale notes are per-operator below; none of these introduces a window
over a raw corpus-sized key, a driver collect, or a Python hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.operators.skew import salted_join, two_phase_agg
from spark_kinesis_article_analysis_spark.registry import register
from spark_kinesis_article_analysis_spark.functions.similarity import (
    VALID_OR_NULL_SQL,
    valid_vector,
)

#: Segment-dedup geometry: words per segment. 3 gives a realistic
#: duplicate rate (~19%) on the synthetic corpus's small vocabulary.
SEG_WORDS = 3


@register(
    "text_segment_dedup",
    oracle=f"""
WITH words AS (
    SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents
),
segs AS (
    SELECT doc_id, i,
           array_to_string(w[(i * {SEG_WORDS} + 1):(i * {SEG_WORDS} + {SEG_WORDS})], ' ') AS seg
    FROM words, LATERAL unnest(range(CAST(ceil(len(w) / {SEG_WORDS}.0) AS BIGINT))) AS t(i)
),
flagged AS (
    SELECT doc_id, i, seg,
           row_number() OVER (PARTITION BY seg ORDER BY doc_id, i) = 1 AS is_first
    FROM segs
)
SELECT doc_id,
       string_agg(CASE WHEN is_first THEN seg END, ' ' ORDER BY i) AS clean_text,
       CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS segs_kept,
       CAST(sum(CASE WHEN NOT is_first THEN 1 ELSE 0 END) AS BIGINT) AS segs_dropped
FROM flagged
GROUP BY doc_id
""",
    tags=("text", "dedup", "segment", "north-star"),
    doc=(
        "C4-style segment-level corpus dedup: split each document into "
        "fixed-length word segments, keep only the globally FIRST occurrence "
        "of every segment (ordered by doc_id, position), reassemble documents "
        "from surviving segments in original order."
    ),
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`segment_dedup` over the documents table."""
    return segment_dedup(load(spark, sf_dir, "documents"))


def segment_dedup(d: DataFrame) -> DataFrame:
    """Scale shape: first-occurrence is ``min(struct(doc_id, pos))`` per
    segment — an algebraic aggregate with map-side partial combine, so a
    boilerplate segment repeated 10^9 times costs one row per map task,
    not a single-reducer window (``row_number() OVER (PARTITION BY
    seg)`` would straggle exactly there). The aggregate's output IS the
    surviving occurrence set, so there is NO corpus-grain join back on
    segment at all: survivors group by doc_id for reassembly, and
    dropped counts come from a doc-grain join against the per-document
    segment totals (computed map-side from the same scan). Two
    corpus-grain shuffles total (segment agg, doc reassembly) plus one
    document-grain join.

    Takes any ``(doc_id, text)`` frame; idempotent — a deduped corpus
    passes through unchanged (tests/test_properties.py)."""
    # NULL text segments as empty text — split(NULL) yields a NULL array
    # whose doc would otherwise be absent from the Spark segment stream
    # but present (with null reassembly) in the totals join, while the
    # oracle dropped it entirely (probed on the NULL-text fixture).
    words = d.select(
        "doc_id", F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("w")
    )
    n_segs = (F.floor((F.size("w") - F.lit(1)) / F.lit(SEG_WORDS)) + 1).cast("int")
    doc_totals = words.select("doc_id", n_segs.cast("long").alias("n_segs"))
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(F.col("w"), i * SEG_WORDS + 1, SEG_WORDS), " "),
    )
    e = words.select("doc_id", F.posexplode(segs).alias("i", "seg"))
    firsts = e.groupBy("seg").agg(F.min(F.struct("doc_id", "i")).alias("f"))
    kept = firsts.select(
        F.col("f.doc_id").alias("doc_id"), F.col("f.i").alias("i"), "seg"
    )
    per_doc = kept.groupBy("doc_id").agg(
        F.count("*").alias("segs_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("i", "seg"))), lambda x: x["seg"]),
            " ",
        ).alias("clean_text"),
    )
    return doc_totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "clean_text",
        F.coalesce("segs_kept", F.lit(0)).alias("segs_kept"),
        (F.col("n_segs") - F.coalesce("segs_kept", F.lit(0))).alias("segs_dropped"),
    )


_PHONE_RE = r"\d{2}-\d{3}-555-\d{4}"


@register(
    "text_pii_scrub",
    oracle=rf"""
WITH raw AS (
    SELECT c_custkey,
           c_name || ' call ' || CAST(c_custkey % 90 + 10 AS VARCHAR) || '-'
                  || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-555-'
                  || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                  || ' re ' || c_mktsegment AS msg
    FROM customer
),
p AS (
    SELECT c_custkey, msg,
           regexp_replace(msg, '{_PHONE_RE}', '<PHONE>', 'g') AS nophone
    FROM raw
)
SELECT c_custkey,
       regexp_replace(nophone, '\d+', '<NUM>', 'g') AS redacted,
       CAST(len(regexp_extract_all(msg, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(nophone, '\d+')) AS BIGINT) AS n_nums
FROM p
""",
    tags=("text", "pii", "north-star"),
    doc=(
        "Regex PII redaction over a deterministic synthetic contact string "
        "(phone-shaped pattern first, then any digit run), with per-row "
        "redaction counts. Pure map stage: zero shuffles, scan-fused, "
        "whole-stage-codegen'd Java regex."
    ),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    msg = F.concat(
        F.col("c_name"),
        F.lit(" call "),
        (F.col("c_custkey") % 90 + 10).cast("string"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" re "),
        F.col("c_mktsegment"),
    )
    raw = c.select("c_custkey", msg.alias("msg"))
    p = raw.select(
        "c_custkey",
        "msg",
        F.regexp_replace("msg", _PHONE_RE, "<PHONE>").alias("nophone"),
    )
    return p.select(
        "c_custkey",
        F.regexp_replace("nophone", r"\d+", "<NUM>").alias("redacted"),
        F.regexp_count("msg", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count("nophone", F.lit(r"\d+")).cast("long").alias("n_nums"),
    )


@register(
    "embed_quantize_int8",
    oracle=f"""
WITH b AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
    WHERE {VALID_OR_NULL_SQL}
),
s AS (
    SELECT vec_id, e,
           list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
    FROM b
)
SELECT vec_id,
       round(scale, 9) AS scale,
       round(CASE WHEN scale = 0 THEN 0.0 ELSE
             list_sum(list_transform(e, x -> pow(x - floor(x / scale + 0.5) * scale, 2))) / len(e)
             END, 9) AS mse,
       CAST(CASE WHEN scale = 0 THEN 0 ELSE
            list_sum(list_transform(e, x -> CASE WHEN abs(floor(x / scale + 0.5)) >= 127 THEN 1 ELSE 0 END))
            END AS BIGINT) AS n_saturated
FROM s
""",
    tags=("similarity", "quantize", "north-star"),
    doc=(
        "Per-vector symmetric int8 quantization: max-abs scale, "
        "reconstruction MSE, saturated-lane count. What an embedding store "
        "computes before writing ANN shards (4x memory cut). Map-only; dot "
        "products on the int8 form cost 1/4 the bandwidth of float32."
    ),
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All arithmetic is Catalyst higher-order expressions over doubles
    (float→double widening is exact, fold order matches the oracle's
    list_transform/list_sum left-to-right order); zero shuffles."""
    emb = load(spark, sf_dir, "embeddings").filter(valid_vector(or_null=True))
    e = F.transform("embedding", lambda x: x.cast("double"))
    b = emb.select("vec_id", e.alias("e"))
    scale = (
        F.aggregate("e", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))) / F.lit(127.0)
    )
    s = b.select("vec_id", "e", scale.alias("scale"))
    sq_err = F.aggregate(
        "e",
        F.lit(0.0),
        lambda a, x: a
        + F.pow(x - F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale"), F.lit(2)),
    )
    n_sat = F.aggregate(
        "e",
        F.lit(0).cast("long"),
        lambda a, x: a
        + F.when(F.abs(F.floor(x / F.col("scale") + F.lit(0.5))) >= 127, 1).otherwise(0),
    )
    return s.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.round(
            F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(sq_err / F.size("e")), 9
        ).alias("mse"),
        F.when(F.col("scale") == 0, F.lit(0).cast("long"))
        .otherwise(n_sat)
        .alias("n_saturated"),
    )


#: Quantized-search geometry (matches similarity.py's brute-force pair).
QTOPK_QUERIES = 8
QTOPK_K = 5


@register(
    "sim_quantized_topk",
    oracle=f"""
WITH b AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
    WHERE {VALID_OR_NULL_SQL}
),
qz AS (
    SELECT vec_id,
           list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale,
           list_transform(e, x -> CASE WHEN list_max(list_transform(e, y -> abs(y))) = 0
                                       THEN 0.0
                                       ELSE floor(x / (list_max(list_transform(e, y -> abs(y))) / 127.0) + 0.5)
                                  END) AS q
    FROM b
),
qs AS (SELECT vec_id AS query_id, scale AS s_q, q AS qv FROM qz WHERE vec_id < {QTOPK_QUERIES}),
cs AS (SELECT vec_id AS neighbor_id, scale AS s_c, q AS cv FROM qz WHERE vec_id >= {QTOPK_QUERIES}),
scored AS (
    SELECT query_id, neighbor_id,
           round(list_inner_product(qv, cv) * s_q * s_c, 6) AS qdot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(list_inner_product(qv, cv) * s_q * s_c, 6) DESC,
                                       neighbor_id ASC) AS rn
    FROM qs, cs
)
SELECT query_id, neighbor_id, qdot FROM scored WHERE rn <= {QTOPK_K}
""",
    tags=("similarity", "topk", "quantize", "north-star"),
    doc=(
        "Top-k dot-product search over int8-QUANTIZED vectors: the scale path "
        "where candidates are stored quantized (4x memory/bandwidth cut) and "
        "scores are integer dot products rescaled by the two max-abs scales. "
        "Quantization is deterministic floor arithmetic and the integer dot "
        "product is exact in any summation order, so this ANN-storage variant "
        "is fully oracle-checkable — unlike sampling-based ANN."
    ),
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same plan shape as sim_cosine_topk (broadcast bounded query set,
    JVM higher-order dot, row_number top-k); the quantized form is what
    you'd actually ship to 100 TB ANN serving."""
    emb = load(spark, sf_dir, "embeddings").filter(valid_vector(or_null=True))
    e = F.transform("embedding", lambda x: x.cast("double"))
    b = emb.select("vec_id", e.alias("e"))
    scale = (
        F.aggregate("e", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))) / F.lit(127.0)
    )
    # two selects: the quantize lambda references `scale` by column alias,
    # so the alias must exist before the transform runs
    qz = b.select("vec_id", scale.alias("scale"), "e").select(
        "vec_id",
        "scale",
        F.transform(
            "e",
            lambda x: F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
                F.floor(x / F.col("scale") + F.lit(0.5)).cast("double")
            ),
        ).alias("q"),
    )
    qs = qz.filter(F.col("vec_id") < QTOPK_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("scale").alias("s_q"), F.col("q").alias("qv")
    )
    cs = qz.filter(F.col("vec_id") >= QTOPK_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), F.col("scale").alias("s_c"), F.col("q").alias("cv")
    )
    intdot = F.aggregate(
        F.zip_with("qv", "cv", lambda p, q: p * q), F.lit(0.0), lambda a, v: a + v
    )
    scored = cs.join(F.broadcast(qs)).select(
        "query_id",
        "neighbor_id",
        F.round(intdot * F.col("s_q") * F.col("s_c"), 6).alias("qdot"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("qdot").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QTOPK_K)
        .select("query_id", "neighbor_id", "qdot")
    )


@register(
    "text_unigram_logprob",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS term FROM documents
),
counts AS (
    SELECT term, CAST(count(*) AS DOUBLE) AS tc FROM toks GROUP BY term
),
tot AS (SELECT sum(tc) AS n FROM counts)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(tc / n)), 6) AS avg_logprob
FROM toks JOIN counts USING (term), tot
GROUP BY doc_id
""",
    tags=("text", "quality", "lm", "north-star"),
    doc=(
        "Unigram language-model quality score (the CCNet-style LM filter, "
        "reduced to its unigram core): per-document mean log-probability of "
        "tokens under the corpus's own unigram distribution — boilerplate and "
        "common-token spam score HIGH, rare-garbage documents score LOW."
    ),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus explode feeds both the vocabulary counts and the
    per-document scoring join (same derive-don't-rescan shape as
    text_tfidf_top_terms). The vocabulary aggregate is tiny next to the
    corpus; hot terms in the scoring join are AQE-skew-splittable, and
    the corpus total rides a 1-row broadcast."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col()).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").cast("double").alias("tc"))
    total = counts.agg(F.sum("tc").alias("n"))
    scored = toks.join(counts, "term").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg(F.log(F.col("tc") / F.col("n"))), 6).alias("avg_logprob"),
    )


@register(
    "window_session_dynamic_gap",
    oracle="""
WITH e AS (
    SELECT user_id, ts, value,
           CASE WHEN event_type = 'purchase' THEN INTERVAL 30 MINUTE
                ELSE INTERVAL 10 MINUTE END AS gap
    FROM events
    WHERE ts IS NOT NULL
),
m AS (
    SELECT *, max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM e
),
s AS (
    SELECT *, CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END AS new_s
    FROM m
),
g AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM s
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts + gap) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM g
GROUP BY user_id, sid
""",
    tags=("time-window", "session", "dynamic-gap"),
    doc=(
        "Dynamic-gap session windows: purchases hold a session open 30 "
        "minutes, everything else 10 — the per-row gap-expression form of "
        "F.session_window. Oracle is the gaps-and-islands construction with "
        "a running max of (ts + gap), which is the exact merge rule."
    ),
)
def window_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scale posture as the fixed-gap session window: one shuffle +
    per-key sort in batch; per-key state bounded by the watermark in the
    streaming form."""
    ev = load(spark, sf_dir, "events")
    # Dynamic gaps must evaluate to CalendarIntervalType: string literals
    # (not INTERVAL expressions, which are DayTimeIntervalType in 4.x).
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "agg_hll_partial_merge",
    oracle=None,  # HLL sketches have no SQL-exact oracle; rows-only +
    # error-bound test in tests/test_rows_only.py.
    tags=("aggregate", "sketch", "hll", "scale"),
    doc=(
        "Distinct-count sketches that MERGE: per-shipmode HLL sketches of "
        "order keys, plus an ALL row unioned from the per-group sketches "
        "without rescanning the data. At 100 TB this is how distincts are "
        "served: sketch once per partition/group, union bytes thereafter."
    ),
)
def agg_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_mode = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    groups = per_mode.select(
        "l_returnflag", F.hll_sketch_estimate("sk").alias("approx_orders")
    )
    overall = per_mode.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_orders")
    ).select(F.lit("ALL").alias("l_returnflag"), "approx_orders")
    return groups.unionByName(overall)


@register(
    "join_skew_salted",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("join", "skew", "salted", "scale"),
    doc=(
        "Salted equi-join (big side's key salted via hash%8, small side "
        "replicated 8x) aggregated to segment revenue. The oracle is the "
        "PLAIN join SQL — the driver itself certifies the skew-safe rewrite "
        "is row-identical."
    ),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    j = salted_join(orders, customer, "o_custkey", "c_custkey", salt_buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
    )


@register(
    "agg_skew_two_phase",
    oracle="""
SELECT l_returnflag,
       round(sum(l_quantity), 6) AS total,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregate", "skew", "two-phase", "scale"),
    doc=(
        "Two-phase hot-key aggregation: partial sum/count on (key, salt), "
        "final on key — the classic fix when one group holds most rows and "
        "even map-side combine leaves a single hot reducer. Oracle is the "
        "plain GROUP BY, proving row-identity."
    ),
)
def agg_skew_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    out = two_phase_agg(li, "l_returnflag", "l_quantity", salt_buckets=16)
    return out.select("l_returnflag", F.round("total", 6).alias("total"), "n")
