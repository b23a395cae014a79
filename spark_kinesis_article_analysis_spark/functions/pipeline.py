"""Training-data pipeline operators: chunking, sequence packing,
deterministic splits, quantile gating, dedup clustering.

Extends the reference's single text transform (whitespace word count,
``app/process_articles.py:74-75``) into the corpus-preparation stages an
LLM pre-training pipeline runs after text analysis and dedup scoring
(BASELINE.json north star).

Scale posture: chunking and split assignment are pure map-side
(scan-fused, zero shuffles). Packing and percentile gating come in two
shapes sharing one oracle: a single window by ``lang`` (the plain
forms, the faster shape at small scale) and a two-phase range-sharded
rewrite (``operators/skew``, the ``_sharded`` forms) so no language
lands on one reducer, however hot. Component clustering turns each
dedup-key group into a star (every member linked to the group's min
doc_id) and runs ``dedup_pipeline.propagate_over_edges``, the package's
one connected-components loop: rounds are shuffle-bounded, and their
count grows with the log of the graph diameter, not with the data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load, parquet_column_bounds, table_path
from spark_kinesis_article_analysis_spark.functions.dedup_pipeline import propagate_over_edges
from spark_kinesis_article_analysis_spark.functions.splits import (
    BUCKET_SQL,
    TRAIN_MAX,
    VALID_MAX,
    doc_bucket,
)
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register

#: Chunking geometry: 50-token chunks every 40 tokens (10-token overlap).
CHUNK_TOKENS = 50
CHUNK_STRIDE = 40

#: Sequence-packing budget (tokens per packed training sequence).
PACK_BUDGET = 2048


def _shard_count(spark: SparkSession) -> int:
    """The partition count Spark's own batch exchanges use: AQE's initial
    partition number when AQE coalescing is on, else
    ``spark.sql.shuffle.partitions`` (which a package session keeps at 1
    for stateful streams, see ``session.get_spark``)."""
    return int(spark._jsparkSession.sessionState().conf().numShufflePartitions())  # type: ignore[attr-defined]


def _doc_id_bounds(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(min, max) of documents.doc_id for arithmetic range sharding —
    parquet footer statistics (driver metadata read, zero Spark jobs),
    falling back to a column-pruned min/max scan only if a footer lacks
    stats."""
    bounds = parquet_column_bounds(table_path(sf_dir, "documents"), "doc_id")
    if bounds is None:
        bounds = (
            load(spark, sf_dir, "documents")
            .agg(F.min("doc_id"), F.max("doc_id"))
            .first()
        )
    lo, hi = bounds
    if lo is None:
        return 0, 0
    return int(lo), int(hi)


def _packed(spark: SparkSession, sf_dir: str, df: DataFrame, part_cols: list[str]) -> DataFrame:
    """(doc_id, *part_cols, n_tokens, pack_id) of ``df``: each document's
    ``PACK_BUDGET``-token pack by exclusive running ``n_tokens`` within
    its ``part_cols`` group in doc_id order — the packing step of
    ``pack_sequences_sharded`` and ``corpus_prep_end_to_end``."""
    from spark_kinesis_article_analysis_spark.operators.skew import (
        monotone_range_shard,
        range_sharded_running_sum,
    )

    shards = _shard_count(spark)
    # doc_id is a dense integer key: shard by id-range arithmetic with
    # bounds from the parquet footers (driver-side metadata, zero jobs)
    # instead of repartitionByRange, whose boundary sampling would
    # re-execute the child plan (for corpus prep, the whole dedup
    # semi-join).
    lo, hi = _doc_id_bounds(spark, sf_dir)
    shard = monotone_range_shard("doc_id", lo, hi, shards)
    cum = range_sharded_running_sum(
        df, part_cols, "doc_id", "n_tokens", "__cum", shards, shard_by=shard
    )
    return cum.select(
        "doc_id",
        *part_cols,
        "n_tokens",
        F.floor((F.col("__cum") - F.col("n_tokens")) / F.lit(PACK_BUDGET)).alias("pack_id"),
    )


@register(
    "text_chunk_sliding",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS toks FROM documents
),
c AS (
    SELECT doc_id, i AS chunk_id,
           toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}] AS chunk
    FROM t, LATERAL unnest(generate_series(0, (len(toks) - 1) // {CHUNK_STRIDE})) AS u(i)
)
SELECT doc_id, chunk_id,
       array_to_string(chunk, ' ') AS chunk_text,
       len(chunk)                  AS chunk_tokens
FROM c
""",
    tags=("text", "chunk", "north-star"),
    doc=(
        "Sliding-window document chunking: fixed-size token chunks with overlap "
        "(50 tokens every 40). sequence -> slice -> posexplode, all Catalyst "
        "higher-order functions: map-only, scan-fused, zero shuffles."
    ),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens_col().alias("toks"))
    n_chunks = (F.floor((F.size("toks") - F.lit(1)) / F.lit(CHUNK_STRIDE)) + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("toks"), i * CHUNK_STRIDE + 1, CHUNK_TOKENS),
    )
    return t.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk")).select(
        "doc_id",
        "chunk_id",
        F.array_join("chunk", " ").alias("chunk_text"),
        F.size("chunk").alias("chunk_tokens"),
    )


@register(
    "pack_sequences_bounded",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_tokens
    FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id
FROM t
""",
    tags=("text", "packing", "north-star"),
    doc=(
        "Greedy contiguous sequence packing: docs are assigned to fixed-budget "
        "training packs (2048 tokens) by exclusive running token count within "
        "each language. One shuffle (window by lang); deterministic given the "
        "doc_id order."
    ),
)
def pack_sequences_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(tokens_col()).alias("n_tokens"))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / F.lit(PACK_BUDGET)).alias("pack_id"),
    )


@register(
    "pack_sequences_sharded",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_tokens
    FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id
FROM t
""",
    tags=("text", "packing", "skew", "north-star"),
    doc=(
        "pack_sequences_bounded without the per-language straggler: the "
        "running token count comes from a two-phase range-sharded prefix sum "
        "(operators/skew.range_sharded_running_sum), so a language holding "
        "half the corpus spreads over many contiguous shards instead of one "
        "reducer. Output (and oracle) are row-identical to the plain form — "
        "this is the 100 TB execution shape of the same operator."
    ),
)
def pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(tokens_col()).alias("n_tokens"))
    return _packed(spark, sf_dir, t, ["lang"])


@register(
    "split_hash_assign",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {BUCKET_SQL} AS bucket
    FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < '{TRAIN_MAX}' THEN 'train'
            WHEN bucket < '{VALID_MAX}' THEN 'valid'
            ELSE 'test' END AS split
FROM t
""",
    tags=("text", "split", "north-star"),
    doc=(
        "Deterministic train/valid/test assignment: first md5 byte of the doc "
        "key buckets each doc into ~80/10/10 via hex-string thresholds. Pure "
        "map-side, stable across engines and runs — the property a split "
        "column must have when the corpus is re-materialized."
    ),
)
def split_hash_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = doc_bucket()
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_MAX, "train")
        .when(bucket < VALID_MAX, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "quality_percentile_gate",
    oracle="""
WITH t AS (
    SELECT doc_id, lang,
           round(length(coalesce(text, '')) /
                 len(string_split_regex(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+')), 6) AS score
    FROM documents
),
r AS (
    SELECT doc_id, lang, score,
           percent_rank() OVER (PARTITION BY lang ORDER BY score, doc_id) AS pr
    FROM t
)
SELECT doc_id, lang, score, round(pr, 6) AS pct_rank
FROM r WHERE pr >= 0.6
""",
    tags=("text", "quality", "quantile", "north-star"),
    doc=(
        "Quantile-based quality gating: keep the top 40% of docs per language "
        "by mean-token-length score using percent_rank (rank arithmetic, so "
        "engine-exact — no interpolated-percentile float drift). Window by "
        "lang keeps the sort distributed."
    ),
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        # NULL text scores as empty text (0.0) — a NULL score would sort
        # NULLS FIRST in Spark but NULLS LAST in DuckDB, shifting every
        # percent_rank in the partition (probed on the NULL-text fixture).
        F.round(
            F.length(F.coalesce(F.col("text"), F.lit("")))
            / F.size(tokens_col(F.coalesce(F.col("text"), F.lit("")))),
            6,
        ).alias("score"),
    )
    pr = F.percent_rank().over(W.partitionBy("lang").orderBy("score", "doc_id"))
    return (
        t.withColumn("pr", pr)
        .filter(F.col("pr") >= 0.6)
        .select("doc_id", "lang", "score", F.round("pr", 6).alias("pct_rank"))
    )


@register(
    "quality_gate_sharded",
    oracle="""
WITH t AS (
    SELECT doc_id, lang,
           round(length(coalesce(text, '')) /
                 len(string_split_regex(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+')), 6) AS score
    FROM documents
),
r AS (
    SELECT doc_id, lang, score,
           percent_rank() OVER (PARTITION BY lang ORDER BY score, doc_id) AS pr
    FROM t
)
SELECT doc_id, lang, score, round(pr, 6) AS pct_rank
FROM r WHERE pr >= 0.6
""",
    tags=("text", "quality", "quantile", "skew", "north-star"),
    doc=(
        "quality_percentile_gate without the per-language straggler: "
        "percent_rank from two-phase range-sharded ranking (operators/"
        "skew.range_sharded_percent_rank; (score, doc_id) is tie-free, so "
        "rank composes as local row_number + earlier-shard counts). Output "
        "and oracle are row-identical to the plain form."
    ),
)
def quality_gate_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_kinesis_article_analysis_spark.operators.skew import range_sharded_percent_rank

    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        # NULL text scores as empty text (0.0) — a NULL score would sort
        # NULLS FIRST in Spark but NULLS LAST in DuckDB, shifting every
        # percent_rank in the partition (probed on the NULL-text fixture).
        F.round(
            F.length(F.coalesce(F.col("text"), F.lit("")))
            / F.size(tokens_col(F.coalesce(F.col("text"), F.lit("")))),
            6,
        ).alias("score"),
    )
    shards = _shard_count(spark)
    # the numeric leading key takes histogram-balanced arithmetic shards:
    # no repartitionByRange, so no child-plan sampling pass and no
    # full-data range exchange — the only corpus-scale shuffle left is
    # the local window's own hash exchange
    pr = range_sharded_percent_rank(t, ["lang"], ["score", "doc_id"], "pr", shards)
    return (
        pr.filter(F.col("pr") >= 0.6)
        .select("doc_id", "lang", "score", F.round("pr", 6).alias("pct_rank"))
    )


def key_group_edges(nodes: DataFrame, *keys: str) -> DataFrame:
    """Star edges (src, dst) of the implicit graph linking ``nodes`` rows
    that share any of ``keys``: every row is linked, in both directions,
    to its key group's hub — the group's min doc_id. A star spans the
    same component as the group's clique with 2 edges per row per key,
    never O(group size²). Self-edges (a hub to itself) are kept: they
    keep singletons and NULL doc_ids in the edge list, which a
    ``src != dst`` filter would drop."""
    hubs = nodes.select(
        "doc_id", *(F.min("doc_id").over(W.partitionBy(k)).alias(k) for k in keys)
    )
    pairs = [
        F.struct(F.col(a).alias("src"), F.col(b).alias("dst"))
        for k in keys
        for a, b in (("doc_id", k), (k, "doc_id"))
    ]
    return hubs.select(F.inline(F.array(*pairs)))


@register(
    "dedup_cluster_components",
    oracle="""
WITH RECURSIVE d AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
                   string_split_regex(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+'))), ' '))
               AS fp,
           md5(substr(coalesce(text, ''), 1, 64)) AS ph
    FROM documents
),
e AS (
    SELECT a.doc_id AS src, b.doc_id AS dst FROM d a JOIN d b ON a.fp = b.fp
    UNION
    SELECT a.doc_id AS src, b.doc_id AS dst FROM d a JOIN d b ON a.ph = b.ph
),
walk(doc_id, label) AS (
    SELECT doc_id, doc_id FROM d
    UNION
    SELECT e.src, w.label FROM walk w JOIN e ON e.dst = w.doc_id
),
comp AS (SELECT doc_id, min(label) AS component_id FROM walk GROUP BY doc_id)
SELECT doc_id, component_id,
       count(*) OVER (PARTITION BY component_id) AS component_size
FROM comp
""",
    tags=("dedup", "components", "iterative", "north-star"),
    doc=(
        "Duplicate-cluster discovery: connected components over the graph whose "
        "edges link docs sharing either dedup key (full-content fingerprint OR "
        "64-char prefix hash), so transitive chains collapse into one cluster. "
        "Spark side: each key group becomes a star around its min doc_id, "
        "then min-label propagation with pointer jumping over those edges "
        "(dedup_pipeline.propagate_over_edges), so rounds are "
        "O(log diameter), not O(diameter). Oracle: DuckDB recursive CTE "
        "closure."
    ),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # NULL text fingerprints as empty text, as in the oracle: md5(NULL)
    # is NULL, and one NULL key group would link every NULL-text doc
    # where the oracle's coalesced keys link them to the empty texts.
    norm_text = F.coalesce(F.col("text"), F.lit(""))
    nodes = d.select(
        "doc_id",
        F.md5(
            F.array_join(F.sort_array(F.array_distinct(tokens_col(norm_text))), " ")
        ).alias("fp"),
        F.md5(F.substring(norm_text, 1, 64)).alias("ph"),
    )
    # Seed each doc with its smaller hub: a doc_id of its own component
    # (so pointer jumping stays valid), one propagation round for free.
    # Every doc is an edge src (a hub through its self-edge), so every
    # doc is seeded. The edges are materialised here as well, so the seed
    # reads them instead of re-running the fingerprint and window plan
    # (about 0.5 s at sf0.1 on a 4-core host).
    edges = key_group_edges(nodes, "fp", "ph").localCheckpoint(eager=True)
    seed = edges.groupBy(F.col("src").alias("doc_id")).agg(F.min("dst").alias("label"))
    comp = propagate_over_edges(seed, edges).select(
        "doc_id", F.col("label").alias("component_id")
    )
    return comp.withColumn(
        "component_size", F.count("*").over(W.partitionBy("component_id"))
    )


def observed_quality_gate(df: DataFrame, min_tokens: int = 20, max_tokens: int = 1000):
    """Quality filter with built-in observability: returns
    ``(filtered_df, observation)`` where the Observation captures corpus
    metrics (rows in, rows kept, total tokens kept) as a side effect of
    whatever action runs downstream — zero extra passes over the data.
    The production pattern for pipeline accounting at 100 TB: metrics
    ride the job, they are not a second job."""
    from pyspark.sql import Observation

    n_tokens = F.size(tokens_col())
    with_n = df.withColumn("n_tokens", n_tokens)
    # ONE binding of the gate predicate: the observe() arms and the
    # filter below must never disagree about what "kept" means.
    kept = F.col("n_tokens").between(min_tokens, max_tokens)
    obs = Observation("quality_gate")
    observed = with_n.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("rows_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("tokens_kept"),
    )
    return (observed.filter(kept), obs)


@register(
    "corpus_prep_end_to_end",
    oracle=f"""
WITH surv AS (
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')))
),
d AS (
    SELECT doc.doc_id, doc.lang, len(string_split_regex(doc.text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_tokens
    FROM documents doc JOIN surv ON doc.doc_id = surv.doc_id
),
q AS (SELECT * FROM d WHERE n_tokens BETWEEN 20 AND 1000),
s AS (
    SELECT *, CASE WHEN {BUCKET_SQL} < '{TRAIN_MAX}' THEN 'train'
                   WHEN {BUCKET_SQL} < '{VALID_MAX}' THEN 'valid'
                   ELSE 'test' END AS split
    FROM q
)
SELECT doc_id, lang, split, n_tokens,
       CAST((sum(n_tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id
FROM s
""",
    tags=("text", "pipeline", "end-to-end", "north-star"),
    doc=(
        "The full corpus-preparation pipeline as ONE composed query: exact "
        "dedup (md5-of-normalized-text survivors) -> token-count quality "
        "gate -> deterministic train/valid/test split -> per-(lang, split) "
        "sequence packing. Composition stays declarative, so Catalyst fuses "
        "the dedup/gate/split stages into one dedup shuffle + one semi-join; "
        "packing runs as the range-sharded two-phase prefix sum (operators/"
        "skew.range_sharded_running_sum) so the hot (lang, split) group of a "
        "real corpus — ~50%+ one language — never lands on one reducer."
    ),
)
def corpus_prep_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_kinesis_article_analysis_spark.functions.dedup import normalized_text_col

    d = load(spark, sf_dir, "documents")
    surv = (
        d.select(F.md5(normalized_text_col()).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = (
        d.join(surv, "doc_id", "left_semi")
        .select("doc_id", "lang", F.size(tokens_col()).alias("n_tokens"))
        .filter(F.col("n_tokens").between(20, 1000))
    )
    bucket = doc_bucket()
    split = (
        F.when(bucket < TRAIN_MAX, "train")
        .when(bucket < VALID_MAX, "valid")
        .otherwise("test")
    )
    return _packed(spark, sf_dir, kept.withColumn("split", split), ["lang", "split"])
