"""Scale-path operators a 100 TB training-data pipeline runs daily:
reproducible sampling, heavy hitters, multi-dimensional layout
clustering (Z-order), random-projection dimensionality reduction, and
running distinct counts.

All Catalyst built-ins — zero Python UDFs, zero collects. Every spec
follows the repo's twin-oracle discipline: randomness is md5-derived or
generated at plan-build time from shared constants, so the DuckDB
oracle reproduces the exact values (the pattern that made the LSH
pipelines hash-verifiable, ``dedup.py``/``similarity.py``).

Reference parity note: the reference app (process_articles.py:62-82) has
none of these — they are part of the BASELINE.json north-star extension
surface ("design every operator for 100 TB scale").
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.similarity import (
    EMB_DIM,
    VALID_DIM_SQL,
    VALID_OR_NULL_SQL,
    centroid_means,
    fold_centroids,
    nearest_centroid_sql,
    valid_vector,
)
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register

# --------------------------------------------------------------------------
# sample_hash_portable — reproducible content-addressed Bernoulli sampling
# --------------------------------------------------------------------------

#: keep a doc iff md5-bucket(doc_id) < this (out of 1000) — 10% sample.
SAMPLE_PERMILLE = 100


@register(
    "sample_hash_portable",
    oracle=f"""
SELECT doc_id, lang,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
           AS sample_bucket
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
      < {SAMPLE_PERMILLE}
""",
    tags=("sampling", "dedup-adjacent", "north-star"),
    doc=(
        "Content-addressed 10% Bernoulli sample: keep iff "
        "md5(doc_id) mod 1000 < 100. Unlike rand(seed) sampling this is "
        "REPRODUCIBLE across engines, partitionings, and reruns — the "
        "property a training-data pipeline needs for holdout sets that "
        "survive corpus regeneration. Map-only, filter evaluates per-row "
        "with no shuffle; at 100 TB the sample is a single scan-fused "
        "stage (and composable: bucket < 10 is a nested 1% subsample of "
        "the 10% sample, the standard hash-sampling telescope)."
    ),
)
def sample_hash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000
    )
    return (
        d.withColumn("sample_bucket", bucket)
        .filter(F.col("sample_bucket") < SAMPLE_PERMILLE)
        .select("doc_id", "lang", "sample_bucket")
    )


# --------------------------------------------------------------------------
# agg_heavy_hitters — exact frequent tokens, two-phase
# --------------------------------------------------------------------------

HEAVY_HITTERS_K = 20


@register(
    "agg_heavy_hitters",
    oracle=f"""
SELECT token, cnt
FROM (
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT unnest(string_split_regex(lower(coalesce(text, '')), '[ \\t\\n\\x0b\\f\\r]+')) AS token
        FROM documents
    )
    WHERE token <> ''
    GROUP BY token
)
ORDER BY cnt DESC, token
LIMIT {HEAVY_HITTERS_K}
""",
    tags=("aggregate", "text", "heavy-hitters", "north-star"),
    doc=(
        "Exact corpus-wide heavy hitters: top-20 whitespace tokens by "
        "frequency, ties broken lexicographically. NULL text == empty "
        "text (the corpus-wide rule)."
    ),
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase by construction: explode -> hash agg on token gets a
    map-side partial combine, so the shuffle carries one row per
    (partition, distinct token), not one per token OCCURRENCE — hot
    tokens ('the') cost nothing extra, which is why exact heavy hitters
    need no sketch until the DISTINCT-token count itself explodes. The
    final top-k is ``orderBy().limit(k)`` — planned as
    TakeOrderedAndProject (per-partition heaps + a k-row driver merge),
    never a global sort."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                tokens_col(F.lower(F.coalesce(F.col("text"), F.lit(""))))
            ).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(HEAVY_HITTERS_K)
    )


# --------------------------------------------------------------------------
# layout_zorder_cluster — multi-dimensional layout clustering key
# --------------------------------------------------------------------------

ZORDER_BITS = 8  # 8 bits per dimension -> 16-bit z-value


def _zval_sql(x: str, y: str, divop: str) -> str:
    """Bit-interleave SQL for z(x, y) generated from one formula so the
    Spark and DuckDB sides cannot diverge; pure *, %, integer-div
    arithmetic (no engine-specific shift syntax). ``divop`` is the
    engine's integer-division token ('div' for Spark, '//' for DuckDB).
    """
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({x} {divop} {2 ** i}) % 2) * {2 ** (2 * i)}")
        terms.append(f"(({y} {divop} {2 ** i}) % 2) * {2 ** (2 * i + 1)}")
    return " + ".join(terms)


def _quant(val: str, lo: str, hi: str, divop: str) -> str:
    """Quantize ``val`` into [0, 255] over the observed [lo, hi] domain.
    A MODULO-based 8-bit key would alias (a year of minutes wraps every
    4.3 h, de-clustering the time axis — probed); quantizing the full
    domain into 256 equi-width cells is what actual Z-order layouts do.
    """
    return f"least(255, (({val} - {lo}) * 256) {divop} ({hi} - {lo} + 1))"


_MIN_SPARK = "(unix_micros(ts) div 60000000)"
_MIN_DUCK = "(epoch_us(ts) // 60000000)"


@register(
    "layout_zorder_cluster",
    oracle=f"""
WITH s AS (
    SELECT min(user_id) AS ulo, max(user_id) AS uhi,
           min({_MIN_DUCK}) AS tlo, max({_MIN_DUCK}) AS thi
    FROM events WHERE ts IS NOT NULL
),
keyed AS (
    SELECT event_id,
           {_quant("user_id", "ulo", "uhi", "//")} AS zx,
           {_quant(_MIN_DUCK, "tlo", "thi", "//")} AS zy
    FROM events, s
    WHERE ts IS NOT NULL
)
SELECT zbucket, CAST(count(*) AS BIGINT) AS n_events,
       min(event_id) AS min_event_id, max(event_id) AS max_event_id
FROM (SELECT event_id, ({_zval_sql("zx", "zy", "//")}) // 64 AS zbucket FROM keyed)
GROUP BY zbucket
""",
    tags=("layout", "zorder", "scale", "north-star"),
    doc=(
        "Z-order (Morton) clustering key over (user_id, event minute): "
        "quantize each dimension into 256 equi-width cells over its "
        "observed domain, interleave the 8 bits, bucket by zvalue/64. "
        "NULL event times are excluded (no position on the time axis), "
        "matching the window operators' NULL-ts rule."
    ),
)
def layout_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The domain stats are one map-side-combined 1-row aggregate
    broadcast to the scan (same tiny-metadata-job posture as
    skew.with_balanced_range_shard; on a curated table the bounds come
    free from parquet footers). The z-value itself is scan-fused integer
    arithmetic in whole-stage codegen. The 100 TB layout op this key
    exists for is ``repartitionByRange(zval).sortWithinPartitions(zval)
    .write.parquet(...)`` — after which row-group min/max ranges are
    narrow in BOTH user_id and time, so a predicate on either dimension
    prunes row groups; a single-column sort can only ever prune one.
    tests/test_scale_layout.py pins the 2-D pruning on real files."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    stats = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.expr(f"min({_MIN_SPARK})").alias("tlo"),
        F.expr(f"max({_MIN_SPARK})").alias("thi"),
    )
    zx = _quant("user_id", "ulo", "uhi", "div")
    zy = _quant(_MIN_SPARK, "tlo", "thi", "div")
    return (
        ev.join(F.broadcast(stats))
        .withColumn("zx", F.expr(zx))
        .withColumn("zy", F.expr(zy))
        .withColumn("zbucket", F.expr(f"({_zval_sql('zx', 'zy', 'div')}) div 64"))
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


def zorder_key(
    user_range: tuple[int, int],
    minute_range: tuple[int, int],
    user_col: str = "user_id",
    ts_col: str = "ts",
):
    """Reusable Column form of the z-value for layout writes, with the
    per-dimension domains passed in (from parquet footer stats or a
    1-row min/max job). The cast tolerates TIMESTAMP_NTZ inputs (raw
    parquet reads bypass catalog.load's normalization); a constant tz
    shift translates the minute axis without de-clustering it."""
    minute = f"(unix_micros(cast({ts_col} as timestamp)) div 60000000)"
    return F.expr(
        _zval_sql(
            _quant(user_col, str(user_range[0]), str(user_range[1]), "div"),
            _quant(minute, str(minute_range[0]), str(minute_range[1]), "div"),
            "div",
        )
    )


# --------------------------------------------------------------------------
# embed_random_projection — md5-derived Johnson-Lindenstrauss reduction
# --------------------------------------------------------------------------

# EMB_DIM imported from similarity — ONE dimension constant repo-wide
# (tests/test_properties.py pins it against the actual fixture data, so
# a driver regeneration at a new dim fails loudly, not via hash riddles)
PROJ_DIM = 8


def _proj_weight(k: int, j: int) -> float:
    """Deterministic weight in [-1, 1] for (output dim k, input dim j) —
    md5-derived so the oracle regenerates the identical matrix."""
    h = int(hashlib.md5(f"proj:{k}:{j}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) / 1000.0


_PROJ = [[_proj_weight(k, j) for j in range(EMB_DIM)] for k in range(PROJ_DIM)]


def _proj_oracle() -> str:
    # Seeded with 0.0 so the fold order (0 + p1 + p2 + ...) matches
    # Spark's aggregate() seed exactly — an all-zero vector otherwise
    # diverges on SIGNED zero: Spark computes 0.0 + (-0.0) = +0.0 while
    # an unseeded left-to-right chain keeps -0.0.
    # CAST each element to DOUBLE: DuckDB keeps FLOAT * DOUBLE in FLOAT
    # precision (probed: proj values came back float32-quantized), while
    # Spark's zip_with promotes the float element to double exactly.
    cols = ", ".join(
        "round(0.0 + "
        + " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * ({w!r})"
            for j, w in enumerate(_PROJ[k])
        )
        + f", 6) AS proj_{k}"
        for k in range(PROJ_DIM)
    )
    return f"SELECT vec_id, {cols} FROM embeddings WHERE {VALID_OR_NULL_SQL}"


@register(
    "embed_random_projection",
    oracle=_proj_oracle(),
    tags=("embedding", "projection", "north-star"),
    doc=(
        "Random-projection (Johnson-Lindenstrauss) reduction 64 -> 8 dims "
        "with an md5-derived weight matrix the oracle regenerates exactly; "
        "per-coordinate left-to-right fold seeded at 0.0 on both engines "
        "(signed-zero parity for the all-zero vector)."
    ),
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only: the weight matrix is a plan literal (constant-folded
    JVM-side, no broadcast needed at any corpus size) and each output
    coordinate is one zip_with/aggregate fold inside codegen — the same
    single-SQL-parse discipline as similarity._bucket_expr (the Column-
    API per-element form was measured at ~2.6 s of driver-side plan
    construction). At 100 TB this is a scan-fused projection that cuts
    downstream ANN shuffle bytes 8x."""
    e = load(spark, sf_dir, "embeddings").filter(valid_vector(or_null=True))
    exprs = []
    for k in range(PROJ_DIM):
        row = "array(" + ", ".join(f"{w!r}D" for w in _PROJ[k]) + ")"
        exprs.append(
            F.expr(
                f"round(aggregate(zip_with(embedding, {row}, (p, q) -> p * q), "
                f"cast(0.0 as double), (a, v) -> a + v), 6)"
            ).alias(f"proj_{k}")
        )
    return e.select("vec_id", *exprs)


# --------------------------------------------------------------------------
# time_rolling_interval_stats — event-time RANGE frame (rolling 1 hour)
# --------------------------------------------------------------------------


@register(
    "time_rolling_interval_stats",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       round(sum(value) OVER w, 6) AS sum_1h
FROM events
WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    tags=("window", "time-series", "range-frame"),
    doc=(
        "Rolling 1-hour count/sum per user — the hypertable 'stats over "
        "a trailing interval' shape, as an event-time RANGE frame over "
        "epoch micros (identical peer semantics on both engines; "
        "interval literals in frames are not portable, epoch arithmetic "
        "is). NULL-ts rows have no position on the time axis and are "
        "excluded, the window operators' uniform rule."
    ),
)
def time_rolling_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash exchange on user_id + per-partition sort; the frame scan
    is the O(n) two-pointer pass, not a per-row re-aggregation. Hot-key
    posture: a single user with half the corpus serializes its sort —
    the same straggler shape range_sharded_running_sum kills; a rolling
    frame shards the same way because shard boundaries only need the
    trailing hour replicated across the cut."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 6).alias("sum_1h"),
    )


# --------------------------------------------------------------------------
# cdc_merge_upsert — MERGE INTO semantics as a single full-outer join
# --------------------------------------------------------------------------


@register(
    "cdc_merge_upsert",
    oracle="""
WITH changes AS (
    SELECT o_custkey AS k,
           CASE WHEN count(*) % 7 = 0 THEN 'D' ELSE 'U' END AS op,
           round(sum(o_totalprice), 2) AS amt
    FROM orders GROUP BY o_custkey
    UNION ALL
    SELECT -o_custkey AS k, 'I' AS op, round(sum(o_totalprice), 2) AS amt
    FROM orders GROUP BY o_custkey HAVING count(*) % 11 = 0
)
SELECT
    coalesce(s.c_custkey, c.k) AS c_custkey,
    coalesce(s.c_name, 'new-' || CAST(c.k AS VARCHAR)) AS c_name,
    round(CASE WHEN c.op = 'U' THEN s.c_acctbal + c.amt
               WHEN c.op = 'I' THEN c.amt
               ELSE s.c_acctbal END, 2) AS acctbal
FROM customer s
FULL OUTER JOIN changes c ON s.c_custkey = c.k
WHERE c.op IS NULL                                      -- target row with no change: ride through
   OR (c.op = 'U' AND s.c_custkey IS NOT NULL)          -- matched update
   OR (c.op = 'I' AND s.c_custkey IS NULL)              -- unmatched insert
-- everything else (delete matched/unmatched, update unmatched,
-- insert matched) drops; positive form so op IS NULL never
-- NULL-propagates a target row out (ADVICE r4 high: the NOT(...)
-- chain silently deleted every customer without a change record)
""",
    tags=("cdc", "merge", "upsert", "join"),
    doc=(
        "MERGE INTO semantics (upsert + delete + insert) over a plain "
        "parquet snapshot, expressed as ONE full-outer join: matched 'U' "
        "updates in place, matched 'D' deletes, unmatched 'I' inserts, "
        "every other (op, match) combination is a no-op. The change feed "
        "is derived deterministically from orders so the oracle "
        "reproduces it exactly."
    ),
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table-format-free core of what Delta/Iceberg MERGE compiles
    to: one shuffle join on the merge key (broadcast when the change
    batch is small — the common CDC case; AQE decides), then a
    row-local action projection. At 100 TB the win is joining ONLY
    files whose key ranges intersect the batch (layout_zorder_cluster /
    sorted-write zone maps give exactly that pruning)."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("amt")
    )
    changes = (
        per_cust.select(
            F.col("o_custkey").alias("k"),
            F.when(F.col("n") % 7 == 0, "D").otherwise("U").alias("op"),
            "amt",
        )
    ).unionByName(
        per_cust.filter(F.col("n") % 11 == 0).select(
            (-F.col("o_custkey")).alias("k"), F.lit("I").alias("op"), "amt"
        )
    )
    s = load(spark, sf_dir, "customer")
    merged = s.join(changes, s["c_custkey"] == changes["k"], "full_outer")
    matched = s["c_custkey"].isNotNull()
    return (
        # Positive-form keep predicate: op IS NULL (target row with no
        # change record) must ride through unchanged. The previous
        # NOT(op='X' AND ...) conjunction evaluated to NULL for those
        # rows — silent data loss on any customer without a change
        # record (ADVICE r4 high; masked at test SFs because every
        # fixture customer has orders).
        merged.filter(
            F.col("op").isNull()
            | ((F.col("op") == "U") & matched)
            | ((F.col("op") == "I") & ~matched)
        )
        .select(
            F.coalesce(s["c_custkey"], F.col("k")).alias("c_custkey"),
            F.coalesce(s["c_name"], F.concat(F.lit("new-"), F.col("k").cast("string"))).alias(
                "c_name"
            ),
            F.round(
                F.when(F.col("op") == "U", s["c_acctbal"] + F.col("amt"))
                .when(F.col("op") == "I", F.col("amt"))
                .otherwise(s["c_acctbal"]),
                2,
            ).alias("acctbal"),
        )
    )


# --------------------------------------------------------------------------
# corpus_shuffle_deterministic — reproducible global training order
# --------------------------------------------------------------------------


@register(
    "corpus_shuffle_deterministic",
    oracle="""
SELECT doc_id, lang,
       md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(row_number() OVER (ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)),
                               doc_id) AS BIGINT) AS position
FROM documents
""",
    tags=("sampling", "shuffle", "north-star"),
    doc=(
        "Deterministic global shuffle for training order: sort by "
        "md5(epoch_salt || doc_id). Reproducible across engines, "
        "partitionings, and reruns (no PRNG state to checkpoint); a new "
        "epoch is a new salt — a full reshuffle with zero stored state."
    ),
)
def corpus_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable form carries an explicit global position,
    which costs a single-reducer final window at corpus scale — the
    production form stops at ``repartitionByRange(shuffle_key)
    .sortWithinPartitions(shuffle_key)``: a total order ACROSS sorted
    output files without any global exchange, which is all an epoch
    iterator needs. The key itself is map-only and content-addressed, so
    any worker can recompute any epoch's order independently."""
    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string")))
    w = W.orderBy(F.col("shuffle_key"), F.col("doc_id"))
    return (
        d.withColumn("shuffle_key", key)
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select("doc_id", "lang", "shuffle_key", "position")
    )


# --------------------------------------------------------------------------
# topk_per_group_sharded — two-phase top-k, hot-group-straggler-free
# --------------------------------------------------------------------------

TOPK_SALTS = 8


@register(
    "topk_per_group_sharded",
    oracle="""
SELECT c_mktsegment, c_custkey, c_name, c_acctbal
FROM (
    SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
    FROM customer
) WHERE rn <= 3
""",
    tags=("topk", "skew", "two-phase"),
    doc=(
        "Row-identical to topk_per_group (same oracle): per-group top-3, "
        "computed in two phases so a hot group cannot serialize one "
        "reducer's sort — local top-3 within (group, salt), then final "
        "top-3 over at most 3*TOPK_SALTS candidates per group."
    ),
)
def topk_per_group_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-rank top-k (topk_per_group) sorts EVERY row of a group
    on one reducer — at 100 TB a segment holding half the corpus is a
    straggler. Phase 1 salts rows by hash(custkey) into TOPK_SALTS
    sub-shards and keeps each sub-shard's local top-3 (correct because
    the global top-3 are each top-3 of whatever sub-shard they landed
    in); phase 2 ranks the <= 3*TOPK_SALTS survivors per group — a
    bounded, skew-proof window. Same (acctbal DESC, custkey ASC)
    ordering in both phases keeps the result bit-identical to the plain
    form. The same rewrite family as range_sharded_running_sum, for the
    rank-filter shape instead of running aggregates."""
    c = load(spark, sf_dir, "customer")
    salted = c.withColumn("__salt", F.pmod(F.hash("c_custkey"), F.lit(TOPK_SALTS)))
    order = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    w_local = W.partitionBy("c_mktsegment", "__salt").orderBy(*order)
    w_final = W.partitionBy("c_mktsegment").orderBy(*order)
    return (
        salted.withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= 3)
        .withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_name", "c_acctbal")
    )


# --------------------------------------------------------------------------
# cluster_kmeans_portable — Lloyd, fixed rounds, oracle-verified
# --------------------------------------------------------------------------

KMEANS_K = 8


def _d2_sql_duck(vec: str, cent: str) -> str:
    return (
        f"round(list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> ({vec}[i] - {cent}[i]) * ({vec}[i] - {cent}[i]))), 6)"
    )


def _kmeans_assign_sql(cents_cte: str, out: str) -> str:
    d2 = _d2_sql_duck("e.v", "c.cent")
    return f"""{out} AS (
    SELECT vec_id, cid AS cluster, d2 FROM (
        SELECT e.vec_id, c.cid, {d2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
        FROM e, {cents_cte} c
    ) WHERE rn = 1
)"""


@register(
    "cluster_kmeans_portable",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL AND {VALID_DIM_SQL}),
c0 AS (SELECT vec_id AS cid, v AS cent FROM e WHERE vec_id < {KMEANS_K}),
{_kmeans_assign_sql("c0", "a1")},
pts AS (
    SELECT a.cluster, t.pos, e.vec_id, e.v[t.pos] AS val
    FROM a1 a JOIN e USING (vec_id),
         LATERAL unnest(generate_series(1, {EMB_DIM})) AS t(pos)
),
m1 AS (
    SELECT cluster, pos,
           round(list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                             (x, y) -> x + y) / count(*), 6) AS m
    FROM pts GROUP BY cluster, pos
),
c1 AS (SELECT cluster AS cid, list(m ORDER BY pos) AS cent FROM m1 GROUP BY cluster),
{_kmeans_assign_sql("c1", "a2")}
SELECT vec_id, cluster, round(sqrt(d2), 6) AS dist FROM a2
""",
    tags=("clustering", "kmeans", "north-star", "portable-twin"),
    doc=(
        "Lloyd k-means with every float operation pinned portable: "
        "deterministic init (vec_id < K), assignment by (rounded-d2, cid) "
        "argmin, centroid means as a vec_id-ORDERED 0.0-seeded fold "
        "rounded per dim — so assign -> update -> assign is value-hash-"
        "identical across engines. The iterative twin "
        "(cluster_kmeans_lloyd) runs the convergence loop; this spec "
        "proves the per-round arithmetic."
    ),
)
def cluster_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scale shape as sim_ivf_topk's assignment, through the same
    centroid kernel (``functions/similarity.py``): the centroid set
    folds to ONE array row (K x dim doubles, broadcastable at any corpus
    size) and every vector picks its cluster inside a single map-side
    higher-order expression — no pair-grain rows, no window shuffle.
    The update is one cluster-grain hash agg; the ordered fold costs a
    collect_list per cluster of at most |cluster| vectors, which is why
    production kmeans at 100 TB accepts nondeterministic avg() instead —
    this spec exists to VERIFY the arithmetic, and documents the price
    of determinism."""
    # NULL embedding == no position in the space: excluded on both
    # engine sides (the vector-grain analogue of the NULL-ts window
    # rule; a NULL member otherwise makes its cluster's round-1 mean
    # NULL).
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(valid_vector())
        .select("vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    )
    cents = e.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cent")
    )

    def assign(cents_df: DataFrame) -> DataFrame:
        return (
            e.join(F.broadcast(fold_centroids(cents_df)))
            .withColumn("b", F.expr(nearest_centroid_sql("v")))
            # Empty centroid set (no valid vector has vec_id < K — fuzz
            # find #24: a corpus of NULL embeddings plus one valid
            # vector): array_min([]) is NULL, and the oracle's cross
            # join against the empty centroid CTE emits NOTHING — so an
            # unassignable vector must be dropped, not kept with a NULL
            # cluster (which round 2 then "repaired" into a NULL-cid
            # centroid, emitting Row(cluster=NULL, dist=0.0)).
            .filter(F.col("b").isNotNull())
            .select("vec_id", "v", F.col("b.cid").alias("cid"), F.col("b.score").alias("d2"))
        )

    a2 = assign(centroid_means(assign(cents), ["cid"], "v", EMB_DIM))
    return a2.select(
        "vec_id", F.col("cid").alias("cluster"), F.round(F.sqrt("d2"), 6).alias("dist")
    )


# --------------------------------------------------------------------------
# window_cumulative_distinct — running distinct count, two-window rewrite
# --------------------------------------------------------------------------


@register(
    "window_cumulative_distinct",
    oracle="""
WITH flagged AS (
    SELECT event_id, event_type, ts, user_id,
           CASE WHEN row_number() OVER (
                    PARTITION BY event_type, user_id
                    ORDER BY ts ASC NULLS FIRST, event_id) = 1
                THEN 1 ELSE 0 END AS first_seen
    FROM events
)
SELECT event_id, event_type, ts,
       CAST(sum(first_seen) OVER (
            PARTITION BY event_type
            ORDER BY ts ASC NULLS FIRST, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS distinct_users_so_far
FROM flagged
""",
    tags=("window", "distinct", "analytic"),
    doc=(
        "Running COUNT(DISTINCT user_id) per event_type in event order — "
        "no engine supports DISTINCT in a running frame directly; the "
        "portable rewrite flags each user's first occurrence (one window) "
        "and running-sums the flags (second window). NULL-ts rows sort "
        "first deterministically (event_id tiebreak) on both engines."
    ),
)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two shuffles: (event_type, user_id) for the first-occurrence flag,
    then event_type for the running sum. The second window is one
    reducer per event_type — the exact shape operators/skew.py's
    range_sharded_running_sum exists to rewrite when a hot event_type
    holds half the corpus (the flag sum IS a sharded running sum; swap
    it in unchanged at scale)."""
    ev = load(spark, sf_dir, "events")
    w_first = W.partitionBy("event_type", "user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id")
    )
    w_run = (
        W.partitionBy("event_type")
        .orderBy(F.col("ts").asc_nulls_first(), F.col("event_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        ev.withColumn(
            "first_seen", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        )
        .withColumn("distinct_users_so_far", F.sum("first_seen").over(w_run))
        .select("event_id", "event_type", "ts", "distinct_users_so_far")
    )
