"""Similarity search over embedding columns (north star): exact
brute-force cosine top-k, and the two approximate scale paths (IVF
cells, random-hyperplane LSH buckets).

Vectors are ``array<float>`` (dim 64) cast to ``array<double>`` before
arithmetic; dot products are built-in higher-order expressions
(``zip_with`` + ``aggregate``) — JVM-side, codegen'd, no Python UDF.

Ranking discipline: scores are rounded to 6 digits *before* ranking and
tie-broken by vec_id, so the top-k set is deterministic and identical
to the DuckDB oracle regardless of float summation order.

Scale posture:
- brute force is O(Q x N) with the query side broadcast — fine for a
  bounded query set, the correctness baseline for everything else;
- IVF: assign every vector to its nearest of K centroids (one broadcast
  pass), then search only the probe cell — O(N/K) per query;
- LSH: sign-bit bucket of R fixed hyperplanes, candidates from bucket
  equality; recall vs brute force is asserted in tests. Both LSH forms
  are oracle-backed since round 4: plane weights are derived at
  plan-build time (seeded stdlib PRNG / md5) and embedded as literals
  the DuckDB oracle repeats verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.registry import register

#: Bounded query set: these vec_ids are the search queries.
N_QUERIES = 5
TOP_K = 5
#: IVF centroid seeds: every 100th vector seeds a cell (K ~ N/100);
#: one spherical-kmeans round over the training subsample then moves
#: each seed to its cell's mean (see _ivf_trained_cents).
IVF_CENTROID_STRIDE = 100
#: Training subsample: every 5th vector (20%) participates in the
#: centroid-update round. Deterministic and oracle-mirrorable; at
#: 100 TB this is a fixed-size reservoir sample instead.
IVF_TRAIN_STRIDE = 5
#: Corpus-side multi-assignment width (IVF spill): each corpus vector
#: is indexed in its IVF_NASSIGN nearest cells. Index grows x NASSIGN;
#: recall at fixed nprobe jumps because near-boundary vectors stop
#: disappearing behind a single Voronoi cut. r10 measurement on the
#: bench corpus (trained centroids): NASSIGN 1 -> 2 lifted recall@5
#: from 0.44 to 0.80 at nprobe=4 (numpy prototype 0.44; Spark 0.80
#: confirmed by bench.py's per-round curve).
IVF_NASSIGN = 2
#: Multiprobe width: each QUERY searches its nprobe nearest cells.
#: The synthetic corpus is near-isotropic (little cluster structure,
#: the adversarial case for IVF); with trained centroids +
#: multi-assignment the r10 measured curve is recall@5 = 0.36/0.52/
#: 0.80/0.88 at nprobe 1/2/4/8 — the classic recall-vs-scan-fraction
#: dial, recorded per round by bench.py's ivf_recall curve.
IVF_NPROBE = 4
#: LSH: hash tables x sign bits per table. Multiple independent tables are
#: what gives recall — a near neighbor only needs to collide in ONE table
#: (per-table collision prob for angle theta is (1-theta/pi)^bits).
LSH_TABLES = 4
LSH_BITS = 4
#: Embedding dimensionality of the corpus (embeddings.parquet).
EMB_DIM = 64
#: Phase-1 shard count for the two-phase brute-force top-k (see
#: operators/skew.sharded_topk): bounds the merge window at
#: TOPK_SHARDS * TOP_K rows per query regardless of corpus size.
TOPK_SHARDS = 32

#: Schema-validity guard (DuckDB twins of :func:`valid_vector`): a
#: 100 TB feed WILL contain corrupt rows whose array length is not
#: EMB_DIM — truncated writes, concatenation bugs, empty lists — or
#: whose elements are NULL or NaN. zip_with silently folds over the
#: shorter length (garbage cosines, skewed centroids), a NaN element
#: wins every max and loses every min differently in each engine, and
#: DuckDB's list_cosine_similarity throws outright, so every vector
#: operator excludes such rows up front. NULL embeddings keep their
#: documented per-spec semantics (propagate or drop), hence the two
#: flavors.
VALID_DIM_SQL = (
    f"(len(embedding) = {EMB_DIM} "
    "AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0)"
)
VALID_OR_NULL_SQL = f"(embedding IS NULL OR {VALID_DIM_SQL})"


def dot(x: Column, y: Column) -> Column:
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v)


def cosine(x: Column, y: Column) -> Column:
    return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))


def valid_vector(v: str = "embedding", or_null: bool = False) -> Column:
    """Spark twin of :data:`VALID_DIM_SQL` over the array column ``v``:
    EMB_DIM elements, none NULL or NaN. ``or_null`` also keeps a NULL
    array (:data:`VALID_OR_NULL_SQL`)."""
    ok = (F.size(v) == EMB_DIM) & F.forall(v, lambda x: x.isNotNull() & ~F.isnan(x))
    return F.col(v).isNull() | ok if or_null else ok


def _vectors(raw: DataFrame) -> DataFrame:
    """(vec_id, label, emb) of a raw embeddings frame: schema-valid or
    NULL rows, cast to ``array<double>``."""
    return raw.filter(valid_vector(or_null=True)).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vectors(load(spark, sf_dir, "embeddings"))


#: DuckDB twin of the zero-vector guard below (raw `embedding` column):
#: cosine consumers additionally require schema-valid dimensionality.
NONZERO_SQL = f"({VALID_DIM_SQL} AND len(list_filter(embedding, x -> x <> 0)) > 0)"


def _nonzero(e: DataFrame) -> DataFrame:
    """``e`` minus zero-norm vectors. Cosine is UNDEFINED for the zero
    vector, and under ANSI mode (Spark 4 default) a single all-zero
    embedding row — padding, a dead encoder, a null-imputed batch —
    would otherwise kill every cosine-scoring job with DIVIDE_BY_ZERO.
    Excluded identically in the oracles via :data:`NONZERO_SQL`, and
    deliberately NOT applied to non-cosine operators (norm stats,
    centroids, quantization) where a zero vector is a legitimate row.
    ``exists`` short-circuits on the first nonzero component — cheaper
    than a norm fold, and no filter-on-fold-column re-inline."""
    return e.filter(F.exists("emb", lambda x: x != 0.0))


def _cosine_vectors(raw: DataFrame) -> DataFrame:
    """(vec_id, label, emb, nrm): the cosine-scorable vectors of a raw
    embeddings frame — a table scan or a stream's micro-batch — with
    each norm folded ONCE at vector grain."""
    return _nonzero(_vectors(raw)).withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb"))))


# --------------------------------------------------------------------------
# Centroid kernel — the one "portable centroid" rule that IVF, k-means, PQ
# and SemDeDup share and their DuckDB oracles mirror:
#
# * the centroids fold to ONE broadcast row (``cents``: array<struct<cid,
#   cent, ...>>), so assignment is a map-side higher-order expression with
#   no pair-grain rows, no window and no exchange;
# * the nearest centroid is ``array_min`` over struct(score, cid): rounded
#   squared distance, or the NEGATED rounded cosine (negating a rounded
#   value is exact), so ties go to the smaller cid — the oracles'
#   ``ORDER BY score, cid`` with rn = 1. An empty centroid array gives
#   NULL, which every caller drops, as the oracles' cross join with an
#   empty centroid set emits nothing;
# * a centroid update is ONE aggregation per cluster: each dimension's
#   mean is a vec_id-ordered fold from 0.0 divided by the member count,
#   rounded to 6 places — the oracles' ``list(val ORDER BY vec_id)``
#   reduce.
# --------------------------------------------------------------------------


def fold_centroids(cents: DataFrame, *fields: str) -> DataFrame:
    """One-row frame ``cents``: the (cid, cent, *fields) rows of
    ``cents`` as one array of structs, ready to broadcast."""
    return cents.agg(F.collect_list(F.struct("cid", "cent", *fields)).alias("cents"))


def _scores_sql(vec: str, cents: str, metric: str, rounded: bool) -> str:
    """``transform(cents, c -> struct(score, cid))`` for the vector
    expression ``vec``. ``metric="cos"`` also reads the row's ``nrm``
    column and each centroid's ``cnrm`` field."""
    if metric == "d2":
        d2 = (
            f"aggregate(zip_with({vec}, c.cent, (p, q) -> (p - q) * (p - q)), "
            "cast(0.0 as double), (a, x) -> a + x)"
        )
        score = f"round({d2}, 6)" if rounded else d2
    else:
        score = (
            f"-round(aggregate(zip_with({vec}, c.cent, (p, q) -> p * q), "
            "cast(0.0 as double), (a, x) -> a + x) / (nrm * c.cnrm), 6)"
        )
    return f"transform({cents}, c -> struct({score} AS score, c.cid AS cid))"


def nearest_centroid_sql(
    vec: str, cents: str = "cents", metric: str = "d2", rounded: bool = True
) -> str:
    """SQL for struct(score, cid) of the nearest centroid in the array
    expression ``cents``: ``metric`` is ``"d2"`` (squared distance,
    rounded to 6 places unless ``rounded=False``) or ``"cos"``
    (negated rounded cosine). NULL when ``cents`` is empty or NULL."""
    return f"array_min({_scores_sql(vec, cents, metric, rounded)})"


def nearest_centroids(vec: str, n: int, metric: str) -> Column:
    """``array<long>`` of the ``n`` nearest cids in ``cents``, nearest
    first: the argmin's (score, cid) order, sorted and sliced instead
    of minimised."""
    return F.expr(
        f"transform(slice(array_sort({_scores_sql(vec, 'cents', metric, True)}), 1, {n}), "
        "x -> x.cid)"
    )


def centroid_means(assigned: DataFrame, keys: list[str], vec: str, dim: int) -> DataFrame:
    """(*keys, cent): per group of ``keys``, the mean of the ``vec``
    arrays (length ``dim``) — per dimension the vec_id-ordered fold from
    0.0, divided by the member count and rounded to 6 places. One
    aggregation at cluster grain: the sorted member vectors are
    collected once and every dimension folds over them."""
    return (
        assigned.groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", vec))), lambda s: s[vec]
            ).alias("vs")
        )
        .select(
            *keys,
            F.expr(
                f"""transform(sequence(1, {dim}), p ->
                       round(aggregate(transform(vs, v -> element_at(v, p)),
                                       cast(0.0 as double), (a, x) -> a + x)
                             / size(vs), 6))"""
            ).alias("cent"),
        )
    )


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings
           WHERE vec_id < {N_QUERIES} AND {NONZERO_SQL}),
c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings
      WHERE vec_id >= {N_QUERIES} AND {NONZERO_SQL}),
scored AS (
    SELECT query_id, vec_id AS neighbor_id,
           round(list_cosine_similarity(qe, ce), 6) AS cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(list_cosine_similarity(qe, ce), 6) DESC,
                                       vec_id ASC) AS rn
    FROM q, c
)
SELECT query_id, neighbor_id, cosine FROM scored WHERE rn <= {TOP_K}
""",
    tags=("similarity", "topk", "north-star"),
    doc=(
        "Exact brute-force cosine top-k: broadcast the bounded query set against "
        "all candidates, zip_with dot product, two-phase sharded top-k on the "
        "rounded score (per-(query, shard) row_number <= k, then a merge window "
        "over <= TOPK_SHARDS * k survivors — no reducer sorts the whole scored "
        "corpus for one query). The correctness baseline for the approximate "
        "variants."
    ),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are per-vector quantities: fold them ONCE at vector grain
    # (Q + N fold ops) instead of inside the pair-grain cosine (the
    # inline form re-folds both norms for every (q, c) pair — 3x the
    # higher-order-expression work, the same pathology class the r3
    # sweep caught in dedup_embedding_cosine). sqrt(fold) is the same
    # arithmetic either way, so the pair cosine is bit-identical.
    e = _cosine_vectors(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("qe"), F.col("ce")) / (F.col("qnrm") * F.col("cnrm")), 6
        ).alias("cosine"),
    )
    # Two-phase top-k (r12): the scan emits N_corpus rows per query, so
    # a plain partitionBy(query_id) window is one reducer sorting the
    # whole scored corpus per query at 100 TB. sharded_topk prunes to
    # <= TOPK_SHARDS * TOP_K rows per query before the merge window —
    # row-identical (tie-free order by (cosine DESC, neighbor_id)).
    from spark_kinesis_article_analysis_spark.operators.skew import sharded_topk

    return sharded_topk(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        TOP_K,
        shard_key=F.col("neighbor_id"),
        num_shards=TOPK_SHARDS,
    ).select("query_id", "neighbor_id", "cosine")


#: The IVF training/index/probe CTEs, factored so the IVFPQ composition
#: (functions/pq.py: sim_ivfpq_topk) reuses the EXACT same trained
#: cells, multi-assignment, and probe semantics as sim_ivf_topk —
#: byte-one source of truth, no copy to drift. Defines: e, seeds, a1,
#: m1, cent, assigned (corpus x IVF_NASSIGN cells), probes
#: (queries x IVF_NPROBE cells).
IVF_TRAIN_CTES = f"""e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE {NONZERO_SQL}
),
seeds AS (
    SELECT vec_id AS cid, emb AS cent FROM e WHERE vec_id % {IVF_CENTROID_STRIDE} = 0
),
a1 AS (
    SELECT vec_id, cid AS cluster FROM (
        SELECT t.vec_id, s.cid,
               row_number() OVER (PARTITION BY t.vec_id
                                  ORDER BY round(list_cosine_similarity(t.emb, s.cent), 6) DESC,
                                           s.cid ASC) AS rn
        FROM (SELECT * FROM e WHERE vec_id % {IVF_TRAIN_STRIDE} = 0) t, seeds s
    ) WHERE rn = 1
),
m1 AS (
    SELECT cluster, pos,
           round(list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                             (x, y) -> x + y) / count(*), 6) AS m
    FROM (
        SELECT a.cluster, t.pos, e.vec_id, e.emb[t.pos] AS val
        FROM a1 a JOIN e USING (vec_id),
             LATERAL unnest(generate_series(1, {EMB_DIM})) AS t(pos)
    ) GROUP BY cluster, pos
),
cent AS (
    SELECT * FROM (
        SELECT cluster AS centroid_id, list(m ORDER BY pos) AS cent_e
        FROM m1 GROUP BY cluster
    ) WHERE list_sum(list_transform(cent_e, x -> x * x)) > 0
),
assigned AS (
    SELECT vec_id, emb, centroid_id FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, cent.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], cent_e), 6) DESC,
                                           centroid_id ASC) AS rn
        FROM embeddings e, cent
        WHERE {NONZERO_SQL.replace("embedding", "e.embedding")}
    ) WHERE rn <= {IVF_NASSIGN}
),
probes AS (
    SELECT vec_id AS query_id, emb AS qe, centroid_id FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, cent.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], cent_e), 6) DESC,
                                           centroid_id ASC) AS rn
        FROM embeddings e, cent
        WHERE e.vec_id < {N_QUERIES}
          AND {NONZERO_SQL.replace("embedding", "e.embedding")}
    ) WHERE rn <= {IVF_NPROBE}
)"""


@register(
    "sim_ivf_topk",
    oracle=f"""
WITH {IVF_TRAIN_CTES},
scored AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
           round(list_cosine_similarity(p.qe, a.emb), 6) AS cosine
    FROM probes p JOIN assigned a
      ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM scored
) WHERE rn <= {TOP_K}
""",
    tags=("similarity", "ivf", "ann", "north-star"),
    doc=(
        "IVF approximate NN with TRAINED centroids and MULTIPROBE: cell "
        "centers are one spherical-kmeans round over a deterministic "
        "stride subsample (seeds = every IVF_CENTROID_STRIDE-th vector, "
        "means as vec_id-ordered 0.0-seeded folds rounded per dim — the "
        "cluster_kmeans_portable float discipline, so the oracle mirrors "
        "the training exactly), plus MULTI-ASSIGNMENT: each corpus vector "
        "is indexed in its IVF_NASSIGN nearest cells (IVF spill — index "
        "size x NASSIGN buys recall at a fixed probe width). r9's "
        "untrained single-assignment form measured recall@5 = 0.48 at "
        "nprobe=4; this form measures 0.80 (0.88 at nprobe=8). Each "
        "query probes its IVF_NPROBE nearest cells — the recall-vs-scan-"
        "fraction dial every production IVF exposes (bench.py records "
        "the recall curve per round). Probed-cell search is the "
        "O(NPROBE * NASSIGN * N/K) scale path. Corpus assignment is a "
        "PURE MAP stage: the trained centroid set folds to one array "
        "row (K x dim doubles — broadcastable by the IVF contract, "
        "~33 MB even at 65k cells), and each vector computes its nearest "
        "cells inside a single higher-order expression — no pair-grain "
        "rows, no shuffle, no window. Training cost is sample-grain (one argmax "
        "pass + one (cluster, dim) agg over corpus/IVF_TRAIN_STRIDE "
        "rows); at 100 TB the subsample is a fixed-size reservoir, the "
        "standard train-on-sample / assign-full-corpus split. The "
        "rounded cosine and the (score DESC, centroid_id ASC) tie-break "
        "are bit-identical to the oracle's row_number form."
    ),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(spark, sf_dir, nprobe=IVF_NPROBE)


def _ivf_trained_cents(e: DataFrame) -> DataFrame:
    """One-row frame (`cents`: array<struct<cid, cent, cnrm>>) of trained
    IVF cell centers: seeds = every IVF_CENTROID_STRIDE-th vector, one
    spherical-kmeans round over the IVF_TRAIN_STRIDE subsample, through
    the centroid kernel (cosine argmin, ordered-fold means) so the
    DuckDB oracle reproduces the centroids bit-for-bit; zero-norm
    centers (possible only if a cluster's sample cancels exactly) are
    dropped on both sides — cosine is undefined for them."""
    seeds = fold_centroids(
        e.filter(F.col("vec_id") % IVF_CENTROID_STRIDE == 0).select(
            F.col("vec_id").alias("cid"), F.col("emb").alias("cent"), F.col("nrm").alias("cnrm")
        ),
        "cnrm",
    )
    a1 = (
        e.filter(F.col("vec_id") % IVF_TRAIN_STRIDE == 0)
        .join(F.broadcast(seeds))
        .withColumn("cid", F.expr(nearest_centroid_sql("emb", metric="cos"))["cid"])
        .filter(F.col("cid").isNotNull())
    )
    return (
        fold_centroids(
            centroid_means(a1, ["cid"], "emb", EMB_DIM)
            .withColumn("cnrm", F.sqrt(dot(F.col("cent"), F.col("cent"))))
            .filter(F.col("cnrm") > 0),
            "cnrm",
        )
        # LAZY lineage cut: the trained set feeds BOTH the corpus
        # assignment and the probe side; without the barrier each
        # broadcast re-runs the whole training subtree (a sample
        # assignment pass + the update agg). Lazy so building the plan
        # (or explaining it) costs no job — first consumer materializes
        # the single row, the second reuses it.
        .localCheckpoint(eager=False)
    )


def _ivf_index(e: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """``(cents, assigned)`` over the :func:`_cosine_vectors` frame ``e``:
    the trained cells, and (vec_id, emb, nrm, centroid_id) with every
    vector MULTI-ASSIGNED to its IVF_NASSIGN nearest cells (IVF spill:
    index size x NASSIGN buys recall at a fixed probe width — boundary
    vectors stop vanishing behind the single Voronoi cut; measured
    +0.36 recall@5 at nprobe=4 vs rn=1 assignment)."""
    cents = _ivf_trained_cents(e)
    assigned = e.join(F.broadcast(cents)).select(
        "vec_id",
        "emb",
        "nrm",
        F.explode(nearest_centroids("emb", IVF_NASSIGN, "cos")).alias("centroid_id"),
    )
    return cents, assigned


def _ivf_probes(q: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qe, qnrm, centroid_id): each query vector of the
    :func:`_cosine_vectors` frame ``q`` in its ``nprobe`` nearest cells."""
    return q.join(F.broadcast(cents)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.explode(nearest_centroids("emb", nprobe, "cos")).alias("centroid_id"),
    )


def ivf_index_and_probes(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> "tuple[DataFrame, DataFrame]":
    """The IVF candidate-generation machinery, shared by ``ivf_topk``,
    the IVFPQ composition (``functions/pq.sim_ivfpq_topk``) and, through
    :func:`_ivf_index` / :func:`_ivf_probes`, the streaming serving path
    (``streaming/ann_stream.py``), so the assignment/probe semantics
    exist ONCE Spark-side, mirroring the shared :data:`IVF_TRAIN_CTES`
    oracle constant. Returns ``(assigned, probes)``: ``assigned`` as in
    :func:`_ivf_index`, and ``probes`` — each query's ``nprobe``
    nearest cells. Probes are derived from the vec_id < N_QUERIES scan
    directly — that predicate pushes into the parquet scan, so the
    FULL-corpus assignment executes once (deriving probes from
    ``assigned`` would re-run the corpus-wide subtree)."""
    e = _cosine_vectors(load(spark, sf_dir, "embeddings"))
    cents, assigned = _ivf_index(e)
    return assigned, _ivf_probes(e.filter(F.col("vec_id") < N_QUERIES), cents, nprobe)


def ivf_score_and_rank(assigned: DataFrame, probes: DataFrame) -> DataFrame:
    """The IVF search back half — probe-cell join, rounded cosine,
    multi-assignment collapse, top-k — shared by :func:`ivf_topk` and
    the streaming serving path (``streaming/ann_stream.py``), so the
    scoring discipline exists ONCE Spark-side (self-review r12: the
    stream had re-implemented this block and would have silently missed
    the next change to it). ``assigned`` carries (vec_id, emb, nrm,
    centroid_id); ``probes`` carries (query_id, qe, qnrm, centroid_id).
    """
    scored = (
        assigned.join(
            F.broadcast(probes.select("query_id", "qe", "qnrm", "centroid_id")),
            "centroid_id",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qe"), F.col("emb")) / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("cosine"),
        )
        # a candidate sharing MORE than one probed cell with a query
        # appears once per shared cell under multi-assignment — collapse
        # before ranking (identical cosine bits on every copy, so a
        # hash-distinct on the 3 output columns is exact); the oracle
        # mirrors with SELECT DISTINCT.
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K).select(
        "query_id", "neighbor_id", "cosine"
    )


def ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """The sim_ivf_topk plan at an explicit probe width — bench.py
    sweeps this to record the recall-vs-nprobe curve each round."""
    assigned, probes = ivf_index_and_probes(spark, sf_dir, nprobe)
    return ivf_score_and_rank(assigned, probes)


def _bucket_expr(planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of ``col("emb")`` under literal hyperplanes —
    ONE ``F.expr`` SQL parse (classic PySpark turns every F.lit/F.array
    element and every Python HOF lambda into py4j round trips; the
    per-(table, bit) Column-API form cost ~2.6s of driver-side plan
    CONSTRUCTION per dedup_embedding_cosine build vs ~0.7s execution).
    The literal plane matrix constant-folds JVM-side; per-plane dot is a
    left-to-right zip_with/aggregate fold; ``repr()`` round-trips the
    double weights exactly."""
    arr = "array(" + ", ".join(
        "array(" + ", ".join(f"{w!r}D" for w in p) + ")" for p in planes
    ) + ")"
    return F.expr(
        f"""aggregate(sequence(0, {len(planes) - 1}), 0L, (acc, bit) -> acc +
        CASE WHEN aggregate(zip_with(emb, element_at({arr}, bit + 1),
                                     (p, q) -> p * q),
                            cast(0.0 as double), (a, v) -> a + v) > 0
             THEN shiftleft(1L, bit) ELSE 0L END)"""
    )


def _prng_plane(table: int, bit: int) -> list[float]:
    """Signed hyperplane weights in [-1, 1) from a seeded stdlib PRNG.

    Plan-build-time derivation (the original xxhash64-derived form
    computed TABLES x BITS x EMB_DIM = 1024 hashes PER ROW at runtime —
    and was measured slower than its own md5 'portable' twin once that
    twin got literal planes). ``random.Random(str)`` seeding is
    sha512-based and documented stable across platforms and CPython
    versions, so the planes — and therefore every bucket id — are as
    deterministic as the hash derivation was."""
    import random

    rnd = random.Random(f"lsh:{table}:{bit}")
    return [rnd.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]


def _lsh_oracle_sql() -> str:
    rows = ",\n        ".join(
        "({t}, {b}, [{ws}]::DOUBLE[])".format(
            t=t, b=bit, ws=", ".join(repr(w) for w in _prng_plane(t, bit))
        )
        for t in range(LSH_TABLES)
        for bit in range(LSH_BITS)
    )
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
           WHERE {VALID_OR_NULL_SQL}),
planes(table_id, bit, wts) AS (
    VALUES {rows}
)
SELECT vec_id, label, CAST(table_id AS INT) AS table_id,
       CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                                  i -> emb[i] * wts[i])) > 0
                     THEN 1 << bit ELSE 0 END) AS BIGINT) AS bucket
FROM e CROSS JOIN planes
GROUP BY vec_id, label, table_id
"""


@register(
    "sim_lsh_buckets",
    oracle=_lsh_oracle_sql(),
    tags=("similarity", "lsh", "ann", "oracle-backed", "north-star"),
    doc=(
        "Random-hyperplane LSH: 4 independent hash tables x 4 sign bits from "
        "fixed pseudo-random hyperplanes (seeded-PRNG weights embedded as "
        "plan-time literals — zero per-row hash derivation). One row per "
        "(vector, table); near-dup candidates = bucket equality within any "
        "table. Bucket quality (same-bucket cosine > global mean) asserted "
        "in tests/test_rows_only.py; since round 4 the literal planes are "
        "also replicated by the DuckDB oracle, so every bucket id is "
        "value-hash-checked (sign comparisons sit far from the float "
        "summation noise floor)."
    ),
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    tables = [
        F.struct(
            F.lit(t).alias("table_id"),
            _bucket_expr([_prng_plane(t, bit) for bit in range(LSH_BITS)]).alias("bucket"),
        )
        for t in range(LSH_TABLES)
    ]
    # no orderBy: a global sort is a range exchange + boundary-sampling
    # pass that buys nothing — the driver compare is order-insensitive
    # (measured 2x the whole query's cost).
    return (
        e.select("vec_id", "label", F.explode(F.array(*tables)).alias("t"))
        .select("vec_id", "label", F.col("t.table_id").alias("table_id"), F.col("t.bucket").alias("bucket"))
    )


#: Oracle fragments generated from the SAME geometry constants as the
#: Spark builders (sign-bit planes over EMB_DIM dims) — a retune changes
#: both sides together. Parameterized by bit count so other operators
#: (dedup_embedding_cosine's bounded blocking key) share the identical
#: md5-derived geometry instead of re-deriving a diverging copy.


def plane_bit_sql(bits: int) -> str:
    """DuckDB expression for the ``bits``-bit sign-plane bucket id.

    Expects ``emb`` (DOUBLE[]) and ``table_id`` columns in scope; plane
    weight for (table, bit, dim) is md5("{table}:{bit}:{dim}") -> 8 hex
    chars -> % 1e6 / 1e6, exactly what :func:`portable_bucket` computes
    Spark-side."""
    return "\n             + ".join(
        "CASE WHEN list_sum(list_transform(generate_series(1, {d}), i -> emb[i] * "
        "((CAST(('0x' || substr(md5(CAST(table_id AS VARCHAR) || ':{bit}:' || CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT) "
        "% 1000000) / 1000000.0))) > 0 THEN CAST(1 AS BIGINT) << {bit} ELSE 0 END".format(d=EMB_DIM, bit=bit)
        for bit in range(bits)
    )


_PLANE_BIT_SQL = plane_bit_sql(LSH_BITS)


def _plane_weights(table: int, bit: int) -> list[float]:
    """md5-derived hyperplane weights for (table, bit) over EMB_DIM dims.

    Pure function of (table, bit, dim): computed ONCE at plan-build time
    with hashlib and embedded as literals, instead of shipping an
    md5-per-(row x bit x dim) expression tree (EMB_DIM x bits x tables
    md5 calls PER ROW — measured ~3x of sim_lsh_buckets_portable's
    runtime before this). The DuckDB twin (:func:`plane_bit_sql`)
    recomputes the same md5 in SQL, so the portability claim is
    unchanged: both engines derive identical weights from the identical
    formula."""
    import hashlib

    return [
        (int(hashlib.md5(f"{table}:{bit}:{j}".encode()).hexdigest()[:8], 16) % 1000000)
        / 1000000.0
        for j in range(EMB_DIM)
    ]


def portable_bucket(table: int, bits: int) -> Column:
    """Sign-bit bucket id of ``col("emb")`` under the md5 planes — the
    engine-portable LSH assignment (DuckDB twin: :func:`plane_bit_sql`),
    built as one SQL parse via :func:`_bucket_expr`."""
    return _bucket_expr([_plane_weights(table, bit) for bit in range(bits)])


@register(
    "sim_lsh_buckets_portable",
    oracle=f"""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    WHERE {VALID_OR_NULL_SQL}
),
tb AS (SELECT unnest(generate_series(0, {LSH_TABLES - 1})) AS table_id)
SELECT vec_id, label, CAST(table_id AS INT) AS table_id,
       {_PLANE_BIT_SQL}
           AS bucket
FROM e CROSS JOIN tb
""",
    tags=("similarity", "lsh", "ann", "oracle-backed", "north-star"),
    doc=(
        "sim_lsh_buckets with engine-portable hyperplanes: identical "
        "4-table x 4-sign-bit bucketing, but plane weights derive from "
        "md5(table:bit:dim) instead of the seeded-PRNG literals, so "
        "DuckDB reproduces every weight, projection, and bucket id and "
        "the driver value-hash-checks the whole LSH assignment (sign "
        "comparisons sit far from the float summation noise floor, so "
        "fold order cannot flip a bucket bit in practice). Since round "
        "4 BOTH forms embed literal planes and are oracle-backed; this "
        "twin differs only in how the constants are derived."
    ),
)
def sim_lsh_buckets_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    tables = [
        F.struct(
            F.lit(t).alias("table_id"), portable_bucket(t, LSH_BITS).alias("bucket")
        )
        for t in range(LSH_TABLES)
    ]
    return (
        e.select("vec_id", "label", F.explode(F.array(*tables)).alias("t"))
        .select(
            "vec_id", "label", F.col("t.table_id").alias("table_id"), F.col("t.bucket").alias("bucket")
        )
    )


@register(
    "embed_centroid_per_label",
    oracle=f"""
WITH p AS (
    SELECT label, i - 1 AS pos, embedding[i]::DOUBLE AS v
    FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
    WHERE {VALID_OR_NULL_SQL}
)
SELECT label, pos, round(avg(v), 6) AS c
FROM p GROUP BY label, pos
""",
    tags=("similarity", "centroid", "north-star"),
    doc=(
        "Per-label embedding centroid in long form (label, dim, mean) — the "
        "k-means / class-prototype building block. posexplode keeps the "
        "reduction a plain (label, pos) hash agg: partial aggregation is "
        "map-side, the only shuffle is 10 labels x 64 dims wide."
    ),
)
def embed_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode("emb").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )


@register(
    "embed_norm_stats",
    oracle=f"""
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS l2_norm,
       round(list_min(embedding::DOUBLE[]), 6) AS min_c,
       round(list_max(embedding::DOUBLE[]), 6) AS max_c
FROM embeddings
WHERE {VALID_OR_NULL_SQL}
""",
    tags=("similarity", "norm", "north-star"),
    doc=(
        "Vector norm/statistics per embedding via higher-order fold "
        "(F.aggregate) — the normalize-before-cosine prerequisite, fully "
        "JVM-side and map-only (no shuffle, scan-fused)."
    ),
)
def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    sq = F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x)
    return e.select(
        "vec_id",
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
        F.round(F.array_min("emb"), 6).alias("min_c"),
        F.round(F.array_max("emb"), 6).alias("max_c"),
    )


@register(
    "cluster_kmeans_lloyd",
    oracle=None,  # iterative refinement: float-summation order differs across engines -> rows-only; semantics in pytest
    tags=("similarity", "clustering", "iterative", "north-star"),
    doc=(
        "K-means (Lloyd, k=8, 3 rounds, deterministic lowest-vec_id init): "
        "the 8 centroids fold to ONE broadcast array row and every vector "
        "picks its cluster with the centroid kernel's map-side argmin, "
        "array_min over struct(d2, cid) — ties broken by centroid id; "
        "re-centering is a posexplode (cluster, dim) mean fed straight from "
        "the assignment (emb rides through the map stage, so there is no "
        "join back to the corpus). Per round: one broadcast map pass + one "
        "hash agg whose combine output is at most K x dims rows — the "
        "iterative-refinement template at 100 TB, where k centroids always "
        "fit in a broadcast and the corpus never self-joins or re-shuffles. "
        "Centroids are localCheckpoint-ed per round so plan size stays flat "
        "in ROUNDS."
    ),
)
def cluster_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_lloyd(spark, sf_dir, rounds=3)


def kmeans_lloyd(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    K, ROUNDS = 8, rounds
    # NULL embeddings are unclusterable and must be EXCLUDED, not merely
    # tolerated (fuzz find #22): _emb's valid_vector(or_null=True) keeps them, and
    # a NULL-embedding row among the K lowest vec_ids becomes a NULL
    # centroid whose struct(score=NULL, cid) sorts FIRST in array_min's
    # ascending struct order — silently assigning EVERY vector to that
    # cluster with NULL dist. Non-seed NULL rows were emitted with NULL
    # cluster. The fixture has no NULL embeddings, so only the
    # generative harness caught it.
    e = _emb(spark, sf_dir).where(F.col("emb").isNotNull()).select("vec_id", "emb")
    cents = (
        e.orderBy("vec_id")
        .limit(K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cent"))
    )
    # The centroid kernel's map-side argmin, on the UNROUNDED squared
    # distance (this spec is rows-only, so its distances stay exact):
    # (distance, centroid-id) lexicographic tie-break, zero pair-grain
    # rows — the corpus is scanned once per round with no exchange on
    # the assignment.
    best = F.expr(nearest_centroid_sql("emb", rounded=False))
    assign = None
    for _ in range(ROUNDS):
        assign = (
            e.join(F.broadcast(fold_centroids(cents)))
            .withColumn("b", best)
            .select(
                "vec_id",
                "emb",
                F.col("b.cid").alias("cluster"),
                F.col("b.score").alias("d2"),
            )
        )
        # (r12 tried a single cluster-grain agg with 64 avg buffers here —
        # one exchange instead of two — but 128 buffer fields exceeds
        # codegen's maxFields and the whole aggregate fell back to
        # interpreted row mode, measuring no better; kept the two-level
        # codegen'd form.)
        cents = (
            assign.select("cluster", F.posexplode("emb").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("cent")
            )
            .select(F.col("cluster").alias("cid"), "cent")
            # truncate lineage per round (as dedup_cluster_components does):
            # without this the plan doubles every round and both planning
            # time and stage DAG size grow with ROUNDS instead of staying
            # flat. LAZY (r12): eager ran each round as a separate
            # build-time job; lazy materializes inside the next round's
            # broadcast build — 3 fewer jobs per build, same lineage cut.
            .localCheckpoint(eager=False)
        )
    return assign.select("vec_id", "cluster", F.round(F.sqrt("d2"), 6).alias("dist"))
