"""Deduplication operators for training-data pipelines (north star):
exact, n-gram Jaccard, SimHash, MinHash+LSH, embedding-cosine near-dup.

All candidate generation is join/aggregate-shaped (no driver-side
loops). Scale posture per operator:

- **exact**: hash of normalized text -> groupBy(hash). One shuffle on a
  16-byte key; survivor selection is min(doc_id) (deterministic, unlike
  ``dropDuplicates`` whose kept row is arrival-order dependent).
- **n-gram Jaccard**: shingle explode -> self-join on shingle ->
  count/union arithmetic. Exact but quadratic in the worst case —
  correct at validation scale; at 100 TB this is what MinHash+LSH
  replaces (and frequent-shingle skew must be capped, see the
  ``HAVING`` filter).
- **SimHash**: per-token hash bit votes -> one 32-bit signature per doc
  -> self-join on signature (or banded sub-keys for hamming<k). Linear,
  one aggregation. Bit votes come from md5 (portable) rather than
  xxhash64 so the DuckDB oracle can replicate the signature bit-exactly.
- **MinHash+LSH**: k=16 xxhash64 min-hashes -> b=4 bands of r=4 ->
  band-key equi-join for candidates -> exact-Jaccard verify. This is
  the 100 TB near-dup path: shuffle volume is (docs x bands), never
  pairs. xxhash64 has no DuckDB builtin, so that form records a
  rows-only check (tests/test_rows_only.py asserts candidate recall
  against the exact-Jaccard pairs); ``dedup_minhash_lsh_portable``
  runs the same plan with md5-derived hashes, which DuckDB replicates
  — the full approximate pipeline is value-hash-checked there.
- **embedding cosine**: md5-portable LSH blocks hard-capped at
  COSINE_BLOCK_CAP vectors (deterministic sub-split) -> intra-block
  pair expansion -> exact cosine. Total candidate work linear in N.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.folds import materialize_fold
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register

#: SimHash signature width (bits). 32 keeps the generated SQL compact and
#: the signature portable through a BIGINT in both engines.
SIMHASH_BITS = 32
#: MinHash parameters: NUM_HASHES = BANDS * ROWS_PER_BAND.
MINHASH_HASHES = 16
MINHASH_BANDS = 4

_NORM = "lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' '))"


def normalized_text_col():
    """Canonical form for exact dedup: collapse whitespace runs, trim, lowercase."""
    return F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))


@register(
    "dedup_exact",
    oracle=f"""
SELECT md5({_NORM}) AS content_hash,
       min(doc_id)  AS survivor_doc_id,
       count(*)     AS n_copies
FROM documents
GROUP BY content_hash
""",
    tags=("dedup", "exact", "north-star"),
    doc="Exact dedup: md5 of normalized text, deterministic min-doc_id survivor.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5(normalized_text_col()).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("survivor_doc_id"), F.count("*").alias("n_copies"))
    )


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> exploded distinct word n-gram shingles."""
    t = df.select("doc_id", tokens_col().alias("t"))
    sh = F.filter(
        F.transform(
            "t",
            lambda x, i: F.when(
                i < F.size(F.col("t")) - (n - 1),
                F.concat_ws(" ", *[F.element_at(F.col("t"), i + j + 1) for j in range(n)]),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    return t.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))


_SHINGLE_SQL = """
    SELECT doc_id, shingle
    FROM (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         LATERAL unnest(list_distinct(list_transform(
             generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS u(shingle)
"""


#: Stop-shingle cap: a shingle appearing in more than this many documents
#: is boilerplate (carries ~zero Jaccard information) and would contribute
#: O(df²) pair rows to the shared-shingle self-join — the one quadratic
#: blowup in the exact pipeline. Dropped from the shingle universe on BOTH
#: engines, so sizes and intersections stay mutually consistent. Fixture
#: max df is 25 at sf0.1, so the fixture result is row-identical with or
#: without the cap (asserted in tests); at 100 TB the cap turns a corpus-
#: hot shingle from a k² straggler into a dropped row.
MAX_SHINGLE_DF = 128

#: Jaccard floor for a candidate pair to count as a near-duplicate —
#: the ONE definition used by the Spark verify filters
#: (``_minhash_lsh_pipeline``, ``dedup_ngram_jaccard``), every oracle
#: f-string in this module, and ``dedup_pipeline.EDGE_JACCARD_MIN``.
#: Retuning it moves both engines together; a literal in any one of
#: those places could silently desync the verify from its oracle.
VERIFY_JACCARD_MIN = 0.1


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH shingled AS ({_SHINGLE_SQL}),
hot AS (SELECT shingle FROM shingled GROUP BY shingle HAVING count(*) > {MAX_SHINGLE_DF}),
kept AS (SELECT s.* FROM shingled s ANTI JOIN hot h ON s.shingle = h.shingle),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= {VERIFY_JACCARD_MIN}
""",
    tags=("dedup", "jaccard", "ngram", "north-star"),
    doc=(
        "Exact word-3-gram Jaccard near-dup pairs (threshold 0.1) over the "
        "df-capped shingle universe: shingle explode -> drop stop-shingles "
        "with document frequency > MAX_SHINGLE_DF (broadcast anti-join; the "
        "hot list is tiny by construction) -> shared-shingle self-join -> "
        "|A∩B| / |A∪B| from the inclusion-exclusion identity."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = shared_shingle_counts(load(spark, sf_dir, "documents"))
    jac = F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
    return counts.filter(jac >= VERIFY_JACCARD_MIN).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


def pair_list(ids: str) -> Column:
    """Every (doc_a, doc_b) struct with doc_a before doc_b in the sorted
    array column ``ids`` — intra-group pair expansion as one higher-order
    expression, so no group needs a self-join."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(F.col(ids), i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def shared_shingle_counts(d: DataFrame) -> DataFrame:
    """documents -> (doc_a, doc_b, inter) joined to the per-doc shingle
    counts ``sa.sz`` / ``sb.sz``, over the df-capped shingle universe:
    the input of both ``dedup_ngram_jaccard`` and ``dedup_containment``.

    ONE shuffle on shingle builds the inverted index; the df cap is a
    free filter on posting-list size, and pairs expand intra-group with
    ``pair_list`` — no shingle self-join (which would scan+explode the
    corpus twice AND shuffle both sides). Pair expansion per shingle is
    bounded by MAX_SHINGLE_DF²/2 elements, so no group can straggle."""
    groups = (
        _shingles(d, 3)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= MAX_SHINGLE_DF)
        # consumed twice (sizes + pairs), df-capped, so far smaller than
        # the corpus scan + explode it replaces. persist, not an eager
        # localCheckpoint: eager ran the scan->shingle->index subtree as a
        # separate job at build time, and a checkpoint's ExistingRDD hides
        # size stats from the planner (the sizes joins lost their
        # broadcast); measured 3.9 s (eager ckpt) / 2.9 s (lazy ckpt) /
        # 2.0 s (persist) for dedup_containment at sf0.1.
        .persist()
    )
    sizes = (
        groups.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    pairs = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode(pair_list("ids")).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id")).join(
        sb, F.col("doc_b") == F.col("sb.doc_id")
    )


@register(
    "dedup_simhash",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, tkn
    FROM (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         LATERAL unnest(list_distinct(t)) AS u(tkn)
),
hashed AS (
    SELECT doc_id, CAST(('0x' || substr(md5(tkn), 1, 8)) AS BIGINT) AS h FROM tok
),
votes AS (
    SELECT doc_id,
           {", ".join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(SIMHASH_BITS))}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id,
       {" + ".join(f"(CASE WHEN v{b} > 0 THEN 1::BIGINT << {b} ELSE 0 END)" for b in range(SIMHASH_BITS))}
           AS simhash
FROM votes
""",
    tags=("dedup", "simhash", "north-star"),
    doc=(
        "32-bit SimHash signature per document from md5-derived token-hash bit "
        "votes, computed entirely map-side: the distinct-token array is hashed "
        "once per document (transform), then each signature bit is a fold over "
        "that hash array — zero exchanges, zero row explosion. The signature is "
        "produced in the same scan that reads the document, which is the shape "
        "that matters at 100 TB (the prior explode + groupBy form shuffled a "
        "32-vote partial row per document for no reason: doc_id is already the "
        "row grain). Near-dup candidates then come from signature (or "
        "banded-signature) equality."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # NULL text has no tokens: dropped here exactly as the previous
    # explode(NULL array) form and the oracle's LATERAL unnest drop it.
    hashes = F.expr(
        "transform(array_distinct(split(text, '\\\\s+')), "
        "t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
    )
    vote = lambda b: F.aggregate(  # noqa: E731
        "h",
        F.lit(0),
        lambda acc, x: acc
        + F.when(F.shiftright(x, b).bitwiseAND(1) == 1, 1).otherwise(-1),
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(vote(b) > 0, F.lit(1).cast("long") * (1 << b)).otherwise(0)
        sig = term if sig is None else sig + term
    return (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", hashes.alias("h"))
        .select("doc_id", sig.alias("simhash"))
    )


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64 has no DuckDB builtin -> rows-only; recall asserted in pytest
    tags=("dedup", "minhash", "lsh", "north-star"),
    doc=(
        "MinHash(16) + LSH(4 bands x 4 rows) candidate pairs, verified with exact "
        "shingle Jaccard >= 0.1. The scale path for near-dup at 100 TB: shuffle is "
        "docs x bands band-keys, never O(n^2) pairs. Signature hashes are "
        "xxhash64(seed || shingle)."
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    minhash = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh{i}")
        for i in range(MINHASH_HASHES)
    ]
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS

    def band_key(band: int):
        return F.xxhash64(
            *[F.col(f"mh{band * rows_per_band + r}") for r in range(rows_per_band)]
        )

    return _minhash_lsh_pipeline(d, minhash, band_key)


def _minhash_lsh_candidates(sh: DataFrame, minhash_aggs: list, band_key_fn):
    """Candidate-pair half of the MinHash+LSH plan: shingles -> per-doc
    min-hash signature -> banded bucket keys -> intra-bucket pair
    expansion. Returned pairs are persisted (tiny by LSH construction)
    so multiple verify strategies (exact Jaccard below, edit distance in
    ``dedup_fuzzy_levenshtein``) can share one candidate generation."""
    minhashes = sh.groupBy("doc_id").agg(*minhash_aggs)
    # band keys: hash of each band's r consecutive min-hashes
    banded = minhashes.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        band_key_fn(band).alias("band_key"),
                    )
                    for band in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_key")
    # Candidate pairs WITHOUT a self-join: a self-join would re-derive the
    # whole scan->shingle->minhash->band upstream once per side (the plan
    # ballooned to 22 corpus scans before this). Instead group each band
    # bucket once and expand intra-bucket pairs with a higher-order
    # combination expression — bucket sizes are small by LSH construction,
    # so the collect_list per bucket is bounded.
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    return (
        buckets.select(F.explode(pair_list("docs")).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
        .persist()  # reused 3x (both id sides + final join); tiny by LSH construction
    )


def _minhash_lsh_pipeline(d: DataFrame, minhash_aggs: list, band_key_fn) -> DataFrame:
    """Shared MinHash+LSH plan: shingle -> per-doc min-hash signature ->
    banded bucket keys -> intra-bucket pair expansion -> exact-Jaccard
    verify on candidate shingle sets. ``minhash_aggs`` are the k
    signature aggregates (aliased mh0..mh{k-1}); ``band_key_fn(band)``
    derives each band's bucket key from those columns."""
    sh = _shingles(d, 3)
    candidates = _minhash_lsh_candidates(sh, minhash_aggs, band_key_fn)
    # Exact-Jaccard verification restricted to candidate docs: re-shingle
    # only rows that survive LSH (semi-join on the candidate id set),
    # collect each candidate's distinct-shingle set ONCE, and score
    # pairs map-side with array_intersect — no shingle-level join, so the
    # verify stage shuffles one row per candidate doc (its shingle set),
    # a vanishing fraction of the corpus at 100 TB. The semi-join is NOT
    # broadcast-hinted: the candidate set's size is data-dependent (a
    # mistuned band count on a skewed corpus can make it huge), so a
    # pinned broadcast risks driver/executor OOM at scale — AQE converts
    # it to a broadcast join at runtime when it actually is small.
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_sets = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shset"))
        .persist()  # reused by both join sides; one row per candidate doc
    )
    sa = cand_sets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sha"))
    sb = cand_sets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    jac = inter / (F.size("sha") + F.size("shb") - inter)
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= VERIFY_JACCARD_MIN)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


#: Oracle fragments generated from the SAME geometry constants the Spark
#: builder uses — retuning MINHASH_HASHES/MINHASH_BANDS changes both
#: sides together instead of silently diverging from a frozen literal.
_MINHASH_SQL = ",\n           ".join(
    f"min(CAST(('0x' || substr(md5(shingle || ':mh{i}'), 1, 15)) AS BIGINT)) AS mh{i}"
    for i in range(MINHASH_HASHES)
)
_ROWS_PER_BAND = MINHASH_HASHES // MINHASH_BANDS
_BANDED_SQL = "\n    UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM mh".format(
        b=b,
        key=" || ',' || ".join(
            f"CAST(mh{b * _ROWS_PER_BAND + r} AS VARCHAR)" for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(MINHASH_BANDS)
)


def _portable_minhash_geometry():
    """The md5-portable (minhash aggregates, band-key fn) pair — the ONE
    Spark-side definition of the geometry `_MINHASH_SQL`/`_BANDED_SQL`
    replicate for DuckDB. Shared by ``dedup_minhash_lsh_portable`` and
    ``dedup_fuzzy_levenshtein`` so retuning the hash salt, hex-prefix
    width, or band-key separator cannot desynchronize one spec from the
    generated oracle constants while the other keeps up."""

    def h(i: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.col("shingle"), F.lit(f":mh{i}"))), 1, 15),
                16,
                10,
            ).cast("long")
        )

    minhash = [F.min(h(i)).alias(f"mh{i}") for i in range(MINHASH_HASHES)]
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS

    def band_key(band: int):
        return F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh{band * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )

    return minhash, band_key


@register(
    "dedup_minhash_lsh_portable",
    oracle=f"""
WITH sh AS ({_SHINGLE_SQL}),
mh AS (
    SELECT doc_id,
           {_MINHASH_SQL}
    FROM sh GROUP BY doc_id
),
banded AS (
    {_BANDED_SQL}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT doc_a, doc_b, count(*) AS i
    FROM pairs
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(i / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE i / (na.n + nb.n - i) >= {VERIFY_JACCARD_MIN}
""",
    tags=("dedup", "minhash", "lsh", "oracle-backed", "north-star"),
    doc=(
        "dedup_minhash_lsh with engine-portable hashes: the SAME banded "
        "LSH plan (shingle -> 16 min-hashes -> 4 band buckets -> intra-"
        "bucket pairs -> exact-Jaccard verify), but signature and band "
        "hashes are md5-derived (60-bit hex prefix) instead of xxhash64, "
        "so DuckDB computes the identical signatures and the WHOLE "
        "approximate pipeline — including which candidate pairs the "
        "bands surface — is value-hash-checked against the oracle, not "
        "just rows-only. Keep the xxhash64 form for production speed; "
        "this twin exists to prove the algorithm, not to race it."
    ),
)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    minhash, band_key = _portable_minhash_geometry()
    return _minhash_lsh_pipeline(d, minhash, band_key)


#: Blocking geometry for dedup_embedding_cosine: candidate blocks come
#: from md5-portable sign-plane LSH (similarity.portable_bucket) and are
#: then HARD-CAPPED at COSINE_BLOCK_CAP vectors by a deterministic
#: md5-ordered sub-split. Per-task work is <= CAP^2 pairs and total
#: candidate work is <= TABLES * N * (CAP-1)/2 — LINEAR in corpus size —
#: no matter how skewed the label/cluster distribution is. (The previous
#: form blocked on raw `label`, which is unbounded: one hot label on a
#: skewed corpus made the pair join O(n^2) on a single key.)
COSINE_LSH_TABLES = 2
COSINE_LSH_BITS = 8
COSINE_BLOCK_CAP = 64


def _cosine_oracle_sql() -> str:
    from spark_kinesis_article_analysis_spark.functions.similarity import plane_bit_sql

    from spark_kinesis_article_analysis_spark.functions.similarity import NONZERO_SQL

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
           WHERE {NONZERO_SQL}),
tb AS (SELECT unnest(generate_series(0, {COSINE_LSH_TABLES - 1})) AS table_id),
bk AS (
    SELECT vec_id, table_id,
           {plane_bit_sql(COSINE_LSH_BITS)} AS bucket
    FROM e CROSS JOIN tb
),
ck AS (
    SELECT vec_id, table_id, bucket,
           (row_number() OVER (PARTITION BY table_id, bucket
                               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1)
               // {COSINE_BLOCK_CAP} AS sub
    FROM bk
),
pairs AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM ck a JOIN ck b
      ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.sub = b.sub
     AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine
FROM pairs
JOIN e ea ON ea.vec_id = vec_a
JOIN e eb ON eb.vec_id = vec_b
WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= 0.2
"""


@register(
    "dedup_embedding_cosine",
    oracle=_cosine_oracle_sql(),
    tags=("dedup", "embedding", "cosine", "north-star"),
    doc=(
        "Embedding-cosine near-dup pairs over a BOUNDED blocking key: "
        "2 md5-portable sign-plane LSH tables x 8 bits (shared geometry "
        "with sim_lsh_buckets_portable, so the oracle replicates every "
        "bucket id), each block hard-capped at 64 vectors by an md5-"
        "ordered deterministic sub-split. Candidates are expanded "
        "intra-block with a higher-order combination and scored MAP-"
        "SIDE inside the chunk row (exact zip_with cosine, norms folded "
        "once at vector grain, no self-join and no join back to the "
        "vector table), thresholded at 0.2 inside the expression, then "
        "distinct'd. Recall comes from the 2 independent tables (chunk "
        "boundaries differ per table); the cap trades tail recall "
        "inside oversized clusters for a hard per-task bound — total "
        "candidate work is linear in N, pinned in "
        "tests/test_scale_layout.py."
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embedding_cosine_pairs(load(spark, sf_dir, "embeddings"))


def _cosine_block_assignments(e: DataFrame, bits: int = COSINE_LSH_BITS) -> DataFrame:
    """(vec_id, ..., table_id, bucket, sub) block ids for ``e`` (vec_id,
    emb, ...): COSINE_LSH_TABLES sign-plane tables of ``bits`` bits (8
    for dedup_embedding_cosine, nsw.NSW_BITS for the NSW graph).

    Every (table_id, bucket, sub) block holds <= COSINE_BLOCK_CAP rows BY
    CONSTRUCTION: md5-ordered row_number within (table, bucket), integer-
    divided into chunks. The window streams over its sorted partition
    (external sort at scale — no per-key materialization), so a
    pathologically hot bucket costs a sort, not an O(c^2) straggler task.
    Pinned on a degenerate all-identical-vectors corpus in
    tests/test_scale_layout.py (TestCosineBlockCap)."""
    from pyspark.sql import Window as W

    from spark_kinesis_article_analysis_spark.functions.similarity import portable_bucket

    tables = [
        F.struct(
            F.lit(t).alias("table_id"),
            portable_bucket(t, bits).alias("bucket"),
        )
        for t in range(COSINE_LSH_TABLES)
    ]
    passthrough = [c for c in e.columns if c != "vec_id"]
    bk = e.select("vec_id", *passthrough, F.explode(F.array(*tables)).alias("t")).select(
        "vec_id",
        *passthrough,
        F.col("t.table_id").alias("table_id"),
        F.col("t.bucket").alias("bucket"),
    )
    w = W.partitionBy("table_id", "bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return bk.withColumn(
        "sub",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(COSINE_BLOCK_CAP)),
    )


def scored_block_pairs(ck: DataFrame, min_cosine: "float | None" = None) -> DataFrame:
    """(vec_a, vec_b, cosine) for every intra-block pair of ``ck`` (block
    ids over vec_id, emb, nrm), vec_a < vec_b, cosine rounded to 6 places
    and, with ``min_cosine``, thresholded inside the expression.

    Intra-chunk pair expansion via higher-order combinations (the
    _minhash_lsh_pipeline pattern — a self-join would re-derive the
    bucket assignment once per side). The full (vec_id, emb, nrm) struct
    rides into the chunk so the cosine is scored MAP-SIDE inside the
    chunk row — no join back to the vector table at all (the join form
    cost two extra pair-grain exchanges). collect_list is bounded by the
    cap (<= CAP structs, ~CAP * dim * 8 bytes)."""
    chunks = (
        ck.groupBy("table_id", "bucket", "sub")
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "emb", "nrm"))).alias("vs"))
        .filter(F.size("vs") > 1)
    )
    # One SQL parse (py4j round trips per Python lambda added up — see
    # portable_bucket): sorted-by-vec_id combinations x -> y>x, cosine =
    # the same left-to-right zip_with fold as the vector-grain norms,
    # rounded THEN thresholded (matching the oracle's WHERE round(...)),
    # filtered inside the expression so only survivors are exploded and
    # deduplicated.
    pairs = """flatten(transform(vs, (x, i) ->
            transform(slice(vs, i + 2, size(vs)), y ->
                named_struct(
                    'vec_a', x.vec_id,
                    'vec_b', y.vec_id,
                    'cosine', round(
                        aggregate(zip_with(x.emb, y.emb, (p, q) -> p * q),
                                  cast(0.0 as double), (a, v) -> a + v)
                        / (x.nrm * y.nrm), 6)))))"""
    if min_cosine is not None:
        pairs = f"filter({pairs}, s -> s.cosine >= {min_cosine})"
    # distinct AFTER scoring: a pair can surface in both tables' chunks;
    # its cosine is the identical double both times, so the struct rows
    # collapse exactly.
    return (
        chunks.select(F.explode(F.expr(pairs)).alias("p"))
        .select("p.vec_a", "p.vec_b", "p.cosine")
        .distinct()
    )


def _embedding_cosine_pairs(emb_df: DataFrame) -> DataFrame:
    from spark_kinesis_article_analysis_spark.functions.similarity import dot, valid_vector

    # Norms are per-VECTOR quantities: fold them once at vector grain
    # (N rows) before the pair join, not inside the pair-grain cosine
    # (candidate-grain rows — and the >= threshold filter pushdown would
    # inline and re-evaluate every fold a second time). Same fold order,
    # so the value is bit-identical to the inline form
    # (tests/test_rows_only.py pins that equality).
    # Zero-norm vectors are excluded BEFORE the norm fold (exists()
    # short-circuits; a filter on nrm itself would re-inline the fold):
    # cosine is undefined for them and one all-zero embedding would
    # otherwise kill the job under ANSI mode. Oracle twin: NONZERO_SQL.
    e = (
        emb_df.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        # schema-validity + zero-norm guard, mirroring NONZERO_SQL: a
        # wrong-dim row would zip_with-truncate into a garbage cosine
        # here and crash DuckDB's list_cosine_similarity in the oracle
        .filter(valid_vector("emb") & F.exists("emb", lambda x: x != 0.0))
        .withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
    )
    return scored_block_pairs(_cosine_block_assignments(e), min_cosine=0.2)


@register(
    "dedup_keep_latest",
    oracle="""
WITH r AS (
    SELECT o_custkey, o_orderkey, o_orderdate,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
)
SELECT o_custkey, o_orderkey AS latest_orderkey, o_orderdate AS latest_orderdate
FROM r WHERE rn = 1
""",
    tags=("dedup", "keep-latest"),
    doc=(
        "Ordered dedup: keep the most recent row per key (row_number = 1 over a "
        "per-key descending sort) — the deterministic form of dropDuplicates "
        "when 'which survivor' matters. Single hash shuffle on the key; "
        "rank-then-filter pushes the per-group sort into the window operator."
    ),
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").alias("latest_orderdate"),
        )
    )


@register(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
WITH sh AS ({_SHINGLE_SQL}),
mh AS (
    SELECT doc_id,
           {_MINHASH_SQL}
    FROM sh GROUP BY doc_id
),
banded AS (
    {_BANDED_SQL}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
norm AS (SELECT doc_id, {_NORM} AS nt FROM documents)
SELECT doc_a, doc_b,
       levenshtein(na.nt, nb.nt) AS edit_distance,
       round(1.0 - levenshtein(na.nt, nb.nt)
                   / greatest(length(na.nt), length(nb.nt), 1), 6) AS edit_similarity
FROM pairs
JOIN norm na ON na.doc_id = doc_a
JOIN norm nb ON nb.doc_id = doc_b
WHERE levenshtein(na.nt, nb.nt) <= 0.25 * greatest(length(na.nt), length(nb.nt))
""",
    tags=("dedup", "fuzzy", "levenshtein", "lsh", "north-star"),
    doc=(
        "Character-level fuzzy dedup: MinHash-LSH candidate pairs "
        "(md5-portable geometry shared with dedup_minhash_lsh_portable "
        "via _minhash_lsh_candidates) verified by EDIT DISTANCE on the "
        "normalized text instead of shingle Jaccard — the modality that "
        "catches small in-place edits (typo fixes, template fills) "
        "token-set measures under-weigh. Levenshtein is O(len_a*len_b) "
        "per pair, which is exactly why it only ever runs on the "
        "LSH-surfaced candidates (a vanishing fraction of the corpus), "
        "never all pairs; threshold is relative (<= 25% of the longer "
        "doc) so short and long docs gate comparably. greatest(..., 1) "
        "guards the similarity ratio against empty normalized docs. "
        "Oracle replicates candidates AND verify exactly (DuckDB "
        "levenshtein == Spark levenshtein, standard edit distance)."
    ),
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sh = _shingles(d, 3)
    minhash, band_key = _portable_minhash_geometry()
    candidates = _minhash_lsh_candidates(sh, minhash, band_key)
    # same verify-stage shape as the Jaccard pipeline: pull normalized
    # text ONCE for candidate docs only (semi-join), then join that tiny
    # persisted frame on both pair sides — one corpus scan for the
    # verify, not two.
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    norm = (
        d.select("doc_id", normalized_text_col().alias("nt"))
        .join(cand_ids, "doc_id", "left_semi")
        .persist()
    )
    na = norm.select(F.col("doc_id").alias("doc_a"), F.col("nt").alias("nta"))
    nb = norm.select(F.col("doc_id").alias("doc_b"), F.col("nt").alias("ntb"))
    lev = F.levenshtein("nta", "ntb")
    longer = F.greatest(F.length("nta"), F.length("ntb"))
    # Materialize the O(len^2) edit distance ONCE: the filter +
    # projection below would otherwise re-inline it on both sides (3
    # levenshtein evaluations per candidate pair in the executed plan —
    # see functions/folds.py). persist, not checkpoint: the frame is
    # candidate-pair grain (bounded by the LSH banding) and lineage
    # stays recomputable on executor loss.
    pairs = materialize_fold(
        candidates.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("edit_distance"),
            longer.alias("__longer"),
        ),
        method="persist",
    )
    return pairs.filter(F.col("edit_distance") <= 0.25 * F.col("__longer")).select(
        "doc_a",
        "doc_b",
        "edit_distance",
        F.round(
            1.0 - F.col("edit_distance") / F.greatest(F.col("__longer"), F.lit(1)), 6
        ).alias("edit_similarity"),
    )
