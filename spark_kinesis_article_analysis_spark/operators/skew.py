"""Skew-handling utilities for 100 TB joins and aggregations.

AQE's skew-join splitting (``spark.sql.adaptive.skewJoin.enabled``, on
by default in session.py) handles most skew at runtime; these explicit
tools cover the cases AQE can't: a build side too big to split safely,
or aggregation skew (one hot group key).

``salted_join``: replicate the small side R times, salt the big side's
key with ``hash(row) % R`` — a hot key's rows spread over R reducer
partitions instead of one straggler. Result is row-for-row identical to
the plain join (asserted in tests/test_scale_layout.py).

``two_phase_agg``: pre-aggregate on (key, salt) then re-aggregate on
key — the classic hot-key aggregation fix for algebraic aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated
    ``salt_buckets`` times. Use when ``big[big_key]`` is heavily skewed
    and the small side is modest (replication multiplies its shuffle
    volume by ``salt_buckets``).

    Only ``inner``/``left``/``left_semi``/``left_anti`` preserve plain-
    join row identity: in a right/full outer join an unmatched small-side
    row survives ONCE PER REPLICA (``salt_buckets`` copies), so those
    modes are rejected. Salt caveat: the salt is a deterministic hash of
    the whole big-side row (deterministic because a nondeterministic salt
    can double-count under shuffle-stage retry), so EXACT duplicate rows
    share a salt — a hot key made of identical rows is not spread. Give
    such data a unique id column first; it feeds the hash and spreads
    the copies."""
    if how.replace("outer", "").strip("_ ") in ("right", "full"):
        raise ValueError(
            f"salted_join cannot express {how!r}: unmatched small-side rows "
            "would appear once per salt replica; use AQE skew-join handling "
            "for outer joins instead"
        )
    big_salted = big.withColumn(
        "__salt", (F.xxhash64(*[F.col(c) for c in big.columns]) % salt_buckets + salt_buckets) % salt_buckets
    )
    small_replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    joined = big_salted.join(
        small_replicated,
        (big_salted[big_key] == small_replicated[small_key])
        & (big_salted["__salt"] == small_replicated["__salt"]),
        how,
    )
    return joined.drop("__salt")


def two_phase_agg(
    df: DataFrame,
    key: str,
    value: str,
    salt_buckets: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Hot-key-safe sum/count: partial aggregate on (key, salt), then
    final on key. Returns (key, total, n) — extend per aggregate; only
    algebraic aggregates (sum/count/min/max/avg-via-sum) decompose
    this way.

    The salt hashes the value column (deterministic — safe under
    shuffle-stage retry, unlike rand()) normalized to [0, buckets): the
    previous raw ``%`` spanned negative residues too, silently doubling
    the partial-group count. A hot key whose VALUE column is constant
    still funnels into one partial group — feed a higher-cardinality
    column (or a unique id) as ``value``'s companion via ``salt_col``."""
    salt_src = F.col(salt_col) if salt_col is not None else F.col(value)
    salted = df.withColumn(
        "__salt",
        (F.xxhash64(salt_src) % salt_buckets + salt_buckets) % salt_buckets,
    )
    partial = salted.groupBy(key, "__salt").agg(
        F.sum(value).alias("__s"), F.count("*").alias("__n")
    )
    return partial.groupBy(key).agg(
        F.sum("__s").alias("total"), F.sum("__n").alias("n")
    )


def monotone_range_shard(order_col: str, lo: int, hi: int, num_shards: int) -> Column:
    """Contiguous shard id for an integer sort key with known bounds:
    ``floor((key - lo) / width)``. Monotone in ``order_col`` by
    construction, so it satisfies the contiguity requirement of the
    sharded window rewrites with ZERO extra jobs — unlike
    ``repartitionByRange``, which runs a sampling pass over the (possibly
    expensive) child plan to discover boundaries, this is pure arithmetic
    on bounds the caller already knows (dense ids, or parquet footer
    min/max)."""
    width = max(1, -(-(hi - lo + 1) // num_shards))  # ceil div
    shard = F.floor((F.col(order_col) - F.lit(lo)) / F.lit(width)).cast("int")
    # NULL sort keys shard to -1 (before every real shard — Spark sorts
    # NULLS FIRST): arithmetic on NULL yields a NULL shard, and the
    # two-phase rewrites' shard join is null-rejecting on __shard, so a
    # NULL-key row would silently vanish from the window output
    # (with_balanced_range_shard already guards identically).
    return F.coalesce(shard, F.lit(-1))


def _join_shard_parts(left: DataFrame, right: DataFrame, part_cols: list[str]) -> DataFrame:
    """Join ``right`` (carrying ``__shard`` + ``part_cols`` + payload)
    onto ``left`` null-safely on the group keys — a plain name-list join
    uses null-dropping equality, which silently loses every row whose
    group key is NULL (NULL is a legal group in window semantics)."""
    from functools import reduce
    from operator import and_

    renamed = right.select(
        F.col("__shard").alias("__s2"),
        *[F.col(c).alias(f"__g{i}") for i, c in enumerate(part_cols)],
        *[c for c in right.columns if c != "__shard" and c not in part_cols],
    )
    cond = reduce(
        and_,
        [left[c].eqNullSafe(F.col(f"__g{i}")) for i, c in enumerate(part_cols)]
        + [left["__shard"] == F.col("__s2")],
    )
    return left.join(renamed, cond).drop(
        "__s2", *[f"__g{i}" for i in range(len(part_cols))]
    )


def _ranged_with_shard(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    num_shards: int,
    shard_by: Column | None,
) -> DataFrame:
    """Default sharding for the two-phase window rewrites: explicit
    ``shard_by`` wins; else a numeric leading sort key takes the
    histogram-balanced shard (bucketing on the FIRST order column keeps
    ``__shard`` monotone in the full sort order — ties on it stay in one
    shard); else fall back to ``repartitionByRange`` (sampling pass +
    range exchange, the only fully type-generic strategy)."""
    from pyspark.sql import types as T

    if shard_by is not None:
        return df.withColumn("__shard", shard_by)
    lead = order_cols[0]
    if isinstance(df.schema[lead].dataType, T.NumericType):
        return with_balanced_range_shard(df, part_cols, lead, num_shards)
    return df.repartitionByRange(num_shards, *part_cols, *order_cols).withColumn(
        "__shard", F.spark_partition_id()
    )


def range_sharded_running_sum(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    val_col: str,
    out_col: str,
    num_shards: int,
    shard_by: Column | None = None,
) -> DataFrame:
    """Running sum of ``val_col`` over ``PARTITION BY part_cols ORDER BY
    order_col`` (inclusive frame), computed WITHOUT a single reducer per
    partition key — the straggler that kills ``Window.partitionBy(lang)``
    when one language holds half a 100 TB corpus.

    Two-phase distributed prefix sum (hash sub-sharding cannot express an
    order-dependent window, so shards must be contiguous runs of the sort
    order — i.e. range shards):

    1. Split every hot key across many contiguous shards; the local
       running sum within ``(shard, part_cols)`` is a bounded-size window.
    2. Per-(shard, key) totals — ``num_shards × |keys|`` rows, tiny — get
       an exclusive prefix over shard id per key: each shard's offset.
    3. offset + local running sum = the exact global running sum; output
       is row-identical to the plain window (tests/test_scale_layout.py).

    Sharding strategy: pass ``shard_by`` (any expression monotone
    non-decreasing in ``order_col``, e.g. :func:`monotone_range_shard`
    over a dense id) to shard with NO extra exchange — the local window's
    own hash exchange on ``(__shard, part_cols)`` is then the only
    corpus-scale shuffle. Without it, a numeric ``order_col`` defaults
    to :func:`with_balanced_range_shard` (two tiny metadata jobs — a
    map-side min/max and a KB-scale histogram — instead of
    ``repartitionByRange``'s child-plan sampling pass + full-data range
    exchange). Only a non-numeric sort key still takes the
    ``repartitionByRange`` path, whose boundaries are deterministic for
    a given input and whose exchange is reused by both consumers.
    """
    ranged = _ranged_with_shard(df, part_cols, [order_col], num_shards, shard_by)
    w_local = (
        Window.partitionBy("__shard", *part_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("__lcum", F.sum(val_col).over(w_local))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("__shard", *part_cols)
        .agg(F.sum(val_col).alias("__tot"))
        .withColumn("__off", F.coalesce(F.sum("__tot").over(w_off), F.lit(0)))
        .drop("__tot")
    )
    return (
        _join_shard_parts(local, offsets, part_cols)
        .withColumn(out_col, F.col("__lcum") + F.col("__off"))
        .drop("__shard", "__lcum", "__off")
    )


def with_balanced_range_shard(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    num_shards: int,
    num_buckets: int = 4096,
) -> DataFrame:
    """Append a ``__shard`` column that is (a) monotone non-decreasing in
    ``order_col`` within each ``part_cols`` group — the contiguity the
    sharded window rewrites require — and (b) load-balanced by an
    equi-width histogram, WITHOUT ``repartitionByRange``.

    ``repartitionByRange`` discovers boundaries by reservoir-sampling the
    child plan (a full extra execution of it) and then range-exchanges
    the full data ahead of the window's own hash exchange — two extra
    corpus-scale passes. This helper instead runs two cheap jobs whose
    shuffled payload is tiny: a map-side min/max of ``order_col`` and a
    ``(part, bucket) -> count`` histogram (≤ ``|parts| × num_buckets``
    rows). Cumulative counts turn buckets into equal-count shard spans;
    the assignment broadcast-joins back, so the only full-data exchange
    left is the window's own.

    Residual skew: a single value hotter than ``total/num_shards`` fills
    one bucket and therefore one shard — the floor any order-preserving
    split has when it cannot cut inside one sort-key value without a
    tiebreak-aware second level.

    NULL handling: a NULL sort key buckets to ``-1`` — FIRST in the
    bucket order, matching the default NULLS FIRST of an ascending
    window sort — and the assignment join-back is null-safe on
    ``part_cols``, so NULL group keys neither break monotonicity nor
    drop rows.
    """
    from functools import reduce
    from operator import and_

    lo, hi = df.agg(F.min(order_col), F.max(order_col)).first()
    if lo is None or lo == hi:
        return df.withColumn("__shard", F.lit(0))
    width = (hi - lo) / num_buckets
    bucket = (
        F.when(F.col(order_col).isNull(), F.lit(-1))
        .otherwise(
            F.least(
                F.lit(num_buckets - 1),
                F.floor((F.col(order_col) - F.lit(lo)) / F.lit(width)),
            )
        )
        .cast("int")
    )
    hist = df.groupBy(*part_cols, bucket.alias("__bucket")).agg(
        F.count("*").alias("__c")
    )
    w_before = (
        Window.partitionBy(*part_cols)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*part_cols)
    assign = hist.select(
        *part_cols,
        "__bucket",
        F.coalesce(F.sum("__c").over(w_before), F.lit(0)).alias("__before"),
        F.sum("__c").over(w_all).alias("__total"),
    ).select(
        *[F.col(c).alias(f"__g{i}") for i, c in enumerate(part_cols)],
        F.col("__bucket").alias("__b"),
        F.least(
            F.lit(num_shards - 1),
            F.floor(F.col("__before") / F.ceil(F.col("__total") / F.lit(num_shards))),
        )
        .cast("int")
        .alias("__shard"),
    )
    tagged = df.withColumn("__bucket", bucket)
    cond = reduce(
        and_,
        [tagged[c].eqNullSafe(F.col(f"__g{i}")) for i, c in enumerate(part_cols)]
        + [tagged["__bucket"] == F.col("__b")],
    )
    return tagged.join(F.broadcast(assign), cond).drop(
        "__bucket", "__b", *[f"__g{i}" for i in range(len(part_cols))]
    )


def range_sharded_percent_rank(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    out_col: str,
    num_shards: int,
) -> DataFrame:
    """``percent_rank() OVER (PARTITION BY part_cols ORDER BY
    order_cols)`` without a single reducer per partition key.

    Requires a TIE-FREE total order (append a unique tiebreak column to
    ``order_cols``) so rank == row_number and ranks can be composed as
    local row_number + count of rows in earlier range shards. Same
    two-phase shape as :func:`range_sharded_running_sum`; group sizes
    for the (n-1) denominator come from the same tiny per-shard count
    table, so no extra pass over the data.

    Sharding: a numeric leading sort key takes the histogram-balanced
    shard (:func:`with_balanced_range_shard`), a non-numeric one
    ``repartitionByRange`` (sampling pass + range exchange) — see
    :func:`_ranged_with_shard`.
    """
    ranged = _ranged_with_shard(df, part_cols, order_cols, num_shards, None)
    w_local = Window.partitionBy("__shard", *part_cols).orderBy(*order_cols)
    local = ranged.withColumn("__lrank", F.row_number().over(w_local))
    counts = local.groupBy("__shard", *part_cols).agg(F.count("*").alias("__cnt"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*part_cols)
    offsets = counts.select(
        "__shard",
        *part_cols,
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(w_all).alias("__n"),
    )
    rank = F.col("__lrank") + F.col("__off")
    pr = F.when(F.col("__n") > 1, (rank - F.lit(1)) / (F.col("__n") - F.lit(1))).otherwise(
        F.lit(0.0)
    )
    return (
        _join_shard_parts(local, offsets, part_cols)
        .withColumn(out_col, pr)
        .drop("__shard", "__lrank", "__off", "__n")
    )


def sharded_topk(
    scored: DataFrame,
    part_cols: list[str],
    order_cols: list[Column],
    k: int,
    shard_key: Column,
    num_shards: int = 32,
) -> DataFrame:
    """Top-k per group WITHOUT a per-group global sort: ``row_number()
    OVER (PARTITION BY part_cols ORDER BY order_cols) <= k`` computed in
    two bounded phases, row-identical to the single-window form.

    The single-window form puts EVERY scored row of a group into one
    reducer partition — for a brute-force similarity scan that is the
    whole corpus per query_id, the straggler that dies first at 100 TB.
    Unlike the running-sum/percent_rank rewrites above, top-k needs no
    shard contiguity (selection commutes with any disjoint union:
    the global top-k is a subset of the union of per-shard top-k's), so
    ANY deterministic sharding works:

    1. local: ``row_number() <= k`` per ``(part_cols, __shard)`` — each
       reducer sorts ~N/num_shards rows;
    2. merge: the same window over the survivors — at most
       ``num_shards * k`` rows per group, bounded regardless of corpus
       size. Phase-2 re-ranks with the identical ORDER BY, so ties
       resolve exactly as the plain window would (callers must pass a
       tie-free total order, e.g. (score, unique_id) — same requirement
       the plain form needs for deterministic output).

    ``shard_key`` must be deterministic (stage retries recompute it; a
    rand() shard can lose/duplicate rows under retry) — a unique id or
    a column hash; the function derives ``__shard = pmod(shard_key,
    num_shards)`` itself, so ``num_shards`` ENFORCES the phase-2 bound
    (<= num_shards * k rows per group) rather than documenting it
    (self-review r12: a caller-supplied shard expression let the two
    knobs drift apart silently). At 100 TB size ``num_shards`` so
    N/num_shards fits one reducer's sort budget.
    """
    local_w = Window.partitionBy("__shard", *part_cols).orderBy(*order_cols)
    survivors = (
        scored.withColumn("__shard", F.pmod(shard_key, F.lit(num_shards)))
        .withColumn("__rn", F.row_number().over(local_w))
        .filter(F.col("__rn") <= k)
        .drop("__shard", "__rn")
    )
    merge_w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        survivors.withColumn("__rn", F.row_number().over(merge_w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
