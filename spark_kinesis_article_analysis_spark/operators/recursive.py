"""Recursive CTE surface (``WITH RECURSIVE``, Spark 4.x ``UnionLoop``).

The reference exposes no SQL front-end at all (its pipeline is a fixed
chain, ``app/process_articles.py:63-86``); this module extends the
engine's SQL interface (``udfs.py::sql_interface_revenue_by_nation``)
with the one ANSI construct the rest of the registry cannot express
declaratively: bounded recursion. Spark 4 plans ``WITH RECURSIVE`` as a
``UnionLoop`` — the anchor runs once, then the recursive term re-plans
against the previous iteration's result until it produces no rows (or
the depth guard stops it), exactly the iterate-until-fixpoint template
``functions/dedup_pipeline.py::propagate_over_edges`` hand-builds with
localCheckpoint rounds.

Scale posture: recursion depth is the loop count, so both queries bound
it explicitly (``depth < 12`` / the key-halving chain's log2 bound).
Per iteration the working set is one equi-join (or a pure projection)
over the PREVIOUS frontier only — never the accumulated result — so a
1000-executor run holds one frontier in shuffle at a time; the final
rollup is an ordinary partial-agg GROUP BY. All arithmetic is integer
(counts, key sums, depths): no float-summation-order hazard, so the
outputs are hash-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.registry import register

#: BOM recursion geometry: part p's components are parts 2p and 2p+1
#: (a binary containment tree derived from the part table itself —
#: children strictly exceed parents, so the graph is a DAG by
#: construction); roots 1-8, belt-and-braces depth cap 12.
BOM_ROOT_MAX = 8
BOM_DEPTH_CAP = 12

#: Ancestor-chain recursion: customer k reports to customer k div 2 —
#: a binary-heap management hierarchy rooted at custkey 1. Chain length
#: is floor(log2 k), so recursion depth self-bounds at ~17 even at
#: SF100's 15M customers.
ANC_KEY_MAX = 512

#: Static reachability bound for the recursive term's part scan: from
#: root r <= BOM_ROOT_MAX, a node at depth d lies in [r*2^d, (r+1)*2^d),
#: so no reachable key can be >= (BOM_ROOT_MAX + 1) * 2^BOM_DEPTH_CAP.
#: Pushing that CONSTANT predicate into the per-iteration part scan is
#: free at sf0.1 (every part key is under it) but prunes the 100 TB
#: part table's row groups on all BOM_DEPTH_CAP iterations (guide §6:
#: make PushedFilters carry what you know); result-identical by the
#: bound above.
BOM_KEY_BOUND = (BOM_ROOT_MAX + 1) * 2**BOM_DEPTH_CAP

_BOM_SPARK = f"""
WITH RECURSIVE bom(root, node, depth) AS (
    SELECT p_partkey, p_partkey, 0 FROM part
    WHERE p_partkey BETWEEN 1 AND {BOM_ROOT_MAX}
    UNION ALL
    SELECT /*+ BROADCAST(x) */ x.root, p.p_partkey, x.depth + 1
    FROM (
        SELECT b.root, b.depth, c.child
        FROM bom b
        LATERAL VIEW explode(array(b.node * 2, b.node * 2 + 1)) c AS child
        WHERE b.depth < {BOM_DEPTH_CAP}
    ) x
    JOIN part p ON p.p_partkey = x.child AND p.p_partkey < {BOM_KEY_BOUND}
)
SELECT root,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(max(depth) AS BIGINT) AS max_depth,
       CAST(sum(node) AS BIGINT) AS key_sum
FROM bom
GROUP BY root
"""

# The oracle states the same child relation as a two-way OR equality —
# fine for DuckDB; the Spark text instead EXPLODES the two child keys
# and equi-joins, because inside a UnionLoop an OR-of-equalities join
# would re-plan as a nested loop against the part scan every iteration.
# BROADCAST(x): the frontier is at most 2x the previous level (a few
# thousand rows even at depth 12), while the part side is the 100 TB
# table — per iteration, ship the frontier to the scan, never shuffle
# the scan to the frontier (~20% faster even at sf0.1's 20k parts).
_BOM_ORACLE = f"""
WITH RECURSIVE bom(root, node, depth) AS (
    SELECT p_partkey, p_partkey, 0 FROM part
    WHERE p_partkey BETWEEN 1 AND {BOM_ROOT_MAX}
    UNION ALL
    SELECT b.root, p.p_partkey, b.depth + 1
    FROM bom b
    JOIN part p ON p.p_partkey = b.node * 2 OR p.p_partkey = b.node * 2 + 1
    WHERE b.depth < {BOM_DEPTH_CAP}
)
SELECT root,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(max(depth) AS BIGINT) AS max_depth,
       CAST(sum(node) AS BIGINT) AS key_sum
FROM bom
GROUP BY root
"""


@register(
    "sql_recursive_bom",
    oracle=_BOM_ORACLE,
    tags=("sql", "recursive", "graph"),
    doc=(
        "WITH RECURSIVE bill-of-materials explosion over the part table "
        "(component tree: part p contains parts 2p and 2p+1): per root, "
        "total component count, tree depth, and component-key sum. The "
        "recursive term equi-joins the exploded child keys of the previous "
        "frontier against the part scan; depth-capped."
    ),
)
def sql_recursive_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_BOM_SPARK)


def _anc_sql(div_op: str) -> str:
    # Spark spells integer division `div`, DuckDB `//` — identical on
    # positive keys (the only domain here; anchor starts at 1).
    return f"""
WITH RECURSIVE up(custkey, node, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM customer
    WHERE c_custkey BETWEEN 1 AND {ANC_KEY_MAX}
    UNION ALL
    SELECT u.custkey, u.node {div_op} 2, u.depth + 1
    FROM up u WHERE u.node > 1
)
SELECT custkey,
       CAST(max(depth) AS BIGINT) AS chain_len,
       CAST(sum(node) AS BIGINT) AS ancestor_key_sum
FROM up
GROUP BY custkey
"""


@register(
    "sql_recursive_ancestors",
    oracle=_anc_sql("//"),
    tags=("sql", "recursive", "hierarchy"),
    doc=(
        "WITH RECURSIVE ancestor walk up a binary-heap hierarchy (customer "
        "k reports to k div 2, root 1): per customer, chain length and the "
        "sum of keys on the path INCLUDING both endpoints. Pure-projection "
        "recursion — no join in the loop body; depth self-bounds at "
        "floor(log2 key)."
    ),
)
def sql_recursive_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_anc_sql("div"))


#: Reachability graph: nodes are customer keys 1..REACH_NODE_MAX; every
#: node u has edge u -> (u*3) % N + 1 and, when u % 3 != 0, also
#: u -> (u*7) % N + 1. Modular maps on a finite node set guarantee
#: CYCLES, which is the point: UNION ALL recursion (sql_recursive_bom's
#: form) never terminates on a cyclic graph — reachability needs
#: UNION-DEDUP recursion, i.e. only rows NOT already accumulated feed
#: the next iteration.
REACH_NODE_MAX = 128
REACH_SRC_MAX = 8
#: BFS diameter of the derived graph is 12 (measured); the cap exists to
#: fail loudly instead of looping if the derivation changes.
REACH_ROUND_CAP = 24

_REACH_ORACLE = f"""
WITH RECURSIVE nodes AS (
    SELECT c_custkey AS node FROM customer
    WHERE c_custkey BETWEEN 1 AND {REACH_NODE_MAX}
),
e AS (
    SELECT node AS u, (node * 3) % {REACH_NODE_MAX} + 1 AS v FROM nodes
    UNION ALL
    SELECT node, (node * 7) % {REACH_NODE_MAX} + 1 FROM nodes WHERE node % 3 <> 0
),
walk(src, node) AS (
    SELECT node, node FROM nodes WHERE node <= {REACH_SRC_MAX}
    UNION
    SELECT w.src, e.v FROM walk w JOIN e ON e.u = w.node
)
SELECT src, node FROM walk
"""


@register(
    "sql_recursive_reachability",
    oracle=_REACH_ORACLE,
    tags=("sql", "recursive", "graph", "cyclic", "union-dedup"),
    doc=(
        "Multi-source reachability over a CYCLIC modular-edge graph — the "
        "WITH RECURSIVE ... UNION (distinct) semantics sql_recursive_bom's "
        "UNION ALL form cannot express (a cycle would recurse forever). "
        "Spark 4 rejects UNION inside recursive CTEs "
        "(UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the Spark side is the "
        "equivalent declarative BFS: per round, join the broadcast frontier "
        "to the edge relation and anti-join the visited set, so exactly the "
        "NOT-yet-accumulated rows feed the next round — the same fixpoint "
        "the oracle's UNION recursion computes, verified (src, node)-exact."
    ),
)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the edge relation is persisted and reused per round
    (at 100 TB it would be bucketed by u); the frontier — bounded by
    |sources| x N and shrinking after the expansion wave — is explicitly
    broadcast into the per-round join, so the big side never shuffles.
    The visited set grows monotonically; the anti-join against it is
    left to AQE (broadcastable while small, shuffled when not — pinning
    a broadcast there would OOM on a corpus-scale closure). Convergence
    is the BFS fixpoint: an empty new frontier, probed per round on the
    already-materialized checkpoint (no extra scan of anything)."""
    n = REACH_NODE_MAX
    nodes = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("node"))
        .where((F.col("node") >= 1) & (F.col("node") <= n))
    )
    e1 = nodes.select(
        F.col("node").alias("u"), ((F.col("node") * 3) % n + 1).alias("v")
    )
    e2 = nodes.where(F.col("node") % 3 != 0).select(
        F.col("node").alias("u"), ((F.col("node") * 7) % n + 1).alias("v")
    )
    edges = e1.unionByName(e2)
    seeds = nodes.where(F.col("node") <= REACH_SRC_MAX).select(
        F.col("node").alias("src"), "node"
    )
    return bfs_reachability(seeds, edges, REACH_ROUND_CAP)


def bfs_reachability(
    seeds: DataFrame, edges: DataFrame, round_cap: int = REACH_ROUND_CAP
) -> DataFrame:
    """Multi-source BFS fixpoint over ``seeds`` (src, node) and ``edges``
    (u, v) — WITH RECURSIVE ... UNION (distinct) semantics as a driver-
    built plan, reusable over any frame pair (the registered spec binds
    it to the modular-edge fixture; the fuzz harness binds it to random
    graphs).

    ONE job per round: a LAZY localCheckpoint whose materialization is
    triggered by count(), which doubles as the convergence probe (the
    eager-checkpoint + isEmpty form paid two scheduler round-trips per
    BFS level — fixed overhead that dominated this query's bench entry
    on the small fixture). The checkpoint still truncates lineage, so
    `visited` — a lazy union of the checkpointed frontiers — keeps a
    flat plan instead of one that doubles per round (plain persist()
    caches data but NOT the logical plan: Catalyst re-analysis went
    exponential past ~12 rounds when this tried persist+count)."""
    # r13 re-measured the VERDICT r12 #4 double-step (two levels per
    # driver round: level B built lazily on level A's checkpoint, ONE
    # count() materializing both, level A's count a near-free probe — no
    # tagged-count exchange this time). Interleaved same-session A/B:
    # single-step 2.828 s, double-step 2.821 s — a wash. The halved
    # count round-trips are cancelled by level A's expansion running
    # serially INSIDE level B's broadcast-frontier build (the per-level
    # work is a serial chain either way; only the count()s were
    # removed, and those are cheap probes of already-checkpointed
    # frontiers). Negative result, item closed: the one-job-per-level
    # form stays (convergence parity pinned on chains of every length
    # 0..6 + cycle cap boundaries in tests/test_recursive.py, which the
    # double-step candidate also passed).
    edges = edges.persist()
    frontier = seeds.localCheckpoint(eager=False)
    frontier.count()
    visited = frontier
    converged = False
    for _ in range(round_cap):
        expanded = (
            F.broadcast(frontier)
            .join(edges, frontier["node"] == edges["u"])
            .select("src", F.col("v").alias("node"))
            .distinct()
        )
        fresh = expanded.join(visited, ["src", "node"], "left_anti").localCheckpoint(
            eager=False
        )
        if fresh.count() == 0:
            converged = True
            break
        visited = visited.unionByName(fresh)
        frontier = fresh
    edges.unpersist()  # every visited leaf is checkpointed — cache done
    if not converged:
        raise RuntimeError(
            "bfs_reachability: BFS did not converge within "
            f"{round_cap} rounds — graph diameter exceeds the cap; "
            "pass a larger round_cap"
        )
    return visited
