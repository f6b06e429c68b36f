"""Recursive / iterative closure queries (round 16).

Two driver rows close the WITH RECURSIVE surface, one per execution
strategy:

- `recursive_cte_subtree_rollup`: Spark 4's NATIVE recursive CTE
  (UnionLoop) on an acyclic hierarchy — the implicit binary tree over
  `part` (parent(k) = floor(k/2), the classic synthetic BOM).  The
  oracle is the SAME `WITH RECURSIVE` text in DuckDB.
- `recursive_reachability_semi_naive`: the package's semi-naive
  operator (`operators/recursive.py`) on a CYCLIC functional graph,
  where UNION ALL recursion re-derives every path and only a depth
  guard terminates it — the oracle keeps the bounded path-enumeration
  form and collapses it with GROUP BY node: min(dist), which equals
  the operator's BFS distance by construction.

Reference parity note: the reference engine (BinaryVectorDB) has no
recursive surface — these rows belong to the mandated
beyond-the-reference analytics extension, same family as
`graph_pagerank_bipartite` (iterative DataFrame loops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binaryvectordb_spark.queries import register
from binaryvectordb_spark.sources.tables import load_table

# Subtree roots 4..7: node 1's subtree is the whole tree (trivial) and
# parent arithmetic floor(k/2) self-loops only at k=0, which no walk
# from roots >= 4 can reach — the recursion is acyclic by construction.
_ROLLUP_ROOT_LO = 4
_ROLLUP_ROOT_HI = 7
_ROLLUP_DEPTH_CAP = 30  # ceil(log2(max partkey)) is ~18 even at sf10

# r17 toggle (guide §2.4): every UnionLoop level's job re-plans and re-runs
# the `part` PARQUET scan (the recursive step joins the frontier against the
# view), plus once more for the final rollup join — ~log2(|part|) + 1 scans
# per query.  True registers the view over a lazily localCheckpoint-pinned
# frame instead: level 1 materializes the (small) projected table once and
# later levels read the in-memory partitions.  Per-invocation only (fresh
# call = fresh RDD); module-level so the A/B experiment can flip it.  At
# 100 TB the per-level scan of a BUCKETED edge table IS the design (levels
# are O(log n)); the pin targets the fixture-scale per-level parquet floor.
_PIN_PART_VIEW = True


def _part_view(spark: SparkSession, sf_dir: str) -> None:
    part = load_table(spark, sf_dir, "part")
    if _PIN_PART_VIEW:
        # project to the columns the two recursive queries read before
        # pinning — column pruning cannot reach below a LogicalRDD, so an
        # unprojected pin would materialize the whole width every level
        part = (part.select("p_partkey", "p_retailprice")
                .localCheckpoint(eager=False))
    part.createOrReplaceTempView("part")


_ROLLUP_SQL = f"""
WITH RECURSIVE walk(root, node, depth) AS (
  SELECT p_partkey, p_partkey, 0
  FROM part
  WHERE p_partkey BETWEEN {_ROLLUP_ROOT_LO} AND {_ROLLUP_ROOT_HI}
  UNION ALL
  SELECT w.root, p.p_partkey, w.depth + 1
  FROM walk w
  JOIN part p ON CAST(floor(p.p_partkey / 2.0) AS BIGINT) = w.node
  WHERE w.depth < {_ROLLUP_DEPTH_CAP}
)
SELECT w.root AS root,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(max(w.depth) AS INT) AS max_depth,
       CAST(sum(CAST(round(p.p_retailprice * 100) AS BIGINT)) AS BIGINT)
         AS subtree_price_cents
FROM walk w JOIN part p ON p.p_partkey = w.node
GROUP BY w.root
"""


def recursive_cte_subtree_rollup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Recursive-CTE subtree rollup via Spark 4's UnionLoop — the FIRST
    native WITH RECURSIVE row; the oracle runs the identical SQL text.

    The recursive step is a single EQUALITY join (parent(k) = floor(k/2)
    folded onto the child side), never an OR-of-equalities — an OR form
    would plan BroadcastNestedLoopJoin and re-scan `part` per level
    (same trap as the multi-table LSH, SCALE.md §3).  Each level's
    frontier is one tree layer (≤ 2^depth nodes but ≤ |part| total), so
    the per-level join broadcasts the frontier against the parts scan.
    Price mass sums exact integer cents (fold-order-free both engines);
    the tree is acyclic from roots ≥ 4, the depth guard is headroom
    only.  Scale: levels are O(log n); the UNION ALL never revisits a
    node because a binary tree has exactly one path to each node —
    cyclic/multi-path graphs instead take the semi-naive operator row
    (next), which is the dedup-per-level strategy UnionLoop lacks.
    """
    _part_view(spark, sf_dir)
    return spark.sql(_ROLLUP_SQL)


register("recursive_cte_subtree_rollup", recursive_cte_subtree_rollup,
         oracle=_ROLLUP_SQL)


# BOM explosion: the third strategy corner.  Here UNION ALL path
# semantics is CORRECT, not a workaround — extended quantity is a
# product over the path, so every path must be enumerated (a node-dedup
# strategy like the semi-naive operator would be WRONG for this
# aggregate; on a tree path = node so the enumeration stays linear).
# Child k assembles into parent floor(k/2) with a deterministic
# per-edge quantity 1 + k % 3; no depth guard — the walk terminates
# naturally at the leaves (acyclic from roots >= 8, same argument as
# the rollup row).  BIGINT headroom: max product is 3^depth ≈ 3^21 at
# sf10 (~1e10), × ~2M nodes ≪ 2^63.
_BOM_ROOT_LO = 8
_BOM_ROOT_HI = 15

_BOM_SQL = f"""
WITH RECURSIVE bom(root, node, ext_qty) AS (
  SELECT p_partkey, p_partkey, CAST(1 AS BIGINT)
  FROM part
  WHERE p_partkey BETWEEN {_BOM_ROOT_LO} AND {_BOM_ROOT_HI}
  UNION ALL
  SELECT b.root, p.p_partkey, b.ext_qty * (1 + p.p_partkey % 3)
  FROM bom b
  JOIN part p ON CAST(floor(p.p_partkey / 2.0) AS BIGINT) = b.node
)
SELECT root,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(ext_qty) AS BIGINT) AS total_units,
       CAST(max(ext_qty) AS BIGINT) AS max_units
FROM bom
GROUP BY root
"""


def recursive_bom_extended_quantity(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """BOM explosion (extended-quantity rollup) via the native
    recursive CTE — quantities MULTIPLY along each assembly path, the
    classic manufacturing walk.  Completes the recursion strategy
    triad: subtree rollup (single-path acyclic — either strategy),
    reachability (cyclic/multi-path — semi-naive ONLY), and this row
    (path-weighted aggregate — path enumeration ONLY: deduplicating
    nodes would drop quantity mass).  Guard-free recursion: the walk
    ends at the leaves, exercising UnionLoop's natural termination
    rather than a depth cap; integer arithmetic end-to-end, so the
    oracle is the identical SQL text."""
    _part_view(spark, sf_dir)
    return spark.sql(_BOM_SQL)


register("recursive_bom_extended_quantity", recursive_bom_extended_quantity,
         oracle=_BOM_SQL)


# Functional graph over customer keys: out-degree 2 with affine maps
# modulo the key span — converging edges and cycles by construction
# (pigeonhole: every walk of length > 1 revisits under the modulus
# eventually), which is exactly the shape UNION ALL recursion cannot
# terminate on without a depth guard and re-derives per path within it.
_REACH_DEPTH = 6
_REACH_ROOTS = 5  # c_custkey < 5

_REACH_SQL = f"""
WITH RECURSIVE
m AS (SELECT CAST(max(c_custkey) + 1 AS BIGINT) AS m FROM customer),
e AS (
  SELECT c_custkey AS src,
         CAST((7 * c_custkey + 3) % (SELECT m FROM m) AS BIGINT) AS dst
  FROM customer
  UNION ALL
  SELECT c_custkey,
         CAST((31 * c_custkey + 17) % (SELECT m FROM m) AS BIGINT)
  FROM customer
),
walk(node, dist) AS (
  SELECT CAST(c_custkey AS BIGINT), 0 FROM customer
  WHERE c_custkey < {_REACH_ROOTS}
  UNION ALL
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < {_REACH_DEPTH}
)
SELECT node, CAST(min(dist) AS INT) AS dist
FROM walk
GROUP BY node
"""


def recursive_reachability_semi_naive(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Bounded multi-source reachability (BFS distance) on a CYCLIC
    graph via the semi-naive closure operator (operators/recursive.py).

    The oracle keeps DuckDB's bounded UNION ALL recursion — it
    enumerates PATHS (5 roots × out-degree 2 × depth 6 ≈ 600 rows here)
    and collapses them with min(dist); the operator derives each NODE
    once per its minimal level, which is the same function whenever
    both explore the same depth (BFS-frontier-empty ⇒ closure
    complete).  On path-heavy graphs the enumeration blows up
    exponentially in the depth while the semi-naive frontier is bounded
    by |V| — that asymptotic gap, not this fixture's wall time, is why
    the operator exists; the cyclic shape already makes it the only
    strategy that terminates WITHOUT the depth guard.

    The modulus is a 1-row broadcast stats frame (the crossJoin
    convention every stats-fed query uses); edges build from two narrow
    projections of `customer`, and the frontier side of every level
    broadcasts (≤ |V| rows), so the edge list never shuffles.
    """
    from binaryvectordb_spark.operators.recursive import semi_naive_closure

    cust = load_table(spark, sf_dir, "customer")
    m = cust.agg((F.max("c_custkey") + 1).cast("long").alias("m"))
    with_m = cust.select("c_custkey").crossJoin(F.broadcast(m))
    edges = (with_m.select(
                 F.col("c_custkey").alias("src"),
                 F.pmod(7 * F.col("c_custkey") + 3, F.col("m"))
                 .cast("long").alias("dst"))
             .unionByName(with_m.select(
                 F.col("c_custkey").alias("src"),
                 F.pmod(31 * F.col("c_custkey") + 17, F.col("m"))
                 .cast("long").alias("dst"))))
    roots = (cust.where(F.col("c_custkey") < _REACH_ROOTS)
             .select(F.col("c_custkey").cast("long").alias("node")))
    # the edge list is DERIVED (two customer scans + a max() stats agg +
    # union), and without materialization that derivation re-executes in
    # every level's job — 6 levels deep.  One lazy localCheckpoint of the
    # ~2|V|-row projected edge frame amortizes it to once per invocation
    # (r16 interleaved A/B: 4.166 s -> 3.512 s median, -16%).
    return semi_naive_closure(edges, roots, max_depth=_REACH_DEPTH,
                              materialize_edges=True)


register("recursive_reachability_semi_naive",
         recursive_reachability_semi_naive, oracle=_REACH_SQL)
