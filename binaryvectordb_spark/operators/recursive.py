"""Semi-naive recursive closure — the iterative-query operator family.

Spark 4 ships WITH RECURSIVE (UnionLoop), but its UNION ALL semantics
re-derive every PATH: on a graph with converging edges the per-level row
count multiplies by the average in-degree (a diamond doubles it, k
diamonds in sequence are 2^k paths to the same node), and a cycle never
terminates without an explicit depth guard.  The textbook fix is
SEMI-NAIVE evaluation (datalog's delta iteration): each level joins only
the NEW frontier against the edge list and anti-joins everything already
visited, so every node is derived exactly once no matter how many paths
reach it, and cycles terminate naturally when the frontier empties.

`semi_naive_closure` is that operator as a DataFrame loop:

- per level exactly ONE shuffle-bearing job — frontier ⋈ edges on the
  source key, distinct on the destination, anti-join against the visited
  union, `localCheckpoint(eager=True)` to pin the level and CUT LINEAGE
  (20 levels of join lineage would otherwise replan and recompute the
  whole prefix every level — the pagerank lesson, analytics3.py);
- the frontier side BROADCASTS while it stays small (it is ≤ the new
  nodes of the previous level), so the edge list — the 100 TB side —
  never shuffles; past `broadcast_frontier_max` the join falls back to
  a plain equi-join, where a cluster deployment co-locates it by
  bucketing edges on `src`;
- the visited set is the union of the already-materialized level frames
  (never re-checkpointed — the anti-join reads cached partitions, no
  O(V) rewrite per level);
- each level's size comes from `count()` on the checkpointed frame
  (cached — no recompute), which both drives the broadcast decision and
  detects the empty frontier.

Result: (node, dist) with dist = BFS distance from the nearest root —
deterministic under any partitioning, equal to the bounded recursive
CTE's `GROUP BY node: min(dist)` whenever both explore the same depth.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BROADCAST_FRONTIER_MAX = 2_000_000


def _next_level(frontier: DataFrame, edges: DataFrame,
                visited: DataFrame, d: int, *,
                src: str, dst: str, node: str,
                do_broadcast: bool) -> DataFrame:
    """One delta-iteration step, pre-checkpoint: (broadcast) frontier ⋈
    edges on the source key → distinct destinations → anti-join the
    visited set → (node, dist=d).  Split out so tests can pin the
    physical plan of the EXACT join the loop executes.

    r16 measured non-change: explicitly broadcasting the visited side of
    the anti-join while it is small (its LogicalRDD stats are unknown,
    so the planner never does it on its own) was parity-to-worse at
    sf0.1 — the per-level broadcast build costs what the tiny shuffle
    anti-join costs — and ships O(V) per level at scale; declined."""
    f_side = F.broadcast(frontier) if do_broadcast else frontier
    return (f_side.join(edges, F.col(node) == F.col(src))
            .select(F.col(dst).alias(node)).distinct()
            .join(visited, node, "left_anti")
            .select(node, F.lit(d).cast("int").alias("dist")))


def semi_naive_closure(edges: DataFrame, roots: DataFrame, *,
                       max_depth: int,
                       src: str = "src", dst: str = "dst",
                       node: str = "node",
                       broadcast_frontier_max: int = _BROADCAST_FRONTIER_MAX,
                       materialize_edges: bool = False,
                       info: dict | None = None) -> DataFrame:
    """Multi-source BFS closure over `edges` (columns src, dst) from
    `roots` (column `node`), exploring at most `max_depth` hops.

    Returns (node, dist int) — dist is the minimum hop count from any
    root; roots themselves carry dist 0.  Duplicate roots and cyclic /
    multi-path edge sets are handled by construction (each node enters
    the result at its first — minimal — level only).

    `info`, when passed, is filled with {"levels": int,
    "frontier_sizes": [int, ...], "broadcast_levels": [bool, ...]} for
    tests and diagnostics.

    ``materialize_edges`` (r16 optimization): every level's job carries
    the FULL lineage of ``edges`` — when the edge list is itself derived
    (scans + aggregations + unions), that derivation re-executes once
    per level.  True pins the projected (src, dst) frame with a lazy
    ``localCheckpoint`` so it is computed exactly once (during level 1)
    and later levels read the materialized partitions.  Per-invocation
    only — a fresh call re-materializes, nothing persists across runs.
    Leave False (the default) when the edge list is too large to
    materialize (the 100 TB deployment reads it from a bucketed table,
    where the per-level scan IS the design) or when it is already a
    plain scan/checkpoint with no derivation to amortize.
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    if len({src, dst, node, "dist"}) < 4:
        # e.g. node == src would turn the level join's condition into a
        # self-comparison; dst == "dist" would collide with the output
        # column inside the join — refuse loudly instead
        raise ValueError(
            f"src/dst/node/'dist' must be pairwise distinct, got "
            f"src={src!r} dst={dst!r} node={node!r}")
    # project to exactly (src, dst): a stray caller column named like
    # `node` would otherwise make the level join's F.col(node) ambiguous
    edges = edges.select(F.col(src), F.col(dst))
    if materialize_edges:
        edges = edges.localCheckpoint(eager=False)
    # r17 (guide §1.2): eager=False + count() materializes the checkpoint
    # INSIDE the count job — one job per level instead of two (the eager
    # checkpoint ran a materialization job, then count() ran a second job
    # over the cached partitions; at 6-15 levels the saved job-floor is
    # the dominant fixture cost of this operator)
    level0 = (roots.select(F.col(node).alias(node)).distinct()
              .select(node, F.lit(0).cast("int").alias("dist"))
              .localCheckpoint(eager=False))
    levels = [level0]
    sizes = [level0.count()]
    bcast: list[bool] = []
    frontier = level0
    for d in range(1, max_depth + 1):
        if sizes[-1] == 0:
            break
        do_broadcast = sizes[-1] <= broadcast_frontier_max
        visited = reduce(DataFrame.unionByName,
                         (lv.select(node) for lv in levels))
        new = _next_level(frontier, edges, visited, d, src=src, dst=dst,
                          node=node, do_broadcast=do_broadcast
                          ).localCheckpoint(eager=False)
        n_new = new.count()  # materializes the checkpoint (one job/level)
        if n_new == 0:
            break
        bcast.append(do_broadcast)
        levels.append(new)
        sizes.append(n_new)
        frontier = new
    if info is not None:
        info["levels"] = len(levels) - 1
        info["frontier_sizes"] = sizes
        info["broadcast_levels"] = bcast
    return reduce(DataFrame.unionByName, levels)
