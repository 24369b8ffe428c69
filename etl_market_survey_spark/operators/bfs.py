"""Bounded-hop BFS (min-hop frontier expansion) — beyond reference.

Complements the iterative-graph family (``components`` label-prop,
``kcore`` peeling, ``pagerank`` fixed-point, ``triangles``): shortest
hop distance from a source over an edge table, bounded to ``max_hops``
levels.

Scale shape: one equi-join shuffle per level on the frontier (which is
a tiny fraction of the graph after level 1), with a **visited-set
anti-join** so a node is expanded exactly once — the textbook
distributed BFS pruning; without it frontier sizes grow with walk
counts, not node counts. Each level is an observed checkpoint
(:func:`.checkpoint.checkpoint`): level N's plan never replays levels
1..N-1, a task retry re-reads materialized blocks, and the level's row
count comes from the same job.

Exactness: min-hop distances are invariant to the pruning — a DuckDB
recursive CTE *without* pruning (walk semantics + ``MIN(hop)``) yields
the same table, which is how q194 gates this bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import checkpoint


def bfs_hops(
    edges: DataFrame,
    source,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_frontier: bool | None = None,
) -> DataFrame:
    """Min-hop table ``(node, hops)`` for all nodes within ``max_hops``
    of ``source``. ``edges`` is directed; pass both orientations for an
    undirected graph.

    ``broadcast_frontier`` broadcasts the frontier into the edges
    join and the visited set into the anti-join, making each level ONE
    shuffle (the new-frontier distinct) instead of three — right
    whenever the visited set fits an executor (the same trade as
    ``pagerank_fixed_point``'s ``broadcast_ranks``); billion-node
    graphs keep the default shuffle joins. The default ``None``
    auto-gates PER LEVEL on the exact visited-set row count (already
    known: every level's checkpoint job counts its rows) vs
    ``autoBroadcastJoinThreshold`` — a runtime size check, no per-query
    assumption; a frontier wave that outgrows the threshold falls back
    to shuffle joins mid-traversal. Pass True/False to override."""
    from .autobroadcast import rows_fit_broadcast

    spark = edges.sparkSession
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).localCheckpoint(eager=True)
    frontier = spark.createDataFrame(
        [(source, 0)], "node long, hops int"
    ).localCheckpoint(eager=True)
    levels = [frontier]
    visited = frontier.select("node")
    visited_rows = 1
    for i in range(1, max_hops + 1):
        bcast = (
            rows_fit_broadcast(spark, visited_rows, row_bytes=32)
            if broadcast_frontier is None
            else broadcast_frontier
        )
        fr_in = F.broadcast(frontier) if bcast else frontier
        vis_in = F.broadcast(visited) if bcast else visited
        # the row count is the emptiness check and the exact visited
        # size the next level's broadcast gate needs
        nxt, seen = checkpoint(
            fr_in.join(e, fr_in["node"] == e["_src"])
            .select(F.col("_dst").alias("node"))
            .distinct()
            .join(vis_in, "node", "left_anti")
            .withColumn("hops", F.lit(i).cast("int")),
            F.count(F.lit(1)).alias("n"),
        )
        if seen["n"] == 0:
            break
        visited_rows += seen["n"]
        levels.append(nxt)
        frontier = nxt
        # every level is already an eager checkpoint, so the visited
        # union is flat lineage over materialized blocks — no need to
        # re-materialize the whole visited set each level
        visited = visited.unionByName(nxt.select("node"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out
