"""Weighted single-source shortest paths — distributed Bellman-Ford
(beyond reference; completes the graph family next to hop-count
``bfs``, ``pagerank``, ``kcore``, ``components``, ``triangles``).

The classic Pregel/GraphX SSSP shape as DataFrame rounds: keep a
``(node, dist)`` table; each round relaxes every edge out of the
current distance table (one equi-join + shuffle on the destination) and
keeps the per-node minimum; stop when a round improves nothing. With
non-negative integer weights every distance is exact int64 arithmetic —
no float accumulation — so a DuckDB recursive CTE (bounded-hop walk
enumeration + MIN per node) replays the result bit-for-bit (q234).

Scale shape: cost per round is one join proportional to |frontier
out-edges| (only nodes improved last round are re-relaxed — the delta
frontier, not the whole distance table), for at most |V|-1 rounds but
in practice graph-diameter rounds (distances only fall, so the loop
ends). Per-round observed checkpoints (:func:`.checkpoint.checkpoint`)
cut the lineage and count the improved rows. Negative weights are
rejected (Bellman-Ford would need the full |V|-1 rounds plus a
negative-cycle check; the engine's workloads — latency graphs, hop
costs, trade volumes — are non-negative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import checkpoint


def sssp(
    edges: DataFrame,
    source,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Exact shortest-distance table ``(node, dist)`` for every node
    reachable from ``source``. ``edges`` is directed with non-negative
    integer weights (asserted); pass both orientations for undirected
    graphs."""
    spark = edges.sparkSession
    e, seen = checkpoint(
        edges.select(
            F.col(src_col).alias("_src"),
            F.col(dst_col).alias("_dst"),
            F.col(weight_col).cast("long").alias("_w"),
        ),
        F.count_if(F.col("_w") < 0).alias("neg"),
    )
    if seen["neg"]:
        raise ValueError("sssp requires non-negative weights")

    dist = spark.createDataFrame([(source, 0)], "node long, dist long")
    dist = dist.localCheckpoint(eager=True)
    frontier = dist  # nodes improved last round
    while True:
        cand = (
            frontier.join(e, frontier["node"] == e["_src"])
            .select(
                F.col("_dst").alias("node"),
                (F.col("dist") + F.col("_w")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        # keep candidates that beat (or first-reach) the current table
        improved, seen = checkpoint(
            cand.join(
                dist.select(F.col("node").alias("_n"), F.col("dist").alias("_d")),
                cand["node"] == F.col("_n"),
                "left",
            )
            .filter(F.col("_d").isNull() | (F.col("dist") < F.col("_d")))
            .select("node", "dist"),
            F.count(F.lit(1)).alias("n"),
        )
        if seen["n"] == 0:
            break
        dist = (
            dist.join(improved.select(F.col("node").alias("_in")),
                      dist["node"] == F.col("_in"), "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return dist


def sql_sssp(
    edges_cte: str,
    source: int,
    max_hops: int,
) -> str:
    """DuckDB mirror: bounded-hop walk enumeration + MIN(dist) per node.
    ``edges_cte`` must expose ``(src, dst, w)``; ``max_hops`` must be
    >= the longest shortest path's edge count (|V|-1 is always safe —
    walks longer than that cannot improve a non-negative-weight
    distance). Paste inside a WITH RECURSIVE list and SELECT from
    ``sssp_out``."""
    return f"""
sssp_walk(node, dist, hops) AS (
  SELECT CAST({source} AS BIGINT), CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, w.dist + e.w, w.hops + 1
  FROM sssp_walk w JOIN {edges_cte} e ON w.node = e.src
  WHERE w.hops < {max_hops}
),
sssp_out AS (
  SELECT node, MIN(dist) AS dist FROM sssp_walk GROUP BY node
)"""
