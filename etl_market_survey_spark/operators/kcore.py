"""k-core decomposition (iterative peeling) — exact, DataFrame loop.

The density filter of graph curation: the k-core is the maximal subgraph
where every node keeps degree >= k, computed by repeatedly peeling
under-degree nodes (Matula & Beck 1983). Each peel can cascade — a
node's removal drops its neighbors' degrees — so this is inherently
iterative, like the PageRank and connected-components loops here: per
round one degree aggregation + two semi-joins, lineage truncated with an
observed checkpoint (:func:`.checkpoint.checkpoint`) that counts the
surviving edges, exit at the fixpoint. Every other round removes an
edge; rounds are the peel depth (diameter-ish, << node count).

Exactness: pure integer degree arithmetic — the q122 gate unrolls the
same peel as SQL CTE stages past the fixpoint (peeling is idempotent
once stable) and matches bit-for-bit.

Scale shape: per round, the degree agg is map-side combined and the
keep-set joins are semi-joins that broadcast when the survivor set is
small. State is the current edge set — no driver-side data beyond one
count per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import checkpoint


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """Surviving ``(node, deg)`` of the k-core of the canonical edge set
    (``a < b`` distinct; see triangles.canonical_edges). Empty result if
    the core is empty. ``deg`` is the node's degree WITHIN the core."""
    if k < 1:
        raise ValueError("k must be >= 1")
    n = F.count(F.lit(1)).alias("n")
    cur, seen = checkpoint(edges.select("a", "b"), n)
    n_edges = seen["n"]
    while n_edges:
        keep = _degrees(cur).filter(F.col("deg") >= k).select("node")
        nxt, seen = checkpoint(
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b"),
            n,
        )
        if seen["n"] == n_edges:
            break
        cur, n_edges = nxt, seen["n"]
    return _degrees(cur).filter(F.col("deg") >= k)
