"""Weighted transitive closure over a parent-pointer hierarchy — the
bill-of-materials / org-chart explosion (beyond reference; the
hierarchical-data operator warehouses run as CONNECT BY or a recursive
CTE).

Input: a forest as (child, parent, qty) edges (each child has at most
one parent; quantities are positive integers — units per assembly).
Output: every (descendant, ancestor) pair with the PRODUCT of edge
quantities along the unique path and its depth — "how many of part X
does one unit of assembly Y ultimately contain".

Spark-first shape: iterated parent-hops — level k+1 joins level k's
ancestor against the edge table's child (one equi-join shuffle per
level, frontier shrinks as paths top out), observed checkpoints
(:func:`.checkpoint.checkpoint`), O(depth) rounds; a hierarchy deeper
than ``max_depth`` (or a cycle) raises. Quantities multiply in exact
int64 (guarded: the caller bounds qty^depth; 50^8 still fits). The
DuckDB oracle is the textbook recursive CTE — paths are unique in a
forest, so UNION ALL replays the identical row set (q248).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import checkpoint


def weighted_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    qty_col: str = "qty",
    max_depth: int = 32,
) -> DataFrame:
    """(descendant, ancestor, total_qty, depth) for every ancestor on
    each node's root path; raises past ``max_depth`` levels."""
    e = edges.select(
        F.col(child_col).alias("_c"),
        F.col(parent_col).alias("_p"),
        F.col(qty_col).cast("long").alias("_q"),
    ).localCheckpoint(eager=True)
    level = e.select(
        F.col("_c").alias("descendant"),
        F.col("_p").alias("ancestor"),
        F.col("_q").alias("total_qty"),
        F.lit(1).alias("depth"),
    ).localCheckpoint(eager=True)
    out = [level]
    # level max_depth + 1 is run only to prove it empty
    for d in range(2, max_depth + 2):
        nxt, seen = checkpoint(
            level.join(e, level["ancestor"] == e["_c"]).select(
                "descendant",
                F.col("_p").alias("ancestor"),
                (F.col("total_qty") * F.col("_q")).alias("total_qty"),
                F.lit(d).alias("depth"),
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if seen["n"] == 0:
            break
        if d > max_depth:
            raise ValueError(
                f"weighted_closure: deeper than max_depth={max_depth} (or a cycle)"
            )
        out.append(nxt)
        level = nxt
    res = out[0]
    for lv in out[1:]:
        res = res.unionByName(lv)
    return res


def sql_weighted_closure(edges_cte: str, max_depth: int = 32) -> str:
    """DuckDB mirror over ``(child, parent, qty)`` — keep in lockstep.
    Emits ``wc_out(descendant, ancestor, total_qty, depth)``."""
    return f"""
wc_out(descendant, ancestor, total_qty, depth) AS (
  SELECT child, parent, CAST(qty AS BIGINT), 1 FROM {edges_cte}
  UNION ALL
  SELECT w.descendant, e.parent, w.total_qty * e.qty, w.depth + 1
  FROM wc_out w JOIN {edges_cte} e ON w.ancestor = e.child
  WHERE w.depth < {max_depth}
)"""
