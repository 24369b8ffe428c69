"""Borůvka minimum spanning forest — the parallel-native MST algorithm.

Borůvka (1926; the textbook distributed formulation, e.g. Lattanzi et
al.'s filtering MapReduce line) is the MST algorithm that maps onto
DataFrame rounds: every component simultaneously picks its cheapest
outgoing edge (one groupBy), the picked edges merge components (one
small connected-components pass over the COMPONENT graph — at most one
edge per component, exponentially shrinking), repeat. Components at
least halve per round, so ceil(log2(V)) rounds bound the loop — each
round is a constant number of shuffles over the (shrinking) edge list.

Determinism contract: the per-component minimum is taken over the
struct ``(w, u, v)`` — a TOTAL order even with duplicate weights — so
the forest is the unique MSF of the lexicographically-weighted graph
and replays bit-for-bit in SQL (q260 unrolls the rounds; the merge is
replayed by a min-label fixpoint whose converged labels are
representation-independent, so only the partition matters, exactly as
here).

Scale shape per round: edge relabel = two id-keyed joins against the
node->comp table; min-edge = one map-side-combinable struct-min groupBy
on comp; merge = components over a table with <= #comps rows (tiny);
relabel = one join. Lineage is cut per round with localCheckpoint (the
kcore/components pattern). No collect anywhere; forest accumulates as a
unioned lazy frame checkpointed per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import checkpoint
from .components import connected_components


def minimum_spanning_forest(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    max_rounds: int = 30,
) -> DataFrame:
    """MSF edge set ``(u, v, w)`` with ``u < v`` — the unique minimum
    forest under lexicographic ``(w, u, v)`` edge order. Self-loops are
    dropped; parallel edges keep their minimum struct. Works on any
    (possibly disconnected) undirected graph given as one direction per
    edge (symmetrized internally)."""
    base = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("eu"),
            F.greatest(F.col(src), F.col(dst)).alias("ev"),
            F.col(weight).cast("long").alias("w"),
        )
        .filter(F.col("eu") != F.col("ev"))
        .groupBy("eu", "ev")
        .agg(F.min("w").alias("w"))
    )
    und = (
        base.select(F.col("eu").alias("u"), F.col("ev").alias("v"), "w")
        .unionByName(
            base.select(
                F.col("ev").alias("u"), F.col("eu").alias("v"), "w"
            )
        )
        .localCheckpoint(eager=True)
    )
    comp = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    forest: DataFrame | None = None
    for _ in range(max_rounds):
        el = (
            und.join(
                comp.select(F.col("node").alias("u"), F.col("comp").alias("cu")),
                "u",
            )
            .join(
                comp.select(F.col("node").alias("v"), F.col("comp").alias("cv")),
                "v",
            )
            .filter(F.col("cu") != F.col("cv"))
        )
        # consumed 3x below; the emptiness check rides on its job
        sel, seen = checkpoint(
            el.groupBy("cu")
            .agg(F.min(F.struct("w", "u", "v", "cv")).alias("m"))
            .select(
                "cu",
                F.col("m.w").alias("w"),
                F.col("m.u").alias("u"),
                F.col("m.v").alias("v"),
                F.col("m.cv").alias("cv"),
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if seen["n"] == 0:
            break
        # ``sel`` is already checkpointed, so the forest union's lineage
        # is bounded at one select per round — no per-round eager cut
        # (one fewer driver action per round), and the both-endpoints
        # duplicate of a chosen edge is deduped ONCE at the end: an edge
        # picked in round r merges its endpoints' components, so it can
        # never be picked again in a later round.
        chosen = sel.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
            "w",
        )
        forest = chosen if forest is None else forest.unionByName(chosen)
        merged = connected_components(
            sel.select(F.col("cu").alias("id_a"), F.col("cv").alias("id_b"))
        )
        comp = (
            comp.join(
                merged.select(F.col("node").alias("comp"), F.col("comp").alias("_new")),
                "comp",
                "left",
            )
            .select(
                "node", F.coalesce("_new", F.col("comp")).alias("comp")
            )
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"Borůvka did not converge in {max_rounds} rounds")
    if forest is None:
        return base.select(
            F.col("eu").alias("u"), F.col("ev").alias("v"), "w"
        ).limit(0)
    return forest.distinct()
