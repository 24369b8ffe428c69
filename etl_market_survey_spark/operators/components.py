"""Connected components over a duplicate-pair graph (beyond reference —
the step that turns near-dup PAIRS into dedup DECISIONS).

Pair generators (MinHash-LSH q19, n-gram Jaccard q21, embedding near-dup
q57) emit edges; deduplication needs the transitive closure — if A~B and
B~C, keep ONE of {A,B,C} even though (A,C) was never emitted. That is
connected components, which Spark's DataFrame API lacks.

Implementation: iterative min-label propagation with pointer jumping.
Each round every node takes the min of its own label and its neighbors'
labels (one join + one map-side-combined groupBy on the edge list), then
labels compress one pointer hop (label := label(label)) — the classic
O(log n)-rounds recipe for bounded-diameter graphs (near-dup clusters
have tiny diameters; pathological chains converge in log rounds thanks
to the jumping). Per round: two shuffles bounded by |edges| and |nodes|;
lineage is truncated with an eager localCheckpoint so round N's plan
does not replay rounds 1..N-1 (iterative-algorithm hygiene on any
cluster). Convergence is detected by counting changed labels on the
round's checkpoint job (:func:`.checkpoint.checkpoint`).

The result is deterministic (component id = min node id in the
component) and engine-checkable: the q67 oracle recomputes the closure
with a recursive CTE in DuckDB and hash-matches every (node, component)
row. Cite: reference has no graph ops; SURVEY §2 notes dedup is
beyond-reference scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import checkpoint


#: Below this many (deduped, directed) edges the component labels are
#: computed with a driver union-find on the collected edge list — a
#: BOUNDED collect (the gate is a measured count, ~a few MB at the
#: threshold) that replaces ~3 driver actions x log(n) label-propagation
#: rounds with one job. Matters twice: tiny pair graphs are the common
#: case for near-dup output, and Borůvka's per-round component-merge
#: graph (<= one edge per component, shrinking geometrically) hits this
#: path every round after the first on any graph.
_DRIVER_UF_MAX_EDGES = 100_000


def _driver_union_find(und: DataFrame) -> DataFrame:
    """(node, comp) via union-find over a collected small edge list;
    comp = min reachable node id — identical labels to the distributed
    fixpoint (same partition, same min-representative)."""
    rows = und.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r["a"], r["b"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root -> comp = min of the component
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    node_t = dict(und.dtypes)["a"]
    return und.sparkSession.createDataFrame(
        out, f"node {node_t}, comp {node_t}"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; comp = min
    node id reachable. Raises if not converged within ``max_iter``
    rounds (log2(longest chain) rounds suffice with pointer jumping).

    Small graphs (edge count under ``_DRIVER_UF_MAX_EDGES``, measured)
    short-circuit to a driver union-find — same labels, one job instead
    of 3 actions per propagation round."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    # the size gate rides on the checkpoint's own job (no separate agg)
    und, gate = checkpoint(
        und,
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("a").isNull() | F.col("b").isNull()).alias("nulls"),
    )
    # null node ids keep the distributed path (they don't order in the
    # driver union-find; join semantics handle them as before)
    if gate["n"] <= _DRIVER_UF_MAX_EDGES and not gate["nulls"]:
        return _driver_union_find(und)

    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        nbr_min = (
            und.join(
                labels.select(F.col("node").alias("b"), F.col("comp").alias("_nc")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("_nc").alias("_nbr"))
        )
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.col("comp").alias("_prev"),  # carried for the
                # convergence check — no jumped⋈labels re-join needed
                F.least(F.col("comp"), F.coalesce(F.col("_nbr"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint(eager=True)  # consumed twice by the self-join
        )
        # pointer jump: comp := comp's comp (halves chain lengths)
        jumped, seen = checkpoint(
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("node").alias("comp"), F.col("comp").alias("_cc")
                ).alias("t"),
                "comp",
                "left",
            )
            .select(
                F.col("s.node").alias("node"),
                F.col("s._prev").alias("_prev"),
                F.least(F.col("comp"), F.coalesce(F.col("_cc"), F.col("comp"))).alias(
                    "comp"
                ),
            ),
            F.count_if(~F.col("comp").eqNullSafe(F.col("_prev"))).alias("changed"),
        )
        labels = jumped.select("node", "comp")
        if seen["changed"] == 0:
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def dedup_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Attach ``canonical_id`` — the component minimum for rows in any
    duplicate cluster, the row's own id otherwise. Filtering on
    ``id == canonical_id`` keeps exactly one survivor per cluster."""
    comp = connected_components(pairs, src, dst)
    return (
        df.join(
            comp.select(F.col("node").alias(id_col), "comp"), id_col, "left"
        )
        .withColumn("canonical_id", F.coalesce("comp", F.col(id_col)))
        .drop("comp")
    )


def dedup_canonical_by(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Attach ``canonical_id`` — within each duplicate component the id
    of the HIGHEST-``score_col`` row (ties: lowest id), the row's own id
    for singletons. Curation keeps the best-quality survivor of a dup
    cluster, not an arbitrary one; ``filter(id == canonical_id)`` again
    keeps exactly one row per cluster.

    Shape: components once, then one per-component argmax (max_by over a
    (score, -id)-ordered struct) joined back — both shuffles are on the
    component key."""
    comp = connected_components(pairs, src, dst)
    with_comp = df.join(
        comp.select(F.col("node").alias(id_col), "comp"), id_col, "left"
    )
    # struct ordering: exact for ANY numeric score (no packing, no
    # truncation, no overflow) — (score asc, -id asc) maximized picks
    # highest score then lowest id. The q145 DuckDB mirror packs an
    # integer key instead (its arg_max cannot order structs), which is
    # equivalent there because that gate's score is an integer length.
    best = (
        with_comp.filter(F.col("comp").isNotNull())
        .groupBy("comp")
        .agg(
            F.max_by(
                id_col,
                F.struct(
                    F.col(score_col).alias("s"),
                    (-F.col(id_col).cast("long")).alias("negid"),
                ),
            ).alias("_best_id")
        )
    )
    return (
        with_comp.join(best, "comp", "left")
        .withColumn("canonical_id", F.coalesce("_best_id", F.col(id_col)))
        .drop("comp", "_best_id")
    )
