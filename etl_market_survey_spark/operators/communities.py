"""Community detection — synchronous label propagation (Raghavan et al.
2007, "Near linear time algorithm to detect community structures") as a
DataFrame loop with bit-exact cross-engine semantics.

LPA in its gate-able form: every node starts as its own label; each
round, every node SIMULTANEOUSLY adopts the most frequent label among
its in-neighbors, ties broken by the smallest label. Synchronous
updates + deterministic ties make a run a pure function of (edge set,
n_iter) — no randomized visit order, no float — so the oracle unrolls
the rounds as chained SQL stages and hash-matches every (node, label)
row. (Classic LPA randomizes the visit order to dampen label
oscillation; the synchronous fixed-iteration form trades a possibly
coarser fixpoint for determinism, the same trade the fixed-point
PageRank gate makes.)

Distinct from ``operators/components``: connected components ask "is
there ANY path" (min-label flood); LPA asks "where do most of my
neighbors sit" — dense clusters keep their label against sparse
bridges, so one component can hold many communities.

Scale shape per round: one join labels⋈edges on src (the label table
is nodes-sized; the key never changes, so with bucketed edges the
exchange disappears), ONE dst-keyed groupBy computing
``mode(label, deterministic=true)`` — most frequent label, ties to the
smallest, with map-side partial buffers carrying per-label counts, so
the round shuffles once where the two-level count+argmax form shuffled
twice — and one left join back onto the (always-total) label table
(isolated nodes keep their label).
Iterations are a driver loop with EAGER localCheckpoint cuts every few
rounds: each round references the label table twice, so the lazy plan
doubles per round and an uncut loop goes exponential in plan size —
the cut caps it at 2^CHECKPOINT_EVERY for one tiny nodes-sized
materialization per cut (the Pregel-as-DataFrame shape shared with
pagerank/kcore/sssp, with the two-reference caveat called out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Rounds between eager cuts of the label table (broadcast mode: 1).
CHECKPOINT_EVERY = 4


def label_propagation(
    edges: DataFrame,
    n_iter: int = 4,
    broadcast_labels: bool | None = None,
    src_total: bool = False,
) -> DataFrame:
    """``(node, label)`` after ``n_iter`` synchronous LPA rounds over
    the directed edge list ``(src, dst)`` — symmetrize with
    :func:`..operators.pagerank.undirected_edges` for undirected
    graphs (the usual community-detection input).

    ``broadcast_labels`` broadcasts the nodes-sized label table
    into the message join (and the winner table into the join-back),
    making each round ONE shuffle (the count combine) instead of
    three — right whenever the node set fits an executor (tens of
    millions of nodes); billion-node graphs keep the default shuffle
    joins. The default ``None`` auto-gates on the exact node count vs
    ``autoBroadcastJoinThreshold`` (one count job that doubles as the
    node-table cache materialization); pass True/False to override. In this mode the label table is ALSO cut every round: the
    round's plan references it twice, so uncut rounds double the tree
    (analyzed eagerly by every transformation — the driver cost goes
    exponential long before any executor does work), while the cut
    materializes a table the mode already assumes fits an executor.
    (Measured the other way too: for n_iter=3 the uncut single-action
    form loses ~1.5-2s at sf0.1 — the doubled subtrees are NOT saved by
    exchange reuse across the nested broadcasts.)

    ``src_total=True`` asserts every node appears as ``src`` (true for
    any symmetrized edge list, e.g. from
    :func:`..operators.pagerank.undirected_edges`), so the node set is
    ``SELECT DISTINCT src`` — one scan of the edge list and half the
    distinct's input vs the default src+dst union. Only set it when the
    input is symmetrized; directed graphs keep the union (a pure sink
    appears only as dst and would otherwise drop from the labels)."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    multi = n_iter > 1
    edges = edges.persist() if multi else edges
    if src_total:
        nodes = edges.select(F.col("src").alias("node")).distinct()
    else:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    if multi:
        nodes = nodes.persist()
    if broadcast_labels is None:
        from .autobroadcast import rows_fit_broadcast

        # auto-gate only multi-round runs: there the count doubles as
        # the node-cache materialization round 1 would otherwise pay;
        # a single round keeps the shuffle default (an uncached count
        # would cost a full extra pipeline run)
        broadcast_labels = multi and rows_fit_broadcast(
            edges.sparkSession, nodes.count()
        )
    every = 1 if broadcast_labels else CHECKPOINT_EVERY
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(n_iter):
        lab_in = F.broadcast(labels) if broadcast_labels else labels
        # most-frequent in-neighbor label, ties -> smallest, as ONE
        # aggregate: mode(label, deterministic=true) returns the most
        # frequent value and the LOWEST on frequency ties — exactly the
        # LPA rule — in a single groupBy(dst) with map-side combine.
        # The previous two-level form (count by (dst, label), then
        # argmax by dst) shuffled twice per round because the (dst,
        # label) hash partitioning cannot serve the dst-keyed argmax;
        # mode's partial buffers carry the per-label counts through one
        # dst-keyed exchange instead (guide §2.4: two operations keyed
        # the same way should share one exchange — here they fuse).
        best = (
            edges.join(lab_in, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.mode("label", True).alias("_new"))
        )
        # labels already carries EVERY node (it starts from the node
        # set and left joins keep it total) — no extra node-set join
        best_in = F.broadcast(best) if broadcast_labels else best
        labels = labels.join(best_in, "node", "left").select(
            "node", F.coalesce(F.col("_new"), F.col("label")).alias("label")
        )
        if (i + 1) % every == 0 and i != n_iter - 1:
            # EAGER cut: each round references the label table TWICE
            # (the message join and the keep-old coalesce), so the lazy
            # plan DOUBLES per round — 2^n subtrees by round n. An
            # eager checkpoint every few rounds caps plan size at
            # 2^CHECKPOINT_EVERY for a tiny nodes-sized materialization.
            labels = labels.localCheckpoint(eager=True)
        elif i == n_iter - 1:
            labels = labels.localCheckpoint(eager=False)
    return labels


def sql_label_propagation(
    edges_cte: str,
    nodes_cte: str,
    n_iter: int,
    final_name: str = "lp_final",
) -> str:
    """Unrolled-SQL replay of :func:`label_propagation` — keep in
    lockstep. ``edges_cte`` must expose ``(src, dst)``, ``nodes_cte``
    ``(node)``. Emits chained CTEs ending in ``{final_name}(node,
    label)``; paste inside a WITH list."""
    parts = [f"lp0 AS (SELECT node, node AS label FROM {nodes_cte})"]
    for i in range(1, n_iter + 1):
        prev, cur = f"lp{i - 1}", f"lp{i}"
        parts.append(f"""{cur}_m AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM {edges_cte} e JOIN {prev} l ON l.node = e.src
  GROUP BY 1, 2
),
{cur}_b AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label)
             AS rk
    FROM {cur}_m
  ) WHERE rk = 1
),
{cur} AS (
  SELECT l.node, COALESCE(b.label, l.label) AS label
  FROM {prev} l LEFT JOIN {cur}_b b ON b.node = l.node
)""")
    parts.append(
        f"{final_name} AS (SELECT node, label FROM lp{n_iter})"
    )
    return ",\n".join(parts)
