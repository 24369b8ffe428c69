"""Fixed-point integer PageRank — iterative graph algorithms as
DataFrame loops, with bit-exact cross-engine semantics.

Classic damped PageRank (Page et al. 1999) with one twist that makes it
gate-able: ranks live on an integer fixed-point grid (``unit`` = 1e12)
and every operation is integer arithmetic — contributions are
``pr div degree`` (floor), the damped update is
``base + (d_num * S) div d_den`` — so a run is a pure function of the
edge set with NO float anywhere: any engine that replays the same
integer recurrence produces the same bits (the q97 oracle unrolls the
iterations as chained CTEs). The floor noise is bounded by
``degree/unit`` per node per iteration — 1e-12-scale, the documented
contract of the fixed-point semantics.

Scale shape per iteration: one join ranks⋈edges on src (the rank table
is nodes-sized; co-partitioning on node id persists across iterations
since the key never changes — with bucketed edges the join exchange
disappears), one groupBy dst with map-side combined LONG sums (decimal
widening guards overflow: n_nodes * unit fits 38 digits far beyond any
realistic graph). Iterations are a driver loop over lazy plans; each
iteration checkpoints through the shuffle, state is the O(nodes) rank
table — the standard Pregel-as-DataFrame shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNIT = 1_000_000_000_000  # 1e12 fixed-point grid

#: Rounds between eager lineage cuts of the rank table.
CHECKPOINT_EVERY = 8


def undirected_edges(
    pairs: DataFrame, src: str, dst: str, parts_disjoint: bool = False
) -> DataFrame:
    """Symmetrize + dedupe an edge list into ``(src, dst)`` both ways.

    Both directions come from ONE ``explode`` over each pair row — a
    single scan of ``pairs`` with no self-union, so the (usually
    expensive: joins + distinct) pair build is computed once without
    needing a cache (guide §2.4: a union of two selects of the same
    frame scans it twice; emitting both rows per input row scans once).

    ``parts_disjoint=True`` asserts the ``src`` and ``dst`` value
    domains never overlap (e.g. a bipartite graph whose two node kinds
    live in disjoint id ranges). Then a reversed pair ``(b, a)`` can
    never equal a forward pair ``(a', b')``, so when ``pairs`` is
    already distinct the symmetrized edge set is distinct by
    construction and the post-symmetrize ``distinct()`` — a full
    shuffle of 2x the edge list — is skipped outright (a distinct on
    data that is already unique is an accidental exchange). Only set it
    when the domains are provably disjoint; the default keeps the
    dedupe."""
    out = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    return out if parts_disjoint else out.distinct()


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 3,
    d_num: int = 85,
    d_den: int = 100,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """``(node, pr)`` after ``n_iter`` integer fixed-point iterations over
    the directed edge list ``(src, dst)``; ``pr`` is on the ``UNIT``
    grid. Every node must have out-degree >= 1 (symmetrize with
    :func:`undirected_edges` for graphs with sinks).

    Lineage: every ``CHECKPOINT_EVERY`` rounds (and after the last) the
    rank table is eagerly ``localCheckpoint``-ed, so plan depth and
    task-retry replay are bounded by ``CHECKPOINT_EVERY`` rounds at any
    ``n_iter`` — without paying one materialization job per round (the
    kcore/components per-round cut is free there because it is the job
    that yields the round's convergence count; this loop reads none).

    ``broadcast_ranks`` broadcasts the nodes-sized per-source
    contribution table into the edges join (and the contribution sums
    into the join-back), making each round ONE shuffle (the dst-sum
    combine) instead of three — the same trade as
    :func:`..operators.communities.label_propagation`'s
    ``broadcast_labels``: right whenever the node set fits an executor
    (tens of millions of nodes); billion-node graphs keep the shuffle
    joins. The default ``None`` auto-gates on the node count the
    function already measures vs ``autoBroadcastJoinThreshold`` (a size
    check, not a per-query assumption); pass True/False to override.
    The per-source ratio ``pr div deg`` is computed once per node
    before the edges join — identical integers to the per-edge form,
    and the decimal contribution sum is order-independent, so results
    are bit-equal either way."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    # Loop constants persist for any multi-round run: each iteration's
    # plan references edges/deg/nodes, so without a persist the (often
    # expensive) edge-building subplan re-scans and re-shuffles once per
    # round even inside a single job. (The round-2 "persist costs 2x"
    # claim was an artifact of the count()-pruned bench; a clean
    # full-materialization A/B at sf0.1 shows persist slightly AHEAD
    # (~3-10%), and the win grows with edge-build cost and n_iter.)
    cuts_fire = n_iter > 1
    edges = edges.persist() if cuts_fire else edges
    # (node, deg): ALSO the node set — the out-degree >= 1 contract
    # means every node appears as a src, so the degree table's keys ARE
    # ``SELECT DISTINCT src`` (exactly the oracles' nodes CTE). One
    # aggregate replaces the old union+distinct node build, and carrying
    # ``deg`` inside the rank table removes the per-round rank⋈degree
    # join outright (guide §2.4): ``pr div deg`` computes the identical
    # integers from a column that rides along instead of re-joining.
    ndg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    if cuts_fire:
        ndg = ndg.persist()
    n_nodes = ndg.count()
    base = ((d_den - d_num) * UNIT) // (d_den * n_nodes)
    if broadcast_ranks is None:
        from .autobroadcast import rows_fit_broadcast

        broadcast_ranks = rows_fit_broadcast(edges.sparkSession, n_nodes)

    pr = ndg.withColumn("pr", F.lit(UNIT // n_nodes).cast("long"))
    for it in range(n_iter):
        # per-source ratio from the carried deg — NO join, either mode.
        # Zero contributions (pr < deg floors to 0) are dropped: they
        # add exactly 0 to every dst sum and the join-back already maps
        # absent sums through coalesce(s, 0), so the ranks are
        # bit-identical while the shuffled/broadcast rank table and the
        # join output shrink to the nonzero support.
        rt = pr.select(
            F.col("node").alias("src"), F.expr("pr div deg").alias("c")
        ).filter(F.col("c") != 0)
        # broadcast mode: edges never shuffle, the dst-sum partial-
        # aggregates map-side — one exchange per round
        rt_in = F.broadcast(rt) if broadcast_ranks else rt
        contrib = edges.join(rt_in, "src").select(
            F.col("dst").alias("node"), "c"
        )
        sums = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s")
        )
        sums_in = F.broadcast(sums) if broadcast_ranks else sums
        pr = ndg.join(sums_in, "node", "left").select(
            "node",
            "deg",
            (
                F.lit(base)
                + F.expr(f"({d_num} * coalesce(s, cast(0 as decimal(38,0)))) div {d_den}")
            )
            .cast("long")
            .alias("pr"),
        )
        if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < n_iter:
            pr = pr.localCheckpoint(eager=True)
    # loop constants stay cached for the life of the returned frame
    # (bench/clients clearCache between runs; Spark LRU-evicts under
    # pressure) — unpersisting here would invalidate the un-checkpointed
    # tail of the recurrence.
    return pr.select("node", "pr")


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    n_iter: int = 3,
    d_num: int = 85,
    d_den: int = 100,
    broadcast_ranks: bool | None = None,
    return_deg: bool = False,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): the teleport
    mass returns ONLY to the ``sources`` node set — scores measure
    proximity to those seeds, the similar-entity / recommendation
    variant of PageRank. Same integer fixed-point contract as
    :func:`pagerank_fixed_point` (1e-12 grid, integer floor divisions,
    q243's oracle unrolls the identical recurrence):

    ``pr_0 = UNIT // |S|`` on S, 0 elsewhere;
    ``pr_{t+1}(v) = [v in S] * ((d_den-d_num)*UNIT) // (d_den*|S|)
    + (d_num * sum_in(pr_t // deg)) div d_den``.

    ``sources`` must expose a single ``node`` column (subset of the
    graph's nodes).

    ``return_deg=True`` returns ``(node, deg, pr)`` — the recurrence
    already carries the out-degree, so sweep-cut style consumers that
    score ``pr/deg`` read it for free instead of re-aggregating the
    edge list and joining (one aggregate + one join removed)."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    cuts_fire = n_iter > 1  # same persist rationale as pagerank_fixed_point
    edges = edges.persist() if cuts_fire else edges
    # degree-table keys ARE the node set (out-degree >= 1 contract;
    # mirrors the oracles' ``SELECT DISTINCT src`` nodes CTE) — see
    # pagerank_fixed_point: one aggregate, and the carried deg removes
    # the per-round rank⋈degree join in both modes.
    ndg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    src_set = sources.select("node").distinct()
    seeded = ndg.join(
        src_set.withColumn("_s", F.lit(1)), "node", "left"
    ).select("node", "deg", F.coalesce("_s", F.lit(0)).alias("_s"))
    if cuts_fire:
        seeded = seeded.persist()
    # ONE action yields both scalars the recurrence needs — n_src (the
    # seed count; identical to counting ``sources`` distinct under the
    # documented sources-⊆-nodes contract) and n_nodes for the
    # broadcast size gate — and it materializes the ``seeded`` persist
    # the rounds read, replacing the separate src_set.count() job.
    row = seeded.agg(
        F.count("*").alias("_n"), F.sum("_s").alias("_k")
    ).first()
    n_nodes, n_src = row["_n"], int(row["_k"] or 0)
    if n_src == 0:
        if n_nodes == 0 and src_set.take(1):
            # empty graph, nonempty sources: zero rows flow through the
            # recurrence either way — any base works on no rows
            n_src = 1
        else:
            raise ValueError("personalization set is empty")
    base = ((d_den - d_num) * UNIT) // (d_den * n_src)
    if broadcast_ranks is None:
        from .autobroadcast import rows_fit_broadcast

        broadcast_ranks = rows_fit_broadcast(edges.sparkSession, n_nodes)

    pr = seeded.select(
        "node", "deg",
        (F.col("_s") * F.lit(UNIT // n_src)).cast("long").alias("pr"),
    )
    for it in range(n_iter):
        # ratio from the carried deg — NO join, either mode (bit-equal).
        # Personalization makes the rank table SPARSE in early rounds
        # (round 0 has |seeds| nonzero rows, round t the t-hop
        # neighborhood): zero contributions add exactly 0 to every dst
        # sum and absent sums already coalesce to 0 in the join-back, so
        # dropping them is bit-exact while round t only ships and joins
        # the t-hop support instead of all n_nodes rows.
        rt = pr.select(
            F.col("node").alias("src"), F.expr("pr div deg").alias("c")
        ).filter(F.col("c") != 0)
        rt_in = F.broadcast(rt) if broadcast_ranks else rt
        contrib = edges.join(rt_in, "src").select(
            F.col("dst").alias("node"), "c"
        )
        sums = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s")
        )
        sums_in = F.broadcast(sums) if broadcast_ranks else sums
        pr = seeded.join(sums_in, "node", "left").select(
            "node",
            "deg",
            (
                F.col("_s") * F.lit(base)
                + F.expr(
                    f"({d_num} * coalesce(s, cast(0 as decimal(38,0)))) div {d_den}"
                )
            )
            .cast("long")
            .alias("pr"),
        )
        if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < n_iter:
            pr = pr.localCheckpoint(eager=True)
    return pr.select("node", "deg", "pr") if return_deg else pr.select("node", "pr")


def weighted_pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    d_num: int = 85,
    d_den: int = 100,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Edge-weighted PageRank: contributions split proportionally to
    integer edge weights instead of uniformly — ``contrib(e) =
    (pr * w_e) div W(src)`` with ``W(src)`` the node's total outgoing
    weight. Same integer fixed-point contract as
    :func:`pagerank_fixed_point` (exact 1e-12 grid; q255's oracle
    unrolls the identical recurrence); ``edges`` is (src, dst, w) with
    positive integer weights, every node needing outgoing weight > 0.

    Overflow guard: ``pr * w`` stays in decimal(38,0), so weights up to
    ~1e25/UNIT are safe — far past any realistic edge weight."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    cuts_fire = n_iter > 1
    e = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    e = e.persist() if cuts_fire else e
    # weight-total keys ARE the node set (outgoing weight > 0 contract;
    # mirrors the oracles' ``SELECT DISTINCT src`` nodes CTE) — and the
    # carried wt removes the per-round rank⋈weight join in both modes.
    nwt = e.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("wt")
    )
    if cuts_fire:
        nwt = nwt.persist()
    n_nodes = nwt.count()
    base = ((d_den - d_num) * UNIT) // (d_den * n_nodes)
    if broadcast_ranks is None:
        from .autobroadcast import rows_fit_broadcast

        broadcast_ranks = rows_fit_broadcast(e.sparkSession, n_nodes)

    pr = nwt.withColumn("pr", F.lit(UNIT // n_nodes).cast("long"))
    for it in range(n_iter):
        # c depends on the per-EDGE weight, so ship (src, pr, wt) into
        # the edges join and compute c after it — in broadcast mode the
        # edges never shuffle and the dst-sum combines map-side: one
        # shuffle per round
        rt = pr.select(F.col("node").alias("src"), "pr", "wt")
        rt_in = F.broadcast(rt) if broadcast_ranks else rt
        contrib = e.join(rt_in, "src").select(
            F.col("dst").alias("node"),
            F.expr(
                "(cast(pr as decimal(38,0)) * w) div wt"
            ).alias("c"),
        )
        sums = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s")
        )
        sums_in = F.broadcast(sums) if broadcast_ranks else sums
        pr = nwt.join(sums_in, "node", "left").select(
            "node",
            "wt",
            (
                F.lit(base)
                + F.expr(
                    f"({d_num} * coalesce(s, cast(0 as decimal(38,0)))) div {d_den}"
                )
            )
            .cast("long")
            .alias("pr"),
        )
        if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < n_iter:
            pr = pr.localCheckpoint(eager=True)
    return pr.select("node", "pr")
