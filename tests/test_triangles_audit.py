"""Triangle counting: known graphs, randomized brute-force equality,
orientation invariants. Constraint audit: seeded violations."""

import itertools
import random

from etl_market_survey_spark.operators.audit import constraint_audit
from etl_market_survey_spark.operators.triangles import (
    canonical_edges,
    node_triangle_counts,
    triangles,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(list(pairs), "a long, b long")


def _brute_triangles(pairs):
    es = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for e in es for n in e})
    return {
        (x, y, z)
        for x, y, z in itertools.combinations(nodes, 3)
        if {(x, y), (y, z), (x, z)} <= es
    }


def test_known_graphs(spark):
    # K4 has 4 triangles; adding a pendant edge changes nothing
    k4 = list(itertools.combinations(range(4), 2))
    df = canonical_edges(_edges_df(spark, k4 + [(3, 9)]), "a", "b")
    got = {(r.x, r.y, r.z) for r in triangles(df).collect()}
    assert got == _brute_triangles(k4)
    assert len(got) == 4
    per_node = {r.node: r.n_tri for r in node_triangle_counts(df).collect()}
    assert per_node == {0: 3, 1: 3, 2: 3, 3: 3}  # node 9 absent (no triangle)


def test_triangle_free_graph(spark):
    # star graph: no triangles
    star = [(0, i) for i in range(1, 8)]
    df = canonical_edges(_edges_df(spark, star), "a", "b")
    assert triangles(df).count() == 0


def test_randomized_brute_force_equality(spark):
    rng = random.Random(21)
    pairs = {
        (rng.randint(0, 25), rng.randint(0, 25)) for _ in range(140)
    }
    df = canonical_edges(_edges_df(spark, list(pairs)), "a", "b")
    got = {(r.x, r.y, r.z) for r in triangles(df).collect()}
    assert got == _brute_triangles(pairs)
    # per-node counts consistent: each triangle contributes 3
    per_node = {r.node: r.n_tri for r in node_triangle_counts(df).collect()}
    assert sum(per_node.values()) == 3 * len(got)


def test_duplicate_and_reversed_input_edges(spark):
    # canonicalization absorbs duplicates, reversals, self-loops
    raw = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (1, 2)]
    df = canonical_edges(_edges_df(spark, raw), "a", "b")
    assert df.count() == 3
    assert triangles(df).count() == 1


def test_constraint_audit_seeded_violations(spark):
    fact = spark.createDataFrame(
        [
            (1, 1, 10.0, "x"),
            (1, 1, 11.0, "y"),   # duplicate key
            (2, 1, None, "z"),   # null measure
            (9, 2, 3.0, None),   # orphan fk=9, null label
            (None, 3, 4.0, "w"), # null FK is NOT an orphan
        ],
        "fk long, ln long, qty double, label string",
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    row = constraint_audit(
        fact,
        unique_keys=[["fk", "ln"]],
        fks=[("fk", dim, "id")],
        not_null=["qty", "label"],
    ).collect()[0]
    assert row.n_rows == 5
    assert row.nulls_qty == 1 and row.nulls_label == 1
    assert row.dupkeys_fk_ln == 1
    assert row.orphans_fk == 1


def test_kcore_known_graph(spark):
    from etl_market_survey_spark.operators.kcore import k_core

    # K5 clique + a tail 4-5-... chain: 3-core = the clique only
    k5 = list(itertools.combinations(range(5), 2))
    tail = [(4, 10), (10, 11), (11, 12)]
    df = canonical_edges(_edges_df(spark, k5 + tail), "a", "b")
    core = {(r.node, r.deg) for r in k_core(df, 3).collect()}
    assert core == {(n, 4) for n in range(5)}
    # 5-core of K5 is empty (max degree 4)
    assert k_core(df, 5).count() == 0


def test_kcore_cascade(spark):
    from etl_market_survey_spark.operators.kcore import k_core

    # path graph: 2-core empty, but peeling cascades from the endpoints
    path = [(i, i + 1) for i in range(12)]
    df = canonical_edges(_edges_df(spark, path), "a", "b")
    assert k_core(df, 2).count() == 0
    # cycle: 2-core is the whole cycle
    cycle = path + [(12, 0)]
    df2 = canonical_edges(_edges_df(spark, cycle), "a", "b")
    core = {r.node: r.deg for r in k_core(df2, 2).collect()}
    assert core == {n: 2 for n in range(13)}
    # a 104-node path peels two edges a round: past 50 rounds, so a
    # round cap would leave a stub of the path standing
    long_path = [(i, i + 1) for i in range(103)]
    df3 = canonical_edges(_edges_df(spark, long_path), "a", "b")
    assert k_core(df3, 2).count() == 0


def test_kcore_matches_brute_force(spark):
    from etl_market_survey_spark.operators.kcore import k_core

    rng = random.Random(31)
    pairs = {(rng.randint(0, 20), rng.randint(0, 20)) for _ in range(90)}
    df = canonical_edges(_edges_df(spark, list(pairs)), "a", "b")
    for k in (2, 3, 4, 5):
        es = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            ns = {(a, b) for a, b in es if a in keep and b in keep}
            if ns == es:
                break
            es = ns
        want = {}
        for a, b in es:
            want[a] = want.get(a, 0) + 1
            want[b] = want.get(b, 0) + 1
        got = {r.node: r.deg for r in k_core(df, k).collect()}
        assert got == want, k
