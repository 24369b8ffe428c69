"""The observed checkpoint: one job evaluates a frame and yields its
aggregates, and the iterative operators read their round counts off it."""

import hashlib

import pytest
from pyspark.sql import functions as F

from etl_market_survey_spark.operators import components
from etl_market_survey_spark.operators.bfs import bfs_hops
from etl_market_survey_spark.operators.checkpoint import checkpoint
from etl_market_survey_spark.operators.hierarchy import weighted_closure
from etl_market_survey_spark.operators.kcore import k_core
from etl_market_survey_spark.operators.merkle import merkle_tree


def test_checkpoint_is_one_job(spark, jobs_in):
    (frame, row), jobs = jobs_in(
        "checkpoint-one-job",
        lambda: checkpoint(
            spark.range(10).filter(F.col("id") % 2 == 0),
            F.count(F.lit(1)).alias("n"),
            F.max("id").alias("hi"),
        ),
    )
    assert jobs == 1
    assert (row["n"], row["hi"]) == (5, 8)
    assert sorted(r.id for r in frame.collect()) == [0, 2, 4, 6, 8]
    # an empty frame still yields its row
    _, row = checkpoint(spark.range(0), F.count(F.lit(1)).alias("n"))
    assert row["n"] == 0
    frame, row = checkpoint(spark.range(3))
    assert row is None and frame.count() == 3


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def _merkle_rows(n, fanout=16):
    level = [_md5(f"{i}|{_md5(str(i))}") for i in range(n)]
    rows, lvl = [], 0
    while True:
        rows += [(lvl, i, h) for i, h in enumerate(level)]
        if len(level) == 1:
            return rows
        level = [
            _md5("".join(level[i:i + fanout]))
            for i in range(0, len(level), fanout)
        ]
        lvl += 1


def _case(spark, name):
    """(call, expected sorted rows) of one routed operator."""
    if name == "bfs_hops":
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(3)], "src long, dst long"
        )
        return (lambda: bfs_hops(chain, 0, 10)), [(i, i) for i in range(4)]
    if name == "k_core":
        path = spark.createDataFrame(
            [(i, i + 1) for i in range(4)] + [(20, 21), (21, 22), (20, 22)],
            "a long, b long",
        )
        return (lambda: k_core(path, 2)), [(20, 2), (21, 2), (22, 2)]
    if name == "connected_components":
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(4)], "id_a long, id_b long"
        )
        return (
            (lambda: components.connected_components(chain)),
            [(i, 0) for i in range(5)],
        )
    if name == "weighted_closure":
        tree = spark.createDataFrame(
            [(i + 1, i, 2) for i in range(3)], "child long, parent long, qty long"
        )
        return (lambda: weighted_closure(tree)), sorted(
            (d, a, 2 ** (d - a), d - a) for d in range(4) for a in range(d)
        )
    if name == "merkle_tree":
        leaves = spark.range(20).select("id", F.col("id").cast("string").alias("p"))
        return (lambda: merkle_tree(leaves, "id", F.col("p"))), _merkle_rows(20)
    raise AssertionError(name)


@pytest.mark.parametrize(
    "name, jobs",
    [
        ("bfs_hops", 16),
        ("k_core", 13),
        ("connected_components", 37),
        ("weighted_closure", 14),
        ("merkle_tree", 11),
    ],
)
def test_routed_operator_jobs(spark, jobs_in, monkeypatch, name, jobs):
    """Each round's count rides on its checkpoint job: no separate
    count(), take(1) or isEmpty() per round, same rows out."""
    # the distributed label-propagation path, not the driver union-find
    monkeypatch.setattr(components, "_DRIVER_UF_MAX_EDGES", 0)
    call, want = _case(spark, name)
    out, n = jobs_in(f"routed-{name}", call)
    assert sorted(tuple(r) for r in out.collect()) == want
    assert n == jobs
