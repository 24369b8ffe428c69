"""Known defects the benchmark keeps out of its workloads, kept visible.

A workload may hold only ops that pass their checks, so an op with a known
wrong answer is left out of it and pinned here as a strict xfail: once the
op is fixed this test fails, and the op should join its workload.
"""

import os

import pytest

import run
import worker


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "q379_delta_lite_datasource: its deletion-vector positions are ranks by k, "
    "but the partition files written from o.orderBy('k') are in k order only "
    "when the input already was, so on a permuted copy the wrong rows are deleted"))
def test_q379_matches_its_oracle_on_a_permuted_copy(tmp_path, monkeypatch):
    import duckdb

    from oracle_check import compare

    from etl_market_survey_spark.plans import q_misc, registry
    from etl_market_survey_spark.session import get_spark

    name = "q379_delta_lite_datasource"
    sf = run.permuted_copy(7, str(tmp_path))
    worker._relocate_tmp([q_misc], str(tmp_path) + "/")
    monkeypatch.setenv("PYTHONPATH", run.ROOT)  # the data source runs in Python workers
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    spark = get_spark("perfbench-known-defects")
    try:
        got = registry.QUERIES[name](spark, sf).toPandas()
    finally:
        spark.stop()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{os.path.join(sf, 'orders.parquet')}')")
    assert compare(name, got, con.execute(registry.ORACLE[name]).df()) == []
