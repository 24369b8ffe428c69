"""Worked example — the lakehouse table lifecycle end-to-end on a Delta
table, the way a daily ingestion pipeline runs it (sources/deltalog):

  1. day-1 append of orders partitioned by priority       (commit v0)
  2. day-2 incremental append                             (commit v1)
  3. GDPR-style partition delete                          (commit v2)
  4. OPTIMIZE compaction — content identical, fewer
     files, old versions still readable                   (commit v3)
  5. reads: current, version pin, timestamp travel,
     partition pruning, min/max stats skipping
  6. audit: table history + row counts per version

Run: python examples/lakehouse_pipeline.py [sf_dir]
"""

from __future__ import annotations

import shutil
import sys

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from etl_market_survey_spark.sources.deltalog import (
    compact,
    count_rows_delta,
    delete_where,
    delta_history,
    read_delta,
    write_delta,
)

PATH = "/tmp/spark_graft_lakehouse_example"


def main(spark, sf_dir: str = "/root/testdata/sf0.01"):
    shutil.rmtree(PATH, ignore_errors=True)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").alias("tp"),
    )

    # 1-2: two daily appends (deterministic halves of the feed)
    write_delta(spark, PATH, orders.filter(F.col("k") % 2 == 0),
                partition_col="pr", commit_ts=100)
    write_delta(spark, PATH, orders.filter(F.col("k") % 2 == 1),
                partition_col="pr", commit_ts=200)
    # 3: drop a partition (log-only — data files untouched)
    delete_where(spark, PATH, partition_values=["1-URGENT"], commit_ts=300)
    # 4: compaction — same rows, fewer files
    pre = read_delta(spark, PATH)
    pre_files, pre_rows = len(pre.inputFiles()), pre.count()
    compact(spark, PATH, commit_ts=400)
    post = read_delta(spark, PATH)
    assert post.count() == pre_rows
    assert len(post.inputFiles()) < pre_files
    print(f"compaction: {pre_files} files -> {len(post.inputFiles())}, "
          f"{pre_rows} rows unchanged")

    # 5: the read surface
    v0 = read_delta(spark, PATH, version=0)
    asof = read_delta(spark, PATH, timestamp=250)  # sees v1
    pruned = read_delta(spark, PATH, partition_filter={"pr": ["5-LOW"]})
    probe = read_delta(spark, PATH, stats_filter={"k": (42, 42)})
    print(f"v0 rows={v0.count()} asof(250) rows={asof.count()} "
          f"5-LOW rows={pruned.count()} "
          f"stats probe files={len(probe.inputFiles())}")
    # time travel still shows the deleted partition
    assert asof.filter(F.col("pr") == "1-URGENT").count() > 0
    assert post.filter(F.col("pr") == "1-URGENT").count() == 0

    # 6: audit trail
    for h in delta_history(PATH):
        print(f"v{h['version']} {h['operation']:<8} +{h['num_added']:<3} "
              f"-{h['num_removed']:<3} "
              f"rows={count_rows_delta(spark, PATH, version=h['version'])}")
    return post


if __name__ == "__main__":
    from etl_market_survey_spark.session import get_spark

    spark = get_spark("lakehouse-example")
    spark.sparkContext.setLogLevel("ERROR")
    main(spark, sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
