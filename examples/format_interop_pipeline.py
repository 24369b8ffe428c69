"""Worked example — ONE dataset flowing through the three lakehouse /
interchange formats this engine speaks natively, with zero external
jars (sources/deltalog, sources/iceberg, sources/avro):

  1. land raw order events as a DELTA table (_delta_log JSON actions):
     two appends + a checkpoint + a GDPR partition delete
  2. mirror the same content into an ICEBERG table (JSON metadata +
     genuine Avro manifest lists / manifests via the pure-Python codec)
  3. verify both protocols agree — current content AND time travel to
     the pre-delete snapshot
  4. export a compact AVRO feed of the current table and read it back
     through the jar-less DISTRIBUTED Avro scan (binaryFile +
     mapInPandas, schema inferred from the writer schema)
  5. metadata pruning on both tables: partition filters and min/max
     stats drop files BEFORE Spark lists anything

Run: python examples/format_interop_pipeline.py [sf_dir]
"""

from __future__ import annotations

import shutil
import sys

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from etl_market_survey_spark.sources import deltalog, iceberg
from etl_market_survey_spark.sources.avro import write_avro_file
from etl_market_survey_spark.sources.readers import read_avro

DELTA = "/tmp/spark_graft_interop_delta"
ICE = "/tmp/spark_graft_interop_iceberg"
AVRO = "/tmp/spark_graft_interop_avro"


def _counts(df):
    return {
        r["pr"]: r["n"]
        for r in df.groupBy("pr").agg(F.count("*").alias("n")).collect()
    }


def main(spark, sf_dir: str = "/root/testdata/sf0.01"):
    for p in (DELTA, ICE, AVRO):
        shutil.rmtree(p, ignore_errors=True)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").alias("tp"),
    )
    day1 = orders.filter(F.col("k") % 2 == 0)
    day2 = orders.filter(F.col("k") % 2 == 1)

    # 1: Delta lifecycle
    deltalog.write_delta(spark, DELTA, day1, partition_col="pr", commit_ts=100)
    deltalog.write_delta(spark, DELTA, day2, partition_col="pr", commit_ts=200)
    deltalog.write_checkpoint(spark, DELTA)
    deltalog.delete_where(spark, DELTA, partition_values=["1-URGENT"],
                          commit_ts=300)

    # 2: the same content as Iceberg snapshots
    iceberg.write_iceberg(spark, ICE, day1, partition_col="pr", commit_ts=100)
    iceberg.write_iceberg(spark, ICE, day2, partition_col="pr", commit_ts=200)
    iceberg.delete_partitions(spark, ICE, ["1-URGENT"], commit_ts=300)

    # 3: protocols agree — now and back in time
    d_now = _counts(deltalog.read_delta(spark, DELTA))
    i_now = _counts(iceberg.read_iceberg(spark, ICE))
    assert d_now == i_now, (d_now, i_now)
    assert "1-URGENT" not in d_now
    d_then = _counts(deltalog.read_delta(spark, DELTA, timestamp=250))
    i_then = _counts(iceberg.read_iceberg(spark, ICE, as_of_ms=250))
    assert d_then == i_then and "1-URGENT" in d_then
    print(f"protocols agree: now={sum(d_now.values())} rows, "
          f"asof(250)={sum(d_then.values())} rows "
          f"(incl. {d_then['1-URGENT']} later-deleted 1-URGENT)")

    # 4: Avro export + jar-less distributed re-read
    current = deltalog.read_delta(spark, DELTA)
    schema = {
        "type": "record", "name": "order_event", "fields": [
            {"name": "k", "type": "long"},
            {"name": "pr", "type": ["null", "string"]},
            {"name": "tp", "type": "double"},
        ],
    }
    # one avro file per priority — the 'one task per file' scan shape
    for i, pr in enumerate(sorted(d_now)):
        rows = [
            {"k": r["k"], "pr": r["pr"], "tp": r["tp"]}
            for r in current.filter(F.col("pr") == pr).collect()
        ]
        write_avro_file(f"{AVRO}/part-{i}.avro", schema, rows)
    back = read_avro(spark, AVRO)
    assert back.count() == sum(d_now.values())
    print(f"avro round-trip: {back.count()} rows via distributed "
          f"binaryFile+mapInPandas scan, schema inferred = "
          f"{back.schema.simpleString()}")

    # 5: metadata pruning drops files before Spark lists them
    d_pruned = deltalog.read_delta(
        spark, DELTA, partition_filter={"pr": ["5-LOW"]}
    )
    i_pruned = iceberg.read_iceberg(
        spark, ICE, partition_filter={"pr": ["5-LOW"]}
    )
    print(f"pruned scans touch {len(d_pruned.inputFiles())} delta file(s), "
          f"{len(i_pruned.inputFiles())} iceberg file(s) "
          f"(of {len(deltalog.load_snapshot(DELTA).adds)} / "
          f"{len(iceberg.snapshot_files(ICE))} live)")
    assert _counts(d_pruned) == _counts(i_pruned)
    return current


if __name__ == "__main__":
    from etl_market_survey_spark.session import get_spark

    spark = get_spark("format-interop-example")
    spark.sparkContext.setLogLevel("ERROR")
    main(spark, sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
