"""Worked example — the CDC/upsert lifecycle on BOTH real wire formats,
proving the copy-on-write and merge-on-read halves of the trade agree:

  1. seed an orders-derived dimension into a Delta table AND an
     Iceberg table (same rows)
  2. apply one upsert batch (updates + inserts) to each:
       Delta   -> MERGE INTO   (copy-on-write: rewrite touched files)
       Iceberg -> upsert       (merge-on-read: equality-delete + append)
  3. assert the two tables' final logical content is IDENTICAL
  4. read each side's change stream:
       Delta   -> change data feed (read_delta_changes — the table is
                  created with delta.enableChangeDataFeed=true, so the
                  MERGE emits _change_data SIDECARS and the feed
                  carries row-exact update_preimage/update_postimage
                  PAIRING: old and new values of every updated key)
       Iceberg -> changelog scan   (read_iceberg_changes)
     and assert each feed REPLAYS its own table — and, for Delta, that
     every updated key appears as exactly one (preimage, postimage)
     pair whose preimage is the seed row
  5. stream the Delta table through the REGISTERED delta_lite source
     (exactly-once version offsets) into parquet and assert the drained
     rows equal the batch read
  6. stream the CHANGE FEED itself (readChangeFeed=true) and assert
     the drained feed row-matches the batch read_delta_changes: both
     plan from the one per-commit walk of the Delta log (cdc sidecars,
     inserted and deleted files, DV position deltas); the stream maps
     its records to partitions, the batch feed to parquet scans
  7. stream the Iceberg CHANGELOG through the registered iceberg_lite
     source (readChangelog=true, snapshot-id offsets) and assert the
     drained feed row-matches the batch read_iceberg_changes: both
     plan from the one per-snapshot walk of the manifests — format
     parity for incremental consumption

Run: python examples/lakehouse_cdc_pipeline.py [sf_dir]
"""

from __future__ import annotations

import shutil
import sys

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from etl_market_survey_spark.session import get_spark
from etl_market_survey_spark.sources.deltalog import (
    merge_delta,
    read_delta,
    read_delta_changes,
    write_delta,
)
from etl_market_survey_spark.sources.iceberg import (
    read_iceberg,
    read_iceberg_changes,
    upsert_iceberg,
    write_iceberg,
)
from etl_market_survey_spark.sources.pyds import DeltaLiteDataSource
from etl_market_survey_spark.sources.pyds_iceberg import IcebergLiteDataSource


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("lakehouse-cdc")
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(DeltaLiteDataSource)
    spark.dataSource.register(IcebergLiteDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    base = "/tmp/spark_graft_example_cdc"
    dpath, ipath = f"{base}/delta", f"{base}/iceberg"
    shutil.rmtree(base, ignore_errors=True)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    seed = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").alias("tp"),
    )

    # 1. same seed into both formats (Delta with CDF sidecars on)
    write_delta(spark, dpath, seed.orderBy("k"), commit_ts=100,
                properties={"delta.enableChangeDataFeed": "true"})
    iseed = write_iceberg(spark, ipath, seed.orderBy("k"), commit_ts=100)

    # 2. one upsert batch: every k%5==0 key re-priced, new keys added
    batch = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("UPSERTED").alias("pr"),
        (F.col("o_totalprice") * 2.0).alias("tp"),
    )
    merge_delta(spark, dpath, batch, on=["k"], commit_ts=200)
    upsert_iceberg(spark, ipath, batch, on=["k"], commit_ts=200)

    # 3. copy-on-write and merge-on-read must agree bit-for-bit
    d_rows = {tuple(r) for r in read_delta(spark, dpath).collect()}
    i_rows = {tuple(r) for r in read_iceberg(spark, ipath).collect()}
    assert d_rows == i_rows, "formats disagree after upsert"
    print(f"final state identical across formats: {len(d_rows)} rows")

    # 4. each change stream replays its own table
    seed_rows = {tuple(r) for r in seed.collect()}

    d_feed = [
        (r["_change_type"], r)
        for r in read_delta_changes(spark, dpath, 1).collect()
    ]
    # CDF sidecars: removals are update_preimage (paired) or delete
    d_state = set(seed_rows)
    removing = ("delete", "update_preimage")
    for ct, r in sorted(d_feed, key=lambda x: x[0] not in removing):
        t = (r["k"], r["pr"], r["tp"])
        (d_state.discard if ct in removing else d_state.add)(t)
    assert d_state == d_rows, "Delta CDF does not replay the table"
    # row-exact pairing: every updated key has exactly one preimage
    # (the seed row) and one postimage (the new row)
    pre = {r["k"]: (r["pr"], r["tp"]) for ct, r in d_feed
           if ct == "update_preimage"}
    post = {r["k"]: (r["pr"], r["tp"]) for ct, r in d_feed
            if ct == "update_postimage"}
    assert set(pre) == set(post) and pre, "unpaired updates in the feed"
    seed_by_k = {t[0]: (t[1], t[2]) for t in seed_rows}
    assert all(pre[k] == seed_by_k[k] for k in pre), \
        "preimage is not the pre-MERGE row"
    assert all(post[k] == ("UPSERTED", seed_by_k[k][1] * 2.0)
               for k in post), "postimage is not the merged row"
    print(f"Delta CDF replays: {len(d_feed)} change rows, "
          f"{len(pre)} row-exact update pairs")

    i_feed = read_iceberg_changes(
        spark, ipath,
        from_snapshot_id=iseed,
    ).collect()
    i_state = set(seed_rows)
    for r in sorted(i_feed, key=lambda r: r["_change_type"] != "delete"):
        t = (r["k"], r["pr"], r["tp"])
        (i_state.discard if r["_change_type"] == "delete"
         else i_state.add)(t)
    assert i_state == i_rows, "Iceberg changelog does not replay the table"
    print(f"Iceberg changelog replays: {len(i_feed)} change rows")

    # 5. the registered streaming source drains to the same state
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    q = (
        spark.readStream.format("delta_lite")
        .option("ignoreChanges", "true")
        .load(dpath)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # ignoreChanges re-emits rewritten files: dedup by key, keep last
    drained = spark.read.parquet(sink)
    latest = {tuple(r) for r in drained.dropDuplicates(["k", "pr", "tp"])
              .collect()}
    assert d_rows <= latest, "stream drain missing rows"
    print(f"delta_lite stream drained {drained.count()} rows "
          f"(>= {len(d_rows)} current)")

    # 6. the streaming CHANGE FEED drains row-equal to the batch feed
    fsink, fckpt = f"{base}/feed_sink", f"{base}/feed_ckpt"
    qf = (
        spark.readStream.format("delta_lite")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(dpath)
        .writeStream.format("parquet")
        .option("path", fsink)
        .option("checkpointLocation", fckpt)
        .trigger(availableNow=True)
        .start()
    )
    qf.awaitTermination(120)
    streamed = {
        (r["_change_type"], r["_commit_version"], r["k"], r["pr"], r["tp"])
        for r in spark.read.parquet(fsink).collect()
    }
    batch_feed = {
        (r["_change_type"], r["_commit_version"], r["k"], r["pr"], r["tp"])
        for r in read_delta_changes(spark, dpath, 1).collect()
    }
    assert streamed == batch_feed, "streaming CDF != batch CDF"
    print(f"streaming change feed drained {len(streamed)} change rows "
          f"== batch feed")

    # 7. the Iceberg streaming CHANGELOG drains row-equal to the batch
    #    changelog — format parity for incremental consumption
    isink, ickpt = f"{base}/ice_sink", f"{base}/ice_ckpt"
    qi = (
        spark.readStream.format("iceberg_lite")
        .option("readChangelog", "true")
        .option("fromSnapshotId", str(iseed))
        .load(ipath)
        .writeStream.format("parquet")
        .option("path", isink)
        .option("checkpointLocation", ickpt)
        .trigger(availableNow=True)
        .start()
    )
    qi.awaitTermination(120)
    i_streamed = sorted(
        (r["_change_type"], r["_snapshot_id"], r["k"], r["pr"], r["tp"])
        for r in spark.read.parquet(isink).collect()
    )
    i_batch = sorted(
        (r["_change_type"], r["_snapshot_id"], r["k"], r["pr"], r["tp"])
        for r in i_feed
    )
    assert i_streamed == i_batch, \
        "iceberg_lite streaming changelog != batch changelog"
    print(f"iceberg_lite changelog stream drained {len(i_streamed)} "
          f"change rows == batch changelog")
    print("lakehouse CDC pipeline: ALL CHECKS PASSED")


if __name__ == "__main__":
    main()
