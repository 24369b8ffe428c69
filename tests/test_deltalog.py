"""Delta Lake ``_delta_log`` reader/writer (sources/deltalog, VERDICT r4
item 6): format interop against a hand-written log, version/timestamp
time travel, overwrite/delete semantics, checkpoint fold, and
metadata-pruning file-count asserts."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_market_survey_spark.sources.deltalog import (
    delete_where,
    delta_history,
    load_snapshot,
    read_delta,
    write_delta,
    write_checkpoint,
)

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
            {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _handmade_table(tmp_path):
    """A two-version Delta table written WITHOUT our writer: raw pyarrow
    parquet data files + hand-composed JSON actions, i.e. what an
    external engine would leave on disk."""
    root = str(tmp_path / "ext_table")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)

    def data_file(rel, ids, vs):
        full = os.path.join(root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "v": pa.array(vs, pa.float64())}),
            full,
        )
        return rel

    def stats(ids, vs):
        return json.dumps(
            {
                "numRecords": len(ids),
                "minValues": {"id": min(ids), "v": min(vs)},
                "maxValues": {"id": max(ids), "v": max(vs)},
                "nullCount": {"id": 0, "v": 0},
            }
        )

    f_a = data_file("cat=a/part-0.parquet", [1, 2], [1.5, 2.5])
    f_b = data_file("cat=b/part-1.parquet", [3, 4], [3.5, 4.5])
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1000,
                                           "operation": "WRITE"}}) + "\n")
        f.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 2}}) + "\n")
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "abc",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": SCHEMA_JSON,
                        "partitionColumns": ["cat"],
                        "configuration": {},
                        "createdTime": 1000,
                    }
                }
            )
            + "\n"
        )
        for rel, ids, vs, c in [(f_a, [1, 2], [1.5, 2.5], "a"),
                                (f_b, [3, 4], [3.5, 4.5], "b")]:
            f.write(
                json.dumps(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": {"cat": c},
                            "size": os.path.getsize(os.path.join(root, rel)),
                            "modificationTime": 1000,
                            "dataChange": True,
                            "stats": stats(ids, vs),
                        }
                    }
                )
                + "\n"
            )
    # v1: remove partition a's file, add one more b file
    f_b2 = data_file("cat=b/part-2.parquet", [5], [5.5])
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 2000,
                                           "operation": "DELETE"}}) + "\n")
        f.write(json.dumps({"remove": {"path": f_a,
                                       "deletionTimestamp": 2000,
                                       "dataChange": True}}) + "\n")
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": f_b2,
                        "partitionValues": {"cat": "b"},
                        "size": os.path.getsize(os.path.join(root, f_b2)),
                        "modificationTime": 2000,
                        "dataChange": True,
                        "stats": stats([5], [5.5]),
                    }
                }
            )
            + "\n"
        )
    return root


class TestHandmadeLog:
    def test_current_version_fold(self, spark, tmp_path):
        root = _handmade_table(tmp_path)
        df = read_delta(spark, root)
        rows = {(r["id"], r["v"], r["cat"]) for r in df.collect()}
        assert rows == {(3, 3.5, "b"), (4, 4.5, "b"), (5, 5.5, "b")}
        assert [f.name for f in df.schema.fields] == ["id", "v", "cat"]

    def test_version_pin_and_timestamp_travel(self, spark, tmp_path):
        root = _handmade_table(tmp_path)
        v0 = read_delta(spark, root, version=0)
        assert v0.count() == 4
        assert {r["cat"] for r in v0.collect()} == {"a", "b"}
        ts = read_delta(spark, root, timestamp=1500)  # newest commit <= 1500
        assert ts.count() == 4
        with pytest.raises(ValueError):
            read_delta(spark, root, timestamp=500)
        with pytest.raises(ValueError, match="not both"):
            read_delta(spark, root, version=0, timestamp=1500)

    def test_partition_values_come_from_log(self, spark, tmp_path):
        # data files do NOT contain `cat`; reader must attach it typed
        root = _handmade_table(tmp_path)
        df = read_delta(spark, root, version=0)
        assert dict(df.dtypes)["cat"] == "string"
        assert df.filter(F.col("cat") == "a").count() == 2

    def test_partition_pruning_prunes_file_list(self, spark, tmp_path):
        root = _handmade_table(tmp_path)
        df = read_delta(spark, root, version=0, partition_filter={"cat": ["a"]})
        assert {r["id"] for r in df.collect()} == {1, 2}
        # scan must reference only the cat=a file
        files = df.inputFiles()
        assert files and all("cat=a" in f for f in files)
        # pruning to nothing keeps the table schema
        empty = read_delta(spark, root, partition_filter={"cat": ["zzz"]})
        assert empty.count() == 0
        assert [f.name for f in empty.schema.fields] == ["id", "v", "cat"]

    def test_stats_pruning(self, spark, tmp_path):
        root = _handmade_table(tmp_path)
        # id range [5, 10] only overlaps part-2 (min 5 max 5)
        df = read_delta(spark, root, stats_filter={"id": (5, 10)})
        files = df.inputFiles()
        assert len(files) == 1 and "part-2" in files[0]
        assert {r["id"] for r in df.collect()} == {5}
        # a column without recorded stats never prunes
        keep = read_delta(spark, root, stats_filter={"cat": ("zzz", "zzz")})
        assert keep.count() == 3

    def test_history(self, spark, tmp_path):
        root = _handmade_table(tmp_path)
        h = delta_history(root)
        assert [x["version"] for x in h] == [0, 1]
        assert [x["operation"] for x in h] == ["WRITE", "DELETE"]
        assert h[1]["num_removed"] == 1 and h[1]["num_added"] == 1


class TestWriterRoundTrip:
    def _mk(self, spark, n=20):
        return spark.range(n).select(
            F.col("id"),
            (F.col("id") * 1.5).alias("v"),
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("cat"),
        )

    def test_append_append_read(self, spark, tmp_path):
        root = str(tmp_path / "t1")
        df = self._mk(spark)
        assert write_delta(spark, root, df.filter("id < 10"),
                           partition_col="cat", commit_ts=100) == 0
        assert write_delta(spark, root, df.filter("id >= 10"),
                           partition_col="cat", commit_ts=200) == 1
        out = read_delta(spark, root)
        assert out.count() == 20
        assert read_delta(spark, root, version=0).count() == 10
        assert read_delta(spark, root, timestamp=150).count() == 10

    def test_overwrite_removes_prior_files(self, spark, tmp_path):
        root = str(tmp_path / "t2")
        df = self._mk(spark)
        write_delta(spark, root, df, partition_col="cat", commit_ts=100)
        write_delta(spark, root, df.filter("id < 5"), mode="overwrite",
                    partition_col="cat", commit_ts=200)
        assert read_delta(spark, root).count() == 5
        assert read_delta(spark, root, version=0).count() == 20  # immutable

    def test_partition_delete_is_metadata_only(self, spark, tmp_path):
        root = str(tmp_path / "t3")
        df = self._mk(spark)
        write_delta(spark, root, df, partition_col="cat", commit_ts=100)
        n_files_before = sum(
            len(fs) for _, _, fs in os.walk(os.path.join(root))
        )
        delete_where(spark, root, partition_values=["odd"], commit_ts=200)
        out = read_delta(spark, root)
        assert {r["cat"] for r in out.collect()} == {"even"}
        n_files_after = sum(len(fs) for _, _, fs in os.walk(os.path.join(root)))
        assert n_files_after == n_files_before + 1  # exactly one new log json

    def test_unpartitioned_table(self, spark, tmp_path):
        root = str(tmp_path / "t4")
        df = self._mk(spark).drop("cat")
        write_delta(spark, root, df, commit_ts=100)
        out = read_delta(spark, root)
        assert out.count() == 20
        snap = load_snapshot(root)
        assert snap.partition_columns == []

    def test_checkpoint_fold(self, spark, tmp_path):
        root = str(tmp_path / "t5")
        df = self._mk(spark)
        write_delta(spark, root, df.filter("id < 8"),
                    partition_col="cat", commit_ts=100)
        write_delta(spark, root, df.filter("id >= 8 and id < 14"),
                    partition_col="cat", commit_ts=200)
        assert write_checkpoint(spark, root) == 1
        # commits past the checkpoint still apply
        write_delta(spark, root, df.filter("id >= 14"),
                    partition_col="cat", commit_ts=300)
        assert read_delta(spark, root).count() == 20
        # time travel to BEFORE the checkpoint still works (fold from 0)
        assert read_delta(spark, root, version=0).count() == 8

    def test_stats_written_and_prunable(self, spark, tmp_path):
        root = str(tmp_path / "t6")
        write_delta(spark, root, self._mk(spark), partition_col="cat",
                    commit_ts=100)
        snap = load_snapshot(root)
        st = json.loads(next(iter(snap.adds.values()))["stats"])
        assert st["numRecords"] > 0 and "id" in st["minValues"]
        empty = read_delta(spark, root, stats_filter={"id": (1000, 2000)})
        assert empty.count() == 0
        assert [f.name for f in empty.schema.fields] == ["id", "v", "cat"]


class TestCompaction:
    def test_compact_reduces_files_preserves_rows(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import compact, load_snapshot

        root = str(tmp_path / "tc")
        df = spark.range(30).select(
            "id", F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("cat")
        )
        for i in range(3):  # 3 commits x 2 partitions = 6 small files
            write_delta(spark, root, df.filter(F.col("id") % 3 == i),
                        partition_col="cat", commit_ts=100 + i)
        before = load_snapshot(root)
        assert len(before.adds) == 6
        v = compact(spark, root, commit_ts=400)
        after = load_snapshot(root)
        assert len(after.adds) == 2  # one file per partition
        got = {(r["id"], r["cat"]) for r in read_delta(spark, root).collect()}
        want = {(r["id"], r["cat"]) for r in df.collect()}
        assert got == want
        # prior versions still time-travel to identical content
        assert read_delta(spark, root, version=v - 1).count() == 30
        assert read_delta(spark, root, version=0).count() == 10

    def test_compact_idempotent(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import compact, load_snapshot

        root = str(tmp_path / "tc2")
        df = spark.range(10).select("id")
        write_delta(spark, root, df, commit_ts=100)
        v1 = compact(spark, root, commit_ts=200)
        assert v1 == 0  # single file already — no empty commit written
        assert len(load_snapshot(root).adds) == 1


class TestVacuum:
    def test_vacuum_respects_retention(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import compact, vacuum

        root = str(tmp_path / "tv")
        df = spark.range(20).select(
            "id", F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("cat")
        )
        write_delta(spark, root, df.filter("id < 10"),
                    partition_col="cat", commit_ts=100)
        write_delta(spark, root, df.filter("id >= 10"),
                    partition_col="cat", commit_ts=200)
        compact(spark, root, commit_ts=300)

        # dry run deletes nothing
        doomed = vacuum(spark, root, keep_versions=1, dry_run=True)
        assert doomed and all(
            os.path.exists(os.path.join(root, r)) for r in doomed
        )
        # keep_versions=2 also protects the pre-compaction snapshot
        protected = vacuum(spark, root, keep_versions=3, dry_run=True)
        assert protected == []

        deleted = vacuum(spark, root, keep_versions=1)
        assert set(deleted) == set(doomed)
        # current read is intact; vacuumed version no longer resolves
        assert read_delta(spark, root).count() == 20
        with pytest.raises(Exception):
            read_delta(spark, root, version=0).collect()

    def test_bad_retention_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import vacuum

        root = str(tmp_path / "tv2")
        write_delta(spark, root, spark.range(3).select("id"), commit_ts=100)
        with pytest.raises(ValueError):
            vacuum(spark, root, keep_versions=0)


class TestTxnIdempotence:
    def test_replayed_txn_is_noop(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            last_txn_version,
            write_delta,
        )

        root = str(tmp_path / "tx")
        df = spark.range(10).select("id")
        v0 = write_delta(spark, root, df, commit_ts=100,
                         txn_app="job1", txn_version=0)
        assert v0 == 0
        # replay of batch 0: skipped, no new commit, no duplicate rows
        v_again = write_delta(spark, root, df, commit_ts=150,
                              txn_app="job1", txn_version=0)
        assert v_again == 0
        assert read_delta(spark, root).count() == 10
        # batch 1 commits normally
        v1 = write_delta(spark, root, spark.range(10, 15).select("id"),
                         commit_ts=200, txn_app="job1", txn_version=1)
        assert v1 == 1 and read_delta(spark, root).count() == 15
        assert last_txn_version(root, "job1") == 1
        assert last_txn_version(root, "other") is None
        # a different app is not blocked by job1's watermark
        v2 = write_delta(spark, root, spark.range(15, 16).select("id"),
                         commit_ts=300, txn_app="job2", txn_version=0)
        assert v2 == 2

    def test_txn_args_must_pair(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import write_delta

        with pytest.raises(ValueError):
            write_delta(spark, str(tmp_path / "t"), spark.range(1),
                        txn_app="x")

    def test_foreach_batch_sink_exactly_once(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import foreach_batch_sink

        root = str(tmp_path / "sink")
        # two input files -> two micro-batches
        spark.range(0, 50).select("id").write.parquet(
            str(tmp_path / "in" / "a.parquet"))
        spark.range(50, 80).select("id").write.parquet(
            str(tmp_path / "in" / "b.parquet"))
        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "in" / "*"))
        )
        sink = foreach_batch_sink(root, "stream_job")
        q = (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()
        assert read_delta(spark, root).count() == 80
        # simulate recovery replaying the last micro-batch: still 80
        replay = spark.read.parquet(str(tmp_path / "in" / "b.parquet"))
        sink(replay, 1)
        assert read_delta(spark, root).count() == 80


class TestDvBitmap:
    """dvbitmap codec: Z85 spec vector, roaring round trips across all
    container kinds, DV file framing + CRC."""

    def test_z85_spec_vector(self):
        from etl_market_survey_spark.sources.dvbitmap import (
            z85_decode, z85_encode,
        )

        # the 32/Z85 spec's published test case
        raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
        assert z85_encode(raw) == "HelloWorld"
        assert z85_decode("HelloWorld") == raw

    def test_roaring_round_trip_all_containers(self):
        import random

        from etl_market_survey_spark.sources.dvbitmap import (
            deserialize_rbm64, serialize_rbm64,
        )

        rng = random.Random(11)
        cases = [
            [],                                    # empty
            [0],                                   # single
            [0, 1, 2, 65535, 65536, 1 << 31, (1 << 33) + 5],  # multi-key
            sorted(rng.sample(range(300000), 7000)),  # bitset containers
            list(range(5000, 15000)),              # dense
            [7, 7, 7, 3],                          # dupes + unsorted
        ]
        for vals in cases:
            assert deserialize_rbm64(serialize_rbm64(vals)) == sorted(set(vals))

    def test_run_container_decodes(self):
        import struct

        from etl_market_survey_spark.sources.dvbitmap import (
            _MAGIC, deserialize_rbm64,
        )

        # hand-build a cookie-12347 bitmap with ONE run container
        # (runs [5..9] and [100..101]) to prove the external-writer path
        bm = struct.pack("<I", 12347 | (0 << 16))     # cookie, 1 container
        bm += bytes([0b1])                            # run flag for c0
        bm += struct.pack("<HH", 0, 6)                # key 0, card-1=6
        bm += struct.pack("<H", 2)                    # 2 runs
        bm += struct.pack("<HH", 5, 4)                # 5..9
        bm += struct.pack("<HH", 100, 1)              # 100..101
        blob = struct.pack("<Iq", _MAGIC, 1) + struct.pack("<I", 0) + bm
        assert deserialize_rbm64(blob) == [5, 6, 7, 8, 9, 100, 101]

    def test_dv_file_framing_and_crc(self, tmp_path):
        from etl_market_survey_spark.sources.dvbitmap import (
            read_dv_blob, serialize_rbm64, write_dv_file,
        )

        p = str(tmp_path / "dv.bin")
        blobs = [serialize_rbm64([1, 2, 3]), serialize_rbm64(range(4097))]
        frames = write_dv_file(p, blobs)
        for blob, fr in zip(blobs, frames):
            assert read_dv_blob(p, fr["offset"], fr["sizeInBytes"]) == blob
        # corrupt one byte -> checksum must catch it
        with open(p, "r+b") as f:
            f.seek(frames[0]["offset"] + 5)
            b = f.read(1)
            f.seek(frames[0]["offset"] + 5)
            f.write(bytes([b[0] ^ 0xFF]))
        with pytest.raises(ValueError, match="checksum"):
            read_dv_blob(p, frames[0]["offset"], frames[0]["sizeInBytes"])


class TestDeletionVectors:
    def _table(self, spark, path):
        df = spark.range(0, 60).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        write_delta(spark, path, df.orderBy("k"), commit_ts=100)

    def test_mor_delete_and_merge(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors,
        )

        path = str(tmp_path / "dvt")
        self._table(spark, path)
        rel = next(iter(load_snapshot(path).adds))
        add_deletion_vectors(spark, path, {rel: [0, 5, 59]}, commit_ts=200)
        got = {r["k"] for r in read_delta(spark, path).collect()}
        assert got == set(range(60)) - {0, 5, 59}
        # second DV REPLACES the first -> must merge prior positions
        add_deletion_vectors(spark, path, {rel: [5, 7]}, commit_ts=300)
        got = {r["k"] for r in read_delta(spark, path).collect()}
        assert got == set(range(60)) - {0, 5, 7, 59}
        # time travel to pre-DV state resurrects everything
        assert read_delta(spark, path, version=0).count() == 60

    def test_protocol_guard_unknown_feature(self, spark, tmp_path):
        path = str(tmp_path / "guard")
        self._table(spark, path)
        # hand-append a protocol upgrade demanding a feature we lack
        with open(os.path.join(path, "_delta_log",
                               f"{1:020d}.json"), "w") as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }}) + "\n")
        with pytest.raises(NotImplementedError, match="v2Checkpoint"):
            read_delta(spark, path)
        # but the pre-upgrade version still reads
        assert read_delta(spark, path, version=0).count() == 60

    def test_protocol_guard_future_reader_version(self, spark, tmp_path):
        path = str(tmp_path / "guard2")
        self._table(spark, path)
        with open(os.path.join(path, "_delta_log",
                               f"{1:020d}.json"), "w") as f:
            f.write(json.dumps({"protocol": {
                "minReaderVersion": 4, "minWriterVersion": 9,
            }}) + "\n")
        with pytest.raises(NotImplementedError, match="minReaderVersion 4"):
            read_delta(spark, path)

    def test_dv_protocol_upgrade_recorded(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors,
        )

        path = str(tmp_path / "dvp")
        self._table(spark, path)
        rel = next(iter(load_snapshot(path).adds))
        add_deletion_vectors(spark, path, {rel: [1]}, commit_ts=200)
        snap = load_snapshot(path)
        assert snap.protocol["minReaderVersion"] == 3
        assert "deletionVectors" in snap.protocol["readerFeatures"]
        dvd = snap.adds[rel]["deletionVector"]
        assert dvd["storageType"] == "u" and dvd["cardinality"] == 1


class TestColumnMapping:
    def test_physical_names_on_disk_logical_on_read(self, spark, tmp_path):
        import glob

        path = str(tmp_path / "cm")
        df = spark.range(0, 40).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("cat"),
            (F.col("id") * 1.5).alias("v"),
        )
        write_delta(spark, path, df, partition_col="cat", commit_ts=100,
                    column_mapping=True)
        snap = load_snapshot(path)
        assert snap.column_mapping_mode == "name"
        phys = snap.physical_names()
        assert all(p.startswith("col-") for p in phys.values())
        # parquet files + dirs carry ONLY physical names
        pfile = glob.glob(os.path.join(path, "*", "*.parquet"))[0]
        footer_cols = set(pq.read_schema(pfile).names)
        assert footer_cols == {phys["k"], phys["v"]}
        assert os.path.basename(os.path.dirname(pfile)).startswith(
            phys["cat"] + "="
        )
        # the read speaks logical names, values intact
        out = read_delta(spark, path)
        assert set(out.columns) == {"k", "cat", "v"}
        assert out.count() == 40
        assert out.filter(F.col("cat") == "1").count() == 13

    def test_append_inherits_mapping_and_stats_prune(self, spark, tmp_path):
        path = str(tmp_path / "cm2")
        d1 = spark.range(0, 20).select(F.col("id").alias("k"))
        d2 = spark.range(100, 120).select(F.col("id").alias("k"))
        write_delta(spark, path, d1, commit_ts=100, column_mapping=True)
        write_delta(spark, path, d2, commit_ts=200)  # inherits mapping
        snap = load_snapshot(path)
        assert len({a.get("partitionValues") is not None
                    for a in snap.adds.values()}) == 1
        # stats keys are physical; the LOGICAL-name stats_filter prunes
        out = read_delta(spark, path, stats_filter={"k": (0, 50)})
        assert out.count() == 20
        assert {r["k"] for r in out.collect()} == set(range(20))

    def test_mapping_plus_dv_compose(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors,
        )

        path = str(tmp_path / "cm3")
        df = spark.range(0, 30).select(F.col("id").alias("k"))
        write_delta(spark, path, df.orderBy("k"), commit_ts=100,
                    column_mapping=True)
        rel = next(iter(load_snapshot(path).adds))
        add_deletion_vectors(spark, path, {rel: [2, 3]}, commit_ts=200)
        snap = load_snapshot(path)
        assert set(snap.protocol["readerFeatures"]) == {
            "columnMapping", "deletionVectors"
        }
        got = {r["k"] for r in read_delta(spark, path).collect()}
        assert got == set(range(30)) - {2, 3}


class TestDvInteractions:
    """compact / checkpoint must respect deletion vectors and column
    mapping — a compaction that re-read raw files would resurrect
    DV-deleted rows (and null out mapped columns); a checkpoint that
    dropped DV descriptors would do the same for cold-start readers."""

    def _dv_table(self, spark, path, column_mapping=False):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors,
        )

        d1 = spark.range(0, 30).select(
            F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p")
        )
        d2 = spark.range(30, 60).select(
            F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p")
        )
        write_delta(spark, path, d1.orderBy("k"), partition_col="p",
                    commit_ts=100, column_mapping=column_mapping)
        write_delta(spark, path, d2.orderBy("k"), partition_col="p",
                    commit_ts=200)
        snap = load_snapshot(path)
        # delete position 0 of every live file (the smallest k per file)
        deletes = {rel: [0] for rel in snap.adds}
        add_deletion_vectors(spark, path, deletes, commit_ts=300)
        kept = {r["k"] for r in read_delta(spark, path).collect()}
        assert len(kept) == 60 - len(snap.adds)
        return kept

    def test_compact_materializes_dvs(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import compact

        path = str(tmp_path / "dvc")
        kept = self._dv_table(spark, path)
        v = compact(spark, path, commit_ts=400)
        snap = load_snapshot(path)
        assert all(not a.get("deletionVector") for a in snap.adds.values())
        after = {r["k"] for r in read_delta(spark, path).collect()}
        assert after == kept  # no resurrection
        # logical content unchanged -> prior version still reads
        assert read_delta(spark, path, version=v - 1).count() == len(kept)

    def test_compact_column_mapped_table(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import compact

        path = str(tmp_path / "cmc")
        kept = self._dv_table(spark, path, column_mapping=True)
        compact(spark, path, commit_ts=400)
        out = read_delta(spark, path)
        assert set(out.columns) == {"k", "p"}
        assert {r["k"] for r in out.collect()} == kept
        # physical partition keys preserved in the compacted adds
        snap = load_snapshot(path)
        pkey = snap.physical_names()["p"]
        assert all(
            pkey in (a.get("partitionValues") or {})
            for a in snap.adds.values()
        )

    def test_checkpoint_preserves_dvs_and_mapping(self, spark, tmp_path):
        path = str(tmp_path / "dvcp")
        kept = self._dv_table(spark, path, column_mapping=True)
        write_checkpoint(spark, path)
        # force the cold-start path: fold from checkpoint + empty tail
        snap = load_snapshot(path)
        assert any(a.get("deletionVector") for a in snap.adds.values())
        assert snap.column_mapping_mode == "name"
        assert snap.protocol["minReaderVersion"] == 3
        after = {r["k"] for r in read_delta(spark, path).collect()}
        assert after == kept


class TestMergeDelta:
    """Copy-on-write MERGE INTO: file-level stats pruning, exact-touch
    rewrites, upsert/delete clauses, the multi-match guard, and
    interaction with partitions, column mapping and deletion vectors."""

    def _mk(self, spark, path, **kw):
        d1 = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        d2 = spark.range(100, 150).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        write_delta(spark, path, d1.orderBy("k"), commit_ts=100, **kw)
        write_delta(spark, path, d2.orderBy("k"), commit_ts=200)

    def test_basic_upsert(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "m1")
        self._mk(spark, path)
        src = spark.createDataFrame(
            [(3, -3), (120, -120), (999, -999)], "k long, v long"
        )
        merge_delta(spark, path, src, on=["k"], commit_ts=300)
        got = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
        assert got[3] == -3 and got[120] == -120 and got[999] == -999
        assert got[4] == 40  # untouched row survives
        assert len(got) == 101

    def test_file_pruning_leaves_untouched_adds(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "m2")
        self._mk(spark, path)
        before = dict(load_snapshot(path).adds)
        # keys hit ONLY the first file's [0, 49] stats range
        src = spark.createDataFrame([(7, -7)], "k long, v long")
        merge_delta(spark, path, src, on=["k"],
                    when_not_matched=None, commit_ts=300)
        after = load_snapshot(path).adds
        kept = set(before) & set(after)
        # the second file's add entry survives BYTE-identical
        assert any("part-00001" in r for r in kept)
        assert before[next(r for r in kept if "part-00001" in r)] == \
            after[next(r for r in kept if "part-00001" in r)]
        got = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
        assert got[7] == -7 and len(got) == 100

    def test_delete_clause(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "m3")
        self._mk(spark, path)
        src = spark.createDataFrame([(0,), (1,), (149,)], "k long")
        merge_delta(spark, path, src, on=["k"], when_matched="delete",
                    when_not_matched=None, commit_ts=300)
        got = {r["k"] for r in read_delta(spark, path).collect()}
        assert got == (set(range(2, 50)) | set(range(100, 149)))

    def test_insert_only_allows_dup_source_keys(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "m4")
        self._mk(spark, path)
        src = spark.createDataFrame(
            [(500, 1), (500, 2), (3, -3)], "k long, v long"
        )
        merge_delta(spark, path, src, on=["k"], when_matched=None,
                    commit_ts=300)
        rows = [(r["k"], r["v"]) for r in read_delta(spark, path).collect()]
        assert (500, 1) in rows and (500, 2) in rows
        assert (3, 30) in rows and (3, -3) not in rows  # matched: untouched

    def test_multi_match_raises(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "m5")
        self._mk(spark, path)
        src = spark.createDataFrame([(3, 1), (3, 2)], "k long, v long")
        with pytest.raises(ValueError, match="multiple source rows"):
            merge_delta(spark, path, src, on=["k"], commit_ts=300)

    def test_partition_migration(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "m6")
        d = spark.createDataFrame(
            [(i, str(i % 2)) for i in range(20)], "k long, p string"
        )
        write_delta(spark, path, d, partition_col="p", commit_ts=100)
        # move k=4 from p=0 to p=9 (a brand-new partition)
        src = spark.createDataFrame([(4, "9")], "k long, p string")
        merge_delta(spark, path, src, on=["k"], commit_ts=200)
        got = {(r["k"], r["p"]) for r in read_delta(spark, path).collect()}
        assert (4, "9") in got and (4, "0") not in got and len(got) == 20
        snap = load_snapshot(path)
        assert any("p=9" in r for r in snap.adds)

    def test_merge_materializes_dvs_on_touched(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors, merge_delta,
        )

        path = str(tmp_path / "m7")
        self._mk(spark, path, column_mapping=True)
        snap = load_snapshot(path)
        # delete position 0 of every file (k=0 and k=100)
        add_deletion_vectors(
            spark, path, {rel: [0] for rel in snap.adds}, commit_ts=250
        )
        # touch only the first file's range: its DV must be materialized
        # (k=0 stays deleted), the other file keeps its DV entry
        src = spark.createDataFrame([(5, -5)], "k long, v long")
        merge_delta(spark, path, src, on=["k"],
                    when_not_matched=None, commit_ts=300)
        got = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
        assert 0 not in got and 100 not in got
        assert got[5] == -5 and len(got) == 98
        snap2 = load_snapshot(path)
        dvs = [a for a in snap2.adds.values() if a.get("deletionVector")]
        assert len(dvs) == 1  # untouched file still merge-on-read

    def test_time_travel_pre_merge(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "m8")
        self._mk(spark, path)
        v = merge_delta(
            spark, path,
            spark.createDataFrame([(3, -3)], "k long, v long"),
            on=["k"], commit_ts=300,
        )
        old = {r["k"]: r["v"]
               for r in read_delta(spark, path, version=v - 1).collect()}
        assert old[3] == 30

    def test_validation(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "m9")
        self._mk(spark, path)
        src = spark.createDataFrame([(1, 1)], "k long, v long")
        with pytest.raises(ValueError, match="no-op"):
            merge_delta(spark, path, src, on=["k"], when_matched=None,
                        when_not_matched=None)
        with pytest.raises(ValueError, match="not in table schema"):
            merge_delta(spark, path, src, on=["zz"])
        with pytest.raises(ValueError, match="missing columns"):
            merge_delta(spark, path, src.select("k"), on=["k"])



def _kpt_target(spark, path, n=100):
    """(k, pr, tp) table with keys 0..n-1 and no '5-LOW' row, so the
    by-source clause of q395's clause set removes nothing."""
    prs = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    write_delta(
        spark, path,
        spark.createDataFrame(
            [(k, prs[k % 3], float(k)) for k in range(n)],
            "k long, pr string, tp double",
        ),
        commit_ts=100,
    )


def _merge_clauses(kind):
    from etl_market_survey_spark.plans.q_misc import _MERGE_CLAUSES

    return _MERGE_CLAUSES if kind == "clauses" else {}


class TestMergeReadsSourceOnce:
    """merge_delta materializes its source in one job: the plain path
    and the clause path read that one copy, so the source is evaluated
    once per row and a non-deterministic source still commits a
    consistent table; nothing it cached or checkpointed outlives it."""

    @pytest.mark.parametrize("kind", ["plain", "clauses"])
    def test_source_evaluated_once(
        self, spark, tmp_path, kind, merge_source, held_cache
    ):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "once")
        _kpt_target(spark, path)
        src, evals = merge_source(60)  # keys 0, 2, .., 118
        merge_delta(spark, path, src, on=["k"], commit_ts=200,
                    **_merge_clauses(kind))
        assert evals.value == 60
        assert held_cache() == (True, 0)
        keys = sorted(r["k"] for r in read_delta(spark, path).collect())
        assert keys == list(range(100)) + list(range(100, 120, 2))

    @pytest.mark.parametrize("kind", ["plain", "clauses"])
    def test_nondeterministic_source_commits_consistently(
        self, spark, tmp_path, kind, merge_source
    ):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "coin")
        _kpt_target(spark, path)
        src, _ = merge_source(50, coin=True)  # one key of each pair
        merge_delta(spark, path, src, on=["k"], commit_ts=200,
                    **_merge_clauses(kind))
        rows = read_delta(spark, path).collect()
        assert sorted(r["k"] for r in rows) == list(range(100))
        merged = [r["k"] // 2 for r in rows if r["pr"] == "MERGED"]
        assert len(merged) == len(set(merged))  # one per key pair
        if kind == "plain":
            assert len(merged) == 50

    @pytest.mark.parametrize("kind", ["plain", "clauses"])
    def test_raise_and_no_op_free_the_cache(
        self, spark, tmp_path, kind, held_cache
    ):
        from etl_market_survey_spark.sources.deltalog import merge_delta

        path = str(tmp_path / "held")
        _kpt_target(spark, path)
        dup = spark.createDataFrame(
            [(3, "X", 1.0), (3, "Y", 2.0)], "k long, pr string, tp double"
        )
        with pytest.raises(ValueError, match="multiple source rows"):
            merge_delta(spark, path, dup, on=["k"], commit_ts=200,
                        **_merge_clauses(kind))
        assert held_cache() == (True, 0)
        v = load_snapshot(path).version
        miss = spark.createDataFrame(
            [(500, "X", 1.0)], "k long, pr string, tp double"
        )
        assert merge_delta(spark, path, miss, on=["k"], commit_ts=200,
                           **{**_merge_clauses(kind),
                              "when_not_matched": None}) == v
        assert held_cache() == (True, 0)


class TestSchemaEvolution:
    """Schema enforcement + merge_schema evolution: mismatched appends
    are rejected instead of silently corrupting the table; widened
    schemas null-fill old files and time-travel narrow."""

    def test_mismatches_rejected(self, spark, tmp_path):
        path = str(tmp_path / "se1")
        write_delta(spark, path,
                    spark.createDataFrame([(1, 10)], "k long, v long"),
                    commit_ts=100)
        with pytest.raises(ValueError, match="missing table columns"):
            write_delta(spark, path,
                        spark.createDataFrame([(2,)], "k long"),
                        commit_ts=200)
        with pytest.raises(ValueError, match="type change"):
            write_delta(spark, path,
                        spark.createDataFrame([(2, "x")], "k long, v string"),
                        commit_ts=200)
        with pytest.raises(ValueError, match="merge_schema"):
            write_delta(
                spark, path,
                spark.createDataFrame([(2, 20, "x")],
                                      "k long, v long, w string"),
                commit_ts=200,
            )

    def test_merge_schema_widens(self, spark, tmp_path):
        path = str(tmp_path / "se2")
        write_delta(spark, path,
                    spark.createDataFrame([(1, 10)], "k long, v long"),
                    commit_ts=100)
        v = write_delta(
            spark, path,
            spark.createDataFrame([(2, 20, "x")],
                                  "k long, v long, w string"),
            commit_ts=200, merge_schema=True,
        )
        cur = read_delta(spark, path)
        assert cur.columns == ["k", "v", "w"]
        got = {r["k"]: r["w"] for r in cur.collect()}
        assert got == {1: None, 2: "x"}  # old file null-fills
        # time travel sees the narrow schema
        assert read_delta(spark, path, version=v - 1).columns == ["k", "v"]

    def test_column_order_normalized(self, spark, tmp_path):
        path = str(tmp_path / "se3")
        write_delta(spark, path,
                    spark.createDataFrame([(1, 10)], "k long, v long"),
                    commit_ts=100)
        # source columns out of order: aligned to the table order
        write_delta(spark, path,
                    spark.createDataFrame([(20, 2)], "v long, k long"),
                    commit_ts=200)
        got = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
        assert got == {1: 10, 2: 20}

    def test_mapped_table_evolution(self, spark, tmp_path):
        path = str(tmp_path / "se4")
        write_delta(spark, path,
                    spark.createDataFrame([(1, 10)], "k long, v long"),
                    commit_ts=100, column_mapping=True)
        write_delta(
            spark, path,
            spark.createDataFrame([(2, 20, "x")],
                                  "k long, v long, w string"),
            commit_ts=200, merge_schema=True,
        )
        snap = load_snapshot(path)
        phys = snap.physical_names()
        assert phys["w"].startswith("col-")
        cfg = snap.metadata["configuration"]
        assert cfg["delta.columnMapping.maxColumnId"] == "3"
        got = {r["k"]: (r["v"], r["w"])
               for r in read_delta(spark, path).collect()}
        assert got == {1: (10, None), 2: (20, "x")}
        # further appends with the widened schema keep working
        write_delta(spark, path,
                    spark.createDataFrame([(3, 30, "y")],
                                          "k long, v long, w string"),
                    commit_ts=300)
        assert read_delta(spark, path).count() == 3


class TestRestore:
    """RESTORE TO VERSION AS OF: a new remove+add commit that flips the
    live set back; history preserved, time travel across it intact."""

    def test_restore_after_merge(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, restore_delta,
        )

        path = str(tmp_path / "r1")
        d = spark.range(0, 20).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        v0 = write_delta(spark, path, d, commit_ts=100)
        merge_delta(
            spark, path,
            spark.createDataFrame([(3, -3), (99, -99)], "k long, v long"),
            on=["k"], commit_ts=200,
        )
        v2 = restore_delta(spark, path, v0, commit_ts=300)
        got = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
        assert got == {i: i * 10 for i in range(20)}
        # the merged state is still reachable as a version
        merged = {r["k"]: r["v"]
                  for r in read_delta(spark, path, version=v2 - 1).collect()}
        assert merged[3] == -3 and merged[99] == -99

    def test_restore_undoes_deletion_vectors(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors, restore_delta,
        )

        path = str(tmp_path / "r2")
        d = spark.range(0, 10).select(F.col("id").alias("k"))
        v0 = write_delta(spark, path, d.orderBy("k"), commit_ts=100)
        snap = load_snapshot(path)
        add_deletion_vectors(
            spark, path, {next(iter(snap.adds)): [0, 1]}, commit_ts=200
        )
        assert read_delta(spark, path).count() == 8
        restore_delta(spark, path, v0, commit_ts=300)
        assert read_delta(spark, path).count() == 10

    def test_restore_reverts_schema_evolution(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import restore_delta

        path = str(tmp_path / "r3")
        v0 = write_delta(spark, path,
                         spark.createDataFrame([(1, 10)], "k long, v long"),
                         commit_ts=100)
        write_delta(
            spark, path,
            spark.createDataFrame([(2, 20, "x")],
                                  "k long, v long, w string"),
            commit_ts=200, merge_schema=True,
        )
        restore_delta(spark, path, v0, commit_ts=300)
        cur = read_delta(spark, path)
        assert cur.columns == ["k", "v"] and cur.count() == 1


class TestChangeDataFeed:
    """Log-derived CDF: inserts from added files, deletes from
    dataChange removes, ROW-exact deltas for deletion-vector commits,
    nothing from dataChange=false compaction."""

    def test_append_and_dv_delete_feed(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors, read_delta_changes,
        )

        path = str(tmp_path / "cdf1")
        d = spark.range(0, 10).select(F.col("id").alias("k"))
        write_delta(spark, path, d.orderBy("k"), commit_ts=100)   # v0
        snap = load_snapshot(path)
        rel = next(iter(snap.adds))
        add_deletion_vectors(spark, path, {rel: [2, 5]}, commit_ts=200)  # v1
        d2 = spark.range(100, 103).select(F.col("id").alias("k"))
        write_delta(spark, path, d2, commit_ts=300)               # v2

        feed = read_delta_changes(spark, path, 1).collect()
        by = {}
        for r in feed:
            by.setdefault((r["_commit_version"], r["_change_type"]),
                          set()).add(r["k"])
        assert by[(1, "delete")] == {2, 5}  # row-exact DV delta
        assert by[(2, "insert")] == {100, 101, 102}
        assert set(by) == {(1, "delete"), (2, "insert")}
        ts = {r["_commit_version"]: r["_commit_timestamp"] for r in feed}
        assert ts == {1: 200, 2: 300}

    def test_start_zero_includes_initial_insert(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            read_delta_changes,
        )

        path = str(tmp_path / "cdf2")
        write_delta(spark, path,
                    spark.range(0, 4).select(F.col("id").alias("k")),
                    commit_ts=100)
        feed = read_delta_changes(spark, path, 0).collect()
        assert {(r["_change_type"], r["k"]) for r in feed} == {
            ("insert", k) for k in range(4)
        }

    def test_compaction_is_silent(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            compact, read_delta_changes,
        )

        path = str(tmp_path / "cdf3")
        write_delta(spark, path,
                    spark.range(0, 4).select(F.col("id").alias("k")),
                    commit_ts=100)
        write_delta(spark, path,
                    spark.range(4, 8).select(F.col("id").alias("k")),
                    commit_ts=200)
        v = compact(spark, path, commit_ts=300)
        feed = read_delta_changes(spark, path, v, v).collect()
        assert feed == []

    def test_merge_is_file_granular(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, read_delta_changes,
        )

        path = str(tmp_path / "cdf4")
        d = spark.range(0, 6).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        write_delta(spark, path, d, commit_ts=100)
        mv = merge_delta(
            spark, path,
            spark.createDataFrame([(2, -2)], "k long, v long"),
            on=["k"], when_not_matched=None, commit_ts=200,
        )
        feed = read_delta_changes(spark, path, mv, mv).collect()
        dels = {r["k"] for r in feed if r["_change_type"] == "delete"}
        ins = {(r["k"], r["v"]) for r in feed if r["_change_type"] == "insert"}
        assert dels == {0, 1, 2, 3, 4, 5}          # whole touched file out
        assert (2, -2) in ins and len(ins) == 6    # rewritten file in

    def test_restore_undeletes_rows_in_feed(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors, read_delta_changes, restore_delta,
        )

        path = str(tmp_path / "cdf5")
        v0 = write_delta(spark, path,
                         spark.range(0, 6).select(F.col("id").alias("k"))
                         .orderBy("k"),
                         commit_ts=100)
        rel = next(iter(load_snapshot(path).adds))
        add_deletion_vectors(spark, path, {rel: [1]}, commit_ts=200)
        rv = restore_delta(spark, path, v0, commit_ts=300)
        feed = read_delta_changes(spark, path, rv, rv).collect()
        assert {(r["_change_type"], r["k"]) for r in feed} == {("insert", 1)}

    def test_missing_commit_in_range_raises(self, spark, tmp_path):
        """Log cleanup can leave a gap inside a feed's range; the feed
        must refuse it instead of returning one without the lost
        commit's rows. Ranges the remaining log covers still read, and a
        partition delete shows up as its partition's rows deleted."""
        from etl_market_survey_spark.sources.deltalog import (
            read_delta_changes,
        )

        path = str(tmp_path / "cdf6")
        for i in range(5):  # v0..v4, checkpoint at v3
            write_delta(spark, path,
                        spark.range(i * 2, i * 2 + 2).select(
                            F.col("id").alias("k"),
                            (F.col("id") % 2).cast("string").alias("p")),
                        partition_col="p", commit_ts=100 * (i + 1))
            if i == 3:
                assert write_checkpoint(spark, path) == 3
        delete_where(spark, path, partition_values=["1"], commit_ts=600)  # v5
        os.remove(os.path.join(path, "_delta_log", f"{1:020d}.json"))

        with pytest.raises(ValueError, match="commit 1 is missing"):
            read_delta_changes(spark, path, 0)
        feed = read_delta_changes(spark, path, 4).collect()
        assert {(r["_commit_version"], r["_change_type"], r["k"])
                for r in feed} == {
            (4, "insert", 8), (4, "insert", 9),
            (5, "delete", 1), (5, "delete", 3), (5, "delete", 5),
            (5, "delete", 7), (5, "delete", 9),
        }


class TestOptimisticConcurrency:
    """Commits are PUT-IF-ABSENT (os.link): a lost race never clobbers
    the winner. Blind appends rebase; conflicting commits raise. The
    race is injected by a _write_commit wrapper that lands the winner's
    file AFTER the loser has planned (read the log) but BEFORE it
    commits — the real interleaving."""

    def _inject_winner(self, monkeypatch, path, actions_lines):
        from etl_market_survey_spark.sources import deltalog as dl

        real = dl._write_commit
        state = {"fired": False}

        def wrapper(p, version, actions):
            if not state["fired"] and p == path:
                state["fired"] = True
                with open(dl._commit_path(p, version), "w") as f:
                    for line in actions_lines:
                        f.write(line + "\n")
            return real(p, version, actions)

        monkeypatch.setattr(dl, "_write_commit", wrapper)
        return state

    def test_blind_append_rebases_past_winner(self, spark, tmp_path,
                                              monkeypatch):
        from etl_market_survey_spark.sources.deltalog import _commit_path

        path = str(tmp_path / "oc1")
        write_delta(spark, path,
                    spark.createDataFrame([(1,)], "k long"), commit_ts=100)
        winner = [
            json.dumps({"commitInfo": {"timestamp": 150,
                                       "operation": "WRITE"}}),
            json.dumps({"add": {"path": "winner.parquet",
                                "partitionValues": {}, "size": 0,
                                "modificationTime": 150,
                                "dataChange": False}}),
        ]
        state = self._inject_winner(monkeypatch, path, winner)
        v = write_delta(spark, path,
                        spark.createDataFrame([(2,)], "k long"),
                        commit_ts=200)
        assert state["fired"] and v == 2  # lost v1, rebased to v2
        with open(_commit_path(path, 1)) as f:
            assert "winner.parquet" in f.read()  # never clobbered

    def test_overwrite_race_raises(self, spark, tmp_path, monkeypatch):
        from etl_market_survey_spark.sources.deltalog import (
            DeltaConcurrentWriteError,
        )

        path = str(tmp_path / "oc2")
        write_delta(spark, path,
                    spark.createDataFrame([(1,)], "k long"), commit_ts=100)
        self._inject_winner(monkeypatch, path, [
            json.dumps({"commitInfo": {"timestamp": 150}}),
        ])
        with pytest.raises(DeltaConcurrentWriteError):
            write_delta(spark, path,
                        spark.createDataFrame([(2,)], "k long"),
                        mode="overwrite", commit_ts=200)

    def test_concurrent_schema_change_raises(self, spark, tmp_path,
                                             monkeypatch):
        from etl_market_survey_spark.sources.deltalog import (
            DeltaConcurrentWriteError,
        )

        path = str(tmp_path / "oc3")
        write_delta(spark, path,
                    spark.createDataFrame([(1,)], "k long"), commit_ts=100)
        meta = dict(load_snapshot(path).metadata)
        meta["schemaString"] = meta["schemaString"].replace(
            '"k"', '"k_renamed"'
        )
        self._inject_winner(monkeypatch, path, [
            json.dumps({"commitInfo": {"timestamp": 150}}),
            json.dumps({"metaData": meta}),
        ])
        with pytest.raises(DeltaConcurrentWriteError):
            write_delta(spark, path,
                        spark.createDataFrame([(2,)], "k long"),
                        commit_ts=200)

    def test_txn_recorded_by_winner_short_circuits(self, spark, tmp_path,
                                                   monkeypatch):
        path = str(tmp_path / "oc4")
        write_delta(spark, path,
                    spark.createDataFrame([(1,)], "k long"), commit_ts=100)
        # the winner already recorded OUR (app, version) txn — the
        # retry must become a no-op replay, not a duplicate append
        self._inject_winner(monkeypatch, path, [
            json.dumps({"commitInfo": {"timestamp": 150}}),
            json.dumps({"txn": {"appId": "job", "version": 7,
                                "lastUpdated": 150}}),
        ])
        v = write_delta(spark, path,
                        spark.createDataFrame([(2,)], "k long"),
                        commit_ts=200, txn_app="job", txn_version=7)
        assert v == 1  # winner's version; nothing new appended
        assert read_delta(spark, path).count() == 1


class TestOptimizeZorder:
    """ZORDER rewrite: content unchanged, curve-contiguous files give
    tight 2-D stats so box queries prune on BOTH dimensions."""

    def _grid_table(self, spark, path):
        # 64x64 grid of (x, y) points appended in x-sorted order: the
        # natural layout prunes on x but NOT on y
        rows = [(x, y, x * 100 + y) for x in range(64) for y in range(64)]
        d = spark.createDataFrame(rows, "x long, y long, v long")
        write_delta(spark, path, d.orderBy("x", "y"), commit_ts=100)
        return {(r[0], r[1]) for r in rows}

    def test_content_unchanged_and_prunes_both_dims(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            load_snapshot, optimize_zorder,
        )

        path = str(tmp_path / "z1")
        pts = self._grid_table(spark, path)
        v = optimize_zorder(spark, path, ["x", "y"], n_files=16,
                            commit_ts=200)
        got = {(r["x"], r["y"])
               for r in read_delta(spark, path).collect()}
        assert got == pts  # logical content identical
        # dataChange false + time travel intact
        snap = load_snapshot(path)
        assert all(a.get("dataChange") is False for a in snap.adds.values())
        assert read_delta(spark, path, version=v - 1).count() == len(pts)

        # pruning: a small box on (x, y) must skip most of the 16 files
        def surviving(filt):
            s = load_snapshot(path)
            from etl_market_survey_spark.sources.deltalog import _stats_prune
            return [
                a for a in s.adds.values()
                if all(_stats_prune(a, c, lo, hi)
                       for c, (lo, hi) in filt.items())
            ]

        box = {"x": (8, 15), "y": (8, 15)}
        assert len(surviving(box)) <= 4  # <= 1/4 of 16 files
        # and a y-only slice prunes too (impossible pre-zorder)
        assert len(surviving({"y": (0, 7)})) <= 8
        rows = read_delta(spark, path, stats_filter=box).filter(
            "x between 8 and 15 and y between 8 and 15"
        )
        assert rows.count() == 64

    def test_single_column_sort(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import optimize_zorder

        path = str(tmp_path / "z2")
        pts = self._grid_table(spark, path)
        optimize_zorder(spark, path, ["y"], n_files=8, commit_ts=200)
        assert {(r["x"], r["y"])
                for r in read_delta(spark, path).collect()} == pts

    def test_materializes_dvs(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors, load_snapshot, optimize_zorder,
        )

        path = str(tmp_path / "z3")
        d = spark.range(0, 100).select(
            F.col("id").alias("x"), (F.col("id") * 7 % 100).alias("y")
        )
        write_delta(spark, path, d.orderBy("x"), commit_ts=100)
        rel = next(iter(load_snapshot(path).adds))
        add_deletion_vectors(spark, path, {rel: [0, 1, 2]}, commit_ts=150)
        optimize_zorder(spark, path, ["x", "y"], n_files=4, commit_ts=200)
        snap = load_snapshot(path)
        assert all(not a.get("deletionVector") for a in snap.adds.values())
        assert read_delta(spark, path).count() == 97

    def test_partitioned_clusters_within_partitions(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            load_snapshot, optimize_zorder,
        )

        path = str(tmp_path / "z4")
        rows = [(x, y, str((x + y) % 2))
                for x in range(32) for y in range(32)]
        d = spark.createDataFrame(rows, "x long, y long, p string")
        write_delta(spark, path, d.orderBy("x", "y"), partition_col="p",
                    commit_ts=100)
        optimize_zorder(spark, path, ["x", "y"], n_files=8, commit_ts=200)
        got = {(r["x"], r["y"], r["p"])
               for r in read_delta(spark, path).collect()}
        assert got == set(rows)
        snap = load_snapshot(path)
        # every new file belongs to exactly one partition dir
        assert all(a["partitionValues"].get("p") in ("0", "1")
                   for a in snap.adds.values())
        # zorder col may not be the partition col
        with pytest.raises(ValueError, match="partition columns"):
            optimize_zorder(spark, path, ["p"], commit_ts=300)


class TestLazySnapshotLoad:
    """Round-7 advice fix: snapshot load is O(checkpoint + JSON tail),
    not O(history) — commits BEHIND the checkpoint are never parsed."""

    def test_fold_reads_only_tail(self, spark, tmp_path, monkeypatch):
        import etl_market_survey_spark.sources.deltalog as dl

        root = str(tmp_path / "lz1")
        df = spark.range(30).selectExpr("id", "id * 2 as v")
        for i in range(4):
            write_delta(spark, root, df.filter(f"id >= {i*5} and id < {i*5+5}"),
                        commit_ts=100 * (i + 1))
        write_checkpoint(spark, root)  # checkpoint at version 3
        write_delta(spark, root, df.filter("id >= 20 and id < 25"),
                    commit_ts=500)

        reads = []
        orig = dl._read_actions
        monkeypatch.setattr(
            dl, "_read_actions",
            lambda path, v: (reads.append(v), orig(path, v))[1],
        )
        snap = dl.load_snapshot(root)
        assert snap.version == 4
        # only the post-checkpoint tail (v4) is parsed — the four
        # commits the checkpoint already covers are never opened
        assert set(reads) == {4}

    def test_timestamp_resolution_reads_from_tail(
        self, spark, tmp_path, monkeypatch
    ):
        import etl_market_survey_spark.sources.deltalog as dl

        root = str(tmp_path / "lz2")
        df = spark.range(10).selectExpr("id", "id * 2 as v")
        for i in range(5):
            write_delta(spark, root, df.filter(f"id = {i}"),
                        commit_ts=100 * (i + 1))
        reads = []
        orig = dl._read_actions
        monkeypatch.setattr(
            dl, "_read_actions",
            lambda path, v: (reads.append(v), orig(path, v))[1],
        )
        snap = dl.load_snapshot(root, timestamp=450)
        assert snap.version == 3
        # newest-first scan touched only v4 (too new) and v3 (answer),
        # plus the fold of 0..3; v4 was never folded twice and the
        # pre-answer commits were read exactly once each
        assert reads[:2] == [4, 3]
        assert sorted(set(reads)) == [0, 1, 2, 3, 4]


class TestChangeDataFeedSidecars:
    """Protocol 'Add CDC File': MERGE on a delta.enableChangeDataFeed
    table writes _change_data sidecars with update_preimage/postimage
    pairing; the reader uses them EXCLUSIVELY for that commit."""

    def _mk_cdf(self, spark, path, n=12):
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(n)], "k long, v long"
        )
        write_delta(spark, path, df, commit_ts=100,
                    properties={"delta.enableChangeDataFeed": "true"})
        return df

    def test_update_pairing_row_exact(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, read_delta_changes,
        )

        path = str(tmp_path / "cdf1")
        self._mk_cdf(spark, path)
        src = spark.createDataFrame(
            [(3, 333), (7, 777), (50, 500)], "k long, v long"
        )
        merge_delta(spark, path, src, ["k"], commit_ts=200)
        feed = {
            (r["_change_type"], r["k"], r["v"])
            for r in read_delta_changes(spark, path, 1).collect()
        }
        assert feed == {
            ("update_preimage", 3, 30), ("update_postimage", 3, 333),
            ("update_preimage", 7, 70), ("update_postimage", 7, 777),
            ("insert", 50, 500),
        }

    def test_delete_clause_and_layout(self, spark, tmp_path):
        import glob
        import os

        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, read_delta_changes, vacuum,
        )

        path = str(tmp_path / "cdf2")
        self._mk_cdf(spark, path)
        src = spark.createDataFrame([(2,), (5,)], "k long")
        merge_delta(spark, path, src, ["k"], when_matched="delete",
                    when_not_matched=None, commit_ts=200)
        feed = {
            (r["_change_type"], r["k"])
            for r in read_delta_changes(spark, path, 1).collect()
        }
        assert feed == {("delete", 2), ("delete", 5)}
        # sidecars live under _change_data/ and survive VACUUM (their
        # paths appear in no add action)
        side = glob.glob(os.path.join(path, "_change_data", "*.parquet"))
        assert side
        vacuum(spark, path, keep_versions=1)
        assert all(os.path.exists(f) for f in side)

    def test_non_cdf_table_stays_log_derived(self, spark, tmp_path):
        import glob
        import os

        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, read_delta_changes,
        )

        path = str(tmp_path / "cdf3")
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "k long, v long"
        )
        write_delta(spark, path, df, commit_ts=100)  # CDF off
        merge_delta(spark, path,
                    spark.createDataFrame([(1, 111)], "k long, v long"),
                    ["k"], commit_ts=200)
        assert not glob.glob(os.path.join(path, "_change_data", "*"))
        cts = {
            r["_change_type"]
            for r in read_delta_changes(spark, path, 1).collect()
        }
        # honest fallback: file-granular delete+insert, no pairing
        assert cts == {"insert", "delete"}


class TestZOrder3Col:
    def test_3col_zorder_prunes_where_linear_sort_cannot(
        self, spark, tmp_path
    ):
        """Pruning effectiveness of the k=3 Z-curve: a box filter on
        the two NON-LEADING columns must touch strictly fewer files
        than the linear (k-sorted) layout, which only clusters its
        leading column. Correctness is stats-decided either way; this
        pins the layout's reason to exist."""
        from etl_market_survey_spark.sources.deltalog import (
            load_snapshot, optimize_zorder, read_delta, write_delta,
        )

        n = 20000
        df = spark.range(n).selectExpr(
            "id AS k",
            "CAST((id * 48271) % 10007 AS LONG) AS c",
            "CAST((id * 16807) % 7919 AS DOUBLE) AS tp",
        )

        def n_files_for_box(path):
            snap = load_snapshot(path)
            total = len(snap.adds)
            box = read_delta(
                spark, path,
                stats_filter={"c": (1000, 2000), "tp": (1000.0, 2000.0)},
            )
            return len(box.inputFiles()), total

        zpath = str(tmp_path / "z3")
        write_delta(spark, zpath, df, commit_ts=100)
        optimize_zorder(spark, zpath, ["k", "c", "tp"], n_files=32,
                        commit_ts=200)
        z_touched, z_total = n_files_for_box(zpath)

        lpath = str(tmp_path / "lin")
        write_delta(spark, lpath, df, commit_ts=100)
        optimize_zorder(spark, lpath, ["k"], n_files=32, commit_ts=200)
        l_touched, l_total = n_files_for_box(lpath)

        assert z_total == l_total == 32
        assert l_touched == 32  # linear layout: c/tp spread everywhere
        assert z_touched < l_touched // 2, (z_touched, l_touched)
        # content identical regardless of layout
        a = {tuple(r) for r in read_delta(spark, zpath).collect()}
        b = {tuple(r) for r in read_delta(spark, lpath).collect()}
        assert a == b and len(a) == n

    def test_4col_and_too_many_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            optimize_zorder, read_delta, write_delta,
        )

        path = str(tmp_path / "z4")
        df = spark.range(500).selectExpr(
            "id AS a", "id * 3 % 101 AS b", "id * 7 % 103 AS c",
            "id * 11 % 107 AS d",
        )
        write_delta(spark, path, df, commit_ts=100)
        optimize_zorder(spark, path, ["a", "b", "c", "d"], n_files=4,
                        commit_ts=200)
        assert read_delta(spark, path).count() == 500
        with pytest.raises(ValueError, match="1 to 4"):
            optimize_zorder(spark, path, ["a", "b", "c", "d", "a"],
                            commit_ts=300)


class TestVacuumChangeData:
    def test_cdc_sidecars_follow_retention(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, vacuum,
        )

        path = str(tmp_path / "vcd1")
        write_delta(spark, path,
                    spark.createDataFrame([(i, i) for i in range(6)],
                                          "k long, v long"),
                    commit_ts=100,
                    properties={"delta.enableChangeDataFeed": "true"})
        merge_delta(spark, path,
                    spark.createDataFrame([(1, 111)], "k long, v long"),
                    ["k"], commit_ts=200)                       # v1 cdc
        merge_delta(spark, path,
                    spark.createDataFrame([(2, 222)], "k long, v long"),
                    ["k"], commit_ts=300)                       # v2 cdc
        import glob

        side = sorted(glob.glob(os.path.join(path, "_change_data", "*")))
        assert len(side) == 2
        # keep 2 versions (v1, v2): v1's sidecar is INSIDE the window
        doomed = vacuum(spark, path, keep_versions=2)
        assert not any("_change_data" in d for d in doomed)
        # keep only the current version: v1's sidecar expires, v2's stays
        doomed = vacuum(spark, path, keep_versions=1)
        gone = [d for d in doomed if "_change_data" in d]
        assert len(gone) == 1
        left = sorted(glob.glob(os.path.join(path, "_change_data", "*")))
        assert len(left) == 1


class TestMultiPartCheckpoint:
    def test_parts_fold_identically(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            _read_last_checkpoint,
        )

        root = str(tmp_path / "mpc1")
        df = spark.range(40).selectExpr(
            "id", "CAST(id % 4 AS STRING) AS p"
        )
        for i in range(4):
            write_delta(spark, root,
                        df.filter(f"id >= {i*10} and id < {i*10+10}"),
                        partition_col="p", commit_ts=100 * (i + 1))
        write_checkpoint(spark, root, parts=3)
        cp = _read_last_checkpoint(root)
        assert cp["parts"] == 3
        # part files exist with the protocol naming
        log = os.path.join(root, "_delta_log")
        names = sorted(
            n for n in os.listdir(log) if ".checkpoint." in n
        )
        assert names == [
            f"{3:020d}.checkpoint.{i + 1:010d}.{3:010d}.parquet"
            for i in range(3)
        ]
        # a post-checkpoint commit folds from the parts + tail
        write_delta(spark, root, df.filter("id < 5"), partition_col="p",
                    commit_ts=500)
        assert read_delta(spark, root).count() == 45
        # time travel through the checkpoint boundary still works
        assert read_delta(spark, root, version=3).count() == 40

    def test_single_part_unchanged(self, spark, tmp_path):
        root = str(tmp_path / "mpc2")
        write_delta(spark, root, spark.range(10).selectExpr("id"),
                    commit_ts=100)
        write_checkpoint(spark, root)
        assert read_delta(spark, root).count() == 10


class TestCheckpointInterval:
    def test_auto_checkpoint_every_n_commits(self, spark, tmp_path):
        import glob

        from etl_market_survey_spark.sources.deltalog import (
            _read_last_checkpoint,
        )

        root = str(tmp_path / "aci1")
        df = spark.range(20).selectExpr("id")
        write_delta(spark, root, df.filter("id < 5"), commit_ts=100,
                    properties={"delta.checkpointInterval": "2"})  # v0
        write_delta(spark, root, df.filter("id >= 5 and id < 10"),
                    commit_ts=200)                                 # v1
        assert _read_last_checkpoint(root) is None  # 1 % 2 != 0
        write_delta(spark, root, df.filter("id >= 10 and id < 15"),
                    commit_ts=300)                                 # v2
        cp = _read_last_checkpoint(root)
        assert cp and cp["version"] == 2
        import glob as _g

        assert _g.glob(os.path.join(root, "_delta_log",
                                    "*.checkpoint.parquet"))
        # folds keep working through and past the checkpoint
        write_delta(spark, root, df.filter("id >= 15"), commit_ts=400)
        assert read_delta(spark, root).count() == 20
        assert read_delta(spark, root, version=1).count() == 10


class TestDeleteRowsWhere:
    """Predicate DELETE: per-file DV / copy-on-write auto-routing,
    prior-DV exclusion, CDF sidecar emission."""

    def _mk(self, spark, path, cdf=False):
        t = spark.createDataFrame(
            [(i, i * 10, str(i % 2)) for i in range(100)],
            "k long, v long, p string",
        )
        props = {"delta.enableChangeDataFeed": "true"} if cdf else None
        write_delta(spark, path, t, partition_col="p", commit_ts=100,
                    properties=props)
        return t

    def test_small_match_takes_dv_path(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            delete_rows_where,
        )

        path = str(tmp_path / "dw1")
        self._mk(spark, path)
        n_before = len(load_snapshot(path).adds)
        delete_rows_where(spark, path, "k % 25 = 0", commit_ts=200)
        snap = load_snapshot(path)
        assert len(snap.adds) == n_before  # no rewrite
        assert any(a.get("deletionVector") for a in snap.adds.values())
        left = {r["k"] for r in read_delta(spark, path).collect()}
        assert left == set(range(100)) - {0, 25, 50, 75}

    def test_large_match_rewrites_and_prior_dv_respected(
        self, spark, tmp_path
    ):
        from etl_market_survey_spark.sources.deltalog import (
            delete_rows_where, read_delta_changes,
        )

        path = str(tmp_path / "dw2")
        self._mk(spark, path, cdf=True)
        delete_rows_where(spark, path, "k % 25 = 0", commit_ts=200)
        v2 = delete_rows_where(spark, path, "k >= 50", commit_ts=300,
                               rewrite_fraction=0.3)
        snap = load_snapshot(path)
        # rewritten files carry no DV and all rows < 50 survive
        left = {r["k"] for r in read_delta(spark, path).collect()}
        assert left == set(range(50)) - {0, 25}
        # CDF: v2's delete rows exclude the already-DV-deleted 50, 75
        feed = read_delta_changes(spark, path, v2, ending_version=v2)
        dels = {r["k"] for r in feed.collect()}
        assert dels == set(range(50, 100)) - {50, 75}

    def test_noop_and_idempotent(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            delete_rows_where,
        )

        path = str(tmp_path / "dw3")
        self._mk(spark, path)
        v = delete_rows_where(spark, path, "k = 7", commit_ts=200)
        assert delete_rows_where(spark, path, "k = 424242",
                                 commit_ts=300) == v   # no match: no-op
        assert delete_rows_where(spark, path, "k = 7",
                                 commit_ts=400) == v   # already dead


class TestUpdateRowsWhere:
    def test_dv_update_and_pairing(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            read_delta_changes, update_rows_where,
        )

        path = str(tmp_path / "uw1")
        t = spark.createDataFrame(
            [(i, i * 10) for i in range(40)], "k long, v long"
        )
        write_delta(spark, path, t, commit_ts=100,
                    properties={"delta.enableChangeDataFeed": "true"})
        v = update_rows_where(spark, path, "k % 10 = 0",
                              {"v": "v * 2 + 1"}, commit_ts=200)
        out = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
        assert len(out) == 40 and out[10] == 201 and out[5] == 50
        snap = load_snapshot(path)
        assert any(a.get("deletionVector") for a in snap.adds.values())
        feed = sorted(
            (r["_change_type"], r["k"], r["v"])
            for r in read_delta_changes(spark, path, v).collect()
        )
        assert ("update_preimage", 10, 100) in feed
        assert ("update_postimage", 10, 201) in feed
        assert len(feed) == 8  # 4 pairs

    def test_partition_migration_and_rewrite_path(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            update_rows_where,
        )

        path = str(tmp_path / "uw2")
        t = spark.createDataFrame(
            [(i, i * 10, str(i % 2)) for i in range(20)],
            "k long, v long, p string",
        )
        write_delta(spark, path, t, partition_col="p", commit_ts=100)
        # heavy match -> rewrite; assignment moves rows to partition '9'
        update_rows_where(spark, path, "p = '1'", {"p": "'9'"},
                          commit_ts=200, rewrite_fraction=0.3)
        out = {(r["k"], r["p"]) for r in read_delta(spark, path).collect()}
        assert all(p == "9" for k, p in out if k % 2 == 1)
        assert len(out) == 20
        snap = load_snapshot(path)
        assert not any(a.get("deletionVector")
                       for a in snap.adds.values())  # pure rewrite

    def test_unknown_column_rejected_and_noop(self, spark, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            update_rows_where,
        )

        path = str(tmp_path / "uw3")
        write_delta(spark, path,
                    spark.createDataFrame([(1, 10)], "k long, v long"),
                    commit_ts=100)
        with pytest.raises(ValueError, match="unknown columns"):
            update_rows_where(spark, path, "k = 1", {"zz": "1"},
                              commit_ts=200)
        v = update_rows_where(spark, path, "k = 999", {"v": "0"},
                              commit_ts=300)
        assert v == 0  # no match: no-op


class TestRowDmlStaysDistributed:
    """Row DML must never materialize deletion-vector positions on the
    driver: prior-DV exclusion and merged-bitmap serialization both run
    inside executor Python workers. Workers are separate processes, so
    poisoning the driver's bitmap codecs catches exactly a driver-side
    decode/encode while leaving the distributed path untouched."""

    def _poison(self, monkeypatch):
        from etl_market_survey_spark.sources import dvbitmap

        def boom(*a, **k):
            raise AssertionError(
                "DV bitmap codec invoked on the DRIVER — row DML must "
                "keep position expansion/serialization executor-side"
            )

        monkeypatch.setattr(dvbitmap, "deserialize_rbm64", boom)
        monkeypatch.setattr(dvbitmap, "serialize_rbm64", boom)

    def test_delete_over_prior_dv_never_decodes_on_driver(
        self, spark, tmp_path, monkeypatch
    ):
        from etl_market_survey_spark.sources.deltalog import (
            delete_rows_where,
        )

        path = str(tmp_path / "dist_del")
        t = spark.createDataFrame(
            [(i, i * 10) for i in range(200)], "k long, v long"
        )
        write_delta(spark, path, t, commit_ts=100)
        delete_rows_where(spark, path, "k % 20 = 0", commit_ts=200)
        snap = load_snapshot(path)
        assert any(a.get("deletionVector") for a in snap.adds.values())

        self._poison(monkeypatch)  # second DML folds the prior DV
        delete_rows_where(spark, path, "k % 20 = 5", commit_ts=300)
        monkeypatch.undo()
        left = {r["k"] for r in read_delta(spark, path).collect()}
        assert left == {k for k in range(200)
                        if k % 20 not in (0, 5)}

    def test_update_over_prior_dv_never_decodes_on_driver(
        self, spark, tmp_path, monkeypatch
    ):
        from etl_market_survey_spark.sources.deltalog import (
            delete_rows_where, update_rows_where,
        )

        path = str(tmp_path / "dist_upd")
        t = spark.createDataFrame(
            [(i, i * 10) for i in range(200)], "k long, v long"
        )
        write_delta(spark, path, t, commit_ts=100)
        delete_rows_where(spark, path, "k < 10", commit_ts=200)

        self._poison(monkeypatch)
        update_rows_where(spark, path, "k % 50 = 11", {"v": "v + 1"},
                          commit_ts=300)
        monkeypatch.undo()
        out = {r["k"]: r["v"] for r in read_delta(spark, path).collect()}
        assert len(out) == 190 and out[11] == 111 and out[61] == 611


class TestDataFrameSnapshotState:
    """snapshot_files_df / read_delta_pruned — the many-file state path:
    pruning runs as a distributed filter over the checkpoint parquet,
    never a Python loop over a driver dict of adds."""

    def _table(self, spark, p):
        from etl_market_survey_spark.sources import deltalog as dl

        d1 = spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("p"),
            (F.col("id") * 2.0).alias("v"),
        )
        dl.write_delta(spark, p, d1, partition_col="p", commit_ts=100)
        dl.write_checkpoint(spark, p, parts=2)
        d2 = spark.range(100, 140).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("p"),
            (F.col("id") * 2.0).alias("v"),
        )
        dl.write_delta(spark, p, d2, commit_ts=200)
        # DV rewrite: same-commit remove + re-add of the touched files
        dl.delete_rows_where(spark, p, "k % 10 = 0", commit_ts=300)

    def test_state_matches_dict_fold(self, spark, tmp_path):
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "st1")
        self._table(spark, p)
        snap = dl.load_snapshot(p)
        df_state = {
            r["path"]: r for r in
            dl.snapshot_files_df(spark, p).collect()
        }
        assert set(df_state) == set(snap.adds)
        for rel, a in snap.adds.items():
            r = df_state[rel]
            assert (r["deletionVector"] is not None) == (
                a.get("deletionVector") is not None
            )
            assert r["stats"] == a.get("stats")

    def test_pruned_read_parity_and_no_dict_fold(
        self, spark, tmp_path, monkeypatch
    ):
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "st2")
        self._table(spark, p)
        flt = dict(
            partition_filter={"p": ["1", "2"]},
            stats_filter={"k": (20, 110)},
        )
        want_full = sorted(map(tuple, dl.read_delta(spark, p).collect()))
        want_flt = sorted(
            map(tuple, dl.read_delta(spark, p, **flt).collect())
        )

        # metadata and protocol come from the shared checkpoint reader,
        # projected to those two columns; reading the checkpoint's add
        # column would fold the full file list on the driver
        orig = dl._read_checkpoint
        projections = []

        def no_adds(path, cp, columns=tuple(dl._CHECKPOINT_ACTIONS)):
            if "add" in columns:
                raise AssertionError(
                    "read_delta_pruned fell back to the driver dict fold"
                )
            projections.append(tuple(columns))
            return orig(path, cp, columns)

        monkeypatch.setattr(dl, "_read_checkpoint", no_adds)
        assert sorted(
            map(tuple, dl.read_delta_pruned(spark, p).collect())
        ) == want_full
        assert sorted(
            map(tuple, dl.read_delta_pruned(spark, p, **flt).collect())
        ) == want_flt
        assert projections == [("metaData", "protocol")] * 2

    def test_stats_prune_works_on_mapped_physical_names(
        self, spark, tmp_path
    ):
        """ADVICE r8: column-mapped physical names are 'col-<hex>' and
        a hyphen is invalid in an UNQUOTED JSON path — the old dotted
        get_json_object path returned null and keep-on-null silently
        disabled stats pruning on exactly the mapped many-file tables
        the pruned path targets. Bracket-quoted paths must prune: a
        range hitting one file's stats reads ONE file."""
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "st_map")
        for i in range(4):
            dl.write_delta(
                spark, p,
                spark.range(i * 100, i * 100 + 100).select(
                    F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
                ),
                column_mapping=True, commit_ts=100 + i,
            )
        dl.write_checkpoint(spark, p)
        phys_k = dl.load_snapshot(p).physical_names()["k"]
        assert "-" in phys_k  # the hyphen that broke the dotted path
        df = dl.read_delta_pruned(spark, p, stats_filter={"k": (10, 20)})
        # stats_filter prunes FILES (rows are the surviving file's):
        # only commit 0's file overlaps [10, 20]
        assert sorted(r["k"] for r in df.collect()) == list(range(100))
        assert len(df.inputFiles()) == 1  # 3 of 4 files stats-pruned

    def test_filtered_read_delta_routes_through_pruned(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r8 item 4: read_delta with partition/stats filters
        on a CHECKPOINTED table must plan through read_delta_pruned
        (distributed prune, survivors-only collect) — the dict fold is
        only the small-table (checkpoint-less) fast path."""
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "st4")
        self._table(spark, p)
        flt = dict(
            partition_filter={"p": ["1", "2"]},
            stats_filter={"k": (20, 110)},
        )
        calls = []
        real = dl.read_delta_pruned

        def spy(*a, **k):
            calls.append(k)
            return real(*a, **k)

        monkeypatch.setattr(dl, "read_delta_pruned", spy)
        got = sorted(map(tuple, dl.read_delta(spark, p, **flt).collect()))
        assert len(calls) == 1  # routed
        # unfiltered read keeps the dict fold
        dl.read_delta(spark, p).collect()
        assert len(calls) == 1
        monkeypatch.undo()
        # parity vs the dict fold on a checkpoint-LESS twin table
        p2 = str(tmp_path / "st4b")
        import shutil as _sh

        _sh.copytree(p, p2)
        os.remove(os.path.join(p2, "_delta_log", "_last_checkpoint"))
        assert sorted(
            map(tuple, dl.read_delta(spark, p2, **flt).collect())
        ) == got

    def test_routed_read_rejects_version_plus_timestamp(
        self, spark, tmp_path
    ):
        """ADVICE r9: the routed (checkpointed + filtered) path must
        validate version-vs-timestamp exactly like load_snapshot — not
        silently resolve the timestamp and ignore the version."""
        import pytest

        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "st5")
        self._table(spark, p)
        assert dl._read_last_checkpoint(p) is not None
        with pytest.raises(ValueError, match="not both"):
            dl.read_delta(
                spark, p, version=0, timestamp=10**15,
                stats_filter={"k": (20, 110)},
            )

    def test_prune_planned_as_checkpoint_scan_filter(self, spark, tmp_path):
        """Plan gate: the state frame's plan is a parquet scan of the
        CHECKPOINT files with the prune as a Catalyst Filter on top —
        not a collected list refiltered in Python."""
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "st3")
        self._table(spark, p)
        files = dl.snapshot_files_df(spark, p).filter(
            F.col("partitionValues").getItem("p").isin(["1"])
        )
        # the frame READS the checkpoint parquet (never collected) ...
        assert any(".checkpoint." in f for f in files.inputFiles())
        # ... and the prune is a Catalyst Filter in the physical plan
        plan = files._jdf.queryExecution().executedPlan().toString()
        assert "Filter" in plan

    def test_prune_effectiveness(self, spark, tmp_path):
        """Survivor collection is bounded by the filter, not the table:
        a selective stats range collects a strict subset of files."""
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "st4")
        self._table(spark, p)
        total = dl.snapshot_files_df(spark, p).count()
        out = dl.read_delta_pruned(
            spark, p, stats_filter={"k": (130, 139)}
        )
        # only the second-append files can hold k in [130, 139]; the
        # filter prunes FILES (rows of surviving files all return — the
        # read_delta contract), so the scan reads a strict file subset
        # and every returned row comes from the second append
        assert len(set(out.inputFiles())) < total
        got = sorted(r["k"] for r in out.collect())
        assert got == [k for k in range(100, 140) if k % 10 != 0]
        want = sorted(
            r["k"] for r in dl.read_delta(
                spark, p, stats_filter={"k": (130, 139)}
            ).collect()
        )
        assert got == want


class TestAppendOnly:
    """delta.appendOnly=true — the protocol writer invariant: commits
    with dataChange removes are rejected; appends and dataChange=false
    maintenance rewrites stay legal."""

    def _table(self, spark, p, partition=None):
        from etl_market_survey_spark.sources.deltalog import write_delta

        d = spark.createDataFrame(
            [(i, str(i % 2), i * 2.0) for i in range(10)],
            "k long, p string, v double",
        )
        write_delta(spark, p, d, partition_col=partition, commit_ts=100,
                    properties={"delta.appendOnly": "true"})
        return d

    def test_appends_allowed_mutations_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "ao1")
        d = self._table(spark, p, partition="p")
        dl.write_delta(spark, p, d, commit_ts=200)  # append fine
        assert dl.read_delta(spark, p).count() == 20
        with pytest.raises(ValueError, match="appendOnly"):
            dl.write_delta(spark, p, d, mode="overwrite", commit_ts=300)
        with pytest.raises(ValueError, match="appendOnly"):
            dl.delete_where(spark, p, partition_values=["0"],
                            commit_ts=300)
        with pytest.raises(ValueError, match="appendOnly"):
            dl.delete_rows_where(spark, p, "k % 2 = 0", commit_ts=300)
        with pytest.raises(ValueError, match="appendOnly"):
            dl.update_rows_where(spark, p, "k = 1", {"v": "v * 2"},
                                 commit_ts=300)
        with pytest.raises(ValueError, match="appendOnly"):
            dl.merge_delta(spark, p, d, ["k"], commit_ts=300)
        with pytest.raises(ValueError, match="appendOnly"):
            dl.restore_delta(spark, p, 0, commit_ts=300)
        rel = sorted(dl.load_snapshot(p).adds)[0]
        with pytest.raises(ValueError, match="appendOnly"):
            dl.add_deletion_vectors(spark, p, {rel: [0]}, commit_ts=300)

    def test_insert_only_merge_and_compaction_allowed(
        self, spark, tmp_path
    ):
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "ao2")
        self._table(spark, p)
        src = spark.createDataFrame(
            [(100, "0", 1.0)], "k long, p string, v double"
        )
        # MERGE with ONLY a not-matched clause never removes: legal
        dl.merge_delta(spark, p, src, ["k"], when_matched=None,
                       commit_ts=200)
        assert dl.read_delta(spark, p).count() == 11
        # compaction removes with dataChange=false: legal maintenance
        dl.compact(spark, p, commit_ts=300)
        assert dl.read_delta(spark, p).count() == 11

    def test_ds_writer_overwrite_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.pyds import (
            DeltaLiteDataSource,
        )

        spark.dataSource.register(DeltaLiteDataSource)
        p = str(tmp_path / "ao3")
        d = self._table(spark, p)
        with pytest.raises(Exception, match="appendOnly"):
            d.write.format("delta_lite").mode("overwrite").save(p)
        # append through the DS writer stays legal
        d.write.format("delta_lite").mode("append").save(p)


class TestColumnMappingIdMode:
    """columnMapping.mode='id' — parquet FIELD-ID resolution (the
    protocol's second mapping mode, previously a rejected guard)."""

    def _table(self, spark, p):
        from etl_market_survey_spark.sources import deltalog as dl

        d = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, s string, v double",
        )
        dl.write_delta(spark, p, d, column_mapping="id", commit_ts=100)
        return d

    def test_roundtrip_append_and_dml(self, spark, tmp_path):
        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "idm1")
        d = self._table(spark, p)
        snap = dl.load_snapshot(p)
        assert snap.column_mapping_mode == "id"
        assert snap.field_ids() == {"k": 1, "s": 2, "v": 3}
        assert sorted(map(tuple, dl.read_delta(spark, p).collect())) \
            == sorted(map(tuple, d.collect()))
        dl.write_delta(spark, p, d, commit_ts=200)  # append inherits
        dl.delete_rows_where(spark, p, "k = 2", commit_ts=300)
        assert sorted(
            r["k"] for r in dl.read_delta(spark, p).collect()
        ) == [1, 1, 3, 3]

    def test_foreign_physical_names_resolve_by_id(self, spark, tmp_path):
        """A file whose parquet column NAMES differ from physicalName
        (an external engine after renames) must still read correctly —
        resolution is by field id, names are advisory."""
        import os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "idm2")
        self._table(spark, p)
        sch = pa.schema([
            pa.field("x1", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("x2", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
            pa.field("x3", pa.float64(),
                     metadata={b"PARQUET:field_id": b"3"}),
        ])
        t = pa.table(
            {"x1": pa.array([500], pa.int64()), "x2": ["f"],
             "x3": [9.5]}
        ).cast(sch)
        rel = f"part-foreign-{_uuid.uuid4().hex}.parquet"
        pq.write_table(t, os.path.join(p, rel))
        v = dl._list_commit_versions(p)[-1] + 1
        dl._write_commit(p, v, [
            {"commitInfo": {"timestamp": 400, "operation": "WRITE",
                            "operationParameters": {}}},
            {"add": {"path": rel, "partitionValues": {},
                     "size": os.path.getsize(os.path.join(p, rel)),
                     "modificationTime": 400, "dataChange": True,
                     "stats": None}},
        ])
        got = sorted(map(tuple, dl.read_delta(spark, p).collect()))
        assert (500, "f", 9.5) in got

    def test_delta_lite_reader_and_writer(self, spark, tmp_path):
        from etl_market_survey_spark.sources import deltalog as dl
        from etl_market_survey_spark.sources.pyds import (
            DeltaLiteDataSource,
        )

        spark.dataSource.register(DeltaLiteDataSource)
        p = str(tmp_path / "idm3")
        d = self._table(spark, p)
        assert sorted(
            map(tuple, spark.read.format("delta_lite").load(p).collect())
        ) == sorted(map(tuple, d.collect()))
        # DS append stamps field ids so its files stay id-resolvable
        spark.createDataFrame(
            [(99, "z", 9.0)], "k long, s string, v double"
        ).write.format("delta_lite").mode("append").save(p)
        assert sorted(
            r["k"] for r in
            spark.read.format("delta_lite").load(p).collect()
        ) == [1, 2, 3, 99]
        assert sorted(
            r["k"] for r in dl.read_delta(spark, p).collect()
        ) == [1, 2, 3, 99]

    def test_no_session_conf_leak(self, spark, tmp_path):
        """ADVICE r8: reading/writing an 'id'-mode table must not leave
        spark.sql.parquet.fieldId.{read,write}.enabled mutated — the
        old code set them session-wide, so one id-mode read changed how
        every later parquet read in the session resolved columns."""
        from etl_market_survey_spark.sources import deltalog as dl

        rk = "spark.sql.parquet.fieldId.read.enabled"
        wk = "spark.sql.parquet.fieldId.write.enabled"
        prior_r, prior_w = spark.conf.get(rk), spark.conf.get(wk)
        spark.conf.set(rk, "false")
        spark.conf.set(wk, "false")
        try:
            p = str(tmp_path / "idm_conf")
            d = self._table(spark, p)  # id-mode write
            got = sorted(map(tuple, dl.read_delta(spark, p).collect()))
            assert got == sorted(map(tuple, d.collect()))
            assert spark.conf.get(rk) == "false"
            assert spark.conf.get(wk) == "false"
            # the files written UNDER the scoped conf still carry ids:
            # a second id-mode read resolves them (by footer sniff)
            dl.delete_rows_where(spark, p, "k = 1", commit_ts=500)
            assert sorted(
                r["k"] for r in dl.read_delta(spark, p).collect()
            ) == [2, 3]
            assert spark.conf.get(wk) == "false"
        finally:
            spark.conf.set(rk, prior_r)
            spark.conf.set(wk, prior_w)

    def test_zorder_and_cdc_keep_field_ids_with_conf_off(
        self, spark, tmp_path
    ):
        """ADVICE r9: optimize_zorder's staged writes and the
        partitioned CDC sidecar write bypassed _field_id_write_conf —
        with the session conf off, their files lost footer field ids
        (spec-level id-mode interop break). Both paths must stamp ids
        under a false session conf."""
        import glob

        import pyarrow.parquet as pq

        from etl_market_survey_spark.sources import deltalog as dl

        def footer_ids(f):
            return {
                int((fld.metadata or {}).get(b"PARQUET:field_id", b"-1"))
                for fld in pq.ParquetFile(f).schema_arrow
            }

        wk = "spark.sql.parquet.fieldId.write.enabled"
        prior_w = spark.conf.get(wk)
        spark.conf.set(wk, "false")
        try:
            p = str(tmp_path / "idm_zorder")
            dl.write_delta(
                spark, p,
                spark.createDataFrame(
                    [(i, i % 3, float(i)) for i in range(30)],
                    "k long, p long, v double",
                ),
                column_mapping="id",
                properties={"delta.enableChangeDataFeed": "true"},
                partition_col="p", commit_ts=100,
            )
            dl.optimize_zorder(spark, p, ["k", "v"], n_files=2,
                               commit_ts=200)
            zfiles = glob.glob(f"{p}/**/zorder-*.parquet",
                               recursive=True)
            assert zfiles
            for f in zfiles:
                assert -1 not in footer_ids(f), f"{f} missing field ids"
            # partitioned CDC sidecar write (the _stage_cdc pcol path)
            dl.delete_rows_where(spark, p, "k % 2 = 0", commit_ts=300)
            cfiles = glob.glob(f"{p}/_change_data/**/*.parquet",
                               recursive=True)
            assert cfiles
            for f in cfiles:
                ids = footer_ids(f)
                # data columns carry ids; _change_type has none, so
                # just require SOME stamped ids survive the off-conf
                assert ids - {-1}, f"{f} lost all field ids"
            assert spark.conf.get(wk) == "false"
        finally:
            spark.conf.set(wk, prior_w)

    def test_name_mode_files_carry_ids_now(self, spark, tmp_path):
        """'name'-mode staging stamps field ids too (real Delta
        behavior) — the table stays readable by an id-first engine."""
        import glob

        import pyarrow.parquet as pq

        from etl_market_survey_spark.sources import deltalog as dl

        p = str(tmp_path / "idm4")
        dl.write_delta(
            spark, p,
            spark.createDataFrame([(1, 2.0)], "k long, v double"),
            column_mapping=True, commit_ts=100,
        )
        f = glob.glob(f"{p}/part-*.parquet")[0]
        ids = {
            int((fld.metadata or {}).get(b"PARQUET:field_id", b"-1"))
            for fld in pq.ParquetFile(f).schema_arrow
        }
        assert ids == {1, 2}


class TestExternalLayoutFallbacks:
    """External writers control file names; the single-scan read attaches
    partition values via a broadcast basename lookup, which MUST fall
    back to per-partition scans when basenames collide across partition
    dirs or contain URI-escapable characters (deltalog._assemble_scan)."""

    @staticmethod
    def _ext_table(tmp_path, name_a, name_b):
        root = str(tmp_path / "ext_fallback")
        log = os.path.join(root, "_delta_log")
        os.makedirs(log)

        def data_file(rel, ids, vs):
            full = os.path.join(root, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            pq.write_table(
                pa.table({"id": pa.array(ids, pa.int64()),
                          "v": pa.array(vs, pa.float64())}),
                full,
            )
            return rel

        f_a = data_file(f"cat=a/{name_a}", [1, 2], [1.5, 2.5])
        f_b = data_file(f"cat=b/{name_b}", [3, 4], [3.5, 4.5])
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            f.write(json.dumps({"commitInfo": {"timestamp": 1000,
                                               "operation": "WRITE"}}) + "\n")
            f.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                             "minWriterVersion": 2}}) + "\n")
            f.write(json.dumps({"metaData": {
                "id": "extfb", "format": {"provider": "parquet", "options": {}},
                "schemaString": SCHEMA_JSON, "partitionColumns": ["cat"],
                "configuration": {}, "createdTime": 1000}}) + "\n")
            for rel, c in [(f_a, "a"), (f_b, "b")]:
                f.write(json.dumps({"add": {
                    "path": rel, "partitionValues": {"cat": c},
                    "size": os.path.getsize(os.path.join(root, rel)),
                    "modificationTime": 1000, "dataChange": True}}) + "\n")
        return root

    def _assert_reads(self, spark, root):
        got = sorted(
            (r["id"], r["v"], r["cat"])
            for r in read_delta(spark, root).collect()
        )
        assert got == [(1, 1.5, "a"), (2, 2.5, "a"),
                       (3, 3.5, "b"), (4, 4.5, "b")]

    def test_duplicate_basenames_across_partitions(self, spark, tmp_path):
        # identical basename in both partition dirs: the basename
        # lookup would be ambiguous -> per-partition-tuple fallback
        root = self._ext_table(tmp_path, "part-0.parquet", "part-0.parquet")
        self._assert_reads(spark, root)

    def test_escapable_basenames(self, spark, tmp_path):
        # space + percent need URI escaping: _metadata.file_path may
        # render them differently than the log path -> fallback, rows
        # must neither drop nor misattach
        root = self._ext_table(
            tmp_path, "part 0%25a.parquet", "part-1.parquet"
        )
        self._assert_reads(spark, root)


class TestSparkFreeFold:
    """delta_lite plans inside Python workers, where no SparkSession
    exists: the log fold (checkpoint via pyarrow + JSON tail) must run
    without ever starting a JVM."""

    _CHILD = """
import json, sys
import pyspark.context, pyspark.java_gateway

def no_jvm(*a, **k):
    raise AssertionError("the log fold started a JVM")

pyspark.context.launch_gateway = no_jvm
pyspark.java_gateway.launch_gateway = no_jvm
from etl_market_survey_spark.sources.deltalog import load_snapshot

snap = load_snapshot(sys.argv[1])
snap.check_reader_support()
assert pyspark.context.SparkContext._gateway is None
print(json.dumps({"version": snap.version, "timestamp": snap.timestamp,
                  "schema": snap.schema().json(), "adds": snap.adds}))
"""

    def test_checkpointed_fold_in_a_jvm_free_process(self, spark, tmp_path):
        import subprocess
        import sys

        from etl_market_survey_spark.sources.deltalog import (
            add_deletion_vectors,
        )

        root = str(tmp_path / "nojvm")
        df = spark.range(40).selectExpr("id", "CAST(id % 4 AS STRING) AS p")
        for i in range(3):
            write_delta(spark, root,
                        df.filter(f"id >= {i * 10} and id < {i * 10 + 10}"),
                        partition_col="p", commit_ts=100 * (i + 1))
        rel = sorted(load_snapshot(root).adds)[0]
        add_deletion_vectors(spark, root, {rel: [0]}, commit_ts=400)
        write_checkpoint(spark, root, parts=2)  # multi-part, at v3
        write_delta(spark, root, df.filter("id >= 30"), partition_col="p",
                    commit_ts=500)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = subprocess.run(
            [sys.executable, "-c", self._CHILD, root],
            capture_output=True, text=True, timeout=300, check=True,
            env={**os.environ, "PYTHONPATH": repo},
        )
        got = json.loads(out.stdout.strip().splitlines()[-1])
        want = load_snapshot(root)
        assert got["version"] == want.version == 4
        assert got["timestamp"] == 500
        assert got["adds"] == want.adds
        assert len(got["adds"]) == 16
        # checkpoint maps come back as the log's JSON objects, and the
        # deletion vector survives the checkpoint
        assert all(isinstance(a["partitionValues"], dict)
                   and set(a["partitionValues"]) == {"p"}
                   for a in got["adds"].values())
        assert got["adds"][rel]["deletionVector"]["cardinality"] == 1
