"""Iceberg reader/writer (sources/iceberg) over pure-Python Avro
manifests (sources/avro): golden-byte Avro pins from the published
spec, container round-trips, snapshot reads, time travel, partition
delete, and metadata pruning."""

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_market_survey_spark.sources.avro import (
    _read_long,
    _write_long,
    decode_container,
    encode_container,
    read_avro_records,
    write_avro_file,
)
from etl_market_survey_spark.sources.iceberg import (
    delete_partitions,
    read_iceberg,
    snapshot_files,
    table_history,
    write_iceberg,
)


class TestAvroBinary:
    def test_zigzag_golden_bytes(self):
        # the worked examples from the Avro spec's binary-encoding table
        import io

        golden = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03",
                  2: b"\x04", 64: b"\x80\x01", -65: b"\x81\x01"}
        for n, want in golden.items():
            out = bytearray()
            _write_long(out, n)
            assert bytes(out) == want, n
            assert _read_long(io.BytesIO(want)) == n

    def test_string_golden_bytes(self):
        # spec example: "foo" -> 06 66 6f 6f inside a record field
        schema = {"type": "record", "name": "r",
                  "fields": [{"name": "s", "type": "string"}]}
        data = encode_container(schema, [{"s": "foo"}], codec="null")
        assert b"\x06foo" in data

    def test_container_round_trip_all_types(self):
        schema = {
            "type": "record", "name": "t", "fields": [
                {"name": "l", "type": "long"},
                {"name": "i", "type": "int"},
                {"name": "s", "type": ["null", "string"]},
                {"name": "d", "type": "double"},
                {"name": "f", "type": "float"},
                {"name": "b", "type": "boolean"},
                {"name": "by", "type": "bytes"},
                {"name": "arr", "type": {"type": "array", "items": "long"}},
                {"name": "m", "type": {"type": "map", "values": "string"}},
                {"name": "e", "type": {"type": "enum", "name": "col",
                                       "symbols": ["R", "G", "B"]}},
                {"name": "fx", "type": {"type": "fixed", "name": "f16",
                                        "size": 4}},
            ],
        }
        recs = [
            {"l": -(2**50), "i": 7, "s": None, "d": 0.125, "f": 2.0,
             "b": True, "by": b"\x00\xff", "arr": [1, -2, 3],
             "m": {"a": "x"}, "e": "G", "fx": b"abcd"},
            {"l": 0, "i": -1, "s": "héllo", "d": -1e300, "f": 0.0,
             "b": False, "by": b"", "arr": [], "m": {}, "e": "B",
             "fx": b"\x00\x00\x00\x00"},
        ]
        for codec in ("null", "deflate"):
            s2, r2 = decode_container(encode_container(schema, recs, codec))
            assert r2 == recs and s2 == schema

    def test_nested_record_and_file_io(self, tmp_path):
        schema = {
            "type": "record", "name": "outer", "fields": [
                {"name": "inner", "type": {
                    "type": "record", "name": "pt", "fields": [
                        {"name": "x", "type": "long"},
                        {"name": "y", "type": "long"},
                    ]}},
            ],
        }
        recs = [{"inner": {"x": 1, "y": 2}}, {"inner": {"x": -3, "y": 4}}]
        p = str(tmp_path / "t.avro")
        write_avro_file(p, schema, recs)
        s2, r2 = read_avro_records(p)
        assert r2 == recs

    def test_corrupt_magic_rejected(self):
        with pytest.raises(ValueError):
            decode_container(b"NOPE" + b"\x00" * 64)


class TestIcebergTable:
    def _mk(self, spark, n=20):
        return spark.range(n).select(
            F.col("id"),
            (F.col("id") * 2.5).alias("v"),
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("cat"),
        )

    def test_append_read_and_history(self, spark, tmp_path):
        root = str(tmp_path / "t1")
        df = self._mk(spark)
        s1 = write_iceberg(spark, root, df.filter("id < 10"),
                           partition_col="cat", commit_ts=100)
        s2 = write_iceberg(spark, root, df.filter("id >= 10"),
                           partition_col="cat", commit_ts=200)
        assert read_iceberg(spark, root).count() == 20
        assert read_iceberg(spark, root, snapshot_id=s1).count() == 10
        assert read_iceberg(spark, root, as_of_ms=150).count() == 10
        h = table_history(root)
        assert [x["snapshot_id"] for x in h] == [s1, s2]
        # manifests on disk really are Avro container files
        snaps = [f for f in os.listdir(os.path.join(root, "metadata"))
                 if f.startswith("manifest-")]
        with open(os.path.join(root, "metadata", snaps[0]), "rb") as f:
            assert f.read(4) == b"Obj\x01"

    def test_partition_delete_is_metadata_only(self, spark, tmp_path):
        root = str(tmp_path / "t2")
        write_iceberg(spark, root, self._mk(spark),
                      partition_col="cat", commit_ts=100)
        n_data = len(snapshot_files(root))
        delete_partitions(spark, root, ["odd"], commit_ts=200)
        out = read_iceberg(spark, root)
        assert {r["cat"] for r in out.collect()} == {"even"}
        # time travel still sees the full table; data files untouched
        assert read_iceberg(spark, root, as_of_ms=100).count() == 20
        assert len(snapshot_files(root, as_of_ms=100)) == n_data

    def test_partition_and_stats_pruning(self, spark, tmp_path):
        root = str(tmp_path / "t3")
        write_iceberg(spark, root, self._mk(spark),
                      partition_col="cat", commit_ts=100)
        even = read_iceberg(spark, root, partition_filter={"cat": ["even"]})
        files = even.inputFiles()
        assert files and all("cat=even" in f for f in files)
        none = read_iceberg(spark, root, stats_filter={"id": (1000, 2000)})
        assert none.count() == 0
        assert [f.name for f in none.schema.fields] == ["id", "v", "cat"]

    def test_unpartitioned(self, spark, tmp_path):
        root = str(tmp_path / "t4")
        write_iceberg(spark, root, self._mk(spark).drop("cat"), commit_ts=100)
        assert read_iceberg(spark, root).count() == 20

    def test_bounds_recorded(self, spark, tmp_path):
        root = str(tmp_path / "t5")
        write_iceberg(spark, root, self._mk(spark),
                      partition_col="cat", commit_ts=100)
        f = snapshot_files(root)[0]
        bounds = json.loads(f["bounds_json"])
        assert "id" in bounds and bounds["id"][0] is not None


class TestJarlessAvroScan:
    def test_distributed_read_with_inferred_schema(self, spark, tmp_path):
        from etl_market_survey_spark.sources.readers import read_avro

        schema = {
            "type": "record", "name": "r", "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": ["null", "string"]},
                {"name": "v", "type": "double"},
            ],
        }
        d = str(tmp_path / "avrodir")
        write_avro_file(
            os.path.join(d, "part-0.avro"), schema,
            [{"id": i, "name": f"n{i}", "v": i * 0.5} for i in range(50)],
        )
        write_avro_file(
            os.path.join(d, "part-1.avro"), schema,
            [{"id": 100 + i, "name": None, "v": 1.0} for i in range(30)],
        )
        df = read_avro(spark, d)
        assert df.schema.simpleString() == "struct<id:bigint,name:string,v:double>"
        assert df.count() == 80
        assert df.filter(F.col("name").isNull()).count() == 30
        assert df.agg(F.sum("v")).collect()[0][0] == 642.5

    def test_column_pruned_read(self, spark, tmp_path):
        from etl_market_survey_spark.sources.readers import read_avro

        schema = {
            "type": "record", "name": "r", "fields": [
                {"name": "id", "type": "long"},
                {"name": "big", "type": "string"},
            ],
        }
        d = str(tmp_path / "a2")
        write_avro_file(
            os.path.join(d, "p.avro"), schema,
            [{"id": i, "big": "x" * 100} for i in range(10)],
        )
        df = read_avro(spark, d, schema="id long")
        assert df.columns == ["id"] and df.count() == 10


class TestExpireSnapshots:
    def test_expiry_keeps_shared_files(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import expire_snapshots

        root = str(tmp_path / "te")
        df = spark.range(20).select(
            "id", F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("cat")
        )
        write_iceberg(spark, root, df.filter("id < 10"),
                      partition_col="cat", commit_ts=100)
        write_iceberg(spark, root, df.filter("id >= 10"),
                      partition_col="cat", commit_ts=200)
        # snapshot 2 carries snapshot 1's files as EXISTING entries, so
        # expiring snapshot 1 must delete NO data files
        doomed = expire_snapshots(spark, root, keep=1, dry_run=True)
        assert not any(d.startswith("data/") for d in doomed)
        expire_snapshots(spark, root, keep=1)
        assert read_iceberg(spark, root).count() == 20
        assert len(table_history(root)) == 1
        with pytest.raises(ValueError):
            read_iceberg(spark, root, as_of_ms=150)  # expired

    def test_expiry_deletes_orphaned_files(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import expire_snapshots

        root = str(tmp_path / "te2")
        df = spark.range(20).select(
            "id", F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("cat")
        )
        write_iceberg(spark, root, df, partition_col="cat", commit_ts=100)
        delete_partitions(spark, root, ["b"], commit_ts=200)
        doomed = expire_snapshots(spark, root, keep=1)
        # the b-partition file is referenced ONLY by the expired snapshot
        assert any("cat=b" in d for d in doomed)
        assert read_iceberg(spark, root).count() == 10


class TestSortedOneFileCommit:
    """A k-sorted one-file commit written as
    ``repartition(1).sortWithinPartitions`` leaves the same sorted file
    as a global ``orderBy`` with one job fewer: the writers coalesce to
    one file, so the range sort's sampling job buys nothing."""

    @pytest.mark.parametrize("fmt", ["iceberg", "delta"])
    def test_sorted_file_and_job_count(self, spark, tmp_path, fmt, jobs_in):
        import pyarrow.parquet as pq

        from etl_market_survey_spark.sources.deltalog import (
            load_snapshot, write_delta,
        )

        # a permutation of 0..999 over 4 partitions
        df = spark.range(0, 1000, numPartitions=4).select(
            ((F.col("id") * 37) % 1000).alias("k"))
        shapes = {
            "sort_within": df.repartition(1).sortWithinPartitions("k"),
            "order_by": df.orderBy("k"),
        }
        writer = write_iceberg if fmt == "iceberg" else write_delta
        jobs = {}
        for name, shaped in shapes.items():
            path = str(tmp_path / name)
            _, jobs[name] = jobs_in(
                f"sorted-{fmt}-{name}-{tmp_path.name}",
                lambda: writer(spark, path, shaped, commit_ts=100))
            rels = (
                [f["file_path"] for f in snapshot_files(path)]
                if fmt == "iceberg" else list(load_snapshot(path).adds)
            )
            assert len(rels) == 1
            ks = pq.read_table(os.path.join(path, rels[0])).column(
                "k").to_pylist()
            assert ks == list(range(1000))
        assert jobs == {"sort_within": 2, "order_by": 3}


class TestPositionDeletes:
    """v2 merge-on-read: content=1 delete manifests + (file_path, pos)
    parquet delete files, applied via the row_index anti-join."""

    def _two_file_table(self, spark, path):
        from etl_market_survey_spark.sources.iceberg import (
            snapshot_files, write_iceberg,
        )

        d1 = spark.range(0, 50).select(F.col("id").alias("k"))
        d2 = spark.range(100, 150).select(F.col("id").alias("k"))
        s1 = write_iceberg(spark, path, d1.orderBy("k"), commit_ts=100)
        first = {f["file_path"] for f in snapshot_files(path, snapshot_id=s1)}
        s2 = write_iceberg(spark, path, d2.orderBy("k"), commit_ts=200)
        second = {
            f["file_path"] for f in snapshot_files(path, snapshot_id=s2)
        } - first
        return s2, next(iter(first)), next(iter(second))

    def test_delete_apply_and_accumulate(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_iceberg, read_iceberg,
        )

        path = str(tmp_path / "icedel")
        s2, f1, f2 = self._two_file_table(spark, path)
        delete_rows_iceberg(spark, path, {f1: [0, 1], f2: [49]},
                            commit_ts=300)
        got = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert got == (set(range(50)) - {0, 1}) | (set(range(100, 150)) - {149})
        # deletes ACCUMULATE across snapshots (no merge semantics)
        delete_rows_iceberg(spark, path, {f1: [5]}, commit_ts=400)
        got = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert got == (set(range(50)) - {0, 1, 5}) | (
            set(range(100, 150)) - {149}
        )
        # snapshot time travel back to pre-delete
        assert read_iceberg(spark, path, snapshot_id=s2).count() == 100

    def test_v1_tables_unaffected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, snapshot_delete_files, write_iceberg,
        )

        path = str(tmp_path / "icev1")
        df = spark.range(0, 30).select(F.col("id").alias("k"))
        write_iceberg(spark, path, df, commit_ts=100)
        assert snapshot_delete_files(path) == []
        assert read_iceberg(spark, path).count() == 30

    def test_delete_file_is_sorted_parquet(self, spark, tmp_path, jobs_in):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_iceberg, read_iceberg_changes,
            snapshot_delete_files,
        )
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        path = str(tmp_path / "icedel2")
        s2, f1, f2 = self._two_file_table(spark, path)
        # the pairs are a driver-side dict: the delete file is written
        # on the driver, so the commit runs no Spark job
        s3, n_jobs = jobs_in(
            f"icedel2-{tmp_path.name}",
            lambda: delete_rows_iceberg(
                spark, path, {f2: [3, 1], f1: [2, 0]}, commit_ts=300),
        )
        assert n_jobs == 0
        dels = snapshot_delete_files(path)
        assert len(dels) == 1 and dels[0]["content"] == 1
        assert dels[0]["record_count"] == 4
        t = pq.read_table(os.path.join(path, dels[0]["file_path"]))
        assert t.schema.names == ["file_path", "pos"]
        assert t.schema.types == [pa.string(), pa.int64()]
        pairs = list(zip(*t.to_pydict().values()))
        # spec: sorted by (path, pos)
        assert pairs == sorted([(f2, 3), (f2, 1), (f1, 2), (f1, 0)])
        # every reader applies it: positions 0, 2 of d1 and 1, 3 of d2
        gone = {0, 2, 101, 103}
        want = (set(range(50)) | set(range(100, 150))) - gone
        assert {r["k"] for r in read_iceberg(spark, path).collect()} == want
        spark.dataSource.register(IcebergLiteDataSource)
        via_ds = spark.read.format("iceberg_lite").load(path)
        assert sorted(r["k"] for r in via_ds.collect()) == sorted(want)
        feed = read_iceberg_changes(spark, path, from_snapshot_id=s2)
        assert sorted((r["_snapshot_id"], r["_change_type"], r["k"])
                      for r in feed.collect()) == [
            (s3, "delete", k) for k in sorted(gone)]

    def test_unknown_file_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_iceberg,
        )

        path = str(tmp_path / "icedel3")
        self._two_file_table(spark, path)
        with pytest.raises(ValueError, match="not a live data file"):
            delete_rows_iceberg(spark, path, {"data/nope.parquet": [0]})

    def test_format_version_upgraded(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            _current_version, _load_metadata, delete_rows_iceberg,
        )

        path = str(tmp_path / "icedel4")
        _, f1, _ = self._two_file_table(spark, path)
        assert _load_metadata(path, _current_version(path)).get(
            "format-version") == 1
        delete_rows_iceberg(spark, path, {f1: [0]}, commit_ts=300)
        assert _load_metadata(path, _current_version(path))[
            "format-version"] == 2


class TestEqualityDeletes:
    """v2 merge-on-read: content=2 equality-delete files scoped by DATA
    SEQUENCE NUMBER — a delete hits only rows from files committed
    strictly before it; re-appended keys are reborn (the spec's
    upsert/CDC building block)."""

    def _kv_table(self, spark, path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        df = spark.createDataFrame(
            [(i, f"v{i % 3}") for i in range(20)], "k long, v string"
        )
        return write_iceberg(spark, path, df, commit_ts=100)

    def test_basic_equality_delete(self, spark, tmp_path, jobs_in):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, read_iceberg,
        )

        path = str(tmp_path / "eq1")
        self._kv_table(spark, path)
        delete_rows_equality(
            spark, path, [{"k": 3}, {"k": 7}], cols=["k"], commit_ts=200
        )
        # the delete file is read with the table schema's key type: no
        # inference job while the scan is built
        df, jobs = jobs_in(f"eq-read-{tmp_path.name}",
                           lambda: read_iceberg(spark, path))
        assert jobs == 0
        got = {r["k"] for r in df.collect()}
        assert got == set(range(20)) - {3, 7}

    def test_sequence_scoping_reborn_key(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, read_iceberg, write_iceberg,
        )

        path = str(tmp_path / "eq2")
        self._kv_table(spark, path)
        delete_rows_equality(spark, path, [{"k": 5}], cols=["k"],
                             commit_ts=200)
        # re-append the deleted key AFTER the delete: it must be reborn
        reborn = spark.createDataFrame([(5, "reborn")], "k long, v string")
        write_iceberg(spark, path, reborn, commit_ts=300)
        rows = {(r["k"], r["v"]) for r in read_iceberg(spark, path).collect()}
        assert (5, "reborn") in rows
        assert (5, "v2") not in rows  # the pre-delete row stays deleted
        assert len({k for k, _ in rows}) == 20

    def test_multi_column_and_accumulate(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, read_iceberg,
        )

        path = str(tmp_path / "eq3")
        self._kv_table(spark, path)
        # (k, v) identity: only the exact pair dies
        delete_rows_equality(
            spark, path, [{"k": 4, "v": "v1"}], cols=["k", "v"],
            commit_ts=200,
        )
        got = {(r["k"], r["v"]) for r in read_iceberg(spark, path).collect()}
        assert (4, "v1") not in got and len(got) == 19
        # deletes on a DIFFERENT identity accumulate alongside
        delete_rows_equality(spark, path, [{"k": 9}], cols=["k"],
                             commit_ts=300)
        got = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert got == set(range(20)) - {4, 9}

    def test_null_matches_null(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, read_iceberg, write_iceberg,
        )

        path = str(tmp_path / "eq4")
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "k long, v string"
        )
        write_iceberg(spark, path, df, commit_ts=100)
        delete_rows_equality(spark, path, [{"v": None}], cols=["v"],
                             commit_ts=200)
        got = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert got == {1, 3}

    def test_time_travel_before_delete(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, read_iceberg,
        )

        path = str(tmp_path / "eq5")
        s1 = self._kv_table(spark, path)
        delete_rows_equality(spark, path, [{"k": 0}], cols=["k"],
                             commit_ts=200)
        assert read_iceberg(spark, path, snapshot_id=s1).count() == 20
        assert read_iceberg(spark, path).count() == 19

    def test_bad_column_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality,
        )

        path = str(tmp_path / "eq6")
        self._kv_table(spark, path)
        with pytest.raises(ValueError, match="not table columns"):
            delete_rows_equality(spark, path, [{"zz": 1}], cols=["zz"])


class TestDeleteCarryForward:
    """Appends and partition deletes must carry prior row-delete
    manifests forward — dropping them silently resurrects rows."""

    def test_append_keeps_position_deletes(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_iceberg, read_iceberg, snapshot_files,
            write_iceberg,
        )

        path = str(tmp_path / "cf1")
        d1 = spark.range(0, 30).select(F.col("id").alias("k"))
        write_iceberg(spark, path, d1.orderBy("k"), commit_ts=100)
        f1 = snapshot_files(path)[0]["file_path"]
        delete_rows_iceberg(spark, path, {f1: [0, 1, 2]}, commit_ts=200)
        assert read_iceberg(spark, path).count() == 27
        d2 = spark.range(100, 110).select(F.col("id").alias("k"))
        write_iceberg(spark, path, d2, commit_ts=300)
        got = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert got == (set(range(30)) - {0, 1, 2}) | set(range(100, 110))

    def test_partition_delete_keeps_eq_deletes(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_partitions, delete_rows_equality, read_iceberg,
            write_iceberg,
        )

        path = str(tmp_path / "cf2")
        df = spark.createDataFrame(
            [(i, str(i % 2)) for i in range(20)], "k long, p string"
        )
        write_iceberg(spark, path, df, partition_col="p", commit_ts=100)
        delete_rows_equality(spark, path, [{"k": 4}], cols=["k"],
                             commit_ts=200)
        delete_partitions(spark, path, ["1"], commit_ts=300)
        got = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert got == {k for k in range(20) if k % 2 == 0} - {4}


class TestUpsert:
    """Merge-on-read upsert = equality-delete + append: no rewrite,
    re-appended keys live via sequence scoping."""

    def test_upsert_updates_and_inserts(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, snapshot_files, upsert_iceberg, write_iceberg,
        )

        path = str(tmp_path / "ups1")
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "k long, v long"
        )
        write_iceberg(spark, path, df, commit_ts=100)
        files_before = {f["file_path"] for f in snapshot_files(path)}
        src = spark.createDataFrame(
            [(3, -3), (7, -7), (99, -99)], "k long, v long"
        )
        upsert_iceberg(spark, path, src, on=["k"], commit_ts=200)
        got = {r["k"]: r["v"] for r in read_iceberg(spark, path).collect()}
        assert got[3] == -3 and got[7] == -7 and got[99] == -99
        assert got[0] == 0 and len(got) == 11
        # merge-on-read: the original data file was NOT rewritten
        assert files_before <= {f["file_path"] for f in snapshot_files(path)}

    def test_upsert_twice_latest_wins(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, upsert_iceberg, write_iceberg,
        )

        path = str(tmp_path / "ups2")
        df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
        write_iceberg(spark, path, df, commit_ts=100)
        for ts, val in ((200, 111), (300, 222)):
            src = spark.createDataFrame([(1, val)], "k long, v long")
            upsert_iceberg(spark, path, src, on=["k"], commit_ts=ts)
        got = {r["k"]: r["v"] for r in read_iceberg(spark, path).collect()}
        assert got == {1: 222, 2: 20}

    def test_missing_column_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            upsert_iceberg, write_iceberg,
        )

        path = str(tmp_path / "ups3")
        write_iceberg(
            spark, path,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            commit_ts=100,
        )
        with pytest.raises(ValueError, match="missing columns"):
            upsert_iceberg(
                spark, path,
                spark.createDataFrame([(1,)], "k long"), on=["k"],
            )



class TestRowLevelWritersReadSourceOnce:
    """merge_iceberg and upsert_iceberg materialize their source in one
    job: the source is evaluated once per row, a non-deterministic
    source still commits a consistent table, and nothing checkpointed
    outlives the write. delete_rows_equality counts its keys on the
    write itself."""

    def _target(self, spark, path, n=100):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        write_iceberg(
            spark, path,
            spark.createDataFrame(
                [(k, "ORIG", float(k)) for k in range(n)],
                "k long, pr string, tp double",
            ),
            commit_ts=100,
        )

    def _write(self, spark, path, writer, src):
        from etl_market_survey_spark.sources.iceberg import (
            merge_iceberg, upsert_iceberg,
        )

        fn = merge_iceberg if writer == "merge" else upsert_iceberg
        return fn(spark, path, src, ["k"], commit_ts=200)

    @pytest.mark.parametrize("writer", ["merge", "upsert"])
    def test_source_evaluated_once(
        self, spark, tmp_path, writer, merge_source, held_cache
    ):
        path = str(tmp_path / "once")
        self._target(spark, path)
        src, evals = merge_source(60)  # keys 0, 2, .., 118
        self._write(spark, path, writer, src)
        assert evals.value == 60
        assert held_cache() == (True, 0)
        got = {r["k"]: r["pr"] for r in read_iceberg(spark, path).collect()}
        assert sorted(got) == list(range(100)) + list(range(100, 120, 2))
        assert sum(pr == "MERGED" for pr in got.values()) == 60

    @pytest.mark.parametrize("writer", ["merge", "upsert"])
    def test_nondeterministic_source_commits_consistently(
        self, spark, tmp_path, writer, merge_source
    ):
        path = str(tmp_path / "coin")
        self._target(spark, path)
        src, _ = merge_source(50, coin=True)  # one key of each pair
        self._write(spark, path, writer, src)
        rows = read_iceberg(spark, path).collect()
        assert sorted(r["k"] for r in rows) == list(range(100))
        merged = {r["k"] // 2 for r in rows if r["pr"] == "MERGED"}
        assert merged == set(range(50))  # exactly one per key pair

    def test_merge_raise_frees_the_checkpoint(
        self, spark, tmp_path, held_cache
    ):
        path = str(tmp_path / "held")
        self._target(spark, path)
        dup = spark.createDataFrame(
            [(3, "X", 1.0), (3, "Y", 2.0)], "k long, pr string, tp double"
        )
        with pytest.raises(ValueError, match="multiple source rows"):
            self._write(spark, path, "merge", dup)
        assert held_cache() == (True, 0)

    def test_equality_delete_counts_on_the_write(
        self, spark, tmp_path, jobs_in
    ):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, snapshot_delete_files,
        )

        path = str(tmp_path / "eqn")
        self._target(spark, path)
        _, n_jobs = jobs_in(
            f"eq-count-{tmp_path.name}",
            lambda: delete_rows_equality(
                spark, path, [{"k": 4}, {"k": 7}, {"k": 500}], cols=["k"],
                commit_ts=200,
            ),
        )
        assert n_jobs == 1  # the write; its row count is observed on it
        (d,) = snapshot_delete_files(path)
        assert d["record_count"] == 3
        keys = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert keys == set(range(100)) - {4, 7}


class TestSchemaEvolution:
    """merge_schema evolution with STABLE field ids (equality_ids and
    partition source-ids depend on them); enforcement rejects silent
    schema replacement."""

    def test_mismatches_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        path = str(tmp_path / "ise1")
        write_iceberg(spark, path,
                      spark.createDataFrame([(1, 10)], "k long, v long"),
                      commit_ts=100)
        with pytest.raises(ValueError, match="missing table columns"):
            write_iceberg(spark, path,
                          spark.createDataFrame([(2,)], "k long"),
                          commit_ts=200)
        with pytest.raises(ValueError, match="type change"):
            write_iceberg(
                spark, path,
                spark.createDataFrame([(2, "x")], "k long, v string"),
                commit_ts=200,
            )
        with pytest.raises(ValueError, match="merge_schema"):
            write_iceberg(
                spark, path,
                spark.createDataFrame([(2, 20, "x")],
                                      "k long, v long, w string"),
                commit_ts=200,
            )

    def test_evolution_stable_ids_and_nullfill(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            _current_version, _load_metadata, read_iceberg, write_iceberg,
        )

        path = str(tmp_path / "ise2")
        write_iceberg(spark, path,
                      spark.createDataFrame([(1, 10)], "k long, v long"),
                      commit_ts=100)
        ids0 = {
            f["name"]: f["id"]
            for f in _load_metadata(path, _current_version(path))["schema"][
                "fields"]
        }
        write_iceberg(
            spark, path,
            spark.createDataFrame([(2, 20, "x")],
                                  "k long, v long, w string"),
            commit_ts=200, merge_schema=True,
        )
        meta = _load_metadata(path, _current_version(path))
        ids1 = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
        assert ids1["k"] == ids0["k"] and ids1["v"] == ids0["v"]
        assert ids1["w"] == meta["last-column-id"] == max(ids1.values())
        got = {r["k"]: r["w"] for r in read_iceberg(spark, path).collect()}
        assert got == {1: None, 2: "x"}

    def test_equality_delete_survives_evolution(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, read_iceberg, write_iceberg,
        )

        path = str(tmp_path / "ise3")
        write_iceberg(
            spark, path,
            spark.createDataFrame([(i, i * 10) for i in range(6)],
                                  "k long, v long"),
            commit_ts=100,
        )
        delete_rows_equality(spark, path, [{"k": 2}], cols=["k"],
                             commit_ts=200)
        write_iceberg(
            spark, path,
            spark.createDataFrame([(9, 90, "x")],
                                  "k long, v long, w string"),
            commit_ts=300, merge_schema=True,
        )
        got = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert got == {0, 1, 3, 4, 5, 9}  # delete still applied, id stable


class TestRollback:
    def test_rollback_and_forward(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, rollback_iceberg, write_iceberg,
        )

        path = str(tmp_path / "rb1")
        s1 = write_iceberg(
            spark, path,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            commit_ts=100,
        )
        s2 = write_iceberg(
            spark, path,
            spark.createDataFrame([(2, 20)], "k long, v long"),
            commit_ts=200,
        )
        rollback_iceberg(path, s1, commit_ts=300)
        assert {r["k"] for r in read_iceberg(spark, path).collect()} == {1}
        # roll forward again — pure metadata, nothing was lost
        rollback_iceberg(path, s2, commit_ts=400)
        assert {r["k"] for r in read_iceberg(spark, path).collect()} == {1, 2}

    def test_unknown_snapshot_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            rollback_iceberg, write_iceberg,
        )

        path = str(tmp_path / "rb2")
        write_iceberg(
            spark, path,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            commit_ts=100,
        )
        with pytest.raises(ValueError, match="no snapshot"):
            rollback_iceberg(path, 424242)


class TestChangelogScan:
    """Incremental changelog between snapshots: appends insert, dropped
    files delete, position-delete files are row-exact, equality-delete
    files are key-exact and sequence-scoped."""

    def test_appends_and_position_deletes(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_iceberg, read_iceberg_changes, snapshot_files,
            write_iceberg,
        )

        path = str(tmp_path / "cl1")
        d = spark.range(0, 8).select(F.col("id").alias("k"))
        s1 = write_iceberg(spark, path, d.orderBy("k"), commit_ts=100)
        rel = snapshot_files(path)[0]["file_path"]
        s2 = delete_rows_iceberg(spark, path, {rel: [2, 5]}, commit_ts=200)
        s3 = write_iceberg(
            spark, path,
            spark.range(100, 103).select(F.col("id").alias("k")),
            commit_ts=300,
        )
        feed = read_iceberg_changes(spark, path, from_snapshot_id=s1)
        by = {}
        for r in feed.collect():
            by.setdefault((r["_snapshot_id"], r["_change_type"]),
                          set()).add(r["k"])
        assert by[(s2, "delete")] == {2, 5}  # row-exact
        assert by[(s3, "insert")] == {100, 101, 102}
        assert set(by) == {(s2, "delete"), (s3, "insert")}

    def test_equality_deletes_scoped(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, read_iceberg_changes, write_iceberg,
        )

        path = str(tmp_path / "cl2")
        write_iceberg(
            spark, path,
            spark.createDataFrame([(i, i * 10) for i in range(6)],
                                  "k long, v long"),
            commit_ts=100,
        )
        sd = delete_rows_equality(spark, path, [{"k": 4}], cols=["k"],
                                  commit_ts=200)
        # re-append k=4 AFTER the delete: the changelog of the delete
        # snapshot must not include the reborn row
        sr = write_iceberg(
            spark, path,
            spark.createDataFrame([(4, -4)], "k long, v long"),
            commit_ts=300,
        )
        feed = read_iceberg_changes(spark, path).collect()
        dels = [(r["_snapshot_id"], r["k"], r["v"])
                for r in feed if r["_change_type"] == "delete"]
        assert dels == [(sd, 4, 40)]
        ins = {(r["_snapshot_id"], r["k"]) for r in feed
               if r["_change_type"] == "insert"}
        assert (sr, 4) in ins

    def test_from_none_includes_first_snapshot(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg_changes, write_iceberg,
        )

        path = str(tmp_path / "cl3")
        write_iceberg(
            spark, path,
            spark.range(0, 3).select(F.col("id").alias("k")),
            commit_ts=100,
        )
        feed = read_iceberg_changes(spark, path).collect()
        assert {(r["_change_type"], r["k"]) for r in feed} == {
            ("insert", k) for k in range(3)
        }

    def test_overwrite_emits_file_deletes(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg_changes, write_iceberg,
        )

        path = str(tmp_path / "cl4")
        s1 = write_iceberg(
            spark, path,
            spark.range(0, 4).select(F.col("id").alias("k")),
            commit_ts=100,
        )
        s2 = write_iceberg(
            spark, path,
            spark.range(10, 12).select(F.col("id").alias("k")),
            mode="overwrite", commit_ts=200,
        )
        feed = read_iceberg_changes(spark, path, from_snapshot_id=s1)
        by = {}
        for r in feed.collect():
            by.setdefault(r["_change_type"], set()).add(r["k"])
        assert by["delete"] == {0, 1, 2, 3}
        assert by["insert"] == {10, 11}


class TestAtomicCommitsAndExpiry:
    """Round-7 advice fixes: put-if-absent metadata commits, expiry
    that never drops the CURRENT snapshot, and a changelog that does
    not re-emit rows already equality-deleted when their file drops."""

    def test_expire_retains_current_after_rollback(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            expire_snapshots, read_iceberg, rollback_iceberg, write_iceberg,
        )

        path = str(tmp_path / "ex1")
        s1 = write_iceberg(
            spark, path,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            commit_ts=100,
        )
        write_iceberg(
            spark, path,
            spark.createDataFrame([(2, 20)], "k long, v long"),
            commit_ts=200,
        )
        rollback_iceberg(path, s1, commit_ts=300)
        # keep=1 by timestamp would pick s2 and EXPIRE the snapshot
        # current-snapshot-id points at — the rescue must keep s1 so
        # the very next read does not hit a dangling pointer
        expire_snapshots(spark, path, keep=1)
        assert {r["k"] for r in read_iceberg(spark, path).collect()} == {1}

    def test_concurrent_commit_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            IcebergConcurrentWriteError, write_iceberg,
        )

        path = str(tmp_path / "cc1")
        df = spark.createDataFrame([(1, 10)], "k long, v long")
        write_iceberg(spark, path, df, commit_ts=100)
        # simulate a racing writer that already published the next
        # metadata version: our commit must LOSE LOUDLY, not clobber
        md = os.path.join(path, "metadata")
        with open(os.path.join(md, "version-hint.text")) as f:
            cur_v = int(f.read().strip())
        with open(os.path.join(md, f"v{cur_v + 1}.metadata.json"), "w") as f:
            f.write("{}")
        with pytest.raises(IcebergConcurrentWriteError):
            write_iceberg(spark, path, df, commit_ts=200)

    def test_changelog_dropped_files_respect_eq_deletes(
        self, spark, tmp_path
    ):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, read_iceberg_changes, write_iceberg,
        )

        path = str(tmp_path / "cl5")
        write_iceberg(
            spark, path,
            spark.createDataFrame([(i, i * 10) for i in range(4)],
                                  "k long, v long"),
            commit_ts=100,
        )
        sd = delete_rows_equality(spark, path, [{"k": 2}], cols=["k"],
                                  commit_ts=200)
        # overwrite drops the original data file: rows ALREADY
        # eq-deleted at the previous snapshot must not re-emit
        so = write_iceberg(
            spark, path,
            spark.createDataFrame([(9, 90)], "k long, v long"),
            mode="overwrite", commit_ts=300,
        )
        feed = read_iceberg_changes(spark, path).collect()
        dels = sorted(
            (r["_snapshot_id"], r["k"]) for r in feed
            if r["_change_type"] == "delete"
        )
        assert dels == [(sd, 2), (so, 0), (so, 1), (so, 3)]


class TestPartitionTransforms:
    """Hidden partitioning (spec transforms): bucket[N] on the spec's
    exact murmur3, truncate[W], days — writer spec emission, data files
    keeping the SOURCE column, and transform-aware filter pruning."""

    def test_spec_golden_hashes(self):
        import datetime

        from etl_market_survey_spark.sources.iceberg_transforms import (
            hash_value,
        )

        # Iceberg spec Appendix B "32-bit Hash Requirements"
        assert hash_value(34, "int") == 2017239379
        assert hash_value(34, "long") == 2017239379
        assert hash_value("iceberg", "string") == 1210000089
        assert hash_value(datetime.date(2017, 11, 16), "date") == -653330422
        assert hash_value(
            datetime.datetime(2017, 11, 16, 22, 31, 8), "timestamp"
        ) == -2047944441

    def test_bucket_write_prune_and_hidden_column(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, snapshot_files, write_iceberg,
        )
        from etl_market_survey_spark.sources.iceberg_transforms import (
            transform_value,
        )

        path = str(tmp_path / "tb1")
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(64)], "k long, v long"
        )
        write_iceberg(spark, path, df, partition_col="k",
                      partition_transform="bucket[8]", commit_ts=100)
        files = snapshot_files(path)
        assert {f["partition"]["k_bucket"] for f in files} <= set(range(8))
        # manifest tuple matches the spec transform of file contents
        out = read_iceberg(spark, path)
        assert out.columns == ["k", "v"]  # source column physically kept
        assert out.count() == 64
        keys = [5, 41]
        want = {transform_value("bucket", 8, k, "long") for k in keys}
        pruned = read_iceberg(spark, path, partition_filter={"k": keys})
        got_files = pruned.inputFiles()
        assert got_files, "pruned scan lists no files"
        assert all(
            any(f"k_bucket={b}/" in f for b in want) for f in got_files
        ), "non-matching buckets were read"
        assert len(got_files) < len(files)
        got = {r["k"] for r in pruned.collect()}
        assert set(keys) <= got
        # every surviving row's key really transforms into a wanted bucket
        assert all(
            transform_value("bucket", 8, k, "long") in want for k in got
        )

    def test_bucket_spark_expr_matches_driver_transform(self, spark):
        from pyspark.sql import functions as F

        from etl_market_survey_spark.sources.iceberg_transforms import (
            transform_expr, transform_value,
        )

        df = spark.createDataFrame(
            [(i * 48271 % 100003 - 50000,) for i in range(500)], "k long"
        )
        got = {
            r["k"]: r["b"]
            for r in df.select(
                "k", transform_expr("k", "bucket", 16, "long").alias("b")
            ).collect()
        }
        for k, b in got.items():
            assert b == transform_value("bucket", 16, k, "long"), k

    def test_truncate_and_days(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, snapshot_files, write_iceberg,
        )

        path = str(tmp_path / "tt1")
        df = spark.createDataFrame(
            [(i - 10, f"w{i % 5}x{i}") for i in range(20)],
            "k long, s string",
        )
        write_iceberg(spark, path, df, partition_col="k",
                      partition_transform="truncate[10]", commit_ts=100)
        parts = {f["partition"]["k_trunc"] for f in snapshot_files(path)}
        assert parts == {-10, 0}  # floor division toward -inf
        pruned = read_iceberg(spark, path, partition_filter={"k": [-3]})
        assert all("k_trunc=-10" in f for f in pruned.inputFiles())

        path2 = str(tmp_path / "td1")
        ts = spark.sql(
            "SELECT id AS k, timestamp_micros(CAST(id * 43200000000 AS LONG))"
            " AS ts FROM range(8)"
        )
        write_iceberg(spark, path2, ts, partition_col="ts",
                      partition_transform="days", commit_ts=100)
        parts = {f["partition"]["ts_day"] for f in snapshot_files(path2)}
        assert parts == {0, 1, 2, 3}  # two half-days per day
        import datetime

        pruned = read_iceberg(
            spark, path2,
            partition_filter={"ts": [datetime.datetime(1970, 1, 2, 1, 0)]},
        )
        assert all("ts_day=1" in f for f in pruned.inputFiles())

    def test_append_inherits_and_mismatch_rejected(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, write_iceberg,
        )

        path = str(tmp_path / "ti1")
        df = spark.createDataFrame([(i,) for i in range(10)], "k long")
        write_iceberg(spark, path, df, partition_col="k",
                      partition_transform="bucket[4]", commit_ts=100)
        # bare append inherits the spec (column AND transform)
        write_iceberg(spark, path, df, commit_ts=200)
        assert read_iceberg(spark, path).count() == 20
        with pytest.raises(ValueError, match="transform mismatch"):
            write_iceberg(spark, path, df, partition_col="k",
                          partition_transform="bucket[8]", commit_ts=300)


class TestPartitionSpecEvolution:
    """Spec evolution: a write with a different (column, transform)
    appends a new spec (fresh spec-id, default advanced) when
    allow_spec_evolution=True; older manifests keep their original
    tuple shape and pruning is conservative across shapes."""

    def _mixed(self, spark, path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        df = spark.createDataFrame(
            [(i, f"c{i % 3}") for i in range(12)], "k long, cat string"
        )
        write_iceberg(spark, path, df, partition_col="cat", commit_ts=100)
        write_iceberg(spark, path,
                      df.selectExpr("k + 100 AS k", "cat"),
                      partition_col="k", partition_transform="bucket[4]",
                      commit_ts=200, allow_spec_evolution=True)
        return df

    def test_rejected_without_flag(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        path = str(tmp_path / "se0")
        df = spark.createDataFrame([(1, "a")], "k long, cat string")
        write_iceberg(spark, path, df, partition_col="cat", commit_ts=100)
        with pytest.raises(ValueError, match="partitioning mismatch"):
            write_iceberg(spark, path, df, partition_col="k",
                          commit_ts=200)

    def test_mixed_shapes_read_and_prune(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, snapshot_files, write_iceberg,
        )

        path = str(tmp_path / "se1")
        self._mixed(spark, path)
        out = read_iceberg(spark, path)
        assert out.count() == 24
        shapes = {
            tuple(sorted((f.get("partition") or {}).keys()))
            for f in snapshot_files(path)
        }
        assert shapes == {("cat",), ("k_bucket",)}
        # spec catalog: two specs, default advanced, unique field ids
        meta = json.loads(open(os.path.join(
            path, "metadata",
            f"v{int(open(os.path.join(path, 'metadata', 'version-hint.text')).read())}.metadata.json"
        )).read())
        specs = meta["partition-specs"]
        assert [sp["spec-id"] for sp in specs] == [0, 1]
        assert meta["default-spec-id"] == 1
        fids = [f["field-id"] for sp in specs for f in sp["fields"]]
        assert len(fids) == len(set(fids))
        # conservative pruning: a 'cat' filter keeps new-spec files
        pr = read_iceberg(spark, path, partition_filter={"cat": ["c1"]})
        got = sorted(
            r["k"] for r in pr.filter(F.col("cat") == "c1").collect()
        )
        assert got == [1, 4, 7, 10, 101, 104, 107, 110]
        # a 'k' (bucket) filter keeps old-spec files
        pr2 = read_iceberg(spark, path, partition_filter={"k": [105]})
        assert 105 in {r["k"] for r in pr2.collect()}
        assert len(pr2.inputFiles()) < len(snapshot_files(path))

    def test_append_inherits_evolved_spec(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, snapshot_files, write_iceberg,
        )

        path = str(tmp_path / "se2")
        df = self._mixed(spark, path)
        write_iceberg(spark, path, df.selectExpr("k + 200 AS k", "cat"),
                      commit_ts=300)
        assert read_iceberg(spark, path).count() == 36
        new_files = [
            f for f in snapshot_files(path)
            if "k_bucket" in (f.get("partition") or {})
        ]
        assert len(new_files) > 1  # both evolved writes used buckets

    def test_delete_on_current_spec_keeps_old_shape_files(
        self, spark, tmp_path
    ):
        from etl_market_survey_spark.sources.iceberg import (
            delete_partitions, read_iceberg,
        )
        from etl_market_survey_spark.sources.iceberg_transforms import (
            transform_value,
        )

        path = str(tmp_path / "se3")
        self._mixed(spark, path)
        b = transform_value("bucket", 4, 105, "long")
        delete_partitions(spark, path, [b], commit_ts=300)
        left = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert 105 not in left
        assert all(k in left for k in range(12))  # old-shape untouched

    def test_hours_transform(self, spark, tmp_path):
        import datetime

        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, snapshot_files, write_iceberg,
        )

        path = str(tmp_path / "hh1")
        ts = spark.sql(
            "SELECT id AS k, timestamp_micros(CAST(id * 1800000000 AS LONG))"
            " AS ts FROM range(8)"  # half-hour steps
        )
        write_iceberg(spark, path, ts, partition_col="ts",
                      partition_transform="hours", commit_ts=100)
        parts = {f["partition"]["ts_hour"] for f in snapshot_files(path)}
        assert parts == {0, 1, 2, 3}
        pruned = read_iceberg(
            spark, path,
            partition_filter={"ts": [datetime.datetime(1970, 1, 1, 2, 10)]},
        )
        assert all("ts_hour=2" in f for f in pruned.inputFiles())
        # spec Appendix-B example: 2017-11-16T22:31:08 -> hour 419686
        from etl_market_survey_spark.sources.iceberg_transforms import (
            transform_value,
        )
        assert transform_value(
            "hours", None,
            datetime.datetime(2017, 11, 16, 22, 31, 8), "timestamp",
        ) == 419686


class TestDeleteRowsWhereIceberg:
    def test_predicate_delete_and_no_reemission(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_where_iceberg, read_iceberg, read_iceberg_changes,
            write_iceberg,
        )

        path = str(tmp_path / "idw1")
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(30)], "k long, v long"
        )
        s1 = write_iceberg(spark, path, df, commit_ts=100)
        sd1 = delete_rows_where_iceberg(spark, path, "k % 10 = 0",
                                        commit_ts=200)
        left = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert left == set(range(30)) - {0, 10, 20}
        # second overlapping delete: already-dead rows not re-emitted
        sd2 = delete_rows_where_iceberg(spark, path, "k % 5 = 0",
                                        commit_ts=300)
        left = {r["k"] for r in read_iceberg(spark, path).collect()}
        assert left == {k for k in range(30) if k % 5 != 0}
        feed = read_iceberg_changes(spark, path, from_snapshot_id=s1)
        by_snap = {}
        for r in feed.collect():
            assert r["_change_type"] == "delete"
            by_snap.setdefault(r["_snapshot_id"], set()).add(r["k"])
        assert by_snap[sd1] == {0, 10, 20}
        assert by_snap[sd2] == {5, 15, 25}  # NOT 0/10/20 again

    def test_large_match_writes_multiple_sorted_delete_files(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r8 item 2: a large match must fan the position-
        delete write out across range partitions — several spec-sorted
        delete files, one sort task each — instead of orderBy().
        coalesce(1)'s single task sorting every matched position. Each
        file must individually be sorted by (file_path, pos) per the
        spec, and the table must read identically after."""
        import pyarrow.parquet as pq

        from etl_market_survey_spark.sources import iceberg as ice

        path = str(tmp_path / "idw_multi")
        df = spark.range(2000).selectExpr("id as k", "id * 2 as v")
        ice.write_iceberg(spark, path, df.repartition(4), commit_ts=100)
        monkeypatch.setattr(ice, "_DELETE_ROWS_PER_FILE", 300)
        ice.delete_rows_where_iceberg(spark, path, "k % 2 = 0",
                                      commit_ts=200)
        dels = [f for f in ice.snapshot_delete_files(path)
                if f.get("content") == 1]
        assert len(dels) >= 3  # 1000 matches / 300 per file
        total = 0
        for f in dels:
            t = pq.read_table(os.path.join(path, f["file_path"]))
            rows = list(zip(t.column("file_path").to_pylist(),
                            t.column("pos").to_pylist()))
            assert rows == sorted(rows)  # spec: sorted per FILE
            assert len(rows) == f["record_count"]
            total += len(rows)
        assert total == 1000
        left = {r["k"] for r in ice.read_iceberg(spark, path).collect()}
        assert left == {k for k in range(2000) if k % 2 == 1}

    def test_noop_when_nothing_matches(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_where_iceberg, table_history, write_iceberg,
        )

        path = str(tmp_path / "idw2")
        write_iceberg(spark, path,
                      spark.createDataFrame([(1, 10)], "k long, v long"),
                      commit_ts=100)
        n = len(table_history(path))
        delete_rows_where_iceberg(spark, path, "k = 999", commit_ts=200)
        assert len(table_history(path)) == n  # no snapshot added


class TestUpdateRowsWhereIceberg:
    def test_update_values_and_changelog(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, read_iceberg_changes, update_rows_where_iceberg,
            write_iceberg,
        )

        path = str(tmp_path / "iuw1")
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "k long, v long"
        )
        s1 = write_iceberg(spark, path, df, commit_ts=100)
        update_rows_where_iceberg(spark, path, "k % 5 = 0",
                                  {"v": "v + 1"}, commit_ts=200)
        out = {r["k"]: r["v"] for r in read_iceberg(spark, path).collect()}
        assert len(out) == 20
        assert out[5] == 51 and out[10] == 101 and out[7] == 70
        feed = read_iceberg_changes(spark, path, from_snapshot_id=s1)
        by = {}
        for r in feed.collect():
            by.setdefault(r["_change_type"], set()).add((r["k"], r["v"]))
        assert by["delete"] == {(0, 0), (5, 50), (10, 100), (15, 150)}
        assert by["insert"] == {(0, 1), (5, 51), (10, 101), (15, 151)}

    def test_single_snapshot_no_intermediate_state(self, spark, tmp_path):
        """VERDICT r9 item 4: an UPDATE commits ONE snapshot (real
        Iceberg behavior) — delete + append are atomic, so no observer
        (time travel, changelog, concurrent reader) can ever see the
        intermediate deleted-only state the old delete-then-append
        composition exposed."""
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, read_iceberg_changes, table_history,
            update_rows_where_iceberg, write_iceberg,
        )

        path = str(tmp_path / "iuw3")
        df = spark.createDataFrame(
            [(i, i % 3, i * 10) for i in range(30)],
            "k long, p long, v long",
        )
        write_iceberg(spark, path, df, partition_col="p", commit_ts=100)
        n_before = len(table_history(path))
        sid = update_rows_where_iceberg(
            spark, path, "k % 5 = 0", {"v": "v + 1"}, commit_ts=200
        )
        hist = table_history(path)
        assert len(hist) == n_before + 1  # exactly ONE snapshot
        assert hist[-1]["snapshot_id"] == sid
        assert hist[-1]["operation"] == "overwrite"
        # EVERY observable snapshot holds the full 30 rows — the
        # deleted-only intermediate (24 rows) exists at no snapshot
        for h in hist:
            assert read_iceberg(
                spark, path, snapshot_id=h["snapshot_id"]
            ).count() == 30
        # the changelog pairs delete+insert at the SAME snapshot id
        feed = read_iceberg_changes(spark, path).collect()
        upd = [r for r in feed if r["_snapshot_id"] == sid]
        kinds = {r["_change_type"] for r in upd}
        assert kinds == {"delete", "insert"}
        assert {(r["k"], r["v"]) for r in upd
                if r["_change_type"] == "insert"} == {
            (k, k * 10 + 1) for k in range(30) if k % 5 == 0
        }
        # updated rows land under the table's partition spec (the
        # durable staging inherits it), and read back partition-pruned
        got = {
            r["k"]: r["v"]
            for r in read_iceberg(
                spark, path, partition_filter={"p": [0]}
            ).collect()
        }
        assert got == {k: k * 10 + (1 if k % 5 == 0 else 0)
                       for k in range(30) if k % 3 == 0}

    def test_merge_and_upsert_single_snapshot(self, spark, tmp_path):
        """merge_iceberg and upsert_iceberg share the single-commit
        shape: one snapshot per verb, no observable intermediate state,
        and (for upsert) the same-commit equality delete never touches
        the same-commit appended rows (strictly-before seq scoping)."""
        from etl_market_survey_spark.sources.iceberg import (
            merge_iceberg, read_iceberg, read_iceberg_changes,
            table_history, upsert_iceberg, write_iceberg,
        )

        path = str(tmp_path / "ium1")
        write_iceberg(
            spark, path,
            spark.createDataFrame(
                [(i, i * 10) for i in range(10)], "k long, v long"
            ),
            commit_ts=100,
        )
        # MERGE: update evens, insert new keys — ONE snapshot
        n0 = len(table_history(path))
        src = spark.createDataFrame(
            [(k, k * 10 + 1) for k in range(0, 14, 2)], "k long, v long"
        )
        sid = merge_iceberg(spark, path, src, ["k"], commit_ts=200)
        hist = table_history(path)
        assert len(hist) == n0 + 1
        assert hist[-1]["snapshot_id"] == sid
        assert hist[-1]["operation"] == "overwrite"
        got = {r["k"]: r["v"] for r in read_iceberg(spark, path).collect()}
        assert got == {
            k: (k * 10 + 1 if k % 2 == 0 else k * 10)
            for k in list(range(10)) + [10, 12]
        }
        feed = [r for r in read_iceberg_changes(spark, path).collect()
                if r["_snapshot_id"] == sid]
        assert {r["_change_type"] for r in feed} == {"delete", "insert"}
        # UPSERT: ONE snapshot; re-appended keys live, delete seq-scoped
        n1 = len(table_history(path))
        sid2 = upsert_iceberg(
            spark, path,
            spark.createDataFrame(
                [(11, 999), (50, 500)], "k long, v long"
            ),
            ["k"], commit_ts=300,
        )
        hist = table_history(path)
        assert len(hist) == n1 + 1
        assert hist[-1]["snapshot_id"] == sid2
        got = {r["k"]: r["v"] for r in read_iceberg(spark, path).collect()}
        assert got[11] == 999 and got[50] == 500 and len(got) == 14
        # every snapshot in history remains a consistent full state
        # (never a deleted-only intermediate)
        for h, want_n in zip(hist, (10, 12, 14)):
            assert read_iceberg(
                spark, path, snapshot_id=h["snapshot_id"]
            ).count() == want_n

    def test_noop_and_unknown_column(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            table_history, update_rows_where_iceberg, write_iceberg,
        )

        path = str(tmp_path / "iuw2")
        write_iceberg(spark, path,
                      spark.createDataFrame([(1, 10)], "k long, v long"),
                      commit_ts=100)
        with pytest.raises(ValueError, match="unknown columns"):
            update_rows_where_iceberg(spark, path, "k = 1", {"zz": "1"},
                                      commit_ts=200)
        n = len(table_history(path))
        update_rows_where_iceberg(spark, path, "k = 999", {"v": "0"},
                                  commit_ts=300)
        assert len(table_history(path)) == n


class TestRewriteDataFiles:
    def test_deletes_materialized_and_content_stable(
        self, spark, tmp_path
    ):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, delete_rows_where_iceberg, read_iceberg,
            rewrite_data_files, snapshot_delete_files, snapshot_files,
            write_iceberg,
        )

        path = str(tmp_path / "rw1")
        df = spark.createDataFrame(
            [(i, i * 10, str(i % 3)) for i in range(60)],
            "k long, v long, p string",
        )
        write_iceberg(spark, path, df.filter("k < 30"),
                      partition_col="p", commit_ts=100)
        write_iceberg(spark, path, df.filter("k >= 30"),
                      partition_col="p", commit_ts=200)
        delete_rows_where_iceberg(spark, path, "k % 10 = 0",
                                  commit_ts=300)
        delete_rows_equality(spark, path, [{"k": 7}], cols=["k"],
                             commit_ts=400)
        before = {tuple(r) for r in read_iceberg(spark, path).collect()}
        n_before = len(snapshot_files(path))
        rewrite_data_files(spark, path, commit_ts=500)
        after = {tuple(r) for r in read_iceberg(spark, path).collect()}
        assert after == before
        assert len(snapshot_files(path)) < n_before
        assert snapshot_delete_files(path) == []  # MOR debt paid
        # pre-compaction snapshots still time-travel
        assert read_iceberg(spark, path, as_of_ms=250).count() == 60

    def test_sort_by_tightens_bounds(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, rewrite_data_files, snapshot_files,
            write_iceberg,
        )

        path = str(tmp_path / "rw2")
        # interleaved writes: every file spans the whole k range
        df = spark.range(4000).selectExpr(
            "CAST((id * 48271) % 10007 AS LONG) AS k", "id AS v"
        )
        write_iceberg(spark, path, df, commit_ts=100)
        rewrite_data_files(spark, path, sort_by=["k"], n_files=8,
                           commit_ts=200)
        files = snapshot_files(path)
        assert len(files) >= 4
        # clustered: a narrow k slice prunes most files
        pruned = read_iceberg(spark, path,
                              stats_filter={"k": (100, 400)})
        assert 0 < len(pruned.inputFiles()) < len(files)


class TestNamedRefs:
    def test_tag_read_and_expiry_protection(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            drop_ref, expire_snapshots, read_iceberg, set_ref,
            write_iceberg,
        )

        path = str(tmp_path / "ref1")
        s1 = write_iceberg(spark, path,
                           spark.createDataFrame([(1,)], "k long"),
                           commit_ts=100)
        write_iceberg(spark, path,
                      spark.createDataFrame([(2,)], "k long"),
                      commit_ts=200)
        set_ref(path, "train_v3", s1)
        assert {r["k"] for r in read_iceberg(spark, path,
                                             ref="train_v3").collect()} \
            == {1}
        # the tagged snapshot survives keep=1 expiry
        expire_snapshots(spark, path, keep=1)
        assert {r["k"] for r in read_iceberg(spark, path,
                                             ref="train_v3").collect()} \
            == {1}
        assert read_iceberg(spark, path).count() == 2
        drop_ref(path, "train_v3")
        with pytest.raises(ValueError, match="no ref"):
            read_iceberg(spark, path, ref="train_v3")

    def test_unknown_snapshot_and_both_args_rejected(
        self, spark, tmp_path
    ):
        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, set_ref, write_iceberg,
        )

        path = str(tmp_path / "ref2")
        s1 = write_iceberg(spark, path,
                           spark.createDataFrame([(1,)], "k long"),
                           commit_ts=100)
        with pytest.raises(ValueError, match="no snapshot"):
            set_ref(path, "x", 424242)
        set_ref(path, "x", s1)
        with pytest.raises(ValueError, match="not both"):
            read_iceberg(spark, path, ref="x", snapshot_id=s1)

    def test_refs_survive_subsequent_writes(self, spark, tmp_path):
        # regression: data commits rebuilt metadata WITHOUT the refs
        # map, so the next append/overwrite/delete silently deleted
        # every named ref
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_where_iceberg, read_iceberg, set_ref,
            write_iceberg,
        )

        path = str(tmp_path / "ref3")
        s1 = write_iceberg(spark, path,
                           spark.createDataFrame([(1,)], "k long"),
                           commit_ts=100)
        set_ref(path, "pinned", s1)
        write_iceberg(spark, path,
                      spark.createDataFrame([(2,)], "k long"),
                      mode="append", commit_ts=200)
        write_iceberg(spark, path,
                      spark.createDataFrame([(3,)], "k long"),
                      mode="overwrite", commit_ts=300)
        delete_rows_where_iceberg(spark, path, "k = 999", commit_ts=400)
        assert {r["k"] for r in read_iceberg(spark, path,
                                             ref="pinned").collect()} \
            == {1}


class TestCheckConstraints:
    def test_all_write_paths_enforce(self, spark, tmp_path, held_cache):
        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, read_delta, update_rows_where, write_delta,
        )

        path = str(tmp_path / "cc1")
        t = spark.createDataFrame([(i, i * 10) for i in range(1, 6)],
                                  "k long, v long")
        write_delta(spark, path, t, commit_ts=100,
                    properties={"delta.constraints.v_positive": "v > 0"})
        with pytest.raises(ValueError, match="v_positive"):
            write_delta(spark, path,
                        spark.createDataFrame([(9, -1)],
                                              "k long, v long"),
                        commit_ts=200)
        with pytest.raises(ValueError, match="v_positive"):
            update_rows_where(spark, path, "k = 1", {"v": "-5"},
                              commit_ts=300)
        with pytest.raises(ValueError, match="v_positive"):
            merge_delta(spark, path,
                        spark.createDataFrame([(1, -2)],
                                              "k long, v long"),
                        ["k"], commit_ts=400)
        assert held_cache() == (True, 0)  # the failed writes freed theirs
        # nothing committed by the failed writes; valid writes pass
        write_delta(spark, path,
                    spark.createDataFrame([(9, 90)], "k long, v long"),
                    commit_ts=500)
        assert read_delta(spark, path).count() == 6
        # null constraint results are violations too (SQL CHECK is
        # 'not false' in ANSI; Delta enforces 'true' — the strict rule)
        with pytest.raises(ValueError, match="v_positive"):
            write_delta(spark, path,
                        spark.createDataFrame([(10, None)],
                                              "k long, v long"),
                        commit_ts=600)


class TestMetadataRetention:
    def test_old_metadata_expired_current_kept(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            expire_metadata_versions, read_iceberg, write_iceberg,
        )

        path = str(tmp_path / "mr1")
        for i in range(6):
            write_iceberg(spark, path,
                          spark.createDataFrame([(i,)], "k long"),
                          commit_ts=100 * (i + 1))
        gone = expire_metadata_versions(path, keep=2)
        assert len(gone) == 4
        assert read_iceberg(spark, path).count() == 6
        # snapshot-addressed time travel unaffected
        assert read_iceberg(spark, path, as_of_ms=250).count() == 2


class TestIcebergLiteRef:
    def test_ref_option(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            set_ref, write_iceberg,
        )
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(IcebergLiteDataSource)
        path = str(tmp_path / "lr1")
        s1 = write_iceberg(spark, path,
                           spark.createDataFrame([(1,)], "k long"),
                           commit_ts=100)
        write_iceberg(spark, path,
                      spark.createDataFrame([(2,)], "k long"),
                      commit_ts=200)
        set_ref(path, "pinned", s1)
        got = {r["k"] for r in spark.read.format("iceberg_lite")
               .option("ref", "pinned").load(path).collect()}
        assert got == {1}


class TestMergeIceberg:
    """merge_iceberg — MERGE INTO with clause semantics on the
    merge-on-read path (position deletes + append), sharing
    merge_delta's parameter surface and logical change set."""

    def _base(self, spark, p, cdf=False):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        t = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
             (4, "d", 40.0)],
            "k long, s string, v double",
        )
        write_iceberg(spark, p, t, commit_ts=100)
        return spark.createDataFrame(
            [(2, "B", 200.0), (3, "C", 1.0), (9, "I", 90.0)],
            "k long, s string, v double",
        )

    def test_upsert_shape_matches_merge_delta(self, spark, tmp_path):
        """Plain update+insert MERGE: both formats must produce the
        identical logical table from the same base and source."""
        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, read_delta, write_delta,
        )
        from etl_market_survey_spark.sources.iceberg import (
            merge_iceberg, read_iceberg,
        )

        pi, pd_ = str(tmp_path / "mi1"), str(tmp_path / "md1")
        src = self._base(spark, pi)
        t = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
             (4, "d", 40.0)],
            "k long, s string, v double",
        )
        write_delta(spark, pd_, t, commit_ts=100)
        merge_iceberg(spark, pi, src, ["k"], commit_ts=200)
        merge_delta(spark, pd_, src, ["k"], commit_ts=200)
        assert sorted(map(tuple, read_iceberg(spark, pi).collect())) == \
            sorted(map(tuple, read_delta(spark, pd_).collect()))

    def test_clause_conditions_and_by_source(self, spark, tmp_path):
        """matched_condition gates which matched rows update; the
        by-source clause deletes target rows absent from the source,
        gated by its own condition — identical across formats."""
        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, read_delta, write_delta,
        )
        from etl_market_survey_spark.sources.iceberg import (
            merge_iceberg, read_iceberg,
        )

        pi, pd_ = str(tmp_path / "mi2"), str(tmp_path / "md2")
        src = self._base(spark, pi)
        t = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
             (4, "d", 40.0)],
            "k long, s string, v double",
        )
        write_delta(spark, pd_, t, commit_ts=100)
        kw = dict(
            matched_condition="s.v > t.v",
            when_not_matched_by_source="delete",
            by_source_condition="v > 35",
            commit_ts=200,
        )
        merge_iceberg(spark, pi, src, ["k"], **kw)
        merge_delta(spark, pd_, src, ["k"], **kw)
        got_i = sorted(map(tuple, read_iceberg(spark, pi).collect()))
        got_d = sorted(map(tuple, read_delta(spark, pd_).collect()))
        # k=2 updates (200>20); k=3 keeps (1<30); k=4 dies (40>35, no
        # source match); k=1 survives (10<35); k=9 inserts
        assert got_i == sorted(
            [(1, "a", 10.0), (2, "B", 200.0), (3, "c", 30.0),
             (9, "I", 90.0)]
        )
        assert got_i == got_d

    def test_not_matched_condition_gates_insert(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            merge_iceberg, read_iceberg,
        )

        p = str(tmp_path / "mi3")
        src = self._base(spark, p)
        merge_iceberg(
            spark, p, src, ["k"], when_matched=None,
            not_matched_condition="v < 100", commit_ts=200,
        )
        got = sorted(r["k"] for r in read_iceberg(spark, p).collect())
        assert got == [1, 2, 3, 4, 9]  # only k=9 (v=90) inserts

    def test_delete_clause_and_changelog(self, spark, tmp_path):
        """A matched-delete MERGE surfaces in the changelog as
        row-exact deletes (the q388-style feed contract)."""
        from etl_market_survey_spark.sources.iceberg import (
            merge_iceberg, read_iceberg, read_iceberg_changes,
        )

        p = str(tmp_path / "mi4")
        src = self._base(spark, p)
        merge_iceberg(
            spark, p, src.select("k"), ["k"], when_matched="delete",
            when_not_matched=None, commit_ts=200,
        )
        assert sorted(
            r["k"] for r in read_iceberg(spark, p).collect()
        ) == [1, 4]
        feed = read_iceberg_changes(spark, p, 1)
        assert sorted(
            (r["k"], r["_change_type"]) for r in feed.collect()
        ) == [(2, "delete"), (3, "delete")]

    def test_multi_match_raises(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import merge_iceberg

        p = str(tmp_path / "mi5")
        self._base(spark, p)
        dup = spark.createDataFrame(
            [(2, "x", 1.0), (2, "y", 2.0)], "k long, s string, v double"
        )
        with pytest.raises(ValueError, match="multiple source rows"):
            merge_iceberg(spark, p, dup, ["k"], commit_ts=200)

    def test_no_op_merge_returns_current_snapshot(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            merge_iceberg, table_history,
        )

        p = str(tmp_path / "mi6")
        self._base(spark, p)
        n_before = len(table_history(p))
        miss = spark.createDataFrame([(99,)], "k long")
        sid = merge_iceberg(
            spark, p, miss, ["k"], when_matched="delete",
            when_not_matched=None, commit_ts=200,
        )
        assert len(table_history(p)) == n_before
        assert sid is not None

    def test_delta_clause_cdf_pairing(self, spark, tmp_path):
        """The Delta clause path must keep CDF exact: update pre/post
        pairs for condition-passing rows, delete for by-source rows,
        insert for not-matched — nothing for condition-failing rows."""
        from etl_market_survey_spark.sources.deltalog import (
            merge_delta, read_delta_changes, write_delta,
        )

        p = str(tmp_path / "mi7")
        t = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
             (4, "d", 40.0)],
            "k long, s string, v double",
        )
        write_delta(spark, p, t, commit_ts=100,
                    properties={"delta.enableChangeDataFeed": "true"})
        src = spark.createDataFrame(
            [(2, "B", 200.0), (3, "C", 1.0), (9, "I", 90.0)],
            "k long, s string, v double",
        )
        merge_delta(
            spark, p, src, ["k"], matched_condition="s.v > t.v",
            when_not_matched_by_source="delete",
            by_source_condition="v > 35", commit_ts=200,
        )
        feed = read_delta_changes(spark, p, 1)
        assert sorted(
            (r["k"], r["_change_type"]) for r in feed.collect()
        ) == [
            (2, "update_postimage"), (2, "update_preimage"),
            (4, "delete"), (9, "insert"),
        ]


class TestDataFrameManifestPlanning:
    """snapshot_files_df_iceberg / read_iceberg_pruned — the many-file
    planning path (VERDICT r8 item 6, q397's Iceberg twin): the driver
    reads ONE manifest list; every manifest decodes inside its own
    Arrow task; pruning is Catalyst filters; survivors-only collect."""

    def _table(self, spark, p):
        from etl_market_survey_spark.sources import iceberg as ice

        for i in range(4):
            ice.write_iceberg(
                spark, p,
                spark.range(i * 100, i * 100 + 100).select(
                    F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
                ),
                partition_col="k", partition_transform="bucket[4]",
                commit_ts=100 + i,
            )
        ice.delete_rows_where_iceberg(spark, p, "k % 50 = 0",
                                      commit_ts=500)

    def test_entries_df_matches_driver_loop(self, spark, tmp_path):
        from etl_market_survey_spark.sources import iceberg as ice

        p = str(tmp_path / "mdf1")
        self._table(spark, p)
        df_rows = {
            r["file_path"]: r
            for r in ice.snapshot_files_df_iceberg(spark, p).collect()
            if r["m_content"] == 0
        }
        loop = {f["file_path"]: f for f in ice.snapshot_files(p)}
        assert set(df_rows) == set(loop)
        for fp, f in loop.items():
            r = df_rows[fp]
            assert r["record_count"] == f["record_count"]
            assert r["_seq"] == f["_seq"]
            assert r["bounds_json"] == f.get("bounds_json")
        # delete entries surface too, with their sequence numbers
        dels_df = {
            r["file_path"]: r["_seq"]
            for r in ice.snapshot_files_df_iceberg(spark, p).collect()
            if r["m_content"] == 1
        }
        dels_loop = {
            f["file_path"]: f["_seq"]
            for f in ice.snapshot_delete_files(p)
        }
        assert dels_df == dels_loop

    def test_pruned_read_parity_no_driver_manifest_decode(
        self, spark, tmp_path, monkeypatch
    ):
        """Parity with read_iceberg under every filter kind, with the
        driver POISONED against decoding any manifest file — only the
        manifest LIST may be read driver-side; per-manifest decoding
        must happen in the executors' tasks."""
        from etl_market_survey_spark.sources import iceberg as ice

        p = str(tmp_path / "mdf2")
        self._table(spark, p)
        want_full = sorted(
            map(tuple, ice.read_iceberg(spark, p).collect())
        )
        flt_p = {"k": [7, 130]}      # transform-aware (bucket[4])
        flt_s = {"k": (10, 20)}
        want_p = sorted(map(tuple, ice.read_iceberg(
            spark, p, partition_filter=flt_p).collect()))
        want_s = sorted(map(tuple, ice.read_iceberg(
            spark, p, stats_filter=flt_s).collect()))

        real = ice.read_avro_records

        def guard(fp, *a, **k):
            if "manifest-" in os.path.basename(fp):
                raise AssertionError(
                    f"driver decoded manifest {fp} — the DataFrame "
                    "planner must decode manifests in executor tasks"
                )
            return real(fp, *a, **k)

        monkeypatch.setattr(ice, "read_avro_records", guard)
        assert sorted(map(tuple, ice.read_iceberg_pruned(
            spark, p).collect())) == want_full
        assert sorted(map(tuple, ice.read_iceberg_pruned(
            spark, p, partition_filter=flt_p).collect())) == want_p
        pruned_s = ice.read_iceberg_pruned(spark, p, stats_filter=flt_s)
        assert sorted(map(tuple, pruned_s.collect())) == want_s
        # stats pruning actually pruned the scan
        assert len(pruned_s.inputFiles()) < len(
            ice.read_iceberg_pruned(spark, p).inputFiles()
        )

    def test_filtered_read_iceberg_routes_through_pruned(
        self, spark, tmp_path, monkeypatch
    ):
        """Mirror of read_delta's checkpoint rule: a FILTERED read of a
        many-manifest table plans through read_iceberg_pruned; the
        driver loop stays the small-table fast path."""
        from etl_market_survey_spark.sources import iceberg as ice

        p = str(tmp_path / "mdf4")
        self._table(spark, p)
        calls = []
        real = ice.read_iceberg_pruned

        def spy(*a, **k):
            calls.append(k)
            return real(*a, **k)

        monkeypatch.setattr(ice, "read_iceberg_pruned", spy)
        flt = {"stats_filter": {"k": (10, 20)}}
        # below threshold: dict loop
        want = sorted(map(tuple,
                          ice.read_iceberg(spark, p, **flt).collect()))
        assert calls == []
        monkeypatch.setattr(ice, "_PRUNED_PLANNING_MANIFESTS", 1)
        got = sorted(map(tuple,
                         ice.read_iceberg(spark, p, **flt).collect()))
        assert len(calls) == 1  # routed
        assert got == want
        # unfiltered read never routes
        ice.read_iceberg(spark, p).collect()
        assert len(calls) == 1

    def test_identity_partition_type_parity(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r9 (medium): the pruned path's partition compare must
        be TYPED — JSON text diverges from str(v) for bool ('true' vs
        'True') and float ('5.0' vs '5'), silently wrong-pruning
        matching files, and filtered read_iceberg AUTO-ROUTES here past
        the manifest threshold. Sweep identity partitions over
        {bool, int, float, date, string}: driver-loop read_iceberg ==
        read_iceberg_pruned row-for-row on filtered reads, and both
        match an independently computed expectation."""
        import datetime

        from etl_market_survey_spark.sources import iceberg as ice

        cases = [
            ("bool", "id % 2 = 0", [True]),
            ("int", "CAST(id % 3 AS INT)", [1, 2]),
            ("float", "CAST(id % 4 AS DOUBLE) / 2", [1, 0.5]),
            ("date", "date_add(DATE'2024-01-01', CAST(id % 3 AS INT))",
             [datetime.date(2024, 1, 2), "2024-01-03"]),
            ("string", "concat('g', id % 3)", ["g0", "g2"]),
        ]
        for name, expr, filt_vals in cases:
            p = str(tmp_path / f"tpar_{name}")
            full = spark.range(0, 40).selectExpr(
                "id", f"{expr} AS pk", "id * 2 AS v"
            )
            for lo in (0, 20):
                ice.write_iceberg(
                    spark, p,
                    full.filter(f"id >= {lo} AND id < {lo + 20}"),
                    partition_col="pk", commit_ts=100 + lo,
                )
            flt = {"pk": filt_vals}
            # independent expectation: row-level filter on the input
            lits = ", ".join(
                f"DATE'{v}'" if name == "date"
                else repr(v) if isinstance(v, str)
                else str(v)
                for v in (
                    [datetime.date(2024, 1, 2), datetime.date(2024, 1, 3)]
                    if name == "date" else filt_vals
                )
            )
            expect = sorted(map(tuple, full.filter(
                f"pk IN ({lits})").collect()))
            assert expect, f"{name}: degenerate case — empty expectation"
            n_full = full.count()
            assert len(expect) < n_full, f"{name}: filter not selective"
            # driver-loop path (route disabled)
            monkeypatch.setattr(ice, "_PRUNED_PLANNING_MANIFESTS", 10**9)
            loop = sorted(map(tuple, ice.read_iceberg(
                spark, p, partition_filter=flt).collect()))
            assert loop == expect, f"{name}: driver loop diverged"
            # pruned path, via the forced auto-route
            monkeypatch.setattr(ice, "_PRUNED_PLANNING_MANIFESTS", 1)
            routed = sorted(map(tuple, ice.read_iceberg(
                spark, p, partition_filter=flt).collect()))
            assert routed == expect, f"{name}: pruned path diverged"
            # and the pruned scan really pruned files
            pruned_scan = ice.read_iceberg_pruned(
                spark, p, partition_filter=flt)
            assert len(pruned_scan.inputFiles()) < len(
                ice.read_iceberg_pruned(spark, p).inputFiles()
            ), f"{name}: partition filter pruned nothing"

    def test_time_travel_snapshot_id(self, spark, tmp_path):
        from etl_market_survey_spark.sources import iceberg as ice

        p = str(tmp_path / "mdf3")
        self._table(spark, p)
        hist = ice.table_history(p)
        sid = hist[1]["snapshot_id"]  # after 2nd append, pre-delete
        assert sorted(
            r["k"] for r in ice.read_iceberg_pruned(
                spark, p, snapshot_id=sid).collect()
        ) == sorted(
            r["k"] for r in ice.read_iceberg(
                spark, p, snapshot_id=sid).collect()
        )


class TestRemoveOrphanFiles:
    def test_orphans_deleted_referenced_kept(self, spark, tmp_path):
        import os

        from etl_market_survey_spark.sources.iceberg import (
            read_iceberg, remove_orphan_files, write_iceberg,
        )

        p = str(tmp_path / "orph")
        d = spark.createDataFrame([(1, 2.0), (2, 4.0)], "k long, v double")
        write_iceberg(spark, p, d, commit_ts=100)
        write_iceberg(spark, p, d, commit_ts=200)
        before = sorted(map(tuple, read_iceberg(spark, p).collect()))
        # plant debris: an aborted write's staged parquet + a stray
        # manifest from a lost metadata race
        orphan_data = os.path.join(p, "data", "deadbeef-orphan.parquet")
        orphan_meta = os.path.join(p, "metadata", "manifest-orphan.avro")
        for f in (orphan_data, orphan_meta):
            with open(f, "wb") as fh:
                fh.write(b"debris")
        # ADVICE r8: default grace is now-3d (real Iceberg's default) —
        # freshly staged debris is protected, even in dry_run listing
        assert remove_orphan_files(p, dry_run=True) == []
        listed = remove_orphan_files(p, dry_run=True, force=True)
        assert set(listed) == {
            "data/deadbeef-orphan.parquet", "metadata/manifest-orphan.avro"
        }
        deleted = remove_orphan_files(p, force=True)
        assert set(deleted) == set(listed)
        assert not os.path.exists(orphan_data)
        assert not os.path.exists(orphan_meta)
        # every referenced byte survives: table reads identically
        assert sorted(map(tuple, read_iceberg(spark, p).collect())) \
            == before

    def test_older_than_guards_inflight(self, spark, tmp_path):
        import os
        import time

        from etl_market_survey_spark.sources.iceberg import (
            remove_orphan_files, write_iceberg,
        )

        p = str(tmp_path / "orph2")
        write_iceberg(spark, p,
                      spark.createDataFrame([(1,)], "k long"),
                      commit_ts=100)
        fresh = os.path.join(p, "data", "inflight.parquet")
        with open(fresh, "wb") as fh:
            fh.write(b"staging")
        cutoff = int((time.time() - 3600) * 1000)  # 1h ago
        assert remove_orphan_files(p, older_than_ms=cutoff) == []
        assert os.path.exists(fresh)
        # the DEFAULT cutoff (now-3d) guards an in-flight writer's
        # staged parquet the same way — the concurrent _IcebergLiteWriter
        # stages under data/ before the metadata publish (ADVICE r8)
        assert remove_orphan_files(p) == []
        assert os.path.exists(fresh)
        # force sweeps it regardless of age
        assert remove_orphan_files(p, force=True) == ["data/inflight.parquet"]
        assert not os.path.exists(fresh)


class TestWriteAuditPublish:
    """write_iceberg(branch=...) + fast_forward: the WAP staging flow."""

    def _base(self, spark, path):
        df = spark.range(60).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        write_iceberg(spark, path, df, commit_ts=100)
        return df

    def test_staged_then_published(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import fast_forward

        path = str(tmp_path / "wap1")
        df = self._base(spark, path)
        extra = df.withColumn("k", F.col("k") + 1000)
        write_iceberg(spark, path, extra, mode="append", commit_ts=200,
                      branch="audit")
        # staged: invisible on main, visible via the branch ref
        assert read_iceberg(spark, path).count() == 60
        assert read_iceberg(spark, path, ref="audit").count() == 120
        # time travel on main never sees the staged snapshot
        assert read_iceberg(spark, path, as_of_ms=250).count() == 60
        # a second branch write builds on the BRANCH head
        write_iceberg(spark, path, extra.withColumn("k", F.col("k") + 1000),
                      mode="append", commit_ts=300, branch="audit")
        assert read_iceberg(spark, path, ref="audit").count() == 180
        assert read_iceberg(spark, path).count() == 60
        sid = fast_forward(path, "audit", commit_ts=400)
        assert read_iceberg(spark, path).count() == 180
        assert read_iceberg(spark, path, snapshot_id=sid).count() == 180
        # idempotent: already published is a no-op
        assert fast_forward(path, "audit", commit_ts=500) == sid
        # after publish the branch commits ARE main lineage: time
        # travel between them resolves to the first branch commit
        assert read_iceberg(spark, path, as_of_ms=250).count() == 120

    def test_discard_and_changelog_hygiene(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            drop_ref,
            read_iceberg_changes,
        )

        path = str(tmp_path / "wap2")
        df = self._base(spark, path)
        write_iceberg(spark, path, df.withColumn("k", F.col("k") + 500),
                      mode="append", commit_ts=200, branch="bad")
        # the staged snapshot never reaches the main changelog
        ch = read_iceberg_changes(spark, path)
        assert ch.count() == 60
        assert ch.filter(F.col("k") >= 500).count() == 0
        drop_ref(path, "bad")
        assert read_iceberg(spark, path).count() == 60
        with pytest.raises(ValueError, match="no ref"):
            read_iceberg(spark, path, ref="bad")

    def test_non_fast_forward_refused(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import fast_forward

        path = str(tmp_path / "wap3")
        df = self._base(spark, path)
        write_iceberg(spark, path, df, mode="append", commit_ts=200,
                      branch="b")
        write_iceberg(spark, path, df, mode="append", commit_ts=300)  # main moves
        with pytest.raises(ValueError, match="not a fast-forward"):
            fast_forward(path, "b")

    def test_branch_validation(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            fast_forward,
            set_ref,
        )

        path = str(tmp_path / "wap4")
        df = self._base(spark, path)
        set_ref(path, "v1", kind="tag")
        with pytest.raises(ValueError, match="tag, not a branch"):
            write_iceberg(spark, path, df, mode="append", branch="v1")
        with pytest.raises(ValueError, match="tag, not a branch"):
            fast_forward(path, "v1")
        with pytest.raises(ValueError, match="existing table"):
            write_iceberg(spark, str(tmp_path / "nope"), df, branch="x")
        with pytest.raises(ValueError, match="no ref"):
            fast_forward(path, "ghost")

    def test_publish_with_drop(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            _load_metadata,
            fast_forward,
        )

        path = str(tmp_path / "wap5")
        df = self._base(spark, path)
        write_iceberg(spark, path, df, mode="append", commit_ts=200,
                      branch="wk")
        fast_forward(path, "wk", drop=True, commit_ts=300)
        assert read_iceberg(spark, path).count() == 120
        assert "wk" not in (_load_metadata(path).get("refs") or {})


class TestMetadataTables:
    def test_kinds_and_snapshot_pinning(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            metadata_table,
            table_history,
        )

        path = str(tmp_path / "meta1")
        df = spark.range(40).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("p"),
        )
        write_iceberg(spark, path, df, partition_col="p", commit_ts=100)
        write_iceberg(spark, path, df.filter("k < 8"), mode="append",
                      partition_col="p", commit_ts=200)
        files = metadata_table(spark, path, "files").toPandas()
        assert files["record_count"].sum() == 48
        assert files["partition_json"].str.contains('"p":').all()
        # pinned to the first snapshot: only the first commit's files
        hist = table_history(path)
        first = metadata_table(
            spark, path, "files", snapshot_id=hist[0]["snapshot_id"]
        ).toPandas()
        assert first["record_count"].sum() == 40
        mans = metadata_table(spark, path, "manifests").toPandas()
        assert (mans["content"] == 0).all() and len(mans) >= 1
        snaps = metadata_table(spark, path, "snapshots").toPandas()
        assert list(snaps["operation"]) == ["append", "append"]
        assert snaps["parent_id"].iloc[1] == snaps["snapshot_id"].iloc[0]
        import pytest as _pt

        with _pt.raises(ValueError, match="unknown metadata table"):
            metadata_table(spark, path, "nope")

    def test_history_flags_staged_branch(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import metadata_table

        path = str(tmp_path / "meta2")
        df = spark.range(10).select(F.col("id").alias("k"))
        write_iceberg(spark, path, df, commit_ts=100)
        write_iceberg(spark, path, df, mode="append", commit_ts=200,
                      branch="wip")
        hist = metadata_table(spark, path, "history").toPandas()
        assert len(hist) == 2
        assert sorted(hist["is_current_ancestor"]) == [False, True]
        refs = metadata_table(spark, path, "refs").toPandas()
        assert list(refs["name"]) == ["wip"]
        assert list(refs["type"]) == ["branch"]


class TestBranchDml:
    def test_branch_delete_stays_staged(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_where_iceberg,
            fast_forward,
            read_iceberg_changes,
        )

        path = str(tmp_path / "bdml1")
        df = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        write_iceberg(spark, path, df, commit_ts=100)
        write_iceberg(spark, path, df.withColumn("k", F.col("k") + 100),
                      mode="append", commit_ts=200, branch="a")
        delete_rows_where_iceberg(spark, path, "k >= 140", commit_ts=300,
                                  branch="a")
        assert read_iceberg(spark, path).count() == 50
        assert read_iceberg(spark, path, ref="a").count() == 90
        # the staged delete never reaches the main changelog pre-publish
        assert read_iceberg_changes(spark, path).count() == 50
        fast_forward(path, "a", commit_ts=400)
        assert read_iceberg(spark, path).count() == 90
        # after publish the changelog replays the branch commits too
        ch = read_iceberg_changes(spark, path)
        assert ch.filter("_change_type = 'delete'").count() == 10

    def test_branch_delete_forks_from_main(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_where_iceberg,
        )

        path = str(tmp_path / "bdml2")
        df = spark.range(30).select(F.col("id").alias("k"))
        write_iceberg(spark, path, df, commit_ts=100)
        delete_rows_where_iceberg(spark, path, "k < 5", commit_ts=200,
                                  branch="fix")
        assert read_iceberg(spark, path).count() == 30
        assert read_iceberg(spark, path, ref="fix").count() == 25
        # no-op branch delete returns the branch head, commits nothing
        from etl_market_survey_spark.sources.iceberg import resolve_ref

        head = resolve_ref(path, "fix")
        got = delete_rows_where_iceberg(spark, path, "k > 999",
                                        commit_ts=300, branch="fix")
        assert got == head

    def test_branch_delete_refuses_tag(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_where_iceberg,
            set_ref,
        )

        path = str(tmp_path / "bdml3")
        df = spark.range(10).select(F.col("id").alias("k"))
        write_iceberg(spark, path, df, commit_ts=100)
        set_ref(path, "v1", kind="tag")
        with pytest.raises(ValueError, match="tag, not a branch"):
            delete_rows_where_iceberg(spark, path, "k < 2", branch="v1")


class TestBranchUpdate:
    def test_branch_update_single_snapshot(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            fast_forward,
            metadata_table,
            resolve_ref,
            update_rows_where_iceberg,
        )

        path = str(tmp_path / "bupd")
        df = spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        write_iceberg(spark, path, df, commit_ts=100)
        write_iceberg(spark, path, df.withColumn("k", F.col("k") + 100),
                      mode="append", commit_ts=200, branch="a")
        sid = update_rows_where_iceberg(
            spark, path, "k >= 100", {"v": "v + 1"}, commit_ts=300,
            branch="a",
        )
        assert sid == resolve_ref(path, "a")
        # ONE branch snapshot for the update (delete + append together)
        snaps = metadata_table(spark, path, "snapshots").toPandas()
        assert len(snaps) == 3
        # main untouched; branch shows updated values
        assert read_iceberg(spark, path).count() == 40
        branch = read_iceberg(spark, path, ref="a")
        assert branch.filter("k >= 100 AND v % 10 = 1").count() == 40
        assert branch.filter("k < 100 AND v % 10 != 0").count() == 0
        fast_forward(path, "a", commit_ts=400)
        pub = read_iceberg(spark, path)
        assert pub.count() == 80
        assert pub.filter("v % 10 = 1").count() == 40

    def test_branch_update_no_match_is_noop(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            resolve_ref,
            update_rows_where_iceberg,
        )

        path = str(tmp_path / "bupd2")
        df = spark.range(10).select(F.col("id").alias("k"))
        write_iceberg(spark, path, df, commit_ts=100)
        write_iceberg(spark, path, df, mode="append", commit_ts=200,
                      branch="a")
        head = resolve_ref(path, "a")
        got = update_rows_where_iceberg(
            spark, path, "k > 999", {"k": "k"}, commit_ts=300, branch="a"
        )
        assert got == head


class TestBranchMerge:
    def test_branch_merge_all_clauses(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            fast_forward,
            merge_iceberg,
            metadata_table,
            resolve_ref,
        )

        path = str(tmp_path / "bmerge")
        df = spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        write_iceberg(spark, path, df, commit_ts=100)
        write_iceberg(spark, path, df.select((F.col("k") + 100).alias("k"), "v"),
                      mode="append", commit_ts=200, branch="a")
        # source updates staged keys 100-109, inserts 300-304, and the
        # by-source clause expires every key the source doesn't carry
        src = spark.range(10).select(
            (F.col("id") + 100).alias("k"),
            F.lit(7).cast("long").alias("v"),
        ).unionByName(
            spark.range(5).select(
                (F.col("id") + 300).alias("k"),
                F.lit(9).cast("long").alias("v"),
            )
        )
        sid = merge_iceberg(
            spark, path, src, ["k"],
            when_matched="update", when_not_matched="insert",
            when_not_matched_by_source="delete",
            commit_ts=300, branch="a",
        )
        assert sid == resolve_ref(path, "a")
        # ONE branch snapshot for the whole merge
        assert len(metadata_table(spark, path, "snapshots").toPandas()) == 3
        # main untouched until publish
        assert read_iceberg(spark, path).count() == 20
        b = read_iceberg(spark, path, ref="a")
        assert b.count() == 15  # 10 updated + 5 inserted, rest expired
        assert b.filter("v = 7").count() == 10
        assert b.filter("v = 9").count() == 5
        fast_forward(path, "a", commit_ts=400)
        assert read_iceberg(spark, path).count() == 15

    def test_branch_merge_noop_returns_branch_head(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            merge_iceberg,
            resolve_ref,
        )

        path = str(tmp_path / "bmerge2")
        df = spark.range(10).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
        )
        write_iceberg(spark, path, df, commit_ts=100)
        write_iceberg(spark, path, df.select((F.col("k") + 50).alias("k"), "v"),
                      mode="append", commit_ts=200, branch="a")
        head = resolve_ref(path, "a")
        src = spark.range(3).select(
            (F.col("id") + 900).alias("k"), F.lit(2).cast("long").alias("v")
        )
        got = merge_iceberg(spark, path, src, ["k"],
                            when_matched="update", when_not_matched=None,
                            commit_ts=300, branch="a")
        assert got == head
