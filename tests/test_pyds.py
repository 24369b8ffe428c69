"""delta_lite Python Data Source (sources/pyds): registered-format
batch reads (DVs, column mapping, partitions, time travel) and the
exactly-once streaming source over the commit log."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_market_survey_spark.sources.deltalog import (
    add_deletion_vectors,
    load_snapshot,
    read_delta,
    write_checkpoint,
    write_delta,
)
from etl_market_survey_spark.sources.pyds import DeltaLiteDataSource


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(DeltaLiteDataSource)
    return spark


class TestBatch:
    def test_matches_read_delta(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "b1")
        d = spark.createDataFrame(
            [(i, str(i % 3)) for i in range(30)], "k long, p string"
        )
        write_delta(spark, path, d, partition_col="p", commit_ts=100,
                    column_mapping=True)
        rel = sorted(load_snapshot(path).adds)[0]
        add_deletion_vectors(spark, path, {rel: [0, 1]}, commit_ts=200)

        via_ds = spark.read.format("delta_lite").load(path)
        via_api = read_delta(spark, path)
        # same names and types (nullability flags differ: the scan
        # path re-derives them, the data source keeps schemaString's)
        assert [(f.name, f.dataType) for f in via_ds.schema.fields] == [
            (f.name, f.dataType) for f in via_api.schema.fields
        ]
        assert sorted(map(tuple, via_ds.collect())) == sorted(
            map(tuple, via_api.collect())
        )

    def test_version_as_of(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "b2")
        write_delta(spark, path,
                    spark.createDataFrame([(1,)], "k long"), commit_ts=100)
        write_delta(spark, path,
                    spark.createDataFrame([(2,)], "k long"), commit_ts=200)
        old = (spark.read.format("delta_lite").option("versionAsOf", 0)
               .load(path))
        assert [r["k"] for r in old.collect()] == [1]

    def test_one_partition_per_file(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "b3")
        d = spark.createDataFrame(
            [(i, str(i % 4)) for i in range(16)], "k long, p string"
        )
        write_delta(spark, path, d, partition_col="p", commit_ts=100)
        df = spark.read.format("delta_lite").load(path)
        assert df.rdd.getNumPartitions() == 4  # one per live file

    def test_missing_path_rejected(self, registered):
        with pytest.raises(Exception, match="load"):
            registered.read.format("delta_lite").load()


class TestStreaming:
    def _drain(self, spark, path, ckpt, sink, **opts):
        reader = spark.readStream.format("delta_lite")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(path)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_incremental_exactly_once(self, registered, tmp_path):
        spark = registered
        path, ckpt, sink = (str(tmp_path / n) for n in ("t", "c", "s"))
        write_delta(spark, path,
                    spark.createDataFrame([(1,), (2,)], "k long"),
                    commit_ts=100)
        self._drain(spark, path, ckpt, sink)
        assert sorted(
            r["k"] for r in spark.read.parquet(sink).collect()
        ) == [1, 2]
        write_delta(spark, path,
                    spark.createDataFrame([(3,)], "k long"), commit_ts=200)
        self._drain(spark, path, ckpt, sink)  # recovery from checkpoint
        assert sorted(
            r["k"] for r in spark.read.parquet(sink).collect()
        ) == [1, 2, 3]
        self._drain(spark, path, ckpt, sink)  # no new versions: no dupes
        assert sorted(
            r["k"] for r in spark.read.parquet(sink).collect()
        ) == [1, 2, 3]

    def test_starting_version(self, registered, tmp_path):
        spark = registered
        path, ckpt, sink = (str(tmp_path / n) for n in ("t2", "c2", "s2"))
        write_delta(spark, path,
                    spark.createDataFrame([(1,)], "k long"), commit_ts=100)
        write_delta(spark, path,
                    spark.createDataFrame([(2,)], "k long"), commit_ts=200)
        self._drain(spark, path, ckpt, sink, startingVersion=1)
        assert sorted(
            r["k"] for r in spark.read.parquet(sink).collect()
        ) == [2]

    def test_data_change_removes_fail_without_option(
        self, registered, tmp_path
    ):
        spark = registered
        path, ckpt, sink = (str(tmp_path / n) for n in ("t3", "c3", "s3"))
        d = spark.range(0, 6).select(F.col("id").alias("k"))
        write_delta(spark, path, d.orderBy("k"), commit_ts=100)
        rel = next(iter(load_snapshot(path).adds))
        add_deletion_vectors(spark, path, {rel: [0]}, commit_ts=200)
        with pytest.raises(Exception, match="ignoreChanges"):
            self._drain(spark, path, ckpt, sink)
        # with ignoreChanges the rewritten file re-emits, DV applied
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
        self._drain(spark, path, ckpt, sink, ignoreChanges="true")
        ks = sorted(r["k"] for r in spark.read.parquet(sink).collect())
        # v0 emits 0..5; v1 re-emits the rewritten file with its DV
        # applied (k=0 gone) — the documented ignoreChanges duplication
        assert ks == sorted([0, 1, 2, 3, 4, 5] + [1, 2, 3, 4, 5])


class TestIcebergLite:
    """iceberg_lite registered format: Avro-manifest planning driver-
    side, pyarrow scans, merge-on-read deletes inside the reader."""

    @pytest.fixture()
    def ice_registered(self, spark):
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(IcebergLiteDataSource)
        return spark

    def test_matches_read_iceberg(self, ice_registered, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_equality, delete_rows_iceberg, read_iceberg,
            snapshot_files, upsert_iceberg, write_iceberg,
        )

        spark = ice_registered
        path = str(tmp_path / "il1")
        d = spark.createDataFrame(
            [(i, i * 10) for i in range(20)], "k long, v long"
        )
        write_iceberg(spark, path, d.orderBy("k"), commit_ts=100)
        rel = snapshot_files(path)[0]["file_path"]
        delete_rows_iceberg(spark, path, {rel: [0, 1]}, commit_ts=200)
        delete_rows_equality(spark, path, [{"k": 7}], cols=["k"],
                             commit_ts=300)
        # re-append a deleted key: must be reborn in BOTH readers
        write_iceberg(spark, path,
                      spark.createDataFrame([(7, -7)], "k long, v long"),
                      commit_ts=400)

        via_ds = spark.read.format("iceberg_lite").load(path)
        via_api = read_iceberg(spark, path)
        assert sorted(map(tuple, via_ds.collect())) == sorted(
            map(tuple, via_api.collect())
        )
        got = {r["k"]: r["v"] for r in via_ds.collect()}
        assert 0 not in got and 1 not in got and got[7] == -7

        # an int64 key column holding a null: keys above 2**53 must not
        # collide with the deleted key through a float64 round trip
        path = str(tmp_path / "il1_int64")
        write_iceberg(
            spark, path,
            spark.createDataFrame([(2**53 + 1, 1), (None, 2), (5, 3)],
                                  "k long, v long"),
            commit_ts=100,
        )
        upsert_iceberg(spark, path,
                       spark.createDataFrame([(2**53, 4)], "k long, v long"),
                       ["k"], commit_ts=200)
        via_ds = spark.read.format("iceberg_lite").load(path)
        via_api = read_iceberg(spark, path)
        want = {(2**53 + 1, 1), (None, 2), (5, 3), (2**53, 4)}
        assert set(map(tuple, via_api.collect())) == want
        assert sorted(map(tuple, via_ds.collect()), key=repr) == sorted(
            want, key=repr
        )

    def test_snapshot_time_travel(self, ice_registered, tmp_path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        spark = ice_registered
        path = str(tmp_path / "il2")
        s1 = write_iceberg(spark, path,
                           spark.createDataFrame([(1,)], "k long"),
                           commit_ts=100)
        write_iceberg(spark, path,
                      spark.createDataFrame([(2,)], "k long"),
                      commit_ts=200)
        old = (spark.read.format("iceberg_lite")
               .option("snapshotId", s1).load(path))
        assert [r["k"] for r in old.collect()] == [1]

    def test_one_partition_per_file(self, ice_registered, tmp_path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        spark = ice_registered
        path = str(tmp_path / "il3")
        d = spark.createDataFrame(
            [(i, str(i % 3)) for i in range(12)], "k long, p string"
        )
        write_iceberg(spark, path, d, partition_col="p", commit_ts=100)
        df = spark.read.format("iceberg_lite").load(path)
        assert df.rdd.getNumPartitions() == 3
        assert df.count() == 12


class TestDataSourceSchemaEvolution:
    """Both registered formats must null-fill pre-evolution files
    instead of crashing on missing physical columns."""

    def test_delta_lite_evolved_table(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "ev1")
        write_delta(spark, path,
                    spark.createDataFrame([(1, 10)], "k long, v long"),
                    commit_ts=100, column_mapping=True)
        write_delta(
            spark, path,
            spark.createDataFrame([(2, 20, "x")],
                                  "k long, v long, w string"),
            commit_ts=200, merge_schema=True,
        )
        df = spark.read.format("delta_lite").load(path)
        got = {r["k"]: r["w"] for r in df.collect()}
        assert got == {1: None, 2: "x"}

    def test_iceberg_lite_evolved_table(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            _current_version, _load_metadata, read_iceberg, write_iceberg,
        )
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(IcebergLiteDataSource)
        path = str(tmp_path / "ev2")
        write_iceberg(spark, path,
                      spark.createDataFrame([(1, 10)], "k long, v long"),
                      commit_ts=100)
        write_iceberg(
            spark, path,
            spark.createDataFrame([(2, 20, "x")],
                                  "k long, v long, w string"),
            commit_ts=200, merge_schema=True,
        )
        df = spark.read.format("iceberg_lite").load(path)
        got = {r["k"]: r["w"] for r in df.collect()}
        assert got == {1: None, 2: "x"}

        # the same metadata laid out as other writers do (format v2: a
        # ``schemas`` list and ``current-schema-id``, no ``schema``)
        # reads with the schema the id names, not the first one listed
        version = _current_version(path)
        meta = _load_metadata(path, version)
        evolved = meta.pop("schema")
        meta["schemas"] = [
            dict(evolved, fields=evolved["fields"][:2], **{"schema-id": 0}),
            dict(evolved, **{"schema-id": 1}),
        ]
        meta["current-schema-id"] = 1
        with open(os.path.join(path, "metadata",
                               f"v{version}.metadata.json"), "w") as f:
            json.dump(meta, f)
        for df in (read_iceberg(spark, path),
                   spark.read.format("iceberg_lite").load(path)):
            assert {r["k"]: r["w"] for r in df.collect()} == {1: None, 2: "x"}


class TestIdModeSupported:
    def test_column_mapping_id_mode_reads(self, registered, tmp_path):
        """mode='id' resolves columns by parquet FIELD ID. Until r8
        delta_lite refused these tables (reading by physicalName could
        silently return wrong columns); the reader now resolves through
        each file's PARQUET:field_id metadata. A 'name'-mode table
        flipped to 'id' stays readable because staging stamps field
        ids in both modes."""
        import json
        import os

        spark = registered
        path = str(tmp_path / "idm")
        write_delta(spark, path,
                    spark.createDataFrame([(1, "a")], "k long, s string"),
                    commit_ts=100, column_mapping=True)
        # rewrite the metaData action's mapping mode to 'id'
        log = os.path.join(path, "_delta_log")
        f0 = os.path.join(log, f"{0:020d}.json")
        lines = [json.loads(x) for x in open(f0) if x.strip()]
        for a in lines:
            md = a.get("metaData")
            if md:
                md["configuration"]["delta.columnMapping.mode"] = "id"
        with open(f0, "w") as fh:
            for a in lines:
                fh.write(json.dumps(a) + "\n")
        assert [
            tuple(r) for r in
            spark.read.format("delta_lite").load(path).collect()
        ] == [(1, "a")]


class TestPartitionedStreamReader:
    def test_stream_is_partition_planned(self):
        """VERDICT r6 item 4: the stream side must be the partition-
        planning DataSourceStreamReader (per-file executor reads), not
        SimpleDataSourceStreamReader (driver-side micro-batches)."""
        from pyspark.sql.datasource import DataSourceStreamReader

        from etl_market_survey_spark.sources.pyds import (
            _DeltaLiteStreamReader,
        )

        assert issubclass(_DeltaLiteStreamReader, DataSourceStreamReader)
        # streamReader (not simpleStreamReader) is overridden
        assert "streamReader" in DeltaLiteDataSource.__dict__
        assert "simpleStreamReader" not in DeltaLiteDataSource.__dict__

    def test_drain_parity_hash_vs_batch(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "pp1")
        sink = str(tmp_path / "pp_sink")
        ckpt = str(tmp_path / "pp_ckpt")
        for i in range(3):  # 3 commits, partitioned -> many files
            d = spark.createDataFrame(
                [(i * 100 + j, str(j % 3)) for j in range(30)],
                "k long, p string",
            )
            write_delta(spark, path, d, partition_col="p",
                        commit_ts=100 * (i + 1))
        # plan check: the reader plans one partition per live file
        from etl_market_survey_spark.sources.pyds import (
            _DeltaLiteStreamReader,
        )

        r = _DeltaLiteStreamReader(path, False, None)
        parts = r.partitions({"version": -1}, r.latestOffset())
        assert len(parts) == len(load_snapshot(path).adds)
        q = (
            spark.readStream.format("delta_lite").load(path)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        drained = {
            tuple(r) for r in spark.read.parquet(sink).collect()
        }
        batch = {
            tuple(r)
            for r in spark.read.format("delta_lite").load(path).collect()
        }
        assert drained == batch


class TestFilterPushdownPruning:
    """Spark 4.1 Python-source pushdown: comparison filters prune
    FILES (partition values exactly, data columns via log min/max
    stats); rows keep the Spark-side residual, so results are exact."""

    def _table(self, spark, path):
        d = spark.createDataFrame(
            [(i, str(i % 3)) for i in range(60)], "k long, p string"
        )
        write_delta(spark, path, d, partition_col="p", commit_ts=100)
        return d

    def _planned(self, path, filters):
        from etl_market_survey_spark.sources.pyds import _DeltaLiteReader

        r = _DeltaLiteReader(path, None)
        residual = list(r.pushFilters(filters))
        return r.partitions(), residual

    def test_partition_value_pruning(self, registered, tmp_path):
        from pyspark.sql.datasource import EqualTo, In

        spark = registered
        path = str(tmp_path / "fp1")
        self._table(spark, path)
        all_parts, _ = self._planned(path, [])
        eq_parts, residual = self._planned(path, [EqualTo(("p",), "1")])
        assert len(eq_parts) < len(all_parts)
        assert all(p.partition_values.get("p") == "1" for p in eq_parts)
        assert len(residual) == 1  # every filter stays Spark-side
        in_parts, _ = self._planned(path, [In(("p",), ("0", "2"))])
        assert {p.partition_values.get("p") for p in in_parts} == {"0", "2"}

    def test_stats_interval_pruning(self, registered, tmp_path):
        from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

        spark = registered
        path = str(tmp_path / "fp2")
        # three commits -> three files with disjoint k ranges
        for i in range(3):
            d = spark.createDataFrame(
                [(i * 100 + j,) for j in range(50)], "k long"
            )
            write_delta(spark, path, d, commit_ts=100 * (i + 1))
        all_parts, _ = self._planned(path, [])
        assert len(all_parts) == 3
        hi, _ = self._planned(path, [GreaterThan(("k",), 120)])
        assert len(hi) == 2  # file [0,49] pruned by maxValues
        lo, _ = self._planned(path, [LessThanOrEqual(("k",), 49)])
        assert len(lo) == 1

    def test_results_exact_with_pruning(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "fp3")
        d = self._table(spark, path)
        got = sorted(
            map(tuple, spark.read.format("delta_lite").load(path)
                .filter("p = '1' AND k > 10").collect())
        )
        want = sorted(
            map(tuple, d.filter("p = '1' AND k > 10").collect())
        )
        assert got == want and got

    def test_pushdown_false_escape_hatch(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "fp4")
        d = self._table(spark, path)
        got = sorted(
            map(tuple, spark.read.format("delta_lite")
                .option("pushdown", "false").load(path)
                .filter("p = '2'").collect())
        )
        assert got == sorted(map(tuple, d.filter("p = '2'").collect()))


class TestIcebergLitePushdown:
    """iceberg_lite pushFilters: transform-aware partition pruning
    (bucket EqualTo/In; monotonic transforms get weakened range
    bounds) + bounds_json interval pruning; rows keep the residual."""

    @pytest.fixture()
    def ice_registered(self, spark):
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(IcebergLiteDataSource)
        return spark

    def _planned(self, path, filters):
        from etl_market_survey_spark.sources.pyds_iceberg import (
            _IcebergLiteReader,
        )

        r = _IcebergLiteReader(path, None)
        residual = list(r.pushFilters(filters))
        return r.partitions(), residual

    def test_bucket_partition_pruning(self, ice_registered, tmp_path):
        from pyspark.sql.datasource import EqualTo

        from etl_market_survey_spark.sources.iceberg import write_iceberg
        from etl_market_survey_spark.sources.iceberg_transforms import (
            transform_value,
        )

        spark = ice_registered
        path = str(tmp_path / "ip1")
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(64)], "k long, v long"
        )
        write_iceberg(spark, path, df, partition_col="k",
                      partition_transform="bucket[8]", commit_ts=100)
        all_parts, _ = self._planned(path, [])
        eq_parts, residual = self._planned(path, [EqualTo(("k",), 17)])
        assert len(residual) == 1
        assert len(eq_parts) < len(all_parts)
        b = transform_value("bucket", 8, 17, "long")
        assert all(f"k_bucket={b}/" in p.rel for p in eq_parts)
        got = sorted(map(tuple, spark.read.format("iceberg_lite")
                         .load(path).filter("k = 17").collect()))
        assert got == [(17, 170)]

    def test_identity_and_bounds_pruning(self, ice_registered, tmp_path):
        from pyspark.sql.datasource import EqualTo, GreaterThan

        from etl_market_survey_spark.sources.iceberg import write_iceberg

        spark = ice_registered
        path = str(tmp_path / "ip2")
        df = spark.createDataFrame(
            [(i, f"c{i % 3}") for i in range(30)], "k long, cat string"
        )
        write_iceberg(spark, path, df, partition_col="cat", commit_ts=100)
        all_parts, _ = self._planned(path, [])
        eq_parts, _ = self._planned(path, [EqualTo(("cat",), "c1")])
        assert len(eq_parts) == 1 and "cat=c1" in eq_parts[0].rel
        # bounds_json pruning on a NON-partition column: k spans are
        # per-partition-file; a k > 29 filter prunes everything
        none_parts, _ = self._planned(path, [GreaterThan(("k",), 29)])
        assert none_parts == []
        got = sorted(map(tuple, spark.read.format("iceberg_lite")
                         .load(path)
                         .filter("cat = 'c1' AND k > 10").collect()))
        want = sorted(map(tuple, df.filter("cat = 'c1' AND k > 10")
                          .collect()))
        assert got == want and got

    def test_truncate_range_weakened_not_overpruned(
        self, ice_registered, tmp_path
    ):
        from pyspark.sql.datasource import GreaterThan

        from etl_market_survey_spark.sources.iceberg import write_iceberg

        spark = ice_registered
        path = str(tmp_path / "ip3")
        df = spark.createDataFrame([(i,) for i in range(40)], "k long")
        write_iceberg(spark, path, df, partition_col="k",
                      partition_transform="truncate[10]", commit_ts=100)
        # k > 15: bucket k_trunc=10 STRADDLES the bound (16..19 live
        # there) and must be kept; k_trunc=0 is provably disjoint
        parts, _ = self._planned(path, [GreaterThan(("k",), 15)])
        rels = {p.rel for p in parts}
        assert not any("k_trunc=0/" in r for r in rels)
        assert any("k_trunc=10/" in r for r in rels)
        got = {r["k"] for r in spark.read.format("iceberg_lite")
               .load(path).filter("k > 15").collect()}
        assert got == set(range(16, 40))

    def test_pushdown_false_escape_hatch(self, ice_registered, tmp_path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        spark = ice_registered
        path = str(tmp_path / "ip4")
        df = spark.createDataFrame([(i,) for i in range(10)], "k long")
        write_iceberg(spark, path, df, commit_ts=100)
        got = {r["k"] for r in spark.read.format("iceberg_lite")
               .option("pushdown", "false").load(path)
               .filter("k >= 5").collect()}
        assert got == set(range(5, 10))


class TestStreamingChangeFeed:
    """readChangeFeed streaming: per-version change partitions (cdc
    sidecars exclusive; insert/delete file scans; row-exact DV
    position deltas), drained exactly-once; parity vs the batch feed."""

    def test_drain_matches_batch_cdf(self, registered, tmp_path, jobs_in):
        from etl_market_survey_spark.sources.deltalog import (
            _change_walk, add_deletion_vectors, compact, delete_where,
            load_snapshot, merge_delta, read_delta_changes, restore_delta,
        )

        spark = registered
        path = str(tmp_path / "scf1")
        sink = str(tmp_path / "scf1_sink")
        ckpt = str(tmp_path / "scf1_ckpt")
        t = spark.createDataFrame(
            [(i, i * 10, str(i % 2)) for i in range(10)],
            "k long, v long, p string",
        )
        write_delta(spark, path, t, partition_col="p", commit_ts=100,
                    properties={"delta.enableChangeDataFeed": "true"})
        merge_delta(spark, path,
                    spark.createDataFrame([(3, 333, "1"), (50, 500, "0")],
                                          "k long, v long, p string"),
                    ["k"], commit_ts=200)
        rel = min(load_snapshot(path).adds)
        add_deletion_vectors(spark, path, {rel: [0]}, commit_ts=300)
        add_deletion_vectors(spark, path, {rel: [1]}, commit_ts=400)
        restore_delta(spark, path, 2, commit_ts=500)  # the DV shrinks
        delete_where(spark, path, partition_values=["0"], commit_ts=600)
        write_delta(spark, path,  # a second file for compaction to merge
                    spark.createDataFrame([(11, 110, "1")],
                                          "k long, v long, p string"),
                    partition_col="p", commit_ts=650)
        assert compact(spark, path, commit_ts=700) == 7
        walk, n_jobs = jobs_in(f"cdf-walk-{tmp_path.name}",
                               lambda: _change_walk(path, 1, 7))
        assert n_jobs == 0
        kinds = [
            (bool(c.cdc), bool(c.inserts), bool(c.deletes),
             sorted({ct for _, ct, _ in c.dv_deltas}))
            for c in walk
        ]
        assert kinds == [
            (True, False, False, []),  # MERGE with cdc sidecars
            (False, False, False, ["delete"]),  # DV grows
            (False, False, False, ["delete"]),
            (False, False, False, ["insert"]),  # RESTORE shrinks it
            (False, False, True, []),  # partition delete
            (False, True, False, []),
            (False, False, False, []),  # compaction: no data change
        ]
        q = (
            spark.readStream.format("delta_lite")
            .option("readChangeFeed", "true")
            .option("startingVersion", "1")
            .load(path)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["_change_type"], r["_commit_version"], r["k"], r["v"])
            for r in spark.read.parquet(sink).collect()
        }
        want = {
            (r["_change_type"], r["_commit_version"], r["k"], r["v"])
            for r in read_delta_changes(spark, path, 1).collect()
        }
        assert got == want
        assert {"update_preimage", "update_postimage", "insert",
                "delete"} <= {g[0] for g in got}

    def test_incremental_restart_is_exactly_once(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "scf2")
        sink = str(tmp_path / "scf2_sink")
        ckpt = str(tmp_path / "scf2_ckpt")
        write_delta(spark, path,
                    spark.createDataFrame([(1, 10)], "k long, v long"),
                    commit_ts=100,
                    properties={"delta.enableChangeDataFeed": "true"})

        def drain():
            q = (
                spark.readStream.format("delta_lite")
                .option("readChangeFeed", "true")
                .load(path)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()
        write_delta(spark, path,
                    spark.createDataFrame([(2, 20)], "k long, v long"),
                    commit_ts=200)
        drain()
        drain()  # nothing new: must add zero rows
        rows = [
            (r["_change_type"], r["_commit_version"], r["k"])
            for r in spark.read.parquet(sink).collect()
        ]
        assert sorted(rows) == [("insert", 0, 1), ("insert", 1, 2)]


class TestTimestampAsOf:
    def test_timestamp_time_travel(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "tsa1")
        write_delta(spark, path,
                    spark.createDataFrame([(1,)], "k long"), commit_ts=100)
        write_delta(spark, path,
                    spark.createDataFrame([(2,)], "k long"), commit_ts=200)
        got = {r["k"] for r in spark.read.format("delta_lite")
               .option("timestampAsOf", "150").load(path).collect()}
        assert got == {1}
        both = {r["k"] for r in spark.read.format("delta_lite")
                .option("timestampAsOf", "250").load(path).collect()}
        assert both == {1, 2}
        with pytest.raises(Exception, match="not both"):
            spark.read.format("delta_lite").option("timestampAsOf", "150") \
                .option("versionAsOf", "0").load(path).schema
        with pytest.raises(Exception, match="no commit"):
            spark.read.format("delta_lite").option("timestampAsOf", "50") \
                .load(path).schema


class TestIcebergLiteStreaming:
    """iceberg_lite streamReader (VERDICT r7 item 3): snapshot-id
    offsets, partition-planned changelog mirroring the batch
    read_iceberg_changes algebra, exactly-once incremental drains,
    plain append mode refusing non-append snapshots."""

    @pytest.fixture()
    def ice(self, spark):
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(IcebergLiteDataSource)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        return spark

    def _drain(self, spark, path, sink, ckpt, changelog=True,
               from_sid=None):
        r = spark.readStream.format("iceberg_lite")
        if changelog:
            r = r.option("readChangelog", "true")
        if from_sid is not None:
            r = r.option("fromSnapshotId", str(from_sid))
        q = (
            r.load(path)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_changelog_drain_matches_batch(self, ice, tmp_path, jobs_in):
        from etl_market_survey_spark.sources.iceberg import (
            _change_walk, delete_rows_iceberg, read_iceberg_changes,
            snapshot_files, upsert_iceberg, write_iceberg,
        )

        spark = ice
        path = str(tmp_path / "ics1")
        sink = str(tmp_path / "ics1_sink")
        ckpt = str(tmp_path / "ics1_ckpt")
        t = spark.createDataFrame(
            [(i, i * 10) for i in range(40)], "k long, v long"
        )
        write_iceberg(spark, path, t.orderBy("k"), commit_ts=100)
        rel = snapshot_files(path)[0]["file_path"]
        delete_rows_iceberg(spark, path, {rel: [0, 7, 21]},
                            commit_ts=200)
        upsert_iceberg(
            spark, path,
            spark.createDataFrame([(5, 555), (100, 1000)],
                                  "k long, v long"),
            ["k"], commit_ts=300,
        )  # equality-delete snapshot + append snapshot
        # the overwrite drops the first file, which carries both a
        # position delete and an equality delete
        write_iceberg(
            spark, path,
            spark.createDataFrame([(7, 70), (200, 2000)], "k long, v long"),
            mode="overwrite", commit_ts=400,
        )
        walk, n_jobs = jobs_in(f"ice-walk-{tmp_path.name}",
                               lambda: _change_walk(path))
        assert n_jobs == 0
        assert [
            (len(c.added), len(c.dropped), len(c.dropped_pos),
             len(c.dropped_eq), len(c.pos_deletes), len(c.eq_deletes))
            for c in walk
        ] == [
            (1, 0, 0, 0, 0, 0),
            (0, 0, 0, 0, 1, 0),
            (1, 0, 0, 0, 0, 1),  # the upsert: equality delete + append
            (1, 2, 1, 1, 0, 0),
        ]
        self._drain(spark, path, sink, ckpt)
        cols = ("k", "v", "_change_type", "_snapshot_id",
                "_commit_timestamp")
        got = sorted(
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(sink).collect()
        )
        want = sorted(
            tuple(r[c] for c in cols)
            for r in read_iceberg_changes(spark, path).collect()
        )
        assert got == want
        assert {"insert", "delete"} == {g[2] for g in got}

    def test_changelog_covers_dropped_files(self, ice, tmp_path):
        """An overwrite drops the previous live set: the stream must
        emit those rows as deletes WITH prior position deletes applied
        (already-dead rows are not re-emitted)."""
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_iceberg, read_iceberg_changes, snapshot_files,
            write_iceberg,
        )

        spark = ice
        path = str(tmp_path / "ics2")
        sink = str(tmp_path / "ics2_sink")
        ckpt = str(tmp_path / "ics2_ckpt")
        t = spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "k long, v long"
        )
        write_iceberg(spark, path, t.orderBy("k"), commit_ts=100)
        rel = snapshot_files(path)[0]["file_path"]
        delete_rows_iceberg(spark, path, {rel: [3]}, commit_ts=200)
        write_iceberg(
            spark, path,
            spark.createDataFrame([(99, 990)], "k long, v long"),
            mode="overwrite", commit_ts=300,
        )
        self._drain(spark, path, sink, ckpt)
        feed = spark.read.parquet(sink)
        dropped = {
            r["k"] for r in feed.filter(
                "_change_type = 'delete' AND _snapshot_id = 3"
            ).collect()
        }
        assert dropped == set(range(10)) - {3}  # pos-deleted row absent
        want = sorted(
            (r["k"], r["_change_type"], r["_snapshot_id"])
            for r in read_iceberg_changes(spark, path).collect()
        )
        got = sorted(
            (r["k"], r["_change_type"], r["_snapshot_id"])
            for r in feed.collect()
        )
        assert got == want

    def test_plain_append_incremental_exactly_once(self, ice, tmp_path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        spark = ice
        path = str(tmp_path / "ics3")
        sink = str(tmp_path / "ics3_sink")
        ckpt = str(tmp_path / "ics3_ckpt")
        write_iceberg(
            spark, path,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            commit_ts=100,
        )
        self._drain(spark, path, sink, ckpt, changelog=False)
        write_iceberg(
            spark, path,
            spark.createDataFrame([(2, 20)], "k long, v long"),
            commit_ts=200,
        )
        self._drain(spark, path, sink, ckpt, changelog=False)
        self._drain(spark, path, sink, ckpt, changelog=False)  # no-op
        rows = sorted(
            (r["k"], r["v"]) for r in spark.read.parquet(sink).collect()
        )
        assert rows == [(1, 10), (2, 20)]

    def test_plain_mode_refuses_non_append(self, ice, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from etl_market_survey_spark.sources.iceberg import write_iceberg

        spark = ice
        path = str(tmp_path / "ics4")
        sink = str(tmp_path / "ics4_sink")
        ckpt = str(tmp_path / "ics4_ckpt")
        write_iceberg(
            spark, path,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            commit_ts=100,
        )
        write_iceberg(
            spark, path,
            spark.createDataFrame([(2, 20)], "k long, v long"),
            mode="overwrite", commit_ts=200,
        )
        with pytest.raises(StreamingQueryException,
                           match="readChangelog"):
            self._drain(spark, path, sink, ckpt, changelog=False)

    def test_from_snapshot_id_is_exclusive(self, ice, tmp_path):
        from etl_market_survey_spark.sources.iceberg import write_iceberg

        spark = ice
        path = str(tmp_path / "ics5")
        sink = str(tmp_path / "ics5_sink")
        ckpt = str(tmp_path / "ics5_ckpt")
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
        self._drain(spark, path, sink, ckpt, from_sid=s1)
        rows = [(r["k"], r["_change_type"])
                for r in spark.read.parquet(sink).collect()]
        assert rows == [(2, "insert")]


class TestDeltaLiteWriter:
    """df.write.format("delta_lite") — the writer half of the
    registered data source (DataSourceArrowWriter + put-if-absent
    commit)."""

    def test_create_partitioned_roundtrip(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "w1")
        d = spark.createDataFrame(
            [(i, str(i % 3), i * 1.5) for i in range(60)],
            "k long, p string, v double",
        )
        (
            d.write.format("delta_lite").mode("append")
            .option("partitionCol", "p").option("commitTs", "100")
            .save(path)
        )
        back = spark.read.format("delta_lite").load(path)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, d.collect())
        )
        # library read path agrees (same log, same files)
        assert sorted(map(tuple, read_delta(spark, path).collect())) \
            == sorted(map(tuple, d.collect()))
        # the log carries per-file stats in
        # _write_single_parquet_with_stats' shape
        import json as _json

        snap = load_snapshot(path)
        assert snap.partition_columns == ["p"]
        for add in snap.adds.values():
            st = _json.loads(add["stats"])
            assert set(st) == {
                "numRecords", "minValues", "maxValues", "nullCount"
            }
            assert set(st["minValues"]) == {"k", "v"}  # pcol excluded

    def test_append_to_vanished_table_refuses(self, registered, tmp_path):
        """ADVICE r8: table existed at plan time (creating=False) but
        the log is gone at commit time. Committing version 0 with only
        add actions would publish a log with no metaData/protocol — a
        corrupt table every read rejects. Must raise instead."""
        import os
        import shutil

        from etl_market_survey_spark.sources.deltalog import (
            DeltaConcurrentWriteError,
        )
        from etl_market_survey_spark.sources.pyds import (
            _DeltaLiteWriter, _DeltaWriteCommit,
        )

        spark = registered
        path = str(tmp_path / "wvan")
        spark.createDataFrame([(1,)], "k long").write.format(
            "delta_lite"
        ).mode("append").save(path)
        # a writer planned against the existing table ...
        w = object.__new__(_DeltaLiteWriter)
        w.path = path
        w.creating = False
        w.overwrite = False
        w.commit_ts = 0
        w.prior_schema_string = None
        # ... whose table vanishes before commit
        shutil.rmtree(os.path.join(path, "_delta_log"))
        with pytest.raises(DeltaConcurrentWriteError, match="disappeared"):
            w.commit([_DeltaWriteCommit([])])
        # nothing was committed: no zombie version-0 log
        assert not os.path.exists(os.path.join(path, "_delta_log"))

    def test_append_overwrite_history(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "w2")
        a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, s string")
        b = spark.createDataFrame([(3, "z")], "k long, s string")
        a.write.format("delta_lite").mode("append").save(path)
        b.write.format("delta_lite").mode("append").save(path)
        assert spark.read.format("delta_lite").load(path).count() == 3
        b.write.format("delta_lite").mode("overwrite").save(path)
        assert [
            tuple(r) for r in
            spark.read.format("delta_lite").load(path).collect()
        ] == [(3, "z")]
        # time travel still sees the pre-overwrite versions
        assert (
            spark.read.format("delta_lite").option("versionAsOf", 1)
            .load(path).count()
        ) == 3

    def test_check_constraint_enforced_and_aborted(
        self, registered, tmp_path
    ):
        import glob

        spark = registered
        path = str(tmp_path / "w3")
        good = spark.createDataFrame([(1, 5), (2, 6)], "k long, v long")
        (
            good.write.format("delta_lite").mode("append")
            .option("property.delta.constraints.pos", "v >= 0")
            .save(path)
        )
        n_files = len(glob.glob(f"{path}/*.parquet"))
        bad = spark.createDataFrame([(9, -1)], "k long, v long")
        with pytest.raises(Exception, match="pos"):
            bad.write.format("delta_lite").mode("append").save(path)
        # no commit, and abort removed the staged files
        assert spark.read.format("delta_lite").load(path).count() == 2
        assert len(glob.glob(f"{path}/*.parquet")) == n_files

    def test_mapped_table_append_permuted_columns(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "w4")
        write_delta(
            spark, path,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            column_mapping=True, commit_ts=10,
        )
        # DS append in a DIFFERENT column order: mapped by name, and
        # the staged parquet must carry PHYSICAL column names
        perm = spark.createDataFrame([(20, 2)], "v long, k long")
        perm.write.format("delta_lite").mode("append").save(path)
        got = sorted(map(tuple, read_delta(spark, path).collect()))
        assert got == [(1, 10), (2, 20)]

    def test_schema_enforcement(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "w5")
        spark.createDataFrame([(1, 10)], "k long, v long").write.format(
            "delta_lite"
        ).mode("append").save(path)
        with pytest.raises(Exception, match="missing"):
            spark.createDataFrame([(1,)], "k long").write.format(
                "delta_lite"
            ).mode("append").save(path)
        with pytest.raises(Exception, match="type change"):
            spark.createDataFrame([(1, "s")], "k long, v string") \
                .write.format("delta_lite").mode("append").save(path)
        with pytest.raises(Exception, match="adds columns"):
            spark.createDataFrame(
                [(1, 2, 3)], "k long, v long, z long"
            ).write.format("delta_lite").mode("append").save(path)

    def test_blind_append_rebases_on_conflict(self, registered, tmp_path):
        """A commit that loses the put-if-absent race retries onto the
        winner's next version (the protocol's blind-append rule)."""
        from etl_market_survey_spark.sources.pyds import _DeltaLiteWriter

        spark = registered
        path = str(tmp_path / "w6")
        d = spark.createDataFrame([(1,)], "k long")
        d.write.format("delta_lite").mode("append").save(path)

        w = _DeltaLiteWriter(path, d.schema, False, {"committs": "50"})
        # concurrent writer wins version 1 while w is in flight
        write_delta(spark, path,
                    spark.createDataFrame([(2,)], "k long"), commit_ts=60)
        msg = w.write(iter(d.toPandas().pipe(
            __import__("pyarrow").Table.from_pandas
        ).to_batches()))
        w.commit([msg])
        assert sorted(
            r["k"] for r in
            spark.read.format("delta_lite").load(path).collect()
        ) == [1, 1, 2]

    def test_overwrite_conflict_raises(self, registered, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            DeltaConcurrentWriteError,
        )
        from etl_market_survey_spark.sources.pyds import _DeltaLiteWriter

        spark = registered
        path = str(tmp_path / "w7")
        d = spark.createDataFrame([(1,)], "k long")
        d.write.format("delta_lite").mode("append").save(path)
        w = _DeltaLiteWriter(path, d.schema, True, {})
        write_delta(spark, path,
                    spark.createDataFrame([(2,)], "k long"), commit_ts=60)
        msg = w.write(iter(d.toPandas().pipe(
            __import__("pyarrow").Table.from_pandas
        ).to_batches()))
        with pytest.raises(DeltaConcurrentWriteError):
            w.commit([msg])

    def test_null_partition_value(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "w8")
        d = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a")], "k long, p string"
        )
        d.write.format("delta_lite").mode("append").option(
            "partitionCol", "p"
        ).save(path)
        back = spark.read.format("delta_lite").load(path)
        assert sorted(
            (r["k"], r["p"]) for r in back.collect()
        ) == [(1, "a"), (2, None), (3, "a")]

    def test_cdf_property_and_feed(self, registered, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            read_delta_changes,
        )

        spark = registered
        path = str(tmp_path / "w9")
        d = spark.createDataFrame([(1,), (2,)], "k long")
        (
            d.write.format("delta_lite").mode("append")
            .option("property.delta.enableChangeDataFeed", "true")
            .save(path)
        )
        d.write.format("delta_lite").mode("append").save(path)
        feed = read_delta_changes(spark, path, 1, 1)
        assert [
            (r["k"], r["_change_type"]) for r in
            feed.orderBy("k").collect()
        ] == [(1, "insert"), (2, "insert")]


class TestIcebergLiteWriter:
    """df.write.format("iceberg_lite") — executor-staged parquet with
    spec-exact hidden transforms, committed through the library's
    manifest/metadata half."""

    @pytest.fixture()
    def ice(self, spark):
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(IcebergLiteDataSource)
        return spark

    def test_partition_value_path_quoted(self, ice, tmp_path):
        """ADVICE r8: a string partition value containing '/', '..' or
        '=' must not escape the partition directory or malform the
        layout — the staged path URL-quotes the value exactly like the
        Delta writer; manifests carry the raw value, so reads and
        partition pruning are unaffected."""
        import os

        from etl_market_survey_spark.sources.iceberg import (
            snapshot_files, write_iceberg,
        )

        spark = ice
        evil = ["a/b", "../up", "k=v", "plain"]
        d = spark.createDataFrame(
            [(v, i) for i, v in enumerate(evil)], "p string, n long"
        )
        for path, write in (
            (str(tmp_path / "iq_ds"),
             lambda pth: d.write.format("iceberg_lite").mode("append")
             .option("partitionCol", "p").option("commitTs", "100")
             .save(pth)),
            (str(tmp_path / "iq_lib"),
             lambda pth: write_iceberg(spark, pth, d, partition_col="p",
                                       commit_ts=100)),
        ):
            write(path)
            for f in snapshot_files(path):
                fp = f["file_path"]
                assert fp.startswith("data/p="), fp
                # exactly data/<dir>/<file> — the value never adds
                # depth, and no segment is a traversal step
                assert fp.count("/") == 2, fp
                assert all(s not in ("..", ".") for s in fp.split("/"))
                assert os.path.exists(os.path.join(path, fp)), fp
            # raw values round-trip through manifests untouched
            back = spark.read.format("iceberg_lite").load(path)
            assert sorted(map(tuple, back.collect())) == sorted(
                map(tuple, d.collect())
            )

    def test_bucket_create_matches_library_tuples(self, ice, tmp_path):
        """The DS writer's murmur3 bucket assignment must be
        bit-identical to write_iceberg's (both are the spec's
        Appendix-B hash) — compared as per-bucket row counts since the
        DS writer legitimately stages one file per (task, bucket)."""
        from collections import Counter

        from etl_market_survey_spark.sources.iceberg import (
            snapshot_files, write_iceberg,
        )

        spark = ice
        a, b = str(tmp_path / "iwa"), str(tmp_path / "iwb")
        d = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
        )
        write_iceberg(spark, a, d, partition_col="k",
                      partition_transform="bucket[4]", commit_ts=100)
        (
            d.write.format("iceberg_lite").mode("append")
            .option("partitionCol", "k")
            .option("partitionTransform", "bucket[4]")
            .option("commitTs", "100").save(b)
        )

        def per_bucket(p):
            c = Counter()
            for f in snapshot_files(p):
                c[str(f["partition"])] += f["record_count"]
            return dict(c)

        assert per_bucket(a) == per_bucket(b)
        assert sorted(map(tuple, spark.read.format("iceberg_lite")
                          .load(b).collect())) \
            == sorted(map(tuple, d.collect()))

    def test_append_inherits_spec_and_time_travel(self, ice, tmp_path):
        from etl_market_survey_spark.sources.iceberg import read_iceberg

        spark = ice
        p = str(tmp_path / "iw2")
        d1 = spark.createDataFrame([(1, "x"), (2, "y")], "k long, s string")
        d2 = spark.createDataFrame([(3, "x")], "k long, s string")
        (
            d1.write.format("iceberg_lite").mode("append")
            .option("partitionCol", "s").save(p)
        )
        # no partition options: the writer inherits the default spec
        d2.write.format("iceberg_lite").mode("append").save(p)
        assert spark.read.format("iceberg_lite").load(p).count() == 3
        assert read_iceberg(spark, p).count() == 3
        d2.write.format("iceberg_lite").mode("overwrite").save(p)
        assert [
            tuple(r) for r in
            spark.read.format("iceberg_lite").load(p).collect()
        ] == [(3, "x")]
        old = (spark.read.format("iceberg_lite")
               .option("snapshotId", 1).load(p))
        assert old.count() == 2

    def test_schema_enforcement(self, ice, tmp_path):
        spark = ice
        p = str(tmp_path / "iw3")
        spark.createDataFrame([(1, 10)], "k long, v long").write.format(
            "iceberg_lite"
        ).mode("append").save(p)
        with pytest.raises(Exception, match="missing"):
            spark.createDataFrame([(1,)], "k long").write.format(
                "iceberg_lite"
            ).mode("append").save(p)
        with pytest.raises(Exception, match="type change"):
            spark.createDataFrame([(1, "s")], "k long, v string") \
                .write.format("iceberg_lite").mode("append").save(p)
        with pytest.raises(Exception, match="adds column"):
            spark.createDataFrame(
                [(1, 2, 3)], "k long, v long, z long"
            ).write.format("iceberg_lite").mode("append").save(p)

    def test_append_preserves_delete_manifests(self, ice, tmp_path):
        """A DS append onto a merge-on-read table must carry the prior
        position-delete manifests forward — dropping them would
        resurrect deleted rows."""
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_where_iceberg, write_iceberg,
        )

        spark = ice
        p = str(tmp_path / "iw4")
        d = spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "k long, v long"
        )
        write_iceberg(spark, p, d, commit_ts=100)
        delete_rows_where_iceberg(spark, p, "k % 2 = 0", commit_ts=200)
        extra = spark.createDataFrame([(100, 1000)], "k long, v long")
        extra.write.format("iceberg_lite").mode("append").save(p)
        got = sorted(
            r["k"] for r in
            spark.read.format("iceberg_lite").load(p).collect()
        )
        assert got == [1, 3, 5, 7, 9, 100]

    def test_blind_append_rebases_on_conflict(self, ice, tmp_path):
        import pyarrow as pa

        from etl_market_survey_spark.sources.iceberg import write_iceberg
        from etl_market_survey_spark.sources.pyds_iceberg import (
            _IcebergLiteWriter,
        )

        spark = ice
        p = str(tmp_path / "iw5")
        d = spark.createDataFrame([(1,)], "k long")
        d.write.format("iceberg_lite").mode("append").save(p)
        w = _IcebergLiteWriter(p, d.schema, False, {})
        write_iceberg(spark, p,
                      spark.createDataFrame([(2,)], "k long"),
                      commit_ts=60)
        msg = w.write(iter(
            pa.Table.from_pandas(d.toPandas()).to_batches()
        ))
        w.commit([msg])
        assert sorted(
            r["k"] for r in
            spark.read.format("iceberg_lite").load(p).collect()
        ) == [1, 1, 2]

    def test_overwrite_conflict_raises(self, ice, tmp_path):
        import pyarrow as pa

        from etl_market_survey_spark.sources.iceberg import (
            IcebergConcurrentWriteError, write_iceberg,
        )
        from etl_market_survey_spark.sources.pyds_iceberg import (
            _IcebergLiteWriter,
        )

        spark = ice
        p = str(tmp_path / "iw6")
        d = spark.createDataFrame([(1,)], "k long")
        d.write.format("iceberg_lite").mode("append").save(p)
        w = _IcebergLiteWriter(p, d.schema, True, {})
        write_iceberg(spark, p,
                      spark.createDataFrame([(2,)], "k long"),
                      commit_ts=60)
        msg = w.write(iter(
            pa.Table.from_pandas(d.toPandas()).to_batches()
        ))
        with pytest.raises(IcebergConcurrentWriteError):
            w.commit([msg])

    def test_null_partition_value(self, ice, tmp_path):
        spark = ice
        p = str(tmp_path / "iw7")
        d = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a")], "k long, s string"
        )
        d.write.format("iceberg_lite").mode("append").option(
            "partitionCol", "s"
        ).save(p)
        assert sorted(
            (r["k"], r["s"]) for r in
            spark.read.format("iceberg_lite").load(p).collect()
        ) == [(1, "a"), (2, None), (3, "a")]

    def test_days_transform_roundtrip(self, ice, tmp_path):
        import datetime

        from etl_market_survey_spark.sources.iceberg import snapshot_files

        spark = ice
        p = str(tmp_path / "iw8")
        d = spark.range(6).select(
            F.col("id").alias("k"),
            F.date_add(
                F.lit(datetime.date(2024, 1, 1)), (F.col("id") % 2).cast("int")
            ).alias("d"),
        )
        d.write.format("iceberg_lite").mode("append").option(
            "partitionCol", "d"
        ).option("partitionTransform", "days").save(p)
        days = {f["partition"]["d_day"] for f in snapshot_files(p)}
        assert days == {19723, 19724}  # 2024-01-01 / 02 since epoch
        assert spark.read.format("iceberg_lite").load(p).count() == 6


class TestDeltaLiteStreamWriter:
    """df.writeStream.format("delta_lite") — exactly-once micro-batch
    commits through txn actions."""

    def _stream(self, spark, src, sink, ckpt, app="job"):
        q = (
            spark.readStream.format("delta_lite").load(src)
            .writeStream.format("delta_lite")
            .option("checkpointLocation", ckpt)
            .option("txnAppId", app)
            .trigger(availableNow=True)
            .start(sink)
        )
        q.awaitTermination(180)

    def test_end_to_end_and_restart_no_duplicates(
        self, registered, tmp_path
    ):
        spark = registered
        src = str(tmp_path / "s_src")
        sink = str(tmp_path / "s_sink")
        ckpt = str(tmp_path / "s_ckpt")
        write_delta(spark, src, spark.createDataFrame(
            [(i, i * 2.0) for i in range(50)], "k long, v double"
        ), commit_ts=100)
        write_delta(spark, src, spark.createDataFrame(
            [(i, i * 2.0) for i in range(50, 80)], "k long, v double"
        ), commit_ts=200)
        self._stream(spark, src, sink, ckpt)
        got = sorted(
            map(tuple, spark.read.format("delta_lite").load(sink).collect())
        )
        assert got == sorted(map(tuple, read_delta(spark, src).collect()))
        # restart from the same checkpoint: nothing new, nothing doubled
        self._stream(spark, src, sink, ckpt)
        assert spark.read.format("delta_lite").load(sink).count() == 80

    def test_crash_mid_batch_restart_exactly_once(
        self, registered, tmp_path
    ):
        """VERDICT r8 item 3: recovery through the REAL streaming
        machinery for both crash points of a batch, under the
        single-batch availableNow fallback the Python API forces.

        Crash A — a task died after staging parquet but before the
        sink commit: the table dir holds an orphan data file no log
        entry references. Crash B — the sink committed but the query
        died before Spark recorded the batch in its checkpoint:
        ``<ckpt>/commits/<n>`` is missing, so restart REPLAYS the
        batch against a sink that already has it. A restarted stream
        must deliver every source row exactly once through both."""
        import glob

        spark = registered
        src = str(tmp_path / "cr_src")
        sink = str(tmp_path / "cr_sink")
        ckpt = str(tmp_path / "cr_ckpt")
        write_delta(spark, src, spark.createDataFrame(
            [(i, i * 2.0) for i in range(40)], "k long, v double"
        ), commit_ts=100)
        self._stream(spark, src, sink, ckpt)
        assert spark.read.format("delta_lite").load(sink).count() == 40

        # -- crash A debris: an orphan staged file from a killed task
        orphan = os.path.join(sink, "part-9-deadbeef-orphan.parquet")
        src_file = glob.glob(f"{sink}/*.parquet")[0]
        shutil.copy(src_file, orphan)
        # -- crash B: drop the checkpoint's last commit marker so the
        # restart replays the batch the sink ALREADY committed
        cdir = os.path.join(ckpt, "commits")
        last = sorted(f for f in os.listdir(cdir) if not f.startswith("."))[-1]
        os.remove(os.path.join(cdir, last))
        crc = os.path.join(cdir, f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)  # Hadoop ChecksumFileSystem sibling

        write_delta(spark, src, spark.createDataFrame(
            [(i, i * 2.0) for i in range(40, 70)], "k long, v double"
        ), commit_ts=200)
        self._stream(spark, src, sink, ckpt)

        # SINGLE-BATCH FALLBACK CAVEAT (pinned): Spark's availableNow
        # fallback for Python stream sources re-runs ONLY the
        # uncommitted batch on this restart — the new source commit is
        # NOT picked up in the same drain (Spark WARNs exactly this).
        # Exactly-once holds: the replay is skipped, nothing doubled.
        got = sorted(
            r["k"] for r in
            spark.read.format("delta_lite").load(sink).collect()
        )
        assert got == list(range(40))  # replay skipped, no dup, no loss
        # a FOLLOW-UP drain delivers the new data exactly once
        self._stream(spark, src, sink, ckpt)
        got = sorted(
            r["k"] for r in
            spark.read.format("delta_lite").load(sink).collect()
        )
        assert got == list(range(70))  # no loss, no double-commit
        # the orphan is still on disk but NO log entry references it
        # (remove_orphan_files-class debris, invisible to readers)
        assert os.path.exists(orphan)
        snap = load_snapshot(sink)
        assert os.path.basename(orphan) not in {
            os.path.basename(p) for p in snap.adds
        }

    def test_replayed_batch_is_dropped(self, registered, tmp_path):
        """Calling commit twice with the same batch id (recovery
        replay) must commit once and delete the duplicate staging."""
        import glob

        import pyarrow as pa

        from etl_market_survey_spark.sources.deltalog import delta_history
        from etl_market_survey_spark.sources.pyds import (
            _DeltaLiteStreamWriter,
        )

        spark = registered
        sink = str(tmp_path / "s_replay")
        d = spark.createDataFrame([(1, 2.0)], "k long, v double")
        w = _DeltaLiteStreamWriter(sink, d.schema, False,
                                   {"txnappid": "rj"})
        batches = pa.Table.from_pandas(d.toPandas()).to_batches()
        m1 = w.write(iter(batches))
        w.commit([m1], 0)
        m2 = w.write(iter(
            pa.Table.from_pandas(d.toPandas()).to_batches()
        ))
        w.commit([m2], 0)  # replay of batch 0
        assert len(delta_history(sink)) == 1
        assert spark.read.format("delta_lite").load(sink).count() == 1
        # the replay's staged file was deleted, not orphaned
        assert len(glob.glob(f"{sink}/*.parquet")) == 1

    def test_complete_mode_rejected(self, registered, tmp_path):
        from etl_market_survey_spark.sources.pyds import (
            _DeltaLiteStreamWriter,
        )

        d = registered.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="append-only"):
            _DeltaLiteStreamWriter(
                str(tmp_path / "x"), d.schema, True, {}
            )

    def test_constraints_enforced_in_stream(self, registered, tmp_path):
        spark = registered
        src = str(tmp_path / "c_src")
        sink = str(tmp_path / "c_sink")
        ckpt = str(tmp_path / "c_ckpt")
        write_delta(spark, src, spark.createDataFrame(
            [(1, -5.0)], "k long, v double"
        ), commit_ts=100)
        # sink created WITH a CHECK the streamed rows violate
        (
            spark.createDataFrame([(0, 1.0)], "k long, v double")
            .write.format("delta_lite").mode("append")
            .option("property.delta.constraints.pos", "v >= 0")
            .save(sink)
        )
        q = (
            spark.readStream.format("delta_lite").load(src)
            .writeStream.format("delta_lite")
            .option("checkpointLocation", ckpt)
            .option("txnAppId", "cj")
            .trigger(availableNow=True)
            .start(sink)
        )
        with pytest.raises(Exception, match="pos"):
            q.awaitTermination(180)
        assert spark.read.format("delta_lite").load(sink).count() == 1


class TestIcebergLiteStreamWriter:
    """df.writeStream.format("iceberg_lite") — exactly-once via
    snapshot-summary epoch markers."""

    def _drain(self, spark, src, sink, ckpt, **opts):
        w = (
            spark.readStream.format("delta_lite").load(src)
            .writeStream.format("iceberg_lite")
            .option("checkpointLocation", ckpt)
            .option("txnAppId", "tij")
        )
        for k, v in opts.items():
            w = w.option(k, v)
        q = w.trigger(availableNow=True).start(sink)
        q.awaitTermination(180)

    def test_end_to_end_restart_and_new_epochs(self, registered, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            _load_metadata, read_iceberg,
        )
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark = registered
        spark.dataSource.register(IcebergLiteDataSource)
        src = str(tmp_path / "is_src")
        sink = str(tmp_path / "is_sink")
        ckpt = str(tmp_path / "is_ckpt")
        write_delta(spark, src, spark.createDataFrame(
            [(i, i * 2.0) for i in range(40)], "k long, v double"
        ), commit_ts=100)
        self._drain(spark, src, sink, ckpt,
                    partitionCol="k", partitionTransform="bucket[4]")
        assert read_iceberg(spark, sink).count() == 40
        # restart, no new data: nothing doubled
        self._drain(spark, src, sink, ckpt)
        assert read_iceberg(spark, sink).count() == 40
        # new source commit -> next epoch appends
        write_delta(spark, src, spark.createDataFrame(
            [(100, 1.0)], "k long, v double"
        ), commit_ts=200)
        self._drain(spark, src, sink, ckpt)
        assert read_iceberg(spark, sink).count() == 41
        epochs = [
            s["summary"].get("streaming-epoch-id")
            for s in _load_metadata(sink)["snapshots"]
        ]
        assert epochs == ["0", "1"]
        # the creation batch carried the hidden-partition spec
        spec = _load_metadata(sink)["partition-specs"][-1]["fields"]
        assert spec[0]["transform"] == "bucket[4]"

    def test_crash_mid_batch_restart_exactly_once(
        self, registered, tmp_path
    ):
        """VERDICT r8 item 3, Iceberg twin: orphan staged parquet from
        a killed task (crash A) + a replayed batch after the checkpoint
        commit marker was lost (crash B) — a restarted stream delivers
        every row exactly once via the epoch markers, and the orphan
        stays unreferenced."""
        import glob

        from etl_market_survey_spark.sources.iceberg import (
            _load_metadata, read_iceberg, snapshot_files,
        )
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark = registered
        spark.dataSource.register(IcebergLiteDataSource)
        src = str(tmp_path / "icr_src")
        sink = str(tmp_path / "icr_sink")
        ckpt = str(tmp_path / "icr_ckpt")
        write_delta(spark, src, spark.createDataFrame(
            [(i, i * 2.0) for i in range(40)], "k long, v double"
        ), commit_ts=100)
        self._drain(spark, src, sink, ckpt)
        assert read_iceberg(spark, sink).count() == 40

        # crash A debris: a staged-but-never-committed data file
        orphan = os.path.join(sink, "data", "deadbeef-orphan.parquet")
        shutil.copy(glob.glob(f"{sink}/data/*.parquet")[0], orphan)
        # crash B: lose the checkpoint's last commit marker
        cdir = os.path.join(ckpt, "commits")
        last = sorted(f for f in os.listdir(cdir) if not f.startswith("."))[-1]
        os.remove(os.path.join(cdir, last))
        crc = os.path.join(cdir, f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)  # Hadoop ChecksumFileSystem sibling

        write_delta(spark, src, spark.createDataFrame(
            [(i, i * 2.0) for i in range(40, 70)], "k long, v double"
        ), commit_ts=200)
        self._drain(spark, src, sink, ckpt)

        # single-batch fallback caveat (see Delta twin): this drain
        # only REPLAYS the uncommitted batch — skipped by the epoch
        # marker, nothing doubled; new data needs the next drain
        assert sorted(
            r["k"] for r in read_iceberg(spark, sink).collect()
        ) == list(range(40))
        self._drain(spark, src, sink, ckpt)
        got = sorted(r["k"] for r in read_iceberg(spark, sink).collect())
        assert got == list(range(70))
        epochs = [
            s["summary"].get("streaming-epoch-id")
            for s in _load_metadata(sink)["snapshots"]
        ]
        assert epochs == ["0", "1"]  # batch 0 NOT recommitted on replay
        assert os.path.exists(orphan)
        assert "data/deadbeef-orphan.parquet" not in {
            f["file_path"] for f in snapshot_files(sink)
        }

    def test_replayed_epoch_dropped(self, registered, tmp_path):
        import glob

        import pyarrow as pa

        from etl_market_survey_spark.sources.iceberg import (
            _load_metadata, read_iceberg,
        )
        from etl_market_survey_spark.sources.pyds_iceberg import (
            _IcebergLiteStreamWriter,
        )

        spark = registered
        sink = str(tmp_path / "is_replay")
        d = spark.createDataFrame([(1, 2.0)], "k long, v double")
        w = _IcebergLiteStreamWriter(sink, d.schema, False,
                                     {"txnappid": "rj"})
        m1 = w.write(iter(pa.Table.from_pandas(d.toPandas()).to_batches()))
        w.commit([m1], 0)
        m2 = w.write(iter(pa.Table.from_pandas(d.toPandas()).to_batches()))
        w.commit([m2], 0)  # replay
        assert read_iceberg(spark, sink).count() == 1
        assert len(_load_metadata(sink)["snapshots"]) == 1
        assert len(glob.glob(f"{sink}/data/*.parquet")) == 1

    def test_complete_mode_rejected(self, registered, tmp_path):
        from etl_market_survey_spark.sources.pyds_iceberg import (
            _IcebergLiteStreamWriter,
        )

        d = registered.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="append-only"):
            _IcebergLiteStreamWriter(str(tmp_path / "x"), d.schema, True, {})


class TestWriterOpenFileGuard:
    def test_high_cardinality_partition_fails_actionably(
        self, registered, tmp_path
    ):
        """One ParquetWriter stays open per (task, partition value); a
        task fed unclustered high-cardinality partition data must fail
        with the repartition hint, not exhaust file handles."""
        spark = registered
        p = str(tmp_path / "g1")
        d = spark.range(220).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("p")
        ).coalesce(1)
        with pytest.raises(Exception, match="maxOpenFiles|repartition"):
            (
                d.write.format("delta_lite").mode("append")
                .option("partitionCol", "p")
                .option("maxOpenFiles", "64")
                .save(p)
            )
        # repartitioned by the key, the same write succeeds: each task
        # holds one partition value at a time (8 tasks x ~27 values,
        # under the 64-open-files guard)
        p2 = str(tmp_path / "g2")
        (
            d.repartition(8, "p")
            .write.format("delta_lite").mode("append")
            .option("partitionCol", "p")
            .option("maxOpenFiles", "64")
            .save(p2)
        )
        assert spark.read.format("delta_lite").load(p2).count() == 220


class TestRowGroupSplitting:
    """maxRowsPerTask: one huge file fans out across tasks as
    contiguous row-group chunks — counts, DV application, and sums
    must be split-invariant."""

    def test_split_parity_with_dv(self, registered, tmp_path):
        from etl_market_survey_spark.sources.deltalog import (
            delete_rows_where,
        )

        spark = registered
        p = str(tmp_path / "rg1")
        d = spark.range(400_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("m")
        )
        write_delta(spark, p, d, commit_ts=100)  # one file
        delete_rows_where(spark, p, "k % 100 = 0", commit_ts=200)
        split = (
            spark.read.format("delta_lite")
            .option("maxRowsPerTask", "50000").load(p)
        )
        whole = (
            spark.read.format("delta_lite")
            .option("maxRowsPerTask", "0").load(p)
        )
        assert split.rdd.getNumPartitions() > whole.rdd.getNumPartitions()
        a = split.agg(F.count("*"), F.sum("k"), F.sum("m")).collect()
        b = whole.agg(F.count("*"), F.sum("k"), F.sum("m")).collect()
        assert a == b
        assert a[0][0] == 400_000 - 4_000

    def test_more_splits_than_row_groups_is_lossless(
        self, registered, tmp_path
    ):
        spark = registered
        p = str(tmp_path / "rg2")
        write_delta(spark, p, spark.range(1000).select(
            F.col("id").alias("k")
        ), commit_ts=100)
        df = (
            spark.read.format("delta_lite")
            .option("maxRowsPerTask", "10").load(p)
        )  # ~100 planned splits over very few row groups
        assert df.count() == 1000
        assert df.agg(F.sum("k")).collect()[0][0] == 1000 * 999 // 2


class TestIcebergRowGroupSplitting:
    def test_split_parity_with_position_deletes(self, spark, tmp_path):
        from etl_market_survey_spark.sources.iceberg import (
            delete_rows_where_iceberg, write_iceberg,
        )
        from etl_market_survey_spark.sources.pyds_iceberg import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(IcebergLiteDataSource)
        p = str(tmp_path / "irg1")
        d = spark.range(400_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("m")
        )
        write_iceberg(spark, p, d, commit_ts=100)  # one data file
        delete_rows_where_iceberg(spark, p, "k % 100 = 0", commit_ts=200)
        split = (
            spark.read.format("iceberg_lite")
            .option("maxRowsPerTask", "50000").load(p)
        )
        whole = (
            spark.read.format("iceberg_lite")
            .option("maxRowsPerTask", "0").load(p)
        )
        assert split.rdd.getNumPartitions() > whole.rdd.getNumPartitions()
        a = split.agg(F.count("*"), F.sum("k"), F.sum("m")).collect()
        b = whole.agg(F.count("*"), F.sum("k"), F.sum("m")).collect()
        assert a == b
        assert a[0][0] == 400_000 - 4_000


def _log_cleaned_table(spark, path):
    """Four appends, a checkpoint at v3, one more append, then commits
    0-2 deleted: what log retention leaves of a maintained table."""
    for i in range(4):
        write_delta(
            spark, path,
            spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 2 AS v"),
            commit_ts=100 * (i + 1),
        )
    write_checkpoint(spark, path)
    write_delta(spark, path,
                spark.range(40, 45).selectExpr("id", "id * 2 AS v"),
                commit_ts=500)
    for v in range(3):
        os.remove(os.path.join(path, "_delta_log", f"{v:020d}.json"))


def _both_counts(spark, path, version=None):
    lite = spark.read.format("delta_lite")
    if version is not None:
        lite = lite.option("versionAsOf", str(version))
    return (
        read_delta(spark, path, version=version).count(),
        lite.load(path).count(),
    )


class TestLogCleanedTables:
    """Both readers fold checkpoint + JSON tail through the one
    deltalog core, so a table whose old commits log cleanup deleted
    reads the same through each, and a version the remaining log
    cannot rebuild raises instead of folding a partial history."""

    def test_reads_latest_and_checkpoint_version(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "lc1")
        _log_cleaned_table(spark, path)
        assert _both_counts(spark, path) == (45, 45)
        assert _both_counts(spark, path, version=3) == (40, 40)
        # the checkpointed, filtered route folds the same log
        assert read_delta(
            spark, path, stats_filter={"id": (0, 100)}
        ).count() == 45

    def test_deleted_version_raises(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "lc2")
        _log_cleaned_table(spark, path)
        with pytest.raises(ValueError, match="cannot be rebuilt"):
            read_delta(spark, path, version=1)
        with pytest.raises(ValueError, match="cannot be rebuilt"):
            read_delta(spark, path, version=1,
                       stats_filter={"id": (0, 100)})
        with pytest.raises(Exception, match="cannot be rebuilt"):
            spark.read.format("delta_lite").option(
                "versionAsOf", "1"
            ).load(path).collect()
        # the deleted commits' timestamps are gone with them
        with pytest.raises(ValueError, match="no commit at or before"):
            read_delta(spark, path, timestamp=250)
        # a stream cannot replay deleted commits; one that starts past
        # them plans the remaining commit's files
        from etl_market_survey_spark.sources.deltalog import _read_actions
        from etl_market_survey_spark.sources.pyds import (
            _DeltaLiteStreamReader,
        )

        with pytest.raises(ValueError, match="log cleanup"):
            _DeltaLiteStreamReader(path, False, None).partitions(
                {"version": -1}, {"version": 4}
            )
        parts = _DeltaLiteStreamReader(path, False, 4).partitions(
            {"version": 3}, {"version": 4}
        )
        assert len(parts) == sum("add" in a for a in _read_actions(path, 4))

    def test_delta_lite_append_extends_the_log(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "lc3")
        _log_cleaned_table(spark, path)
        spark.range(45, 50).selectExpr("id", "id * 2 AS v").write.format(
            "delta_lite"
        ).mode("append").save(path)
        assert _both_counts(spark, path) == (50, 50)
        log = os.listdir(os.path.join(path, "_delta_log"))
        assert f"{0:020d}.json" not in log  # no re-created table
        assert f"{5:020d}.json" in log

    def test_gap_without_checkpoint_raises(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "lc4")
        for i in range(4):
            write_delta(
                spark, path,
                spark.range(i * 10, i * 10 + 10).selectExpr(
                    "id", "id * 2 AS v"
                ),
                commit_ts=100 * (i + 1),
            )
        os.remove(os.path.join(path, "_delta_log", f"{1:020d}.json"))
        with pytest.raises(ValueError, match="commit 1 is missing"):
            read_delta(spark, path)
        with pytest.raises(Exception, match="commit 1 is missing"):
            spark.read.format("delta_lite").load(path).collect()
        # versions before the gap still rebuild
        assert _both_counts(spark, path, version=0) == (10, 10)


class TestEscapedFileNameDeletionVectors:
    """A deletion vector on a data file whose basename needs URI
    escaping: Spark renders ``_metadata.file_path`` URI-encoded, the
    log holds the raw name, and read_delta's anti-join must key both
    the same way or deleted rows come back. delta_lite applies DVs per
    file and is the reference."""

    NAME = "part 0+%25a.parquet"  # space, plus and percent

    @staticmethod
    def _ext_table(root, files):
        """files: [(rel, partition values, ids)] written with pyarrow
        and committed by hand, as an external writer would."""
        import json

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(root, "_delta_log"))
        pcols = sorted({k for _, pv, _ in files for k in pv})
        fields = [("id", "long"), ("v", "double")] + [
            (c, "string") for c in pcols
        ]
        schema = {"type": "struct", "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in fields
        ]}
        actions = [
            {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {
                "id": "escdv", "format": {"provider": "parquet",
                                          "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": pcols, "configuration": {},
                "createdTime": 1000,
            }},
        ]
        for rel, pv, ids in files:
            full = os.path.join(root, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            pq.write_table(pa.table({
                "id": pa.array(ids, pa.int64()),
                "v": pa.array([i + 0.5 for i in ids], pa.float64()),
            }), full)
            actions.append({"add": {
                "path": rel, "partitionValues": pv,
                "size": os.path.getsize(full), "modificationTime": 1000,
                "dataChange": True,
            }})
        with open(os.path.join(root, "_delta_log", f"{0:020d}.json"),
                  "w") as f:
            f.writelines(json.dumps(a) + "\n" for a in actions)

    def _assert_deleted(self, spark, root, rel, want_ids):
        add_deletion_vectors(spark, root, {rel: [0]}, commit_ts=2000)
        got = sorted(r["id"] for r in read_delta(spark, root).collect())
        ref = sorted(
            r["id"]
            for r in spark.read.format("delta_lite").load(root).collect()
        )
        assert ref == want_ids
        assert got == ref

    def test_single_scan(self, registered, tmp_path):
        root = str(tmp_path / "escdv1")
        self._ext_table(root, [(self.NAME, {}, [1, 2]),
                               ("part-1.parquet", {}, [3, 4])])
        self._assert_deleted(registered, root, self.NAME, [2, 3, 4])

    def test_per_partition_fallback(self, registered, tmp_path):
        root = str(tmp_path / "escdv2")
        rel = f"cat=a/{self.NAME}"
        self._ext_table(root, [(rel, {"cat": "a"}, [1, 2]),
                               ("cat=b/part-1.parquet", {"cat": "b"},
                                [3, 4])])
        self._assert_deleted(registered, root, rel, [2, 3, 4])
