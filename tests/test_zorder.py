"""Z-order layout: interleave arithmetic parity with SQL, and the
data-skipping payoff — range filters on EITHER column touch a small
fraction of Z-ordered files, vs all files for the non-leading column of
a linear sort."""

from pyspark.sql import functions as F

from etl_market_survey_spark.operators.zorder import (
    files_touched,
    n_data_files,
    sql_z2,
    z2,
    zorder_write,
)

_N_FILES = 16


def test_z2_matches_sql(spark):
    import duckdb

    rows = [(a, b) for a in (0, 1, 5, 255, 65535, 70000) for b in (0, 3, 1024, 65535)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = [r[0] for r in df.select(z2("a", "b")).collect()]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = [r[0] for r in con.execute(f"select {sql_z2('a', 'b')} from t").fetchall()]
    assert got == want


def test_z2_interleaves_bits(spark):
    # a=0b11, b=0 -> 0b0101; a=0, b=0b11 -> 0b1010
    df = spark.createDataFrame([(3, 0), (0, 3), (65535, 65535)], "a long, b long")
    got = [r[0] for r in df.select(z2("a", "b")).collect()]
    assert got == [0b0101, 0b1010, (1 << 32) - 1]


def test_zorder_prunes_both_columns(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    maxp = li.agg(F.max("l_partkey")).collect()[0][0]
    maxs = li.agg(F.max("l_suppkey")).collect()[0][0]

    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    zorder_write(li, zpath, "l_partkey", "l_suppkey", _N_FILES)
    (
        li.repartitionByRange(_N_FILES, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    zdf, ldf = spark.read.parquet(zpath), spark.read.parquet(lpath)
    assert n_data_files(zpath) >= _N_FILES // 2  # layout actually split

    part_pred = F.col("l_partkey") < maxp // 8
    supp_pred = F.col("l_suppkey") < maxs // 8
    z_part = files_touched(zdf.filter(part_pred))
    z_supp = files_touched(zdf.filter(supp_pred))
    l_part = files_touched(ldf.filter(part_pred))
    l_supp = files_touched(ldf.filter(supp_pred))

    n_z = n_data_files(zpath)
    # Z layout: both dimensions localized (a 1/8 range -> ~1/8 + boundary
    # of files; allow <= 1/2)
    assert z_part <= n_z // 2, (z_part, n_z)
    assert z_supp <= n_z // 2, (z_supp, n_z)
    # linear layout: leading column prunes, non-leading touches ~all files
    assert l_part <= n_data_files(lpath) // 2
    assert l_supp >= (n_data_files(lpath) * 3) // 4, l_supp
    # and the row results are identical regardless of layout
    assert zdf.filter(part_pred).count() == ldf.filter(part_pred).count()


# --- k-column interleave ----------------------------------------------------

from etl_market_survey_spark.operators.zorder import zk, zk_ref  # noqa: E402


def test_zk_matches_reference_and_z2(spark):
    rows = [(a, b, c) for a in (0, 1, 1023) for b in (0, 7, 255) for c in (0, 3)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got3 = [r[0] for r in df.select(zk(["a", "b", "c"], bits=10)).collect()]
    assert got3 == [zk_ref(list(r), 10) for r in rows]
    # k=2 at 16 bits agrees with the magic-mask fast path
    got2 = [r[0] for r in df.select(zk(["a", "b"], bits=16)).collect()]
    fast = [r[0] for r in df.select(z2("a", "b")).collect()]
    assert got2 == fast


def test_zk_validation(spark):
    import pytest

    with pytest.raises(ValueError):
        zk(["a"])
    with pytest.raises(ValueError):
        zk(["a", "b", "c", "d"], bits=16)  # 64 bits: sign overflow


# ---------------------------------------------------------------------------
# Iceberg rewrite_data_files(zorder_by=...) — q381's format twin
# ---------------------------------------------------------------------------


def test_iceberg_zorder_prunes_and_preserves(spark, sf_dir, tmp_path):
    import pytest

    from etl_market_survey_spark.sources.iceberg import (
        read_iceberg,
        rewrite_data_files,
        table_history,
        write_iceberg,
    )

    path = str(tmp_path / "ice_z")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.col("o_totalprice").alias("tp"),
    )
    write_iceberg(spark, path, o.orderBy("k"), commit_ts=100)
    with pytest.raises(ValueError, match="not both"):
        rewrite_data_files(spark, path, sort_by=["k"], zorder_by=["c"])
    with pytest.raises(ValueError, match="not in table"):
        rewrite_data_files(spark, path, zorder_by=["nope"])
    rewrite_data_files(spark, path, zorder_by=["k", "c"],
                       n_files=_N_FILES, commit_ts=200)

    b = o.agg(F.min("k"), F.max("k"), F.min("c"), F.max("c")).first()
    klo = b[0] + int(0.25 * (b[1] - b[0]))
    khi = b[0] + int(0.50 * (b[1] - b[0]))
    clo = b[2] + int(0.25 * (b[3] - b[2]))
    chi = b[2] + int(0.50 * (b[3] - b[2]))

    full = read_iceberg(spark, path)
    assert files_touched(full) == _N_FILES
    # content-preserving rewrite
    assert full.count() == o.count()
    # driver-side bounds pruning skips most files on a 2-D box, and on
    # EACH column alone (the reason zorder beats the k-sorted layout)
    box = read_iceberg(
        spark, path, stats_filter={"k": (klo, khi), "c": (clo, chi)}
    )
    assert files_touched(box) <= _N_FILES // 2
    c_only = read_iceberg(spark, path, stats_filter={"c": (clo, chi)})
    assert files_touched(c_only) < _N_FILES
    pred = F.col("k").between(klo, khi) & F.col("c").between(clo, chi)
    assert box.filter(pred).count() == o.filter(pred).count()
    # prior snapshot still time-travels (rewrite is an overwrite commit)
    hist = table_history(path)
    assert len(hist) == 2
    first = read_iceberg(spark, path, snapshot_id=hist[0]["snapshot_id"])
    assert first.count() == o.count()


def test_iceberg_zorder_refuses_partitioned(spark, sf_dir, tmp_path):
    import pytest

    from etl_market_survey_spark.sources.iceberg import (
        rewrite_data_files,
        write_iceberg,
    )

    path = str(tmp_path / "ice_zp")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").alias("tp"),
    )
    write_iceberg(spark, path, o, partition_col="pr", commit_ts=100)
    with pytest.raises(ValueError, match="unpartitioned"):
        rewrite_data_files(spark, path, zorder_by=["k", "tp"])


# ---------------------------------------------------------------------------
# Incremental OPTIMIZE ZORDER (delta) — delta-only maintenance pass
# ---------------------------------------------------------------------------


def test_incremental_zorder_rewrites_only_new_files(spark, sf_dir, tmp_path):
    from etl_market_survey_spark.sources.deltalog import (
        delta_history,
        load_snapshot,
        optimize_zorder,
        read_delta,
        write_delta,
    )

    path = str(tmp_path / "dz_inc")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.col("o_totalprice").alias("tp"),
    )
    write_delta(spark, path, o.filter("k % 2 = 0").orderBy("k"),
                commit_ts=100)
    optimize_zorder(spark, path, ["k", "c"], n_files=8, commit_ts=200)
    gen1 = set(load_snapshot(path).adds)
    write_delta(spark, path, o.filter("k % 2 = 1"), mode="append",
                commit_ts=300)
    v = optimize_zorder(spark, path, ["k", "c"], n_files=4, commit_ts=400,
                        incremental=True)
    snap = load_snapshot(path)
    # the 8 first-generation curve files are untouched; only the
    # appended file was replaced by 4 new curve files
    assert gen1 <= set(snap.adds)
    assert len(snap.adds) == len(gen1) + 4
    assert read_delta(spark, path).count() == o.count()
    hist = delta_history(path)
    assert [h["operation"] for h in hist] == [
        "WRITE", "OPTIMIZE", "WRITE", "OPTIMIZE"
    ]
    assert hist[-1]["num_removed"] == 1 and hist[-1]["num_added"] == 4
    # nothing new -> no-op, no commit
    assert optimize_zorder(spark, path, ["k", "c"], incremental=True) == v
    assert len(delta_history(path)) == 4
    # different column set has no watermark -> falls back to FULL rewrite
    v2 = optimize_zorder(spark, path, ["c", "tp"], n_files=6,
                         commit_ts=500, incremental=True)
    assert v2 == v + 1
    snap2 = load_snapshot(path)
    assert len(snap2.adds) == 6  # whole table rewritten
    assert read_delta(spark, path).count() == o.count()
