"""File-level data-skipping index (sources/skipindex): build, prune,
exactness vs the plain filtered scan, staleness, null/range semantics."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_market_survey_spark.sources.skipindex import (
    _load_meta,
    _positions,
    _probe_cache,
    _zone_conjunct,
    build_skipping_index,
    prune_files,
    read_with_index,
    refresh_skipping_index,
    residual_filter,
)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _build_lake(spark, base):
    """32-file lake, ids hash-scattered over files (zone maps useless
    for point lookups by construction — every file's [min,max] covers
    every probe; only the bloom can prune)."""
    data = str(base / "data")
    idx = str(base / "idx")
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("grp"),
        F.concat(F.lit("u"), (F.col("id") * 2654435761 % 100000)).alias("tag"),
    )
    df.repartition(32, "k").write.parquet(data)
    build_skipping_index(spark, data, ["k", "tag"], idx, n_bits=4096)
    return data, idx


@pytest.fixture()
def lake(spark, tmp_path):
    """Fresh per-test lake — for tests that MUTATE it (append files,
    delete files, refresh the index)."""
    return _build_lake(spark, tmp_path)


@pytest.fixture(scope="module")
def lake_ro(spark, tmp_path_factory):
    """Shared read-only lake — building it costs ~4s; the read-only
    tests don't need a fresh copy each."""
    return _build_lake(spark, tmp_path_factory.mktemp("skipidx_ro"))


def test_point_lookup_prunes_and_is_exact(spark, lake_ro):
    data, idx = lake_ro
    full = spark.read.parquet(data)
    n_files = len(full.inputFiles())
    assert n_files == 32
    preds = [("k", "=", 1234)]
    survivors = prune_files(spark, idx, preds)
    # hash-scattered ids: zone maps cover everything, the bloom must
    # carry the pruning — one file truly contains k=1234, a few false
    # positives allowed
    assert 1 <= len(survivors) <= 8
    got = read_with_index(spark, data, idx, preds)
    assert len(got.inputFiles()) < n_files
    assert _rows(got, "k") == _rows(full.filter(F.col("k") == 1234), "k")


def _u64(x: int) -> int:
    return x & 0xFFFFFFFFFFFFFFFF


def _py_might_contain(row, col, positions) -> bool:
    """The BLOOM half of the ``=`` prune conjunct, re-evaluated in
    Python over one collected index row: every probe bit set. The zone
    interval is not checked here (the lake's zone maps cover every
    probe). The positions come from the SAME JVM xxhash64 expression
    the build used; only the trivially portable bit test is re-done,
    and a sample is checked against the production ``_zone_conjunct``
    Column."""
    bloom = row[f"{col}__bloom"] or {}
    for p in positions:
        if not _u64(bloom.get(p >> 6, 0)) & (1 << (p & 63)):
            return False
    return True


def test_no_false_negatives_over_many_probes(spark, lake_ro):
    data, idx = lake_ro
    full = spark.read.parquet(data)
    # 200 present keys (and all 40 present tags): every probe must find
    # its row — a bloom false NEGATIVE anywhere fails loudly. 800
    # distinct probe positions also exercises the signed bit-63 word.
    # A sample goes through the public prune_files path; the exhaustive
    # sweep evaluates all probe POSITIONS as data in one job (the JVM
    # xxhash64 stays authoritative) and replays only the bit test over
    # the collected 32-row index — 200 prune_files collects cost ~60s
    # of pure job overhead, this is 3 jobs.
    ks = list(range(0, 4000, 20))
    for k in ks[::40]:
        assert len(prune_files(spark, idx, [("k", "=", k)])) >= 1
    meta = _load_meta(idx)
    n_h, n_b, seed = meta["n_hashes"], meta["n_bits"], meta["seed"]
    tags = [r["tag"] for r in full.filter(F.col("k") % 100 == 0).collect()]
    pos_rows = (
        spark.createDataFrame(
            [(k, tags[i % len(tags)]) for i, k in enumerate(ks)],
            "k long, tag string",
        )
        .select(
            "k",
            "tag",
            F.array(*_positions(F.col("k"), n_h, n_b, seed)).alias("kp"),
            F.array(*_positions(F.col("tag"), n_h, n_b, seed)).alias("tp"),
        )
        .collect()
    )
    idx_rows = spark.read.parquet(idx).collect()
    by_file = {os.path.basename(r["file"]): r for r in idx_rows}
    k_misses = [
        r["k"]
        for r in pos_rows
        if not any(_py_might_contain(ir, "k", r["kp"]) for ir in idx_rows)
    ]
    assert k_misses == [], f"bloom false negatives at {k_misses[:10]}"
    # the production expression stays authoritative: for a sample of
    # probes, the JVM _zone_conjunct Column (zone interval AND bloom
    # bits) over the index, in one batched job, keeps exactly the files
    # the Python replay keeps
    sample = [("k", "=", k) for k in ks[::25]]
    pos_cache = _probe_cache(spark, sample, meta)
    jvm_rows = spark.read.parquet(idx).select(
        "file",
        *[_zone_conjunct(spark, p, meta, pos_cache).alias(f"m{i}")
          for i, p in enumerate(sample)],
    ).collect()
    k_pos = {r["k"]: r["kp"] for r in pos_rows}
    for i, (_, _, k) in enumerate(sample):
        jvm = {r["file"] for r in jvm_rows if r[f"m{i}"]}
        py = {
            ir["file"] for ir in idx_rows
            if ir["k__min"] <= k <= ir["k__max"]
            and _py_might_contain(ir, "k", k_pos[k])
        }
        assert jvm and py == jvm, f"probe k={k}: jvm {jvm} vs py {py}"
    # string tags: per-tag TRUE file set must be a subset of that tag's
    # bloom-surviving file set; the public read path is exercised on a few.
    truth_rows = (
        full.filter(F.col("tag").isin(tags))
        .select("tag", F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    tag_pos = {r["tag"]: r["tp"] for r in pos_rows}
    for tr in truth_rows:
        ir = by_file[os.path.basename(tr["f"])]
        assert _py_might_contain(ir, "tag", tag_pos[tr["tag"]]), (
            f"bloom false negative for tag {tr['tag']!r}"
        )
    for t in tags[:4]:
        got = read_with_index(spark, data, idx, [("tag", "=", t)])
        exp = full.filter(F.col("tag") == t)
        assert _rows(got, "k") == _rows(exp, "k")


def test_absent_key_prunes_everything_or_nearly(spark, lake_ro):
    data, idx = lake_ro
    preds = [("k", "=", 999999)]
    # zone maps kill this one outright (out of [0, 4000))
    assert prune_files(spark, idx, preds) == []
    got = read_with_index(spark, data, idx, preds)
    assert got.count() == 0
    # schema survives the empty-scan path
    assert got.columns == spark.read.parquet(data).columns


def test_range_prune_on_clustered_layout(spark, tmp_path):
    data = str(tmp_path / "rdata")
    idx = str(tmp_path / "ridx")
    df = spark.range(0, 4000).select(F.col("id").alias("k"))
    df.repartitionByRange(16, "k").sortWithinPartitions("k").write.parquet(data)
    build_skipping_index(spark, data, ["k"], idx, n_bits=1024)
    survivors = prune_files(spark, idx, [("k", "between", (100, 160))])
    assert 1 <= len(survivors) <= 2
    got = read_with_index(spark, data, idx, [("k", "between", (100, 160))])
    assert got.count() == 61
    # one-sided ranges
    assert len(prune_files(spark, idx, [("k", "<", 250)])) <= 2
    assert len(prune_files(spark, idx, [("k", ">=", 3900)])) <= 1


def test_prefix_prune_on_string_clustered_layout(spark, tmp_path):
    data = str(tmp_path / "pdata")
    idx = str(tmp_path / "pidx")
    df = spark.range(0, 2600).select(
        F.concat(
            F.chr(F.lit(97) + F.col("id") % 26),
            F.lpad((F.col("id")).cast("string"), 5, "0"),
        ).alias("tag"),
        F.col("id").alias("rid"),
    )
    df.repartitionByRange(13, "tag").sortWithinPartitions("tag") \
        .write.parquet(data)
    build_skipping_index(spark, data, ["tag"], idx, n_bits=1024)
    full = spark.read.parquet(data)
    survivors = prune_files(spark, idx, [("tag", "prefix", "m")])
    assert 1 <= len(survivors) <= 2
    got = read_with_index(spark, data, idx, [("tag", "prefix", "m")])
    exp = full.filter(F.col("tag").startswith("m"))
    assert _rows(got, "rid") == _rows(exp, "rid")
    assert got.count() == 100
    # boundary semantics: max-codepoint prefix is unbounded above
    got = read_with_index(
        spark, data, idx, [("tag", "prefix", "\U0010ffff")]
    )
    assert got.count() == 0


def test_prefix_needs_string_column(spark, tmp_path):
    data = str(tmp_path / "sdata")
    idx = str(tmp_path / "sidx")
    spark.range(0, 50).select(F.col("id").alias("k")).coalesce(1) \
        .write.parquet(data)
    build_skipping_index(spark, data, ["k"], idx, n_bits=64)
    with pytest.raises(ValueError, match="string column"):
        prune_files(spark, idx, [("k", "prefix", "1")])


def test_in_and_conjunction(spark, lake_ro):
    data, idx = lake_ro
    full = spark.read.parquet(data)
    preds = [("k", "in", [10, 77, 3999]), ("k", ">=", 50)]
    got = read_with_index(spark, data, idx, preds)
    exp = full.filter(F.col("k").isin(10, 77, 3999) & (F.col("k") >= 50))
    assert _rows(got, "k") == _rows(exp, "k")
    assert len(got.inputFiles()) <= 3 * 8


def test_staleness_new_files_always_scanned(spark, lake):
    data, idx = lake
    extra = spark.range(4000, 4200).select(
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("grp"),
        F.concat(F.lit("u"), (F.col("id") * 2654435761 % 100000)).alias("tag"),
    )
    extra.repartition(4, "k").write.mode("append").parquet(data)
    full = spark.read.parquet(data)
    # 4100 exists only in the unindexed files; 1234 only in indexed
    for k in (4100, 1234):
        got = read_with_index(spark, data, idx, [("k", "=", k)])
        assert _rows(got, "k") == _rows(full.filter(F.col("k") == k), "k")
    # the unindexed files ride along; indexed non-survivors still prune
    got = read_with_index(spark, data, idx, [("k", "=", 1234)])
    assert len(got.inputFiles()) < len(full.inputFiles())


def test_incremental_refresh(spark, lake):
    data, idx = lake
    # no-op refresh
    assert refresh_skipping_index(spark, data, idx) == (0, 0)
    extra = spark.range(4000, 4400).select(
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("grp"),
        F.concat(F.lit("u"), (F.col("id") * 2654435761 % 100000)).alias("tag"),
    )
    extra.repartition(8, "k").write.mode("append").parquet(data)
    added, dropped = refresh_skipping_index(spark, data, idx)
    assert (added, dropped) == (8, 0)
    full = spark.read.parquet(data)
    n_files = len(full.inputFiles())
    # new data now PRUNES (indexed), not merely rides along unindexed
    got = read_with_index(spark, data, idx, [("k", "=", 4100)])
    assert len(got.inputFiles()) <= 10
    assert _rows(got, "k") == _rows(full.filter(F.col("k") == 4100), "k")
    # old data still probes with the pinned geometry
    got = read_with_index(spark, data, idx, [("k", "=", 1234)])
    assert len(got.inputFiles()) < n_files
    assert _rows(got, "k") == _rows(full.filter(F.col("k") == 1234), "k")
    # drop some files -> refresh removes their rows
    victims = sorted(
        f for f in os.listdir(data) if f.endswith(".parquet")
    )[:3]
    for v in victims:
        os.remove(os.path.join(data, v))
    added, dropped = refresh_skipping_index(spark, data, idx)
    assert (added, dropped) == (0, 3)
    assert spark.read.parquet(idx).count() == n_files - 3


def test_dropped_files_do_not_break_reads(spark, lake):
    data, idx = lake
    victim = sorted(
        f for f in os.listdir(data) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(data, victim))
    full = spark.read.parquet(data)
    got = read_with_index(spark, data, idx, [("k", ">=", 0)])
    assert got.count() == full.count()


def test_null_semantics(spark, tmp_path):
    data = str(tmp_path / "ndata")
    idx = str(tmp_path / "nidx")
    df = spark.range(0, 300).select(
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("k"),
        F.col("id").alias("rid"),
    )
    df.repartition(8, "rid").write.parquet(data)
    build_skipping_index(spark, data, ["k"], idx, n_bits=1024)
    full = spark.read.parquet(data)
    got = read_with_index(spark, data, idx, [("k", "is_null")])
    assert got.count() == full.filter(F.col("k").isNull()).count() == 200
    got = read_with_index(spark, data, idx, [("k", "is_not_null")])
    assert got.count() == 100
    # nulls contribute no bloom bits; equality on a present key exact
    got = read_with_index(spark, data, idx, [("k", "=", 99)])
    assert _rows(got, "rid") == _rows(full.filter(F.col("k") == 99), "rid")


def test_all_null_file_pruned_for_equality(spark, tmp_path):
    data = str(tmp_path / "adata")
    idx = str(tmp_path / "aidx")
    a = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("p"))
    b = spark.range(0, 100).select(
        F.lit(None).cast("long").alias("k"), F.lit(2).alias("p")
    )
    a.coalesce(1).write.parquet(data)
    b.coalesce(1).write.mode("append").parquet(data)
    build_skipping_index(spark, data, ["k"], idx, n_bits=1024)
    # the all-null file has NULL zone stats -> no-match for equality
    survivors = prune_files(spark, idx, [("k", "=", 50)])
    assert len(survivors) == 1


def test_index_meta_and_errors(spark, lake_ro, tmp_path):
    data, idx = lake_ro
    with pytest.raises(ValueError, match="not indexed"):
        prune_files(spark, idx, [("grp", "=", 1)])
    with pytest.raises(ValueError, match="unsupported op"):
        prune_files(spark, idx, [("k", "~", 1)])
    with pytest.raises(ValueError, match="not in data"):
        build_skipping_index(
            spark, data, ["nope"], str(tmp_path / "x"), n_bits=64
        )
    with pytest.raises(ValueError, match="multiple of 64"):
        build_skipping_index(
            spark, data, ["k"], str(tmp_path / "y"), n_bits=100
        )


def test_residual_filter_matches_spec(spark, lake_ro):
    data, _ = lake_ro
    full = spark.read.parquet(data)
    preds = [("k", "between", (5, 500)), ("tag", "is_not_null"), ("k", "<=", 400)]
    got = full.filter(residual_filter(preds))
    exp = full.filter(
        F.col("k").between(5, 500)
        & F.col("tag").isNotNull()
        & (F.col("k") <= 400)
    )
    assert got.count() == exp.count()
