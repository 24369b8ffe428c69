"""Catalog/name-grammar, sinks, multimodal plumbing, streaming parity and
pipeline memoization tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_market_survey_spark.functions.strings import (
    classify_measurement,
    device_tokens,
    voltage_from_name,
    when_from_name,
)
from etl_market_survey_spark.operators.multimodal import (
    attach_metadata,
    extract_features,
    sample_frames,
    FEATURE_DIM,
)
from etl_market_survey_spark.pipeline import MARKER, Pipeline
from etl_market_survey_spark.sources.catalog import build_catalog
from etl_market_survey_spark.sources.readers import read_parquet
from etl_market_survey_spark.sources.writers import write_csv, write_parquet, write_text_sidecar
from etl_market_survey_spark.streaming.events import (
    read_event_stream,
    run_available_now,
    windowed_counts,
)


def test_name_grammar(spark):
    df = spark.createDataFrame(
        [
            ("20220404021350_MS07_sweeping_bias_voltage_BetaScan",),
            ("20220404021350_MS07_IV_Curve",),
            ("20220404021350_MS07_MS08_BetaScan_228V",),
            ("20220404021350_whatever",),
        ],
        "name string",
    )
    out = df.select(
        when_from_name("name").alias("when"),
        voltage_from_name("name").alias("v"),
        device_tokens("name").alias("devs"),
        classify_measurement("name").alias("t"),
    ).collect()
    assert str(out[0]["when"]) == "2022-04-04 02:13:50"
    assert out[0]["t"] == "beta voltage scan"
    assert out[1]["t"] == "IV curve"
    assert out[2]["t"] == "beta fixed voltage"
    assert out[2]["v"] == 228
    assert out[2]["devs"] == ["MS07", "MS08"]
    assert out[3]["t"] == "unknown" and out[3]["v"] is None


def test_measurement_type_docstring_golden(spark):
    # The reference's exact docstring table (measurements.py:14-35), with
    # the filesystem probes its example environment implies.
    from pyspark.sql import functions as F

    cases = [
        # (name, has_iv, has_1d, has_1d_sweep, expected)
        ("20220328170454_MS03_IV_Curve", False, False, False, "IV curve"),
        ("20220404021350_MS07_1DScan_228V", False, True, False, "TCT 1D scan fixed voltage"),
        ("20220317155531_BetaScan_SpeedyGonzalez12_at_98V", False, False, False, "beta fixed voltage"),
        ("20220405203845_MS08_3_probe_station", False, False, False, "IV curve probe station"),
        ("20220403214116_MS07_sweeping_bias_voltage", False, False, True, "TCT 1D scan sweeping bias voltage"),
    ]
    df = spark.createDataFrame(
        [(n, a, b, c) for n, a, b, c, _ in cases],
        "name string, has_iv boolean, has_1d boolean, has_1d_sweep boolean",
    )
    got = [
        r[0]
        for r in df.select(
            classify_measurement(
                "name", F.col("has_iv"), F.col("has_1d"), F.col("has_1d_sweep")
            )
        ).collect()
    ]
    assert got == [e for *_, e in cases]


def test_build_catalog(spark, tmp_path):
    for name in [
        "20220404021350_MS07_BetaScan_228V",
        "20220505000000_MS08_IV_Curve",
        "notes",
    ]:
        os.makedirs(tmp_path / name)
    (tmp_path / "catalog.xlsx").write_text("not a dir")
    cat = build_catalog(spark, str(tmp_path)).orderBy("Measurement name").collect()
    assert len(cat) == 3
    assert cat[0]["Measurement type"] == "beta fixed voltage"
    assert cat[0]["Measured device(s)"] == ["MS07"]
    assert cat[2]["Measurement type"] == "unknown"


def test_sinks_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_parquet(df, str(tmp_path / "p"))
    assert spark.read.parquet(str(tmp_path / "p")).count() == 2
    assert os.path.exists(tmp_path / "p" / "_SUCCESS")
    write_csv(df, str(tmp_path / "c"))
    back = spark.read.option("header", True).csv(str(tmp_path / "c"))
    assert back.count() == 2
    write_text_sidecar({"calibration factor": 2.5}, str(tmp_path / "s.txt"))
    from etl_market_survey_spark.sources.readers import read_text_sidecar

    side = read_text_sidecar(spark, str(tmp_path / "s.txt")).collect()
    assert side[0]["key"] == "calibration factor" and side[0]["value"] == 2.5


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"A" * 4096)), (2, bytearray(b"xy")), (3, bytearray(b""))],
        "media_id long, payload binary",
    )
    meta = attach_metadata(df).orderBy("media_id").collect()
    assert meta[0]["n_bytes"] == 4096 and len(meta[0]["digest"]) == 32
    feats = extract_features(df, decode_stub=True).orderBy("media_id").collect()
    assert all(len(r["features"]) == FEATURE_DIM for r in feats)
    assert feats[0]["features"][0] == pytest.approx(ord("A"))
    assert feats[2]["features"] == [0.0] * FEATURE_DIM
    assert "payload" not in feats[0].asDict()
    frames = sample_frames(df, every_n_bytes=1024, max_frames=8)
    by_id = {r["media_id"]: r for r in frames.groupBy("media_id").count().collect()}
    assert by_id[1]["count"] == 4 and by_id[2]["count"] == 1

    from etl_market_survey_spark.operators.multimodal import HAS_PIL

    if not HAS_PIL:
        with pytest.raises(Exception, match="NotImplementedError|real media decode"):
            extract_features(df, decode_stub=False).collect()

    from etl_market_survey_spark.operators.multimodal import resize_media

    resized = resize_media(df, target=(8, 4), decode_stub=True).orderBy("media_id").collect()
    assert all(len(r["resized"]) == 32 for r in resized if r["media_id"] != 3)
    assert resized[0]["out_width"] == 8 and resized[0]["out_height"] == 4
    assert len(resized[2]["resized"]) == 0  # empty payload stays empty


def test_streaming_matches_batch(spark, sf_dir):
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    name = run_available_now(windowed_counts(stream), "t_events_rollup")
    streamed = spark.table(name)
    from etl_market_survey_spark.sources.readers import read_parquet

    batch = windowed_counts(read_parquet(spark, f"{sf_dir}/events.parquet"))
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_pipeline_memoization(spark, tmp_path, jobs_in):
    pipe = Pipeline(spark, str(tmp_path))
    calls = {"clean": 0, "agg": 0}

    @pipe.stage("clean")
    def clean(s, inputs):
        calls["clean"] += 1
        return s.range(10).withColumn("x", F.col("id") * 2)

    @pipe.stage("agg", deps=["clean"])
    def agg(s, inputs):
        calls["agg"] += 1
        return inputs["clean"].agg(F.sum("x").alias("total"))

    out1 = pipe.run("agg")
    assert out1.collect()[0]["total"] == 90
    assert calls == {"clean": 1, "agg": 1}
    pipe.run("agg")  # memoized: no recompute
    assert calls == {"clean": 1, "agg": 1}
    pipe.run("agg", force=True)  # force reruns the stage, deps stay memoized
    assert calls == {"clean": 1, "agg": 2}

    # the marker's schema is the one inference gives, and reading the
    # checkpoint back with it runs no job
    for name in ("clean", "agg"):
        out, jobs = jobs_in(f"pipeline-output-{name}-{tmp_path.name}",
                             lambda: pipe.output(name).schema)
        assert jobs == 0
        assert out == spark.read.parquet(str(tmp_path / name)).schema
    assert sorted(pipe.run("clean").collect()) == spark.range(10).withColumn(
        "x", F.col("id") * 2).collect()

    # a marker without a schema (written before markers held one) does
    # not count as done: the stage runs again
    marker = tmp_path / "agg" / MARKER
    marker.write_text(json.dumps({"stage": "agg", "completed_at": 0.0}))
    assert not pipe.is_done("agg")
    assert pipe.run("agg").collect()[0]["total"] == 90
    assert calls == {"clean": 1, "agg": 3}
    assert "schema" in json.loads(marker.read_text())
    pipe.run("agg")
    assert calls == {"clean": 1, "agg": 3}


def test_read_parquet_missing_path_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "absent.parquet"))


def test_multimodal_real_pil_roundtrip(spark):
    """Real-codec path: only runs where PIL exists (absent in this
    runtime — the auto mode then uses the stub, tested above)."""
    from etl_market_survey_spark.operators.multimodal import (
        HAS_PIL,
        extract_features,
        resize_media,
    )

    if not HAS_PIL:
        pytest.skip("PIL not available in this runtime")
    import io

    import PIL.Image

    buf = io.BytesIO()
    PIL.Image.new("L", (6, 6), color=128).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "media_id long, payload binary"
    )
    r = resize_media(df, target=(3, 3), decode_stub=False).collect()[0]
    img = PIL.Image.open(io.BytesIO(bytes(r["resized"])))
    assert img.size == (3, 3)
    f = extract_features(df, decode_stub=False).collect()[0]
    assert f["features"] == pytest.approx([128.0] * 16)


def test_jsonl_roundtrip(spark, tmp_path):
    from etl_market_survey_spark.sources.readers import read_jsonl
    from etl_market_survey_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, "hello", ["a", "b"]), (2, "world", [])],
        "doc_id long, text string, tags array<string>",
    )
    write_jsonl(df, str(tmp_path / "out"))
    back = read_jsonl(
        spark, str(tmp_path / "out"), "doc_id long, text string, tags array<string>"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # schema-less read still works (inference), same rows
    inferred = read_jsonl(spark, str(tmp_path / "out"))
    assert inferred.count() == 2
