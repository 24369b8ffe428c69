"""End-to-end golden test (SURVEY §5.2): the worked beta-scan example
recovers the synthesized physics within tolerance."""

import os
import statistics
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def test_tct_example_recovers_geometry(tmp_path, spark):
    from examples.tct_scan_pipeline import IPD, LASER_SIGMA, main

    out = tmp_path / "tct"
    out.mkdir()
    ipd, sig_l, sig_r = main(str(out))
    assert ipd == pytest.approx(IPD, rel=0.02)
    assert sig_l == pytest.approx(LASER_SIGMA, rel=0.05)
    assert sig_r == pytest.approx(LASER_SIGMA, rel=0.05)
    assert os.path.exists(out / "tct_results.txt")


def test_beta_scan_example_recovers_jitter(tmp_path, spark):
    from examples.beta_scan_pipeline import TRUE_JITTER, main

    resolution = main(str(tmp_path / "out"))
    # CFD-pair optimum underestimates slightly; generous 25% window
    assert resolution == pytest.approx(TRUE_JITTER, rel=0.25)
    # sinks exist: parquet checkpoints + csv + sidecar
    assert os.path.exists(tmp_path / "out" / "clean" / "_SUCCESS")
    assert os.path.exists(tmp_path / "out" / "time_resolution.txt")
    # the error bar is the exact sample std of the written per-replica
    # values, whatever order the checkpoint hands them back in
    res = tmp_path / "out" / "time_resolution_results"
    mads = pd.concat(
        pd.read_csv(f, float_precision="round_trip") for f in res.glob("part-*.csv")
    )["MAD(Δt) k_MADstd (s)"]
    assert len(mads) == 33
    sidecar = dict(
        line.split(" = ") for line in (tmp_path / "out" / "time_resolution.txt").read_text().splitlines()
    )
    assert float(sidecar["time resolution (s) error"]) == statistics.stdev(mads.tolist()) / 2**0.5
    parts = list((tmp_path / "out" / "time_resolution").glob("part-*"))
    assert len(parts) == 1  # the 33-row checkpoint is one file
    # memoized rerun is cheap and identical
    resolution2 = main(str(tmp_path / "out"))
    assert resolution2 == resolution


def test_corpus_curation_pipeline(spark):
    from examples.corpus_curation_pipeline import main

    out = main(spark, "/root/testdata/sf0.001")
    # monotone-shrink + non-degenerate gates (asserts inside main also ran)
    assert out["docs"] >= out["exact"] >= out["clean"] >= out["quality"] > 0
    assert out["chunks"] >= out["survivors"]
    assert out["bins"] > 0


def test_retrieval_pipeline(spark):
    from examples.retrieval_pipeline import main

    out = main(spark, "/root/testdata/sf0.001")
    assert out["corpus"] > 0 and len(out["fused"]) == 10
    assert out["recall"] >= 0.5


def test_streaming_pipeline(spark):
    from examples.streaming_pipeline import main

    out = main(spark, "/root/testdata/sf0.001")
    assert out["windows"] > 0 and out["view_groups"] == 5


def test_lakehouse_example_lifecycle(spark):
    from examples.lakehouse_pipeline import main

    post = main(spark, "/root/testdata/sf0.001")
    # delete removed the partition; appends summed to the remainder
    assert post.filter(post["pr"] == "1-URGENT").count() == 0
    assert post.count() > 0


def test_web_curation_example(spark):
    from examples.web_curation_pipeline import main

    surv = main(spark, "/root/testdata/sf0.001")
    assert surv.count() > 0
    cols = set(surv.columns)
    assert {"row_id", "url", "text", "domain"} <= cols


def test_sft_assembly_example(spark):
    from examples.sft_assembly_pipeline import main

    train = main(spark, "/root/testdata/sf0.001")
    assert train.count() > 0
    row = train.limit(1).collect()[0]
    assert "<|assistant|>" in row["sample"] and row["sample"].endswith("<|end|>")


def test_preference_data_example(tmp_path, spark):
    from examples.preference_data_pipeline import main

    n_pairs, n_dropped, strengths = main(
        "/root/testdata/sf0.001", str(tmp_path / "out")
    )
    assert n_pairs > 0
    # report values are rounded to 6 dp, so allow that much slack
    assert abs(sum(strengths.values()) - 1.0) < 1e-4


def test_format_interop_example(spark):
    from examples.format_interop_pipeline import main

    out = main(spark, "/root/testdata/sf0.001")
    # the example's own asserts cover protocol parity; sanity here:
    assert out.count() > 0
    assert set(out.columns) == {"k", "pr", "tp"}


def test_datasource_roundtrip_example(spark):
    from examples.datasource_roundtrip_pipeline import main

    main()


def test_uniform_lake_example(tmp_path, spark):
    from examples.uniform_lake_pipeline import main

    n, scanned = main(str(tmp_path / "out"))
    assert n == 50_000 - 500 + 500  # 500 DV-deleted, 500 appended
    assert scanned < 16


def test_wap_example(spark):
    from examples.wap_pipeline import main

    out = main(spark, "/root/testdata/sf0.001")
    # main never saw the staged batch during audit
    assert out["main_during_audit"] < out["published"]
    # the audit found corrupt rows, the branch fix removed every one
    assert out["bad_staged"] > 0
    assert out["bad_published"] == 0
    assert out["published"] == out["main_during_audit"] \
        + (out["published"] - out["main_during_audit"])
    # history separates main lineage (all published commits) correctly
    assert out["main_lineage"] >= 4
    # the bootstrap clustering prunes the box read
    assert out["box_files_scanned"] <= 16 // 2
