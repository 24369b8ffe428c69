"""Statistical fit tests (SURVEY §5.3): generate samples from known
parameters, assert recovery within tolerance. Bootstrap determinism
(§5.5). Inverse-interpolation exactness."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_market_survey_spark.fits.grouped import (
    fit_erf_xy,
    fit_gaussian_per_group,
    fit_langauss_samples,
)
from etl_market_survey_spark.fits.models import erf_model
from etl_market_survey_spark.operators.autobroadcast import plan_fits_broadcast
from etl_market_survey_spark.operators.bootstrap import bootstrap_exact, bootstrap_hash
from etl_market_survey_spark.operators.delta_t import mad_per_threshold_pair
from etl_market_survey_spark.operators.interpolate import crossing_x


def test_gaussian_fit_recovers_parameters(spark):
    rng = np.random.default_rng(42)
    pdf = pd.DataFrame(
        {
            "g": ["a"] * 5000 + ["b"] * 5000,
            "x": np.concatenate(
                [rng.normal(10.0, 2.0, 5000), rng.normal(-3.0, 0.5, 5000)]
            ),
        }
    )
    out = (
        fit_gaussian_per_group(spark.createDataFrame(pdf), ["g"], "x")
        .toPandas()
        .set_index("g")
    )
    assert out.loc["a", "converged"] and out.loc["b", "converged"]
    assert out.loc["a", "mu"] == pytest.approx(10.0, abs=0.15)
    assert out.loc["a", "sigma"] == pytest.approx(2.0, rel=0.1)
    assert out.loc["b", "mu"] == pytest.approx(-3.0, abs=0.05)
    assert out.loc["b", "sigma"] == pytest.approx(0.5, rel=0.1)


def _landau_samples(rng, mpv, xi, n):
    """Inverse-CDF sampling of the true (DENLAN) Landau distribution on a
    fine grid; tail truncated at v=5000 (~2e-4 mass, irrelevant for the
    mode/width fit)."""
    from etl_market_survey_spark.fits.models import landau

    v = np.linspace(mpv - 8 * xi, mpv + 5000 * xi, 2_000_000)
    p = landau(v, mpv, xi)
    cdf = np.cumsum(p)
    cdf /= cdf[-1]
    return np.interp(rng.uniform(0, 1, n), cdf, v)


def test_landau_density_is_denlan_not_moyal():
    from etl_market_survey_spark.fits.models import _denlan, landau

    # published standardized value and mode location (Kölbig-Schorr)
    assert _denlan(np.array([0.0]))[0] == pytest.approx(0.1788541609, abs=1e-9)
    x = np.linspace(-5, 5, 200001)
    p = landau(x, 0.0, 1.0)
    assert abs(x[np.argmax(p)]) < 1e-3  # mode sits at mpv
    # heavy 1/x^2 tail: Moyal dies exponentially, Landau must not
    far = landau(np.array([200.0]), 0.0, 1.0)[0]
    moyal = np.exp(-(200.0 + np.exp(-200.0)) / 2.0) / np.sqrt(2 * np.pi)
    assert far > 1e-6 and far > 1e30 * moyal
    # normalization over a wide window
    w = np.linspace(-10, 3000, 3_000_001)
    assert np.trapz(landau(w, 0.0, 1.0), w) == pytest.approx(1.0, abs=5e-3)


def test_langauss_fit_recovers_mpv():
    # true-Landau samples (not Moyal): VERDICT r1 item 3
    rng = np.random.default_rng(7)
    mpv, xi, sigma = 50.0, 5.0, 3.0
    samples = _landau_samples(rng, mpv, xi, 20000) + rng.normal(0, sigma, 20000)
    fit_mpv, fit_xi, fit_sigma, ok = fit_langauss_samples(samples)
    assert ok
    assert fit_mpv == pytest.approx(mpv, rel=0.05)
    assert fit_xi == pytest.approx(xi, rel=0.5)  # xi/sigma partially degenerate


def test_erf_fit_recovers_parameters():
    rng = np.random.default_rng(3)
    x = np.linspace(0.0, 300e-6, 120)
    true = dict(y_scale=1.0, laser_sigma=9e-6, x_offset=150e-6, y_offset=0.02)
    y = erf_model(x, **true) + rng.normal(0, 0.01, x.size)
    ys, ls, xo, yo, ok = fit_erf_xy(x, y)
    assert ok
    assert ys == pytest.approx(true["y_scale"], rel=0.05)
    assert ls == pytest.approx(true["laser_sigma"], rel=0.15)
    assert xo == pytest.approx(true["x_offset"], abs=2e-6)


def test_bootstrap_hash_is_deterministic_and_poisson_sized(spark):
    df = spark.range(0, 2000).withColumn("k", F.col("id"))
    a = bootstrap_hash(df, "k", 5).groupBy("replica").count().orderBy("replica").collect()
    b = bootstrap_hash(df, "k", 5).groupBy("replica").count().orderBy("replica").collect()
    assert a == b  # deterministic
    for row in a:  # Poisson(1): replica size ~ n +- few sqrt(n)
        assert row["count"] == pytest.approx(2000, abs=5 * np.sqrt(2000))


_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _q38_chain(spark):
    """q38's shape: bootstrap -> Δt grid -> MAD per (k1, k2, replica) ->
    row_number argmin per replica."""
    pulses = spark.range(0, 300).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7919) % 1009 / 10.0).alias("t1"),
        ((F.col("id") * 104729) % 1013 / 10.0).alias("t2"),
    )
    boot = bootstrap_hash(pulses, "k", 7)
    ks = F.array([F.lit(k) for k in range(10, 100, 10)])
    dt = (
        boot.withColumn("k_1 (%)", F.explode(ks))
        .withColumn("k_2 (%)", F.explode(ks))
        .select(
            "replica", "k_1 (%)", "k_2 (%)",
            (
                F.col("t1") * F.col("k_1 (%)") / 100.0
                - F.col("t2") * F.col("k_2 (%)") / 100.0
            ).alias("Δt (s)"),
        )
    )
    mad = mad_per_threshold_pair(dt, extra_keys=["replica"])
    w = Window.partitionBy("replica").orderBy(
        F.col("MAD(Δt) k_MADstd (s)").asc(), "k_1 (%)", "k_2 (%)"
    )
    out = mad.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    return boot, out


def _grid_exchanges(df):
    """Exchange lines keyed on k_1 (%) or replica above the bootstrap's
    cross join (the whole plan when there is no cross join)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    above = plan.split("BroadcastNestedLoopJoin")[0]
    return [
        line for line in above.splitlines()
        if "Exchange" in line and ("k_1 (%)" in line or "replica" in line)
    ]


def test_bootstrap_hash_layouts_agree_and_partition_by_replica(spark):
    old = spark.conf.get(_THRESHOLD)
    try:
        runs = {}
        for thr in ("10MB", "-1"):  # replica-partitioned / explode-on-data
            spark.conf.set(_THRESHOLD, thr)
            boot, out = _q38_chain(spark)
            plan = out._jdf.queryExecution().executedPlan().toString()
            runs[thr] = (
                boot.columns,
                sorted(boot.collect()),
                out.columns,
                sorted(out.collect()),
                "BroadcastNestedLoopJoin" in plan,
                _grid_exchanges(out),
                "CartesianProduct" in plan,
                [line for line in plan.splitlines() if "REPARTITION_BY_NUM" in line],
            )
        bc, shuffled = runs["10MB"], runs["-1"]
        assert bc[:4] == shuffled[:4]  # same rows, same column order
        assert len(bc[3]) == 7  # one argmin row per replica
        assert bc[4] and not shuffled[4]  # each side took its own layout
        assert bc[5] == []  # MAD aggregate and window need no exchange
        assert shuffled[5]  # ... which the explode layout does need
        # the explode layout slices its input rows on the row key, once,
        # below the explode (the broadcast layout slices the replica ids)
        assert len(shuffled[7]) == 1 and "hashpartitioning(k#" in shuffled[7][0]
        assert len(bc[7]) == 1 and "hashpartitioning(replica#" in bc[7][0]
        assert not bc[6] and not shuffled[6]
    finally:
        spark.conf.set(_THRESHOLD, old)


def test_plan_gate_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "ids")
    spark.range(0, 1000).write.parquet(path)
    df = spark.read.parquet(path).groupBy((F.col("id") % 7).alias("g")).count()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    old = spark.conf.get(_THRESHOLD)
    sc.setJobGroup("plan-gate", "plan_fits_broadcast")
    try:
        spark.conf.set(_THRESHOLD, "10MB")
        assert plan_fits_broadcast(df)
        spark.conf.set(_THRESHOLD, "1b")  # the plan is bigger than one byte
        assert not plan_fits_broadcast(df)
        spark.conf.set(_THRESHOLD, "-1")  # broadcast disabled
        assert not plan_fits_broadcast(df)
        assert list(tracker.getJobIdsForGroup("plan-gate")) == []
        df.count()  # a job in the group is seen
        assert list(tracker.getJobIdsForGroup("plan-gate"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
        spark.conf.set(_THRESHOLD, old)


def test_bootstrap_exact_preserves_group_sizes(spark):
    pdf = pd.DataFrame({"g": ["a"] * 100 + ["b"] * 57, "x": range(157)})
    df = spark.createDataFrame(pdf)
    out = bootstrap_exact(df, ["g"], n_replicas=3, seed=1)
    sizes = {
        (r["g"], r["replica"]): r["count"]
        for r in out.groupBy("g", "replica").count().collect()
    }
    for r in range(3):
        assert sizes[("a", r)] == 100  # exact frac=1 semantics
        assert sizes[("b", r)] == 57
    # determinism under different partitioning
    out2 = bootstrap_exact(df.repartition(13), ["g"], n_replicas=3, seed=1)
    s1 = sorted(map(tuple, out.collect()))
    s2 = sorted(map(tuple, out2.collect()))
    assert s1 == s2


def test_crossing_x_linear_curve(spark):
    pdf = pd.DataFrame({"g": ["c"] * 11, "x": np.linspace(0, 1, 11)})
    pdf["y"] = pdf["x"]  # y = x: crossing of 0.5 is exactly x=0.5... bracketed
    df = spark.createDataFrame(pdf)
    out = crossing_x(df, ["g"], "x", "y", 0.55).collect()[0]
    assert out["x_at_threshold"] == pytest.approx(0.55)


def test_bootstrap_exact_scalable_sizes_and_determinism(spark):
    from etl_market_survey_spark.operators.bootstrap import bootstrap_exact_scalable

    pdf = pd.DataFrame(
        {"g": ["a"] * 1000 + ["b"] * 331, "rid": range(1331), "x": np.arange(1331) * 0.5}
    )
    df = spark.createDataFrame(pdf)
    out = bootstrap_exact_scalable(
        df, ["g"], n_replicas=3, row_id_cols=["rid"], n_buckets=16, seed=9
    )
    sizes = {
        (r["g"], r["replica"]): r["count"]
        for r in out.groupBy("g", "replica").count().collect()
    }
    for r in range(3):
        assert sizes[("a", r)] == 1000  # exact frac=1, summed over buckets
        assert sizes[("b", r)] == 331
    # only original rows appear, with multiplicity
    rids = set(pdf["rid"])
    assert all(r["rid"] in rids for r in out.select("rid").distinct().collect())
    # deterministic under any input partitioning
    out2 = bootstrap_exact_scalable(
        df.repartition(17), ["g"], n_replicas=3, row_id_cols=["rid"], n_buckets=16, seed=9
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_bootstrap_exact_scalable_is_a_real_bootstrap(spark):
    from etl_market_survey_spark.operators.bootstrap import bootstrap_exact_scalable

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"g": ["a"] * 2000, "rid": range(2000), "x": rng.normal(5.0, 1.0, 2000)})
    df = spark.createDataFrame(pdf)
    out = (
        bootstrap_exact_scalable(
            df, ["g"], n_replicas=20, row_id_cols=["rid"], n_buckets=8, seed=11
        )
        .groupBy("replica")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    means = np.array([r["m"] for r in out])
    # replica means scatter around the sample mean with se ~ sigma/sqrt(n)
    assert abs(means.mean() - pdf["x"].mean()) < 4 * 1.0 / np.sqrt(2000)
    assert 0.2 / np.sqrt(2000) < means.std() < 5 / np.sqrt(2000)
