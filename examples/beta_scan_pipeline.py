"""Worked example — the reference's beta-scan workflow end-to-end on
reference-shaped data (FIXTURES.md §1 schema, verbatim column names).

Synthesizes a two-device beta scan (Landau⊗Gauss charge, CFD times
t_10..t_90 with a shared per-trigger jitter), then runs the full pipeline
a reference user runs:

  1. clean_beta_scan:  cuts table -> accepted flags        (F3/J1)
  2. collected charge: langauss fit per device             (U1)
  3. time resolution:  bootstrap x CFD-pair grid x MAD x
     argmin per replica -> replica-std error bars          (A9/J4/A2/A5/U6)
  4. sinks: parquet checkpoints + csv results + key=value sidecar

Run: python examples/beta_scan_pipeline.py [output_dir]
"""

from __future__ import annotations

import statistics
import sys

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from etl_market_survey_spark.fits.grouped import fit_langauss_per_group
from etl_market_survey_spark.operators.bootstrap import (
    bootstrap_hash,
    poisson_count_expr,
)
from etl_market_survey_spark.operators.cuts import apply_cuts, attach_accepted
from etl_market_survey_spark.operators.delta_t import mad_per_threshold_pair
from etl_market_survey_spark.pipeline import Pipeline
from etl_market_survey_spark.sources.writers import write_csv, write_text_sidecar

THRESHOLDS = list(range(10, 100, 10))
TRUE_JITTER = 40e-12  # per-device; Δt jitter = sqrt(2) * this


def synthesize_measurement(spark, n_triggers: int = 4000, seed: int = 42):
    """FIXTURES §1-shaped frame: one row per (n_trigger, device_name) with
    Amplitude, Collected charge, Noise and t_10..t_90 CFD times. Built from
    pandas (columns taken by position) through Arrow: a local relation, so
    writing it runs no Python-worker tasks."""
    rng = np.random.default_rng(seed)
    rows = []
    for dev, (mpv, xi, sigma_q, t0) in {
        "MS07": (20e-12, 2e-12, 1e-12, 50e-9),
        "MS08": (22e-12, 2.2e-12, 1e-12, 50.3e-9),
    }.items():
        z = -np.log(rng.chisquare(1, n_triggers))  # Moyal sample
        charge = mpv + xi * z + rng.normal(0, sigma_q, n_triggers)
        amplitude = charge / 40e-12
        rise = 1e-9
        t50 = t0 + rng.normal(0, TRUE_JITTER, n_triggers)  # shared edge jitter
        for i in range(n_triggers):
            tk = [
                float(t50[i] + (k - 50) / 100.0 * rise + rng.normal(0, 2e-12))
                for k in THRESHOLDS
            ]
            rows.append(
                (i, dev, float(amplitude[i]), float(charge[i]),
                 float(rng.normal(2e-3, 2e-4)), *tk)
            )
    tk_fields = ", ".join(f"`t_{k} (s)` double" for k in THRESHOLDS)
    return spark.createDataFrame(
        pd.DataFrame(rows),
        f"n_trigger long, device_name string, `Amplitude (V)` double, "
        f"`Collected charge (V s)` double, `Noise (V)` double, {tk_fields}",
    )


def main(out_dir: str):
    from etl_market_survey_spark.session import get_spark

    spark = get_spark("beta-scan-example")
    spark.sparkContext.setLogLevel("ERROR")
    # Catalyst constraint propagation is super-linear on this plan (18
    # pivot columns -> map_from_arrays -> double explode): ~40s of pure
    # driver optimization time and a heap spike, for zero useful
    # inferred filters. Scoped off (measured 2.4x end-to-end, results
    # bit-identical).
    cp_key = "spark.sql.constraintPropagation.enabled"
    cp_old = spark.conf.get(cp_key)
    spark.conf.set(cp_key, "false")
    try:
        return _run(spark, out_dir)
    finally:
        spark.conf.set(cp_key, cp_old)


def _run(spark, out_dir: str):
    pipe = Pipeline(spark, out_dir)

    @pipe.stage("measured_data")
    def measured_data(s, inputs):
        return synthesize_measurement(s)

    @pipe.stage("clean", deps=["measured_data"])
    def clean(s, inputs):
        # pandas through Arrow plans a local relation: collecting the cuts
        # runs no job (a Python list plans an RDD scan, one job)
        cuts = s.createDataFrame(
            pd.DataFrame([
                ("Amplitude (V)", "MS07", "lower", 0.05),
                ("Amplitude (V)", "MS08", "lower", 0.05),
                ("Noise (V)", "MS07", "higher", 3e-3),
            ]),
            "variable string, device_name string, `cut type` string, `cut value` double",
        )
        accepted = apply_cuts(inputs["measured_data"], cuts)
        return attach_accepted(inputs["measured_data"], accepted, fill=True)

    @pipe.stage("collected_charge", deps=["clean"])
    def collected_charge(s, inputs):
        data = inputs["clean"].filter("accepted")
        return fit_langauss_per_group(
            data.select("device_name", "`Collected charge (V s)`"),
            ["device_name"],
            "Collected charge (V s)",
        )

    @pipe.stage("time_resolution", deps=["clean"])
    def time_resolution(s, inputs):
        # wide per trigger: t_k columns per device (R1), complete pairs only.
        # One groupBy of first(when(device == d, t)) — the shape .pivot()
        # rewrites to anyway, but .pivot() plans it as two aggregates
        # (two exchanges) where this plans one.
        tk_cols = [f"t_{k} (s)" for k in THRESHOLDS]
        dev = F.col("device_name")
        wide = (
            inputs["clean"]
            .filter("accepted")
            .groupBy("n_trigger")
            .agg(*[
                F.first(F.when(dev == d, F.col(f"`{c}`")), ignorenulls=True).alias(f"{d}_{c}")
                for d in ("MS07", "MS08")
                for c in tk_cols
            ])
            .na.drop()
        )
        # When the wide frame fits a broadcast, as it does at this example's
        # trigger counts, bootstrap_hash slices the replica ids, not the
        # data: its output is hash-partitioned on replica into
        # max(33, defaultParallelism) slices, and the grid explode, MAD
        # aggregate and per-replica argmin below all run in that one stage
        # with no exchange (bootstrap module docstring).
        boot = bootstrap_hash(wide, "n_trigger", n_replicas=33)
        # the 81-pair Δt grid (J4): both devices' thresholds live on the
        # SAME wide row, so a threshold->time map + double explode builds
        # every (k1, k2) pair narrow — no melt, no self-join shuffle.
        # The old melt+join on (replica, n_trigger) matched each of the
        # c bootstrap copies against each other -> c^2 pair rows; the
        # Poisson count is deterministic in (key, replica), so that
        # weighting is reproduced exactly with one more explode.
        ks_arr = F.array(*[F.lit(k) for k in THRESHOLDS])
        t_map = lambda dev: F.map_from_arrays(  # noqa: E731
            ks_arr, F.array(*[F.col(f"`{dev}_{c}`") for c in tk_cols])
        )
        cnt = poisson_count_expr(F.col("n_trigger"), F.col("replica"))
        dt = (
            boot.select(
                "replica",
                F.explode(F.sequence(F.lit(1), cnt.cast("int"))).alias("_dup2"),
                t_map("MS07").alias("_m1"),
                t_map("MS08").alias("_m2"),
            )
            .withColumn("k_1 (%)", F.explode(ks_arr))
            .withColumn("k_2 (%)", F.explode(ks_arr))
            .select(
                "replica", "k_1 (%)", "k_2 (%)",
                (
                    F.element_at("_m1", F.col("`k_1 (%)`"))
                    - F.element_at("_m2", F.col("`k_2 (%)`"))
                ).alias("Δt (s)"),
            )
        )
        mad = mad_per_threshold_pair(dt, extra_keys=["replica"])
        from pyspark.sql.window import Window

        w = Window.partitionBy("replica").orderBy(
            F.col("MAD(Δt) k_MADstd (s)").asc(), "k_1 (%)", "k_2 (%)"
        )
        # 33 rows: one checkpoint file, so the read below is one task
        return (
            mad.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
            .repartition(1)
        )

    charge = pipe.run("collected_charge")
    tr = pipe.run("time_resolution")

    write_csv(charge, f"{out_dir}/collected_charge_results")
    write_csv(tr, f"{out_dir}/time_resolution_results")

    # replica spread = the bootstrap error bar (U6). Values are O(1e-11),
    # below the deterministic d* kernel's 1e-6 resolution, and a Spark
    # float sum depends on row order. So the 33 values come to the driver
    # (one job) and statistics' exactly rounded median and sample std run
    # on the sorted list: the same values give the same bits in any order.
    mads = sorted(r[0] for r in tr.select("`MAD(Δt) k_MADstd (s)`").collect())
    m, e = statistics.median(mads), statistics.stdev(mads)
    write_text_sidecar(
        {
            "time resolution (s)": m / (2**0.5),
            "time resolution (s) error": e / (2**0.5),
        },
        f"{out_dir}/time_resolution.txt",
    )
    print(f"charge fits:\n{charge.toPandas()}")
    print(f"time resolution: {m / 2**0.5:.3e} s ± {e / 2**0.5:.1e} s "
          f"(true per-device jitter {TRUE_JITTER:.1e} s)")
    return m / 2**0.5


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/beta_scan_example")
