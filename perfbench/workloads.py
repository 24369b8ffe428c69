"""Workload definitions: which ops a pass runs, how each runs and is checked.

An op's `run` does the timed work and returns what its `check` inspects;
`check` runs untimed and returns a list of problems (empty = correct).
Registry ops are compared bit-exact, order-insensitive, with their DuckDB
oracle. The beta-scan DAG must recover the truth its synthesizer planted.
"""

from __future__ import annotations

import contextlib
import functools
import io
import os
import pickle
import random
import shutil
import time

import pandas as pd

WORKLOADS = {
    # the reference's own analysis: cuts -> pivot -> bootstrap x Δt grid ->
    # MAD -> argmin through Pipeline checkpoints, beside a Landau(x)Gauss fit
    # per device; bound by execution and Python-worker fits
    "survey_dag": ["beta_scan_dag"],
    # Delta MERGE and Iceberg position deletes: table writes beside the log
    # and manifest reads; bound by driver-side build
    "lakehouse_rw": ["q375_delta_merge", "q371_iceberg_position_deletes"],
}
TABLES = ("orders",)
# Seconds of warm measurement one pass counts for: about a warm pass on a
# quiet 4-vCPU machine. A run makes round(--seconds / this) warm passes, at
# least one, so every run of a workload does the same work however loaded
# the host is, and its heap grows over the same passes.
PASS_S = {"survey_dag": 5.0, "lakehouse_rw": 2.2}

# beta-scan DAG size and what it must recover
BETA_TRIGGERS = 1000
BETA_MPV = {"MS07": 20e-12, "MS08": 22e-12}  # as synthesized by the example
# The example's estimate (argmin over the 81-pair MAD grid, median over
# replicas) reads 4-9 % below the planted jitter on average, with a
# seed-to-seed spread of 9 % at 500 triggers and 4 % at 2000. 30 % keeps
# clear of that at 1000 triggers and catches unit and factor-of-2 errors.
TIME_RESOLUTION_RTOL = 0.30
MPV_RTOL = 0.10


class Context:
    """What ops need: the session, the tracer, inputs and scratch space."""

    def __init__(self, spark, tracer, sf_dir: str, scratch: str, seed: int, oracle_dir: str):
        self.spark, self.tracer = spark, tracer
        self.sf_dir, self.scratch, self.seed = sf_dir, scratch, seed
        self.oracle_dir = oracle_dir
        self.plan_s = 0.0


# --------------------------------------------------------------------------
# registry ops
# --------------------------------------------------------------------------


def run_registry(ctx: Context, name: str):
    from bench import materialize
    from etl_market_survey_spark.plans import registry

    with ctx.tracer.span("plans", name):
        df = registry.QUERIES[name](ctx.spark, ctx.sf_dir)
    with ctx.tracer.span("exec", name):
        if ctx.tracer.enabled:
            t = time.time()
            df._jdf.queryExecution().executedPlan()
            ctx.plan_s += time.time() - t
        materialize(df)
    return df


def check_registry(ctx: Context, name: str, df) -> list[str]:
    from oracle_check import compare

    with open(os.path.join(ctx.oracle_dir, f"{name}.pkl"), "rb") as f:
        want = pickle.load(f)  # written by run.py for this copy
    return compare(name, df.toPandas(), want)


# --------------------------------------------------------------------------
# the beta-scan DAG, run as examples/beta_scan_pipeline.py runs it
# --------------------------------------------------------------------------


def run_beta_scan(ctx: Context, name: str):
    import beta_scan_pipeline as beta

    out = os.path.join(ctx.scratch, "beta_scan")
    shutil.rmtree(out, ignore_errors=True)
    synth = beta.synthesize_measurement
    beta.synthesize_measurement = functools.partial(
        synth, n_triggers=BETA_TRIGGERS, seed=ctx.seed)
    try:
        with ctx.tracer.span("plans", name), contextlib.redirect_stdout(io.StringIO()):
            resolution = beta.main(out)
    finally:
        beta.synthesize_measurement = synth
    return resolution, out


def check_beta_scan(ctx: Context, name: str, result) -> list[str]:
    import beta_scan_pipeline as beta

    resolution, out = result
    problems = []
    if not abs(resolution / beta.TRUE_JITTER - 1.0) <= TIME_RESOLUTION_RTOL:
        problems.append(
            f"time resolution {resolution:.4e} s not within {TIME_RESOLUTION_RTOL:.0%} "
            f"of the planted {beta.TRUE_JITTER:.1e} s")
    fits = pd.read_parquet(os.path.join(out, "collected_charge"))
    for dev, mpv in BETA_MPV.items():
        row = fits[fits["device_name"] == dev]
        if len(row) != 1 or not bool(row["converged"].iloc[0]):
            problems.append(f"charge fit for {dev} missing or not converged")
        elif not abs(row["mpv"].iloc[0] / mpv - 1.0) <= MPV_RTOL:
            problems.append(
                f"charge MPV of {dev} {row['mpv'].iloc[0]:.4e} not within "
                f"{MPV_RTOL:.0%} of {mpv:.1e}")
    shutil.rmtree(out, ignore_errors=True)
    return problems


OPS = {"beta_scan_dag": (run_beta_scan, check_beta_scan)}


def op_functions(name: str):
    """(run, check) for an op name."""
    return OPS.get(name, (run_registry, check_registry))


def op_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The workload's ops in the seed's order, rotated by one op per pass so
    that a run's passes spread every op over the positions in a pass."""
    ops = list(WORKLOADS[workload])
    random.Random(seed).shuffle(ops)
    k = pass_no % len(ops)
    return ops[k:] + ops[:k]


def warm_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))


def oracle_ops(workload: str) -> list[str]:
    return [op for op in WORKLOADS[workload] if op not in OPS]
