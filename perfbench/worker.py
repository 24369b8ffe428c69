"""The measured process of one benchmark run (started by run.py).

Sets up the package and a `get_spark()` session, then runs passes over the
workload's ops: the first pass is the cold one, later passes are warm. Every
op's output is checked after the op, outside the timed region. Writes its
result as JSON to `--out`. With `--setup-only` it stops once set up.

Untraced runs make `workloads.warm_passes` warm passes. Each op's timed
work runs under its pass's job group; once the session has stopped, the
event log gives each pass's jobs, tasks, input rows and shuffle bytes.

Traced runs (`--trace 1`) run a traced cold pass, an untraced warm-up pass,
then a traced and an untraced warm pass: the per-layer metrics come from the
traced warm pass, and `trace.overhead_frac` compares it with the untraced
pass after it (which has had more warm-up, so the overhead is not
understated).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import types


def _relocate_tmp(modules, prefix: str) -> None:
    """Point the ops' fixed /tmp/spark_graft_* table paths under `prefix`.

    The lakehouse plans build their table paths from string constants in
    their code; rewriting those constants keeps every file the benchmark
    writes inside its own work directory.
    """

    def retarget(code):
        consts = tuple(
            retarget(c) if isinstance(c, types.CodeType)
            else prefix + c[len("/tmp/"):] if isinstance(c, str) and c.startswith("/tmp/spark_graft_")
            else c
            for c in code.co_consts)
        return code.replace(co_consts=consts)

    for mod in modules:
        for obj in vars(mod).values():
            if isinstance(obj, types.FunctionType) and obj.__module__ == mod.__name__:
                obj.__code__ = retarget(obj.__code__)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t0", type=float, required=True, help="time.time() at spawn")
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--oracles", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    from etl_market_survey_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench")
    get_spark_s = time.time() - t
    from etl_market_survey_spark.plans import registry  # noqa: F401 — part of set-up

    setup_s = time.time() - args.t0
    result = {"setup_s": setup_s, "get_spark_s": get_spark_s}
    if args.setup_only:
        _write(args.out, result)
        os._exit(0)  # run.py stops and reaps the JVM
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [os.path.join(root, "tools"), os.path.join(root, "examples")]
    import beta_scan_pipeline
    import bench
    import tracing
    import workloads
    from etl_market_survey_spark.plans import q_misc

    _relocate_tmp([q_misc], os.path.join(args.scratch, "tmp") + "/")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer = tracing.Tracer(sc)
    if args.trace:
        tracer.install(extra_modules=[beta_scan_pipeline])
    sc.setJobGroup(tracing.UNTRACED_GROUP, tracing.UNTRACED_GROUP, False)

    ctx = workloads.Context(spark, tracer, args.sf_dir, args.scratch, args.seed, args.oracles)
    result.update(passes=[], retries=0)

    def note_retry(_exc):
        result["retries"] += 1

    def one_pass(pass_no: int, traced: bool) -> None:
        tracer.enabled, tracer.pass_no = traced, pass_no
        ctx.plan_s = 0.0
        ops = workloads.op_order(args.workload, args.seed, pass_no)
        rows = run_pass(ctx, ops, note_retry, bench.run_with_transient_retry)
        result["passes"].append({"pass": pass_no, "traced": traced, "plan_s": ctx.plan_s,
                                 "s": sum(r["s"] for r in rows), "ops": rows})

    passes = result["passes"]
    if args.trace:
        for pass_no, traced in enumerate((True, False, True, False)):
            one_pass(pass_no, traced)
    else:
        tracer.count_passes = True
        for pass_no in range(1 + workloads.warm_passes(args.workload, args.seconds)):
            one_pass(pass_no, False)
    tracer.enabled = tracer.count_passes = False
    spark.stop()

    jobs, stages = tracing.read_event_log(os.path.join(args.scratch, "eventlog"))
    if not args.trace:
        for p in passes:
            p["totals"] = tracing.pass_totals(jobs, stages, p["pass"])
        result["ungrouped_jobs"] = sum(j["group"] is None for j in jobs.values())
        _write(args.out, result)
        return 0
    warm = tracing.ledger(tracer.spans, jobs, stages, pass_no=2)
    result["trace"] = {
        "layers": warm["rows"],
        "unattributed_jobs": warm["unattributed_jobs"],
        "plan_s": passes[2]["plan_s"],
        "overhead_frac": passes[2]["s"] / passes[3]["s"] - 1.0,
        "by_op": {f"pass{p}": tracing.ledger(tracer.spans, jobs, stages, p, by_op=True)["rows"]
                  for p in (0, 2)},
        "jobs_total": len(jobs),
    }
    _write(args.out, result)
    return 0


def run_pass(ctx, ops: list[str], note_retry, with_retry) -> list[dict]:
    """Run each op, then check its output outside the timed region.

    An op that raises, or whose check finds problems, is recorded with its
    problems and the pass goes on with the next op.
    """
    import workloads

    rows = []
    for name in ops:
        run, check = workloads.op_functions(name)
        ctx.tracer.op = name
        t = time.time()
        try:
            with ctx.tracer.counted():
                out = with_retry(lambda: run(ctx, name), retries=1, on_retry=note_retry)
            problems = None
        except Exception as e:  # noqa: BLE001 — an op failure is counted, not fatal
            problems = [f"raised {_first_line(e)}"]
        secs = time.time() - t
        if problems is None:
            try:
                with ctx.tracer.span("check", name):
                    problems = check(ctx, name, out)
            except Exception as e:  # noqa: BLE001
                problems = [f"check raised {_first_line(e)}"]
        rows.append({"op": name, "s": secs, "problems": problems})
    return rows


def _first_line(e: BaseException) -> str:
    return f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"


def _write(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


if __name__ == "__main__":
    sys.exit(main())
