"""Benchmark for etl_market_survey_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload survey_dag --seed 1 --seconds 5 --trace 0

Prepares the seeded inputs (untimed), sets up a session in SETUPS - 1
processes that stop once set up, then starts the measured process
(worker.py) and samples the memory of its process tree until it exits. The
last line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ledger. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

DRIVER_MEM = "1g"
SETUPS = 3  # set-ups per untraced run; setup_s is their median
RUN_BUDGET_S = 160  # measured processes are stopped by then, so a run ends within 180 s
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def permuted_copy(seed: int, work: str = WORK) -> str:
    """Write (once per seed) a copy of the base tables in a seeded row order.

    The path holds the seed, so the engine's per-input table paths never
    collide between seeds. No seed gives the committed order.
    """
    import numpy as np
    import pyarrow.parquet as pq

    out = os.path.join(work, f"seed{seed}", "sf")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    for t in workloads.TABLES:
        table = pq.read_table(os.path.join(HERE, "data", f"{t}.parquet"))
        n = table.num_rows
        perm = rng.permutation(n)
        if (perm == np.arange(n)).all():
            perm = np.roll(perm, 1)
        pq.write_table(table.take(perm), os.path.join(out, f"{t}.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def oracle_results(workload: str, sf_dir: str) -> str:
    """DuckDB oracle result of each of the workload's ops on this copy, one
    pickle per op in the returned directory (computed once per seed)."""
    out = os.path.join(os.path.dirname(sf_dir), "oracle")
    os.makedirs(out, exist_ok=True)
    missing = [op for op in workloads.oracle_ops(workload)
               if not os.path.exists(os.path.join(out, f"{op}.pkl"))]
    if not missing:
        return out
    import duckdb

    from etl_market_survey_spark.plans import registry

    con = duckdb.connect()
    for t in workloads.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for op in missing:
        path = os.path.join(out, f"{op}.pkl")
        with open(path + ".part", "wb") as f:
            pickle.dump(con.execute(registry.ORACLE[op]).df(), f)
        os.replace(path + ".part", path)
    con.close()
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_env(scratch: str) -> dict:
    """Environment of the measured processes; every file they write stays
    under `scratch`. Spark writes an uncompressed event log there."""
    tmp = os.path.join(scratch, "tmp")
    log_dir = os.path.join(scratch, "eventlog")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # a fixed heap: G1 then does not grow it by GC timings, which moved
        # the peak memory of runs of the same work by 10-20 %
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in conf.items())
        + " pyspark-shell",
    })
    return env


# --------------------------------------------------------------------------
# process tree
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages split between the processes
    sharing them, so forked Python workers sum correctly."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap() -> None:
    """Collect every exited child; run.py is a subreaper, so the measured
    process's JVM and Python workers become its children when it exits."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def run_process(cmd: list[str], env: dict, log: str, timeout: float) -> tuple[int, float]:
    """Run `cmd`, sampling the resident memory of its process tree.

    Returns (exit code, peak MB): the largest sum over the tree of the
    processes' proportional set sizes, sampled every 0.1 s. Any
    process of the tree still alive after the leader exits is stopped, and
    waited for, before returning. Its stdout and stderr go to `log`.
    """
    with open(log, "ab") as err:
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=err, stderr=err,
                                start_new_session=True)
    peak_kb = 0
    deadline = time.time() + timeout
    seen = {proc.pid}
    try:
        while proc.poll() is None and time.time() < deadline:
            tree = _tree(proc.pid)
            seen.update(tree)
            peak_kb = max(peak_kb, sum(_pss_kb(p) for p in tree))
            time.sleep(0.1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in seen if _alive(p)]
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 5
        while left and time.time() < end:
            time.sleep(0.05)
            _reap()
            left = [p for p in left if _alive(p)]
    _reap()
    return proc.returncode, peak_kb / 1024.0


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------


def worker_cmd(out: str, **kw) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--t0", repr(time.time()), "--out", out]
    for k, v in kw.items():
        flag = f"--{k.replace('_', '-')}"
        cmd += [flag] if v is True else [flag, str(v)]
    return cmd


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so the tree is reaped
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    for need in ("etl_market_survey_spark", "bench.py", "tools/oracle_check.py",
                 "examples/beta_scan_pipeline.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; nothing to measure", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    phases = {"start": time.time()}
    deadline = phases["start"] + RUN_BUDGET_S
    sf_dir = permuted_copy(args.seed)
    oracles = oracle_results(args.workload, sf_dir)
    phases["inputs"] = time.time()
    scratch = os.path.join(WORK, "run")
    log = os.path.join(WORK, f"worker_{args.workload}.log")
    open(log, "w").close()
    kw = dict(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=args.trace, sf_dir=sf_dir, oracles=oracles, scratch=scratch)
    setups = []
    try:
        ticks = cpu_ticks()
        for _ in range(0 if args.trace else SETUPS - 1):
            res = measured_process(log, deadline, setup_only=True, **kw)
            if res is None:
                return 1
            setups.append(res["setup_s"])
        phases["setups"] = time.time()
        res = measured_process(log, deadline, **kw)
        if res is None:
            return 1
        phases["measured"] = time.time()
        steal = [b - a for a, b in zip(ticks, cpu_ticks())]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    setups.append(res["setup_s"])
    res["setup_s"] = statistics.median(setups)
    print(f"# set-ups {[round(x, 3) for x in setups]} s")

    names = list(phases)
    print("# run phases: " + ", ".join(
        f"{b} {phases[b] - phases[a]:.1f} s" for a, b in zip(names, names[1:]))
        + f"; CPU time stolen by the hypervisor {steal[0] / max(steal[1], 1):.0%}")
    report(args, res)
    return 0


def measured_process(log: str, deadline: float, **kw) -> dict | None:
    """Run worker.py with arguments `kw` in a fresh scratch directory, until
    `deadline` at most; its result, with the peak memory of its process tree
    and its environment, or None if it failed."""
    scratch = kw["scratch"]
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(scratch, "worker.json")
    env = run_env(scratch)
    rc, peak_mb = run_process(worker_cmd(out, **kw), env, log, deadline - time.time())
    if rc != 0:
        print(f"perfbench: measured process exited {rc}; see {log}", file=sys.stderr)
        return None
    with open(out) as f:
        res = json.load(f)
    res["peak_mb"] = peak_mb
    res["env"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH")}
    return res


def report(args, res: dict) -> None:
    print("# env: " + " ".join(f"{k}={v}" for k, v in res["env"].items()))
    print(f"# workload {args.workload} seed {args.seed}: transient retries {res['retries']}")
    attempted = failed = 0
    for p in res["passes"]:
        for r in p["ops"]:
            attempted += 1
            failed += bool(r["problems"])
            status = "ok" if not r["problems"] else "FAIL " + "; ".join(r["problems"])
            print(f"# pass {p['pass']}{' traced' if p['traced'] else ''} {r['op']}: "
                  f"{r['s']:.3f} s {status}")
    passes = res["passes"]
    if args.trace:
        tr = res["trace"]
        metrics = {
            f"{layer}.{m}": {"value": v, "unit": _unit(m)}
            for layer, row in tr["layers"].items() for m, v in row.items()
        }
        metrics["exec.plan_s"] = {"value": tr["plan_s"], "unit": "s"}
        metrics["session.get_spark_s"] = {"value": res["get_spark_s"], "unit": "s"}
        metrics["trace.overhead_frac"] = {"value": tr["overhead_frac"], "unit": "ratio"}
        metrics["trace.unattributed_jobs"] = {"value": tr["unattributed_jobs"], "unit": "count"}
        sidecar = os.path.join(WORK, f"trace_{args.workload}_seed{args.seed}.json")
        with open(sidecar, "w") as f:
            json.dump({"by_op": tr["by_op"], "layers": tr["layers"],
                       "jobs_total": tr["jobs_total"]}, f, indent=1)
        print(f"# per-op x layer ledger: {sidecar}")
    else:
        warm = passes[1:]
        print(f"# wall time, not a gated metric: cold pass {passes[0]['s']:.3f} s, "
              f"warm passes {[round(p['s'], 3) for p in warm]} s")
        print(f"# per-pass totals {[p['totals'] for p in passes]}; "
              f"jobs with no job group, so in no pass {res['ungrouped_jobs']}")
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_mb"], "unit": "MB"},
            "ok_frac": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
        for k in tracing.PASS_TOTALS:
            metrics[f"{k}_per_pass"] = {
                "value": statistics.median(p["totals"][k] for p in warm),
                "unit": _unit(k)}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric == "input_rows":
        return "rows"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
