"""Span recorder and Spark event-log ledger for the benchmark.

The tracer wraps the public functions of each layer module (module
attributes, plus every name another loaded module imported from them) in a
span.  Each span sets the Spark job group to its own id, so the event log
attributes every job to the innermost open span.  Spans are kept in memory
and turned into per-layer metrics once the session has stopped and its event
log is complete.

Untraced runs wrap nothing: each op's timed work runs under its pass's job
group, and the event log gives per-pass totals (jobs, tasks, rows, bytes).
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import pkgutil
import pydoc
import sys
import time
import types
from collections import defaultdict
from contextlib import contextmanager

PKG = "etl_market_survey_spark"

# layer -> modules whose public functions are wrapped. `plans` and `exec`
# spans are opened by the benchmark around the registry call and the final
# materialization; `functions` only builds column expressions, so its cost
# lands in `exec`.
LAYER_MODULES = {
    "session": [f"{PKG}.session"],
    "sources": [f"{PKG}.sources.{m}" for m in
                ("readers", "writers", "deltalog", "iceberg", "pyds", "pyds_iceberg")],
    "operators": [f"{PKG}.operators"],  # every submodule
    "fits": [f"{PKG}.fits.grouped"],
}
LAYER_METHODS = [("pipeline", f"{PKG}.pipeline", "Pipeline", "run")]
LAYERS = ("session", "plans", "sources", "operators", "fits", "pipeline", "exec")

COUNTS = ("calls", "jobs", "tasks", "failed_tasks", "stages_skipped")
TIMES = ("self_s", "job_wait_s", "driver_s", "executor_run_s")
DATA = ("input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
LAYER_METRICS = COUNTS + TIMES + DATA + ("errors",)
UNTRACED_GROUP = "untraced"
PASS_TOTALS = ("jobs", "tasks", "input_rows", "shuffle_write_bytes")


def pass_group(pass_no: int) -> str:
    return f"pass{pass_no}"


class _Traced:
    """Callable stand-in for a layer function that records a span per call.

    Pickles as the original function (looked up by dotted name in the
    unpatched Python worker), so UDFs built from a layer function never ship
    the tracer to executors.
    """

    def __init__(self, tracer: Tracer, layer: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn = tracer, layer, fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__qualname__):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return pydoc.locate, (f"{self._fn.__module__}.{self._fn.__qualname__}",)


class Tracer:
    """In-memory span recorder; `enabled` off makes spans pass through."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.count_passes = False
        self.pass_no = 0
        self.op = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._originals: dict[int, _Traced] = {}

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"s{len(self.spans)}",
            "parent": self._stack[-1]["id"] if self._stack else None,
            "layer": layer, "name": name, "op": self.op, "pass": self.pass_no,
            "t0": time.time(), "t1": None, "error": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], f"{layer}:{name}", False)
        try:
            yield rec
        except BaseException as e:
            # count an exception once, in the innermost span it left
            if not getattr(e, "_bench_span_seen", False):
                rec["error"] = type(e).__name__
                try:
                    e._bench_span_seen = True
                except AttributeError:
                    pass
            raise
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            outer = self._stack[-1]["id"] if self._stack else UNTRACED_GROUP
            self.sc.setJobGroup(outer, outer, False)

    @contextmanager
    def counted(self):
        """Around an op's timed work: with `count_passes` (untraced runs),
        its jobs carry the pass's job group, and the untimed check's do not."""
        if not self.count_passes:
            yield
            return
        group = pass_group(self.pass_no)
        self.sc.setJobGroup(group, group, False)
        try:
            yield
        finally:
            self.sc.setJobGroup(UNTRACED_GROUP, UNTRACED_GROUP, False)

    def install(self, extra_modules=()) -> None:
        """Wrap every layer's public functions, and rebind the names that
        loaded package modules and `extra_modules` imported from them."""
        for layer, names in LAYER_MODULES.items():
            for name in names:
                for mod in _with_submodules(importlib.import_module(name)):
                    for attr, obj in list(vars(mod).items()):
                        if (isinstance(obj, types.FunctionType) and not attr.startswith("_")
                                and obj.__module__ == mod.__name__):
                            setattr(mod, attr, self._wrap(layer, obj))
        for layer, modname, cls, meth in LAYER_METHODS:
            klass = getattr(importlib.import_module(modname), cls)
            setattr(klass, meth, self._wrap(layer, vars(klass)[meth]))
        loaded = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m is not None]
        for mod in loaded + list(extra_modules):
            for attr, obj in list(vars(mod).items()):
                w = self._originals.get(id(obj))
                if w is not None and w._fn is obj:
                    setattr(mod, attr, w)

    def _wrap(self, layer: str, fn) -> _Traced:
        w = _Traced(self, layer, fn)
        self._originals[id(fn)] = w
        return w


def _with_submodules(mod):
    yield mod
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__, mod.__name__ + "."):
            yield importlib.import_module(info.name)


# --------------------------------------------------------------------------
# interval arithmetic
# --------------------------------------------------------------------------


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by `intervals`, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> its duration minus the part its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - union_length(children[s["id"]], s["t0"], s["t1"])
        for s in spans
    }


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def parse_event_log(lines) -> tuple[dict, dict]:
    """Jobs and stages from an uncompressed Spark event log.

    Returns (jobs, stages): jobs[id] = {group, t0, t1, skipped};
    stages[id] = {group, tasks, failed_tasks, run_s, input_rows,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes}. Times are
    seconds since the epoch, like the spans'.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    pending: dict[int, set] = {}  # running job -> its stages not yet submitted
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "t0": e["Submission Time"] / 1000.0, "t1": None, "skipped": 0,
            }
            pending[jid] = set(e["Stage IDs"])
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            for waiting in pending.values():
                waiting.discard(sid)
            stages.setdefault(sid, {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "tasks": 0, "failed_tasks": 0, "run_s": 0.0, "input_rows": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            })
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(e["Stage ID"])
            if st is None:
                continue
            st["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                st["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is None:
                continue
            job["t1"] = e["Completion Time"] / 1000.0
            job["skipped"] = len(pending.pop(e["Job ID"], ()))
    return jobs, stages


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    files = sorted(glob.glob(f"{log_dir}/*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return parse_event_log(f)


def pass_totals(jobs: dict, stages: dict, pass_no: int) -> dict:
    """PASS_TOTALS of the jobs and stages an untraced pass ran."""
    group = pass_group(pass_no)
    out = dict.fromkeys(PASS_TOTALS, 0)
    out["jobs"] = sum(j["group"] == group for j in jobs.values())
    for st in stages.values():
        if st["group"] == group:
            for k in PASS_TOTALS[1:]:
                out[k] += st[k]
    return out


def ledger(spans: list[dict], jobs: dict, stages: dict, pass_no: int,
           by_op: bool = False) -> dict:
    """Per-layer metrics of one pass, keyed by layer (or "op/layer").

    Returns {"rows": {key: {metric: value}}, "unattributed_jobs": n}. Jobs
    of untraced passes carry the `untraced` group and are not counted as
    unattributed; the benchmark's own `check` spans are left out of the
    rows.
    """
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    rows: dict[str, dict] = {} if by_op else {
        layer: dict.fromkeys(LAYER_METRICS, 0) for layer in LAYERS}

    def row_of(s):
        if s is None or s["pass"] != pass_no or s["layer"] not in LAYERS:
            return None
        key = f'{s["op"]}/{s["layer"]}' if by_op else s["layer"]
        return rows.setdefault(key, dict.fromkeys(LAYER_METRICS, 0))

    job_iv = defaultdict(list)
    unattributed = 0
    for job in jobs.values():
        s = by_id.get(job["group"])
        if s is None:
            unattributed += job["group"] != UNTRACED_GROUP
            continue
        row = row_of(s)
        if row is None:
            continue
        row["jobs"] += 1
        row["stages_skipped"] += job["skipped"]
        job_iv[s["id"]].append((job["t0"], job["t1"] if job["t1"] is not None else s["t1"]))
    for st in stages.values():
        row = row_of(by_id.get(st["group"]))
        if row is None:
            continue
        row["tasks"] += st["tasks"]
        row["failed_tasks"] += st["failed_tasks"]
        row["executor_run_s"] += st["run_s"]
        for k in DATA:
            row[k] += st[k]
    for s in spans:
        row = row_of(s)
        if row is None:
            continue
        row["calls"] += 1
        row["self_s"] += selfs[s["id"]]
        row["job_wait_s"] += union_length(job_iv[s["id"]], s["t0"], s["t1"])
        row["errors"] += s["error"] is not None
    for row in rows.values():
        row["driver_s"] = row["self_s"] - row["job_wait_s"]
    return {"rows": rows, "unattributed_jobs": unattributed}
