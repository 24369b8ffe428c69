"""Seeded inputs and failure accounting, without a Spark session."""

import pyarrow.parquet as pq
import pytest

import run
import tracing
import worker
import workloads


def test_permuted_copy_is_seed_determined_and_never_the_committed_order(tmp_path):
    a = run.permuted_copy(1, str(tmp_path / "a"))
    b = run.permuted_copy(1, str(tmp_path / "b"))
    c = run.permuted_copy(2, str(tmp_path / "c"))
    for t in workloads.TABLES:
        base = pq.read_table(f"{run.HERE}/data/{t}.parquet")
        ta, tb, tc = (pq.read_table(f"{d}/{t}.parquet") for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(base) and not ta.equals(tc)
        assert ta.schema.equals(base.schema)
        key = ta.column_names[0]
        assert sorted(ta[key].to_pylist()) == sorted(base[key].to_pylist())
    assert a.endswith("seed1/sf")


def test_op_order_is_seed_determined_and_rotates_per_pass():
    for w in workloads.WORKLOADS:
        first = workloads.op_order(w, 5, 0)
        assert first == workloads.op_order(w, 5, 0)
        assert sorted(first) == sorted(workloads.WORKLOADS[w])
        assert workloads.op_order(w, 5, 1) == first[1:] + first[:1]
    orders = {tuple(workloads.op_order("lakehouse_rw", s, 0)) for s in range(20)}
    assert len(orders) == len(workloads.WORKLOADS["lakehouse_rw"])


def test_warm_pass_count_follows_seconds_not_speed():
    assert workloads.warm_passes("survey_dag", 5) == 1
    assert workloads.warm_passes("lakehouse_rw", 5) == 2
    assert workloads.warm_passes("survey_dag", 1) == 1


def test_worker_cmd_passes_flags_without_values():
    cmd = run.worker_cmd("o.json", seed=3, setup_only=True)
    assert cmd[cmd.index("--seed"):] == ["--seed", "3", "--setup-only"]


class _Ctx:
    tracer = tracing.Tracer(sc=None)  # disabled: spans pass through


def _no_retry(fn, retries, on_retry):
    return fn()


def test_raising_and_mismatching_ops_count_and_the_pass_continues(monkeypatch):
    def boom(ctx, name):
        raise RuntimeError("planned failure\nsecond line")

    monkeypatch.setattr(workloads, "OPS", {
        "raises": (boom, lambda ctx, name, out: []),
        "mismatch": (lambda ctx, name: 1, lambda ctx, name, out: ["col 'x': 1 mismatches"]),
        "check_raises": (lambda ctx, name: 1, lambda ctx, name, out: 1 / 0),
        "fine": (lambda ctx, name: 2, lambda ctx, name, out: []),
    })
    rows = worker.run_pass(_Ctx(), ["raises", "mismatch", "check_raises", "fine"],
                           None, _no_retry)
    assert [r["op"] for r in rows] == ["raises", "mismatch", "check_raises", "fine"]
    assert rows[0]["problems"] == ["raised RuntimeError: planned failure"]
    assert rows[1]["problems"] == ["col 'x': 1 mismatches"]
    assert rows[2]["problems"][0].startswith("check raised ZeroDivisionError")
    assert rows[3]["problems"] == []


def test_report_counts_failures_and_takes_the_warm_passes_median(capsys):
    class Args:
        workload, seed, trace = "lakehouse_rw", 3, 0

    def totals(jobs):
        return {"jobs": jobs, "tasks": 2 * jobs, "input_rows": 10, "shuffle_write_bytes": 7}

    res = {"retries": 0, "setup_s": 1.0, "peak_mb": 100.0, "ungrouped_jobs": 0,
           "env": {"SPARK_GRAFT_CPUS": "4"}, "passes": [
        {"pass": 0, "traced": False, "s": 3.0, "totals": totals(9), "ops": [
            {"op": "a", "s": 1.0, "problems": []}, {"op": "b", "s": 2.0, "problems": ["bad"]}]},
        {"pass": 1, "traced": False, "s": 2.0, "totals": totals(4), "ops": [
            {"op": "a", "s": 1.0, "problems": []}, {"op": "b", "s": 1.0, "problems": []}]},
        {"pass": 2, "traced": False, "s": 2.0, "totals": totals(5), "ops": [
            {"op": "b", "s": 1.0, "problems": []}, {"op": "a", "s": 1.0, "problems": []}]},
        {"pass": 3, "traced": False, "s": 2.0, "totals": totals(5), "ops": [
            {"op": "a", "s": 1.0, "problems": []}, {"op": "b", "s": 1.0, "problems": []}]},
    ]}
    run.report(Args, res)
    out = capsys.readouterr().out.splitlines()
    import json

    last = json.loads(out[-1])
    assert (last["correct"], last["attempted"], last["failed"]) == (False, 8, 1)
    m = last["metrics"]
    assert m["ok_frac"]["value"] == pytest.approx(7 / 8)
    assert (m["jobs_per_pass"]["value"], m["tasks_per_pass"]["value"]) == (5, 10)
    assert m["shuffle_write_bytes_per_pass"] == {"value": 7, "unit": "bytes"}
    assert m["input_rows_per_pass"]["unit"] == "rows"
    assert (m["setup_s"]["value"], m["peak_rss_mb"]["value"]) == (1.0, 100.0)
    assert any("FAIL bad" in line for line in out)
    assert any("cold pass 3.000 s" in line for line in out)
