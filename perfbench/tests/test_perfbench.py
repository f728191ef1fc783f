"""Tests of the benchmark itself: corpus generator, event-log parser and
result schema.  None of them starts a Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import importlib.util
import json
import os
import types

import pytest

from perfbench import corpus, eventlog, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
EVENT_LOG = os.path.join(HERE, "data", "eventlog")


def _run_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


run = _run_module()


# -- corpus ------------------------------------------------------------------


def _facts(runs):
    return [(r.name, r.kind, r.rows, r.planted) for r in runs]


def test_corpus_same_seed_same_bytes(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), 5, 3, 3)
    b = corpus.generate(str(tmp_path / "b"), 5, 3, 3)
    assert _facts(a) == _facts(b)
    for ra, rb in zip(a, b):
        with open(ra.path, "rb") as fa, open(rb.path, "rb") as fb:
            assert fa.read() == fb.read()


def test_corpus_seed_changes_inputs(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), 5, 3, 3)
    c = corpus.generate(str(tmp_path / "c"), 6, 3, 3)
    assert [f[2:] for f in _facts(a)] != [f[2:] for f in _facts(c)]


def test_corpus_layouts_and_planted_values(tmp_path):
    from lab_etl_spark.sources.text_formats import (
        _standardize,
        find_mcc_header,
        find_sta_header,
        split_header_token,
    )

    mcc_cols = ["time", "temperature", "n2_flow_rate", "o2_flow_rate",
                "flow_rate", "oxygen", "hrr", "heating_rate"]
    sta_cols = ["temperature", "time", "mass", "dsc", "dtg", "sensitivity", "segment"]
    for r in corpus.generate(str(tmp_path), 9, 2, 2):
        enc = "ascii" if r.kind == "MCC" else "iso-8859-1"
        with open(r.path, encoding=enc) as f:
            lines = f.read().splitlines()
        find = find_mcc_header if r.kind == "MCC" else find_sta_header
        start, header, delim = find(lines)
        names = [_standardize(split_header_token(t)[0]) for t in header]
        assert names == (mcc_cols if r.kind == "MCC" else sta_cols)
        body = [ln.split(delim) for ln in lines[start:]]
        assert len(body) == r.rows
        if r.kind == "MCC":
            assert lines.index("*") == 9
            assert max(float(c[6]) for c in body) == r.planted
        else:
            mass = [float(c[2]) for c in body]
            assert max(mass) - min(mass) == pytest.approx(r.planted, abs=1e-9)
            assert "°" in lines[start - 1]


# -- event log ---------------------------------------------------------------


def test_event_log_files_in_write_order():
    files = eventlog.log_files(EVENT_LOG)
    assert files and all(f.endswith(".zstd") for f in files)
    idx = [eventlog._part_index(os.path.basename(f)) for f in files]
    assert idx == sorted(idx)


def test_event_log_attribution():
    """The recorded log (trimmed to the event types the parser reads)
    holds two passes of two ops, ``t.count`` (``range().count()``) and
    ``t.shuffle`` (a group-by), plus one job outside any group.  When it
    was recorded, ``sc.statusTracker()`` reported per op and pass two jobs
    (adaptive execution runs the map stage as its own job) whose stages
    hold 4, 4 and 1 tasks; the second 4-task stage is skipped, so two
    stages and five tasks run."""
    s = eventlog.summarize(eventlog.read_events(EVENT_LOG))
    assert sorted(s) == [("", -1), ("t.count", 0), ("t.count", 1),
                         ("t.shuffle", 0), ("t.shuffle", 1)]
    for op in ("t.count", "t.shuffle"):
        for p in (0, 1):
            row = s[(op, p)]
            assert (row["jobs"], row["stages"], row["tasks"]) == (2, 2, 5)
            assert row["tasks_failed"] == 0 and row["spill_mb"] == 0
            assert row["exec_run_s"] > 0 and row["exec_cpu_s"] > 0
            assert row["shuffle_write_mb"] > 0 and row["shuffle_read_mb"] > 0
    assert (s[("", -1)]["jobs"], s[("", -1)]["tasks"]) == (1, 1)


def test_event_log_summary_from_synthetic_events():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w.a", "perfbench.pass": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "w.b", "perfbench.pass": "3"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "JVM GC Time": 250, "Disk Bytes Spilled": 1 << 20,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1 << 19,
                                                   "Local Bytes Read": 1 << 19},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 21}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {}},
    ]
    s = eventlog.summarize(events)
    a, b = s[("w.a", 3)], s[("w.b", 3)]
    assert (a["jobs"], a["stages"], a["tasks"], a["tasks_failed"]) == (1, 1, 1, 0)
    assert (a["exec_run_s"], a["exec_cpu_s"], a["gc_s"]) == (1.5, 1.0, 0.25)
    assert (a["shuffle_read_mb"], a["shuffle_write_mb"], a["spill_mb"]) == (1.0, 2.0, 1.0)
    assert (b["jobs"], b["stages"], b["tasks"], b["tasks_failed"]) == (1, 1, 1, 1)


# -- result schema -----------------------------------------------------------


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_metrics_run_reports():
    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_units()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def _fake_bench(workload: str):
    bench = types.SimpleNamespace(
        args=types.SimpleNamespace(workload=workload), failures=[], attempted=12
    )
    ops = workloads.WORKLOADS[workload]
    passes = [
        {"pass": p, "wall_s": 5.0 + p, "cpu_s": 9.0, "jvm.cpu_s": 8.0,
         "jit.compile_s": 0.5, "pyworker.cpu_s": 1.0, "host.steal_frac": 0.01, "host.canary_s": 0.1,
         "ops": {op: {"wall_s": 1.0, "build_s": 0.5} for op in ops}}
        for p in (4, 5)
    ]
    summary = {
        (f"{workload}.{op}", p): dict.fromkeys(eventlog.FIELDS, 2.0)
        for op in ops for p in (4, 5)
    }
    setups = [{"setup_s": 7.0, "session.start_s": 6.0, "queries.import_s": 0.1}]
    return bench, passes, setups, summary


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_traced_result_has_every_per_layer_metric(workload):
    bench, traced, setups, summary = _fake_bench(workload)
    metrics = run.layer_metrics(bench, traced, traced, setups, summary, 900.0)
    res = run.result(bench, metrics, run.per_layer_units())
    names = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    op = workloads.WORKLOADS[workload][0]
    assert res["metrics"][f"{op}.jobs"]["value"] == 2.0
    assert res["metrics"]["jobs"]["value"] == 2.0 * len(workloads.WORKLOADS[workload])
    assert res["metrics"]["trace.overhead_frac"]["value"] == 0.0


def test_untraced_result_has_every_end_to_end_metric():
    bench, *_ = _fake_bench("iterative_loops")
    metrics = dict.fromkeys(run.END_TO_END, 1.5)
    res = run.result(bench, metrics, run.END_TO_END)
    assert list(res) == ["correct", "attempted", "failed", "metrics"]
    assert res["correct"] and res["attempted"] == 12 and res["failed"] == 0
    names = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names


def test_op_order_is_seeded_and_keeps_dependencies():
    for wl, ops in workloads.WORKLOADS.items():
        orders = {tuple(workloads.op_order(wl, s)) for s in range(20)}
        assert all(sorted(o) == sorted(ops) for o in orders)
        assert workloads.op_order(wl, 3) == workloads.op_order(wl, 3)
        assert len(orders) > 1
    for s in range(20):
        assert workloads.op_order("instrument_lake", s)[3:] == [
            "log_append", "log_upsert", "lake_read"]


# -- timed passes ------------------------------------------------------------


@pytest.mark.parametrize("steals, used, stolen", [
    ([0.01, 0.02, 0.01], [0, 1, 2], []),
    ([0.01, 0.20, 0.01, 0.01], [0, 2, 3], [1]),
    ([0.20, 0.01, 0.20, 0.01, 0.01], [1, 3, 4], [0, 2]),
    ([0.20, 0.20, 0.01, 0.20, 0.01], [0, 1, 2, 3, 4], []),
])
def test_timed_passes_rerun_the_ones_the_host_stole_from(steals, used, stolen):
    bench = run.Bench(
        types.SimpleNamespace(workload="iterative_loops", seed=1, seconds=12.0), "unused"
    )
    steal, checked = iter(steals), []

    def run_pass(check):
        n, bench.pass_no = bench.pass_no, bench.pass_no + 1
        if check:
            checked.append(n)
        return {"pass": n, "wall_s": 5.0, "host.steal_frac": next(steal)}

    bench.run_pass = run_pass
    assert [r["pass"] for r in bench.timed_passes()] == used
    assert [r["pass"] for r in bench.stolen] == stolen
    assert checked == [run.N_TIMED - 1]
