"""Tests of the benchmark itself: seeded inputs, oracles, metric names.

No Spark session is started here; run with
``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, alert_check, same_frame, wrong_keys  # noqa: E402
from rearview_spark.monitors.notify import Alert  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- same seed, same inputs and expected answers ------------------------------

def test_live_inputs_repeat_per_seed():
    a, b = gen.make_live(7), gen.make_live(7)
    assert np.array_equal(a.values, b.values) and a.monitors == b.monitors
    assert gen.expected_live(a, 10) == gen.expected_live(b, 10)
    assert not np.array_equal(a.values, gen.make_live(8).values)


def test_render_inputs_repeat_per_seed():
    a, b = gen.make_render(7), gen.make_render(7)
    assert np.array_equal(a.values, b.values)
    assert a.requests == b.requests and a.job_data == b.job_data
    for req in a.requests:
        if req["kind"] == "render":
            assert gen.expected_render(a, req).equals(gen.expected_render(b, req))
    assert gen.expected_overview(a) == gen.expected_overview(b)
    assert gen.expected_latest(a) == gen.expected_latest(b)
    assert not np.array_equal(a.values, gen.make_render(8).values)


def test_corpus_inputs_repeat_per_seed():
    a, b = gen.make_corpus(7), gen.make_corpus(7)
    assert a.text == b.text and a.clusters == b.clusters
    assert gen.expected_keep(a) == gen.expected_keep(b)
    assert a.text != gen.make_corpus(8).text


# -- the oracles' expected answers have the planted shape ---------------------

def test_every_tick_fires_one_golden_target_and_its_newest_minute():
    inp = gen.make_live(3)
    golden = {m["id"]: m for m in inp.monitors if m["minutes"] == gen.GOLDEN_WINDOW_MIN}
    for exp in gen.expected_live(inp, 12):
        failing = {j for j, s in exp["statuses"].items() if j in golden and s == "failed"}
        targets = {golden[j]["metrics"][0] for j in failing}
        assert len(failing) == len(gen.GOLDEN_THRESHOLDS) and len(targets) == 1
        # error_timeout 0: a failing golden monitor alerts on every key
        owed = {(j, k) for j in failing for k in golden[j]["alert_keys"]}
        assert owed <= exp["alerts"]


def test_fleet_spike_alerts_once_then_debounces():
    inp = gen.make_live(3)
    fleet = {m["id"] for m in inp.monitors if m["minutes"] == gen.FLEET_WINDOW_MIN}
    expected = gen.expected_live(inp, 6)
    alerted = [{j for j, _ in e["alerts"]} & fleet for e in expected]
    assert all(len(a) == 1 for a in alerted)  # one new fleet incident per tick
    assert len(set().union(*alerted)) == 6
    assert all(expected[k]["statuses"][j] == "failed" for j in alerted[0] for k in range(6))


def test_dedup_keeps_longest_member_of_each_cluster():
    inp = gen.make_corpus(3)
    keep = gen.expected_keep(inp)
    for members in inp.clusters:
        assert sum(keep[d] for d in members) == 1
    assert sum(keep.values()) == len(inp.text) - gen.VARIANTS * len(inp.clusters)


# -- the checks reject wrong answers ------------------------------------------

def test_render_check_rejects_a_wrong_value():
    inp = gen.make_render(5)
    req = next(r for r in inp.requests if r["kind"] == "render")
    exp = gen.expected_render(inp, req)
    got = exp.sample(frac=1.0, random_state=0)  # row order does not matter
    assert same_frame(got, exp)
    wrong = got.copy()
    wrong.loc[wrong.index[0], "value"] += 1e-3
    assert not same_frame(wrong, exp)
    assert not same_frame(got.iloc[1:], exp)


def test_alert_check_rejects_missing_extra_duplicate_and_late_alerts():
    now = gen.T0
    owed = {(1, "email:a"), (2, "email:b")}
    ok = [Alert(1, "email:a", "", now, "failed"), Alert(2, "email:b", "", now, "failed")]
    assert alert_check(owed, ok, now) == (2, 0)
    assert alert_check(owed, ok[:1], now)[1] == 1
    assert alert_check(owed, ok + ok[:1], now)[1] == 1
    assert alert_check(owed, ok + [Alert(3, "email:c", "", now, "failed")], now)[1] == 1
    late = [ok[0], Alert(2, "email:b", "", now + gen.MINUTE, "failed")]
    assert alert_check(owed, late, now)[1] == 1


def test_decision_check_rejects_a_flipped_keep():
    keep = gen.expected_keep(gen.make_corpus(5))
    assert wrong_keys(keep, dict(keep)) == []
    flipped = dict(keep)
    flipped[0] = not flipped[0]
    assert wrong_keys(keep, flipped) == [0]
    assert wrong_keys(keep, {**keep, -1: True}) == [-1]


# -- CPU time counts the whole process tree ------------------------------------

def test_tree_cpu_counts_child_processes():
    from spans import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass\ninput()"],
        stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 30
        while tree_cpu_s(os.getpid()) - before < 0.4 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tree_cpu_s(os.getpid()) - before >= 0.4
    finally:
        child.communicate(b"\n", timeout=30)


# -- BENCHMARK.json is well formed and matches the runner ----------------------

def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024


def test_metric_names_units_and_limits(spec):
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in e2e + layer:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"])
        assert m["better"] in ("higher", "lower")
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in layer:
        assert set(m) == {"name", "unit", "better"}
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_runner_reports_exactly_the_declared_metrics(spec):
    as_spec = lambda ms: [(m["name"], m["unit"], m["better"]) for m in ms]  # noqa: E731
    assert as_spec(spec["end_to_end"]) == run.END_TO_END
    assert as_spec(spec["per_layer"]) == run.PER_LAYER


def test_fails_without_the_program(tmp_path):
    """Given only BENCHMARK.json and the benchmark's files, the runner
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tick_live", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
