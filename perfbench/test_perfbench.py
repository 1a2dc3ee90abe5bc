"""Tests of the benchmark's own output, at the tiny input size.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each workload runs twice (untraced and traced), about a minute each.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import Recorder  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def _line(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request):
    return request.param, _run(request.param, 0), _run(request.param, 1)


def test_spec_names_and_units_are_well_formed():
    import layers

    names = ([w["name"] for w in SPEC["workloads"]]
             + [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]])
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names
                                               if not NAME.match(n)]
    units = [m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert all(UNIT.match(u) for u in units)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == layers.names()
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def test_every_end_to_end_metric_printed_with_unit(runs):
    _workload, untraced, _traced = runs
    line = _line(untraced)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0
    assert line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in line["metrics"].values())


def test_traced_run_prints_every_per_layer_metric(runs):
    _workload, _untraced, traced = runs
    line = _line(traced)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want


def test_trace_spans_nest_and_self_times_are_non_negative(runs):
    workload, _untraced, traced = runs
    m = re.search(r"perfbench: trace (\S+);", traced.stderr)
    assert m, traced.stderr[-2000:]
    with open(m.group(1)) as f:
        doc = json.load(f)
    spans = {s["id"]: s for s in doc["spans"]}
    roots = [s for s in spans.values() if s["parent"] is None]
    assert [r["name"] for r in roots] == ["run"]
    assert {s["run_id"] for s in spans.values()} == {doc["run_id"]}
    for s in spans.values():
        assert s["start_s"] <= s["end_s"]
        assert s["self_s"] >= -1e-9, s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start_s"] <= s["start_s"] and s["end_s"] <= p["end_s"], (
                s["name"], p["name"])
    phases = {s["name"] for s in spans.values()
              if s["parent"] == roots[0]["id"]}
    want = ({"setup", "pass.0", "pass.1", "verify"} if workload == "query_mix"
            else {"setup", "generate", "write", "report", "verify"})
    assert want <= phases, phases
    assert set(doc["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_self_time_subtracts_the_union_of_children():
    rec = Recorder()
    with rec.span("root", start=0.0) as root:
        pass
    root.end = 10.0
    for name, lo, hi in (("a", 1.0, 4.0), ("b", 3.0, 5.0), ("c", 8.0, 9.0)):
        with rec.span(name) as s:
            pass
        s.parent, s.start, s.end = root.id, lo, hi
    assert rec.self_seconds(root) == pytest.approx(10.0 - 4.0 - 1.0)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
