"""Every metric the benchmark prints is named in BENCHMARK.json with its
unit, the file keeps to its contract, and the references and launcher
behave without a Spark session."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import layers, trace, worker, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_contract(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    names = [w["name"] for w in bench["workloads"]]
    assert set(names) <= set(workloads.WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    every = bench["end_to_end"] + bench["per_layer"] + bench["workloads"]
    assert all(NAME.match(m["name"]) for m in every)
    assert len({m["name"] for m in every}) == len(every)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_metric_table_matches_benchmark_json(bench):
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == layers.END_TO_END
    assert per_layer == {k: v[:2] for k, v in layers.PER_LAYER.items()}
    for name, (unit, better, moves, wls) in layers.PER_LAYER.items():
        assert UNIT.match(unit) and better in ("lower", "higher")
        assert set(moves) <= set(layers.END_TO_END), name
        assert set(wls) <= set(workloads.WORKLOADS), name


def _run(tmp_path, workload="catalog_olap"):
    events = tmp_path / "eventlog"
    events.mkdir()
    shutil.copy(os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl"), events)
    args = SimpleNamespace(
        workload=workload, inputs=str(tmp_path), seed=0,
        eventlog_dir=str(events), trace_out=str(tmp_path / "trace.json"),
    )
    return worker.Run(args)


def test_end_to_end_metrics_are_the_named_ones(tmp_path):
    run = _run(tmp_path)
    run.pass_s, run.cpu_s, run.peak_rss = [2.0, 3.0], [5.0, 7.0], 3 * 2**20
    m = run.end_to_end(7.0, [0.1 * i for i in range(1, 21)])
    assert set(m) == set(layers.END_TO_END)
    assert m["setup_s"] == 7.0 and m["pass_s"] == 2.5 and m["peak_rss_mb"] == 3.0
    assert m["op_s.p90"] == pytest.approx(1.8)  # nearest rank: the 18th of 20


def test_layer_metrics_are_the_named_ones(tmp_path):
    run = _run(tmp_path)
    run.pass_s, run.attempted = [1.8], 1
    t = trace.Tracer(sc=None)
    S = trace.Span
    t.spans = [
        S(0, "pass", 0.0, 2.0, None, "catalog_olap.pass"),
        S(1, "op", 0.0, 1.8, 0, "wl.op"),
        S(2, "construct", 0.0, 0.1, 1, "wl.op"),
        S(3, "io.read_table", 0.02, 0.06, 2, "wl.op"),
        S(4, "caching.release_all", 1.8, 1.85, 0, "wl.op"),
    ]
    run.tracer = t
    m = run.layer_metrics(7.0, [1.8], {"caching.capacity_evictions": 2})
    assert set(m) == set(layers.PER_LAYER)
    assert m["construct_s"] == pytest.approx(0.1)
    assert m["io.read_table_s"] == pytest.approx(0.04)
    assert m["io.read_table_jobs"] == 1 and m["exec.jobs"] == 2
    assert m["driver_s"] == pytest.approx(1.8 - (1.2 + 0.4))
    assert m["caching.release_all_s"] == pytest.approx(0.05)
    assert m["caching.capacity_evictions"] == 2
    assert m["python.worker_run_s"] == pytest.approx(1.1)
    with open(tmp_path / "trace.json") as f:
        written = json.load(f)
    assert written["exec_reconciled"] is True
    assert set(written["ops"]) == {"wl.op"}
    self_s = {s["name"]: s["self_s"] for s in written["spans"]}
    assert self_s["construct"] == pytest.approx(0.06) and self_s["op"] == pytest.approx(1.7)


def test_self_time_subtracts_covered_children():
    S = trace.Span
    spans = [S(0, "a", 0, 10, None, None), S(1, "b", 1, 4, 0, None), S(2, "c", 3, 6, 0, None)]
    assert trace.self_times(spans) == {0: 5, 1: 3, 2: 3}


def test_raster_references():
    img = np.zeros((3, 4, 4), dtype=np.uint8)
    img[:, 1:3, 1:3] = [[[200]], [[210]], [[220]]]  # 2x2 white block
    img[0, 0, 0] = 90
    ring = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]
    clip = workloads.clip_reference(img, ring)
    assert (clip == img).all()
    means, wf = workloads.stats_reference(clip)
    assert means == [(4 * 200 + 90) / 5, 210.0, 220.0]
    assert wf == 4 / 5
    half = workloads.clip_reference(img, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])
    assert half.shape == (3, 3, 3) and half[:, 2, :].sum() == 0  # row y=2 lies outside


def test_launcher_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""
