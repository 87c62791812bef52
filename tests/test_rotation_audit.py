"""The rotation audit (tools/rotation_audit.py) must agree with the
repo's own artifacts: every registered entry oracled, the registry
front-window covering every would-breach / never-checked entry, and
the staleness arithmetic consistent, and the committed window equal to
what compute_window derives from them. Driver-side only (no Spark
session; load_all only imports modules)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rotation_audit_green_on_this_repo():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "tools", "rotation_audit.py")],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["ok"] is True
    assert report["registered"] == report["oracled"]
    assert report["sla_breach_entries_missing_from_window"] == []
    assert report["never_checked_missing_from_window"] == []
    # histogram totals must cover the whole registry
    assert sum(report["staleness_histogram"].values()) == report["registered"]
    # the audited round is the next one after the newest artifact
    assert report["audited_next_round"] == report["max_seen_round"] + 1


def test_load_latest_rounds_matches_artifacts():
    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    from rotation_audit import load_latest_rounds

    latest = load_latest_rounds()
    assert latest, "no CORRECTNESS artifacts found"
    # spot-check: an entry present in CORRECTNESS_r14 maps to >= 14
    with open(os.path.join(REPO_ROOT, "CORRECTNESS_r14.json")) as f:
        r14 = json.load(f)
    for k in list(r14)[:5]:
        assert latest[k] >= 14


def test_compute_window_ranks_and_bounds():
    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    from rotation_audit import SLA_ROUNDS, WINDOW_SIZE, compute_window

    nxt = 20
    latest = {
        "fresh_b": nxt - 1,
        "fresh_a": nxt - 1,
        "older": nxt - 3,
        "due": nxt - SLA_ROUNDS - 1,
        "at_bound": nxt - SLA_ROUNDS,
        "touched": nxt - 1,
    }
    names = [*latest, "never"]
    # class 0 (never, then due), class 1 (touched), then class 2 by
    # round, names breaking ties
    assert compute_window(names, latest, ("touched",), nxt) == [
        "never", "due", "touched", "at_bound", "older", "fresh_a", "fresh_b",
    ]
    many = [f"q{i:03d}" for i in range(WINDOW_SIZE + 10)]
    fresh = {n: nxt - 1 for n in many}
    assert compute_window(many[::-1], fresh, (), nxt) == many[:WINDOW_SIZE]
    # more due (never-checked) or touched names than slots: refuse
    with pytest.raises(ValueError, match="exceed"):
        compute_window(many, {}, (), nxt)
    with pytest.raises(ValueError, match="exceed"):
        compute_window(many, fresh, tuple(many[: WINDOW_SIZE + 1]), nxt)
    with pytest.raises(ValueError, match="unregistered"):
        compute_window(names, latest, ("gone",), nxt)


def test_committed_window_is_fresh():
    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    from rotation_audit import compute_window, load_latest_rounds

    from lake_satellite_image_etl_spark import registry
    from lake_satellite_image_etl_spark._window import WINDOW

    queries, _ = registry.load_all()
    latest = load_latest_rounds()
    want = compute_window(
        list(queries), latest, registry.TOUCHED, max(latest.values()) + 1
    )
    assert list(WINDOW) == want, (
        "stale window: run `python tools/rotation_audit.py --write`"
    )
    assert list(queries)[: len(WINDOW)] == list(WINDOW)
