"""The event-log folder on a tiny recorded log (``data/tiny_eventlog.jsonl``)."""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold_file(LOG)


def test_groups_jobs_stages_tasks(folded):
    op = folded["wl.op"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 1, 2)  # stage 1 ran no task
    io = folded["wl.op/io.read_table"]
    assert (io["jobs"], io["stages"], io["tasks"]) == (1, 1, 1)
    assert folded[""]["jobs"] == 1  # a job submitted with no group


def test_task_metrics_and_units(folded):
    op = folded["wl.op"]
    assert op["run_s"] == pytest.approx(1.5)
    assert op["cpu_s"] == pytest.approx(0.6)
    assert op["gc_s"] == pytest.approx(0.01)
    assert op["scan_s"] == pytest.approx(0.15)  # "timing" metric: ms
    assert op["scan_bytes"] == 2000
    assert op["shuffle_write_s"] == pytest.approx(0.05)  # ns
    assert op["shuffle_write_bytes"] == 500
    assert op["shuffle_read_bytes"] == 400
    assert op["task_wait_s"] == pytest.approx(0.07)  # launch - stage submission
    assert op["job_wall_s"] == pytest.approx(1.2)
    assert folded["wl.op/io.read_table"]["shuffle_fetch_wait_s"] == pytest.approx(0.005)


def test_python_operators_nest_and_rows_count_by_node(folded):
    op = folded["wl.op"]
    # task 0 ran two pipelined Python operators (700 ms inside 800 ms)
    assert op["python_run_s"] == pytest.approx(0.8 + 0.3)
    assert op["python_start_s"] == pytest.approx(0.02)
    assert op["python_rows"] == 16  # the scan's 50 output rows are not Python rows
    assert op["file_rows"] == 50  # ... but file-scan rows


def test_reconcile(folded):
    op = folded["wl.op"]
    assert op["explained_s"] == pytest.approx((0.8 + 0.05) + 0.3)
    ok, share = eventlog.reconcile(op)
    assert ok and share == pytest.approx((1.5 - 1.15) / 1.5)
    bad = dict(op, explained_s=op["run_s"] * 2)
    assert eventlog.reconcile(bad)[0] is False


def test_merge_sums_fields(folded):
    both = eventlog.merge([folded["wl.op"], folded["wl.op/io.read_table"]])
    assert both["jobs"] == 2 and both["tasks"] == 3
    assert both["run_s"] == pytest.approx(1.54)
