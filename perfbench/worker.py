"""One benchmark run inside a fresh process (started by ``run.py``).

1. Set up once, timed from the launcher's spawn of this process: JVM
   launch, imports, ``get_spark``, schema inference and one checked
   warm-up pass. ``setup_s`` is this one cold set-up; its median is
   taken across runs.
2. Run timed passes, one operation in flight, until ``--seconds`` have
   passed; a pass starts only before that deadline, and at least
   ``MIN_PASSES`` run. Each pass is checked after its clock stops.
3. Untraced: report the end-to-end metrics. Traced (``--trace 1``):
   spans and job groups around every call, then fold the event log
   into one layer record per operation and report the per-layer
   metrics; spans and records are written to ``--trace-out``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import math
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, procstat, trace  # noqa: E402
from perfbench.layers import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


#: passes timed in every run, however short ``--seconds``: with one
#: pass, run-to-run spread of pass_s and op_s was about half as wide
#: again as with the median of two
MIN_PASSES = 2


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload](args.inputs, args.seed)
        self.tracer: trace.Tracer | None = None
        self.failures: list[str] = []
        self.attempted = 0
        self.op_times: dict[str, list[float]] = {}
        self.pass_s: list[float] = []
        self.cpu_s: list[float] = []
        self.peak_rss = 0
        self.storage_peak = 0
        self.untimed_s = 0.0  # input resets and checks during set-up
        self.pid = os.getpid()

    # -- one pass ------------------------------------------------------

    def run_op(self, op, group: str | None):
        t = time.perf_counter()
        if self.tracer is None or group is None:
            return op.run(op.build()), time.perf_counter() - t
        with self.tracer.span(op.name, op=group, group=group):
            with self.tracer.span("construct", group=f"{group}/construct"):
                plan = op.build()
            result = op.run(plan)
        return result, time.perf_counter() - t

    def one_pass(self, spark, p: int, timed: bool) -> None:
        """Run one pass, then check it. A timed pass records its time,
        CPU and memory; an untimed one adds its input resets and checks
        to ``untimed_s``."""
        from lake_satellite_image_etl_spark import caching

        wl, tracer = self.wl, self.tracer
        t_untimed = time.time()
        wl.before_pass(p)
        ops = wl.ops(spark, p)
        outcomes = []
        rss = procstat.PeakRss(self.pid)
        cpu0 = procstat.cpu_seconds(self.pid)
        t_pass = time.perf_counter()
        with rss if timed else contextlib.nullcontext():
            for op in ops:
                group = f"{wl.name}.{op.name}" if timed else None
                try:
                    result, dt = self.run_op(op, group)
                    outcomes.append((op, result, None, dt))
                except Exception as e:  # an op failing is a measured outcome
                    traceback.print_exc()
                    outcomes.append((op, None, f"{op.name}: {type(e).__name__}: {e}", 0.0))
                if tracer is not None and timed:
                    self.storage_peak = max(self.storage_peak, storage_bytes(spark))
                    with tracer.span("caching.release_all", op=group):
                        caching.release_all()
                else:
                    caching.release_all()
        elapsed = time.perf_counter() - t_pass
        cpu = procstat.cpu_seconds(self.pid) - cpu0
        for op, result, err, dt in outcomes:
            if err is None:
                try:
                    err = op.check(result)
                except Exception as e:  # a check that cannot run is a failure
                    traceback.print_exc()
                    err = f"{op.name} check: {type(e).__name__}: {e}"
            if err:
                self.failures.append(f"pass {p}: {err}")
                print(f"FAILED pass {p}: {err}", file=sys.stderr)
        wl.after_pass(p)
        self.attempted += len(outcomes)
        if timed:
            self.pass_s.append(elapsed)
            self.cpu_s.append(cpu)
            self.peak_rss = max(self.peak_rss, rss.peak)
            for op, _, err, dt in outcomes:
                if err is None:
                    self.op_times.setdefault(op.name, []).append(dt)
            if tracer is not None:
                with tracer.span("probe", op=f"{wl.name}.probe"):
                    wl.probe(spark, p, tracer)
        else:
            self.untimed_s += time.time() - t_untimed - elapsed

    # -- the run -------------------------------------------------------

    def main(self) -> dict:
        args = self.args
        if args.trace:
            trace.wrap_read_table(lambda: self.tracer)
        from lake_satellite_image_etl_spark import caching
        from lake_satellite_image_etl_spark.session import get_spark, stop_spark

        # set-up: get_spark plus one checked warm-up pass, timed from
        # the launcher's spawn of this process (JVM launch and imports)
        t = time.time()
        spark = get_spark()
        get_spark_s = time.time() - t
        if args.trace:
            self.tracer = trace.Tracer(spark.sparkContext)
            with self.tracer.span("setup", group=f"{self.wl.name}.setup"):
                self.one_pass(spark, -1, timed=False)
        else:
            self.one_pass(spark, -1, timed=False)
        setup_s = time.time() - args.t0 - self.untimed_s
        evictions0 = caching.CAPACITY_EVICTIONS
        self.wl.layers.clear()  # per-layer counts cover timed passes only
        deadline = time.time() + args.seconds
        p = 0
        while p < args.max_passes and (p < MIN_PASSES or time.time() < deadline):
            if self.tracer is not None:
                with self.tracer.span("pass", op=f"{self.wl.name}.pass"):
                    self.one_pass(spark, p, timed=True)
            else:
                self.one_pass(spark, p, timed=True)
            p += 1
        layers = dict(self.wl.layers)
        layers["caching.capacity_evictions"] = caching.CAPACITY_EVICTIONS - evictions0
        caching.release_all()
        stop_spark()
        ops = [t for ts in self.op_times.values() for t in ts]
        if args.trace:
            metrics, names = self.layer_metrics(get_spark_s, ops, layers), PER_LAYER
        else:
            metrics, names = self.end_to_end(setup_s, ops), END_TO_END
        if set(metrics) != set(names):  # print only metrics BENCHMARK.json names
            raise RuntimeError(f"metric names differ from layers.py: {set(metrics) ^ set(names)}")
        print(
            f"{self.wl.name}: passes={len(self.pass_s)} ops={len(ops)} "
            f"setup={setup_s:.2f} get_spark={get_spark_s:.2f} untimed={self.untimed_s:.2f} "
            f"pass={[round(s, 2) for s in self.pass_s]} "
            f"op_median={ {k: round(statistics.median(v), 3) for k, v in self.op_times.items()} }",
            file=sys.stderr,
        )
        return {
            "correct": not self.failures,
            "attempted": max(1, self.attempted),
            "failed": len(self.failures),
            "metrics": {k: {"value": float(v), "unit": names[k][0]} for k, v in metrics.items()},
        }

    def end_to_end(self, setup_s: float, ops: list[float]) -> dict[str, float]:
        return {
            "setup_s": setup_s,
            "pass_s": statistics.median(self.pass_s),
            "op_s.p50": statistics.median(ops) if ops else 0.0,
            "op_s.p90": quantile(ops, 0.9),
            "cpu_s": statistics.median(self.cpu_s),
            "peak_rss_mb": self.peak_rss / 2**20,
        }

    # -- traced: per-layer metrics --------------------------------------

    def layer_metrics(self, get_spark_s: float, ops: list[float], L: dict[str, float]) -> dict[str, float]:
        wl, n = self.wl, max(1, len(self.pass_s))
        lines = []
        for path in sorted(glob.glob(os.path.join(self.args.eventlog_dir, "*"))):
            with open(path) as f:  # one log per SparkContext the run started
                lines.extend(f)
        records = eventlog.fold(lines)
        spans = self.tracer.spans
        per_op: dict[str, dict] = {}
        for s in spans:  # a span precedes its children
            if s.parent is not None and spans[s.parent].name == "pass":
                if s.name not in ("probe", "caching.release_all"):
                    rec = per_op.setdefault(
                        s.op, {"wall_s": 0.0, "construct_s": 0.0, "io_s": 0.0, "calls": 0}
                    )
                    rec["wall_s"] += s.end - s.start
                    rec["calls"] += 1
            elif s.op in per_op and s.name == "construct":
                per_op[s.op]["construct_s"] += s.end - s.start
            elif s.op in per_op and s.name == "io.read_table":
                per_op[s.op]["io_s"] += s.end - s.start
        total = eventlog.merge([])
        unreconciled = []
        for group, rec in per_op.items():
            own = {g: r for g, r in records.items() if g == group or g.startswith(group + "/")}
            ex = eventlog.merge(own.values())
            rec.update(ex)
            rec["construct_jobs"] = records.get(f"{group}/construct", {}).get("jobs", 0)
            rec["io_jobs"] = records.get(f"{group}/io.read_table", {}).get("jobs", 0)
            rec["driver_s"] = max(0.0, rec["wall_s"] - ex["job_wall_s"])
            ok, rec["unexplained_share"] = eventlog.reconcile(ex)
            if not ok:
                unreconciled.append(group)
            total = eventlog.merge([total, ex])
        for group in unreconciled:
            self.failures.append(f"exec times of {group} exceed executor run time")
        ok, unexplained = eventlog.reconcile(total)
        sum_op = lambda k: sum(r.get(k, 0.0) for r in per_op.values()) / n  # noqa: E731
        mean_op = lambda name, k: (  # noqa: E731
            per_op.get(f"{wl.name}.{name}", {}).get(k, 0.0) / n
        )
        iterative = [f"{wl.name}.{q}" for q in getattr(wl, "ITERATIVE", ())]
        release = [s.end - s.start for s in spans if s.name == "caching.release_all" and s.op]
        metrics = {
            "session.get_spark_s": get_spark_s,
            "io.read_table_s": sum_op("io_s"),
            "io.read_table_jobs": sum_op("io_jobs"),
            "construct_s": sum_op("construct_s"),
            "construct_jobs": sum_op("construct_jobs"),
            "driver_s": sum_op("driver_s"),
            "exec.unexplained_share": unexplained,
            "python.worker_start_s": total["python_start_s"] / n,
            "python.worker_run_s": total["python_run_s"] / n,
            "python.rows": total["python_rows"] / n,
            "raster.stack_s": L.get("raster.stack_s", 0.0) / n,
            "raster.clip_s": L.get("raster.clip_s", 0.0) / n,
            "raster.stats_s": L.get("raster.stats_s", 0.0) / n,
            "raster.pixels_per_s": ratio(L.get("raster.pixels", 0.0), L.get("raster.chain_s", 0.0)),
            "sinks.append_s": mean_op("append", "wall_s"),
            "sinks.rows_appended": L.get("sinks.rows_appended", 0.0) / n,
            "sinks.rerun_s": mean_op("rerun", "wall_s"),
            "sinks.rerun_rows_appended": L.get("sinks.rerun_rows_appended", 0.0) / n,
            "sinks.files_written": L.get("sinks.files_written", 0.0) / n,
            "sinks.artifact_s": mean_op("artifacts", "wall_s"),
            "sinks.artifacts_written": L.get("sinks.artifacts_written", 0.0) / n,
            "sinks.stored_bytes_per_row": ratio(
                L.get("sinks.stored_bytes", 0.0), L.get("sinks.rows_appended", 0.0)
            ),
            "incremental.pk_rows_read_per_new_row": ratio(
                sum(per_op.get(f"{wl.name}.{q}", {}).get("file_rows", 0.0) for q in ("append", "rerun")),
                L.get("sinks.rows_appended", 0.0),
            ),
            "caching.capacity_evictions": L.get("caching.capacity_evictions", 0.0) / n,
            "caching.storage_mem_peak_bytes": self.storage_peak,
            "caching.release_all_s": sum(release) / n,
            "dedup.candidate_pairs": L.get("dedup.candidate_pairs", 0.0) / n,
            "dedup.useful_ratio": ratio(
                L.get("dedup.verified_pairs", 0.0), L.get("dedup.candidate_pairs", 0.0)
            ),
            "dedup.recall": L.get("dedup.recall", 0.0),
            "similarity.candidates_per_query": ratio(
                L.get("similarity.candidate_pairs", 0.0), L.get("similarity.queries", 0.0)
            ),
            "similarity.recall_at_k": L.get("similarity.recall_at_k", 0.0),
            "iter.jobs": sum(per_op.get(g, {}).get("jobs", 0.0) for g in iterative) / n,
            "iter.s": sum(per_op.get(g, {}).get("wall_s", 0.0) for g in iterative) / n,
            "trace.pass_s": statistics.median(self.pass_s),
            "op_s.samples": len(ops),
            "failed_ratio": len(self.failures) / max(1, self.attempted),
        }
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "scan_s", "scan_bytes",
                  "agg_build_s", "spill_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                  "shuffle_write_s", "shuffle_fetch_wait_s", "task_wait_s"):
            metrics[f"exec.{k}"] = total[k] / n
        self_time = trace.self_times(spans)
        with open(self.args.trace_out, "w") as f:
            json.dump(
                {
                    "workload": wl.name,
                    "passes": len(self.pass_s),
                    "exec_reconciled": ok and not unreconciled,
                    "ops": per_op,
                    "spans": [
                        {**vars(s), "self_s": self_time[s.id]} for s in spans
                    ],
                },
                f,
                indent=1,
            )
        return metrics


def storage_bytes(spark) -> int:
    """Bytes of cached RDD blocks held in storage memory right now."""
    return sum(int(i.memSize()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile: an observed sample, never an interpolation."""
    if not xs:
        return 0.0
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--max-passes", type=int, required=True)
    ap.add_argument("--eventlog-dir", default="")
    ap.add_argument("--trace-out", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = Run(args).main()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
