"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, then runs one worker
process (``worker.py``) that sets up Spark, times passes for the given
seconds and checks every result. The last line on stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics untraced, the per-layer metrics traced.

Launch settings, all local to the run:

* ``SPARK_GRAFT_CPUS`` is the number of usable cores (the package
  defaults to 32 task threads, which would measure the scheduler);
* ``PYTHONPATH`` holds the checkout, so Python workers import the
  package;
* the working directory and ``SPARK_LOCAL_DIRS`` are a per-run
  directory under ``.perfbench_work/``, so ``derby.log`` and
  ``spark-warehouse`` land there and are removed with it;
* temporary files (``TMPDIR``, the JVM's ``java.io.tmpdir``) go to the
  same directory, and JVMs write no perf-data file;
* the driver JVM gets 2 GiB;
* traced runs switch on Spark's event log by configuration only:
  uncompressed, not rolling, written into the run directory.

Traced runs keep their spans and per-operation layer records in
``.perfbench_work/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: the worker must finish well inside the 180 s a run may take
WORKER_TIMEOUT_S = 165
#: days generated for daily_etl, and the cap on timed passes
MAX_PASSES = 8
DRIVER_MEM = "2g"


def spark_submit_args(trace: bool, eventlog_dir: str, tmp: str) -> str:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate what is left of the worker's process group (worker,
    JVM, Python workers) and wait until none of it remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reap the worker itself
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    # a terminated launcher still stops the worker and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "lake_satellite_image_etl_spark", "session.py")):
        print("perfbench: the package lake_satellite_image_etl_spark is not here", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    try:
        sizes = WORKLOADS[args.workload](inputs, args.seed).generate(MAX_PASSES)
        print(f"perfbench: {args.workload} inputs {json.dumps(sizes)}", file=sys.stderr)
        eventlog_dir = os.path.join(work, "eventlog")
        tmp = os.path.join(work, "tmp")
        os.makedirs(eventlog_dir)
        os.makedirs(tmp)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            PYSPARK_SUBMIT_ARGS=spark_submit_args(bool(args.trace), eventlog_dir, tmp),
            TMPDIR=tmp,
            # JVMs otherwise keep a perf-data file under /tmp
            JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        )
        out = os.path.join(work, "result.json")
        cmd = [
            sys.executable, "-m", "perfbench.worker",
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--inputs", inputs,
            "--max-passes", str(MAX_PASSES),
            "--eventlog-dir", eventlog_dir,
            "--trace-out", os.path.join(base, "traces", f"{args.workload}-{args.seed}.json"),
            "--out", out,
            "--t0", str(time.time()),
        ]
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            code = proc.wait(timeout=max(1.0, WORKER_TIMEOUT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
            code = None
        finally:
            stop_group(proc)  # also reaps a JVM the worker left behind
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
