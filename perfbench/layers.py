"""Every metric the benchmark prints: unit, direction, and — for the
per-layer metrics — the end-to-end metric and workloads it should move.

``BENCHMARK.json`` lists the same names and units; the benchmark's own
tests keep the two in step. Per-layer values are per timed pass unless
the unit is a ratio or a rate.
"""

from __future__ import annotations

#: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "op_s.p50": ("s", "lower"),
    "op_s.p90": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

ALL = ("daily_etl", "catalog_olap")
ETL, OLAP = ("daily_etl",), ("catalog_olap",)

#: name -> (unit, better, end-to-end metrics it moves, workloads)
PER_LAYER = {
    # session / io
    "session.get_spark_s": ("s", "lower", ("setup_s",), ALL),
    "io.read_table_s": ("s", "lower", ("setup_s", "pass_s"), ETL),
    "io.read_table_jobs": ("count", "lower", ("setup_s", "pass_s"), ETL),
    # plan construction (plans, operators, functions via registry)
    "construct_s": ("s", "lower", ("op_s.p50",), OLAP),
    "construct_jobs": ("count", "lower", ("op_s.p50",), OLAP),
    "driver_s": ("s", "lower", ("op_s.p50",), OLAP),
    # Spark execution, folded from the event log per job group
    "exec.jobs": ("count", "lower", ("pass_s", "op_s.p90"), OLAP),
    "exec.stages": ("count", "lower", ("pass_s", "op_s.p90"), OLAP),
    "exec.tasks": ("count", "lower", ("pass_s", "cpu_s"), OLAP),
    "exec.run_s": ("s", "lower", ("pass_s", "cpu_s"), OLAP),
    "exec.cpu_s": ("s", "lower", ("cpu_s",), OLAP),
    "exec.gc_s": ("s", "lower", ("cpu_s", "peak_rss_mb"), OLAP),
    "exec.scan_s": ("s", "lower", ("pass_s", "op_s.p90"), OLAP),
    "exec.scan_bytes": ("bytes", "lower", ("pass_s",), OLAP),
    "exec.agg_build_s": ("s", "lower", ("pass_s", "cpu_s"), OLAP),
    "exec.spill_bytes": ("bytes", "lower", ("pass_s", "peak_rss_mb"), OLAP),
    "exec.shuffle_write_bytes": ("bytes", "lower", ("pass_s", "cpu_s"), OLAP),
    "exec.shuffle_read_bytes": ("bytes", "lower", ("pass_s", "cpu_s"), OLAP),
    "exec.shuffle_write_s": ("s", "lower", ("pass_s", "op_s.p90"), OLAP),
    "exec.shuffle_fetch_wait_s": ("s", "lower", ("pass_s", "op_s.p90"), OLAP),
    "exec.task_wait_s": ("s", "lower", ("pass_s", "op_s.p90"), OLAP),
    "exec.unexplained_share": ("ratio", "lower", ("pass_s",), ALL),
    # Python workers (Arrow UDFs, mapInPandas / applyInPandas)
    "python.worker_start_s": ("s", "lower", ("pass_s", "cpu_s"), ALL),
    "python.worker_run_s": ("s", "lower", ("pass_s", "cpu_s"), ALL),
    "python.rows": ("count", "lower", ("pass_s", "cpu_s"), ALL),
    # multimodal.raster, each public stage materialized on its own
    "raster.stack_s": ("s", "lower", ("pass_s", "cpu_s"), ETL),
    "raster.clip_s": ("s", "lower", ("pass_s", "cpu_s"), ETL),
    "raster.stats_s": ("s", "lower", ("pass_s", "cpu_s"), ETL),
    "raster.pixels_per_s": ("1/s", "higher", ("pass_s", "cpu_s"), ETL),
    # sinks / operators.incremental
    "sinks.append_s": ("s", "lower", ("pass_s",), ETL),
    "sinks.rows_appended": ("count", "higher", ("pass_s",), ETL),
    "sinks.rerun_s": ("s", "lower", ("pass_s",), ETL),
    "sinks.rerun_rows_appended": ("count", "lower", ("pass_s",), ETL),
    "sinks.files_written": ("count", "lower", ("pass_s",), ETL),
    "sinks.artifact_s": ("s", "lower", ("pass_s",), ETL),
    "sinks.artifacts_written": ("count", "higher", ("pass_s",), ETL),
    "sinks.stored_bytes_per_row": ("bytes", "lower", ("pass_s",), ETL),
    "incremental.pk_rows_read_per_new_row": ("ratio", "lower", ("pass_s",), ETL),
    # caching
    "caching.capacity_evictions": ("count", "lower", ("peak_rss_mb", "pass_s"), OLAP),
    "caching.storage_mem_peak_bytes": ("bytes", "lower", ("peak_rss_mb",), OLAP),
    "caching.release_all_s": ("s", "lower", ("pass_s",), OLAP),
    # operators.dedup / operators.similarity (candidate -> verify -> top-k)
    "dedup.candidate_pairs": ("count", "lower", ("cpu_s", "pass_s"), OLAP),
    "dedup.useful_ratio": ("ratio", "higher", ("cpu_s", "pass_s"), OLAP),
    "dedup.recall": ("ratio", "higher", ("pass_s",), OLAP),
    "similarity.candidates_per_query": ("count", "lower", ("cpu_s", "pass_s"), OLAP),
    "similarity.recall_at_k": ("ratio", "higher", ("pass_s",), OLAP),
    # iterative loops (operators.graph, dedup.label_propagate_components)
    "iter.jobs": ("count", "lower", ("op_s.p90", "pass_s"), OLAP),
    "iter.s": ("s", "lower", ("op_s.p90", "pass_s"), OLAP),
    # the run itself
    "trace.pass_s": ("s", "lower", ("pass_s",), ALL),
    "op_s.samples": ("count", "higher", (), ALL),
    "failed_ratio": ("ratio", "lower", (), ALL),
}
