"""Per-layer metrics of a traced run, from its spans and Spark's counters.

Every metric is reported on every workload; a layer the workload does not
call reports 0. The end-to-end metric each should move, and where (op_* is
the workload's own operation: a chunk cycle, a query, a store write):

- ``api.detect_fights_s``, ``api.detect_tube_tests_s``, ``plans.combine_s``
  → op_p50_s, read_p50_s, items_per_s (aeon_hourly)
- ``plans.build_s`` (builder calls up to the returned DataFrame, eager
  checkpoints included) → op_cold_s (query_mix, aeon_hourly)
- ``spark.planning_s`` (Catalyst phases of the DataFrames the benchmark
  runs actions on) → op_cold_s, op_p50_s (query_mix)
- ``spark.jobs``, ``spark.stages_run``, ``spark.stages_skipped``,
  ``spark.tasks`` → op_p50_s (aeon_hourly, query_mix)
- ``spark.executor_run_s``, ``spark.executor_cpu_s``, shuffle and spill
  bytes → items_per_s (aeon_hourly, query_mix), op_p90_s (query_mix)
- ``python.*`` (Python exec nodes; UDF time from Spark's profiler)
  → op_p50_s (aeon_hourly), op_p90_s (query_mix similarity tail)
- ``sources.chunked.*`` → op_p50_s (aeon_hourly), op_p50_s and read_p50_s
  (store_churn)
- ``sources.sinks.*`` → op_p90_s, read_p50_s (store_churn);
  ``sources.sinks.store_bytes_per_user_byte`` is the space cost of the
  store at the end of the run, live data plus log (store_churn)
- ``streaming.watch_s``, ``streaming.rows_per_poll`` → read_p90_s
  (store_churn)
- ``session.start_s``, ``session.warmup_s``, ``gen.stage_s`` → setup_s (all)
- ``session.peak_rss_mb``: the driver JVM's VmHWM at the end of the run
- ``self.<layer>_s``: time inside each layer's spans minus their children
- ``trace.overhead_pct``: traced rounds' warm latency over untraced ones
"""

from __future__ import annotations

import os
import statistics

# keep every job, stage and SQL execution of the run in the status store
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "10000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}

SPAN_TOTALS = {
    "api.detect_fights_s": ("api.detect_fights",),
    "api.detect_tube_tests_s": ("api.detect_tube_tests",),
    "plans.combine_s": ("plans.combine",),
    "plans.build_s": ("plans.build",),
    "sources.chunked.write_s": ("sources.chunked.write",),
    "sources.chunked.load_s": ("sources.chunked.load",),
    "sources.sinks.commit_s": (
        "sources.chunked.write", "sources.sinks.merge", "sources.sinks.delete",
        "sources.sinks.compact", "sources.sinks.maintain",
    ),
    "sources.sinks.merge_s": ("sources.sinks.merge",),
    "sources.sinks.delete_s": ("sources.sinks.delete",),
    "sources.sinks.compact_s": ("sources.sinks.compact",),
    "sources.sinks.maintain_s": ("sources.sinks.maintain",),
    "sources.sinks.read_s": ("sources.sinks.read",),
    "streaming.watch_s": ("streaming.watch",),
}
COUNTERS = {
    "spark.planning_s": ("planning_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages_run": ("stages_run", "count"),
    "spark.stages_skipped": ("stages_skipped", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "B"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "spark.spill_bytes": ("spill_bytes", "B"),
    "python.rows_sent": ("python_rows_sent", "count"),
    "python.rows_received": ("python_rows_received", "count"),
    "python.bytes_sent": ("python_bytes_sent", "B"),
    "python.bytes_received": ("python_bytes_received", "B"),
    "python.run_s": ("python_run_s", "s"),
}
LAYERS = ("bench", "api", "plans", "registry", "sources", "streaming", "spark")

UNITS = {
    **{k: "s" for k in SPAN_TOTALS},
    **{k: unit for k, (_, unit) in COUNTERS.items()},
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "python.udf_s": "s",
    "sources.sinks.files_scanned": "count",
    "sources.sinks.live_files": "count",
    "sources.sinks.log_bytes": "B",
    "sources.sinks.store_bytes_per_user_byte": "ratio",
    "streaming.rows_per_poll": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "gen.stage_s": "s",
    "trace.overhead_pct": "%",
}


def store_stats(spark, root: str, user_bytes: float = 0.0) -> dict:
    """Files live in the store's newest manifest, the size of its commit
    log, and (given the logical size of the rows it holds) its bytes on
    disk per user byte, live data plus log."""
    from aeon_sleap_processing_spark.sources.sinks import read_manifested

    mdir = os.path.join(root, "_manifests")
    log_bytes = sum(os.path.getsize(os.path.join(mdir, f)) for f in os.listdir(mdir))
    files = read_manifested(spark, root).inputFiles()
    data_bytes = sum(os.path.getsize(f.split(":", 1)[1]) for f in files)
    return {
        "sources.sinks.live_files": len(files),
        "sources.sinks.log_bytes": log_bytes,
        "sources.sinks.store_bytes_per_user_byte": (
            (data_bytes + log_bytes) / user_bytes if user_bytes else 0.0
        ),
    }


def _overhead_pct(ops: list[dict]) -> float:
    """Geometric mean over kinds of (median traced / median untraced) warm
    latency, as a percentage above 1."""
    ratios = []
    for kind in {o["kind"] for o in ops}:
        warm = [o for o in ops if o["kind"] == kind and o["round"] > 0]
        on = [o["s"] for o in warm if o["traced"]]
        off = [o["s"] for o in warm if not o["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    return 100.0 * (statistics.geometric_mean(ratios) - 1.0)


def per_layer(tracer, rec, workload, setup: dict) -> dict:
    spans = tracer.spans
    m: dict[str, float] = {}
    for metric, names in SPAN_TOTALS.items():
        m[metric] = sum(s["end"] - s["start"] for s in spans if s["name"] in names)
    for metric, (key, _) in COUNTERS.items():
        m[metric] = sum(s.get(key, 0) for s in spans)
    m["python.udf_s"] = tracer.udf_seconds()
    reads = sum(s.get("reads", 0) for s in spans)
    m["sources.sinks.files_scanned"] = (
        sum(s.get("files_scanned", 0) for s in spans) / reads if reads else 0.0
    )
    m.update({"sources.sinks.live_files": 0, "sources.sinks.log_bytes": 0,
              "sources.sinks.store_bytes_per_user_byte": 0.0})
    m.update(workload.store_stats(tracer.spark))
    polls = sum(s.get("polls", 0) for s in spans)
    m["streaming.rows_per_poll"] = (
        sum(s.get("rows_delivered", 0) for s in spans) / polls if polls else 0.0
    )
    self_s = tracer.self_times()
    for layer in LAYERS:
        m[f"self.{layer}_s"] = self_s.get(layer, 0.0)
    m.update(setup)
    m["trace.overhead_pct"] = _overhead_pct(rec.ops)
    return m
