"""Spans around the benchmark's calls into the engine, with Spark's counters.

Timed runs use :class:`NoTrace`, which only keeps time. A traced run uses
:class:`Tracer`: every call the benchmark makes into a layer's public
function is wrapped in a span that records its name, start, end, parent span
and operation id. Each span tags the Spark jobs it starts with a job group of
its own. When the run ends, the driver's status store is read once over the
loopback REST API, and its jobs, stages and SQL executions are attributed to
the spans that started them. Spans stay in memory until then and are written
as JSON lines.

A span name is ``<layer>.<call>``; the layer is the engine module the call
enters (``api``, ``plans``, ``registry``, ``sources``, ``streaming``), or
``spark`` for an action on a DataFrame the engine returned, or ``bench`` for
the benchmark's own operation spans.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager

# Python exec nodes of the physical plan: where rows cross to Python workers
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState",
    "PythonMapInArrow",
)

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(value: str) -> float:
    """Total of one SQL metric as the status store renders it: a plain
    number, or ``total (min, med, max ...)\\n12.3 MiB (...)`` for size and
    timing metrics. Sizes come back in bytes, times in seconds."""
    text = value.split("\n", 1)[1] if value.startswith("total") else value
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", text)
    if m is None:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def rounds(tracer, seconds: float, round_s: float, min_warm: int):
    """Round numbers of a closed loop: round 0 runs cold, then a fixed number
    of warm rounds, as many as fill ``seconds`` at ``round_s`` a round (the
    warm round's time on 4 CPUs) and at least ``min_warm``. The count depends
    on the arguments alone, so both sides of a comparison do the same work.
    A traced run alternates traced and untraced rounds, so it runs at least
    two warm rounds of each."""
    n = max(min_warm, round(seconds / round_s))
    if tracer.enabled:
        n = max(n, 4)
    for i in range(n + 1):
        tracer.set_round(i)
        yield i


_PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": "python_rows_received",
    "time to run Python workers": "python_run_s",
}


def _metrics(node: dict) -> dict[str, float]:
    return {m["name"]: parse_metric(m["value"]) for m in node.get("metrics", [])}


def _rows_in(nodes: dict, inputs: dict, node_id: int) -> float:
    """Rows a plan node reads: each input's row count, found by walking
    down through the nodes that report none (Project, Sort, shuffle reads),
    which pass every row they read through."""
    total = 0.0
    for child in inputs.get(node_id, []):
        m = _metrics(nodes[child])
        n = m.get("number of output rows", m.get("shuffle records written"))
        total += n if n is not None else _rows_in(nodes, inputs, child)
    return total


class NoTrace:
    """The timed run's stand-in: spans cost nothing."""

    enabled = active = False

    def set_round(self, i: int) -> None:
        pass

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield None

    def note(self, **attrs) -> None:
        pass

    def planning(self, df) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.active = True
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    def set_round(self, i: int) -> None:
        """Even rounds are traced, odd rounds run untraced: their latencies
        give the tracing overhead. Spark's Python UDF profiler runs in the
        traced rounds only."""
        self.active = i % 2 == 0
        if self.active:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        else:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def udf_seconds(self) -> float:
        """Total time the profiled Python UDFs spent, from Spark's profiler."""
        results = self.spark._profiler_collector._perf_profile_results
        return sum(st.total_tt for st in results.values())

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"pb-{len(self.spans)}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", s["group"])
        s["start"] = time.perf_counter() - self._t0
        try:
            yield s
        finally:
            s["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent["group"] if parent else None
            )

    def note(self, **attrs) -> None:
        """Attach values measured at the boundary (row counts, files
        scanned, planning time) to the innermost open span."""
        if self.active and self._stack:
            s = self._stack[-1]
            for k, v in attrs.items():
                s[k] = s.get(k, 0) + v if isinstance(v, (int, float)) else v

    def planning(self, df) -> None:
        """Catalyst's own phase timings for a DataFrame the engine returned
        and the benchmark just ran an action on."""
        if not self.active:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        total_ms = 0
        while it.hasNext():
            total_ms += it.next()._2().durationMs()
        self.note(planning_s=total_ms / 1000.0)

    # ------------------------------------------------------------------
    def _rest(self, path: str):
        port = re.search(r":(\d+)$", self.sc.uiWebUrl).group(1)
        url = (
            f"http://127.0.0.1:{port}/api/v1/applications/"
            f"{self.sc.applicationId}/{path}"
        )
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.loads(r.read())

    def collect_counters(self) -> None:
        """Attribute the status store's jobs, stages and SQL executions to
        the spans whose job group started them (own work, not children's)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        by_group = {s["group"]: s for s in self.spans}
        jobs = [j for j in self._rest("jobs") if j.get("jobGroup") in by_group]
        stage_owner: dict[int, dict] = {}
        job_span: dict[int, dict] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            s = by_group[j["jobGroup"]]
            job_span[j["jobId"]] = s
            s["jobs"] = s.get("jobs", 0) + 1
            s["stages_run"] = s.get("stages_run", 0) + j["numCompletedStages"]
            s["stages_skipped"] = s.get("stages_skipped", 0) + j["numSkippedStages"]
            s["tasks"] = s.get("tasks", 0) + j["numCompletedTasks"]
            for sid in j["stageIds"]:
                stage_owner.setdefault(sid, s)  # the first job to list it ran it
        for st in self._rest("stages"):
            s = stage_owner.get(st["stageId"])
            if s is None or st["status"] != "COMPLETE":
                continue
            s["executor_run_s"] = s.get("executor_run_s", 0) + st["executorRunTime"] / 1e3
            s["executor_cpu_s"] = s.get("executor_cpu_s", 0) + st["executorCpuTime"] / 1e9
            s["shuffle_read_bytes"] = s.get("shuffle_read_bytes", 0) + st["shuffleReadBytes"]
            s["shuffle_write_bytes"] = s.get("shuffle_write_bytes", 0) + st["shuffleWriteBytes"]
            s["spill_bytes"] = (
                s.get("spill_bytes", 0) + st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            )
        for ex in self._rest("sql?details=true&planDescription=false&length=1000000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            s = next((job_span[i] for i in ids if i in job_span), None)
            if s is None:
                continue
            nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
            inputs: dict[int, list[int]] = {}
            for e in ex.get("edges", []):
                if e["fromId"] in nodes:
                    inputs.setdefault(e["toId"], []).append(e["fromId"])
            for node in nodes.values():
                if not node["nodeName"].startswith(PYTHON_NODES):
                    continue
                for key, value in _metrics(node).items():
                    key = _PYTHON_METRICS.get(key)
                    if key:
                        s[key] = s.get(key, 0) + value
                s["python_rows_sent"] = (
                    s.get("python_rows_sent", 0) + _rows_in(nodes, inputs, node["nodeId"])
                )

    def self_times(self) -> dict[str, float]:
        """Each layer's self time: its spans' durations minus the part
        their child spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
