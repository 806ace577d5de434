"""Tracing for the benchmark's traced run: spans around the calls the
benchmark makes into the package, and Spark's own counters for each call.

Each traced call runs under a fresh job group. Afterwards the tracer reads,
from outside the package:

- the jobs of that group and their stages from the AppStatusStore
  (task time, CPU, GC, deserialization, input, shuffle, spill, output);
- the SQL metrics of every SQL execution that started during the call
  from the SQLAppStatusStore (scan time and the Python-worker metrics);
- the planning phases of the DataFrame the call acted on, from its
  QueryExecution's QueryPlanningTracker.

Spans are kept in memory and written once, by the caller, when the run
ends. A span is (id, name, start, end, parent, qid); jobs and planning
phases become child spans of the call they ran in, from Spark's own
epoch-millisecond timestamps.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# Layer counters a traced call reports; every one is present, 0 if unused.
COUNTERS = (
    "operators.build_jobs",
    "planning.analysis_ms", "planning.optimization_ms", "planning.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.tasks_failed", "scheduler.deserialize_s",
    "scan.input_mb", "scan.input_rows", "scan.time_s",
    "shuffle.write_mb", "shuffle.records", "shuffle.write_s",
    "shuffle.fetch_wait_s", "shuffle.read_mb", "shuffle.spill_mb",
    "python.nodes", "python.boot_s", "python.init_s", "python.total_s",
    "python.sent_mb", "python.received_mb",
    "jvm.task_run_s", "jvm.task_cpu_s", "jvm.gc_s",
    "sinks.output_mb",
)

MB = 1e6

# (stage field, counter, scale to the counter's unit)
_STAGE_FIELDS = (
    ("executorDeserializeTime", "scheduler.deserialize_s", 1e-3),
    ("inputBytes", "scan.input_mb", 1 / MB),
    ("inputRecords", "scan.input_rows", 1),
    ("shuffleWriteBytes", "shuffle.write_mb", 1 / MB),
    ("shuffleWriteRecords", "shuffle.records", 1),
    ("shuffleWriteTime", "shuffle.write_s", 1e-9),
    ("shuffleFetchWaitTime", "shuffle.fetch_wait_s", 1e-3),
    ("shuffleReadBytes", "shuffle.read_mb", 1 / MB),
    ("diskBytesSpilled", "shuffle.spill_mb", 1 / MB),
    ("executorRunTime", "jvm.task_run_s", 1e-3),
    ("executorCpuTime", "jvm.task_cpu_s", 1e-9),
    ("jvmGcTime", "jvm.gc_s", 1e-3),
    ("outputBytes", "sinks.output_mb", 1 / MB),
)

# SQL metric display name -> (counter, kind)
_SQL_METRICS = {
    "scan time": ("scan.time_s", "time"),
    "time to start Python workers": ("python.boot_s", "time"),
    "time to initialize Python workers": ("python.init_s", "time"),
    "time to run Python workers": ("python.total_s", "time"),
    "data sent to Python workers": ("python.sent_mb", "size"),
    "data returned from Python workers": ("python.received_mb", "size"),
}

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"^\s*(-?[0-9.]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str, kind: str) -> float:
    """A SQL metric's display string -> seconds (time) or MB (size).

    Aggregated task metrics read "total (min, med, max ...)\\n<total> (...)";
    single-valued ones are just "<value> <unit>"."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1)), m.group(2)
    if kind == "time":
        return value * _TIME_UNITS.get(unit, 1e-3)
    return value * _SIZE_UNITS.get(unit, 1) / MB


class Tracer:
    """Wraps calls in job groups and spans; reads their Spark counters."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala)
        self.spans: list[dict] = []
        self._groups = 0

    def _read(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def add_span(self, name: str, start: float, end: float | None,
                 parent: int | None, qid: str | None) -> dict:
        span = {"id": len(self.spans), "name": name, "start": start, "end": end,
                "parent": parent, "qid": qid}
        self.spans.append(span)
        return span

    def open(self, name: str, parent: int | None, qid: str | None) -> dict:
        return self.add_span(name, time.time(), None, parent, qid)

    def close(self, span: dict) -> None:
        span["end"] = time.time()

    def call(self, name: str, parent: int, qid: str, fn, plan_df=None):
        """Run fn() as span `name` in its own job group and return
        (result, counters). plan_df(result) names the DataFrame whose
        planning phases belong to this call (None: no planning read)."""
        group = f"perfbench-{self._groups}"
        self._groups += 1
        n_exec = self._sql.executionsCount()
        self.sc.setJobGroup(group, f"{qid} {name}")
        span = self.open(name, parent, qid)
        try:
            result = fn()
        finally:
            self.close(span)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        counters = dict.fromkeys(COUNTERS, 0.0)
        self._jobs(group, span, counters)
        self._sql_metrics(n_exec, counters)
        df = plan_df(result) if plan_df is not None else None
        if df is not None:
            self._planning(df, span, counters)
        return result, counters

    def _jobs(self, group: str, span: dict, counters: dict) -> None:
        stage_ids: dict[int, None] = {}
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._read(self._store.job(jid))
            counters["scheduler.jobs"] += 1
            end = job.get("completionTime") or time.time() * 1e3
            self.add_span("scheduler.job", job["submissionTime"] / 1e3, end / 1e3,
                          span["id"], span["qid"])
            stage_ids.update(dict.fromkeys(job["stageIds"]))
        for sid in stage_ids:
            try:
                st = self._read(self._store.lastStageAttempt(sid))
            except Py4JJavaError:  # a stage the store never saw (skipped before submit)
                continue
            if st["status"] == "SKIPPED":
                continue
            counters["scheduler.stages"] += 1
            counters["scheduler.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            counters["scheduler.tasks_failed"] += st["numFailedTasks"]
            for field, name, scale in _STAGE_FIELDS:
                counters[name] += st[field] * scale

    def _sql_metrics(self, first_exec: int, counters: dict) -> None:
        n = self._sql.executionsCount() - first_exec
        if n <= 0:
            return
        execs = self._sql.executionsList(first_exec, n)
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = self._read(self._sql.executionMetrics(ex.executionId()))
            seen = set()
            for m in self._read(ex.metrics()):
                acc = m["accumulatorId"]
                if m["name"] not in _SQL_METRICS or acc in seen:
                    continue
                seen.add(acc)  # AQE lists a node's metrics once per plan version
                name, kind = _SQL_METRICS[m["name"]]
                value = parse_sql_metric(values.get(str(acc)) or "0", kind)
                counters[name] += value
                if name == "python.sent_mb" and value > 0:
                    counters["python.nodes"] += 1  # a Python node that ran

    def _planning(self, df, span: dict, counters: dict) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # a no-op when the call already planned it
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if not phases.contains(phase):
                continue
            p = phases.apply(phase)
            counters[f"planning.{phase}_ms"] += p.durationMs()
            start, end = p.startTimeMs() / 1e3, p.endTimeMs() / 1e3
            self.add_span(f"planning.{phase}", start, end,
                          self._enclosing(span["parent"], start), span["qid"])

    def _enclosing(self, parent: int, t: float) -> int:
        """The call span under `parent` that was open at time t (analysis
        runs while the query is built, planning inside the action), else
        `parent` itself."""
        for s in self.spans:
            if (s["parent"] == parent and s["name"] != "scheduler.job"
                    and not s["name"].startswith("planning.")
                    and s["start"] - 1e-3 <= t <= s["end"]):
                return s["id"]
        return parent

    def persisted_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# span name -> the layer its self time belongs to
SELF_LAYERS = {
    "session.get_spark": "session", "registry.all_queries": "registry",
    "pass": "bench", "query": "bench",
    "operators.build": "operators",
    "action": "action", "sinks.write": "action",
    "scheduler.job": "jobs",
    "planning.analysis": "planning", "planning.optimization": "planning",
    "planning.planning": "planning",
}


def self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Self time per layer under one pass span: each span's duration minus
    the part of it its child spans cover. The layers sum to the pass's
    duration, so nothing is left unnamed: `action` is time inside
    the action call outside planning and jobs (result transfer to Python,
    output commit), `bench` is the benchmark's own bookkeeping."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = dict.fromkeys(("action", "bench", "jobs", "operators", "planning"), 0.0)
    stack = [spans[root_id]]
    while stack:
        s = stack.pop()
        kids = children.get(s["id"], [])
        cover = _covered([(k["start"], k["end"]) for k in kids], s["start"], s["end"])
        out[SELF_LAYERS[s["name"]]] += (s["end"] - s["start"]) - cover
        stack.extend(kids)
    return out
