"""Tracing from outside the engine: spans around the benchmark's calls
into each layer, plus counters read from the JVM status stores at the
same boundaries.

The stores work with ``spark.ui.enabled=false``:

- ``sc.statusStore()`` (``AppStatusStore``) holds per-job and per-stage
  task metrics; each span runs under its own job group, so the jobs and
  stages of one span are exactly those the group reports;
- ``sharedState.statusStore`` (``SQLAppStatusStore``) holds the SQL
  metrics of each plan node, which is where the Python worker times of
  ``MapInPandas`` / ``ArrowEvalPython`` nodes live;
- ``queryExecution.tracker`` holds Catalyst's per-phase times.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# Stage-level counters summed over the jobs of one span: StageData
# accessor and the factor to the reported unit.
STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
}

# SQL metrics of Python-executing plan nodes, by their display name.
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
PYTHON_NODE = re.compile(r"(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|InPandas|PythonUDTF|ArrowWindowPython|PythonMapInArrow)")

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_METRIC_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ns|ms|s|m|min|h|B|KiB|MiB|GiB|TiB)?\b")


def parse_sql_metric(text: str) -> float:
    """Value of one SQL-metric display string, in seconds or bytes.

    Timing and size metrics render as ``total (min, med, max ...)\\n9.0 s
    (...)``; plain counters render as the bare number.
    """
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1.0)


def plan_shape(plan_text: str) -> dict[str, int]:
    """Node counts of a physical plan's tree string.

    For an adaptive plan only the final plan counts, and the query-stage
    and shuffle-read wrappers adaptive execution adds are not nodes.
    """
    final = plan_text.split("== Initial Plan ==", 1)[0]
    names = [re.sub(r"^[\s:|+\-]*(\*\(\d+\)\s*)?", "", ln).split(" ", 1)[0] for ln in final.splitlines()]
    names = [n for n in names if n[:1].isalpha() and not n.endswith("QueryStage")
             and n not in ("AdaptiveSparkPlan", "AQEShuffleRead")]
    return {
        "plan.nodes": len(names),
        "plan.exchanges": names.count("Exchange"),
        "plan.broadcast_exchanges": names.count("BroadcastExchange"),
        "plan.windows": sum(n.startswith("Window") for n in names),
        "plan.scans": sum(n in ("Scan", "FileScan", "BatchScan", "InMemoryTableScan") for n in names),
        "plan.python_nodes": sum(bool(PYTHON_NODE.search(n)) for n in names),
    }


@dataclass
class Span:
    op_id: int
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans and reads status-store deltas for one session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self._seen_sql = self.sql_store.executionsCount()

    def begin(self, op_id: int, name: str, parent: str | None = None) -> Span:
        span = Span(op_id, name, parent, time.perf_counter())
        self.sc.setJobGroup(f"pb-{op_id}-{name}", name, False)
        return span

    def end(self, span: Span, jobs: bool = True) -> Span:
        span.end = time.perf_counter()
        if jobs:
            span.counts.update(self.job_counts(f"pb-{span.op_id}-{span.name}"))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append(span)
        return span

    def drain(self) -> None:
        self.bus.waitUntilEmpty(30_000)

    def job_counts(self, group: str) -> dict[str, float]:
        """Jobs, stages and task metrics of every job run under ``group``."""
        self.drain()
        out: dict[str, float] = defaultdict(float)
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = self.store.job(jid).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            for key, (attr, factor) in STAGE_FIELDS.items():
                out[key] += getattr(st, attr)() * factor
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return dict(out)

    def python_counts(self) -> dict[str, float]:
        """Python-worker SQL metrics of every SQL execution since the last call.

        A plan executed twice reuses its metric accumulators, so one
        accumulator can appear in several executions with a running
        total: each accumulator counts once, at its largest value.
        """
        self.drain()
        latest: dict[int, tuple[str, float]] = {}
        n = self.sql_store.executionsCount()
        if n > self._seen_sql:
            execs = self.sql_store.executionsList(int(self._seen_sql), int(n - self._seen_sql))
            for i in range(execs.size()):
                eid = execs.apply(i).executionId()
                values = self.sql_store.executionMetrics(eid)
                nodes = self.sql_store.planGraph(eid).allNodes()
                for j in range(nodes.size()):
                    node = nodes.apply(j)
                    if not PYTHON_NODE.search(node.name()):
                        continue
                    ms = node.metrics()
                    for k in range(ms.size()):
                        m = ms.apply(k)
                        key = PYTHON_METRICS.get(m.name())
                        acc = values.get(m.accumulatorId())
                        if key and acc.isDefined():
                            v = parse_sql_metric(acc.get())
                            if v >= latest.get(m.accumulatorId(), (key, -1.0))[1]:
                                latest[m.accumulatorId()] = (key, v)
        self._seen_sql = n
        out: dict[str, float] = defaultdict(float)
        for key, v in latest.values():
            out[key] += v
        return dict(out)

    @staticmethod
    def catalyst_phases(df) -> dict[str, float]:
        """Force the physical plan; return Catalyst's phase times in ms."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return {f"catalyst.{k}_ms": v for k, v in out.items()}

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [
                    {"op": s.op_id, "name": s.name, "parent": s.parent,
                     "start": s.start, "end": s.end, "counts": s.counts}
                    for s in self.spans
                ],
                **(extra or {}),
            }, f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the time its child spans cover."""
    by_op: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        by_op[s.op_id].append(s)
    out: dict[str, float] = defaultdict(float)
    for group in by_op.values():
        for s in group:
            covered = sum(c.ms for c in group if c.parent == s.name)
            out[s.name] += s.ms - covered
    return dict(out)
