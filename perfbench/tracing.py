"""Spans, Spark plan metrics, job counts and process memory.

Spans are recorded from the benchmark's own code around its calls into the
program, kept in memory and written out once at the end of a traced run.
Spark's per-operator SQL metrics are read from the executed plan of each
request after its rows have been fetched.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Counts that repeat exactly for one seed: the regression signal host noise
# cannot spoil (two traced runs of one seed must agree on every one).
DETERMINISTIC_COUNTERS = (
    "scan.rows",
    "shuffle.exchanges",
    "shuffle.bytes_written",
    "broadcast.bytes",
    "python.rows_sent",
    "spark.jobs",
    "routing.kernels.sssp_runs",
    "operators.dedup.lsh_candidates",
)


class Tracer:
    """Nested spans sharing a request id, plus per-layer totals."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.totals: defaultdict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: int, **attrs):
        rec = {
            "id": len(self.spans),
            "request": request,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, metric: str, value: float) -> None:
        self.totals[metric] += value

    @contextmanager
    def timed(self, metric: str, name: str, request: int, **attrs):
        """A span whose duration is also added to the layer total `metric`."""
        with self.span(name, request, **attrs) as rec:
            yield rec
        self.add(metric, rec["end"] - rec["start"])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "totals": dict(self.totals)}, f)


# ---------------------------------------------------------------------------
# Spark SQL metrics of an executed plan
# ---------------------------------------------------------------------------

def _metric_values(jvm, node) -> dict[str, float]:
    """{name: value}, timings in ms (nsTiming metrics converted)."""
    ms = jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics())
    out = {}
    for k in ms.keySet():
        m = ms.get(k)
        v = float(m.value())
        out[k] = v / 1e6 if m.metricType() == "nsTiming" else v
    return out


def _children(jvm, node) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.children()))


def _rows_into(jvm, node) -> float:
    """Rows flowing into `node`: the output row count of the nearest
    descendant that counts rows (projections and codegen adapters do not)."""
    kids = _children(jvm, node)
    while len(kids) == 1:
        m = _metric_values(jvm, kids[0])
        for key in ("numOutputRows", "recordsRead"):
            if key in m:
                return m[key]
        kids = _children(jvm, kids[0])
    return 0.0


def plan_metrics(spark, jplan) -> dict[str, float]:
    """Per-layer totals of one executed plan, unwrapping AdaptiveSparkPlan
    and the *QueryStage wrappers; reused exchanges are not counted twice."""
    jvm = spark._jvm
    out: defaultdict[str, float] = defaultdict(float)

    def visit(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return visit(node.plan())
        if cls == "ReusedExchangeExec":
            return
        m = _metric_values(jvm, node)
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            out["scan.time_ms"] += m.get("scanTime", 0.0)
            out["scan.files_bytes"] += m.get("filesSize", 0.0)
            out["scan.rows"] += m.get("numOutputRows", 0.0)
        if cls == "WholeStageCodegenExec":
            out["codegen.pipeline_ms"] += m.get("pipelineTime", 0.0)
        if cls == "ShuffleExchangeExec":
            out["shuffle.exchanges"] += 1
        if "shuffleBytesWritten" in m:
            out["shuffle.bytes_written"] += m["shuffleBytesWritten"]
            out["shuffle.write_ms"] += m.get("shuffleWriteTime", 0.0)
            out["shuffle.records_read"] += m.get("recordsRead", 0.0)
        if cls == "BroadcastExchangeExec":
            out["broadcast.count"] += 1
            out["broadcast.collect_ms"] += m.get("collectTime", 0.0)
            out["broadcast.build_ms"] += m.get("buildTime", 0.0)
            out["broadcast.bytes"] += m.get("dataSize", 0.0)
        if cls.endswith("AggregateExec"):
            out["agg.peak_mem_bytes"] += m.get("peakMemory", 0.0)
            out["agg.spill_bytes"] += m.get("spillSize", 0.0)
        if "pythonTotalTime" in m:
            out["python.boot_ms"] += m.get("pythonBootTime", 0.0)
            out["python.init_ms"] += m.get("pythonInitTime", 0.0)
            out["python.total_ms"] += m["pythonTotalTime"]
            out["python.bytes_sent"] += m.get("pythonDataSent", 0.0)
            out["python.rows_received"] += m.get("pythonNumRowsReceived", 0.0)
            out["python.rows_sent"] += _rows_into(jvm, node)
        for child in _children(jvm, node):
            visit(child)

    visit(jplan)
    return dict(out)


def jobs_in_group(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) the scheduler ran under a job group, after draining
    the listener bus so the status store has seen every job of it."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    """Every live descendant process of `pid` (from /proc)."""
    parent: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        parent[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parent.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over `pids`, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
