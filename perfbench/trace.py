"""Spans and Spark-side readings for the traced run.

Spans are recorded from the benchmark's own code around the calls it
makes into each layer of the engine (op → build / materialize → Spark
jobs). They are kept in memory, share one run id, link to their parent
and are written out once when the run ends. With tracing off every
method returns at once, so the untraced run pays nothing but a call.

What Spark exposes about a call is read from outside the program:

- jobs and stages per op through a job group and the status tracker;
- per-stage task, run, GC, shuffle, spill and input figures from the
  status store (``statusStore().lastStageAttempt``);
- Catalyst phase times from ``queryExecution().tracker().phases()``;
- Python-stage boot, run time and bytes from the metrics of the Arrow
  and pandas nodes of the final adaptive plan;
- JVM GC time from the garbage-collector MXBeans.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from collections import defaultdict

STAGE_FIELDS = {
    "exec.tasks": "numTasks",
    "exec.failed_tasks": "numFailedTasks",
    "exec.task_run_s": "executorRunTime",
    "exec.gc_s": "jvmGcTime",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.input_bytes": "inputBytes",
}
MS_FIELDS = {"exec.task_run_s", "exec.gc_s"}
CATALYST_PHASES = ("analysis", "optimization", "planning")
PYTHON_METRICS = {
    "python.boot_s": "pythonBootTime",
    "python.exec_s": "pythonTotalTime",
    "python.bytes": ("pythonDataSent", "pythonDataReceived"),
}


class Tracer:
    """In-memory spans plus per-layer counters for one benchmark run."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.layers: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        # status-store times are wall-clock epoch ms; spans use
        # perf_counter, so keep the offset between the two clocks
        self._epoch_offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        """Time a block as a child of the innermost open span. With a
        `layer`, its duration is also added to that layer's total."""
        if not self.enabled:
            yield None
            return
        sp = {
            "id": next(self._ids),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if layer:
                self.layers[layer] += sp["end"] - sp["start"]

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.layers[name] += value

    def job_span(self, parent: dict, job_id: int, start_ms: float, end_ms: float, **attrs):
        self.spans.append({
            "id": next(self._ids),
            "parent": parent["id"],
            "run": self.run_id,
            "name": f"job {job_id}",
            "start": start_ms / 1000 - self._epoch_offset,
            "end": end_ms / 1000 - self._epoch_offset,
            **attrs,
        })

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part of it that child
        spans cover, summed over all spans of that name."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                kids[sp["parent"]].append((sp["start"], sp["end"]))
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            covered, edge = 0.0, sp["start"]
            for a, b in sorted(kids.get(sp["id"], ())):
                a, b = max(a, edge), min(b, sp["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[sp["name"].split(" ")[0]] += sp["end"] - sp["start"] - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f, indent=1)


class SparkProbe:
    """Reads what Spark records about the jobs an op ran."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._groups = itertools.count(1)

    def jvm_gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    @contextlib.contextmanager
    def jobs(self, op_span: dict | None, extra_groups=lambda: ()):
        """Run the block under a fresh job group, then record its jobs
        as child spans of `op_span` and its stages into the layer
        totals. `extra_groups` names more groups to read afterwards
        (a streaming query runs its batches under its own run id)."""
        if not self.tracer.enabled:
            yield
            return
        group = f"{self.tracer.run_id}-{next(self._groups)}"
        self.sc.setJobGroup(group, op_span["name"] if op_span else group)
        try:
            yield
        finally:
            ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
            for g in extra_groups():
                ids += list(self.sc.statusTracker().getJobIdsForGroup(g))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._record(op_span, sorted(set(ids)))

    def _record(self, op_span: dict | None, job_ids: list[int]) -> None:
        t = self.tracer
        busy = []
        for jid in job_ids:
            job = self.store.job(jid)
            start, end = job.submissionTime(), job.completionTime()
            if start.isEmpty() or end.isEmpty():
                continue
            a, b = start.get().getTime(), end.get().getTime()
            busy.append((a, b))
            t.add("exec.jobs", 1)
            if op_span is not None:
                t.job_span(op_span, jid, a, b, stages=job.stageIds().size())
            for sid in self.conv.asJava(job.stageIds()):
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                t.add("exec.stages", 1)
                for name, field in STAGE_FIELDS.items():
                    v = getattr(st, field)()
                    t.add(name, v / 1000 if name in MS_FIELDS else v)
                t.add("exec.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
        if op_span is not None:
            # job intervals may overlap (broadcasts run beside the main
            # job); count the time covered, not the sum
            covered, edge = 0.0, None
            for a, b in sorted(busy):
                a = a if edge is None else max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            op_span["job_s"] = covered / 1000

    def plan(self, df) -> None:
        """Catalyst phase times and Python-node metrics of a frame that
        has been materialized."""
        if not self.tracer.enabled:
            return
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for ph in CATALYST_PHASES:
            if phases.contains(ph):
                self.tracer.add(f"catalyst.{ph}_s", phases.apply(ph).durationMs() / 1000)
        self._python_nodes(qe.executedPlan())

    def _python_nodes(self, node) -> None:
        name = node.getClass().getSimpleName()
        if any(k in name for k in ("Python", "Pandas", "Arrow")) and name.endswith("Exec"):
            m = self.conv.asJava(node.metrics())
            for metric, keys in PYTHON_METRICS.items():
                for k in (keys,) if isinstance(keys, str) else keys:
                    if m.containsKey(k):
                        v = m.get(k).value()
                        self.tracer.add(metric, v if metric == "python.bytes" else v / 1000)
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids = list(self.conv.asJava(node.children()))
        for k in kids:
            self._python_nodes(k)


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` (from /proc)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def status_kb(pid: int, field: str) -> int:
    """A `kB` field of /proc/<pid>/status, 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False
