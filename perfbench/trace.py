"""Measurement from outside the package: spans, Spark SQL metrics from the
status store, process-tree memory and JVM GC time.

Nothing here is imported by ``logparser_spark``. Spans are recorded by
wrapping the public functions of the layer modules for the duration of a
traced run; the wrappers are removed afterwards.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is (id, pass id, name, parent id,
    start, end); spans of one pass share the pass id."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.pass_id = -1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [len(self.spans), self.pass_id, name, parent,
               time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(rec[0])
        try:
            yield rec
        finally:
            rec[5] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def wrapping(self, targets):
        """Wrap ``(module, attribute)`` functions in spans named
        ``module.attribute`` (package prefix dropped); restore on exit."""
        saved = []
        for mod, attr in targets:
            fn = getattr(mod, attr)
            name = f"{mod.__name__.split('.', 1)[-1]}.{attr}"

            def wrapper(*a, __fn=fn, __name=name, **kw):
                with self.span(__name):
                    return __fn(*a, **kw)

            saved.append((mod, attr, fn))
            setattr(mod, attr, functools.wraps(fn)(wrapper))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    @staticmethod
    def duration(rec) -> float:
        return rec[5] - rec[4]

    def children(self, rec) -> list:
        return [s for s in self.spans if s[3] == rec[0]]

    def total(self, within, names) -> float:
        """Summed duration of descendant spans of ``within`` whose name is
        in ``names`` (outermost match only)."""
        out = 0.0
        for c in self.children(within):
            if c[2] in names:
                out += self.duration(c)
            else:
                out += self.total(c, names)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for sid, pid, name, parent, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "pass": pid, "name": name,
                                    "parent": parent, "start": t0,
                                    "end": t1}) + "\n")


# ── Spark SQL metrics from the status store ─────────────────────────────

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text, mtype: str) -> float:
    """Total of one formatted SQL metric (``SQLMetrics.stringValue``):
    counts in base units, sizes in bytes, times in seconds."""
    if text is None:
        return 0.0
    if "\n" in text:  # "total (min, med, max ...)\n<total> (<min>, ...)"
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    text = text.strip().replace(",", "")
    if mtype == "sum":
        return float(text)
    m = re.fullmatch(r"([0-9.]+) ?([A-Za-z]+)", text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


# (node-name prefix, metric display name) -> reduced name
SQL_METRICS = {
    ("ArrowEvalPython", "time to run Python workers"): "python_total_s",
    ("ArrowEvalPython", "time to start Python workers"): "python_boot_s",
    ("ArrowEvalPython", "time to initialize Python workers"): "python_init_s",
    ("ArrowEvalPython", "data sent to Python workers"): "python_bytes_sent",
    ("ArrowEvalPython", "data returned from Python workers"): "python_bytes_received",
    ("ArrowEvalPython", "number of output rows"): "python_rows",
    ("BroadcastExchange", "time to collect"): "broadcast_collect_s",
    ("HashAggregate", "time in aggregation build"): "agg_s",
    ("Exchange", "shuffle write time"): "shuffle_write_s",
    ("WholeStageCodegen", "duration"): "codegen_s",
    ("Execute InsertIntoHadoopFsRelationCommand", "number of written files"): "files_out",
    ("Execute InsertIntoHadoopFsRelationCommand", "written output"): "bytes_out",
    ("Execute InsertIntoHadoopFsRelationCommand", "task commit time"): "task_commit_s",
    ("Execute InsertIntoHadoopFsRelationCommand", "job commit time"): "job_commit_s",
    ("Scan parquet", "scan time"): "scan_s",
}


class SqlStatus:
    """Reads finished SQL executions and their stages from the session's
    status stores. Runs no Spark job."""

    def __init__(self, spark):
        self.spark = spark
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.core = spark.sparkContext._jsc.sc().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def mark(self) -> int:
        self.bus.waitUntilEmpty()
        return self.sql.executionsCount()

    def since(self, mark: int) -> dict:
        """Reduce every execution after ``mark`` to summed metrics plus
        execution, job, cache-scan counts and task-time skew."""
        self.bus.waitUntilEmpty()
        execs = self.conv.asJava(self.sql.executionsList(mark, 1 << 20))
        out = {v: 0.0 for v in SQL_METRICS.values()}
        out.update(executions=0, jobs=0, cache_scans=0)
        stages = set()
        for ex in execs:
            out["executions"] += 1
            out["jobs"] += ex.jobs().size()
            stages.update(self.conv.asJava(ex.stages()))
            # falls back to the live metrics while the store's copy is
            # still being aggregated
            values = self.conv.asJava(self.sql.executionMetrics(ex.executionId()))
            for node in self.conv.asJava(self.sql.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                if name.startswith("InMemoryTableScan"):
                    out["cache_scans"] += 1
                for m in self.conv.asJava(node.metrics()):
                    key = next((v for (p, mn), v in SQL_METRICS.items()
                                if mn == m.name() and name.startswith(p)), None)
                    if key:
                        out[key] += metric_value(values.get(m.accumulatorId()),
                                                 m.metricType())
        out["task_skew"] = self._task_skew(stages)
        return out

    def _task_skew(self, stages) -> float:
        """Max over median task run time in the busiest stage."""
        best, skew = -1.0, 1.0
        for sid in stages:
            runs = []
            for td in self.conv.asJava(self.core.taskList(sid, 0, 1 << 20)):
                tm = td.taskMetrics()
                if tm.isDefined():
                    runs.append(tm.get().executorRunTime())
            if runs and sum(runs) > best:
                runs.sort()
                best = sum(runs)
                skew = runs[-1] / max(runs[len(runs) // 2], 1)
        return skew


def gc_seconds(spark) -> float:
    """Cumulative GC time of the JVM (driver and local executor)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


# ── process-tree resident memory ────────────────────────────────────────


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def _parents() -> dict[int, int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_read(f"/proc/{d}/stat").rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return parent


def _tree(root: int, parent: dict[int, int]) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def descendants(root: int) -> list[int]:
    return _tree(root, _parents())[1:]


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) every ``period`` seconds, as the sum
    of their proportional set sizes, so pages shared after a fork count
    once. A child that still shares its parent's address space (between
    vfork and exec) is skipped for the same reason."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    @staticmethod
    def sample() -> int:
        parent = _parents()
        total = 0
        for pid in _tree(os.getpid(), parent):
            try:
                if pid != os.getpid() and _read(f"/proc/{pid}/statm") == \
                        _read(f"/proc/{parent[pid]}/statm"):
                    continue
                for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
            except (OSError, KeyError):
                pass
        return total

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, self.sample())
            self._halt.wait(self.period)

    def peak_mb(self) -> float:
        return max(self.peak, self.sample()) / 1e6

    def stop(self) -> None:
        self._halt.set()
        self.join()
