"""Spans, memory sampling and Spark status-store readers.

Spans come from two sources: timed calls the benchmark makes into the
engine's public functions (``Tracer.span``), and the Spark jobs those
calls ran, read from Spark's status stores after each job with the UI
off.  Nothing here runs inside the engine.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory; the caller writes ``spans`` out when the
    run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # status-store times are epoch ms; spans use perf_counter
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float,
            parent: int | None, **attrs) -> None:
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": parent, "start": start, "end": end,
                           **attrs})

    def from_epoch_ms(self, ms: int) -> float:
        return ms / 1000.0 - self.epoch_offset


def _tree_stats(root: int) -> list[list[bytes]]:
    """/proc/<pid>/stat fields after the command name, for ``root`` and
    all its live descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[bytes]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        stats[int(name)] = fields
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree.append(stats[pid])
        todo.extend(children.get(pid, []))
    return tree


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its live descendants."""
    return sum(int(f[21]) for f in _tree_stats(root)) \
        * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by this process, or ``root``, and all its live descendants."""
    root = os.getpid() if root is None else root
    return sum(int(x) for f in _tree_stats(root) for x in f[11:15]) \
        / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Every ``interval_s``, the resident memory of this process and all
    its descendants (the JVM and its Python workers), read from /proc."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), tree_rss_bytes(root)))
            self._stop.wait(self.interval_s)

    def peak_rss_bytes(self, t0: float, t1: float) -> int:
        return max((r for t, r in list(self.samples) if t0 <= t <= t1),
                   default=0)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- Spark status stores ----------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "min": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value ("2,252", "1.5 MiB", "850 ms", or
    "total (min, med, max ...)\\n5.2 s (...)") as bytes, seconds or a
    count."""
    if not text:
        return 0.0
    m = _VALUE_RE.search(text.splitlines()[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkStores:
    """Reads the core status store (jobs, stages, tasks) and the SQL
    status store (executions, plan graphs, metric values)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self.core = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        return (self.core.jobsList(None).size(),
                self.sql.executionsList().size())

    def jobs_since(self, mark: tuple[int, int]) -> list:
        jobs = sorted(_seq(self.core.jobsList(None)),
                      key=lambda j: j.jobId())
        return jobs[mark[0]:]

    def executions_since(self, mark: tuple[int, int]) -> list:
        execs = sorted(_seq(self.sql.executionsList()),
                       key=lambda e: e.executionId())
        return execs[mark[1]:]

    def stages(self, stage_ids: set[int]) -> list:
        every = _seq(self.core.stageList(
            None, False, False, self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList()))
        return [s for s in every if s.stageId() in stage_ids]

    def tasks(self, stage) -> list:
        return _seq(self.core.taskList(stage.stageId(), stage.attemptId(),
                                       100000))

    def plan_nodes(self, execution) -> list[tuple[str, str, dict]]:
        """(node name, node description, {metric name: formatted value})
        for every node of the execution's final plan."""
        values = self.sql.executionMetrics(execution.executionId())
        nodes = []
        for node in _seq(self.sql.planGraph(execution.executionId())
                         .allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                metrics[m.name()] = v.get() if v.isDefined() else None
            nodes.append((node.name(), node.desc(), metrics))
        return nodes


def job_spans(tracer: Tracer, jobs: list, parent: int | None) -> None:
    for j in jobs:
        start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if start is None or end is None:
            continue
        tracer.add("spark.job", tracer.from_epoch_ms(start),
                   tracer.from_epoch_ms(end), parent,
                   job_id=j.jobId(), call_site=j.name(),
                   stages=[int(s) for s in _seq(j.stageIds())])


def layer_metrics(stores: SparkStores, mark: tuple[int, int],
                  input_path: str) -> dict[str, float]:
    """Per-layer numbers for the Spark work done since ``mark``."""
    jobs = stores.jobs_since(mark)
    execs = stores.executions_since(mark)
    stage_ids = {int(s) for j in jobs for s in _seq(j.stageIds())}
    stages = stores.stages(stage_ids)

    m = {"manifest.spark_jobs": len(jobs),
         "manifest.sql_executions": len(execs),
         "spark.failed_tasks": sum(s.numFailedTasks() for s in stages)}
    udf = {"data sent to Python workers": "udf.sent_mb",
           "data returned from Python workers": "udf.received_mb",
           "time to run Python workers": "udf.python_s",
           "time to start Python workers": "udf.boot_s",
           "time to initialize Python workers": "udf.init_s"}
    totals = dict.fromkeys(list(udf.values()) + [
        "scan.passes", "scan.mb", "salt.shuffle_mb", "dedup.shuffle_mb",
        "dedup.rows_in", "dedup.rows_out", "manifest.waves"], 0.0)
    input_url = os.path.abspath(input_path)
    for e in execs:
        nodes = stores.plan_nodes(e)
        names = [n[0] for n in nodes]
        if "MapInPandas" in names:
            totals["manifest.waves"] += 1
        # Exchanges sit above their inputs in graph order: the one
        # nearest after a MapInPandas node is the dedup shuffle, the
        # others over the payload scan are the salt shuffle.
        below_udf = False
        for name, desc, metrics in reversed(nodes):
            if name == "MapInPandas":
                below_udf = True
                for metric, key in udf.items():
                    totals[key] += parse_metric(metrics.get(metric))
                totals["dedup.rows_in"] += parse_metric(
                    metrics.get("number of output rows"))
            elif name.startswith("Scan parquet") and input_url in desc:
                totals["scan.passes"] += 1
                totals["scan.mb"] += parse_metric(
                    metrics.get("size of files read")) / 2**20
            elif name == "Exchange" and "MapInPandas" in names:
                mb = parse_metric(metrics.get("shuffle bytes written")) / 2**20
                totals["dedup.shuffle_mb" if below_udf
                       else "salt.shuffle_mb"] += mb
                below_udf = False
        if "MapInPandas" in names:
            write = next((n for n in nodes
                          if n[0].startswith("Execute InsertInto")), None)
            if write is not None:
                totals["dedup.rows_out"] += parse_metric(
                    write[2].get("number of output rows"))
    for key in ("udf.sent_mb", "udf.received_mb"):
        totals[key] /= 2**20
    m.update(totals)

    # Task attempts after the first.  Plain local[N] allows no task
    # retries (spark.task.maxFailures is 1 there), so this stays 0 unless
    # the master is local[N,F] or a cluster.
    # Skew is that of the stage with the most executor run time, which
    # on these workloads is a wave's extraction stage.
    retries, skews = 0, []
    for s in stages:
        tasks = stores.tasks(s)
        retries += sum(1 for t in tasks if t.attempt() > 0)
        if s.executorRunTime() <= 0:
            continue
        durations = [t.duration().get() for t in tasks
                     if t.duration().isDefined()]
        if len(durations) >= 2:
            skews.append((s.executorRunTime(),
                          max(durations) / max(1, statistics.median(durations))))
    m["spark.task_retries"] = retries
    m["extract.task_skew"] = max(skews)[1] if skews else 1.0
    return m
