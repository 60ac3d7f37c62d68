"""Layer probes used by the traced run, plus the memory sampler.

Everything here measures the engine from outside: wrappers around the
public functions the query code calls (``catalog.load`` and the
``operators.materialize`` checkpoint helpers), and reads of Spark's own
status store for the job group of one operation. None of it needs the
Spark UI (the session runs with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Counters and spans of one traced run, kept in memory."""

    def __init__(self) -> None:
        self.counters: dict[str, float] = defaultdict(float)
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Time the block as span ``name`` and add its seconds to the
        ``<name>_s`` counter."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((name, t0, t1, parent))
            self.counters[f"{name}_s"] += t1 - t0

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            self.counters[f"{name}_calls"] += 1
            with self.span(name):
                return fn(*args, **kwargs)

        return inner


def install_wrappers(tracer: Tracer) -> None:
    """Wrap ``catalog.load`` and the materialize checkpoint helpers.

    Must run before the query modules are imported (before the first
    ``registry.all_specs()``): they bind ``from nipd_spark.catalog import
    load`` at import time, so a later patch would never be called.
    """
    import sys

    from nipd_spark import catalog
    from nipd_spark.operators import materialize

    if any(m.startswith("nipd_spark.queries.") for m in sys.modules):
        raise RuntimeError("install_wrappers must run before the registry loads")
    catalog.load = tracer.wrap("catalog.load", catalog.load)
    for fn in ("spill_checkpoint", "plan_checkpoint"):
        setattr(
            materialize,
            fn,
            tracer.wrap("materialize.checkpoint", getattr(materialize, fn)),
        )


# StageData accessor -> per-layer counter. Times are in ms except CPU (ns).
_STAGE_FIELDS = {
    "numCompleteTasks": "spark.tasks",
    "executorRunTime": "spark.executor_run_s",
    "executorCpuTime": "spark.executor_cpu_s",
    "jvmGcTime": "spark.gc_s",
    "inputBytes": "spark.input_bytes",
    "inputRecords": "spark.input_records",
    "shuffleWriteBytes": "spark.shuffle_write_bytes",
    "shuffleWriteRecords": "spark.shuffle_write_records",
    "shuffleFetchWaitTime": "spark.shuffle_fetch_wait_s",
    "diskBytesSpilled": "spark.spill_bytes",
}
_SCALE = {
    "executorRunTime": 1e-3,
    "jvmGcTime": 1e-3,
    "shuffleFetchWaitTime": 1e-3,
    "executorCpuTime": 1e-9,
}
# SQL metric of a Python-evaluation plan node -> per-layer counter.
_PYTHON_METRICS = {
    "number of output rows": "python.rows_out",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to run Python workers": "python.worker_run_s",
}
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'1,000'``, ``'876 ms'`` or the
    total line of ``'total (min, med, max ...)\\n26.8 KiB (...)'``."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


class StatusReader:
    """Per-operation counters read from Spark's status store, keyed by the
    job group the operation ran under."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen_executions = 0

    def job_ids(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def read(self, groups: list[str]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        jobs = [j for g in groups for j in self.job_ids(g)]
        out["spark.jobs"] = len(jobs)
        stage_ids: set[int] = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                stage = self._store.lastStageAttempt(sid)
            except Exception:  # evicted from the store: nothing to count
                continue
            if stage.status().toString() == "SKIPPED":  # reused shuffle output
                continue
            out["spark.stages"] += 1
            for field, key in _STAGE_FIELDS.items():
                out[key] += getattr(stage, field)() * _SCALE.get(field, 1)
        self._read_python(set(jobs), out)
        return out

    def _read_python(self, jobs: set[int], out: dict[str, float]) -> None:
        """Python-evaluation node metrics of the SQL executions that ran
        ``jobs``. Only executions listed since the previous read are
        scanned, so each read costs one operation's worth of calls."""
        conv = self._conv
        total = self._sql.executionsCount()
        fresh = self._sql.executionsList(self._seen_executions, total - self._seen_executions)
        self._seen_executions = total
        for ex in conv.asJava(fresh):
            if not jobs & {int(j) for j in conv.asJava(ex.jobs()).keySet()}:
                continue
            eid = ex.executionId()
            values = None
            for node in conv.asJava(self._sql.planGraph(eid).allNodes()):
                if not _PYTHON_NODE.search(node.name()):
                    continue
                if values is None:
                    values = conv.asJava(self._sql.executionMetrics(eid))
                for m in conv.asJava(node.metrics()):
                    key = _PYTHON_METRICS.get(m.name())
                    text = values.get(m.accumulatorId())
                    if key and text:
                        out[key] += parse_sql_metric(text)


def calibrate(spark, repeats: int = 3) -> float:
    """Median seconds of a fixed ``spark.range`` hash-sum that runs no
    repository code: it moves with the host, not with the engine."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, numPartitions=8).select(
            F.sum(F.hash("id"))
        ).collect()
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants(root: int) -> list[int]:
    """Every process below ``root`` (not ``root`` itself)."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root``: the JVM and its
    Python workers, or a job process and everything under it."""
    return sum(_rss_bytes(pid) for pid in descendants(root))


class PeakRss:
    """Background sampler of ``tree_rss_bytes`` for the current process;
    use as a context manager around the timed phase."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
