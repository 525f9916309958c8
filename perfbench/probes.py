"""Measurements taken from outside the program.

Nothing here changes the program: spans are recorded around the calls the
benchmark makes into each layer, py4j round trips are counted by wrapping
the client's ``send_command`` (as ``tools/profile_build.py`` does), and the
per-operator numbers are read back from Spark's status store, which exists
with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time

# SQL metric name -> per-layer metric it adds to. Names are Spark 4.1's.
_SQL_METRICS = {
    "number of files read": "sources.files_read",
    "size of files read": "sources.bytes_read",
    "scan time": "sources.scan_s",
    "shuffle bytes written": "spark.exchange.bytes_written",
    "shuffle records written": "spark.exchange.records",
    "spill size": "spark.exchange.spill_bytes",
    "fetch wait time": "spark.exchange.fetch_wait_s",
    "number of coalesced partitions": "spark.exchange.aqe_coalesced_partitions",
    "time to run Python workers": "kernels.python_run_s",
    "time to start Python workers": "kernels.python_start_s",
    "time to initialize Python workers": "kernels.python_start_s",
    "data sent to Python workers": "kernels.arrow_bytes_sent",
    "data returned from Python workers": "kernels.arrow_bytes_returned",
    "time in aggregation build": "operators.jvm_build_s",
    "sort time": "operators.jvm_build_s",
    "time to build hash map": "operators.jvm_build_s",
    "time to build": "operators.jvm_build_s",
    "number of output rows": "operators.rows_out",
    "written output": "index.bytes_written",
}

STATUS_METRICS = sorted(set(_SQL_METRICS.values())) + [
    "sources.rows_read",
    "spark.exchange.count",
]

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: bytes for sizes, seconds
    for times. Per-task metrics read ``total (min, med, max ...)\\n<total>
    (...)``; the total is the first value on the second line."""
    line = text.split("\n", 1)[-1].strip()
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def descendants() -> dict[int, int]:
    """RSS in bytes of every live process descended from this one."""
    page = os.sysconf("SC_PAGE_SIZE")
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listdir and open
        # the ppid is the second field after the parenthesised command name
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[int(entry)] = pages * page
    me = os.getpid()
    out = {}
    for pid in rss:
        p = parent.get(pid)
        while p is not None and p != me:
            p = parent.get(p)
        if p == me:
            out[pid] = rss[pid]
    return out


def wait_for_descendants(timeout_s: float) -> None:
    """Reap exited children and wait until no descendant is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass  # no children left to reap
        alive = [pid for pid in descendants()
                 if not _is_zombie(pid)]
        if not alive or time.monotonic() > deadline:
            return
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


class RssSampler:
    """Samples the summed RSS of every process descended from this one (the
    Spark JVM, the PySpark daemon and its Python workers) and keeps the
    peak."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _sample(self) -> int:
        return sum(descendants().values())

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.period_s)


class Py4jCounter:
    """Counts py4j round trips while installed (``tools/profile_build.py``'s
    wrapper of ``ClientServerConnection.send_command``)."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        self._cls = ClientServerConnection
        self._orig = ClientServerConnection.send_command
        self.calls = 0

    def __enter__(self) -> "Py4jCounter":
        orig = self._orig

        def counted(conn, *a, **kw):
            self.calls += 1
            return orig(conn, *a, **kw)

        self._cls.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        self._cls.send_command = self._orig


class Tracer:
    """In-memory spans (name, start, end, parent) plus per-layer totals.

    A disabled tracer records nothing and costs one attribute test per
    span, so the untimed and timed code paths are the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.totals: dict[str, float] = {}
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        self.totals[name] = self.totals.get(name, 0.0) + value

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start_s": time.perf_counter() - self._t0, "end_s": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0


class SparkProbe:
    """Reads per-query scheduler, Catalyst and operator numbers from a live
    session without the Spark UI."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self.sql_store.executionsCount()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the status store holds the finished query's numbers."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def scheduler(self, job_ids: list[int]) -> dict[str, float]:
        """Jobs, stages that ran tasks, and tasks that completed."""
        st = self.sc.statusTracker()
        stages: dict[int, int] = {}
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks:
                    stages[s] = si.numCompletedTasks
        return {"spark.scheduler.jobs": len(job_ids),
                "spark.scheduler.stages": len(stages),
                "spark.scheduler.tasks": sum(stages.values())}

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s own query execution; planning
        is forced here, so call this only on a traced pass."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for ph in ("analysis", "optimization", "planning"):
            out[f"spark.catalyst.{ph}_ms"] = float(
                phases.apply(ph).durationMs() if phases.contains(ph) else 0)
        return out

    def new_executions(self) -> dict[str, float]:
        """Sum the operator metrics of every SQL execution that started
        since the last call."""
        self.drain()
        total = self.sql_store.executionsCount()
        out = {k: 0.0 for k in STATUS_METRICS}
        if total > self._seen:
            it = self.sql_store.executionsList(self._seen, total - self._seen).iterator()
            while it.hasNext():
                self._add_execution(it.next().executionId(), out)
        self._seen = total
        return out

    def _add_execution(self, eid: int, out: dict[str, float]) -> None:
        values = self.sql_store.executionMetrics(eid)
        nodes = self.sql_store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            if name in ("Exchange", "BroadcastExchange"):
                out["spark.exchange.count"] += 1
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                metric = metrics.next()
                key = _SQL_METRICS.get(metric.name())
                if key is None:
                    continue
                v = values.get(metric.accumulatorId())
                if v.isEmpty():
                    continue
                value = parse_metric(v.get())
                out[key] += value
                if name.startswith("Scan ") and metric.name() == "number of output rows":
                    out["sources.rows_read"] += value
