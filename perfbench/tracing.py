"""Collectors for the traced run and the process sampler of every run.

Everything here reads public or status counters from outside the package:

- Catalyst phases from ``queryExecution().tracker()``;
- executed-plan SQL metrics, descending through ``AdaptiveSparkPlanExec``
  and every ``*QueryStageExec``;
- job, stage and task counts from the application status store;
- ``StreamingQueryProgress`` through a ``StreamingQueryListener``;
- JVM GC time from the GC MXBeans;
- RSS and write bytes from ``/proc``.

Spans are taken in the benchmark's own files, around the calls it makes
into each layer; the package itself is not instrumented.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ /proc


def _ppid_map() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(entry)] = (ppid, comm)
    return out


def descendants(root: int) -> dict[int, str]:
    """pid -> comm of every process below ``root``."""
    procs = _ppid_map()
    children = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        for kid in children.get(todo.pop(), ()):
            out[kid] = procs[kid][1]
            todo.append(kid)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of the JVM and its Python workers (every
    process below this one) on a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_jvm = self.peak_py = self.peak_total = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        jvm = py = 0
        for pid, comm in descendants(os.getpid()).items():
            if comm == "java":
                jvm += rss_bytes(pid)
            elif comm.startswith("python"):
                py += rss_bytes(pid)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_py = max(self.peak_py, py)
        self.peak_total = max(self.peak_total, jvm + py)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded Python loop: a diagnostic of
    how fast the host runs right now, never a divisor."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


# ------------------------------------------------------------------ Spark


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(df) -> list[tuple[str, str, str, int]]:
    """(node class, metric, metric type, value) of every SQL metric in the
    executed plan of ``df``, each plan node counted once."""
    out, seen = [], set()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        plan = todo.pop()
        if plan.id() in seen:
            continue
        seen.add(plan.id())
        cls = plan.getClass().getSimpleName()
        for kv in _iter(plan.metrics()):
            m = kv._2()
            out.append((cls, kv._1(), m.metricType(), m.value()))
        if cls == "AdaptiveSparkPlanExec":
            todo.append(plan.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(plan.plan())
        todo.extend(_iter(plan.children()))
        todo.extend(_iter(plan.subqueries()))
    return out


def _ms(mtype: str, value: int) -> float:
    return value / 1e6 if mtype == "nsTiming" else float(value)


def exec_summary(metrics: list[tuple[str, str, str, int]]) -> dict[str, float]:
    """Fold plan metrics into the ``exec.*`` per-layer metrics."""
    s = defaultdict(float)
    for cls, name, mtype, value in metrics:
        scan = "Scan" in cls
        if scan and name == "scanTime":
            s["exec.scan_ms"] += _ms(mtype, value)
        elif scan and name == "numOutputRows":
            s["exec.scan_rows"] += value
        elif scan and name == "filesSize":
            s["exec.scan_bytes"] += value
        elif name == "shuffleBytesWritten":
            s["exec.shuffle_bytes"] += value
        elif name == "shuffleWriteTime":
            s["exec.shuffle_write_ms"] += _ms(mtype, value)
        elif name == "aggTime":
            s["exec.agg_ms"] += _ms(mtype, value)
        elif name == "sortTime":
            s["exec.sort_ms"] += _ms(mtype, value)
        elif name == "spillSize":
            s["exec.spill_bytes"] += value
        elif name == "pipelineTime":
            s["exec.codegen_ms"] += _ms(mtype, value)
    return s


def phase_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s query execution."""
    out = {}
    for kv in _iter(df._jdf.queryExecution().tracker().phases()):
        out[f"plan.{kv._1()}_ms"] = float(kv._2().durationMs())
    return out


class Tracer:
    """Per-op counters of one traced run. ``begin()`` and ``end()`` bracket
    an op; the op itself reports its spans and DataFrames through
    ``span()``, ``add()`` and ``frame()``."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.progress: list = []
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._patch_catalog()
        self._last_job = self._max_job_id()
        self.op: dict[str, float] = defaultdict(float)

    def _patch_catalog(self) -> None:
        """Count and time every ``catalog.load_table`` call. Modules bind
        the function at import, so each binding of it is replaced."""
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog

        orig = self._orig_load_table = catalog.load_table

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.op["catalog.load_ms"] += (time.perf_counter() - t0) * 1000.0
                self.op["catalog.load_calls"] += 1

        self._patched = [m for m in list(sys.modules.values())
                         if getattr(m, "load_table", None) is orig]
        for m in self._patched:
            m.load_table = load_table

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)
        for m in self._patched:
            m.load_table = self._orig_load_table

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._drain()
        return max((j.jobId() for j in _iter(self._sc.statusStore().jobsList(None))), default=-1)

    def _gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def _tree_write_bytes(self) -> int:
        pids = [os.getpid()] + [p for p, c in descendants(os.getpid()).items() if c == "java"]
        return sum(write_bytes(p) for p in pids)

    def begin(self) -> None:
        self._last_job = self._max_job_id()  # drains events of earlier ops first
        self.op = defaultdict(float)
        self.progress = []
        self._gc0 = self._gc_ms()
        self._wb0 = self._tree_write_bytes()

    def end(self) -> dict[str, float]:
        self._drain()
        jobs = [j for j in _iter(self._sc.statusStore().jobsList(None))
                if j.jobId() > self._last_job]
        self.op["exec.jobs"] = len(jobs)
        self.op["exec.stages"] = sum(j.stageIds().size() - j.numSkippedStages() for j in jobs)
        self.op["exec.tasks"] = sum(j.numTasks() - j.numSkippedTasks() for j in jobs)
        self.op["proc.gc_ms"] = self._gc_ms() - self._gc0
        self.op["proc.write_bytes"] = max(0, self._tree_write_bytes() - self._wb0)
        return dict(self.op)

    def add(self, name: str, value: float) -> None:
        self.op[name] += value

    def span(self, name: str):
        return _Span(self, name)

    def frame(self, df) -> None:
        """Fold the phases and SQL metrics of an executed DataFrame."""
        for k, v in phase_ms(df).items():
            if k != "plan.parsing_ms":
                self.op[k] += v
        for k, v in exec_summary(plan_metrics(df)).items():
            self.op[k] += v

    def stream_progress(self) -> list:
        self._drain()
        return list(self.progress)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.tracer.add(self.name, (time.perf_counter() - self.t0) * 1000.0)


class NullTracer:
    """Stands in for ``Tracer`` in untimed-overhead ops and untraced runs."""

    def add(self, name: str, value: float) -> None:
        pass

    def span(self, name: str):
        return _NullSpan()

    def frame(self, df) -> None:
        pass


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        pass
