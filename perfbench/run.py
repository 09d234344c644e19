"""Benchmark entry point: one workload, one seed, one timed or traced run.

    python3 perfbench/run.py --workload olap_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer metrics, read by the collectors
in ``tracing.py`` in a run of their own.

The run makes its inputs from the seed, starts the package's own
``get_spark()`` with ``SPARK_GRAFT_CPUS`` set to the core count and every
other setting at its default, warms up, then runs ops in a closed loop
for about ``--seconds`` and checks every op against DuckDB. Inputs and scratch
live in a fresh directory under ``.perfbench_runs/`` in the checkout,
deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from typing import NoReturn

# A run must exit within 180 s. On a host slowed several-fold the loop stops
# at a unit boundary past this age, and the traced extras are skipped.
DEADLINE_S = 120

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "moteur_d_analytics_colonne_parquet_like_arrow_like__spark"


class Ctx:
    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spark = self.con = None
        self.trace = None
        self.op_started = 0.0


def _fail(msg: str) -> NoReturn:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _spec() -> dict:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        _fail(f"cannot read BENCHMARK.json: {e}")


def _environment(work: str) -> None:
    """Settings the run needs before the JVM starts. Only the core count
    and scratch locations are set; the driver heap stays at its default."""
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # The .col data source's Python workers import the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.makedirs(os.path.join(work, sub))
        os.environ[var] = os.path.join(work, sub)
    tempfile.tempdir = None
    # The JVM's own temp files (extracted native libraries) go there too.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={os.environ["TMPDIR"]}" pyspark-shell')


def _alive(pid: int) -> bool:
    """Whether ``pid`` exists and has not yet exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2:].split()[0] not in ("Z", "X")


def _stop_processes(wait_s: float = 30.0) -> None:
    """End the JVM this process started and every process below it, and
    wait until each has exited. The JVM exits when its stdin closes and
    takes its Python workers with it; what is still running after
    ``wait_s`` is killed."""
    import tracing
    from pyspark import SparkContext

    left = set(tracing.descendants(os.getpid()))
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=wait_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + wait_s
    while True:
        left = {pid for pid in left | set(tracing.descendants(os.getpid())) if _alive(pid)}
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        try:  # reap direct children; the others are reaped by their parents
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


class Run:
    """One process's run of one workload."""

    def __init__(self, args, spec, ctx: Ctx, workload):
        import tracing
        from workloads import WARMUP_OPS

        self.args, self.spec, self.ctx, self.w = args, spec, ctx, workload
        self.tracing = tracing
        self.warmup_ops = WARMUP_OPS
        self.attempted = self.failed = 0
        self.excluded_s = 0.0  # benchmark-side work inside the set-up window
        self.lat, self.traced_lat, self.records, self.rows = [], [], [], 0
        self.probes = []
        self.tracer = None

    # --------------------------------------------------------------- ops

    def _untimed(self, fn, *a):
        t0 = time.perf_counter()
        try:
            return fn(*a)
        finally:
            self.excluded_s += time.perf_counter() - t0

    def one_op(self, i: int, traced: bool) -> float:
        """Prepare, run and check op ``i``; return its latency in seconds."""
        inp = self._untimed(self.w.prepare, i)
        tr = self.tracer if traced else self.tracing.NullTracer()
        self.ctx.trace = tr
        self.attempted += 1
        if traced:
            self._untimed(tr.begin)
        self.ctx.op_started = time.time()
        t0 = time.perf_counter()
        try:
            out = self.w.op(i, inp)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0
        latency = time.perf_counter() - t0
        if traced:
            self._untimed(self.w.traced_extras, i, inp)
            self.records.append(self._untimed(tr.end))
        try:
            problems = self._untimed(self.w.check, i, inp, out)
        except Exception:
            traceback.print_exc()
            problems = ["check raised"]
        if problems:
            self.failed += 1
            print(f"op {i} failed its DuckDB check: {problems}", file=sys.stderr)
        self.rows += self.w.rows(i, inp)
        return latency

    # --------------------------------------------------------------- phases

    def run(self) -> dict:
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark

        args, w = self.args, self.w
        self.probes.append(self.tracing.cpu_probe_ms())
        self.excluded_s += self.probes[-1] / 1000.0
        self._untimed(w.generate)
        t0 = time.perf_counter()
        self.ctx.spark = spark = get_spark(f"perfbench_{args.workload}")
        self.get_spark_s = time.perf_counter() - t0
        self.tracer = self.tracing.Tracer(spark) if args.trace else None
        w.setup()
        with self.tracing.RssSampler() as rss:
            for i in range(self.warmup_ops):
                print(f"warm-up op {i}: {self.one_op(i, traced=False):.2f} s", file=sys.stderr)
            self.setup_s = self.tracing.process_age_s() - self.excluded_s
            self.rows = 0
            self.loop(self.warmup_ops)
        self.once = {}
        if args.trace and self.tracing.process_age_s() <= DEADLINE_S:
            self.once = self.trace_once()
        self.bytes_ratio = w.bytes_per_user_byte()
        self.probes.append(self.tracing.cpu_probe_ms())
        return self.report(rss)

    def trace_once(self) -> dict:
        """The workload's once-per-traced-run counters, checked like an op."""
        self.tracer.op.clear()
        self.ctx.trace = self.tracer
        self.attempted += 1
        try:
            problems = self.w.trace_once()
        except Exception:
            traceback.print_exc()
            problems = ["raised"]
        if problems:
            self.failed += 1
            print(f"traced extras failed their DuckDB check: {problems}", file=sys.stderr)
        return dict(self.tracer.op)

    def loop(self, first: int) -> None:
        """Closed loop over a fixed number of units (an op, or a stream
        cycle): as many as ``--seconds`` holds at the workload's nominal
        unit time, so every run times the same op indices and the same
        input growth. The traced run orders its units untraced, traced,
        traced, untraced (repeated), so the warm-up trend cancels out of
        the overhead, and runs at least four."""
        unit = self.w.unit_ops
        units = max(1, round(self.args.seconds / (self.w.nominal_op_s * unit)))
        if self.args.trace:
            units = max(4, units)
        timed = 0.0
        for j in range(units * unit):
            if j % unit == 0 and j and self.tracing.process_age_s() > DEADLINE_S:
                print(f"stopping after {j} ops: past the {DEADLINE_S} s deadline", file=sys.stderr)
                break
            traced = bool(self.args.trace) and (j // unit) % 4 in (1, 2)
            latency = self.one_op(first + j, traced)
            print(f"op {first + j}: {latency:.3f} s{' traced' if traced else ''}", file=sys.stderr)
            (self.traced_lat if traced else self.lat).append(latency)
            timed += latency
        self.timed_s = timed

    # --------------------------------------------------------------- report

    def report(self, rss) -> dict:
        if self.args.trace:
            values = self._per_layer(rss)
            wanted = self.spec["per_layer"]
        else:
            values = {
                "latency_p50_ms": statistics.median(self.lat) * 1000.0,
                "rows_per_s": self.rows / self.timed_s,
                "bytes_per_user_byte": self.bytes_ratio,
                "setup_s": self.setup_s,
            }
            wanted = self.spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        print(f"{self.args.workload}: {len(self.lat)} timed ops, {len(self.traced_lat)} traced ops, "
              f"host.cpu_probe_ms {[round(p, 1) for p in self.probes]}, peak RSS MB jvm "
              f"{rss.peak_jvm / 2**20:.0f} python workers {rss.peak_py / 2**20:.0f}", file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _per_layer(self, rss) -> dict:
        keys = {k for r in self.records for k in r}
        out = {k: statistics.median(r.get(k, 0.0) for r in self.records) for k in keys}
        out.update({k: v for k, v in self.once.items() if k not in keys})
        out.update({
            "session.get_spark_s": self.get_spark_s,
            "proc.peak_rss_mb": rss.peak_total / 2**20,
            "proc.jvm_rss_mb": rss.peak_jvm / 2**20,
            "proc.py_workers_rss_mb": rss.peak_py / 2**20,
            "host.cpu_probe_ms": statistics.median(self.probes),
        })
        if self.traced_lat and self.lat:  # the deadline may cut the loop short
            out["trace.overhead_ms"] = (statistics.median(self.traced_lat)
                                        - statistics.median(self.lat)) * 1000.0
        return out

    def close(self) -> None:
        self.w.finish()
        if self.tracer is not None:
            self.tracer.close()
        if self.ctx.spark is not None:
            self.ctx.spark.stop()


def main(argv=None) -> int:
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isdir(os.path.join(ROOT, "tools")):
        _fail(f"{PKG}/ and tools/ must sit next to perfbench/ (run from a full checkout)")
    import duckdb

    import tracing
    from workloads import WORKLOADS

    # A terminated run still takes the finally blocks below, which stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}_", dir=runs)
    try:
        _environment(work)
        ctx = Ctx(args.seed, work)
        ctx.trace = tracing.NullTracer()
        with duckdb.connect() as ctx.con:
            run = Run(args, spec, ctx, WORKLOADS[args.workload](ctx))
            try:
                result = run.run()
            finally:
                try:
                    run.close()
                finally:
                    _stop_processes()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
