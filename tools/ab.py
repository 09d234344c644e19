"""A/B harness: interleaved, identity-gated timings of query variants, with
per-operator deltas from the benchmark's own collectors.

An experiment is data: a shared *body* (a registry gate or a builder),
named *tails* that each compose with the body into one variant (the first
is the control, and no variant wraps another), and an ``eager`` flag for
bodies that run jobs while the plan is built (``EAGER`` in
``scale_rehearsal``). The harness

1. aborts before any timing unless every variant returns the control's
   row set, and says whether the order matches too;
2. times ``--blocks`` interleaved blocks of ``--reps`` runs per variant,
   alternating which goes first: prepared plans through bench.py's
   ``_prepare``/``_run_prepared``, eager variants rebuilt and materialized
   per run; the two (eager: one) warm-up runs after each switch are
   dropped, as in bench.py;
3. prints the counters of one untimed traced rep per variant and their
   delta against the control, from ``perfbench/tracing.py``: ``exec.*``,
   ``plan.*``, jobs/stages/tasks, every nonzero ``plan_metrics`` value,
   and the experiment's call spans;
4. with ``--plans DIR``, writes each executed plan as explain("formatted").

Usage: python tools/ab.py --list
       python tools/ab.py EXPERIMENT [--sf-dir DIR | --sf1] [--blocks 10]
                          [--reps 3] [--plans DIR] [--json OUT]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import bench
from perfbench.tracing import Tracer, exec_summary, phase_ms, plan_metrics

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup, sorts
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import all_queries
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads._scratch import run_dir
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads.pipeline2 import (
    e2e_stage_frames,
)
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter


@dataclass(frozen=True)
class Experiment:
    body: Callable  # (spark, sf_dir, **kw) -> DataFrame
    tails: dict  # name -> (body, spark, sf_dir) -> DataFrame; first = control
    eager: bool = False
    # span name -> (owner, attribute) of a callable timed in the traced rep
    spans: dict = field(default_factory=dict)
    about: str = ""


def default_sf_dir() -> str:
    """bench.py's input, or the relayout of it that bench.py times when that
    exists and SPARK_GRAFT_SF_DIR is unset."""
    relayout = "/tmp/bench_layout_sf0.1"
    if "SPARK_GRAFT_SF_DIR" not in os.environ and os.path.exists(f"{relayout}/_LAYOUT_DONE"):
        return relayout
    return bench.SF_DIR


def _gate(name: str) -> Callable:
    return lambda spark, sf_dir: all_queries()[name](spark, sf_dir)


def shipped(body, spark, sf_dir):
    return body(spark, sf_dir)


def orderby_tail(body, spark, sf_dir):
    """The retired presentation tail: ``sorts.order_by_bounded`` (coalesce(1)
    + local sort) is swapped for a range-partitioned ``orderBy`` while the
    body is built."""
    calls = []

    def order_by(df, cols):
        calls.append(cols)
        return df.orderBy(*cols)

    with _swapped(sorts, "order_by_bounded", order_by):
        df = body(spark, sf_dir)
    if not calls:
        raise RuntimeError("the body never called sorts.order_by_bounded")
    return df


def _e2e(spark, sf_dir, **kw):
    return e2e_stage_frames(spark, sf_dir, **kw)["s5"]


def auto_tail(body, spark, sf_dir):
    return body(spark, sf_dir, materialize_dir=run_dir("ab_e2e"), materialize="auto")


EXPERIMENTS = {
    name: Experiment(_gate(name), {"bounded": shipped, "orderby": orderby_tail},
                     about="order_by_bounded vs orderBy tail")
    for name in ("tpch_q1", "join_multiway", "sim_topk_bruteforce")
}
EXPERIMENTS["e2e_stage_frames"] = Experiment(
    _e2e,
    {"lazy": shipped, "auto": auto_tail},
    eager=True,
    spans={
        "span.lsh_pairs_ms": (dedup, "minhash_lsh_pairs"),
        "span.components_ms": (dedup, "duplicate_clusters"),
        "span.stage_writes_ms": (DataFrameWriter, "parquet"),
        "span.stage_rereads_ms": (DataFrameReader, "parquet"),
    },
    about="curation funnel: one lazy plan vs auto stage materialization",
)


@contextlib.contextmanager
def _swapped(owner, attr: str, value):
    old = getattr(owner, attr)
    setattr(owner, attr, value)
    try:
        yield
    finally:
        setattr(owner, attr, old)


@contextlib.contextmanager
def _spans(spans: dict, tr):
    with contextlib.ExitStack() as stack:
        for name, (owner, attr) in spans.items():
            def timed(*a, _fn=getattr(owner, attr), _name=name, **kw):
                with tr.span(_name):
                    return _fn(*a, **kw)

            stack.enter_context(_swapped(owner, attr, timed))
        yield


def build(exp: Experiment, tail: str, spark, sf_dir: str):
    if exp.eager:
        spark.catalog.clearCache()  # each eager run pays its whole lineage
    return exp.tails[tail](exp.body, spark, sf_dir)


def check_rows(exp: Experiment, spark, sf_dir: str) -> None:
    control = None
    for tail in exp.tails:
        rows = [tuple(r) for r in build(exp, tail, spark, sf_dir).collect()]
        if control is None:
            control = rows
        same_set = sorted(map(repr, rows)) == sorted(map(repr, control))
        print(f"{tail}: {len(rows)} rows, same row set={same_set}, "
              f"same order={rows == control}", flush=True)
        if not same_set:
            raise SystemExit(f"variant {tail} changes the result; nothing was timed")


def time_blocks(exp: Experiment, spark, sf_dir: str, blocks: int, reps: int) -> dict:
    names = list(exp.tails)
    preps = {} if exp.eager else {t: bench._prepare(build(exp, t, spark, sf_dir)) for t in names}

    def run(t):
        if exp.eager:
            bench._materialize(build(exp, t, spark, sf_dir))
        else:
            bench._run_prepared(preps[t])

    drop = 1 if exp.eager else 2
    per_block = {t: [] for t in names}
    for b in range(blocks):
        for t in names if b % 2 == 0 else names[::-1]:
            ts = []
            for i in range(drop + reps):
                t0 = time.perf_counter()
                run(t)
                if i >= drop:
                    ts.append((time.perf_counter() - t0) * 1000.0)
            per_block[t].append(statistics.median(ts))
        print(f"block {b + 1}/{blocks}: " + "  ".join(
            f"{t} {per_block[t][-1]:.1f} ms" for t in names), flush=True)
    return per_block


def trace(exp: Experiment, tail: str, spark, sf_dir: str, plans: str | None, exp_name: str) -> dict:
    """One untimed rep under perfbench's Tracer: job/stage/task counts, GC,
    Catalyst phases, the executed plan's SQL metrics and the spans."""
    tr = Tracer(spark)
    try:
        if exp.eager:
            tr.begin()
            with _spans(exp.spans, tr):
                df = build(exp, tail, spark, sf_dir)
                df._jdf.queryExecution().toRdd().count()
            ops = tr.end()
            metrics = plan_metrics(df)
        else:
            df = build(exp, tail, spark, sf_dir)
            prep = bench._prepare(df)
            bench._run_prepared(prep)  # first execution outside the counters
            before = plan_metrics(df)
            tr.begin()
            bench._run_prepared(prep)
            ops = tr.end()
            after = plan_metrics(df)
            if len(after) != len(before):
                raise RuntimeError("the executed plan changed between two runs")
            # Metrics the driver sets once at planning (filesSize, numFiles)
            # read 0 here: only what this run added is counted.
            metrics = [(c, n, m, v - v0) for (c, n, m, v), (*_, v0) in zip(after, before)]
    finally:
        tr.close()
    ops.update(exec_summary(metrics))
    ops.update(phase_ms(df))
    per_op = defaultdict(float)
    for cls, name, mtype, value in metrics:
        if mtype == "nsTiming":
            per_op[f"op.{cls}.{name}_ms"] += value / 1e6
        else:
            per_op[f"op.{cls}.{name}"] += value
    ops.update({k: v for k, v in per_op.items() if v})
    if plans:
        os.makedirs(plans, exist_ok=True)
        path = os.path.join(plans, f"{exp_name}_{tail}.txt")
        with open(path, "w") as f:
            f.write(f"== {exp_name} / {tail} ==\nsf_dir: {sf_dir}\n\n{plan_text(df)}\n")
        print(f"wrote {path}")
    return dict(ops)


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def run(exp_name: str, spark, sf_dir: str, blocks: int = 10, reps: int = 3,
        plans: str | None = None) -> dict:
    exp = EXPERIMENTS[exp_name]
    print(f"== {exp_name}: {exp.about} (sf_dir {sf_dir})", flush=True)
    check_rows(exp, spark, sf_dir)
    per_block = time_blocks(exp, spark, sf_dir, blocks, reps)
    control = next(iter(exp.tails))
    out = {"experiment": exp_name, "sf_dir": sf_dir, "blocks": blocks, "reps": reps, "variants": {}}
    print(f"\n{'variant':12s} {'median ms':>10s} {'q1':>9s} {'q3':>9s} {'/control':>9s} wins")
    for t, xs in per_block.items():
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
        ctl = statistics.median(per_block[control])
        wins = sum(x < c for x, c in zip(xs, per_block[control]))
        print(f"{t:12s} {med:10.1f} {q1:9.1f} {q3:9.1f} {med / ctl:9.3f} "
              f"{'-' if t == control else f'{wins}/{blocks}'}")
        out["variants"][t] = {"block_median_ms": xs, "median_ms": round(med, 1),
                              "q1_ms": round(q1, 1), "q3_ms": round(q3, 1)}
    traced = {t: trace(exp, t, spark, sf_dir, plans, exp_name) for t in exp.tails}
    keys = sorted(set().union(*traced.values()))
    print(f"\n{'counter (one traced rep)':58s} " + " ".join(f"{t:>12s}" for t in traced)
          + "   delta vs control")
    for k in keys:
        vals = [traced[t].get(k, 0.0) for t in traced]
        deltas = " ".join(f"{v - vals[0]:+.1f}" for v in vals[1:])
        print(f"{k[:58]:58s} " + " ".join(f"{v:12.1f}" for v in vals) + f"   {deltas}")
    for t in traced:
        out["variants"][t]["traced"] = traced[t]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("experiment", nargs="?")
    ap.add_argument("--list", action="store_true", help="list the experiments and exit")
    ap.add_argument("--sf-dir", default=None, help="input tables (default: default_sf_dir())")
    ap.add_argument("--sf1", action="store_true",
                    help="run on scale_rehearsal's 10x replica, building it first if needed")
    ap.add_argument("--blocks", type=int, default=10)
    ap.add_argument("--reps", type=int, default=3, help="kept runs per block and variant")
    ap.add_argument("--plans", default=None, help="write explain('formatted') dumps here")
    ap.add_argument("--json", default=None, help="write the results here")
    args = ap.parse_args(argv)
    if args.blocks < 1 or args.reps < 1:
        ap.error("--blocks and --reps must be at least 1")
    listing = "\n".join(f"  {n:22s} {', '.join(e.tails)}{' (eager)' if e.eager else ''}: {e.about}"
                        for n, e in EXPERIMENTS.items())
    if args.list:
        print(listing)
        return 0
    if args.experiment not in EXPERIMENTS:
        print(f"unknown experiment {args.experiment!r}; choose one of:\n{listing}", file=sys.stderr)
        return 2
    spark = get_spark("ab")
    try:
        sf_dir = args.sf_dir or default_sf_dir()
        if args.sf1:
            from scale_rehearsal import DST, build_sf1

            build_sf1(spark)
            sf_dir = DST
        out = run(args.experiment, spark, sf_dir, args.blocks, args.reps, args.plans)
    finally:
        spark.stop()
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
