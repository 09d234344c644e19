"""tools/ab.py, the A/B harness: its command-line guards, its row-identity
gate, and the unbiased orderBy control of the tail experiments."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "ab.py")


@pytest.fixture(scope="module")
def ab():
    spec = importlib.util.spec_from_file_location("ab", TOOL)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["ab"] = mod  # dataclasses resolve annotations through it
    spec.loader.exec_module(mod)
    return mod


def _cli(*args):
    return subprocess.run([sys.executable, TOOL, *args], capture_output=True, text=True, timeout=120)


def test_list_names_every_experiment():
    out = _cli("--list")
    assert out.returncode == 0, out.stderr
    for name in ("tpch_q1", "join_multiway", "sim_topk_bruteforce", "e2e_stage_frames"):
        assert name in out.stdout


def test_unknown_experiment_exits_nonzero_with_the_list():
    out = _cli("tpch_q1_tail")
    assert out.returncode != 0
    assert "unknown experiment" in out.stderr and "join_multiway" in out.stderr


def test_variant_that_changes_rows_aborts_before_timing(ab, spark, sf_dir, monkeypatch):
    def drop_rows(body, spark, sf_dir):
        return body(spark, sf_dir).limit(1)

    exp = ab.Experiment(ab.EXPERIMENTS["tpch_q1"].body, {"bounded": ab.shipped, "bad": drop_rows})
    monkeypatch.setitem(ab.EXPERIMENTS, "bad", exp)

    def timed(*a, **kw):
        raise AssertionError("a variant that changes rows was timed")

    monkeypatch.setattr(ab, "time_blocks", timed)
    with pytest.raises(SystemExit, match="bad changes the result"):
        ab.run("bad", spark, sf_dir)


def test_orderby_tail_is_a_range_exchange_not_a_wrapped_coalesce(ab, spark, sf_dir):
    # The retired tail must replace coalesce(1) + local sort, not sit on
    # top of it: a range exchange and no single-partition Coalesce.
    exp = ab.EXPERIMENTS["tpch_q1"]
    plans = {}
    for tail in ("bounded", "orderby"):
        df = ab.build(exp, tail, spark, sf_dir)
        df.collect()
        plans[tail] = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plans["orderby"]
    assert "Coalesce 1" not in plans["orderby"]
    assert "Coalesce 1" in plans["bounded"] and "rangepartitioning" not in plans["bounded"]


def test_run_reports_timings_and_operator_counters(ab, spark, sf_dir):
    out = ab.run("tpch_q1", spark, sf_dir, blocks=2, reps=1)
    for tail in ("bounded", "orderby"):
        v = out["variants"][tail]
        assert len(v["block_median_ms"]) == 2 and v["median_ms"] > 0
        assert v["traced"]["exec.jobs"] >= 1 and v["traced"]["exec.scan_rows"] > 0
