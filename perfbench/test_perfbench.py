"""Tests of the benchmark itself: seeded inputs, DuckDB checks, exit codes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run as runner  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _write_inputs(seed: int, out: str) -> None:
    """Every input set of one seed: the star schema, two document shards,
    two event batches and one .col table."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import colfile

    gen.write_tables(gen.olap_tables(seed), os.path.join(out, "olap"))
    for op in range(2):
        gen.write_tables({"documents": gen.documents_shard(seed, op)}, os.path.join(out, f"shard{op}"))
        gen.write_tables({f"part{op}": gen.event_batch(seed, 0, op)}, os.path.join(out, "events.parquet"))
    for k, rows in enumerate(gen.col_rows(seed, 0)):
        colfile.write_col_rows(rows, workloads.col_schema(), os.path.join(out, f"part{k}.col"),
                               gen.COL_ROWS_PER_GROUP)


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write_inputs(7, a)
    _write_inputs(7, b)
    names = _files(a)
    assert names == _files(b) and len(names) == 13
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_other_seed_changes_values_not_sizes():
    for x, y in ((gen.olap_tables(1), gen.olap_tables(2)),
                 ({"d": gen.documents_shard(1, 0)}, {"d": gen.documents_shard(2, 0)}),
                 ({"e": gen.event_batch(1, 0, 1)}, {"e": gen.event_batch(2, 0, 1)})):
        assert {k: t.num_rows for k, t in x.items()} == {k: t.num_rows for k, t in y.items()}
        assert any(not x[k].equals(y[k]) for k in x)
    a, b = gen.col_rows(1, 0), gen.col_rows(2, 0)
    assert [len(f) for f in a] == [len(f) for f in b] and a != b


@pytest.fixture(scope="module")
def spark():
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    session = get_spark("perfbench_test")
    yield session
    session.stop()


def test_generated_tables_pass_the_pinned_schemas(spark, tmp_path):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog

    data = str(tmp_path)
    tables = gen.olap_tables(3)
    tables["documents"] = gen.documents_shard(3, 0)
    tables["events"] = gen.event_batch(3, 0, 0)
    gen.write_tables(tables, data)
    catalog.verify_table_schemas(spark, data, list(tables))


def test_perturbed_expectation_counts_as_failed_op(spark, tmp_path):
    ctx = runner.Ctx(5, str(tmp_path))
    ctx.spark, ctx.trace = spark, tracing.NullTracer()
    with duckdb.connect() as ctx.con:
        w = workloads.OlapQueries(ctx)
        w.generate()
        w.setup()
        args = argparse.Namespace(workload=w.name, seed=5, seconds=1, trace=0)
        run = runner.Run(args, {}, ctx, w)
        run.one_op(0, traced=False)
        assert (run.attempted, run.failed) == (1, 0)
        # Drop one order from DuckDB's view: every expectation over
        # lineitem moves while Spark still reads the full table.
        ctx.con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
                        f"read_parquet('{w.data}/lineitem.parquet') WHERE l_orderkey <> 1")
        run.one_op(1, traced=False)
        assert (run.attempted, run.failed) == (2, 1)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    spec = json.loads((tmp_path / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [*spec["command"], "--workload", spec["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
