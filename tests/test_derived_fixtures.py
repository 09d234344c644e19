"""Derived on-disk fixtures (workloads/_scratch.py): keyed on the input
files, published by one rename. The helper tests need no SparkSession."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads._scratch import (
    derived,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def scratch_root(tmp_path, monkeypatch):
    """Point the helper's temp root at a private directory."""
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


@pytest.fixture
def table(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    return path


def _counting_build(calls):
    def build(d):
        calls.append(d)
        with open(os.path.join(d, "out"), "w") as f:
            f.write("ok")

    return build


def test_same_inputs_build_once(scratch_root, table):
    calls = []
    first = derived("fx", [table], _counting_build(calls))
    again = derived("fx", [table], _counting_build(calls))
    assert first == again and len(calls) == 1
    assert os.listdir(scratch_root) == [os.path.basename(first)]
    assert open(os.path.join(first, "out")).read() == "ok"


def test_touched_input_rebuilds_under_new_key(scratch_root, table):
    calls = []
    first = derived("fx", [table], _counting_build(calls))
    st = os.stat(table)
    os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = derived("fx", [table], _counting_build(calls))
    assert second != first and len(calls) == 2
    assert os.path.isfile(os.path.join(second, "out"))


def test_failed_build_publishes_nothing(scratch_root, table):
    def build(d):
        with open(os.path.join(d, "half"), "w") as f:
            f.write("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        derived("fx", [table], build)
    assert os.listdir(scratch_root) == []
    calls = []
    out = derived("fx", [table], _counting_build(calls))
    assert len(calls) == 1 and os.listdir(out) == ["out"]


_RACER = """
import os, sys, time
sys.path.insert(0, {root!r})
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads._scratch import derived

def build(d):
    with open({log!r}, "a") as f:
        f.write(f"{{os.getpid()}}\\n")
    for i in range(3):
        time.sleep(0.2)
        with open(os.path.join(d, f"part{{i}}"), "w") as f:
            f.write(str(os.getpid()))

open(os.path.join({sync!r}, str(os.getpid())), "w").close()
while len(os.listdir({sync!r})) < 2:
    time.sleep(0.01)
print(derived("race", [{table!r}], build))
"""


def test_racing_processes_share_one_complete_fixture(tmp_path, table):
    root, sync = tmp_path / "root", tmp_path / "sync"
    root.mkdir()
    sync.mkdir()
    log = str(tmp_path / "builds.log")
    code = _RACER.format(root=ROOT, log=log, sync=str(sync), table=table)
    env = dict(os.environ, TMPDIR=str(root))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code], env=env, stdout=subprocess.PIPE, text=True
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    # Both built (the race happened), both got the same directory, and it
    # holds one build's complete output; the loser's build is gone.
    assert len(open(log).read().split()) == 2
    assert outs[0] == outs[1]
    final = outs[0]
    assert [n for n in os.listdir(root) if "race" in n] == [os.path.basename(final)]
    parts = sorted(os.listdir(final))
    assert parts == ["part0", "part1", "part2"]
    assert len({open(os.path.join(final, p)).read() for p in parts}) == 1


def test_gate_fixture_rebuilds_after_input_rewrite(spark, sf_dir, tmp_path, scratch_root):
    # Rewriting a table at the same path must rebuild the derived layout:
    # a path-keyed cache would serve the old supplier rows, while the
    # oracle reads the new ones.
    import shutil

    import duckdb

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational5
    from tools.check_oracle import compare

    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    for name in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, name), os.path.join(sf, name))

    def check():
        con = duckdb.connect()
        for t in catalog.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{catalog.table_path(sf, t)}')"
            )
        ok, msg = compare("source_col_native", relational5.q_source_col_native(spark, sf), con)
        assert ok, msg

    check()
    path = catalog.table_path(sf, "supplier")
    supplier = pq.read_table(path)
    pq.write_table(supplier.slice(0, supplier.num_rows // 2), path)
    check()
    assert len([n for n in os.listdir(scratch_root) if n.startswith("col_native_")]) == 2


def test_load_table_rereads_table_rewritten_in_place(spark, sf_dir, tmp_path):
    # A cached table handle keeps its file listing: a 10-row table
    # rewritten as 20,000 rows (row groups of 1,000) at the same path read
    # back 3,000 rows through a handle cached on (session, sf_dir, name).
    import shutil

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog

    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    path = catalog.table_path(sf, "supplier")
    shutil.copyfile(catalog.table_path(sf_dir, "supplier"), path)
    small = pq.read_table(path)
    assert catalog.load_table(spark, sf, "supplier").count() == small.num_rows
    big = pa.concat_tables([small] * (20_000 // small.num_rows))
    pq.write_table(big, path, row_group_size=1_000)
    assert catalog.load_table(spark, sf, "supplier").count() == big.num_rows
