from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def exec_basic_path(spark, tmp_path_factory) -> str:
    """The reference's 5-row operator-test fixture (FIXTURES.md F1,
    reference cae/tests/test_execution.cpp:22-40)."""
    path = str(tmp_path_factory.mktemp("fixtures") / "exec_basic.parquet")
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("value", T.IntegerType(), False),
            T.StructField("category", T.StringType(), False),
        ]
    )
    rows = [(1, 100, "A"), (2, 200, "B"), (3, 150, "A"), (4, 300, "C"), (5, 250, "B")]
    spark.createDataFrame(rows, st).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def assert_explosion_pinned(df, key: str, min_pins: int = 2) -> str:
    """Generalized plan-shape assertion for pin_exploding_join users: the
    executed plan must carry AQE-coalesce-exempt REPARTITION_BY_NUM
    exchanges hash-partitioned on ``key`` (one per pinned input, plus the
    source pin — callers pass the count their operator promises). Returns
    the plan string for further operator-specific asserts."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Count only exchanges that are BOTH hash-partitioned on the key AND
    # REPARTITION_BY_NUM (same plan line) — ordinary ENSURE_REQUIREMENTS
    # exchanges also print hashpartitioning(key...) but are exactly the
    # AQE-coalescible kind this assertion exists to rule out.
    # anchor to Spark's attribute#exprId format so a different column
    # merely PREFIXED by the key (k vs k2) cannot satisfy the count
    got = sum(
        1
        for ln in plan.splitlines()
        if "REPARTITION_BY_NUM" in ln and f"hashpartitioning({key}#" in ln
    )
    assert got >= min_pins, (
        f"expected >= {min_pins} REPARTITION_BY_NUM "
        f"hashpartitioning({key}...) exchanges, found {got}\n{plan[:2000]}"
    )
    return plan


def propagation_reference(pairs, id_a="id_a", id_b="id_b", max_iterations=50):
    """Iterative min-label propagation, ``duplicate_clusters``' engine
    before large-star/small-star replaced it, kept verbatim as the
    reference for its (node, label) rows, null ids included."""
    from pyspark.sql import functions as F

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_labels = edges.join(
            labels, edges.dst == labels.node
        ).select(F.col("src").alias("node"), "label")
        new_labels = (
            labels.union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def bfs_components(edges):
    """Pure-Python reference: (node, min id of its component) rows over
    every endpoint of ``edges``, by breadth-first search, in
    :func:`sorted_rows` order."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [n for x in frontier for n in adj[x] if n not in seen]
            seen.update(frontier)
        label.update({n: start for n in seen})
    return sorted(label.items(), key=repr)


def sorted_rows(df):
    # repr orders rows holding a null node too
    return sorted((tuple(r) for r in df.collect()), key=repr)


def clusters_on_both_paths(monkeypatch, pairs):
    """``duplicate_clusters(pairs)``'s sorted rows on the union-find path
    and on the large-star/small-star path (union-find cap patched to 0),
    in that order."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        dedup,
    )

    with monkeypatch.context() as m:
        rows = [sorted_rows(dedup.duplicate_clusters(pairs))]
        m.setattr(dedup, "_union_find_cap", lambda spark: 0)
        rows.append(sorted_rows(dedup.duplicate_clusters(pairs)))
    return rows
