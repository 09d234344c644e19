"""Round-14 OPTIMIZATION-round pins: every rewrite here must be
value-identical to the formulation it replaced — these tests hold the old
formulation next to the new one so a regression in either direction is a
red test, not a silent result change."""

from __future__ import annotations

import pytest
from conftest import (
    bfs_components,
    clusters_on_both_paths,
    propagation_reference,
    sorted_rows,
)
from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
    dedup,
)


_GRAPHS = {
    # long chain: propagation needs diameter rounds, star O(log^2 n)
    "chain": [(i, i + 1) for i in range(1, 12)],
    # two cliques + an isolated pair + reversed/duplicate edges
    "cliques": [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    + [(20, 21), (21, 20), (20, 21)]
    + [(10 + a, 10 + b) for a in range(1, 4) for b in range(a + 1, 4)],
    # self-pairs only + a normal pair: the self-pair-only node must keep
    # its (node, node) row under the old contract
    "self_pairs": [(7, 7), (1, 2), (2, 2)],
    # star already: hub-and-spoke
    "hub": [(1, k) for k in range(2, 9)],
    # multi-component with shared magnitudes and out-of-order ids
    "mixed": [(5, 3), (3, 9), (100, 42), (42, 77), (8, 8), (6, 5)],
}


def test_agg_approx_sketches_split_distinct_identity(spark, sf_dir):
    """The r14 split form (sketch aggregate keyed by flag alone + an
    expand-free distinct count broadcast-joined back) must emit the same
    rows as the pre-r14 single-aggregate form: exact columns bit-identical
    (order-independent merges), booleans identical (approx values move
    within a fraction of their bound)."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads.relational2 import (
        q_approx_sketches,
    )

    li = load_table(spark, sf_dir, "lineitem")
    tol = lambda exact: F.greatest(F.abs(exact) * 0.05, F.lit(1.0))  # noqa: E731
    old = (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", 0.02).alias("_hll"),
            F.expr("percentile(l_quantity, 0.5)").alias("exact_p50"),
            F.percentile_approx("l_quantity", 0.5, 1000).alias("_p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("exact_p90_price"),
            F.percentile_approx("l_extendedprice", 0.9, 1000).alias("_p90"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_hll") - F.col("exact_parts"))
                <= F.col("exact_parts") * 0.10
            ).alias("hll_within_bound"),
            "exact_p50",
            (
                F.abs(F.col("_p50") - F.col("exact_p50")) <= tol(F.col("exact_p50"))
            ).alias("p50_within_bound"),
            "exact_p90_price",
            (
                F.abs(F.col("_p90") - F.col("exact_p90_price"))
                <= tol(F.col("exact_p90_price"))
            ).alias("p90_within_bound"),
        )
        .orderBy("l_returnflag")
    )
    new = q_approx_sketches(spark, sf_dir)
    assert [tuple(r) for r in new.collect()] == [tuple(r) for r in old.collect()]


def _paths(caplog):
    """``"<entry>: <path>"`` of every components log line captured."""
    msgs = [r.getMessage() for r in caplog.records]
    return [m.split(" path")[0] for m in msgs if " path" in m]


_BOTH = ["duplicate_clusters: union-find", "duplicate_clusters: star"]


def test_duplicate_clusters_star_contraction_identity(spark, monkeypatch, caplog):
    """Both paths of ``duplicate_clusters`` (union-find within the cap,
    large-star/small-star above it) must reproduce the propagation
    reference's (node, label) rows EXACTLY on adversarial graph shapes —
    chains, cliques, self-pairs, hubs, multi-component — and on random
    200-edge graphs: self-pair-only nodes stay listed, labelled with
    themselves, on both."""
    import random

    graphs = dict(_GRAPHS)
    for seed in (1, 2):
        rng = random.Random(seed)
        graphs[f"random{seed}"] = [
            (rng.randrange(120), rng.randrange(120)) for _ in range(200)
        ]
    caplog.set_level("INFO", logger=dedup.__name__)
    for name, edges in graphs.items():
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        caplog.clear()
        uf, star = clusters_on_both_paths(monkeypatch, pairs)
        assert _paths(caplog) == _BOTH, name
        ref = sorted_rows(propagation_reference(pairs))
        assert uf == ref, f"graph {name}: {uf} != {ref}"
        assert star == ref, f"graph {name}: {star} != {ref}"
        assert ref == bfs_components(edges), name


def test_duplicate_clusters_null_endpoint_rows(spark, monkeypatch, caplog):
    """A null id joins no two components and is listed once, with the
    least label among its non-null neighbours (null when it has none), as
    propagation lists it; the partner of a null id alone is its own
    component. Both paths, and no null moves a graph off union-find."""
    graphs = {
        ((1, None), (2, 3), (3, 1), (None, 5), (5, 6)): {
            (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (None, 1)
        },
        ((None, None), (4, 4), (9, None), (None, 8)): {
            (4, 4), (8, 8), (9, 9), (None, 8)
        },
        ((None, None),): {(None, None)},
    }
    caplog.set_level("INFO", logger=dedup.__name__)
    for edges, want in graphs.items():
        pairs = spark.createDataFrame(list(edges), "id_a long, id_b long")
        caplog.clear()
        uf, star = clusters_on_both_paths(monkeypatch, pairs)
        assert _paths(caplog) == _BOTH, edges
        ref = sorted_rows(propagation_reference(pairs))
        assert set(ref) == want, edges
        assert uf == ref, f"{edges}: {uf} != {ref}"
        assert star == ref, f"{edges}: {star} != {ref}"


def test_duplicate_clusters_chain_past_iteration_budget(spark, monkeypatch):
    """A 60-node chain is longer than the 50 rounds min-label propagation
    ran; both paths return its true component, as the BFS reference
    does."""
    edges = [(i, i + 1) for i in range(59)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = bfs_components(edges)
    assert set(want) == {(i, 0) for i in range(60)}
    assert clusters_on_both_paths(monkeypatch, pairs) == [want, want]


def test_star_fixpoint_raises_when_rounds_run_out(spark, monkeypatch):
    """Above the cap, a round budget too small for the graph raises
    instead of returning unconverged star edges as labels."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    monkeypatch.setattr(dedup, "_union_find_cap", lambda spark: 0)
    monkeypatch.setattr(dedup, "_STAR_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        dedup.duplicate_clusters(pairs)


def test_duplicate_clusters_cap_straddle(spark, monkeypatch, caplog):
    """The same input on either side of the cap: one edge under it runs
    large-star/small-star, at it union-find, and both give the same
    rows."""
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [
        (i, i + 1) for i in range(10, 16)
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    caplog.set_level("INFO", logger=dedup.__name__)
    got = {}
    for cap in (len(edges) - 1, len(edges)):
        monkeypatch.setattr(dedup, "_union_find_cap", lambda spark, c=cap: c)
        caplog.clear()
        got[cap] = sorted_rows(dedup.duplicate_clusters(pairs))
        path = "star" if cap < len(edges) else "union-find"
        assert _paths(caplog) == [f"duplicate_clusters: {path}"]
    assert got[len(edges) - 1] == got[len(edges)]
    assert got[len(edges)] == bfs_components(edges)
