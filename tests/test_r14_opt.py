"""Round-14 OPTIMIZATION-round pins: every rewrite here must be
value-identical to the formulation it replaced — these tests hold the old
formulation next to the new one so a regression in either direction is a
red test, not a silent result change."""

from __future__ import annotations

from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
    dedup,
)


def _propagation_reference(pairs, id_a="id_a", id_b="id_b", max_iterations=50):
    """The pre-r14 duplicate_clusters: iterative min-label propagation —
    kept verbatim as the identity reference for the star-contraction
    rewrite (VERDICT r13 item 6)."""
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


def _bfs_components(edges):
    """Pure-Python reference: (node, min id of its component) rows over
    every endpoint of ``edges``, by breadth-first search, in ``_rows``
    order."""
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


def _rows(df):
    # repr orders rows holding a null node too
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _fixpoint_rows(fn, pairs, monkeypatch):
    """``fn``'s rows with the union-find cap at 0, so its fixpoint runs."""
    with monkeypatch.context() as m:
        m.setattr(dedup, "_union_find_cap", lambda spark: 0)
        return _rows(fn(pairs))


def _paths(caplog):
    """``"<entry>: <path>"`` of every components log line captured."""
    msgs = [r.getMessage() for r in caplog.records]
    return [m.split(" path")[0] for m in msgs if " path" in m]


def test_duplicate_clusters_star_contraction_identity(spark, monkeypatch, caplog):
    """Both entry points must reproduce their fixpoints' (node, label) rows
    EXACTLY through the union-find path on adversarial graph shapes —
    chains, cliques, self-pairs, hubs, multi-component — and on random
    200-edge graphs; ``duplicate_clusters`` also equals the propagation
    reference (self-pair-only nodes listed), ``duplicate_clusters_star``
    the BFS components of the self-loop-free edges."""
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
        new = _rows(dedup.duplicate_clusters(pairs))
        star = _rows(dedup.duplicate_clusters_star(pairs))
        assert _paths(caplog) == [
            "duplicate_clusters: union-find",
            "duplicate_clusters_star: union-find",
        ], name
        ref = _rows(_propagation_reference(pairs))
        assert new == ref, f"graph {name}: {new} != {ref}"
        assert new == _fixpoint_rows(dedup.duplicate_clusters, pairs, monkeypatch)
        loop_free = [(a, b) for a, b in edges if a != b]
        assert star == _bfs_components(loop_free), name
        assert star == _fixpoint_rows(dedup.duplicate_clusters_star, pairs, monkeypatch)


def test_duplicate_clusters_null_endpoint_takes_fixpoint(spark, monkeypatch, caplog):
    """A null endpoint sends ``duplicate_clusters`` to its fixpoint, which
    lists the null node; the star entry drops null pairs with its
    ``u != v`` filter, so it stays on union-find. Both keep their rows."""
    edges = [(1, None), (2, 3), (3, 1), (None, 5), (5, 6)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    caplog.set_level("INFO", logger=dedup.__name__)
    new = _rows(dedup.duplicate_clusters(pairs))
    star = _rows(dedup.duplicate_clusters_star(pairs))
    assert _paths(caplog) == [
        "duplicate_clusters: fixpoint",
        "duplicate_clusters_star: union-find",
    ]
    assert new == _rows(_propagation_reference(pairs))
    assert (None, 1) in new
    assert star == _fixpoint_rows(dedup.duplicate_clusters_star, pairs, monkeypatch)
    assert star == _bfs_components([(2, 3), (3, 1), (5, 6)])


def test_duplicate_clusters_chain_past_iteration_budget(spark):
    """A 60-node chain is longer than the fixpoints' 50-round budget;
    union-find returns its true component, as the BFS reference does."""
    edges = [(i, i + 1) for i in range(59)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _bfs_components(edges)
    assert set(want) == {(i, 0) for i in range(60)}
    assert _rows(dedup.duplicate_clusters(pairs)) == want
    assert _rows(dedup.duplicate_clusters_star(pairs)) == want


def test_duplicate_clusters_cap_straddle(spark, monkeypatch, caplog):
    """The same input on either side of the cap: one edge under it runs
    the fixpoint, at it union-find, and both give the same rows."""
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [
        (i, i + 1) for i in range(10, 16)
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    caplog.set_level("INFO", logger=dedup.__name__)
    for fn in (dedup.duplicate_clusters, dedup.duplicate_clusters_star):
        got = {}
        for cap in (len(edges) - 1, len(edges)):
            monkeypatch.setattr(dedup, "_union_find_cap", lambda spark, c=cap: c)
            caplog.clear()
            got[cap] = _rows(fn(pairs))
            path = "fixpoint" if cap < len(edges) else "union-find"
            assert _paths(caplog) == [f"{fn.__name__}: {path}"]
        assert got[len(edges) - 1] == got[len(edges)]
        assert got[len(edges)] == _bfs_components(edges)
