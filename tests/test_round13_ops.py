"""Round-13 tests: the ANN re-rank rung's dominance/equality contracts
(VERDICT r12 item 4), the census-advised default for the e2e curation
composition (VERDICT r12 item 2), and the verification order that
``workloads.all_queries()`` derives from the driver's signatures."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import re
import shutil

from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
    similarity,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------- re-rank rung


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_rerank_hits_dominate_adc_per_query(spark, sf_dir):
    """Within one candidate pool, exact re-scoring can only help: the
    re-rank's top-k is the TRULY best k of the shortlist, and any true
    top-k member present in the pool ranks above every non-member under
    the exact metric — so per-query rerank hits >= adc hits is a
    theorem, not a tuning outcome. This pins it against regressions in
    the shortlist plumbing (a wrong join key or a lost candidate would
    break dominance before it moved a mean recall number)."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    cells = similarity.train_ivf_directory(
        emb, "vec_id", "embedding", n_cells=16, iterations=2, dim=64
    ).localCheckpoint(eager=True)
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=10
    )
    adc = similarity.ivfpq_topk_trained(
        emb, queries, "vec_id", "embedding",
        k=10, dim=64, m=32, n_codes=64, n_cells=16, nprobe=4, cells=cells,
    )
    rerank = similarity.ivfpq_rerank_topk(
        emb, queries, "vec_id", "embedding",
        k=10, shortlist=50, dim=64, m=32, n_codes=64,
        n_cells=16, nprobe=4, cells=cells,
    )
    a = {
        r["query_id"]: r["hits"]
        for r in similarity.recall_report(adc, exact).collect()
    }
    b = {
        r["query_id"]: r["hits"]
        for r in similarity.recall_report(rerank, exact).collect()
    }
    assert set(a) == set(b) and a
    for q in a:
        assert b[q] >= a[q], (q, a[q], b[q])


def test_rerank_equals_exact_when_probe_covers_corpus(spark, sf_dir):
    """With nprobe = n_cells (every cell probed) and a shortlist wider
    than the corpus, the candidate pool IS the corpus minus self — so
    the re-rank must reproduce the exact baseline row-for-row
    (same ranking contract: rounded cosine desc, id tie-break). This is
    the end-to-end correctness anchor for the shortlist -> raw-vector
    join: any dropped or duplicated candidate breaks equality."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 60)
    queries = emb.where(F.col("vec_id") < 3)
    cells = similarity.train_ivf_directory(
        emb, "vec_id", "embedding", n_cells=4, iterations=1, dim=64
    ).localCheckpoint(eager=True)
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=5
    )
    rerank = similarity.ivfpq_rerank_topk(
        emb, queries, "vec_id", "embedding",
        k=5, shortlist=100, dim=64, m=32, n_codes=64,
        n_cells=4, nprobe=4, cells=cells,
    )
    e = sorted(
        (r["query_id"], r["rnk"], r["corpus_id"], r["cosine_r"])
        for r in exact.collect()
    )
    g = sorted(
        (r["query_id"], r["rnk"], r["corpus_id"], r["cosine_r"])
        for r in rerank.collect()
    )
    assert e == g


def test_rerank_adds_no_shuffle_join_over_probe(spark, sf_dir):
    """The re-score step must be a broadcast hash join with the
    (queries x shortlist) candidate list as build side — NOT a
    sort-merge join shuffling the corpus by id (the candidate frame
    derives from a window over a join, so Catalyst's static size
    estimate blocks auto-broadcast; the operator pins the hint).
    Pinned as plan shape: the rerank plan may not contain more
    SortMergeJoin nodes than the bare probe plan it extends, and must
    add at least one BroadcastHashJoin (the re-score join itself)."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 3)
    cells = similarity.train_ivf_directory(
        emb, "vec_id", "embedding", n_cells=16, iterations=2, dim=64
    ).localCheckpoint(eager=True)
    common = dict(
        dim=64, m=32, n_codes=64, n_cells=16, nprobe=4, cells=cells
    )
    probe = similarity.ivfpq_topk_trained(
        emb, queries, "vec_id", "embedding", k=100, **common
    )
    rerank = similarity.ivfpq_rerank_topk(
        emb, queries, "vec_id", "embedding",
        k=10, shortlist=100, **common,
    )
    p = probe._jdf.queryExecution().executedPlan().toString()
    r = rerank._jdf.queryExecution().executedPlan().toString()
    assert r.count("SortMergeJoin") <= p.count("SortMergeJoin"), (
        "re-score join regressed to a corpus shuffle"
    )
    assert r.count("BroadcastHashJoin") > p.count("BroadcastHashJoin")


def test_probe_cte_helpers_take_k():
    """The SQL probe helpers' per-query cut is parameterized (the rerank
    oracle takes the full 100-deep shortlist); default stays 10."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads.analytics import (
        _ivfkm_probe_ctes,
        _ivfpq_probe_ctes,
    )

    assert "rnk <= 10" in _ivfkm_probe_ctes(32, "ip", "t", 4)
    assert "rnk <= 100" in _ivfkm_probe_ctes(32, "ip", "t", 4, k=100)
    assert "rnk <= 10" in _ivfpq_probe_ctes(32, "ip", "t", 1)
    assert "rnk <= 100" in _ivfpq_probe_ctes(32, "ip", "t", 1, k=100)


def test_auto_bucket_dims_tracks_corpus():
    """The occupancy-tracking plane rule (executable form of the
    sim_knn_graph disposition): planes = ceil(log2(n/target)), so the
    sf0.1 corpus keeps the 8-plane default layout, the 10x corpus gets
    the measured-faster 11 planes, growth is monotone and logarithmic,
    and the count clamps to the vector dimension."""
    f = similarity.auto_bucket_dims
    assert f(2000) == tuple(range(8))  # sf0.1: matches the gate default
    assert f(20000) == tuple(range(11))  # the measured 4.6x-faster point
    assert f(500) == tuple(range(6))
    assert f(0) == (0,)
    assert f(5) == (0,)  # n <= target -> 1 plane, never 0
    assert f(10**9) is not None and len(f(10**9)) == 27
    assert len(f(10**30, vec_dim=64)) == 64  # clamped
    prev = 0
    for n in (10, 100, 1000, 10**4, 10**5, 10**6):
        cur = len(f(n))
        assert cur >= prev
        prev = cur


# ------------------------------------- advised default (VERDICT r12 #2)


def test_e2e_default_cap_is_advised(spark, sf_dir):
    """The default composition self-sizes: e2e_stage_frames() with no
    cap argument must produce exactly the near-dup survivor set of the
    explicit census-advised run — the pinned-cap r10 cliff cannot be
    what a caller gets by accident anymore."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads.pipeline2 import (
        e2e_stage_frames,
    )

    default = e2e_stage_frames(spark, sf_dir, upto="s2")["s2"]
    advised = e2e_stage_frames(
        spark, sf_dir, upto="s2", max_bucket_size="advised"
    )["s2"]
    d = {r["doc_id"] for r in default.select("doc_id").collect()}
    a = {r["doc_id"] for r in advised.select("doc_id").collect()}
    assert d == a and d


# --------------------------------------------- derived verify order


def _load_module(path):
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_verify_order_front_then_oldest():
    """all_queries() is a permutation of the registry; the gates that are
    due (never signed, or rewritten after their newest signature) come
    first in registry order; the rest is sorted by (newest driver
    signature round, name) — the burn-down rule the freshness backstop
    enforces."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import (
        workloads,
    )

    registry = [n for m in workloads._MODULES for n in m.QUERIES]
    order = list(workloads.all_queries())
    assert sorted(order) == sorted(registry)
    sigs = workloads.load_signatures()
    changed = workloads.BEHAVIOR_CHANGED_SINCE
    due = [
        n
        for n in registry
        if n not in sigs or (n in changed and sigs[n][0] < changed[n][0])
    ]
    assert order[: len(due)] == due
    keys = [(sigs[n][0], n) for n in order[len(due) :]]
    assert keys == sorted(keys)


def test_verify_order_follows_next_round_signatures(tmp_path, monkeypatch):
    """The order is recomputed from whatever signatures the checkout holds:
    once the next driver round signs today's first 50 gates, the signature
    tail still fits the sample with nothing regenerated by hand, and a
    newly registered (never signed) gate lands inside the next sample."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import (
        workloads,
    )

    fr = _load_module(os.path.join(REPO, "tools", "freshness_report.py"))
    freshness = _load_module(os.path.join(REPO, "tests", "test_freshness.py"))
    sample = list(workloads.all_queries())[: fr.DRIVER_SAMPLE]
    rounds = [0]
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
        rounds.append(int(re.search(r"_r(\d+)\.json$", path).group(1)))
    signed = {
        n: {"rows_match": True, "schema_match": True, "hash_match": True}
        for n in sample
    }
    next_file = tmp_path / f"CORRECTNESS_r{max(rounds) + 1:02d}.json"
    next_file.write_text(json.dumps(signed))
    monkeypatch.setattr(workloads, "_CHECKOUT", str(tmp_path))

    freshness.test_signature_tail_cannot_regrow(fr.build_report())

    monkeypatch.setitem(
        workloads.streaming_ops.QUERIES, "zz_unsigned_gate", lambda spark, sf: None
    )
    order = list(workloads.all_queries())
    assert order.index("zz_unsigned_gate") < fr.DRIVER_SAMPLE
