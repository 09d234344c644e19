"""Round-6 continuation tests: multi-source BFS distances, the n-scaled
integer ACF/changepoint math (independently re-derived in numpy floats),
Kaplan-Meier risk-set invariants, and the header-vs-detail
reconciliation audit."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import graph
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational7


# ------------------------------------------------------- bfs_distances


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def _sources(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], ["node"])


def test_bfs_path_graph_min_hops(spark):
    # path 1-2-3-4-5 plus isolated 9; undirected expansion both ways
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    out = graph.bfs_distances(e, _sources(spark, [1, 9]), max_hops=2)
    got = {r["node"]: r["dist"] for r in out.collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 2}


def test_bfs_two_sources_take_min_distance(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    out = graph.bfs_distances(e, _sources(spark, [1, 5]), max_hops=3)
    got = {r["node"]: r["dist"] for r in out.collect()}
    # node 3 is 2 hops from EITHER end, never 3
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_zero_hops_and_validation(spark):
    e = _edges(spark, [(1, 2)])
    out = graph.bfs_distances(e, _sources(spark, [1]), max_hops=0)
    assert [(r["node"], r["dist"]) for r in out.collect()] == [(1, 0)]
    with pytest.raises(ValueError):
        graph.bfs_distances(e, _sources(spark, [1]), max_hops=-1)


# ------------------------------------- ACF / changepoint vs numpy floats


def test_events_acf_matches_numpy(spark, sf_dir):
    got = relational7.q_events_acf(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    hidx = (ev["ts"].values.astype("datetime64[h]").astype("int64"))
    df = pd.DataFrame({"t": ev["event_type"], "h": hidx})
    h0, h1 = df["h"].min(), df["h"].max()
    for etype, g in df.groupby("t"):
        counts = np.zeros(h1 - h0 + 1)
        for h, c in g.groupby("h").size().items():
            counts[h - h0] = c
        dev = counts - counts.mean()
        den = float((dev * dev).sum())
        sub = got[got["event_type"] == etype]
        for lag in range(1, 13):
            want = float((dev[lag:] * dev[:-lag]).sum()) / den
            have = float(sub[sub["lag"] == lag]["acf_r"].iloc[0])
            assert abs(have - want) < 1e-6, (etype, lag)


def test_orders_changepoint_matches_numpy(spark, sf_dir):
    got = relational7.q_orders_changepoint(spark, sf_dir).toPandas()
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    d = orders["o_orderdate"].values.astype("datetime64[D]")
    d0, d1 = d.min(), d.max()
    n = int((d1 - d0).astype(int)) + 1
    for prio, g in orders.groupby("o_orderpriority"):
        counts = np.zeros(n)
        idx = (g["o_orderdate"].values.astype("datetime64[D]") - d0).astype(int)
        for i in idx:
            counts[i] += 1
        cum = counts.cumsum()
        s = cum[-1]
        t = np.arange(0, n - 1)
        shift = np.abs(cum[:-1] / (t + 1) - (s - cum[:-1]) / (n - t - 1))
        shift_r = np.round(shift, 6)
        best = int(np.argmax(shift_r))  # argmax takes FIRST max = earliest
        row = got[got["o_orderpriority"] == prio].iloc[0]
        assert row["split_date"] == str(d0 + best), prio
        assert abs(row["shift_r"] - shift_r[best]) < 1e-9, prio
        # CUSUM range: cum_t - (t+1)*mean over all days
        cusum = cum - (np.arange(1, n + 1)) * (s / n)
        want_rng = float(cusum.max() - cusum.min())
        assert abs(row["cusum_range_r"] - want_rng) < 1e-5, prio


# --------------------------------------------- survival / reconciliation


def test_survival_km_invariants(spark, sf_dir):
    out = relational7.q_customers_survival_km(spark, sf_dir).toPandas()
    n_customers = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert int(out["n_risk"].iloc[0]) == n_customers
    # risk set shrinks by exactly the subjects leaving at each duration
    leaving = (out["n_events"] + out["n_censored"]).values
    assert (out["n_risk"].values[1:]
            == out["n_risk"].values[:-1] - leaving[:-1]).all()
    assert int(leaving.sum()) == n_customers
    assert ((out["hazard_r"] >= 0) & (out["hazard_r"] <= 1)).all()


def test_reconciliation_partitions_orders(spark, sf_dir):
    out = relational7.q_orders_reconciliation(spark, sf_dir).toPandas()
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert int(out["n_orders"].sum()) == n_orders
    assert (out["n_reconciled"] <= out["n_orders"]).all()
    assert (out["n_no_lines"] <= out["n_orders"]).all()
    assert (out["max_absdiff_r"] >= out["avg_absdiff_r"] - 0.01).all()


# ------------------------------------------------------------ shard plan


def test_shard_plan_partitions_corpus(spark, sf_dir):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.functions import words
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import pipeline2

    out = pipeline2.q_pipeline_shard_plan(spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tot = docs.select(
        F.sum(F.size(words(F.col("text"))).cast("bigint")).alias("t")
    ).collect()[0]["t"]
    n_docs = docs.count()
    # every doc lands in exactly one shard; every token is attributed
    assert int(out["n_docs"].sum()) == n_docs
    assert int(out["tokens_total"].sum()) == int(tot)
    # shard ids are contiguous from 0 (no empty shard can exist: a shard
    # id only appears when some doc's first token falls inside it, and
    # the exclusive cumsum sweeps every budget boundary in order)
    assert list(out["shard"]) == list(range(len(out)))
    # sized to the budget: the last shard starts where the last doc's
    # first token falls, so the count is at most ceil(tot/2048) and at
    # least that of the corpus minus one straddling doc
    max_doc = docs.select(
        F.max(F.size(words(F.col("text"))).cast("bigint")).alias("m")
    ).collect()[0]["m"]
    hi = (int(tot) + 2048 - 1) // 2048
    lo = (int(tot) - int(max_doc)) // 2048 + 1
    assert lo <= len(out) <= hi


# ------------------------------------------------------------ KMV sketch


def test_kmv_sketch_exact_regime_and_validation(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import sketches

    df = spark.createDataFrame(
        [("g", i) for i in range(10)] + [("h", i) for i in range(5, 25)],
        ["grp", "k"],
    )
    sk = sketches.kmv_sketch(df, ["grp"], "k", k=64)
    # below k: the sketch IS the distinct set
    got = sk.groupBy("grp").count().toPandas().set_index("grp")["count"]
    assert int(got["g"]) == 10 and int(got["h"]) == 20
    with pytest.raises(ValueError):
        sketches.kmv_sketch(df, ["grp"], "k", k=1)


def test_kmv_estimator_within_relative_error(spark):
    # 5000 distinct keys, k=64 -> expected relative standard error
    # ~ 1/sqrt(k-2) ~ 12.7%; assert within 4 sigma (deterministic data,
    # this pins the estimator implementation, not luck)
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import sketches

    n = 5000
    df = spark.createDataFrame([("g", i) for i in range(n)], ["grp", "k"])
    sk = sketches.kmv_sketch(df, ["grp"], "k", k=64)
    summ = sk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("u_k")
    )
    est = summ.select(
        sketches.kmv_estimate(F.col("n_sk"), F.col("u_k"), 64).alias("e")
    ).collect()[0]["e"]
    assert abs(est - n) / n < 4 / (62**0.5)


def test_kmv_bottom_k_plans_map_side(spark, sf_dir):
    # The rank filter must plan as WindowGroupLimit so each task ships at
    # most k rows per group before the shuffle — the property that makes
    # the sketch build scale.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import sketches
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.plans import formatted_plan
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.trunc("o_orderdate", "month").alias("m"), "o_custkey"
    )
    sk = sketches.kmv_sketch(base, ["m"], "o_custkey", k=64)
    assert "WindowGroupLimit" in formatted_plan(sk)


# ---------------------------------------------------------------- PQ/ADC


def test_pq_validation(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import similarity

    df = spark.createDataFrame([(1, [1.0] * 64)], ["vec_id", "embedding"])
    with pytest.raises(ValueError):
        similarity.pq_topk(df, df, "vec_id", "embedding", dim=64, m=7)
    with pytest.raises(ValueError):
        similarity.pq_topk(df, df, "vec_id", "embedding", n_codes=1)
    # r8: the cap moved from 99 to 999 (pack base widens to 1000 above
    # 99 codewords) — 100 is now legal, 1000 is the new edge
    with pytest.raises(ValueError):
        similarity.pq_topk(df, df, "vec_id", "embedding", n_codes=1000)


def test_pq_adc_exact_for_codebook_members(spark):
    # For a codebook member, every subspace code points at a codeword
    # whose subvector EQUALS its own, so the ADC table-sum collapses to
    # the exact int8 L2^2 — quantization error is zero by construction.
    import hashlib

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import similarity

    rng = np.random.RandomState(7)
    n, dim, m, K = 30, 8, 4, 4
    V = rng.uniform(-1, 1, size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        ["vec_id", "embedding"],
    )
    q = df.where(F.col("vec_id") == 0)
    out = similarity.pq_topk(
        df, q, "vec_id", "embedding", k=n - 1, dim=dim, m=m, n_codes=K
    ).toPandas()
    # replicate the hash sample to find the codebook members
    hs = sorted(
        (int(hashlib.md5(f"pq:{i}".encode()).hexdigest()[:15], 16), i)
        for i in range(n)
    )
    members = [i for _, i in hs[:K]]
    g = np.abs(V).max()
    Q = np.round(V * 127.0 / g)
    for mem in members:
        if mem == 0:
            continue
        want = int(((Q[0] - Q[mem]) ** 2).sum())
        have = int(out[out["corpus_id"] == mem]["adc"].iloc[0])
        assert have == want, mem


def test_pq_recall_floor_on_testdata(spark, sf_dir):
    # Deterministic data + deterministic codebook: this pins the
    # m=32 x 64 configuration's measured recall, not luck.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)
    pq = similarity.pq_topk(
        emb, qs, "vec_id", "embedding", k=5, dim=64, m=32, n_codes=64
    ).toPandas()
    pdf = emb.toPandas()
    V = np.stack(pdf["embedding"].values).astype(np.float64)
    g = np.abs(V).max()
    Q = np.round(V * 127.0 / g)
    ids = pdf["vec_id"].values
    recalls = []
    for qid in range(10):
        qi = np.where(ids == qid)[0][0]
        d = ((Q - Q[qi]) ** 2).sum(axis=1)
        d[qi] = 1e18
        exact5 = set(ids[np.lexsort((ids, d))[:5]])
        got5 = set(pq[pq["query_id"] == qid]["corpus_id"])
        recalls.append(len(exact5 & got5) / 5)
    assert sum(recalls) / len(recalls) >= 0.6


# --------------------------------------------------- streaming KMV merge


def test_stream_kmv_equals_batch_built_sketch(spark, sf_dir, tmp_path):
    # Min-k distributivity, end to end: the sketch maintained across 8
    # real micro-batches must EQUAL the sketch built over all events at
    # once — same hashes, same ranks, any batch split.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import sketches
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import load_table
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import streaming_ops

    maintained = (
        streaming_ops._kmv_stream_sketch(spark, sf_dir, str(tmp_path / "sk"))
        .select("event_type", "h", "rn")
        .orderBy("event_type", "rn")
        .collect()
    )
    batch_built = (
        sketches.kmv_sketch(
            load_table(spark, sf_dir, "events"),
            ["event_type"],
            "user_id",
            k=64,
        )
        .select("event_type", "h", "rn")
        .orderBy("event_type", "rn")
        .collect()
    )
    assert maintained == batch_built and len(maintained) > 0


# ------------------------------------------ forecast backtest / XYZ


def test_forecast_backtest_matches_numpy(spark, sf_dir):
    got = relational7.q_orders_forecast_backtest(spark, sf_dir).toPandas()
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    d = orders["o_orderdate"].values.astype("datetime64[D]")
    d0, d1 = d.min(), d.max()
    n = int((d1 - d0).astype(int)) + 1
    for prio, g in orders.groupby("o_orderpriority"):
        counts = np.zeros(n, dtype=np.int64)
        for i in (g["o_orderdate"].values.astype("datetime64[D]") - d0).astype(int):
            counts[i] += 1
        e7 = np.abs(counts[7:] - counts[:-7])
        e1 = np.abs(counts[7:] - counts[6:-1])
        row = got[got["o_orderpriority"] == prio].iloc[0]
        assert int(row["n_eval_days"]) == n - 7
        assert abs(row["mae_seasonal_r"] - e7.mean()) < 1e-6
        assert abs(row["mae_naive1_r"] - e1.mean()) < 1e-6
        assert abs(row["mase_r"] - e7.sum() / e1.sum()) < 1e-6


def test_xyz_grid_free_identity_and_partition(spark, sf_dir):
    # The zero-week trick: cv^2 from observed cells + the global week
    # count must equal the dense-grid moments. Verified in pandas on the
    # full fixture, plus: the classes partition the part set.
    out = relational7.q_parts_xyz_classes(spark, sf_dir).toPandas()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    n_parts = li["l_partkey"].nunique()
    assert int(out["n_parts"].sum()) == n_parts
    # Monday-anchored weeks (Spark/DuckDB date_trunc semantics — numpy's
    # datetime64[W] is Thursday-anchored at the 1970 epoch and disagrees)
    li["w"] = (
        pd.to_datetime(li["l_shipdate"]).dt.to_period("W").dt.start_time
    )
    weekly = li.groupby(["l_partkey", "w"])["l_quantity"].sum()
    weeks = weekly.index.get_level_values("w")
    n = int((weeks.max() - weeks.min()).days // 7) + 1
    # dense-grid cv^2 for every part, classified with the same cuts
    cls = {"X": 0, "Y": 0, "Z": 0}
    for pk, g in weekly.groupby(level=0):
        x = np.zeros(n)
        idx = ((g.index.get_level_values("w") - weeks.min()).days // 7).astype(int)
        x[idx] = g.values
        cv2 = round(x.var() / (x.mean() ** 2), 6)
        cls["X" if cv2 < 14 else ("Y" if cv2 < 18 else "Z")] += 1
    got = dict(zip(out["xyz"], out["n_parts"]))
    assert {k: int(v) for k, v in got.items()} == {
        k: v for k, v in cls.items() if v > 0
    }


# ---------------------------------------------------------------- PPJoin


def test_ppjoin_exact_recall_vs_bruteforce(spark, sf_dir):
    # Prefix filtering must lose NOTHING: the pair set equals the brute
    # all-pairs Jaccard >= t set, computed here in pandas over the same
    # shingle definition.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = (
        dedup.ppjoin_pairs(docs, "doc_id", "text", threshold_pct=60)
        .select("id_a", "id_b", "inter", "union_n")
        .toPandas()
    )
    pdf = docs.toPandas()
    import re

    def shingles(text):
        w = re.sub(r"\s+", " ", (text or "")).strip().lower().split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {r.doc_id: shingles(r.text) for r in pdf.itertuples()}
    ids = sorted(sets)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if 100 * inter >= 60 * (len(sa) + len(sb) - inter):
                want.add((a, b))
    assert set(zip(got["id_a"], got["id_b"])) == want and len(want) > 0


def test_ppjoin_validation_and_prefix_prunes(spark, sf_dir):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.functions import word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        dedup.ppjoin_pairs(docs, "doc_id", "text", threshold_pct=0)
    with pytest.raises(ValueError):
        dedup.ppjoin_pairs(docs, "doc_id", "text", threshold_pct=100)
    # the prefix block must be a strict subset of the share-any-shingle
    # candidate space (the pruning that makes the join scale)
    toks = docs.select(
        F.col("doc_id").alias("d"),
        F.explode(word_shingles(F.col("text"), k=3)).alias("tok"),
    )
    any_pairs = (
        toks.join(toks.withColumnRenamed("d", "d2"), "tok")
        .where(F.col("d") < F.col("d2"))
        .select("d", "d2")
        .distinct()
        .count()
    )
    found = dedup.ppjoin_pairs(docs, "doc_id", "text", threshold_pct=60).count()
    assert found < any_pairs


def test_ppjoin_candidate_join_is_an_equi_join(spark, sf_dir):
    # Regression: self-joining the prefix relation with pa["tok"] ==
    # pb["tok"] resolved both sides to the SAME attribute (trivially
    # true), silently degrading candidate generation to a length-filtered
    # cross product — correct output, catastrophic plan. The shipped
    # operator renames the token per side; assert no nested-loop or
    # cartesian join survives in the physical plan.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        dedup.ppjoin_pairs(docs, "doc_id", "text", threshold_pct=60)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ppjoin_positional_and_length_filters_are_sound(spark):
    # Adversarial corpus for the two new prunes: (a) a pair whose sizes
    # fail the length filter can never appear; (b) near-identical pairs
    # must survive both filters; computed against brute force.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 1
        # shares rare shingles with 1 but is far longer -> length filter
        (3, "alpha beta gamma " + " ".join(f"w{i} x{i} y{i}" for i in range(40))),
        (4, "totally unrelated words about ships and harbors and tides"),
        (5, "totally unrelated words about ships and harbors and tides"),  # dup of 4
    ]
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup

    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b)
        for r in dedup.ppjoin_pairs(docs, "doc_id", "text", threshold_pct=60).collect()
    }
    import re

    def shingles(text):
        w = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in rows}
    want = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if 100 * inter >= 60 * (len(sets[a]) + len(sets[b]) - inter):
                want.add((a, b))
    assert got == want
    assert (4, 5) in got and (1, 3) not in got


# --------------------------------------------------------------- Holt


def test_holt_matches_python_reference(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import timeseries

    xs = [10.0, 12.0, 13.0, 11.0, 14.0]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], ["k", "t", "v"]
    )
    out = timeseries.holt_half(df, "k", "t", "v", forecast_steps=3).collect()[0]
    l, b = xs[0], 0.0
    for x in xs[1:]:
        nl = x / 2.0 + (l + b) / 2.0
        nb = (nl - l) / 2.0 + b / 2.0
        l, b = nl, nb
    assert abs(out["level_r"] - round(l, 6)) < 1e-9
    assert abs(out["trend_r"] - round(b, 6)) < 1e-9
    assert abs(out["forecast_r"] - round(l + 3 * b, 6)) < 1e-9
    # a single point: level = the point, trend 0
    one = spark.createDataFrame([("g", 0, 5.0)], ["k", "t", "v"])
    r = timeseries.holt_half(one, "k", "t", "v").collect()[0]
    assert (r["level_r"], r["trend_r"]) == (5.0, 0.0)


def test_holt_tracks_linear_trend_exactly_in_the_limit(spark):
    # on a long pure-linear series the trend state converges to the
    # true slope and the h-step forecast to the true next values
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import timeseries

    df = spark.createDataFrame(
        [("g", i, 100.0 + 3.0 * i) for i in range(60)], ["k", "t", "v"]
    )
    out = timeseries.holt_half(df, "k", "t", "v", forecast_steps=5).collect()[0]
    assert abs(out["trend_r"] - 3.0) < 1e-3
    assert abs(out["forecast_r"] - (100.0 + 3.0 * 59 + 5 * 3.0)) < 1e-2


def test_abc_xyz_matrix_census_consistency(spark, sf_dir):
    out = relational7.q_parts_abc_xyz_matrix(spark, sf_dir).toPandas()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    assert int(out["n_parts"].sum()) == li["l_partkey"].nunique()
    # revenue shares partition the total
    assert abs(out["rev_share_r"].sum() - 1.0) < 1e-4
    # the per-axis censuses agree with the standalone XYZ query
    xyz = relational7.q_parts_xyz_classes(spark, sf_dir).toPandas()
    got_by_xyz = out.groupby("xyz")["n_parts"].sum()
    for cls, n in zip(xyz["xyz"], xyz["n_parts"]):
        assert int(got_by_xyz[cls]) == int(n), cls
