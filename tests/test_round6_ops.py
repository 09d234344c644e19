"""Round-6 tests: the ADVICE-r5 hardening fixes plus the round's new
scale work.

Covers: maintain_agg_view's group-moving-update split (delete+insert
contributions, no stale old-group aggregates), the ivf_sq corpus
fingerprint (stale index rebuilt when the corpus behind the same path
changes), the snapdiff fixture's crash-safe guard (v0 partial state
self-heals; deeper corruption raises), and negative_pairs k>=1
validation (sequence(1,0) counts DOWN, so k=0 must raise, not emit
bogus slots)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
    sampling,
    views,
)


# ----------------------------------------------- maintain_agg_view moves


def test_maintain_agg_view_splits_group_moving_update(spark):
    # v0 -> v1: key 1 MOVES from group A to group B (same primary key,
    # group column changed — snapshot_diff reports change_op='update'),
    # key 2 is a stable in-group update, key 3 deleted, key 4 inserted.
    df0 = spark.createDataFrame(
        [(1, "A", 3.0), (2, "A", 2.0), (3, "B", 1.0)], ["k", "g", "x"]
    )
    view0 = views.agg_view(df0, "g", "x")
    diff = spark.createDataFrame(
        [
            Row(
                change_op="update",
                new_values=Row(g="B", x=5.0),
                old_values=Row(g="A", x=3.0),
            ),
            Row(
                change_op="update",
                new_values=Row(g="A", x=4.0),
                old_values=Row(g="A", x=2.0),
            ),
            Row(
                change_op="delete",
                new_values=None,
                old_values=Row(g="B", x=1.0),
            ),
            Row(
                change_op="insert",
                new_values=Row(g="C", x=7.0),
                old_values=None,
            ),
        ]
    )
    got = {
        r["g"]: (r["n_rows"], float(r["__sum_dec"]))
        for r in views.maintain_agg_view(view0, diff, "g", "x").collect()
    }
    # v1 truth: A = {key2: 4}, B = {key1: 5}, C = {key4: 7}.
    assert got == {"A": (1, 4.0), "B": (1, 5.0), "C": (1, 7.0)}


def test_maintain_agg_view_move_drains_old_group(spark):
    # The old group must DROP OUT when its last row moves away — the
    # pre-fix code left it with a stale (n=1, sum=3) forever.
    df0 = spark.createDataFrame([(1, "A", 3.0), (2, "B", 9.0)], ["k", "g", "x"])
    view0 = views.agg_view(df0, "g", "x")
    diff = spark.createDataFrame(
        [
            Row(
                change_op="update",
                new_values=Row(g="B", x=3.0),
                old_values=Row(g="A", x=3.0),
            )
        ]
    )
    got = {
        r["g"]: (r["n_rows"], float(r["__sum_dec"]))
        for r in views.maintain_agg_view(view0, diff, "g", "x").collect()
    }
    assert got == {"B": (2, 12.0)}


# -------------------------------------------------- negative_pairs guard


def test_negative_pairs_rejects_k_below_one(spark):
    ids = spark.range(10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="k >= 1"):
        sampling.negative_pairs(ids, "doc_id", k=0)


# ---------------------------------------------- ivf_sq cache fingerprint


def test_ivf_sq_rebuilds_when_corpus_changes(spark, sf_dir, tmp_path):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        similarity as s,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    small = emb.where(F.col("vec_id") < 40)
    path = str(tmp_path / "ivfsq_fp")
    first = s.ivf_sq_topk(
        spark, path, small, queries, "vec_id", "embedding", k=3, dim=64
    ).collect()
    # Same path, different corpus: the fingerprint (count + max id) must
    # invalidate the cached codes/codebook — results equal a fresh build.
    reused = s.ivf_sq_topk(
        spark, path, emb, queries, "vec_id", "embedding", k=3, dim=64
    ).collect()
    fresh = s.ivf_sq_topk(
        spark,
        str(tmp_path / "ivfsq_fresh"),
        emb,
        queries,
        "vec_id",
        "embedding",
        k=3,
        dim=64,
    ).collect()
    assert sorted(map(tuple, reused)) == sorted(map(tuple, fresh))
    assert sorted(map(tuple, reused)) != sorted(map(tuple, first))
    # Unchanged corpus: second call must reuse (results stable).
    again = s.ivf_sq_topk(
        spark, path, emb, queries, "vec_id", "embedding", k=3, dim=64
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, reused))


def test_ivf_sq_rebuilds_on_vector_change_same_ids(spark, sf_dir, tmp_path):
    # The content-blind trap: same row count, same id space, DIFFERENT
    # vectors (regenerated embeddings). The content term of the
    # fingerprint must catch it.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        similarity as s,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfsq_content")
    s.ivf_sq_topk(
        spark, path, emb, emb.where(F.col("vec_id") < 3), "vec_id",
        "embedding", k=3, dim=64,
    ).collect()
    mut = emb.withColumn("embedding", F.reverse("embedding"))
    mq = mut.where(F.col("vec_id") < 3)
    got = s.ivf_sq_topk(
        spark, path, mut, mq, "vec_id", "embedding", k=3, dim=64
    ).collect()
    fresh = s.ivf_sq_topk(
        spark, str(tmp_path / "ivfsq_content_fresh"), mut, mq, "vec_id",
        "embedding", k=3, dim=64,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, fresh))


# -------------------------------------------------- containment dedup


def test_containment_catches_prefix_dup_jaccard_misses(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import text as tx

    short = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(6))  # 18 words
    long = short + " " + " ".join(f"filler{i} extra{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated words " * 8)],
        ["doc_id", "text"],
    )
    out = {
        (r["contained_id"], r["container_id"]): r["containment_r"]
        for r in tx.containment_pairs(
            df, "doc_id", "text", threshold=0.8
        ).collect()
    }
    # the short doc is fully contained in the long one; the reverse
    # direction and the unrelated doc must not appear
    assert out.get((1, 2)) == 1.0
    assert (2, 1) not in out
    assert all(3 not in pair for pair in out)


# ------------------------------------------- incremental-ingest dedup


def test_minhash_ingest_probes_only_cross_pairs(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different words here entirely")],
        ["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [(100, base), (101, "nothing shared with anyone at all truly")],
        ["doc_id", "text"],
    )
    out = dedup.minhash_lsh_ingest_pairs(
        corpus, incoming, "doc_id", "text", num_hashes=16, bands=4,
        shingle_k=3, threshold=0.5,
    ).collect()
    pairs = {(r["corpus_id"], r["new_id"]) for r in out}
    # the duplicate incoming doc matches BOTH corpus copies; corpus
    # docs 1-2 (exact dups of each other) never pair with each other
    assert pairs == {(1, 100), (2, 100)}
    for r in out:
        assert r["est_jaccard"] == 1.0


# ----------------------------------- two-phase prefix scan bit-exactness


def test_two_phase_rank_cumsum_matches_naive_window(spark):
    # The chunked scan must be BIT-IDENTICAL to the single-task window
    # it replaces, for any chunking — skewed decimal values, desc order.
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import stats

    rows = [
        (i, ((i * 37) % 13) * 100 + (i % 7))  # heavy value ties + skew
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["k", "raw"]).select(
        "k", (F.col("raw").cast("decimal(18,2)") / 7).alias("v")
    )
    for descending in (False, True):
        chunk = stats.quantile_chunks(df, "v", n_chunks=8, descending=descending)
        got = stats.two_phase_rank_cumsum(
            df,
            "v",
            chunk,
            tiebreak_cols=["k"],
            value_col="v",
            descending=descending,
            rn_col="rn",
            cum_col="cum",
        ).select("k", "rn", "cum")
        w = Window.orderBy(
            F.col("v").desc() if descending else F.col("v").asc(),
            F.col("k").asc(),
        )
        want = df.select(
            "k",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_two_phase_partitioned_matches_naive(spark):
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import stats

    rows = [(i, f"s{i % 3}", float((i * 31) % 17)) for i in range(300)]
    df = spark.createDataFrame(rows, ["k", "g", "v"])
    chunk = stats.quantile_chunks(df, "v", n_chunks=5)
    got = stats.two_phase_rank_cumsum(
        df, "v", chunk, partition_cols=["g"], tiebreak_cols=["k"], rn_col="rn"
    ).select("k", "rn")
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("k").asc())
    want = df.select("k", F.row_number().over(w).cast("bigint").alias("rn"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_normalize_scores_matches_naive_per_group_rank(spark):
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import stats

    rows = [(i, f"src{i % 4}", float((i * 13) % 29) / 7.0) for i in range(200)]
    rows.append((999, "lonely", 5.0))  # 1-row group -> pct 0
    df = spark.createDataFrame(rows, ["doc_id", "source", "score"])
    got = stats.normalize_scores_per_group(df, "source", "score", "doc_id", n_chunks=6)
    w = Window.partitionBy("source").orderBy(
        F.col("score").asc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("source")
    want = df.select(
        "doc_id",
        "source",
        "score",
        F.round(
            F.when(
                F.count(F.lit(1)).over(wn) > 1,
                (F.row_number().over(w) - F.lit(1))
                / (F.count(F.lit(1)).over(wn) - F.lit(1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("pct_r"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# ------------------------------------- fuzzy-match second blocking pass


def test_fuzzy_second_blocking_pass_recovers_head_noun_typos(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import joins

    # Right names with a typo INSIDE the head noun: single-token blocking
    # puts them in a different block and loses the match; the second pass
    # (preceding token) recovers them.
    left = spark.createDataFrame(
        [
            (0, "aged copper widget"),
            (2, "shiny steel spring"),
            (4, "matte brass gear"),
        ],
        ["id", "name"],
    )
    right = spark.createDataFrame(
        [
            (1, "aged copper widgat"),  # head-noun typo
            (3, "shiny steel spring"),  # exact (same head noun)
            (5, "matte brass gea"),  # head-noun deletion
        ],
        ["id", "name"],
    )
    one = joins.fuzzy_best_match(
        left, right, "id", "id", "name", max_dist=3, n_block_tokens=1
    ).collect()
    two = joins.fuzzy_best_match(
        left, right, "id", "id", "name", max_dist=3, n_block_tokens=2
    ).collect()
    assert {r["left_id"] for r in one} == {2}
    assert {(r["left_id"], r["right_id"]) for r in two} == {
        (0, 1),
        (2, 3),
        (4, 5),
    }
    # A repeated tail token must not produce duplicate best rows.
    dup = joins.fuzzy_best_match(
        spark.createDataFrame([(0, "gear gear")], ["id", "name"]),
        spark.createDataFrame([(1, "gear gear")], ["id", "name"]),
        "id",
        "id",
        "name",
        max_dist=3,
        n_block_tokens=2,
    ).collect()
    assert [(r["left_id"], r["right_id"], r["dist"]) for r in dup] == [(0, 1, 0)]


# ------------------------------------------ basket_rules cap engagement


def test_basket_rules_mega_basket_cap_trips(spark):
    # Adversarial replica where the max_basket_size cap MUST engage: the
    # sf1 rehearsal's 4.9x ratio was linear only because basket sizes
    # didn't grow (VERDICT r5 item 5). A mega-basket above the cap is
    # dropped BEFORE pairing — bounded cost, documented recall loss.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import stats

    rows = []
    for b in range(50):  # normal baskets: a 3-item motif
        for i in (1, 2, 3):
            rows.append((b, i + (b % 2) * 10))
    mega_items = list(range(10_000, 10_500))
    rows += [(999, i) for i in mega_items]  # 500-item mega-basket
    rows += [(999, 1), (999, 2)]  # motif items also appear in mega
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = stats.basket_rules(
        df,
        "basket",
        "item",
        min_support_count=2,
        max_basket_size=100,
        top_n=10_000,
    ).collect()
    # Recall loss is exactly the mega-basket's pairs: no pair involves a
    # mega-only item, and the mega-basket contributes to NO counts.
    assert out, "normal-basket pairs must survive"
    assert all(r["item_a"] < 10_000 and r["item_b"] < 10_000 for r in out)
    # Denominator excludes the dropped basket: 50 kept baskets.
    motif = [r for r in out if r["item_a"] == 1 and r["item_b"] == 2]
    assert len(motif) == 1
    assert motif[0]["co"] == 25  # even baskets only
    assert motif[0]["support_r"] == pytest.approx(25 / 50, abs=1e-9)
    # Cost bound: every emitted pair comes from capped baskets, so the
    # candidate space is at most sum(n_b * (n_b - 1)) over kept baskets.
    assert len(out) <= sum(3 * 2 for _ in range(50))


# ----------------------------------------------- round-6 new operators


def test_temperature_mixture_alpha_limits(spark):
    # alpha=1 reproduces natural shares (keep_frac == budget for all);
    # alpha=0 gives uniform weights (small sources upsampled, possibly
    # saturating at keep-everything).
    rows = [(i, "big" if i < 90 else "small", "w " * 10) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    tok = F.lit(10).cast("bigint")
    nat = sampling.temperature_mixture_sample(
        df, "doc_id", "source", tok, alpha=1.0, budget_frac=0.5
    )
    fr = {
        r["source"]: r["keep_frac_r"]
        for r in nat.select("source", "keep_frac_r").distinct().collect()
    }
    assert fr["big"] == pytest.approx(0.5, abs=1e-9)
    assert fr["small"] == pytest.approx(0.5, abs=1e-9)
    uni = sampling.temperature_mixture_sample(
        df, "doc_id", "source", tok, alpha=0.0, budget_frac=0.5
    )
    fu = {
        r["source"]: (r["weight_r"], r["keep_frac_r"])
        for r in uni.select("source", "weight_r", "keep_frac_r").distinct().collect()
    }
    assert fu["big"][0] == pytest.approx(0.5, abs=1e-9)
    # uniform weight over a 10-doc source with half-corpus budget: wants
    # 0.5*0.5*1000 = 250 tokens of an available 100 -> saturates at 1.
    assert fu["small"][1] == pytest.approx(1.0, abs=1e-9)


def test_quality_budget_cut_matches_naive_window(spark):
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import text as tx

    rows = [(i, float((i * 37) % 11), 5 + i % 7) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "q", "n_tok"])
    got = tx.quality_budget_cut(
        df, "doc_id", "q", F.col("n_tok").cast("bigint"), budget_tokens=500
    )
    w = Window.orderBy(F.col("q").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = (
        df.withColumn(
            "cum_before",
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint"),
        )
        .where(F.col("cum_before") < 500)
        .select("doc_id", "q", F.col("n_tok").cast("bigint").alias("n_tokens"), "cum_before")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError, match="exactly one"):
        tx.quality_budget_cut(df, "doc_id", "q", F.col("n_tok"))


def test_centroid_drift_known_cosine(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        similarity as s,
    )

    # group 0 along +x, group 1 along +y (orthogonal), group 2 along +x
    # again (parallel to 0) in a 4-dim space padded to dim=4.
    rows = [
        (0, 0, [2.0, 0.0, 0.0, 0.0]),
        (1, 0, [4.0, 0.0, 0.0, 0.0]),
        (2, 1, [0.0, 3.0, 0.0, 0.0]),
        (3, 2, [5.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, label int, embedding array<double>")
    out = {
        (r["group_a"], r["group_b"]): (r["n_a"], r["n_b"], r["cos_r"])
        for r in s.centroid_drift_report(df, "label", "embedding", dim=4).collect()
    }
    assert out[(0, 1)] == (2, 1, 0.0)
    assert out[(0, 2)] == (2, 1, 1.0)
    assert out[(1, 2)] == (1, 1, 0.0)


def test_seasonal_profile_flags_spike_day(spark):
    import datetime

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        timeseries,
    )

    # 5 Mondays at 10 and one at 100: the spike's deviation/std is
    # sqrt(n-1) = sqrt(5) ≈ 2.24 > 2 sigma (with n=5 it would be exactly
    # 2.0 and the strict > would not trip — chosen deliberately).
    # Tuesdays constant -> std 0, no anomalies.
    base = datetime.datetime(2024, 1, 1, 12)  # a Monday
    rows = []
    for wk in range(6):
        rows.append(("m", base + datetime.timedelta(weeks=wk), 100.0 if wk == 5 else 10.0))
        rows.append(("m", base + datetime.timedelta(weeks=wk, days=1), 7.0))
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {
        r["dow"]: (r["n_days"], r["mean_r"], r["n_anomalous"])
        for r in timeseries.seasonal_profile_anomalies(
            df, "k", "ts", "value", sigma=2.0
        ).collect()
    }
    assert out[1][0] == 6 and out[1][1] == pytest.approx(25.0)
    assert out[1][2] == 1  # the spike Monday
    assert out[2] == (6, 7.0, 0)  # constant Tuesdays: std 0, nothing out


# ----------------------------------------------------------- k-core


def test_kcore_known_graph(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import graph

    # 4-clique {1,2,3,4} (each degree 3) + chain 4-5-6 hanging off it:
    # the 3-core is exactly the clique; peeling 5 first drops 6 next
    # (cascade), which is what the rounds iterate.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        ["src", "dst"],
    )
    out = {
        r["node"]: r["core_degree"]
        for r in graph.kcore(edges, k=3, rounds=4).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # 2-core: the chain still peels (6 has degree 1, then 5 does).
    out2 = {
        r["node"]: r["core_degree"]
        for r in graph.kcore(edges, k=2, rounds=4).collect()
    }
    assert out2 == {1: 3, 2: 3, 3: 3, 4: 3}
    with pytest.raises(ValueError, match="k >= 1"):
        graph.kcore(edges, k=0)


def test_supplier_kcore_rounds_converged(spark, sf_dir):
    # The gate query runs a FIXED 8 rounds; prove 8 suffices on real
    # data by comparing against 9 rounds (peeling is confluent, so
    # equality == convergence).
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import graph
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.co_supply_edges(li)
    r8 = sorted(map(tuple, graph.kcore(edges, 3, rounds=8, src="sa", dst="sb").collect()))
    r9 = sorted(map(tuple, graph.kcore(edges, 3, rounds=9, src="sa", dst="sb").collect()))
    assert r8 == r9


# ------------------------------------- merge-on-read equality deletes


def _dv_table(spark, tmp_path):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.snapshots import (
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "dv"))
    base = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(100)], ["k", "g", "x"]
    )
    t.append(base.repartition(4))
    return t, base


def test_delete_where_writes_no_data_files(spark, tmp_path):
    t, _ = _dv_table(spark, tmp_path)
    m0 = t._read_manifest(0)
    t.delete_where(spark, ["k"], F.col("k") % 5 == 0)
    m1 = t._read_manifest(1)
    assert m1["files"] == m0["files"]  # MOR: zero data rewrite
    assert len(m1["delete_files"]) == 1
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [i for i in range(100) if i % 5 != 0]


def test_delete_then_append_reinserts_key(spark, tmp_path):
    t, _ = _dv_table(spark, tmp_path)
    t.delete_where(spark, ["k"], F.col("k") < 10)
    t.append(spark.createDataFrame([(3, "new", 99.0)], ["k", "g", "x"]))
    rows = {r["k"]: r["g"] for r in t.read(spark).collect()}
    assert 3 in rows and rows[3] == "new"  # sequencing: new file unaffected
    assert 4 not in rows


def test_compact_purges_delete_vectors(spark, tmp_path):
    t, _ = _dv_table(spark, tmp_path)
    t.delete_where(spark, ["k"], F.col("k") % 2 == 0)
    before = sorted(r["k"] for r in t.read(spark).collect())
    v = t.compact(spark)
    m = t._read_manifest(v)
    assert "delete_files" not in m
    assert sorted(r["k"] for r in t.read(spark).collect()) == before


def test_merge_keeps_deletes_scoped_to_untouched_files(spark, tmp_path):
    t, _ = _dv_table(spark, tmp_path)
    t.delete_where(spark, ["k"], F.col("k") % 10 == 7)  # 7,17,...,97 gone
    src = spark.createDataFrame([(1, "upd", -1.0)], ["k", "g", "x"])
    t.merge(spark, src, keys=["k"])
    rows = {r["k"]: r["g"] for r in t.read(spark).collect()}
    assert rows[1] == "upd"
    assert all(k % 10 != 7 for k in rows)  # untouched-file deletes survive


def test_snapshot_diff_sees_mor_delete(spark, tmp_path):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.snapshots import (
        snapshot_diff,
    )

    t, _ = _dv_table(spark, tmp_path)
    t.delete_where(spark, ["k"], F.col("k") % 25 == 0)
    d = snapshot_diff(t, spark, 0, 1, keys=["k"]).collect()
    ops = {(r["change_op"], r["k"]) for r in d}
    assert ops == {("delete", 0), ("delete", 25), ("delete", 50), ("delete", 75)}


def test_vacuum_keeps_referenced_delete_files(spark, tmp_path):
    t, _ = _dv_table(spark, tmp_path)
    t.delete_where(spark, ["k"], F.col("k") % 5 == 0)
    want = sorted(r["k"] for r in t.read(spark).collect())
    t.vacuum(keep_versions=1)
    assert sorted(r["k"] for r in t.read(spark).collect()) == want
