"""Scale rehearsal: run the heaviest gate queries on a synthetic sf1
(10× sf0.1) to demonstrate the skew caps / AQE / partitioning actually
engage on data big enough to matter (VERDICT r4 item 5).

sf1 is built by unioning 10 KEY-SHIFTED copies of the driver's sf0.1
tables — ids/users/customers/suppliers shift per copy so key cardinality
scales with volume (10× groups, 10× graph nodes), while text is suffixed
per copy so the near-dup structure stays realistic (every doc gains 10
near-dup siblings — the boilerplate-heavy shape the LSH bucket caps are
for). Events keep their time range (10× busier service, same windows) —
the streaming state stays at its real keyspace while input volume scales.

Methodology matches bench.py: prepared plan, 2 warmup reps, median of 3
back-to-back timed reps (steady state). Streaming runs end-to-end per rep.

Usage: python tools/scale_rehearsal.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import all_queries

SRC = "/tmp/bench_layout_sf0.1"  # bench relayout of the driver sf0.1
RAW = "/root/testdata/sf0.1"
DST = "/tmp/scale_sf1"
COPIES = 10
TARGETS = [
    "dedup_minhash_lsh",
    "stream_tumbling_window",
    "window_topk_per_group",
    "text_bm25",
    "pagerank",
    # round-5 heavy additions
    "bpe_train",
    "basket_rules",
    "events_ewma",
    # round-6: the rewritten prefix-scan queries (VERDICT r5 items 1+3)
    # + the BI/curation queries the r5 rehearsal missed
    "pipeline_score_normalize",
    "customers_abc",
    "customers_rfm",
    "supplier_gini",
    "part_hierarchy_closure",
    # round-6 heavy additions
    "pipeline_quality_cut",
    "supplier_kcore",
    "dedup_incremental_ingest",
    "agg_bitmap_distinct",
    "stream_windowed_topk",
    # round-6 continuation: session-2 additions (sim_pq_adc is excluded —
    # the embeddings corpus is the same 500 rows at every SF, so a replica
    # ratio would measure nothing)
    "graph_bfs_distance",
    "events_acf",
    "orders_changepoint",
    "customers_survival_km",
    "sketch_kmv_setops",
    "pipeline_shard_plan",
    "orders_reconciliation",
    # second continuation batch (multimodal_frame_plan and table_branches
    # are fixed-size/fixture queries; sim_pq_adc excluded as before)
    "dedup_ppjoin",
    "parts_xyz_classes",
    "orders_forecast_backtest",
    "sql_recursive_cte",
    "sql_lateral_topk",
    # third continuation batch (table_rollback is a cached fixture build;
    # the geo queries get 10x customers AND 10x suppliers from the v3
    # fixture, so blocking-join occupancy grows with BOTH sides)
    "geo_nearest_supplier",
    "geo_geohash_encode",
    "events_attribution_shapley",
    "orders_rolling_median",
    "text_rake_keywords",
    "events_stl_decompose",
    "join_bloom_pruned",
    # batch 2 (sim_knn_graph excluded: embeddings is the same 500 rows
    # at every SF, so a replica ratio would measure nothing)
    "pipeline_mix_kl",
    "events_seasonal_strength",
    # session-5 additions (sim_kcenter_coreset / sim_jl_distortion
    # excluded: fixed-size embeddings corpus; agg_skew_kurtosis is a
    # pure power-sum scan)
    "events_isotonic_fit",
    "text_readability",
    "supplier_communities",
    "dedup_substring_spans",
    "lineitem_ols_normal",
    "events_conformal_band",
    "events_percentiles_by_type",
    # round-7: the session-7 statistics family (VERDICT r6 item 7 — the
    # x32 Poisson row explosion, the lag-join CCF, the two-period PVM
    # bridge, and the threshold-sweep PR curve) plus the LSH-vs-PPJoin
    # crossover report (sim_pq_recall excluded: fixed-size embeddings)
    "orders_poisson_bootstrap",
    "events_ccf",
    "orders_pvm_bridge",
    "events_pr_curve",
    "dedup_lsh_recall",
    # round-7 session 2: the gap-fill registrations (sim_pq_recall is
    # excluded like every embeddings query — fixed 2000-row corpus)
    "sim_tfidf_sparse",
    "pipeline_quantile_match",
    # round-8: the capped-cosine coverage meter (sim_pq_recall's third
    # code-size setting stays excluded with the rest of the fixed-size
    # embeddings family). Embeds the UNCAPPED truth ranking over a 10%
    # query sample — the quadratic exact side is the cost being
    # measured, same labeled-exact-baseline status as dedup_lsh_recall.
    "sim_tfidf_recall",
    # round-9: the Zipf-derived coverage meter (VERDICT r8 item 5). Its
    # truth side is uncapped by design (the labeled cost term); the sf1
    # replica's shifted doc_ids give each copy an independent LCG token
    # stream, so the derived vocabulary genuinely scales with the corpus.
    "sim_tfidf_recall_zipf",
    # round-10 (VERDICT r9 item 4): the heaviest never-rehearsed families —
    # graph (link prediction's wedge join re-rowed post-r5, alongside the
    # long-standing closure row) and snapshots (the O(changes) claims of
    # snapshot_diff / incremental view maintenance, measured against a 10x
    # orders table: the fixture path is keyed on sf_dir, so sf1 builds its
    # own v0→v1 merge history with 10x keys and ~10x changed rows).
    "graph_link_prediction",
    "table_snapshot_diff",
    "table_incremental_view",
    # round-10 (VERDICT r9 item 3): the composed curation DAG — also
    # decomposed per-stage by tools/pipeline_e2e_stages.py.
    "pipeline_end_to_end",
    # round-10 rotation extras: the two heaviest sweep rows that scale
    # with the replica and had never been rehearsed — the capped
    # inverted-fingerprint containment screen and the blocked fuzzy
    # record linkage (10x parts on BOTH sides of the blocking join).
    "dedup_containment",
    "join_fuzzy_match",
    # second rotation batch: the next-heaviest sweep rows that scale
    # with the replica (all documents-based)
    "top_ngrams",
    "text_repetition",
    "dedup_keep_best",
    # round-11 (VERDICT r10 item 1): the LSH-fed keep-best twin — the
    # gate that retires the exact n-gram feed's measured 11.77x-at-10x
    # scale cost; its rehearsal row is the near-linear-wall evidence.
    "dedup_keep_best_lsh",
    # round-11 (VERDICT r10 item 4): the sharper blocking rung —
    # positional q-gram keys vs the token+length scheme, same corpus
    # (10x parts on both sides), recall-vs-cost measured side by side
    # with join_fuzzy_match.
    "join_fuzzy_qgram",
    # round-11 rotation: the heaviest sweep rows that scale with the
    # replica and had never been rehearsed (the embeddings family stays
    # excluded — fixed-size corpus). funnel_report is the e2e gate's
    # observability twin; simhash_pairs is the last unrehearsed
    # candidate-pair generator; theil_sen carries the O(n^2 sample)
    # slope pairs; the three text-law gates are corpus-statistics scans.
    "pipeline_funnel_report",
    "dedup_simhash_pairs",
    "orders_theil_sen",
    "text_bigram_lm",
    "text_zipf_fit",
    "text_heaps_law",
    "pipeline_curate",
    # round-11 late registration: the advisor composed into the e2e DAG
    "pipeline_end_to_end_advised",
    # round-12 registration: the materialize="auto" arm as a gate
    "pipeline_end_to_end_auto",
    # round-12 rotation: a 6-table join shape, a sessionized cohort
    # self-join, and the line-level dedup's global explode
    "tpch_q9_profit",
    "events_retention_cohorts",
    "dedup_lines_global",
    # round-12 rotation batch 2: the ANN production path (IVF), the
    # Arrow mapInPandas multimodal decode, a wide grouping-sets agg,
    # and the distribution-window family
    "sim_topk_ivf",
    "multimodal_decode",
    "agg_grouping_sets",
    "window_distribution",
    # round-13 continuation: the v4 fixture finally scales the
    # embeddings corpus (10x near-dup siblings, see REPLICATION), so
    # the ANN family gets its first GENUINE 10x rows — including a
    # re-row of sim_topk_ivf, whose r12 row was measured against the
    # old straight-copied (same-size) embeddings and therefore showed a
    # same-corpus wall ratio, not sub-linearity. Plus the round's new
    # re-rank rung and the heaviest never-rehearsed documents-scaling
    # sweep rows.
    "sim_ivfpq_rerank",
    "sim_ivf_sq",
    "dedup_embedding_lsh",
    "dedup_clusters_star",
    "pipeline_contamination",
    "text_fingerprint",
    "sketch_heavy_hitters",
    "stream_stateful_multibatch",
    "constraint_report",
    # r13 continuation batch 2: the rest of the formerly-excluded ANN
    # family on the v4 replicated corpus — the heaviest never-rehearsed
    # gate overall (kcenter's 6 sequential full-corpus argmax rounds),
    # the trained-directory recall grid, the mutual-kNN shuffle join,
    # and the JL pair-sample audit (whose corpus-proportional %10
    # sample the fixed-size fixture had been hiding).
    "sim_kcenter_coreset",
    "sim_ivfpq_recall",
    "sim_knn_graph",
    "sim_jl_distortion",
    # r13 continuation batch 3: the remaining never-rehearsed heavy
    # sweep rows — the PQ/OPQ recall grids and ADC rankings (trained
    # per rep like their ivfpq siblings), the components gate, the
    # t-digest/HLL/CMS sketch battery, and the all-columns
    # profiler.
    "sim_pq_recall",
    "sim_opq_recall",
    "sim_pq_adc",
    "sim_ivfpq_adc",
    "dedup_clusters",
    "agg_approx_sketches",
    "table_profile",
    # r13 continuation batch 4: the rest of the embeddings family under
    # v4 — including the exact all-pairs audit tier (dedup_embedding,
    # the deliberate scale-killer: its sf1 row is the labeled cost of
    # the truth side, head-to-head with the LSH twin on the same
    # corpus), the power-iteration PCA, Lloyd k-means, and the IVF+SQ
    # recall dial.
    "dedup_embedding",
    "embedding_pca_power",
    "kmeans_iterate",
    "sim_ivf_recall",
    # r13 continuation batch 5: the mid-tier never-rehearsed rotation —
    # streaming KMV distinct, simhash fingerprints, the corpus report,
    # n-gram lang-ID, Arrow mapInPandas audio VAD, and the weighted
    # median's two-phase chunks.
    "stream_kmv_distinct",
    "dedup_simhash",
    "pipeline_corpus_report",
    "text_lang_id",
    "multimodal_audio_vad",
    "lineitem_weighted_median",
]

# Queries whose construction itself executes jobs (streaming runs,
# eager localCheckpoints in iterative training, approx-quantile chunk
# boundary passes) — rebuilt per rep so those jobs are INSIDE the timer.
EAGER = {
    "stream_tumbling_window",
    "bpe_train",
    "pipeline_score_normalize",
    # quantile_chunks runs approxQuantile at plan build (twice here)
    "pipeline_quantile_match",
    "customers_abc",
    "customers_rfm",
    "supplier_gini",
    "pipeline_quality_cut",
    "supplier_kcore",
    "stream_windowed_topk",
    # bfs_distances localCheckpoints each frontier eagerly at plan build
    "graph_bfs_distance",
    # label_propagation localCheckpoints its label frame each round
    "supplier_communities",
    # co_supply_edges localCheckpoints the edge list at plan build
    "graph_link_prediction",
    # both build (or probe) the /tmp snapshot fixture at plan build; the
    # fixture itself persists across reps, so timed reps measure the
    # version probe + diff read, not the one-time merge history build
    "table_snapshot_diff",
    "table_incremental_view",
    # duplicate_clusters checkpoints and counts its edges at plan build
    "pipeline_end_to_end",
    # these gates call duplicate_clusters too
    "dedup_keep_best",
    "dedup_keep_best_lsh",
    "pipeline_curate",
    # e2e_funnel_flags resolves its components at plan build
    "pipeline_funnel_report",
    # IVF directory training localCheckpoints eagerly at plan build
    "sim_ivfpq_rerank",
    # an alias of dedup_clusters, eager at plan build the same way
    "dedup_clusters_star",
    # 8 real micro-batches execute at plan build (availableNow stream)
    "stream_stateful_multibatch",
    # 6 greedy rounds localCheckpoint per pick at plan build
    "sim_kcenter_coreset",
    # trains the kmeans cell directories eagerly at plan build
    "sim_ivfpq_recall",
    # codebook/rotation/directory training at plan build (siblings of
    # sim_ivfpq_recall — keep training inside the timer)
    "sim_pq_recall",
    "sim_opq_recall",
    "sim_pq_adc",
    "sim_ivfpq_adc",
    # duplicate_clusters checkpoints and counts its edges at plan build
    "dedup_clusters",
    # centroids localCheckpoint between Lloyd rounds at plan build
    "kmeans_iterate",
    # availableNow stream executes at plan build
    "stream_kmv_distinct",
    # 8 power-iteration rounds checkpoint the iterate at plan build
    "embedding_pca_power",
    # advisor collect + components fixpoint at plan build
    "pipeline_end_to_end_advised",
    # auto-materialize decision + stage writes + fixpoint at plan build
    "pipeline_end_to_end_auto",
}

# (table, [(col, shift_base)], text_col) — shift_base scales each copy's
# key space past the original's range.
REPLICATION = {
    "documents": ([("doc_id", 10**9)], "text"),
    "events": ([("event_id", 10**12), ("user_id", 10**9)], None),
    "orders": ([("o_orderkey", 10**12), ("o_custkey", 10**9)], None),
    "lineitem": (
        [("l_orderkey", 10**12), ("l_partkey", 10**9), ("l_suppkey", 10**9)],
        None,
    ),
    # round-6: hierarchy_closure derives edges from p_partkey div 10 —
    # shifted copies give 10x hierarchy nodes.
    "part": ([("p_partkey", 10**9)], None),
    # continuation 3: the geo family derives coordinates from these keys,
    # so shifting them scales point density; shift bases match the
    # foreign keys above (o_custkey / l_suppkey) so joins stay closed.
    "customer": ([("c_custkey", 10**9)], None),
    "supplier": ([("s_suppkey", 10**9)], None),
    # v4 (r13): embeddings finally replicates — every earlier "fixed-size
    # embeddings corpus" exclusion comment above is historical. Copies
    # i>0 get one vector component perturbed (+i*1e-3 on dim i%64) so
    # each vector gains 9 NEAR-duplicate siblings (cosine ~0.99998) —
    # the same replica philosophy as documents' " copyv{i}" suffix: ANN
    # structure stays realistic (clones cluster, don't exactly tie) and
    # the corpus genuinely carries 10x distinct points through train/
    # encode/probe. Queries stay the 10 originals (vec_id < 10), so
    # query count is constant while the corpus scales.
    "embeddings": ([("vec_id", 10**9)], None),
}


def build_sf1(spark) -> None:
    # v4: embeddings joined REPLICATION (r13) — a marker bump rebuilds
    # the whole fixture once. The gates' derived layouts are keyed on
    # their input files, so they rebuild against the new tables.
    marker = os.path.join(DST, "_DONE_v4")
    if os.path.exists(marker):
        return
    src = SRC if os.path.exists(SRC) else RAW
    for table, (shifts, text_col) in REPLICATION.items():
        df = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        parts = []
        for i in range(COPIES):
            c = df
            for col, base in shifts:
                c = c.withColumn(col, F.col(col) + F.lit(i * base))
            if text_col and i > 0:
                c = c.withColumn(
                    text_col,
                    F.concat(F.col(text_col), F.lit(f" copyv{i}")),
                )
            if table == "embeddings" and i > 0:
                # near-dup sibling, not an exact clone (see REPLICATION).
                # (Factory closure: F.transform inspects the lambda's
                # arity, so the copy index can't ride a default arg.)
                def _perturb(_i):
                    return lambda x, j: (
                        F.when(j == F.lit(_i % 64), x + F.lit(_i * 1e-3))
                        .otherwise(x)
                        .cast("float")
                    )

                c = c.withColumn(
                    "embedding", F.transform("embedding", _perturb(i))
                )
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            os.path.join(DST, f"{table}.parquet")
        )
    # tables the target queries don't read: symlink-by-copy from src so
    # loaders that touch them (schema checks) still resolve
    for t in (
        "region",
        "nation",
    ):
        spark.read.parquet(os.path.join(src, f"{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(DST, f"{t}.parquet"))
    with open(marker, "w") as f:
        f.write("ok")


def time_query(spark, qs, name: str, sf_dir: str, eager: bool) -> float:
    fn = qs[name]
    times = []
    if eager:
        fn(spark, sf_dir)  # warmup
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
    else:
        df = fn(spark, sf_dir)
        for _ in range(2):  # warmup incl. switch rewarm
            df.write.format("noop").mode("overwrite").save()
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
    times.sort()
    return round(times[len(times) // 2], 3)


# ---- pre-r6 single-task-window shapes, kept ONLY as rehearsal baselines
# (the "before" side of VERDICT r5 item 3's measurement; the registry
# versions use operators/stats.two_phase_rank_cumsum instead).


def _naive_customers_abc(spark, sf_dir):
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("o_custkey").asc())
    tot = per_cust.agg(F.sum("rev").alias("tot"))
    ranked = (
        per_cust.withColumn(
            "cum",
            F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "__share",
            F.col("cum").cast("double") / F.col("tot").cast("double"),
        )
        .withColumn(
            "cls",
            F.when(F.col("__share") <= 0.5, "A")
            .when(F.col("__share") <= 0.8, "B")
            .otherwise("C"),
        )
    )
    return (
        ranked.groupBy("cls")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                F.sum("rev").cast("double") / F.max("tot").cast("double"), 6
            ).alias("rev_share_r"),
        )
        .orderBy("cls")
    )


def _naive_supplier_gini(spark, sf_dir):
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(
        F.sum(F.round("l_extendedprice", 2).cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy(F.col("rev").asc(), F.col("l_suppkey").asc())
    ranked = per.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.round(F.sum("rev").cast("double"), 2).alias("total_rev_r"),
        F.round(
            F.lit(2.0)
            * F.sum((F.col("i") * F.col("rev")).cast("decimal(28,2)")).cast(
                "double"
            )
            / (F.count(F.lit(1)) * F.sum("rev").cast("double"))
            - (F.count(F.lit(1)) + F.lit(1)) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("gini_r"),
    )


def _naive_score_normalize(spark, sf_dir):
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import text
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_features(
        docs.select("doc_id", "source", "text"), "text"
    ).select("doc_id", "source", F.round("q_score", 6).alias("q6"))
    w = Window.partitionBy("source").orderBy(
        F.col("q6").asc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("source")
    out = scored.select(
        "doc_id",
        "source",
        F.col("q6").alias("q_r"),
        F.round(
            F.when(
                F.count(F.lit(1)).over(wn) > 1,
                (F.row_number().over(w) - F.lit(1))
                / (F.count(F.lit(1)).over(wn) - F.lit(1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("pct_r"),
    )
    return out.orderBy("doc_id")


def _naive_customers_rfm(spark, sf_dir):
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    def quintile(col_df, key, val):
        counts = col_df.groupBy(F.col(val).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        cum = counts.withColumn(
            "cb", F.coalesce(F.sum("c").over(w), F.lit(0)).cast("bigint")
        )
        tot = counts.agg(F.sum("c").cast("bigint").alias("n"))
        scored = cum.crossJoin(F.broadcast(tot)).select(
            F.col("v"), (F.expr("(cb * 5) div n") + F.lit(1)).alias("q")
        )
        return col_df.join(
            F.broadcast(scored), col_df[val] == scored["v"]
        ).select(F.col(key), F.col("q"))

    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("money"),
    )
    anchor = per.agg(F.max("last_d").alias("a"))
    per = per.crossJoin(F.broadcast(anchor)).withColumn(
        "rec_inv", -F.datediff(F.col("a"), F.col("last_d")).cast("bigint")
    )
    r = quintile(per.select("o_custkey", "rec_inv"), "o_custkey", "rec_inv")
    fq = quintile(per.select("o_custkey", "freq"), "o_custkey", "freq")
    m = quintile(per.select("o_custkey", "money"), "o_custkey", "money")
    rfm = (
        r.withColumnRenamed("q", "r")
        .join(fq.withColumnRenamed("q", "f"), "o_custkey")
        .join(m.withColumnRenamed("q", "m"), "o_custkey")
    )
    return (
        rfm.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("r", "f", "m")
    )


NAIVE_TWINS = {
    "customers_abc": _naive_customers_abc,
    "supplier_gini": _naive_supplier_gini,
    "pipeline_score_normalize": _naive_score_normalize,
    "customers_rfm": _naive_customers_rfm,
}


def main() -> int:
    args = [a for a in sys.argv[1:]]
    only = None
    for a in list(args):
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
            args.remove(a)
    out_path = args[0] if args else "scale_rehearsal.json"
    spark = get_spark("scale_rehearsal")
    build_sf1(spark)
    qs = all_queries()
    for tw_name, tw_fn in NAIVE_TWINS.items():
        qs[tw_name + "__naive_window"] = tw_fn
    src = SRC if os.path.exists(SRC) else RAW
    report = {}
    targets = []
    for t in TARGETS:
        targets.append(t)
        if t in NAIVE_TWINS:
            targets.append(t + "__naive_window")
    if only is not None:
        targets = [t for t in targets if t.split("__naive")[0] in only]
    for name in targets:
        eager = name in EAGER or name.split("__naive")[0] in EAGER
        t_small = time_query(spark, qs, name, src, eager)
        t_big = time_query(spark, qs, name, DST, eager)
        rows_small = qs[name](spark, src).count()
        rows_big = qs[name](spark, DST).count()
        report[name] = {
            "sf0.1_sec": t_small,
            "sf1_sec": t_big,
            "ratio": round(t_big / t_small, 2) if t_small else None,
            "rows_sf0.1": rows_small,
            "rows_sf1": rows_big,
        }
        print(
            f"{name:28s} sf0.1 {t_small:7.3f}s  sf1 {t_big:7.3f}s  "
            f"x{report[name]['ratio']}  rows {rows_small}->{rows_big}",
            flush=True,
        )
    # merge into an existing report rather than clobbering it: a --only
    # re-run of one query must not discard the other recorded rows
    merged = {"copies": COPIES, "queries": {}}
    if only is not None and os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prior = json.load(f)
            if prior.get("copies") == COPIES:
                merged["queries"].update(prior.get("queries", {}))
        except (json.JSONDecodeError, OSError):
            pass
    merged["queries"].update(report)
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
