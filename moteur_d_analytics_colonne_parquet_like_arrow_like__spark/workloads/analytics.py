"""Analytical extension workloads (round 5): skyline/Pareto frontier,
one-pass correlation matrix, blocked fuzzy record linkage, and int8
scalar-quantized ANN — the analytics a curation/BI user reaches for next
after the reference's scan/filter/agg verbs (reference: ABSENT;
SURVEY.md §2 extension surface).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import joins, similarity, stats
from ..sources.catalog import load_table, table_path
from ._scratch import derived

_CORR_COLS = ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]


def q_feature_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Pearson correlation over lineitem's numeric measures in a
    single map-side-combined aggregation pass (operators/stats
    .correlation_matrix) — the feature-selection profiling primitive."""
    li = load_table(spark, sf_dir, "lineitem").select(*_CORR_COLS)
    return stats.correlation_matrix(li, _CORR_COLS, round_digits=6)


def q_orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of orders on (maximize order date, maximize total price):
    the orders for which no later order was also more valuable
    (operators/stats.pareto_frontier — O(n log n) windowed formulation,
    never a pairwise dominance join)."""
    orders = load_table(spark, sf_dir, "orders")
    out = stats.pareto_frontier(
        orders,
        "o_orderdate",
        "o_totalprice",
        keep_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
    )
    return out.select(
        "o_orderkey",
        F.to_date("o_orderdate").cast("string").alias("order_date"),
        F.round("o_totalprice", 2).alias("price_r"),
    ).orderBy("o_orderkey")


def q_join_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage: even-keyed parts matched to their
    best odd-keyed near-name (Levenshtein <= 3, blocked on the name's
    LAST TWO tokens + length band — operators/joins.fuzzy_best_match
    with the unioned second blocking pass, so a typo inside the head
    noun no longer loses the match). The entity-resolution shape of
    joining two dirty catalogs."""
    part = load_table(spark, sf_dir, "part")
    left = part.where(F.col("p_partkey") % 2 == 0)
    right = part.where(F.col("p_partkey") % 2 == 1)
    return joins.fuzzy_best_match(
        left, right, "p_partkey", "p_partkey", "p_name", max_dist=3,
        n_block_tokens=2,
    ).orderBy("left_id")


def q_join_fuzzy_qgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocking ladder's sharper rung (VERDICT r10 item 4): the SAME
    fuzzy-linkage surface keyed on RARITY-PREFIX POSITIONAL Q-GRAMS
    (the ED-Join count filter) instead of tail tokens. The r10
    rehearsal measured token blocking's intrinsic limit on this corpus
    (a 16-value tail vocabulary -> 2.34B true candidates at sf1);
    q-gram keys scale their cardinality with the corpus, each name
    emits only its max_dist*q + 1 RAREST gram occurrences (d edits
    destroy at most d*q, so one prefix occurrence survives — recall
    holds, brute-force-verified), and the position bucket (pos div
    (max_dist+1), left probes ±1) keeps a surviving gram's bucket
    drift <= 1. The rarity prefix is load-bearing, not an
    optimization: the full-emission form put >55 min of hot-gram
    candidate pairing behind shared boilerplate trigrams at sf1
    (docs/SCALE.md round 11). Same output contract as join_fuzzy_match
    — at driver SFs the two gates return identical best matches, which
    IS the recall claim, checked cross-generator."""
    part = load_table(spark, sf_dir, "part")
    left = part.where(F.col("p_partkey") % 2 == 0)
    right = part.where(F.col("p_partkey") % 2 == 1)
    return joins.fuzzy_best_match(
        left, right, "p_partkey", "p_partkey", "p_name", max_dist=3,
        blocking="qgram",
    ).orderBy("left_id")


def q_sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k over int8 scalar-quantized embeddings — 4x memory
    compression with integer-exact ranking (operators/similarity
    .sq_int8_topk); same broadcast-queries plan as the float baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.sq_int8_topk(
        emb, queries, "vec_id", "embedding", k=5, dim=64
    ).orderBy("query_id", "rnk")


def q_feature_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile discretization of lineitem prices (rounded to
    100s), ties-keep-together, integer-exact bucket assignment
    (operators/stats.equidepth_histogram) — the quantile-binning feature
    prep a training pipeline runs before one-hot/embedding lookup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round("l_extendedprice", -2).alias("price_100")
    )
    return stats.equidepth_histogram(li, "price_100", n_buckets=10)


def _snapdiff_table(spark: SparkSession, sf_dir: str):
    """The snapshot table behind table_snapshot_diff and
    table_incremental_view (built once per orders input)."""
    from ..sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price_r"),
    )
    base = orders.where(F.col("o_orderkey") % 5 != 4)

    def build(d: str) -> None:
        t = SnapshotTable(d)
        t.append(base.repartition(8))
        inserts = orders.where(
            (F.col("o_orderkey") % 5 == 4) & (F.col("o_orderkey") % 3 == 0)
        ).withColumn("__del", F.lit(False))
        touched = base.where(
            (F.col("o_orderkey") % 37 == 0) | (F.col("o_orderkey") % 41 == 0)
        )
        upserts = touched.withColumn(
            "price_r", F.col("price_r") + F.lit(1.0)
        ).withColumn("__del", F.col("o_orderkey") % 41 == 0)
        t.merge(
            spark,
            inserts.unionByName(upserts),
            keys=["o_orderkey"],
            delete_col="__del",
        )

    return SnapshotTable(
        derived("snapdiff", [table_path(sf_dir, "orders")], build)
    )


def q_table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshot-table versions: v0 = an orders subset,
    v1 = v0 after a copy-on-write MERGE (inserts + price updates +
    deletes). ``snapshot_diff`` (sources/snapshots.py) reads only the
    files the merge actually rewrote — shared manifest files are pruned
    wholesale — and classifies per-key changes; the oracle recomputes
    insert/update/delete rows straight from the orders table, so both
    the merge semantics and the diff classification are value-checked."""
    from ..sources.snapshots import snapshot_diff

    t = _snapdiff_table(spark, sf_dir)
    d = snapshot_diff(t, spark, 0, 1, keys=["o_orderkey"])
    return d.select(
        "change_op",
        "o_orderkey",
        F.col("new_values.o_orderstatus").alias("new_status"),
        F.col("new_values.price_r").alias("new_price_r"),
        F.col("old_values.price_r").alias("old_price_r"),
    ).orderBy("change_op", "o_orderkey")


def q_sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of single-probe LSH against the exact cosine baseline —
    the ANN quality dial (operators/similarity.recall_report). Both
    rankings are themselves gate-proven; the report is two tiny hash
    aggregations over queries x k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    approx = similarity.lsh_bucketed_topk(
        emb, queries, "vec_id", "embedding", k=5
    )
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=5
    )
    return similarity.recall_report(approx, exact)


def _ivfsq_path(sf_dir: str) -> str:
    """Index path for ``ivf_sq_topk``, which writes and fingerprints the
    index itself; only the directory is keyed on the embeddings input."""
    d = derived("ivfsq", [table_path(sf_dir, "embeddings")], lambda d: None)
    return os.path.join(d, "index")


def q_sim_ivf_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN layout: IVF partition pruning over
    symmetric int8-quantized codes (operators/similarity.ivf_sq_topk) —
    a probe reads one bucket directory of 4x-compressed codes and ranks
    by integer dot product."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    path = _ivfsq_path(sf_dir)
    return similarity.ivf_sq_topk(
        spark, path, emb, queries, "vec_id", "embedding", k=5, dim=64
    ).orderBy("query_id", "rnk")


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the production IVF+SQ layout against the exact
    cosine baseline at TWO probe settings (probe_flips 0 and 1) — the
    measured probe-count / recall trade-off dial (VERDICT r5 item 4):
    multi-probe reads x(1+bits) bucket directories and should close
    most of the single-probe recall gap. Rankings are gate-proven
    elsewhere; the report is per-query set intersections over
    queries x k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    path = _ivfsq_path(sf_dir)
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=10
    )
    parts = []
    for flips in (0, 1):
        approx = similarity.ivf_sq_topk(
            spark,
            path,
            emb,
            queries,
            "vec_id",
            "embedding",
            k=10,
            dim=64,
            probe_flips=flips,
        )
        parts.append(
            similarity.recall_report(approx, exact).withColumn(
                "probes", F.lit(flips).cast("int")
            )
        )
    return (
        parts[0]
        .unionByName(parts[1])
        .select("probes", "query_id", "hits", "k", "recall_r")
        .orderBy("probes", "query_id")
    )


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-ordered parts: top-20
    (a -> b) pairs by lift with exact support/confidence
    (operators/stats.basket_rules) — the pair space is basket-key-joined
    and capped, never an item cross join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return stats.basket_rules(
        li, "l_orderkey", "l_partkey", min_support_count=3, top_n=20
    )


def q_pipeline_score_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile-rank normalization of document quality
    scores (operators/stats.normalize_scores_per_group) — the curation
    step that makes one global quality threshold meaningful across
    sources whose raw score scales differ."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_features(
        docs.select("doc_id", "source", "text"), "text"
    ).select("doc_id", "source", F.round("q_score", 6).alias("q6"))
    out = stats.normalize_scores_per_group(scored, "source", "q6", "doc_id")
    return out.select(
        "doc_id", "source", F.col("q6").alias("q_r"), "pct_r"
    ).orderBy("doc_id")


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=1/2) of the daily mean event value
    (operators/timeseries.ewma_half): the recurrence runs as a per-key
    sequential fold, so it is cross-engine exact with no decimal routing
    — the smoothing level a monitoring pass reads per entity. The daily
    mean itself routes its sum through DECIMAL so the fold's inputs are
    order-independent."""
    from ..operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    return timeseries.ewma_half(daily, "user_id", "day", "m")


def q_pipeline_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: 4 md5-derived partner
    docs per document (operators/sampling.negative_pairs) — reproducible
    across runs/partitions/retries, no RNG."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return sampling.negative_pairs(docs, "doc_id", k=4)


def q_table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on the gate: v0 commits a 2-column
    orders slice, v1 appends rows WITH a new nullable column
    (allow_evolution). Reading v1 projects v0's files through the
    widened schema (old rows -> NULL in the new column); reading v0
    still sees the original 2 columns. The output aggregates both
    reads; the oracle recomputes each version's content from orders, so
    the widened-read NULL semantics are value-checked."""
    from ..sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders")
    v0_rows = orders.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    v1_rows = orders.where(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price_r"),
    )

    def build(d: str) -> None:
        t = SnapshotTable(d)
        t.append(v0_rows.repartition(4))
        t.append(v1_rows.repartition(4), allow_evolution=True)

    t = SnapshotTable(derived("snapevo", [table_path(sf_dir, "orders")], build))
    latest = t.read(spark, 1)
    by_status = latest.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("price_r").cast("bigint").alias("n_priced"),
        F.sum(F.col("price_r").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
    v0_read = t.read(spark, 0).agg(
        F.lit("__v0_total").alias("o_orderstatus"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(0).cast("bigint").alias("n_priced"),
        F.lit(None).cast("double").alias("sum_price"),
    )
    return by_status.unionByName(v0_read).orderBy("o_orderstatus")


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining — the funnel-DISCOVERY complement of
    events_funnel (which checks one known path): sessionize by the same
    30-minute gap rule as batch_sessionize, take each session's first 5
    event types in (ts, event_id) order as a path string, and rank the
    top 20 paths by frequency.

    Plan: the two sessionization windows and the path-collection
    aggregation all share ONE (user_id, ts) exchange; the path groupBy
    reduces to at most |distinct paths| rows (bounded by type-vocabulary
    ^5, and in practice by Zipf); top-k is TakeOrderedAndProject. At
    100 TB nothing after the per-session reduction touches raw events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_min = (
        F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    ) / 60
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(gap_min.isNull() | (gap_min > 30), 1)
        .otherwise(0)
        .alias("new_s"),
    )
    sess = flagged.withColumn("sid", F.sum("new_s").over(w))
    paths = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice(F.col("evs"), 1, 5), lambda e: e["event_type"]
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


def q_join_plan_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join planning reports (operators/joins.join_plan_advisor) for
    two join shapes: the lineitem-orders fact join and the events
    self-join on user_id — per-side rows/keys, the EXACT inner-join
    output cardinality, hottest-key multipliers, and the
    broadcast/salt/shuffle recommendation. Two narrow count-table
    passes per report; the raw tables never pair up."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    a = joins.join_plan_advisor(
        li, orders, "l_orderkey", "o_orderkey", broadcast_row_limit=10_000
    ).select(F.lit("lineitem~orders").alias("pair"), "*")
    b = joins.join_plan_advisor(
        ev, ev, "user_id", "user_id"
    ).select(F.lit("events~events").alias("pair"), "*")
    return a.unionByName(b).orderBy("pair")


def q_table_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven incremental view maintenance (operators/views): the
    per-status aggregate view materialized at snapshot v0 absorbs ONLY
    the snapshot_diff(0, 1) change set — never rescanning the table —
    and must land exactly on the view recomputed from v1, which is what
    the oracle derives from the orders table directly. The refresh cost
    is O(changes); the exactness comes from decimal delta algebra."""
    from ..operators import views
    from ..sources.snapshots import snapshot_diff

    t = _snapdiff_table(spark, sf_dir)
    view0 = views.agg_view(t.read(spark, 0), "o_orderstatus", "price_r")
    diff = snapshot_diff(t, spark, 0, 1, keys=["o_orderkey"])
    maintained = views.maintain_agg_view(
        view0, diff, "o_orderstatus", "price_r"
    )
    return maintained.select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("__sum_dec").cast("double"), 2).alias("sum_price_r"),
    ).orderBy("o_orderstatus")


def q_customers_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/20) revenue classification: customers ranked by
    total order revenue, classified A while cumulative share <= 50%, B
    while <= 80%, else C; one row per class with member count and the
    class's exact revenue share. Plan: the fact table reduces to
    per-customer decimal sums (one combiner-friendly shuffle); the
    cumulative share then rides the TWO-PHASE distributed prefix sum
    (operators/stats.two_phase_rank_cumsum over revenue-quantile
    chunks) — customer count scales with data, so a bare
    ``Window.orderBy(rev desc)`` would funnel every customer through
    ONE task; the chunked scan is bit-identical and every task is
    bounded by ~customers/32. Cross-engine exact: revenue is decimal,
    shares are single divisions of decimal-rooted doubles, and the
    rank tie-breaks on the customer key."""
    orders = load_table(spark, sf_dir, "orders")

    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev")
    )
    tot = per_cust.agg(F.sum("rev").alias("tot"))
    chunk = stats.quantile_chunks(per_cust, "rev", n_chunks=32, descending=True)
    ranked = (
        stats.two_phase_rank_cumsum(
            per_cust,
            "rev",
            chunk,
            tiebreak_cols=["o_custkey"],
            value_col="rev",
            descending=True,
            cum_col="cum",
        )
        .drop("__rn")
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


def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event-type
    sequence: P(next type | type) from lag pairs in strict (ts,
    event_id) order — the behavioral model behind events_top_paths'
    raw journeys. One (user, ts) exchange for the lag; the transition
    groupBy reduces to |types|² rows; probabilities are exact counts
    over exact row totals."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.select(
            F.col("event_type").alias("t_to"),
            F.lag("event_type").over(w).alias("t_from"),
        )
        .where(F.col("t_from").isNotNull())
        .groupBy("t_from", "t_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w2 = Window.partitionBy("t_from")
    return pairs.select(
        "t_from",
        "t_to",
        "n",
        F.round(F.col("n") / F.sum("n").over(w2), 6).alias("p_r"),
    ).orderBy("t_from", "t_to")


def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit analysis of order totals — the forensic
    anomaly screen for financial columns: observed share per leading
    digit vs the Benford expectation log10(1 + 1/d), with each digit's
    chi-square contribution. One combiner-friendly groupBy over a
    per-row digit expression; everything after is a 9-row table."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.substring(
        F.abs(F.col("o_totalprice")).cast("decimal(18,2)").cast("string"),
        1,
        1,
    ).cast("int")
    counts = (
        orders.select(d.alias("digit"))
        .where(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs = F.col("n") / F.col("total")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("obs_share_r"),
            F.round(expected, 6).alias("benford_r"),
            F.round(
                F.pow(obs - expected, 2) / expected * F.col("total"), 4
            ).alias("chi2_part_r"),
        )
        .orderBy("digit")
    )


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test on HIGH-VALUE purchase conversion
    (value > 180 — a rare event, so pooled rates stay inside (0,1) and
    the z statistic is defined), variant = user_id parity (the
    deterministic synthetic split): per-variant users and converters
    from ONE distinct-reduction of the event stream, then the pooled z
    statistic in closed form — experiment readout as exact counts plus
    one deterministic expression row."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            (F.col("user_id") % 2).cast("int").alias("variant"),
            ((F.col("event_type") == "purchase") & (F.col("value") > 180))
            .cast("int")
            .alias("p"),
        )
        .groupBy("user_id", "variant")
        .agg(F.max("p").alias("converted"))
    )
    stats = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    a = stats.where(F.col("variant") == 0).select(
        F.col("n_users").alias("na"), F.col("n_converted").alias("ca")
    )
    b = stats.where(F.col("variant") == 1).select(
        F.col("n_users").alias("nb"), F.col("n_converted").alias("cb")
    )
    j = a.crossJoin(F.broadcast(b))
    pa = F.col("ca") / F.col("na")
    pb = F.col("cb") / F.col("nb")
    pool = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb"))
    se = F.sqrt(
        pool * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
    )
    return j.select(
        "na",
        "ca",
        "nb",
        "cb",
        F.round(pa, 6).alias("rate_a_r"),
        F.round(pb, 6).alias("rate_b_r"),
        F.round((pa - pb) / se, 4).alias("z_r"),
    )


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-supply graph
    (operators/graph.link_prediction_jaccard): the top-20 non-adjacent
    supplier pairs by Jaccard coefficient — wedge-join candidates on the
    shared neighbor, never a node cross join. Same sparse edge
    definition as graph_triangles/pagerank."""
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.co_supply_edges(li).select(
        F.col("sa").alias("src"), F.col("sb").alias("dst")
    )
    return graph.link_prediction_jaccard(edges, top_n=20)


def q_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index by ship month: for each month, the ratio of
    what the BASE month's quantity basket would cost at current prices
    vs base prices — Sum(p_t * q_0) / Sum(p_0 * q_0) over parts present
    in the base month. The BI/econ index-number staple. Plan: per
    (month, part) decimal price/quantity aggregates (one
    combiner-friendly shuffle of the facts), base-month basket broadcast
    back, two decimal dot products per month."""
    li = load_table(spark, sf_dir, "lineitem")
    mp = li.select(
        F.date_format("l_shipdate", "yyyy-MM").alias("m"),
        "l_partkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
    )
    per = mp.groupBy("m", "l_partkey").agg(
        (F.sum("p").cast("double") / F.sum("q").cast("double")).alias(
            "unit_p"
        ),
        F.sum("q").cast("double").alias("qty"),
    )
    base_m = per.agg(F.min("m").alias("bm"))
    base = (
        per.join(F.broadcast(base_m), per["m"] == F.col("bm"))
        .select(
            "l_partkey",
            F.col("unit_p").alias("p0"),
            F.col("qty").alias("q0"),
        )
    )
    j = per.join(F.broadcast(base), "l_partkey")
    num = F.sum(
        F.round(F.col("unit_p") * F.col("q0"), 9).cast("decimal(28,9)")
    )
    den = F.sum(
        F.round(F.col("p0") * F.col("q0"), 9).cast("decimal(28,9)")
    )
    return (
        j.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                num.cast("double") / den.cast("double"), 6
            ).alias("index_r"),
        )
        .orderBy("m")
    )


def q_supplier_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue concentration — one row:
    supplier count, decimal total revenue, and the exact rank-weighted
    Gini ``(2·Sum(i·x_i) ) / (n·Sum(x)) - (n+1)/n`` over revenues sorted
    ascending (ties broken by supplier key, making the rank — and the
    statistic — fully deterministic). The facts reduce to per-supplier
    decimal sums; the global rank i then rides the two-phase
    distributed prefix count (operators/stats.two_phase_rank_cumsum
    over revenue-quantile chunks) — supplier count scales with data,
    so a bare global ``row_number()`` window would be ONE task; the
    chunked rank is bit-identical (Sum(i*x_i) decomposes over chunked
    prefix counts) with every task bounded by ~suppliers/32."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(
        F.sum(F.round("l_extendedprice", 2).cast("decimal(18,2)")).alias(
            "rev"
        )
    )
    chunk = stats.quantile_chunks(per, "rev", n_chunks=32)
    ranked = stats.two_phase_rank_cumsum(
        per, "rev", chunk, tiebreak_cols=["l_suppkey"], rn_col="i"
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.round(F.sum("rev").cast("double"), 2).alias("total_rev_r"),
        F.round(
            F.lit(2.0)
            * F.sum(
                (F.col("i") * F.col("rev")).cast("decimal(28,2)")
            ).cast("double")
            / (
                F.count(F.lit(1))
                * F.sum("rev").cast("double")
            )
            - (F.count(F.lit(1)) + F.lit(1))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("gini_r"),
    )


def q_join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time join (operators/scd.scd2_point_in_time_join):
    probe dates on both sides of the segment-history change date resolve
    to the dimension row valid AT that date — even customers probe
    before the change (original segment), odd ones after (updated
    segment where one exists). The disjoint-interval contract makes this
    a plain keyed join + residual, no as-of ranking."""
    from ..operators import scd

    c = load_table(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    updates = c.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 14 == 0, F.col("c_mktsegment"))
        .otherwise(
            F.concat(F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string"))
        )
        .alias("segment"),
        F.lit("2024-06-01").alias("eff"),
    )
    history = scd.scd2_apply(
        current, updates, ["c_custkey"], ["segment"], "eff"
    )
    probes = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 2 == 0, F.lit("2024-03-15"))
        .otherwise(F.lit("2024-08-15"))
        .alias("probe_date"),
    )
    out = scd.scd2_point_in_time_join(
        probes, history, ["c_custkey"], "probe_date"
    )
    return out.select("c_custkey", "probe_date", "segment").orderBy(
        "c_custkey"
    )


def q_lineitem_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style pattern detection (complex event
    processing) without the clause Spark lacks: per part, a V-shape is
    two strictly-falling prices followed by a recovery
    (p[-3] > p[-2] > p[-1] < p[0]) over the part's shipdate-ordered
    line items — a lag-chain flag, so the whole pattern engine is one
    partitioned window. Top-20 parts by V count."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("l_shipdate").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    p1 = F.lag("l_extendedprice", 1).over(w)
    p2 = F.lag("l_extendedprice", 2).over(w)
    p3 = F.lag("l_extendedprice", 3).over(w)
    flagged = li.select(
        "l_partkey",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("d"),
        ((p3 > p2) & (p2 > p1) & (p1 < F.col("l_extendedprice")))
        .cast("int")
        .alias("v"),
    )
    return (
        flagged.where(F.col("v") == 1)
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vshapes"),
            F.min("d").alias("first_v_date"),
        )
        .orderBy(F.col("n_vshapes").desc(), F.col("l_partkey").asc())
        .limit(20)
    )


def q_part_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE parity without recursion: the ancestor closure of
    the derived 10-ary part hierarchy (parent = partkey div 10) via
    unrolled level-joins (operators/graph.hierarchy_closure) — the org
    chart / bill-of-materials workload. Spark 4.1 gained a genuine WITH
    RECURSIVE, gate-checked as this query's execution-surface twin
    ``sql_recursive_cte`` (relational7); the unrolled form stays the
    known-depth scale strategy (each level one co-partitioned join
    Catalyst can reorder). Summarized per ancestor distance; the oracle
    runs the genuine WITH RECURSIVE in DuckDB, so the unrolled plan is
    proven equal to real recursion."""
    from ..operators import graph

    part = load_table(spark, sf_dir, "part")
    edges = (
        part.where(F.col("p_partkey") >= 1)
        .select(
            F.col("p_partkey").alias("child"),
            F.expr("p_partkey div 10").alias("parent"),
        )
        .where(F.col("parent") >= 1)
    )
    closure = graph.hierarchy_closure(edges, max_depth=6)
    return (
        closure.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("anc").cast("bigint").alias("n_ancestors"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy("dist")
    )


def _quintile(col_df, key, val, asc=True):
    """Integer-exact quintile per the equidepth rule over distinct values
    (ties keep together): 1 + (rows_before * 5) div n; descending metrics
    invert the value upstream so 5 is always "best".

    The exclusive cumulative count runs over the distinct-VALUE
    reduction, whose cardinality is bounded for recency (days) and
    frequency (order counts) but ~#customers for money — so instead of
    a bare ``Window.orderBy(v)`` (one task at scale) it rides the
    two-phase distributed prefix sum over value-quantile chunks
    (operators/stats.two_phase_rank_cumsum): bit-identical, every task
    bounded by ~values/32."""
    counts = col_df.groupBy(F.col(val).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    chunk = stats.quantile_chunks(counts, "v", n_chunks=32)
    cum = (
        stats.two_phase_rank_cumsum(counts, "v", chunk, value_col="c")
        .withColumn("cb", (F.col("__cum") - F.col("c")).cast("bigint"))
        .drop("__rn", "__cum")
    )
    tot = counts.agg(F.sum("c").cast("bigint").alias("n"))
    scored = cum.crossJoin(F.broadcast(tot)).select(
        F.col("v"), (F.expr("(cb * 5) div n") + F.lit(1)).alias("q")
    )
    return col_df.join(F.broadcast(scored), col_df[val] == scored["v"]).select(
        F.col(key), F.col("q")
    )


def q_customers_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics staple: per customer,
    Recency (days since last order, inverted so recent = 5), Frequency
    (order count), and Monetary (decimal revenue) each scored into
    integer-exact quintiles by the ties-keep-together equidepth rule,
    then segment cell counts. The fact table reduces once to one row
    per customer; each quintile scoring is a distinct-value window
    bounded by metric cardinality; scores join back by broadcast."""
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
        # negative day-gap: larger = more recent, so quintile 5 = best
        "rec_inv",
        -F.datediff(F.col("a"), F.col("last_d")).cast("bigint"),
    )
    r = _quintile(per.select("o_custkey", "rec_inv"), "o_custkey", "rec_inv")
    fq = _quintile(per.select("o_custkey", "freq"), "o_custkey", "freq")
    m = _quintile(per.select("o_custkey", "money"), "o_custkey", "money")
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


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diagnostics: pairwise vocabulary Jaccard between document
    sources — how much of each source's word inventory the others share
    (domain-shift signal before mixing). One distinct (source, word)
    reduction; pair intersections via a self-join on the word key;
    union sizes by inclusion-exclusion — exact integers plus one
    division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.transform(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: F.regexp_replace(w, "[^a-z]", ""),
        ),
        lambda w: w != "",
    )
    sv = (
        docs.select(F.col("source"), F.explode(toks).alias("w"))
        .distinct()
    )
    sizes = sv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = sv.select(F.col("source").alias("src_a"), "w")
    b = sv.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard_r"),
        )
        .orderBy("src_a", "src_b")
    )


QUERIES = {
    "feature_correlations": q_feature_correlations,
    "orders_pareto": q_orders_pareto,
    "join_fuzzy_match": q_join_fuzzy_match,
    "join_fuzzy_qgram": q_join_fuzzy_qgram,
    "sim_topk_int8": q_sim_topk_int8,
    "feature_bucketize": q_feature_bucketize,
    "table_snapshot_diff": q_table_snapshot_diff,
    "sim_recall_report": q_sim_recall_report,
    "sim_ivf_sq": q_sim_ivf_sq,
    "sim_ivf_recall": q_sim_ivf_recall,
    "basket_rules": q_basket_rules,
    "pipeline_score_normalize": q_pipeline_score_normalize,
    "events_ewma": q_events_ewma,
    "pipeline_negative_pairs": q_pipeline_negative_pairs,
    "table_schema_evolution": q_table_schema_evolution,
    "events_top_paths": q_events_top_paths,
    "join_plan_advisor": q_join_plan_advisor,
    "table_incremental_view": q_table_incremental_view,
    "customers_abc": q_customers_abc,
    "events_markov": q_events_markov,
    "orders_benford": q_orders_benford,
    "events_ab_test": q_events_ab_test,
    "graph_link_prediction": q_graph_link_prediction,
    "price_index_laspeyres": q_price_index_laspeyres,
    "supplier_gini": q_supplier_gini,
    "join_scd2_pit": q_join_scd2_pit,
    "lineitem_vshape": q_lineitem_vshape,
    "part_hierarchy_closure": q_part_hierarchy_closure,
    "customers_rfm": q_customers_rfm,
    "source_vocab_overlap": q_source_vocab_overlap,
}

# --- oracle SQL ---------------------------------------------------------

_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(sorted(_CORR_COLS))
    for b in sorted(_CORR_COLS)[i + 1 :]
]

_DIM = 64

# Symmetric int8 quantization, unrolled per dimension (embedding[i] is
# 1-based in DuckDB). Mirrors operators/similarity.sq_int8_quantize
# exactly: double math, one global scale, half-away-from-zero round.
_SQ_STATS = "greatest(" + ", ".join(
    f"max(abs(CAST(embedding[{i + 1}] AS DOUBLE)))" for i in range(_DIM)
) + ") AS gmax"
_SQ_CODES = ", ".join(
    f"CAST(CASE WHEN gmax > 0 THEN "
    f"round(CAST(embedding[{i + 1}] AS DOUBLE) * 127.0 / gmax) "
    f"ELSE 0.0 END AS INTEGER)"
    for i in range(_DIM)
)
_SQ_DOT = " + ".join(
    f"CAST(a.qv[{i + 1}] AS BIGINT) * b.qv[{i + 1}]" for i in range(_DIM)
)

ORACLES = {
    "feature_correlations": "\nUNION ALL\n".join(
        f"""
        SELECT '{a}' AS col_a, '{b}' AS col_b,
               COUNT(*) AS n, round(corr({a}, {b}), 6) AS corr_r
        FROM lineitem
        """
        for a, b in _CORR_PAIRS
    )
    + "\nORDER BY col_a, col_b",
    "orders_pareto": """
        WITH dmax AS (
            SELECT o_orderdate AS d, max(o_totalprice) AS m
            FROM orders GROUP BY 1
        ),
        r AS (
            SELECT d, m,
                   max(m) OVER (
                       ORDER BY d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS later
            FROM dmax
        )
        SELECT o.o_orderkey,
               CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS order_date,
               round(o.o_totalprice, 2) AS price_r
        FROM orders o
        JOIN r ON o.o_orderdate = r.d AND o.o_totalprice = r.m
        WHERE r.later IS NULL OR r.m > r.later
        ORDER BY o_orderkey
    """,
    "join_fuzzy_qgram": """
        -- mirrors operators/joins.fuzzy_best_match(blocking='qgram'):
        -- DISTINCT-NAME generation (ADVICE r11: gram document frequency
        -- over distinct names, matching the r11 collapse, not per row),
        -- rarity-prefix positional grams for the ED-Join guarantee
        -- regime, the '####' length-class fallback for names below it,
        -- and the per-name winner broadcast back onto left rows.
        WITH lrows AS (
            SELECT p_partkey AS out_left_id, p_name AS name_l
            FROM part WHERE p_partkey % 2 = 0
        ),
        dl AS (SELECT DISTINCT name_l FROM lrows),
        dr AS (
            SELECT p_name AS name_r, MIN(p_partkey) AS right_id
            FROM part WHERE p_partkey % 2 = 1 GROUP BY p_name
        ),
        lg AS (
            SELECT name_l, length(name_l) AS len_l,
                   unnest(list_transform(
                       generate_series(0, greatest(length(name_l) - 3, 0)),
                       p -> struct_pack(
                           g := substring(name_l, p + 1, 3), p := p)
                   )) AS e
            FROM dl
        ),
        rg AS (
            SELECT right_id, name_r, length(name_r) AS len_r,
                   unnest(list_transform(
                       generate_series(0, greatest(length(name_r) - 3, 0)),
                       p -> struct_pack(
                           g := substring(name_r, p + 1, 3), p := p)
                   )) AS e
            FROM dr
        ),
        occ AS (
            SELECT DISTINCT e.g AS g, 'L' || name_l AS n FROM lg
            UNION
            SELECT DISTINCT e.g AS g, 'R' || name_r AS n FROM rg
        ),
        dfreq AS (SELECT g, COUNT(*) AS df FROM occ GROUP BY g),
        lpfx AS (
            SELECT name_l, len_l, lg.e.g AS g, lg.e.p AS p,
                   row_number() OVER (
                       PARTITION BY name_l
                       ORDER BY dfreq.df ASC, lg.e.g ASC, lg.e.p ASC
                   ) AS pr
            FROM lg JOIN dfreq ON lg.e.g = dfreq.g
        ),
        rpfx AS (
            SELECT right_id, name_r, len_r, rg.e.g AS g, rg.e.p AS p,
                   row_number() OVER (
                       PARTITION BY name_r
                       ORDER BY dfreq.df ASC, rg.e.g ASC, rg.e.p ASC
                   ) AS pr
            FROM rg JOIN dfreq ON rg.e.g = dfreq.g
        ),
        lp AS (
            SELECT DISTINCT name_l, len_l, g, (p // 4) + probes.d AS pb
            FROM lpfx, (VALUES (-1), (0), (1)) AS probes(d)
            WHERE pr <= 10 AND (p // 4) + probes.d >= 0
            UNION
            SELECT DISTINCT name_l, length(name_l) AS len_l,
                   '####' AS g,
                   (length(name_l) // 4) + probes.d AS pb
            FROM dl, (VALUES (-1), (0), (1)) AS probes(d)
            WHERE length(name_l) <= 14
              AND (length(name_l) // 4) + probes.d >= 0
        ),
        rp AS (
            SELECT DISTINCT right_id, name_r, len_r, g, p // 4 AS pb
            FROM rpfx WHERE pr <= 10
            UNION
            SELECT right_id, name_r, length(name_r) AS len_r,
                   '####' AS g, length(name_r) // 4 AS pb
            FROM dr WHERE length(name_r) <= 14
        ),
        rc AS (
            SELECT g, pb FROM rp GROUP BY g, pb
            HAVING COUNT(*) <= 10000
        ),
        rpk AS (SELECT rp.* FROM rp JOIN rc USING (g, pb)),
        cand AS (
            SELECT DISTINCT name_l, right_id, name_r,
                   levenshtein(name_l, name_r) AS dist
            FROM lp JOIN rpk
              ON lp.g = rpk.g AND lp.pb = rpk.pb
             AND abs(len_l - len_r) <= 3
        ),
        best AS (
            SELECT *, row_number() OVER (
                       PARTITION BY name_l
                       ORDER BY dist ASC, right_id ASC
                   ) AS rk
            FROM cand WHERE dist <= 3
        )
        SELECT lrows.out_left_id AS left_id, best.right_id,
               best.name_l, best.name_r, best.dist
        FROM lrows JOIN best ON lrows.name_l = best.name_l
        WHERE best.rk = 1 ORDER BY left_id
    """,
    "join_fuzzy_match": """
        WITH l AS (
            SELECT p_partkey AS left_id, p_name AS name_l,
                   unnest(list_distinct(list_slice(
                       list_reverse(string_split(p_name, ' ')), 1, 2
                   ))) AS blk,
                   length(p_name) AS len_l
            FROM part WHERE p_partkey % 2 = 0
        ),
        r AS (
            SELECT p_partkey AS right_id, p_name AS name_r,
                   unnest(list_distinct(list_slice(
                       list_reverse(string_split(p_name, ' ')), 1, 2
                   ))) AS blk,
                   length(p_name) AS len_r
            FROM part WHERE p_partkey % 2 = 1
        ),
        cand AS (
            SELECT DISTINCT left_id, right_id, name_l, name_r,
                   levenshtein(name_l, name_r) AS dist
            FROM l JOIN r
              ON l.blk = r.blk AND abs(l.len_l - r.len_r) <= 3
        ),
        best AS (
            SELECT *, row_number() OVER (
                       PARTITION BY left_id
                       ORDER BY dist ASC, right_id ASC
                   ) AS rk
            FROM cand WHERE dist <= 3
        )
        SELECT left_id, right_id, name_l, name_r, dist
        FROM best WHERE rk = 1 ORDER BY left_id
    """,
    "sim_topk_int8": f"""
        WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
        q AS (
            SELECT vec_id, [{_SQ_CODES}] AS qv
            FROM embeddings CROSS JOIN stats
        ),
        scored AS (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   {_SQ_DOT} AS qdot
            FROM q a JOIN q b
              ON b.vec_id < 10 AND a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT query_id, corpus_id, qdot,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY qdot DESC, corpus_id ASC
                   ) AS rnk
            FROM scored
        )
        SELECT query_id, corpus_id, qdot, rnk FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    "feature_bucketize": """
        WITH v AS (
            SELECT round(l_extendedprice, -2) AS val FROM lineitem
        ),
        c AS (SELECT val, COUNT(*) AS c FROM v GROUP BY val),
        cum AS (
            SELECT val, c,
                   CAST(COALESCE(SUM(c) OVER (
                       ORDER BY val
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cb
            FROM c
        ),
        t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c)
        SELECT (cb * 10) // n + 1 AS bucket,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               min(val) AS min_v, max(val) AS max_v
        FROM cum CROSS JOIN t
        GROUP BY 1 ORDER BY 1
    """,
    "table_snapshot_diff": """
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   round(o_totalprice, 2) AS price_r
            FROM orders WHERE o_orderkey % 5 <> 4
        )
        SELECT 'insert' AS change_op, o_orderkey,
               o_orderstatus AS new_status,
               round(o_totalprice, 2) AS new_price_r,
               CAST(NULL AS DOUBLE) AS old_price_r
        FROM orders
        WHERE o_orderkey % 5 = 4 AND o_orderkey % 3 = 0
        UNION ALL
        SELECT 'update', o_orderkey, o_orderstatus,
               price_r + 1.0, price_r
        FROM base
        WHERE o_orderkey % 37 = 0 AND o_orderkey % 41 <> 0
        UNION ALL
        SELECT 'delete', o_orderkey, CAST(NULL AS VARCHAR),
               CAST(NULL AS DOUBLE), price_r
        FROM base
        WHERE o_orderkey % 41 = 0
        ORDER BY change_op, o_orderkey
    """,
}

# Shared SQL fragments for the ANN oracles below.
_RDOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)
_RBUCKET = "CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END + CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END + CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END + CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END + CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END"


# Recall@5: both rankings rebuilt in SQL (the same CTE shapes the
# sim_topk_bruteforce / sim_topk_lsh oracles use), then a per-query set
# intersection — integer-exact except one rounded division.
ORACLES["sim_recall_report"] = f"""
    WITH exact AS (
        SELECT query_id, corpus_id FROM (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({_RDOT}, 6) DESC, a.vec_id ASC
                   ) AS rnk
            FROM embeddings a JOIN embeddings b
              ON b.vec_id < 10 AND a.vec_id <> b.vec_id
        ) WHERE rnk <= 5
    ),
    bucketed AS (
        SELECT vec_id, embedding, {_RBUCKET} AS bucket FROM embeddings
    ),
    approx AS (
        SELECT query_id, corpus_id FROM (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({_RDOT}, 6) DESC, a.vec_id ASC
                   ) AS rnk
            FROM bucketed a JOIN bucketed b
              ON a.bucket = b.bucket AND b.vec_id < 10
                 AND a.vec_id <> b.vec_id
        ) WHERE rnk <= 5
    ),
    h AS (
        SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
        FROM exact e JOIN approx x
          ON e.query_id = x.query_id AND e.corpus_id = x.corpus_id
        GROUP BY 1
    ),
    kk AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM exact GROUP BY 1
    )
    SELECT kk.query_id, COALESCE(h.hits, 0) AS hits, kk.k,
           round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / kk.k, 6) AS recall_r
    FROM kk LEFT JOIN h ON kk.query_id = h.query_id
    ORDER BY kk.query_id
"""

# IVF + int8 SQ composition: same quantized codes as sim_topk_int8,
# candidates restricted to the query's sign bucket.
ORACLES["sim_ivf_sq"] = f"""
    WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
    q AS (
        SELECT vec_id, [{_SQ_CODES}] AS qv, {_RBUCKET} AS bucket
        FROM embeddings CROSS JOIN stats
    ),
    scored AS (
        SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
               {_SQ_DOT} AS qdot
        FROM q a JOIN q b
          ON a.bucket = b.bucket AND b.vec_id < 10
             AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT query_id, corpus_id, qdot,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY qdot DESC, corpus_id ASC
               ) AS rnk
        FROM scored
    )
    SELECT query_id, corpus_id, qdot, rnk FROM ranked
    WHERE rnk <= 5 ORDER BY query_id, rnk
"""

# IVF+SQ recall@10 vs exact cosine at probe_flips 0 and 1 (multi-probe
# = the query's bucket plus all hamming-distance-1 buckets).
ORACLES["sim_ivf_recall"] = f"""
    WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
    q AS (
        SELECT vec_id, [{_SQ_CODES}] AS qv, {_RBUCKET} AS bucket
        FROM embeddings CROSS JOIN stats
    ),
    exact AS (
        SELECT query_id, corpus_id FROM (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({_RDOT}, 6) DESC, a.vec_id ASC
                   ) AS rnk
            FROM embeddings a JOIN embeddings b
              ON b.vec_id < 10 AND a.vec_id <> b.vec_id
        ) WHERE rnk <= 10
    ),
    approx AS (
        SELECT probes, query_id, corpus_id FROM (
            SELECT p.probes, b.vec_id AS query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.probes, b.vec_id
                       ORDER BY {_SQ_DOT} DESC, a.vec_id ASC
                   ) AS rnk
            FROM q a
            JOIN q b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
            JOIN (SELECT 0 AS probes UNION ALL SELECT 1) p
              ON a.bucket = b.bucket
                 OR (p.probes = 1 AND xor(a.bucket, b.bucket)
                     IN (1, 2, 4, 8, 16, 32, 64, 128))
        ) WHERE rnk <= 10
    ),
    kk AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM exact GROUP BY 1
    ),
    h AS (
        SELECT x.probes, e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
        FROM exact e JOIN approx x
          ON e.query_id = x.query_id AND e.corpus_id = x.corpus_id
        GROUP BY 1, 2
    )
    SELECT p.probes, kk.query_id,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, kk.k,
           round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / kk.k, 6) AS recall_r
    FROM (SELECT 0 AS probes UNION ALL SELECT 1) p
    CROSS JOIN kk
    LEFT JOIN h ON h.probes = p.probes AND h.query_id = kk.query_id
    ORDER BY p.probes, kk.query_id
"""


ORACLES["basket_rules"] = """
    WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    keep AS (SELECT b FROM bi GROUP BY b HAVING COUNT(*) <= 100),
    bi2 AS (SELECT bi.b, bi.i FROM bi JOIN keep USING (b)),
    nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM bi2),
    fr AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi2 GROUP BY i),
    pr AS (
        SELECT l.i AS item_a, r.i AS item_b,
               CAST(COUNT(*) AS BIGINT) AS co
        FROM bi2 l JOIN bi2 r ON l.b = r.b AND l.i <> r.i
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT item_a, item_b, co,
           round(co / CAST(n_baskets AS DOUBLE), 6) AS support_r,
           round(co / CAST(fa.cnt AS DOUBLE), 6) AS confidence_r,
           round((co * n_baskets) / CAST(fa.cnt * fb.cnt AS DOUBLE), 6)
               AS lift_r
    FROM pr
    JOIN fr fa ON fa.i = pr.item_a
    JOIN fr fb ON fb.i = pr.item_b
    CROSS JOIN nb
    ORDER BY lift_r DESC, item_a ASC, item_b ASC
    LIMIT 20
"""

# Quality-score formula shared with pipeline2's _QSCORE (same CTE text).
from .pipeline2 import _QSCORE as _P2_QSCORE

ORACLES["pipeline_score_normalize"] = f"""
    WITH {_P2_QSCORE},
    s AS (
        SELECT qs.doc_id, d.source, round(qs.q_score, 6) AS q6
        FROM qs JOIN documents d ON d.doc_id = qs.doc_id
    ),
    r AS (
        SELECT doc_id, source, q6,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY q6 ASC, doc_id ASC
               ) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM s
    )
    SELECT doc_id, source, q6 AS q_r,
           round(CASE WHEN n > 1
                      THEN (rk - 1) / CAST(n - 1 AS DOUBLE)
                      ELSE 0.0 END, 6) AS pct_r
    FROM r ORDER BY doc_id
"""


ORACLES["events_ewma"] = """
    WITH d AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                   AS m
        FROM events GROUP BY 1, 2
    ),
    arr AS (
        SELECT user_id,
               list_transform(
                   list_sort(list(struct_pack(o := day, v := m))),
                   p -> p.v) AS vals
        FROM d GROUP BY user_id
    )
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_points,
           round(vals[-1], 6) AS last_r,
           round(list_reduce(vals, (acc, x) -> acc / 2.0 + x / 2.0), 6)
               AS ewma_r
    FROM arr ORDER BY user_id
"""

ORACLES["pipeline_negative_pairs"] = """
    WITH n AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS nn FROM documents),
    slots AS (SELECT unnest(generate_series(1, 4)) AS slot),
    c AS (
        SELECT d.doc_id AS anchor, slots.slot,
               CAST(concat('0x', substr(
                   md5(d.doc_id || ':' || slots.slot), 1, 15)) AS BIGINT)
                   % nn AS cand
        FROM documents d CROSS JOIN n CROSS JOIN slots
    ),
    fixed AS (
        SELECT anchor, slot,
               CASE WHEN cand = anchor THEN (cand + 1) % (SELECT nn FROM n)
                    ELSE cand END AS cand
        FROM c
    )
    SELECT f.anchor AS doc_id, CAST(f.slot AS INTEGER) AS slot,
           f.cand AS neg_id
    FROM fixed f JOIN documents r ON r.doc_id = f.cand
    ORDER BY doc_id, slot
"""


ORACLES["table_schema_evolution"] = """
    WITH v0 AS (
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0
    ),
    v1new AS (
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price_r
        FROM orders WHERE o_orderkey % 3 = 1
    ),
    latest AS (
        SELECT o_orderstatus, CAST(NULL AS DOUBLE) AS price_r FROM v0
        UNION ALL
        SELECT o_orderstatus, price_r FROM v1new
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(price_r) AS BIGINT) AS n_priced,
           CAST(SUM(CAST(price_r AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM latest GROUP BY o_orderstatus
    UNION ALL
    SELECT '__v0_total', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM v0
    ORDER BY o_orderstatus
"""


ORACLES["events_top_paths"] = """
    WITH o AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) / 60.0
                            > 30
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    s AS (
        SELECT *, SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS sid
        FROM o
    ),
    p AS (
        SELECT array_to_string(
                   list_transform(
                       list_sort(list(struct_pack(
                           ts := ts, event_id := event_id,
                           t := event_type)))[1:5],
                       e -> e.t),
                   '>') AS path
        FROM s GROUP BY user_id, sid
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 20
"""


ORACLES["join_plan_advisor"] = """
    WITH lc AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
    oc AS (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
    ec AS (SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1),
    rep1 AS (
        SELECT 'lineitem~orders' AS pair,
               (SELECT CAST(SUM(c) AS BIGINT) FROM lc) AS l_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lc) AS l_keys,
               (SELECT CAST(SUM(c) AS BIGINT) FROM oc) AS r_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM oc) AS r_keys,
               (SELECT CAST(COALESCE(SUM(lc.c * oc.c), 0) AS BIGINT)
                FROM lc JOIN oc USING (k)) AS out_rows,
               (SELECT round(MAX(c) * COUNT(*) / CAST(SUM(c) AS DOUBLE), 3)
                FROM lc) AS l_hot_x_mean_r,
               (SELECT round(MAX(c) * COUNT(*) / CAST(SUM(c) AS DOUBLE), 3)
                FROM oc) AS r_hot_x_mean_r
    ),
    rep2 AS (
        SELECT 'events~events' AS pair,
               (SELECT CAST(SUM(c) AS BIGINT) FROM ec) AS l_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ec) AS l_keys,
               (SELECT CAST(SUM(c) AS BIGINT) FROM ec) AS r_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ec) AS r_keys,
               (SELECT CAST(SUM(c * c) AS BIGINT) FROM ec) AS out_rows,
               (SELECT round(MAX(c) * COUNT(*) / CAST(SUM(c) AS DOUBLE), 3)
                FROM ec) AS l_hot_x_mean_r,
               (SELECT round(MAX(c) * COUNT(*) / CAST(SUM(c) AS DOUBLE), 3)
                FROM ec) AS r_hot_x_mean_r
    ),
    reps AS (SELECT * FROM rep1 UNION ALL SELECT * FROM rep2)
    SELECT pair, l_rows, l_keys, r_rows, r_keys, out_rows,
           l_hot_x_mean_r, r_hot_x_mean_r,
           CASE WHEN pair = 'lineitem~orders' THEN
                    CASE WHEN r_rows <= 10000 THEN 'broadcast_right'
                         WHEN l_rows <= 10000 THEN 'broadcast_left'
                         WHEN l_hot_x_mean_r > 10.0
                              OR r_hot_x_mean_r > 10.0 THEN 'salt'
                         ELSE 'shuffle' END
                ELSE
                    CASE WHEN r_rows <= 1000000 THEN 'broadcast_right'
                         WHEN l_rows <= 1000000 THEN 'broadcast_left'
                         WHEN l_hot_x_mean_r > 10.0
                              OR r_hot_x_mean_r > 10.0 THEN 'salt'
                         ELSE 'shuffle' END
           END AS recommendation
    FROM reps ORDER BY pair
"""


ORACLES["table_incremental_view"] = """
    WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               round(o_totalprice, 2) AS price_r
        FROM orders WHERE o_orderkey % 5 <> 4
    ),
    v1 AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 37 = 0 THEN price_r + 1.0
                    ELSE price_r END AS price_r
        FROM base WHERE o_orderkey % 41 <> 0
        UNION ALL
        SELECT o_orderstatus, round(o_totalprice, 2)
        FROM orders
        WHERE o_orderkey % 5 = 4 AND o_orderkey % 3 = 0
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           round(CAST(SUM(CAST(price_r AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_price_r
    FROM v1 GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


ORACLES["customers_abc"] = """
    WITH pc AS (
        SELECT o_custkey,
               SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    ),
    t AS (SELECT SUM(rev) AS tot FROM pc),
    r AS (
        SELECT o_custkey, rev,
               SUM(rev) OVER (
                   ORDER BY rev DESC, o_custkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM pc
    ),
    cl AS (
        SELECT rev,
               CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)
                         <= 0.5 THEN 'A'
                    WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)
                         <= 0.8 THEN 'B'
                    ELSE 'C' END AS cls,
               tot
        FROM r CROSS JOIN t
    )
    SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6)
               AS rev_share_r
    FROM cl GROUP BY cls ORDER BY cls
"""

ORACLES["events_markov"] = """
    WITH p AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS t_from,
               event_type AS t_to
        FROM events
    ),
    c AS (
        SELECT t_from, t_to, CAST(COUNT(*) AS BIGINT) AS n
        FROM p WHERE t_from IS NOT NULL GROUP BY 1, 2
    )
    SELECT t_from, t_to, n,
           round(n / CAST(SUM(n) OVER (PARTITION BY t_from) AS DOUBLE), 6)
               AS p_r
    FROM c ORDER BY t_from, t_to
"""


ORACLES["orders_benford"] = """
    WITH c AS (
        SELECT CAST(substr(CAST(CAST(abs(o_totalprice) AS DECIMAL(18,2))
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY 1 HAVING digit >= 1
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT digit, n,
           round(n / CAST(total AS DOUBLE), 6) AS obs_share_r,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_r,
           round(pow(n / CAST(total AS DOUBLE)
                     - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit) * total, 4) AS chi2_part_r
    FROM c CROSS JOIN t ORDER BY digit
"""

ORACLES["events_ab_test"] = """
    WITH pu AS (
        SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value > 180
                        THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM pu GROUP BY 1
    ),
    a AS (SELECT n_users AS na, n_converted AS ca FROM s WHERE variant = 0),
    b AS (SELECT n_users AS nb, n_converted AS cb FROM s WHERE variant = 1)
    SELECT na, ca, nb, cb,
           round(ca / CAST(na AS DOUBLE), 6) AS rate_a_r,
           round(cb / CAST(nb AS DOUBLE), 6) AS rate_b_r,
           round((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
                 / sqrt((ca + cb) / CAST(na + nb AS DOUBLE)
                        * (1.0 - (ca + cb) / CAST(na + nb AS DOUBLE))
                        * (1.0 / na + 1.0 / nb)), 4) AS z_r
    FROM a CROSS JOIN b
"""


ORACLES["graph_link_prediction"] = """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                WHERE l_partkey % 50 = 0),
    e AS (
        SELECT a.l_suppkey AS a, b.l_suppkey AS b
        FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY 1),
    w AS (
        SELECT l.b AS u, r.b AS v, CAST(COUNT(*) AS BIGINT) AS common
        FROM sym l JOIN sym r ON l.a = r.a AND l.b < r.b
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT w.u AS a, w.v AS b, w.common
        FROM w ANTI JOIN e ON e.a = w.u AND e.b = w.v
    )
    SELECT cand.a, cand.b, common,
           da.deg AS deg_a, db.deg AS deg_b,
           round(common / CAST(da.deg + db.deg - common AS DOUBLE), 6)
               AS jaccard_r
    FROM cand
    JOIN deg da ON da.n = cand.a
    JOIN deg db ON db.n = cand.b
    ORDER BY jaccard_r DESC, a ASC, b ASC
    LIMIT 20
"""


ORACLES["price_index_laspeyres"] = """
    WITH per AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS m, l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS unit_p,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    bm AS (SELECT MIN(m) AS bm FROM per),
    base AS (
        SELECT l_partkey, unit_p AS p0, qty AS q0
        FROM per JOIN bm ON per.m = bm.bm
    )
    SELECT per.m, CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(
               CAST(SUM(CAST(round(per.unit_p * base.q0, 9)
                             AS DECIMAL(28,9))) AS DOUBLE)
               / CAST(SUM(CAST(round(base.p0 * base.q0, 9)
                               AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS index_r
    FROM per JOIN base USING (l_partkey)
    GROUP BY per.m ORDER BY per.m
"""

ORACLES["supplier_gini"] = """
    WITH per AS (
        SELECT l_suppkey,
               SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS rev
        FROM lineitem GROUP BY 1
    ),
    r AS (
        SELECT rev, ROW_NUMBER() OVER (
                   ORDER BY rev ASC, l_suppkey ASC) AS i
        FROM per
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           round(CAST(SUM(rev) AS DOUBLE), 2) AS total_rev_r,
           round(2.0 * CAST(SUM(CAST(i * rev AS DECIMAL(28,2)))
                            AS DOUBLE)
                 / (COUNT(*) * CAST(SUM(rev) AS DOUBLE))
                 - (COUNT(*) + 1) / CAST(COUNT(*) AS DOUBLE), 6)
               AS gini_r
    FROM r
"""


ORACLES["join_scd2_pit"] = """
    WITH cur AS (
        SELECT c_custkey, c_mktsegment AS segment,
               '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
        FROM customer
    ),
    upd AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 14 = 0 THEN c_mktsegment
                    ELSE 'SEG_' || CAST(c_custkey % 3 AS VARCHAR) END
                   AS u_seg,
               '2024-06-01' AS eff
        FROM customer WHERE c_custkey % 7 = 0
    ),
    j AS (
        SELECT cur.c_custkey, cur.segment, cur.valid_from, cur.valid_to,
               upd.u_seg, upd.eff
        FROM cur LEFT JOIN upd USING (c_custkey)
    ),
    hist AS (
        SELECT c_custkey, segment, valid_from, eff AS valid_to
        FROM j WHERE eff IS NOT NULL AND u_seg IS DISTINCT FROM segment
        UNION ALL
        SELECT c_custkey, segment, valid_from, valid_to
        FROM j WHERE eff IS NULL OR u_seg IS NOT DISTINCT FROM segment
        UNION ALL
        SELECT c_custkey, u_seg, eff, NULL
        FROM j WHERE eff IS NOT NULL AND u_seg IS DISTINCT FROM segment
    ),
    probes AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 2 = 0 THEN '2024-03-15'
                    ELSE '2024-08-15' END AS probe_date
        FROM customer
    )
    SELECT p.c_custkey, p.probe_date, h.segment
    FROM probes p JOIN hist h ON h.c_custkey = p.c_custkey
    WHERE h.valid_from <= p.probe_date
      AND (h.valid_to IS NULL OR p.probe_date < h.valid_to)
    ORDER BY p.c_custkey
"""

ORACLES["lineitem_vshape"] = """
    WITH f AS (
        SELECT l_partkey, strftime(l_shipdate, '%Y-%m-%d') AS d,
               CASE WHEN lag(l_extendedprice, 3) OVER w
                         > lag(l_extendedprice, 2) OVER w
                     AND lag(l_extendedprice, 2) OVER w
                         > lag(l_extendedprice, 1) OVER w
                     AND lag(l_extendedprice, 1) OVER w < l_extendedprice
                    THEN 1 ELSE 0 END AS v
        FROM lineitem
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY l_shipdate ASC, l_orderkey ASC,
                              l_linenumber ASC)
    )
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_vshapes,
           MIN(d) AS first_v_date
    FROM f WHERE v = 1
    GROUP BY l_partkey
    ORDER BY n_vshapes DESC, l_partkey ASC
    LIMIT 20
"""


ORACLES["part_hierarchy_closure"] = """
    WITH RECURSIVE e AS (
        SELECT p_partkey AS child, p_partkey // 10 AS parent
        FROM part WHERE p_partkey >= 1 AND p_partkey // 10 >= 1
    ),
    clo AS (
        SELECT child AS node, parent AS anc, 1 AS dist FROM e
        UNION ALL
        SELECT clo.node, e.parent, clo.dist + 1
        FROM clo JOIN e ON e.child = clo.anc
    )
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT anc) AS BIGINT) AS n_ancestors,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM clo GROUP BY dist ORDER BY dist
"""


ORACLES["customers_rfm"] = """
    WITH per AS (
        SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                    AS DOUBLE) AS money
        FROM orders GROUP BY 1
    ),
    anch AS (SELECT MAX(last_d) AS a FROM per),
    base AS (
        SELECT o_custkey,
               -CAST(date_diff('day', last_d, a) AS BIGINT) AS rec_inv,
               freq, money
        FROM per CROSS JOIN anch
    ),
    rq AS (
        SELECT v, 1 + (cb * 5) // n AS q FROM (
            SELECT v, CAST(COALESCE(SUM(c) OVER (
                       ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS cb,
                   CAST(SUM(c) OVER () AS BIGINT) AS n
            FROM (SELECT rec_inv AS v, COUNT(*) AS c FROM base GROUP BY 1)
        )
    ),
    fqq AS (
        SELECT v, 1 + (cb * 5) // n AS q FROM (
            SELECT v, CAST(COALESCE(SUM(c) OVER (
                       ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS cb,
                   CAST(SUM(c) OVER () AS BIGINT) AS n
            FROM (SELECT freq AS v, COUNT(*) AS c FROM base GROUP BY 1)
        )
    ),
    mq AS (
        SELECT v, 1 + (cb * 5) // n AS q FROM (
            SELECT v, CAST(COALESCE(SUM(c) OVER (
                       ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS cb,
                   CAST(SUM(c) OVER () AS BIGINT) AS n
            FROM (SELECT money AS v, COUNT(*) AS c FROM base GROUP BY 1)
        )
    )
    SELECT rq.q AS r, fqq.q AS f, mq.q AS m,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM base
    JOIN rq ON rq.v = base.rec_inv
    JOIN fqq ON fqq.v = base.freq
    JOIN mq ON mq.v = base.money
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

ORACLES["source_vocab_overlap"] = """
    WITH sv AS (
        SELECT DISTINCT source,
               unnest(list_filter(list_transform(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   w -> regexp_replace(w, '[^a-z]', '', 'g')),
                   w -> w <> '')) AS w
        FROM documents
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM sv GROUP BY 1),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
           round(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6)
               AS jaccard_r
    FROM inter
    JOIN sizes sa ON sa.source = inter.src_a
    JOIN sizes sb ON sb.source = inter.src_b
    ORDER BY src_a, src_b
"""


def q_orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per order priority — the BI
    period-over-period staple: orders reduce once to (priority, month)
    decimal revenue cells (bounded cardinality), then the growth lag
    window runs OVER THAT AGGREGATE partitioned by priority — the
    documented-safe window shape; first months (no prior) are excluded
    rather than emitted as nulls."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        ),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev"),
    )
    w = Window.partitionBy("priority").orderBy("month")
    g = m.withColumn("prev", F.lag("rev").over(w)).where(
        F.col("prev").isNotNull()
    )
    return g.select(
        "priority",
        "month",
        "n_orders",
        F.round(F.col("rev").cast("double"), 2).alias("rev_r"),
        F.round(
            (F.col("rev").cast("double") - F.col("prev").cast("double"))
            / F.col("prev").cast("double"),
            6,
        ).alias("mom_r"),
    ).orderBy("priority", "month")


QUERIES["orders_mom_growth"] = q_orders_mom_growth

ORACLES["orders_mom_growth"] = """
    WITH m AS (
        SELECT o_orderpriority AS priority,
               strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1, 2
    ),
    g AS (
        SELECT *, lag(rev) OVER (
                   PARTITION BY priority ORDER BY month) AS prev
        FROM m
    )
    SELECT priority, month, n_orders,
           round(CAST(rev AS DOUBLE), 2) AS rev_r,
           round((CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE))
                 / CAST(prev AS DOUBLE), 6) AS mom_r
    FROM g WHERE prev IS NOT NULL
    ORDER BY priority, month
"""


def q_events_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline + anomaly screen per event type
    (operators/timeseries.seasonal_profile_anomalies): daily decimal
    totals reduce the facts once; each weekday's mean/stddev forms the
    seasonal expectation; days beyond 2 sigma of their own weekday
    count as anomalous. Separates 'Mondays always spike' from a real
    incident."""
    from ..operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    return timeseries.seasonal_profile_anomalies(
        ev, "event_type", "ts", "value", sigma=2.0
    )


QUERIES["events_seasonal_dow"] = q_events_seasonal_dow

ORACLES["events_seasonal_dow"] = """
    WITH daily AS (
        SELECT event_type AS k, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    AS DECIMAL(18,6)) AS x_dec
        FROM events GROUP BY 1, 2
    ),
    dd AS (
        SELECT k, d, dayofweek(d) AS dow,
               CAST(x_dec AS DOUBLE) AS x, x_dec
        FROM daily
    ),
    prof AS (
        SELECT k, dow, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(x_dec) AS DOUBLE) / COUNT(*) AS mean,
               sqrt(greatest(CAST(0.0 AS DOUBLE),
                   CAST(SUM(CAST(x_dec AS DECIMAL(19,6)) * x_dec)
                        AS DOUBLE) / COUNT(*)
                   - pow(CAST(SUM(x_dec) AS DOUBLE) / COUNT(*), 2)))
                   AS std
        FROM dd GROUP BY 1, 2
    ),
    fl AS (
        SELECT dd.k, dd.dow,
               CAST(SUM(CASE WHEN abs(dd.x - prof.mean)
                                  > CAST(2.0 AS DOUBLE) * prof.std
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
        FROM dd JOIN prof ON dd.k = prof.k AND dd.dow = prof.dow
        GROUP BY 1, 2
    )
    SELECT prof.k AS event_type, CAST(prof.dow AS INTEGER) AS dow,
           prof.n_days,
           round(prof.mean, 6) AS mean_r,
           round(prof.std, 6) AS std_r,
           fl.n_anomalous
    FROM prof JOIN fl ON prof.k = fl.k AND prof.dow = fl.dow
    ORDER BY event_type, dow
"""


def q_events_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95 value bands per (event_type, week) — the SLO
    percentile dashboard: Spark's exact `percentile` (linear
    interpolation, identical definition to DuckDB's quantile_cont)
    over groups whose size is bounded by the week's traffic per type.
    No cross-row float sums — percentiles interpolate between two
    order statistics, so the result is cross-engine exact."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
                "week"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_r"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95_r"),
        )
        .orderBy("event_type", "week")
    )


QUERIES["events_latency_bands"] = q_events_latency_bands

ORACLES["events_latency_bands"] = """
    SELECT event_type,
           strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(quantile_cont(value, 0.5), 6) AS p50_r,
           round(quantile_cont(value, 0.95), 6) AS p95_r
    FROM events
    GROUP BY 1, 2 ORDER BY event_type, week
"""


def q_orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: an order opens at o_orderdate and
    closes when its last lineitem ships; backlog(day) = cumulative
    opened - cumulative closed, evaluated on the calendar of both
    event kinds. The facts reduce to per-day open/close counts
    (bounded by the date range — a few thousand rows at any SF), so
    the two running sums are the documented-safe window-over-aggregate
    shape. Monthly summary keeps the output compact: end-of-month
    backlog + month's opens/closes."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    opened = orders.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_open"))
    closed = (
        li.groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_close"))
    )
    days = (
        opened.join(closed, "d", "full_outer")
        .select(
            "d",
            F.coalesce("n_open", F.lit(0)).alias("n_open"),
            F.coalesce("n_close", F.lit(0)).alias("n_close"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    daily = days.withColumn(
        "backlog", (F.sum("n_open").over(w) - F.sum("n_close").over(w)).cast("bigint")
    )
    mw = Window.partitionBy(F.date_format("d", "yyyy-MM")).orderBy(
        F.col("d").desc()
    )
    return (
        daily.withColumn("__rk", F.row_number().over(mw))
        .where(F.col("__rk") == 1)
        .select(
            F.date_format("d", "yyyy-MM").alias("month"),
            F.col("backlog").alias("eom_backlog"),
        )
        .join(
            days.groupBy(F.date_format("d", "yyyy-MM").alias("month")).agg(
                F.sum("n_open").cast("bigint").alias("n_opened"),
                F.sum("n_close").cast("bigint").alias("n_closed"),
            ),
            "month",
        )
        .orderBy("month")
    )


QUERIES["orders_open_backlog"] = q_orders_open_backlog

ORACLES["orders_open_backlog"] = """
    WITH opened AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_open
        FROM orders GROUP BY 1
    ),
    closed AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n_close FROM (
            SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS d
            FROM lineitem GROUP BY 1
        ) GROUP BY d
    ),
    days AS (
        SELECT COALESCE(o.d, c.d) AS d,
               COALESCE(o.n_open, 0) AS n_open,
               COALESCE(c.n_close, 0) AS n_close
        FROM opened o FULL OUTER JOIN closed c ON o.d = c.d
    ),
    daily AS (
        SELECT d,
               CAST(SUM(n_open) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - SUM(n_close) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS backlog,
               strftime(d, '%Y-%m') AS month
        FROM days
    ),
    eom AS (
        SELECT month, backlog AS eom_backlog FROM (
            SELECT month, backlog,
                   ROW_NUMBER() OVER (PARTITION BY month ORDER BY d DESC)
                       AS rk
            FROM daily
        ) WHERE rk = 1
    ),
    msum AS (
        SELECT strftime(d, '%Y-%m') AS month,
               CAST(SUM(n_open) AS BIGINT) AS n_opened,
               CAST(SUM(n_close) AS BIGINT) AS n_closed
        FROM days GROUP BY 1
    )
    SELECT eom.month AS month, eom.eom_backlog, msum.n_opened,
           msum.n_closed
    FROM eom JOIN msum ON eom.month = msum.month
    ORDER BY eom.month
"""


def q_table_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality deletes (sources/snapshots.delete_where —
    Iceberg-v2 style): v0 = the orders projection, v1 = DELETE of every
    key%7==3 row committed as a KEY FILE ONLY (pytest asserts the data
    file list is byte-identical to v0's), v2 = an append that
    RE-INSERTS a third of the deleted keys at a shifted price — the
    sequencing check: delete entries scope to the files present when
    they committed, so re-inserted rows read back. The oracle computes
    the same final state straight from orders."""
    from ..sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price_r"),
    )

    def build(d: str) -> None:
        t = SnapshotTable(d)
        t.append(orders.repartition(8))
        t.delete_where(
            spark, ["o_orderkey"], F.col("o_orderkey") % 7 == 3
        )
        reinserts = orders.where(
            (F.col("o_orderkey") % 7 == 3) & (F.col("o_orderkey") % 3 == 0)
        ).withColumn("price_r", F.round(F.col("price_r") + 10, 2))
        t.append(reinserts.repartition(2))

    t = SnapshotTable(derived("snapdv", [table_path(sf_dir, "orders")], build))
    return t.read(spark).orderBy("o_orderkey")


QUERIES["table_delete_vectors"] = q_table_delete_vectors

ORACLES["table_delete_vectors"] = """
    SELECT o_orderkey, o_orderstatus,
           round(o_totalprice, 2) AS price_r
    FROM orders WHERE o_orderkey % 7 <> 3
    UNION ALL
    SELECT o_orderkey, o_orderstatus,
           round(round(o_totalprice, 2) + 10, 2) AS price_r
    FROM orders WHERE o_orderkey % 7 = 3 AND o_orderkey % 3 = 0
    ORDER BY o_orderkey
"""


def q_events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 — the
    experimentation-platform standard): pre-period user activity X
    (value sum before Jan 16) is the covariate for the post-period
    metric Y; theta = cov(X,Y)/var(X) from POOLED moments, and the
    per-variant adjusted mean is mean_Y - theta * (mean_X_variant -
    mean_X_global). The variance-reduction factor is the squared
    X-Y correlation — derived from the same moments, no second pass.
    Exactness: per-user X/Y route through DECIMAL, every cross-moment
    (Sum xy, Sum x^2, ...) accumulates in DECIMAL too, so the final
    doubles are bit-identical on any engine. Plan: facts reduce ONCE
    to per-user rows; moments are one combiner-friendly aggregate; no
    window, no second scan."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(F.col("ts") < cut, F.col("value")).cast(
                    "decimal(18,6)"
                )
            ),
            F.lit(0).cast("decimal(18,6)"),
        )
        .cast("decimal(18,6)")
        .alias("x"),
        F.coalesce(
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value")).cast(
                    "decimal(18,6)"
                )
            ),
            F.lit(0).cast("decimal(18,6)"),
        )
        .cast("decimal(18,6)")
        .alias("y"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    wide = F.col("x").cast("decimal(19,6)")
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(wide * F.col("y")).alias("sxy"),
        F.sum(wide * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,6)") * F.col("y")).alias("syy"),
    ).select(
        *[
            F.col(c).cast("double").alias(c)
            for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
        ]
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("double").alias("vx"),
        F.sum("y").cast("double").alias("vy"),
    )
    p = F.broadcast(pooled)
    j = per_variant.crossJoin(p)
    mean_x_g = F.col("sx") / F.col("n")
    cov = F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (
        F.col("sy") / F.col("n")
    )
    var_x = F.col("sxx") / F.col("n") - F.pow(F.col("sx") / F.col("n"), 2)
    var_y = F.col("syy") / F.col("n") - F.pow(F.col("sy") / F.col("n"), 2)
    theta = cov / var_x
    mean_y_v = F.col("vy") / F.col("n_users")
    mean_x_v = F.col("vx") / F.col("n_users")
    return j.select(
        "variant",
        "n_users",
        F.round(mean_y_v, 6).alias("mean_y_r"),
        F.round(mean_y_v - theta * (mean_x_v - mean_x_g), 6).alias(
            "mean_y_adj_r"
        ),
        F.round(theta, 6).alias("theta_r"),
        F.round(cov * cov / (var_x * var_y), 6).alias("var_reduction_r"),
    ).orderBy("variant")


QUERIES["events_ab_cuped"] = q_events_ab_cuped

ORACLES["events_ab_cuped"] = """
    WITH pu AS (
        SELECT user_id,
               CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                   THEN CAST(value AS DECIMAL(18,6)) END), 0)
                   AS DECIMAL(18,6)) AS x,
               CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                   THEN CAST(value AS DECIMAL(18,6)) END), 0)
                   AS DECIMAL(18,6)) AS y,
               CAST(user_id % 2 AS INTEGER) AS variant
        FROM events GROUP BY user_id
    ),
    pooled AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE) AS syy
        FROM pu
    ),
    pv AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(x) AS DOUBLE) AS vx,
               CAST(SUM(y) AS DOUBLE) AS vy
        FROM pu GROUP BY variant
    )
    SELECT variant, n_users,
           round(vy / n_users, 6) AS mean_y_r,
           round(vy / n_users
                 - ((sxy / n - (sx / n) * (sy / n))
                    / (sxx / n - pow(sx / n, 2)))
                   * (vx / n_users - sx / n), 6) AS mean_y_adj_r,
           round((sxy / n - (sx / n) * (sy / n))
                 / (sxx / n - pow(sx / n, 2)), 6) AS theta_r,
           round(pow(sxy / n - (sx / n) * (sy / n), 2)
                 / ((sxx / n - pow(sx / n, 2))
                    * (syy / n - pow(sy / n, 2))), 6) AS var_reduction_r
    FROM pv CROSS JOIN pooled
    ORDER BY variant
"""


def q_customers_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — the subscription/commerce staple: customers
    cohort by FIRST-order month; each cohort's cumulative decimal
    revenue accrues over month-age. The facts reduce to (cohort, age)
    revenue cells (bounded by months x months at any SF); the running
    sum is the documented-safe window over that aggregate, partitioned
    per cohort. Month arithmetic stays in integer year*12+month space —
    no date interval ambiguity across engines."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    mo = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    per = orders.select(
        "o_custkey",
        mo.alias("__mo"),
        F.round("o_totalprice", 2).cast("decimal(18,2)").alias("__rev"),
    )
    first = per.groupBy("o_custkey").agg(F.min("__mo").alias("__first_mo"))
    cells = (
        per.join(first, "o_custkey")
        .groupBy(
            F.col("__first_mo").alias("__c0"),
            (F.col("__mo") - F.col("__first_mo")).alias("age_months"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("__rev").alias("__rev"),
        )
    )
    w = (
        Window.partitionBy("__c0")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cohort_str = F.concat_ws(
        "-",
        F.expr("(__c0 - 1) div 12").cast("string"),
        F.lpad(((F.col("__c0") - 1) % 12 + 1).cast("string"), 2, "0"),
    )
    return (
        cells.withColumn("__cum", F.sum("__rev").over(w))
        .select(
            cohort_str.alias("cohort"),
            F.col("age_months").cast("bigint").alias("age_months"),
            "n_orders",
            F.round(F.col("__cum").cast("double"), 2).alias("cum_rev_r"),
        )
        .orderBy("cohort", "age_months")
    )


QUERIES["customers_cohort_ltv"] = q_customers_cohort_ltv

ORACLES["customers_cohort_ltv"] = """
    WITH per AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                   AS mo,
               CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS rev
        FROM orders
    ),
    first AS (
        SELECT o_custkey, MIN(mo) AS first_mo FROM per GROUP BY 1
    ),
    cells AS (
        SELECT first.first_mo AS c0, per.mo - first.first_mo AS age_months,
               CAST(COUNT(*) AS BIGINT) AS n_orders, SUM(rev) AS rev
        FROM per JOIN first USING (o_custkey)
        GROUP BY 1, 2
    )
    SELECT concat((c0 - 1) // 12, '-',
                  lpad(CAST((c0 - 1) % 12 + 1 AS VARCHAR), 2, '0'))
               AS cohort,
           CAST(age_months AS BIGINT) AS age_months,
           n_orders,
           round(CAST(SUM(rev) OVER (
               PARTITION BY c0 ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE), 2) AS cum_rev_r
    FROM cells
    ORDER BY cohort, age_months
"""


def q_events_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection via gaps-and-islands: per event type, maximal runs
    of consecutive BUSY hours (hourly count above the type's own mean —
    self-normalizing across SFs), summarized as burst count, longest
    burst, and total busy hours. The islands trick (hour_index minus
    row_number over busy hours) runs per type over the CALENDAR-bounded
    hourly aggregate — the facts are touched once; everything after is
    hours x types cells."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("bigint")
        .alias("h"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    means = hourly.groupBy("event_type").agg(
        (F.sum("c") / F.count(F.lit(1))).alias("__mean")
    )
    busy = hourly.join(F.broadcast(means), "event_type").where(
        F.col("c") > F.col("__mean")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    islands = busy.withColumn(
        "__island", F.col("h") - F.row_number().over(w)
    )
    bursts = islands.groupBy("event_type", "__island").agg(
        F.count(F.lit(1)).cast("bigint").alias("__len")
    )
    return (
        bursts.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bursts"),
            F.max("__len").alias("longest_burst_hours"),
            F.sum("__len").cast("bigint").alias("busy_hours"),
        )
        .orderBy("event_type")
    )


QUERIES["events_bursts"] = q_events_bursts

ORACLES["events_bursts"] = """
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    means AS (
        SELECT event_type, SUM(c) / CAST(COUNT(*) AS DOUBLE) AS m
        FROM hourly GROUP BY 1
    ),
    busy AS (
        SELECT h.event_type, h.h
        FROM hourly h JOIN means USING (event_type)
        WHERE h.c > means.m
    ),
    isl AS (
        SELECT event_type, h,
               h - ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY h) AS island
        FROM busy
    ),
    bursts AS (
        SELECT event_type, island, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_bursts,
           MAX(len) AS longest_burst_hours,
           CAST(SUM(len) AS BIGINT) AS busy_hours
    FROM bursts GROUP BY 1 ORDER BY event_type
"""


def q_events_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity histogram: each user's event-type Shannon
    entropy (exact counts, natural log), bucketed into 0.02-nat bands (the observed spread is a ~0.16-nat range around ln(n_types)).
    The fold runs over the user's SORTED per-type count list so the
    float additions happen in one deterministic order on both engines
    (the events_ewma rule). Facts reduce once to (user, type) cells;
    per-user lists are bounded by the type alphabet."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_user = ut.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.array_sort(F.collect_list(F.struct("event_type", "c"))).alias(
            "__cs"
        ),
    )
    # H = ln(n) - (sum c*ln(c)) / n, folded in sorted-type order
    clnc = F.aggregate(
        F.col("__cs"),
        F.lit(0.0),
        lambda acc, s: acc
        + s.getField("c").cast("double")
        * F.log(s.getField("c").cast("double")),
    )
    h = F.log(F.col("n").cast("double")) - clnc / F.col("n")
    bucketed = per_user.select(
        F.floor(h / F.lit(0.02)).cast("bigint").alias("entropy_band")
    )
    return (
        bucketed.groupBy("entropy_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("entropy_band")
    )


QUERIES["events_entropy_profile"] = q_events_entropy_profile

ORACLES["events_entropy_profile"] = """
    WITH ut AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    pu AS (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
               list_sort(list(struct_pack(event_type := event_type,
                                          c := c))) AS cs
        FROM ut GROUP BY user_id
    ),
    hv AS (
        SELECT user_id,
               ln(CAST(n AS DOUBLE))
               - list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(cs,
                             s -> CAST(s.c AS DOUBLE)
                                  * ln(CAST(s.c AS DOUBLE)))),
                     (x, y) -> x + y) / n AS h
        FROM pu
    )
    SELECT CAST(floor(h / 0.02) AS BIGINT) AS entropy_band,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM hv GROUP BY 1 ORDER BY entropy_band
"""


def q_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration per part type: brands'
    revenue shares squared and summed, the antitrust/portfolio
    concentration index (complements supplier_gini's rank-based view).
    Exactness: HHI = Sum(rev_b^2) / (Sum rev_b)^2 — the numerator sums
    DECIMAL squares (order-free), so no float accumulates across rows;
    the two final squarings/divisions are single double ops. Plan: one
    broadcast part join, one (type, brand) decimal reduction; everything
    after runs on the bounded type x brand cells."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    tb = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_type", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .groupBy("p_type", "p_brand")
        .agg(
            F.sum(
                F.round("l_extendedprice", 2).cast("decimal(18,2)")
            )
            .cast("decimal(18,2)")
            .alias("rev")
        )
    )
    agg = tb.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        F.sum("rev").alias("__tot"),
        F.sum(F.col("rev").cast("decimal(19,2)") * F.col("rev")).alias(
            "__sq"
        ),
    )
    return agg.select(
        "p_type",
        "n_brands",
        F.round(F.col("__tot").cast("double"), 2).alias("total_rev_r"),
        F.round(
            F.col("__sq").cast("double")
            / F.pow(F.col("__tot").cast("double"), 2)
            * 10000,
            3,
        ).alias("hhi_r"),
    ).orderBy("p_type")


QUERIES["market_hhi"] = q_market_hhi

ORACLES["market_hhi"] = """
    WITH tb AS (
        SELECT p.p_type, p.p_brand,
               CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    )
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_brands,
           round(CAST(SUM(rev) AS DOUBLE), 2) AS total_rev_r,
           round(CAST(SUM(CAST(rev AS DECIMAL(19,2)) * rev) AS DOUBLE)
                 / pow(CAST(SUM(rev) AS DOUBLE), 2) * 10000, 3) AS hhi_r
    FROM tb GROUP BY p_type ORDER BY p_type
"""


def q_orders_mix_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way chi-square independence report: is order PRIORITY
    distributed independently of order STATUS? One row per contingency
    cell with observed count, expected count under independence
    (row_total x col_total / n), and the cell's chi-square contribution
    — cell-level output, so no float statistic ever sums across rows
    (the reader sums the exact decimal-roundable contributions). Facts
    reduce once to the bounded priority x status table; margins
    broadcast back."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    rowm = cells.groupBy("priority").agg(
        F.sum("n_obs").cast("bigint").alias("__r")
    )
    colm = cells.groupBy("status").agg(
        F.sum("n_obs").cast("bigint").alias("__c")
    )
    tot = cells.agg(F.sum("n_obs").cast("bigint").alias("__n"))
    j = (
        cells.join(F.broadcast(rowm), "priority")
        .join(F.broadcast(colm), "status")
        .crossJoin(F.broadcast(tot))
    )
    exp = (
        F.col("__r").cast("double")
        * F.col("__c").cast("double")
        / F.col("__n")
    )
    return j.select(
        "priority",
        "status",
        "n_obs",
        F.round(exp, 4).alias("expected_r"),
        F.round(F.pow(F.col("n_obs") - exp, 2) / exp, 6).alias(
            "chi2_contrib_r"
        ),
    ).orderBy("priority", "status")


QUERIES["orders_mix_independence"] = q_orders_mix_independence

ORACLES["orders_mix_independence"] = """
    WITH cells AS (
        SELECT o_orderpriority AS priority, o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM orders GROUP BY 1, 2
    ),
    rowm AS (SELECT priority, CAST(SUM(n_obs) AS BIGINT) AS r
             FROM cells GROUP BY 1),
    colm AS (SELECT status, CAST(SUM(n_obs) AS BIGINT) AS c
             FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cells)
    SELECT cells.priority, cells.status, cells.n_obs,
           round(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / n, 4)
               AS expected_r,
           round(pow(cells.n_obs - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / n, 2)
                 / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / n), 6)
               AS chi2_contrib_r
    FROM cells
    JOIN rowm USING (priority)
    JOIN colm USING (status)
    CROSS JOIN tot
    ORDER BY priority, status
"""


def q_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring
    (operators/similarity.pq_topk): 64-dim int8 vectors compress to 32
    codebook ids (m=32 two-dim subspaces x 64 codewords — measured
    recall@5 vs the exact-L2 baseline 0.72 on this corpus; m=8 x 16
    gives 4x more compression at 0.14), queries precompute 32x64
    integer distance tables, and candidates rank by the table-sum ADC
    distance — the FAISS PQ/ADC shape on a data lake, exact in integer
    arithmetic end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.pq_topk(
        emb, queries, "vec_id", "embedding", k=5, dim=64, m=32, n_codes=64
    ).orderBy("query_id", "rnk")


QUERIES["sim_pq_adc"] = q_sim_pq_adc

_PQ_M = 32       # subspaces (2 dims each over the 64-dim vectors)
_PQ_SUB = 64 // _PQ_M
_PQ_K = 64       # codewords per subspace


def _pq_d(s: int, a: str, c: str) -> str:
    """Integer L2^2 between subspace s of two int8 code arrays — the SQL
    twin of similarity._pq_subdist."""
    return " + ".join(
        f"(CAST({a}.qv[{s * _PQ_SUB + d + 1}] AS BIGINT)"
        f" - CAST({c}.qv[{s * _PQ_SUB + d + 1}] AS BIGINT))"
        f" * (CAST({a}.qv[{s * _PQ_SUB + d + 1}] AS BIGINT)"
        f" - CAST({c}.qv[{s * _PQ_SUB + d + 1}] AS BIGINT))"
        for d in range(_PQ_SUB)
    )


_PQ_ENC = ", ".join(f"({_pq_d(s, 'a', 'c')}) AS d{s}" for s in range(_PQ_M))
_PQ_DT = ", ".join(f"({_pq_d(s, 'b', 'c')}) AS d{s}" for s in range(_PQ_M))
_PQ_CODES = ", ".join(
    f"CAST(MIN(d{s} * 100 + j) % 100 AS INTEGER) AS c{s}"
    for s in range(_PQ_M)
)
_PQ_JOINS = "\n".join(
    f"            JOIN dt t{s} ON t{s}.j = a.c{s}"
    + ("" if s == 0 else f" AND t{s}.query_id = t0.query_id")
    for s in range(_PQ_M)
)
_PQ_ADC = " + ".join(f"t{s}.d{s}" for s in range(_PQ_M))

ORACLES["sim_pq_adc"] = f"""
    WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
    q AS MATERIALIZED (
        SELECT vec_id, [{_SQ_CODES}] AS qv
        FROM embeddings CROSS JOIN stats
    ),
    cb AS MATERIALIZED (
        SELECT qv, row_number() OVER (ORDER BY h, vec_id) AS j
        FROM (
            SELECT vec_id, qv,
                   CAST(concat('0x', substr(md5('pq:'
                        || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM q ORDER BY h, vec_id LIMIT {_PQ_K}
        )
    ),
    enc AS MATERIALIZED (
        SELECT a.vec_id, c.j, {_PQ_ENC}
        FROM q a CROSS JOIN cb c
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, {_PQ_CODES} FROM enc GROUP BY vec_id
    ),
    dt AS MATERIALIZED (
        SELECT b.vec_id AS query_id, c.j, {_PQ_DT}
        FROM q b CROSS JOIN cb c WHERE b.vec_id < 10
    ),
    scored AS MATERIALIZED (
        SELECT t0.query_id, a.vec_id AS corpus_id,
               CAST({_PQ_ADC} AS BIGINT) AS adc
        FROM codes a
{_PQ_JOINS}
        WHERE a.vec_id <> t0.query_id
    ),
    ranked AS (
        SELECT query_id, corpus_id, adc,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY adc ASC, corpus_id ASC
               ) AS rnk
        FROM scored
    )
    SELECT query_id, corpus_id, adc, rnk FROM ranked
    WHERE rnk <= 5 ORDER BY query_id, rnk
"""


def q_sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ/ADC against the exact cosine baseline at THREE
    code-size settings (VERDICT r6 item 4 + r7 item 6) — the
    compression/recall trade-off as a measured dial, the PQ twin of
    sim_ivf_recall's probe dial. Mean recall@10 at sf0.01: m=8 x 16
    codewords (8 bytes/vector) 0.24, m=32 x 64 (32 bytes) 0.69,
    m=64 x 256 (64 bytes + 256-entry distance tables) 0.92 — the curve
    now shows where recall crosses 0.9, so a production tier can pick
    bytes-per-vector against a quality floor instead of trusting one
    thin operating point. Rankings are gate-proven in sim_pq_adc; the
    report is per-query set intersections over queries x k rows, so
    measuring recall costs nothing next to producing either ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=10
    )
    parts = []
    for m, n_codes in ((8, 16), (32, 64), (64, 256)):
        approx = similarity.pq_topk(
            emb,
            queries,
            "vec_id",
            "embedding",
            k=10,
            dim=64,
            m=m,
            n_codes=n_codes,
        )
        parts.append(
            similarity.recall_report(approx, exact)
            .withColumn("pq_m", F.lit(m).cast("int"))
            .withColumn("pq_codes", F.lit(n_codes).cast("int"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "pq_m", "pq_codes", "query_id", "hits", "k", "recall_r"
    ).orderBy("pq_m", "query_id")


QUERIES["sim_pq_recall"] = q_sim_pq_recall


def _pq_sub_sql(m: int):
    """Per-subspace integer L2^2 SQL fragments shared by every PQ-family
    oracle: d(s, a, c) expands subspace s of qv-coded rows a vs c."""
    sub = 64 // m

    def d(s: int, a: str, c: str) -> str:
        return " + ".join(
            f"(CAST({a}.qv[{s * sub + i + 1}] AS BIGINT)"
            f" - CAST({c}.qv[{s * sub + i + 1}] AS BIGINT))"
            f" * (CAST({a}.qv[{s * sub + i + 1}] AS BIGINT)"
            f" - CAST({c}.qv[{s * sub + i + 1}] AS BIGINT))"
            for i in range(sub)
        )

    return d


def _pq_base_ctes(m: int, n_codes: int, tag, src: str = "q") -> str:
    """Codebook -> encode -> codes -> query distance tables: the shared
    front half of every PQ-family oracle (pure PQ and IVF+PQ), exactly
    the SQL twin of similarity._pq_codes_and_tables. ``src`` names the
    (vec_id, qv) relation the codes are built from — ``q`` for raw SQ8
    codes, ``qr`` for the OPQ gate's rotated codes."""
    d = _pq_sub_sql(m)
    enc = ", ".join(f"({d(s, 'a', 'c')}) AS d{s}" for s in range(m))
    dt = ", ".join(f"({d(s, 'b', 'c')}) AS d{s}" for s in range(m))
    pack = 100 if n_codes <= 99 else 1000
    codes = ", ".join(
        f"CAST(MIN(d{s} * {pack} + j) % {pack} AS INTEGER) AS c{s}"
        for s in range(m)
    )
    return f"""
    cb{tag} AS MATERIALIZED (
        SELECT qv, row_number() OVER (ORDER BY h, vec_id) AS j
        FROM (
            SELECT vec_id, qv,
                   CAST(concat('0x', substr(md5('pq:'
                        || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM {src} ORDER BY h, vec_id LIMIT {n_codes}
        )
    ),
    enc{tag} AS MATERIALIZED (
        SELECT a.vec_id, c.j, {enc}
        FROM {src} a CROSS JOIN cb{tag} c
    ),
    codes{tag} AS MATERIALIZED (
        SELECT vec_id, {codes} FROM enc{tag} GROUP BY vec_id
    ),
    dt{tag} AS MATERIALIZED (
        SELECT b.vec_id AS query_id, c.j, {dt}
        FROM {src} b CROSS JOIN cb{tag} c WHERE b.vec_id < 10
    )"""


def _pq_cte_block(m: int, n_codes: int, tag, src: str = "q") -> str:
    """SQL twin of similarity.pq_topk at one (m, n_codes) setting:
    codebook -> encode -> codes -> query distance tables -> top-10 ADC
    ranking, every step integer arithmetic on the shared SQ8 codes.
    Parameterized so the recall gate can compare settings without
    hand-copying the 32-join pipeline."""
    joins = "\n".join(
        f"            JOIN dt{tag} t{s} ON t{s}.j = a.c{s}"
        + ("" if s == 0 else f" AND t{s}.query_id = t0.query_id")
        for s in range(m)
    )
    adc = " + ".join(f"t{s}.d{s}" for s in range(m))
    return f"""{_pq_base_ctes(m, n_codes, tag, src)},
    approx{tag} AS MATERIALIZED (
        SELECT query_id, corpus_id FROM (
            SELECT t0.query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY t0.query_id
                       ORDER BY CAST({adc} AS BIGINT) ASC, a.vec_id ASC
                   ) AS rnk
            FROM codes{tag} a
{joins}
            WHERE a.vec_id <> t0.query_id
        ) WHERE rnk <= 10
    )"""


def _ivf_bucket_sql(nbits: int) -> str:
    """Sign-bucket id over the RAW embedding — the SQL twin of
    similarity.bucket_id at the first ``nbits`` of DEFAULT_BUCKET_DIMS
    (bit i set iff embedding[dims[i]] >= 0). Comparison only, no float
    arithmetic, so it is engine-exact on the float32 column."""
    return " + ".join(
        f"CASE WHEN embedding[{d + 1}] >= 0 THEN {2 ** i} ELSE 0 END"
        for i, d in enumerate(similarity.DEFAULT_BUCKET_DIMS[:nbits])
    )


def _ivfpq_probe_ctes(
    m: int, base, tag, flips: int, nbits: int = 4, k: int = 10
) -> str:
    """IVF candidate restriction + ADC ranking over _pq_base_ctes(base):
    bucket-join candidates against the bk{nbits} cell directory
    (multi-probe when flips=1, deduped) then the per-query top-10 — the
    SQL twin of similarity.ivfpq_topk at 2^nbits cells. ``k`` mirrors
    the kmeans helper's shortlist cut for symmetry (pytest-pinned);
    every production oracle here uses the default 10 — it is reserved
    for a future sign-directory rerank rung."""
    bk = f"bk{nbits}"
    if flips == 0:
        probes = (
            f"SELECT vec_id AS query_id, bucket FROM {bk} WHERE vec_id < 10"
        )
    else:
        arr = ", ".join(
            ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(nbits)]
        )
        probes = (
            f"SELECT vec_id AS query_id, unnest([{arr}]) AS bucket"
            f" FROM {bk} WHERE vec_id < 10"
        )
    cols = ", ".join(f"a.c{s}" for s in range(m))
    joins = "\n".join(
        f"            JOIN dt{base} t{s} ON t{s}.query_id = c.query_id"
        f" AND t{s}.j = c.c{s}"
        for s in range(m)
    )
    adc = " + ".join(f"t{s}.d{s}" for s in range(m))
    return f"""
    probes{tag} AS ({probes}),
    cand{tag} AS MATERIALIZED (
        SELECT DISTINCT p.query_id, a.vec_id AS corpus_id, {cols}
        FROM codes{base} a
        JOIN {bk} ON {bk}.vec_id = a.vec_id
        JOIN probes{tag} p ON {bk}.bucket = p.bucket
        WHERE a.vec_id <> p.query_id
    ),
    approx{tag} AS MATERIALIZED (
        SELECT query_id, corpus_id, adc, rnk FROM (
            SELECT c.query_id, c.corpus_id,
                   CAST({adc} AS BIGINT) AS adc,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.query_id
                       ORDER BY CAST({adc} AS BIGINT) ASC, c.corpus_id ASC
                   ) AS rnk
            FROM cand{tag} c
{joins}
        ) WHERE rnk <= {k}
    )"""


ORACLES["sim_pq_recall"] = f"""
    WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
    q AS MATERIALIZED (
        SELECT vec_id, [{_SQ_CODES}] AS qv
        FROM embeddings CROSS JOIN stats
    ),
    exact AS MATERIALIZED (
        SELECT query_id, corpus_id FROM (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({_RDOT}, 6) DESC, a.vec_id ASC
                   ) AS rnk
            FROM embeddings a JOIN embeddings b
              ON b.vec_id < 10 AND a.vec_id <> b.vec_id
        ) WHERE rnk <= 10
    ),{_pq_cte_block(8, 16, 0)},{_pq_cte_block(32, 64, 1)},{_pq_cte_block(64, 256, 2)},
    un AS (
        SELECT 8 AS pq_m, 16 AS pq_codes, query_id, corpus_id FROM approx0
        UNION ALL
        SELECT 32, 64, query_id, corpus_id FROM approx1
        UNION ALL
        SELECT 64, 256, query_id, corpus_id FROM approx2
    ),
    kk AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM exact GROUP BY 1
    ),
    h AS (
        SELECT u.pq_m, u.pq_codes, e.query_id,
               CAST(COUNT(*) AS BIGINT) AS hits
        FROM exact e JOIN un u
          ON e.query_id = u.query_id AND e.corpus_id = u.corpus_id
        GROUP BY 1, 2, 3
    )
    SELECT s.pq_m, s.pq_codes, kk.query_id,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, kk.k,
           round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / kk.k, 6) AS recall_r
    FROM (SELECT 8 AS pq_m, 16 AS pq_codes
          UNION ALL SELECT 32, 64 UNION ALL SELECT 64, 256) s
    CROSS JOIN kk
    LEFT JOIN h ON h.pq_m = s.pq_m AND h.query_id = kk.query_id
    ORDER BY s.pq_m, kk.query_id
"""


def q_sim_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composite ranking (operators/similarity.ivfpq_topk,
    m=32 x 64 codewords, multi-probe flips=1) — the production FAISS
    IVFADC shape gate-proven end-to-end: coarse sign-cells prune the
    candidate set (bucket equi-join, never all-pairs), PQ codes + ADC
    tables score the survivors in exact integer arithmetic. Completes
    the compression/pruning ladder whose other rungs are gate-signed in
    sim_topk_ivf (IVF), sim_int8_topk/sim_pq_adc (SQ8/PQ), and whose
    quality dials are sim_ivf_recall / sim_pq_recall /
    sim_ivfpq_recall. The cell directory is 16 cells (4 sign bits) —
    right-sized for this corpus by the nlist ~ sqrt(N) rule (sqrt(500)
    ~ 22; sim_ivfpq_recall measures what the over-partitioned 256-cell
    setting costs). Reference exposes dense brute-force only
    (cae/src/execution.cpp:23-120)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return similarity.ivfpq_topk(
        emb, queries, "vec_id", "embedding",
        k=10, dim=64, m=32, n_codes=64,
        dims=similarity.DEFAULT_BUCKET_DIMS[:4], probe_flips=1,
    ).orderBy("query_id", "rnk")


QUERIES["sim_ivfpq_adc"] = q_sim_ivfpq_adc

ORACLES["sim_ivfpq_adc"] = f"""
    WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
    q AS MATERIALIZED (
        SELECT vec_id, [{_SQ_CODES}] AS qv
        FROM embeddings CROSS JOIN stats
    ),
    bk4 AS MATERIALIZED (
        SELECT vec_id, {_ivf_bucket_sql(4)} AS bucket FROM embeddings
    ),{_pq_base_ctes(32, 64, "ip")},{_ivfpq_probe_ctes(32, "ip", "ip", 1, nbits=4)}
    SELECT query_id, corpus_id, adc, rnk FROM approxip
    ORDER BY query_id, rnk
"""


def q_sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF+PQ composite against the exact cosine
    baseline on a (directory x cell-count x probe-setting) grid — the
    combined dial the two parent reports measure separately: IVF pruning
    loss (sim_ivf_recall) STACKS with PQ quantization loss
    (sim_pq_recall), and a deployment needs the product measured, not
    inferred. ``probe`` is each directory's own dial: hamming flips for
    'sign' (0 = own cell, 1 = +hamming-1 cells), nprobe for 'kmeans'
    (nearest cells probed).

    Measured mean recall@10 (pure-PQ ceiling 0.69 at sf0.01 / 0.65 at
    sf0.1, from sim_pq_recall's m=32 row):

    - sign, 16 cells: 0.15 (flips=0) / 0.47 (flips=1) at sf0.01;
      sign, 256 cells: 0.02 / 0.13 (sf0.01), 0.03 / 0.08 (sf0.1) —
      the untrained directory's loss grows as cells outpace the
      corpus (r8's finding);
    - kmeans, 16 cells (VERDICT r8 item 4 — the directory FAISS
      actually builds, trained here by the repo's own distributed
      Lloyd loop): **0.65 (nprobe=1) / 0.68 (nprobe=4)** at sf0.01 —
      training recovers essentially the whole gap to the PQ ceiling,
      because cells that track corpus density keep true neighbours
      together where sign hyperplanes split them blindly;
    - kmeans at PRODUCTION cell counts (VERDICT r9 item 1), nprobe
      scaled with cells so the probed FRACTION stays 1/4:
      64 cells/nprobe 16 → **0.68** (sf0.01) / **0.67** (sf0.1);
      256 cells/nprobe 64 → **0.71** (sf0.01) / **0.65** (sf0.1).
      Every trained row sits AT the PQ ceiling — at constant probe
      fraction the trained directory's pruning loss is ~0 even at
      256 cells (~8 vectors/cell at sf0.1), so the residual error is
      quantization, not cell-size skew; the untrained 256-cell
      collapse (0.02–0.13) was directory placement, not geometry.

    The grid's lesson: cell count must track corpus size AND the
    directory must be trained; a 100 TB deployment re-measures this
    grid at its own N (training cost: `train_iterations` broadcast
    passes, amortized over every query batch) and buys its speedup by
    dropping the probe fraction only after nlist is large enough that
    cells are tight (docs/SCALE.md r10 row)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=10
    )
    parts = []
    for nbits in (4, 8):
        for flips in (0, 1):
            approx = similarity.ivfpq_topk(
                emb, queries, "vec_id", "embedding",
                k=10, dim=64, m=32, n_codes=64,
                dims=similarity.DEFAULT_BUCKET_DIMS[:nbits],
                probe_flips=flips,
            )
            parts.append(
                similarity.recall_report(approx, exact)
                .withColumn("directory", F.lit("sign"))
                .withColumn("cells", F.lit(2 ** nbits).cast("int"))
                .withColumn("probe", F.lit(flips).cast("int"))
            )
    trained_cells = similarity.train_ivf_directory(
        emb, "vec_id", "embedding", n_cells=16, iterations=2, dim=64
    ).localCheckpoint(eager=True)
    for nprobe in (1, 4):
        approx = similarity.ivfpq_topk_trained(
            emb, queries, "vec_id", "embedding",
            k=10, dim=64, m=32, n_codes=64,
            n_cells=16, nprobe=nprobe, train_iterations=2,
            cells=trained_cells,
        )
        parts.append(
            similarity.recall_report(approx, exact)
            .withColumn("directory", F.lit("kmeans"))
            .withColumn("cells", F.lit(16).cast("int"))
            .withColumn("probe", F.lit(nprobe).cast("int"))
        )
    # r9 verdict item 1: production cell counts. nprobe scales with the
    # cell count (constant probed-cell FRACTION, the dial a deployment
    # holds fixed as nlist grows) so the rows isolate directory quality
    # from candidate-pool width.
    for n_cells, nprobe in ((64, 16), (256, 64)):
        cells_n = similarity.train_ivf_directory(
            emb, "vec_id", "embedding",
            n_cells=n_cells, iterations=2, dim=64,
        ).localCheckpoint(eager=True)
        approx = similarity.ivfpq_topk_trained(
            emb, queries, "vec_id", "embedding",
            k=10, dim=64, m=32, n_codes=64,
            n_cells=n_cells, nprobe=nprobe,
            cells=cells_n,
        )
        parts.append(
            similarity.recall_report(approx, exact)
            .withColumn("directory", F.lit("kmeans"))
            .withColumn("cells", F.lit(n_cells).cast("int"))
            .withColumn("probe", F.lit(nprobe).cast("int"))
        )
    out = parts[0]
    for pt in parts[1:]:
        out = out.unionByName(pt)
    return out.select(
        "directory", "cells", "probe", "query_id", "hits", "k", "recall_r"
    ).orderBy("directory", "cells", "probe", "query_id")


QUERIES["sim_ivfpq_recall"] = q_sim_ivfpq_recall

def _ivfkm_dir_ctes(n_cells: int = 16, dirtag: str = "") -> str:
    """Trained IVF directory in SQL — the twin of
    similarity.train_ivf_directory (2 Lloyd iterations from the first
    ``n_cells`` seeds; the kmeans_iterate oracle's CTE chain) plus the
    final corpus assignment (bkm) and the all-pairs query-to-cell
    distances (dkm3) the probe CTEs rank over. Distance folds and
    decimal-routed means mirror the Spark operators element-for-element
    (the green kmeans gate family's SQL). ``dirtag`` suffixes every CTE
    name so several directories (16/64/256 cells — the r9 verdict's
    production-cell-count grid) coexist in one oracle."""
    dist_raw = """list_reduce(list_transform(generate_series(1, 64),
                   i -> (CAST(v.embedding[i] AS DOUBLE)
                         - CAST(c.embedding[i] AS DOUBLE))
                        * (CAST(v.embedding[i] AS DOUBLE)
                           - CAST(c.embedding[i] AS DOUBLE))),
                   (x, y) -> x + y)"""
    dist_cv = """list_reduce(list_transform(generate_series(1, 64),
                   i -> (CAST(v.embedding[i] AS DOUBLE) - c.cv[i])
                        * (CAST(v.embedding[i] AS DOUBLE) - c.cv[i])),
                   (x, y) -> x + y)"""
    mean = """CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                             AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*)"""
    t = dirtag
    return f"""
    ckm0{t} AS (SELECT vec_id AS cluster_id, embedding FROM (
        SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {n_cells})),
    wkm1{t} AS (
        SELECT vec_id, cluster_id, embedding FROM (
            SELECT v.vec_id, c.cluster_id, v.embedding,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {dist_raw} ASC, c.cluster_id ASC) AS rk
            FROM embeddings v CROSS JOIN ckm0{t} c
        ) WHERE rk = 1
    ),
    ckm1{t} AS (
        SELECT cluster_id, list(mu ORDER BY i) AS cv FROM (
            SELECT cluster_id, i, {mean} AS mu
            FROM (SELECT cluster_id, unnest(generate_series(1, 64)) AS i,
                         embedding FROM wkm1{t})
            GROUP BY cluster_id, i
        ) GROUP BY cluster_id
    ),
    wkm2{t} AS (
        SELECT vec_id, cluster_id, embedding FROM (
            SELECT v.vec_id, c.cluster_id, v.embedding,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {dist_cv} ASC, c.cluster_id ASC) AS rk
            FROM embeddings v CROSS JOIN ckm1{t} c
        ) WHERE rk = 1
    ),
    ckm2{t} AS (
        SELECT cluster_id, list(mu ORDER BY i) AS cv FROM (
            SELECT cluster_id, i, {mean} AS mu
            FROM (SELECT cluster_id, unnest(generate_series(1, 64)) AS i,
                         embedding FROM wkm2{t})
            GROUP BY cluster_id, i
        ) GROUP BY cluster_id
    ),
    dkm3{t} AS MATERIALIZED (
        SELECT v.vec_id, c.cluster_id, {dist_cv} AS dist2
        FROM embeddings v CROSS JOIN ckm2{t} c
    ),
    bkm{t} AS MATERIALIZED (
        SELECT vec_id, cluster_id AS bucket FROM (
            SELECT vec_id, cluster_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY dist2 ASC, cluster_id ASC) AS rk
            FROM dkm3{t}
        ) WHERE rk = 1
    )"""


def _ivfkm_probe_ctes(
    m: int, base, tag, nprobe: int, dirtag: str = "", k: int = 10
) -> str:
    """Trained-directory candidate restriction + ADC ranking over
    _pq_base_ctes(base) — the SQL twin of similarity.ivfpq_topk_trained's
    probe/score half: each query's ``nprobe`` nearest cells from
    dkm3{dirtag}, candidates bucket-joined through bkm{dirtag}, per-query
    top-10 by integer ADC. No DISTINCT: a corpus vector lives in exactly
    one cell and probe cells are distinct, so pairs are unique by
    construction. ``k`` widens the per-query cut (top-10 default; the
    re-rank oracle takes the full ADC shortlist)."""
    cols = ", ".join(f"a.c{s}" for s in range(m))
    joins = "\n".join(
        f"            JOIN dt{base} t{s} ON t{s}.query_id = c.query_id"
        f" AND t{s}.j = c.c{s}"
        for s in range(m)
    )
    adc = " + ".join(f"t{s}.d{s}" for s in range(m))
    return f"""
    probes{tag} AS (
        SELECT vec_id AS query_id, cluster_id AS bucket FROM (
            SELECT vec_id, cluster_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY dist2 ASC, cluster_id ASC) AS rk
            FROM dkm3{dirtag} WHERE vec_id < 10
        ) WHERE rk <= {nprobe}
    ),
    cand{tag} AS MATERIALIZED (
        SELECT p.query_id, a.vec_id AS corpus_id, {cols}
        FROM codes{base} a
        JOIN bkm{dirtag} ON bkm{dirtag}.vec_id = a.vec_id
        JOIN probes{tag} p ON bkm{dirtag}.bucket = p.bucket
        WHERE a.vec_id <> p.query_id
    ),
    approx{tag} AS MATERIALIZED (
        SELECT query_id, corpus_id, adc, rnk FROM (
            SELECT c.query_id, c.corpus_id,
                   CAST({adc} AS BIGINT) AS adc,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.query_id
                       ORDER BY CAST({adc} AS BIGINT) ASC, c.corpus_id ASC
                   ) AS rnk
            FROM cand{tag} c
{joins}
        ) WHERE rnk <= {k}
    )"""


ORACLES["sim_ivfpq_recall"] = f"""
    WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
    q AS MATERIALIZED (
        SELECT vec_id, [{_SQ_CODES}] AS qv
        FROM embeddings CROSS JOIN stats
    ),
    bk4 AS MATERIALIZED (
        SELECT vec_id, {_ivf_bucket_sql(4)} AS bucket FROM embeddings
    ),
    bk8 AS MATERIALIZED (
        SELECT vec_id, {_ivf_bucket_sql(8)} AS bucket FROM embeddings
    ),
    exact AS MATERIALIZED (
        SELECT query_id, corpus_id FROM (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({_RDOT}, 6) DESC, a.vec_id ASC
                   ) AS rnk
            FROM embeddings a JOIN embeddings b
              ON b.vec_id < 10 AND a.vec_id <> b.vec_id
        ) WHERE rnk <= 10
    ),{_pq_base_ctes(32, 64, "ip")},{_ivfpq_probe_ctes(32, "ip", "c4f0", 0, nbits=4)},{_ivfpq_probe_ctes(32, "ip", "c4f1", 1, nbits=4)},{_ivfpq_probe_ctes(32, "ip", "c8f0", 0, nbits=8)},{_ivfpq_probe_ctes(32, "ip", "c8f1", 1, nbits=8)},{_ivfkm_dir_ctes(16)},{_ivfkm_probe_ctes(32, "ip", "kmp1", 1)},{_ivfkm_probe_ctes(32, "ip", "kmp4", 4)},{_ivfkm_dir_ctes(64, "x64")},{_ivfkm_probe_ctes(32, "ip", "kmx64", 16, dirtag="x64")},{_ivfkm_dir_ctes(256, "x256")},{_ivfkm_probe_ctes(32, "ip", "kmx256", 64, dirtag="x256")},
    un AS (
        SELECT 'sign' AS directory, 16 AS cells, 0 AS probe,
               query_id, corpus_id
        FROM approxc4f0
        UNION ALL
        SELECT 'sign', 16, 1, query_id, corpus_id FROM approxc4f1
        UNION ALL
        SELECT 'sign', 256, 0, query_id, corpus_id FROM approxc8f0
        UNION ALL
        SELECT 'sign', 256, 1, query_id, corpus_id FROM approxc8f1
        UNION ALL
        SELECT 'kmeans', 16, 1, query_id, corpus_id FROM approxkmp1
        UNION ALL
        SELECT 'kmeans', 16, 4, query_id, corpus_id FROM approxkmp4
        UNION ALL
        SELECT 'kmeans', 64, 16, query_id, corpus_id FROM approxkmx64
        UNION ALL
        SELECT 'kmeans', 256, 64, query_id, corpus_id FROM approxkmx256
    ),
    kk AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM exact GROUP BY 1
    ),
    h AS (
        SELECT u.directory, u.cells, u.probe, e.query_id,
               CAST(COUNT(*) AS BIGINT) AS hits
        FROM exact e JOIN un u
          ON e.query_id = u.query_id AND e.corpus_id = u.corpus_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT s.directory, s.cells, s.probe, kk.query_id,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, kk.k,
           round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / kk.k, 6) AS recall_r
    FROM (SELECT 'sign' AS directory, 16 AS cells, 0 AS probe
          UNION ALL SELECT 'sign', 16, 1
          UNION ALL SELECT 'sign', 256, 0 UNION ALL SELECT 'sign', 256, 1
          UNION ALL SELECT 'kmeans', 16, 1
          UNION ALL SELECT 'kmeans', 16, 4
          UNION ALL SELECT 'kmeans', 64, 16
          UNION ALL SELECT 'kmeans', 256, 64) s
    CROSS JOIN kk
    LEFT JOIN h ON h.directory = s.directory AND h.cells = s.cells
               AND h.probe = s.probe AND h.query_id = kk.query_id
    ORDER BY s.directory, s.cells, s.probe, kk.query_id
"""


def q_sim_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-rank rung of the ANN ladder (VERDICT r12 item 4): per-query
    recall@10 of the trained IVF+PQ ranking BEFORE and AFTER exact
    re-ranking of its ADC shortlist, against the exact cosine baseline.
    Pure PQ/ADC recall@10 plateaus at 0.65-0.71 on this corpus (the
    sim_pq_recall / sim_ivfpq_recall grids; cause isolated r10 as
    quantization error, not directory pruning), and this gate shows the
    standard production fix closing the gap: take the top-100 candidates
    by compressed ADC score (``stage='adc'`` is the same ranking cut at
    10), re-score only those with the exact rounded-cosine fold on the
    raw vectors (``operators/similarity.ivfpq_rerank_topk`` — one keyed
    equi-join against the embeddings table), keep the true top-10
    (``stage='rerank'``). Recall now only loses a true neighbour that
    misses the WHOLE 100-deep shortlist, so the rerank rows sit at the
    directory's pruning-only ceiling. Measured mean recall@10: adc 0.68
    -> rerank **0.87** at sf0.01, adc 0.65 -> rerank **0.98** at sf0.1
    — the re-rank removes the quantization loss entirely; the sf0.01
    residual (0.13) is pure directory pruning (500 vectors / 16 cells /
    nprobe=4 probes ~125 candidates, so the 100-deep shortlist already
    holds nearly every candidate and what's missing never entered a
    probed cell — the nprobe dial's territory, not the re-rank's).
    Cost: the probe plan is unchanged with the per-query window widened
    10 -> 100, plus a (queries x 100)-row re-score join — bounded by 2x
    the bare probe (measured in docs/SCALE.md r13).

    Same directory (kmeans, 16 cells, 2 Lloyd iterations), probe width
    (nprobe=4) and code budget (m=32 x 64 codewords) as the
    sim_ivfpq_recall kmeans rows, trained once and shared by both
    stages, so the adc-vs-rerank delta is purely the re-score."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=10
    )
    cells = similarity.train_ivf_directory(
        emb, "vec_id", "embedding", n_cells=16, iterations=2, dim=64
    ).localCheckpoint(eager=True)
    adc = similarity.ivfpq_topk_trained(
        emb, queries, "vec_id", "embedding",
        k=10, dim=64, m=32, n_codes=64,
        n_cells=16, nprobe=4, cells=cells,
    )
    rerank = similarity.ivfpq_rerank_topk(
        emb, queries, "vec_id", "embedding",
        k=10, shortlist=100, dim=64, m=32, n_codes=64,
        n_cells=16, nprobe=4, cells=cells,
    )
    out = (
        similarity.recall_report(adc, exact)
        .withColumn("stage", F.lit("adc"))
        .unionByName(
            similarity.recall_report(rerank, exact).withColumn(
                "stage", F.lit("rerank")
            )
        )
    )
    return out.select(
        "stage", "query_id", "hits", "k", "recall_r"
    ).orderBy("stage", "query_id")


QUERIES["sim_ivfpq_rerank"] = q_sim_ivfpq_rerank

# Both stages rebuilt in SQL from ONE shortlist CTE: the trained-directory
# probe CTEs cut at the 100-deep shortlist; the adc stage is that ranking's
# first 10 rows (identical ordering), the rerank stage re-scores the
# shortlist with the same list_reduce dot-product fold the exact baseline
# uses and re-ranks. Recall arithmetic matches recall_report (hits/k in
# integers, one rounded division).
ORACLES["sim_ivfpq_rerank"] = f"""
    WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
    q AS MATERIALIZED (
        SELECT vec_id, [{_SQ_CODES}] AS qv
        FROM embeddings CROSS JOIN stats
    ),
    exact AS MATERIALIZED (
        SELECT query_id, corpus_id FROM (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({_RDOT}, 6) DESC, a.vec_id ASC
                   ) AS rnk
            FROM embeddings a JOIN embeddings b
              ON b.vec_id < 10 AND a.vec_id <> b.vec_id
        ) WHERE rnk <= 10
    ),{_pq_base_ctes(32, 64, "ip")},{_ivfkm_dir_ctes(16)},{_ivfkm_probe_ctes(32, "ip", "sl", 4, k=100)},
    rr AS (
        SELECT query_id, corpus_id FROM (
            SELECT p.query_id, p.corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY round({_RDOT}, 6) DESC, p.corpus_id ASC
                   ) AS rnk
            FROM approxsl p
            JOIN embeddings a ON a.vec_id = p.corpus_id
            JOIN embeddings b ON b.vec_id = p.query_id
        ) WHERE rnk <= 10
    ),
    un AS (
        SELECT 'adc' AS stage, query_id, corpus_id
        FROM approxsl WHERE rnk <= 10
        UNION ALL
        SELECT 'rerank', query_id, corpus_id FROM rr
    ),
    kk AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM exact GROUP BY 1
    ),
    h AS (
        SELECT u.stage, e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
        FROM exact e JOIN un u
          ON e.query_id = u.query_id AND e.corpus_id = u.corpus_id
        GROUP BY 1, 2
    )
    SELECT s.stage, kk.query_id,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, kk.k,
           round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / kk.k, 6) AS recall_r
    FROM (SELECT 'adc' AS stage UNION ALL SELECT 'rerank') s
    CROSS JOIN kk
    LEFT JOIN h ON h.stage = s.stage AND h.query_id = kk.query_id
    ORDER BY s.stage, kk.query_id
"""


def _assembled_rotation(rot: DataFrame, out_col: str) -> DataFrame:
    """LONG-form (vid, j, pj) rotation output -> (vec_id, array<double>)
    corpus frame pq_topk can consume. pj values are exact integers, so
    the double cast is lossless."""
    return (
        rot.groupBy("vid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "pj"))),
                lambda e: e["pj"].cast("double"),
            ).alias(out_col)
        )
        .select(F.col("vid").alias("vec_id"), out_col)
    )


def q_sim_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-style rotation dial for PQ (VERDICT r7 item 6's second half):
    recall@10 of PQ/ADC at the SAME code budget (m=32 x 64 codewords)
    under three pre-transforms of the corpus, all measured against the
    exact cosine baseline on the ORIGINAL vectors. OPQ's lesson (Ge et
    al., "Optimized Product Quantization", CVPR 2013) is that PQ's loss
    concentrates in subspaces carrying unequal energy, and an ORTHOGONAL
    rotation that balances them buys recall at zero extra bytes. The
    settings separate the two properties a candidate rotation can have:

    - ``pq`` — no rotation (the sim_pq_recall m=32 x 64 baseline, 0.69
      mean recall@10 at sf0.01).
    - ``hadamard`` — randomized Walsh–Hadamard H·D
      (operators/similarity.hadamard_rotate): EXACTLY orthogonal up to
      scale, so the true neighbour geometry is preserved bit-for-bit
      and the only change is the energy-balanced basis. Measured:
      0.68 mean recall@10 — on this already-near-isotropic synthetic
      corpus the balanced basis is worth ~nothing (-0.01, inside the
      per-query scatter), which is the honest calibration: the
      Hadamard trick pays exactly when the input basis is skewed, and
      a deployment should measure its own corpus with this gate
      before spending the rotation.
    - ``jl_sign`` — the dense ±1 JL sign mix (jl_project at 64→64):
      energy-balancing but NOT orthogonal (cross-terms survive), so it
      DISTORTS the geometry the truth ranking lives in. Measured: 0.29
      mean recall@10 — a 0.40 collapse that quantifies why "any random
      mix" is not a rotation: JL preserves distances in expectation
      across many dims, but at square 64→64 the per-pair distortion is
      exactly the loss PQ then encodes.

    Everything is exact integer arithmetic end-to-end (round(x*1e6)
    BIGINT components, ±1 derived matrices, integer SQ8/PQ/ADC), so all
    three rankings are bit-identical cross-engine.

    Scale shape: each rotation is a broadcast join of a 64x64 derived
    matrix against the exploded corpus, map-side combined back to one
    64-cell row per vector — one shuffle of corpus-row size, then the
    identical pq_topk plan as sim_pq_recall; the report is per-query
    set intersections over queries x k rows.

    reference: ABSENT — exposes dense brute-force only
    (cae/src/execution.cpp:23-120); SURVEY.md §2 extension surface
    completing the measured ANN dial set (IVF probes, PQ code size,
    IVF+PQ grid, rotation)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.cosine_topk_exact_baseline(
        emb, queries, "vec_id", "embedding", k=10
    )
    rv = _assembled_rotation(
        similarity.jl_project(emb, "vec_id", "embedding", in_dim=64, out_dim=64),
        "rembedding",
    )
    hv = _assembled_rotation(
        similarity.hadamard_rotate(emb, "vec_id", "embedding", dim=64),
        "hembedding",
    )
    parts = []
    for setting, c_df, vcol in (
        ("pq", emb, "embedding"),
        ("jl_sign", rv, "rembedding"),
        ("hadamard", hv, "hembedding"),
    ):
        approx = similarity.pq_topk(
            c_df,
            c_df.where(F.col("vec_id") < 10),
            "vec_id",
            vcol,
            k=10,
            dim=64,
            m=32,
            n_codes=64,
        )
        parts.append(
            similarity.recall_report(approx, exact).withColumn(
                "setting", F.lit(setting)
            )
        )
    out = parts[0]
    for pt in parts[1:]:
        out = out.unionByName(pt)
    return out.select(
        "setting", "query_id", "hits", "k", "recall_r"
    ).orderBy("setting", "query_id")


QUERIES["sim_opq_recall"] = q_sim_opq_recall

ORACLES["sim_opq_recall"] = f"""
    WITH stats AS (SELECT {_SQ_STATS} FROM embeddings),
    q AS MATERIALIZED (
        SELECT vec_id, [{_SQ_CODES}] AS qv
        FROM embeddings CROSS JOIN stats
    ),
    exact AS MATERIALIZED (
        SELECT query_id, corpus_id FROM (
            SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round({_RDOT}, 6) DESC, a.vec_id ASC
                   ) AS rnk
            FROM embeddings a JOIN embeddings b
              ON b.vec_id < 10 AND a.vec_id <> b.vec_id
        ) WHERE rnk <= 10
    ),
    qi AS MATERIALIZED (
        SELECT vec_id, i - 1 AS i,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS iv
        FROM embeddings, UNNEST(range(1, 65)) AS t(i)
    ),
    signs AS MATERIALIZED (
        SELECT i.i, j.j,
               CASE WHEN substr(md5(i.i || '_' || j.j), 1, 1) < '8'
                    THEN 1 ELSE -1 END AS s
        FROM (SELECT unnest(range(0, 64)) AS i) i,
             (SELECT unnest(range(0, 64)) AS j) j
    ),
    proj AS MATERIALIZED (
        SELECT qi.vec_id, s.j, CAST(SUM(s.s * qi.iv) AS BIGINT) AS pj
        FROM qi JOIN signs s ON s.i = qi.i
        GROUP BY 1, 2
    ),
    rv AS MATERIALIZED (
        SELECT vec_id, list(CAST(pj AS DOUBLE) ORDER BY j) AS remb
        FROM proj GROUP BY vec_id
    ),
    rstats AS (SELECT CAST(MAX(ABS(pj)) AS DOUBLE) AS gmax FROM proj),
    qr AS MATERIALIZED (
        SELECT vec_id, [{", ".join(
            f"CAST(CASE WHEN gmax > 0 THEN "
            f"round(remb[{i + 1}] * 127.0 / gmax) "
            f"ELSE 0.0 END AS INTEGER)"
            for i in range(_DIM)
        )}] AS qv
        FROM rv CROSS JOIN rstats
    ),
    hmat AS MATERIALIZED (
        SELECT i.i, j.j,
               (CASE WHEN bit_count(CAST(i.i AS BIGINT)
                                    & CAST(j.j AS BIGINT)) % 2 = 0
                     THEN 1 ELSE -1 END)
             * (CASE WHEN substr(md5('d_' || i.i), 1, 1) < '8'
                     THEN 1 ELSE -1 END) AS s
        FROM (SELECT unnest(range(0, 64)) AS i) i,
             (SELECT unnest(range(0, 64)) AS j) j
    ),
    projh AS MATERIALIZED (
        SELECT qi.vec_id, s.j, CAST(SUM(s.s * qi.iv) AS BIGINT) AS pj
        FROM qi JOIN hmat s ON s.i = qi.i
        GROUP BY 1, 2
    ),
    hv AS MATERIALIZED (
        SELECT vec_id, list(CAST(pj AS DOUBLE) ORDER BY j) AS remb
        FROM projh GROUP BY vec_id
    ),
    hstats AS (SELECT CAST(MAX(ABS(pj)) AS DOUBLE) AS gmax FROM projh),
    qh AS MATERIALIZED (
        SELECT vec_id, [{", ".join(
            f"CAST(CASE WHEN gmax > 0 THEN "
            f"round(remb[{i + 1}] * 127.0 / gmax) "
            f"ELSE 0.0 END AS INTEGER)"
            for i in range(_DIM)
        )}] AS qv
        FROM hv CROSS JOIN hstats
    ),{_pq_cte_block(32, 64, 0)},{_pq_cte_block(32, 64, 1, src="qr")},{_pq_cte_block(32, 64, 2, src="qh")},
    un AS (
        SELECT 'pq' AS setting, query_id, corpus_id FROM approx0
        UNION ALL
        SELECT 'jl_sign', query_id, corpus_id FROM approx1
        UNION ALL
        SELECT 'hadamard', query_id, corpus_id FROM approx2
    ),
    kk AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM exact GROUP BY 1
    ),
    h AS (
        SELECT u.setting, e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
        FROM exact e JOIN un u
          ON e.query_id = u.query_id AND e.corpus_id = u.corpus_id
        GROUP BY 1, 2
    )
    SELECT s.setting, kk.query_id,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, kk.k,
           round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / kk.k, 6) AS recall_r
    FROM (SELECT 'pq' AS setting UNION ALL SELECT 'jl_sign'
          UNION ALL SELECT 'hadamard') s
    CROSS JOIN kk
    LEFT JOIN h ON h.setting = s.setting AND h.query_id = kk.query_id
    ORDER BY s.setting, kk.query_id
"""


def q_pipeline_quantile_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source quality scores onto the
    POOLED corpus distribution (operators/stats.quantile_match_across_
    groups) — the step after pipeline_score_normalize when downstream
    wants comparable VALUES, not just ranks: a doc at its source's p-th
    percentile is assigned the pooled score at the same percentile.
    Mapping is exact integer order statistics (no doubles); both the
    per-source and the pooled-global rank ride two_phase_rank_cumsum,
    so the global rank never collapses into one task."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_features(
        docs.select("doc_id", "source", "text"), "text"
    ).select("doc_id", "source", F.round("q_score", 6).alias("q6"))
    out = stats.quantile_match_across_groups(
        scored, "source", "q6", "doc_id"
    )
    return out.select(
        "doc_id",
        "source",
        F.col("q6").alias("q_r"),
        F.col("matched").alias("matched_r"),
    ).orderBy("doc_id")


QUERIES["pipeline_quantile_match"] = q_pipeline_quantile_match

ORACLES["pipeline_quantile_match"] = f"""
    WITH {_P2_QSCORE},
    s AS (
        SELECT qs.doc_id, d.source, round(qs.q_score, 6) AS q6
        FROM qs JOIN documents d ON d.doc_id = qs.doc_id
    ),
    g AS (
        SELECT doc_id, source, q6,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY q6 ASC, doc_id ASC
               ) AS rg,
               COUNT(*) OVER (PARTITION BY source) AS ng
        FROM s
    ),
    p AS (
        SELECT q6 AS matched,
               ROW_NUMBER() OVER (ORDER BY q6 ASC, doc_id ASC) AS pos
        FROM s
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    i AS (
        SELECT doc_id, source, q6,
               CASE WHEN ng > 1 THEN
                   CAST((CAST(rg - 1 AS HUGEINT) * (n - 1)) // (ng - 1)
                        AS BIGINT) + 1
               ELSE 1 END AS pos
        FROM g CROSS JOIN n
    )
    SELECT i.doc_id, i.source, i.q6 AS q_r, p.matched AS matched_r
    FROM i JOIN p USING (pos) ORDER BY i.doc_id
"""
