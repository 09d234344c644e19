"""Seventh relational workload: audit reconciliation, time-series
diagnostics (autocorrelation, changepoint), survival analysis, and
multi-source graph distances.

These extend the reference's analytic surface (reference: ABSENT —
extension surface) with the diagnostics layer a warehouse team runs on
top of the scans/aggregates the reference provides. Determinism rules
follow workloads/__init__: every cross-engine float is either an exact
integer ratio divided as DOUBLE then rounded, or a DECIMAL-routed sum;
ACF/changepoint avoid float accumulation entirely by n-scaling the
mean-centered series into BIGINT arithmetic (dev_t = n*x_t - S is the
exact integer n-multiple of x_t - mean, and the scale factors cancel in
every reported ratio).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import graph
from ..sources.catalog import load_table, table_path
from ._scratch import derived


def q_orders_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-entry audit: recompute each order's total from its line
    items (sum of extendedprice*(1-discount)*(1+tax), the TPC-H charge
    formula, DECIMAL(18,4)-routed per row so partial-agg order cannot
    drift) and reconcile against the order header's o_totalprice. Per
    order status: how many orders reconcile within $1, how many have no
    lines at all, and the size of the drift. The header-vs-detail join
    keys both sides on the order key — co-partitioned, no broadcast
    needed, and at 100 TB it is the classic fact-to-fact same-key merge
    join. Facts reduce to one row per order before touching the header.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    charge = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    ).cast("decimal(18,4)")
    per_order = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.sum(charge).cast("decimal(18,4)").alias("computed")
    )
    j = orders.join(
        per_order, orders["o_orderkey"] == per_order["okey"], "left"
    ).select(
        "o_orderstatus",
        F.col("computed").isNull().cast("int").alias("no_lines"),
        F.abs(
            F.coalesce(F.col("computed"), F.lit(0).cast("decimal(18,4)"))
            - F.col("o_totalprice").cast("decimal(18,4)")
        ).alias("absdiff"),
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("no_lines").cast("bigint").alias("n_no_lines"),
            F.sum(
                (F.col("absdiff") < F.lit(1.0)).cast("int")
            ).cast("bigint").alias("n_reconciled"),
            F.round(
                F.sum("absdiff").cast("double") / F.count(F.lit(1)), 2
            ).alias("avg_absdiff_r"),
            F.round(F.max("absdiff").cast("double"), 2).alias(
                "max_absdiff_r"
            ),
        )
        .orderBy("o_orderstatus")
    )


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly count series as (event_type, hidx, x): facts
    reduce ONCE to (type, hour) cells, hours become integer indices
    (epoch//3600 — no interval arithmetic to diverge between engines),
    and the grid densifies every type onto the shared global span with
    zero-filled silent hours. Grid size = types x span hours — calendar-
    bounded, never data-proportional."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("hidx"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    span = hourly.agg(
        F.min("hidx").alias("h0"), F.max("hidx").alias("h1")
    )
    grid = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hidx"),
        )
    )
    return grid.join(hourly, ["event_type", "hidx"], "left").select(
        "event_type", "hidx", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )


def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event type's hourly count series
    at lags 1..12 — the seasonality/burstiness diagnostic behind
    forecasting and anomaly baselines. Exact integer math throughout:
    dev_t = n*x_t - S (the n-scaled mean-centered value, a BIGINT), so
    acf_k = sum(dev_t * dev_{t-k}) / sum(dev_t^2) — the n^2 scale
    cancels and both sums are exact integers; the only float is the
    final DOUBLE division, rounded to 6. Lag alignment is a self-join
    on the integer hour index (no window), and every relation after the
    first aggregate is calendar-bounded (types x hours)."""
    series = _hourly_series(spark, sf_dir)
    st = series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    d = series.join(F.broadcast(st), "event_type").select(
        "event_type",
        "hidx",
        (F.col("n") * F.col("x") - F.col("s")).alias("dev"),
    )
    den = d.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).cast("bigint").alias("den")
    )
    lagged = d.select(
        "event_type",
        F.col("dev").alias("dev_lag"),
        F.explode(F.sequence(F.lit(1), F.lit(12))).alias("lag"),
        F.col("hidx").alias("h_base"),
    ).withColumn("hidx", F.col("h_base") + F.col("lag"))
    num = (
        d.join(lagged, ["event_type", "hidx"])
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("dev") * F.col("dev_lag")).cast("bigint").alias("num"))
    )
    return (
        num.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "lag",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf_r"),
        )
        .orderBy("event_type", "lag")
    )


def q_orders_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection per order priority: the binary-segmentation
    first split of the daily order-count series — the day index t that
    maximizes |mean(first t days) - mean(rest)| — plus the CUSUM range
    (max - min of the cumulative mean-centered sum, Page's drift
    statistic). All candidate statistics are exact n-scaled integers:
    shift(t) ~ S1*(n-t) - (S-S1)*t over the common denominator
    t*(n-t), so the argmax ranks exact rationals compared as rounded
    DOUBLEs with the earliest day as tie-break. The facts reduce once
    to (priority, day) cells; every window below runs over that
    calendar-bounded aggregate (the documented-safe shape)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        daily.select("o_orderpriority")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "o_orderpriority",
            F.col("d0"),
            F.explode(
                F.sequence(F.lit(0), F.datediff(F.col("d1"), F.col("d0")))
            ).alias("t"),
        )
    )
    series = (
        grid.withColumn("d", F.date_add(F.col("d0"), F.col("t")))
        .join(daily, ["o_orderpriority", "d"], "left")
        .select(
            "o_orderpriority",
            "t",
            "d",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    st = series.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = series.withColumn(
        "s1", F.sum("x").over(w_cum).cast("bigint")
    ).join(F.broadcast(st), "o_orderpriority")
    # split AFTER day index t: before = t+1 days, after = n-t-1 days
    cand = cum.where(F.col("t") < F.col("n") - 1).select(
        "o_orderpriority",
        "d",
        "n",
        "s",
        "s1",
        (F.col("t") + 1).alias("nb"),
        (F.col("n") - F.col("t") - 1).alias("na"),
        # CUSUM value scaled by n: n*S1_t - (t+1)*S
        (
            F.col("n") * F.col("s1") - (F.col("t") + 1) * F.col("s")
        ).alias("cusum_sc"),
    )
    shift_r = F.round(
        F.abs(
            F.col("s1").cast("double") / F.col("nb").cast("double")
            - (F.col("s") - F.col("s1")).cast("double")
            / F.col("na").cast("double")
        ),
        6,
    )
    ranked = cand.withColumn("shift_r", shift_r)
    w_best = Window.partitionBy("o_orderpriority").orderBy(
        F.col("shift_r").desc(), F.col("d").asc()
    )
    cusum = cand.groupBy("o_orderpriority").agg(
        F.round(
            (F.max("cusum_sc") - F.min("cusum_sc")).cast("double")
            / F.first("n").cast("double"),
            6,
        ).alias("cusum_range_r")
    )
    return (
        ranked.withColumn("rk", F.row_number().over(w_best))
        .where(F.col("rk") == 1)
        .join(F.broadcast(cusum), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.date_format("d", "yyyy-MM-dd").alias("split_date"),
            F.round(
                F.col("s1").cast("double") / F.col("nb").cast("double"), 6
            ).alias("mean_before_r"),
            F.round(
                (F.col("s") - F.col("s1")).cast("double")
                / F.col("na").cast("double"),
                6,
            ).alias("mean_after_r"),
            "shift_r",
            "cusum_range_r",
        )
        .orderBy("o_orderpriority")
    )


def q_graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances over the co-supply graph: every
    supplier within 3 hops of a seed set (s_suppkey % 50 == 0), with
    its minimum hop count (operators/graph.bfs_distances). The blast-
    radius query: frontier expansions shuffle on node ids only and the
    anti-join keeps each round frontier-sized, not graph-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    edges = graph.co_supply_edges(li)
    sources = supp.where(F.col("s_suppkey") % 50 == 0).select(
        F.col("s_suppkey").alias("node")
    )
    out = graph.bfs_distances(
        edges, sources, max_hops=3, src="sa", dst="sb"
    )
    return out.select(
        F.col("node").cast("bigint"), F.col("dist").cast("int")
    ).orderBy("node")


def q_customers_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk-set table for time-to-second-order: per gap
    duration (days between a customer's first and second order; right-
    censored at the corpus end for single-order customers), the number
    at risk, events, censorings, and the exact discrete hazard d/n —
    the survival curve's constructive core without a cross-row float
    product. The per-customer ordering window partitions on the
    customer key (data-proportional key, bounded group size); the risk
    sets come from one exclusive prefix sum over the duration-level
    aggregate, whose cardinality the calendar bounds."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    firsts = (
        orders.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        )
    )
    horizon = orders.agg(F.max(F.to_date("o_orderdate")).alias("dmax"))
    subj = firsts.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
        )
        .otherwise(F.datediff(F.col("dmax"), F.col("d1")))
        .alias("dur_days"),
        F.col("d2").isNotNull().cast("int").alias("event"),
    )
    cells = subj.groupBy("dur_days").agg(
        F.sum("event").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("event")).cast("bigint").alias("n_censored"),
    )
    total = subj.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    w_prior = (
        Window.orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        cells.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            (
                F.col("n_total")
                - F.coalesce(
                    F.sum(F.col("n_events") + F.col("n_censored")).over(
                        w_prior
                    ),
                    F.lit(0),
                )
            ).cast("bigint"),
        )
        .select(
            "dur_days",
            "n_risk",
            "n_events",
            "n_censored",
            F.round(
                F.col("n_events").cast("double")
                / F.col("n_risk").cast("double"),
                6,
            ).alias("hazard_r"),
        )
        .orderBy("dur_days")
    )


QUERIES = {
    "orders_reconciliation": q_orders_reconciliation,
    "events_acf": q_events_acf,
    "orders_changepoint": q_orders_changepoint,
    "graph_bfs_distance": q_graph_bfs_distance,
    "customers_survival_km": q_customers_survival_km,
}

# Shared SQL fragments for the co-supply graph (single-sourced in
# operators/graph.co_supply_edges; mirrored by the kcore/triangles oracles).
_CO_SUPPLY_SQL = """
        ps AS MATERIALIZED (
            SELECT DISTINCT l_partkey AS pk, l_suppkey AS s
            FROM lineitem WHERE l_partkey % 50 = 0
        ),
        e AS MATERIALIZED (
            SELECT a.s AS sa, b.s AS sb
            FROM ps a JOIN ps b ON a.pk = b.pk AND a.s < b.s
            GROUP BY 1, 2 HAVING COUNT(*) >= 3
        ),
        sym AS MATERIALIZED (
            SELECT sa AS u, sb AS v FROM e
            UNION ALL
            SELECT sb AS u, sa AS v FROM e
        )
"""

ORACLES = {
    "orders_reconciliation": """
        WITH per_order AS (
            SELECT l_orderkey AS okey,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) AS DECIMAL(18,4)))
                        AS DECIMAL(18,4)) AS computed
            FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
            SELECT o.o_orderstatus,
                   CASE WHEN p.computed IS NULL THEN 1 ELSE 0 END
                       AS no_lines,
                   abs(COALESCE(p.computed, CAST(0 AS DECIMAL(18,4)))
                       - CAST(o.o_totalprice AS DECIMAL(18,4))) AS absdiff
            FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.okey
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(no_lines) AS BIGINT) AS n_no_lines,
               CAST(SUM(CASE WHEN absdiff < 1.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_reconciled,
               round(CAST(SUM(absdiff) AS DOUBLE) / COUNT(*), 2)
                   AS avg_absdiff_r,
               round(CAST(MAX(absdiff) AS DOUBLE), 2) AS max_absdiff_r
        FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "events_acf": """
        WITH hourly AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT)
                       AS hidx,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        span AS (SELECT MIN(hidx) AS h0, MAX(hidx) AS h1 FROM hourly),
        grid AS (
            SELECT t.event_type, unnest(generate_series(h0, h1)) AS hidx
            FROM (SELECT DISTINCT event_type FROM hourly) t, span
        ),
        series AS (
            SELECT g.event_type, g.hidx, COALESCE(h.x, 0) AS x
            FROM grid g LEFT JOIN hourly h
              ON h.event_type = g.event_type AND h.hidx = g.hidx
        ),
        st AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s
            FROM series GROUP BY event_type
        ),
        d AS (
            SELECT se.event_type, se.hidx, st.n * se.x - st.s AS dev
            FROM series se JOIN st USING (event_type)
        ),
        den AS (
            SELECT event_type, CAST(SUM(dev * dev) AS BIGINT) AS den
            FROM d GROUP BY event_type
        ),
        num AS (
            SELECT a.event_type, l.lag,
                   CAST(SUM(a.dev * b.dev) AS BIGINT) AS num
            FROM d a
            CROSS JOIN (SELECT unnest(generate_series(1, 12)) AS lag) l
            JOIN d b ON b.event_type = a.event_type
                    AND b.hidx + l.lag = a.hidx
            GROUP BY a.event_type, l.lag
        )
        SELECT n.event_type, n.lag,
               round(CAST(n.num AS DOUBLE) / CAST(dn.den AS DOUBLE), 6)
                   AS acf_r
        FROM num n JOIN den dn USING (event_type)
        ORDER BY event_type, lag
    """,
    "orders_changepoint": """
        WITH daily AS (
            SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM orders GROUP BY 1, 2
        ),
        span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
        grid AS (
            SELECT p.o_orderpriority, s.d0,
                   unnest(generate_series(0, datediff('day', s.d0, s.d1)))
                       AS t
            FROM (SELECT DISTINCT o_orderpriority FROM daily) p, span s
        ),
        series AS (
            SELECT g.o_orderpriority, g.t, g.d0 + g.t * INTERVAL 1 DAY
                       AS d,
                   COALESCE(dl.x, 0) AS x
            FROM grid g LEFT JOIN daily dl
              ON dl.o_orderpriority = g.o_orderpriority
             AND dl.d = g.d0 + g.t * INTERVAL 1 DAY
        ),
        st AS (
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s
            FROM series GROUP BY o_orderpriority
        ),
        cum AS (
            SELECT se.o_orderpriority, se.t, se.d, st.n, st.s,
                   CAST(SUM(se.x) OVER (
                       PARTITION BY se.o_orderpriority ORDER BY se.t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS s1
            FROM series se JOIN st USING (o_orderpriority)
        ),
        cand AS (
            SELECT o_orderpriority, d, n, s, s1,
                   t + 1 AS nb, n - t - 1 AS na,
                   n * s1 - (t + 1) * s AS cusum_sc,
                   round(abs(CAST(s1 AS DOUBLE) / CAST(t + 1 AS DOUBLE)
                             - CAST(s - s1 AS DOUBLE)
                               / CAST(n - t - 1 AS DOUBLE)), 6)
                       AS shift_r
            FROM cum WHERE t < n - 1
        ),
        best AS (
            SELECT *, row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY shift_r DESC, d ASC) AS rk
            FROM cand
        ),
        cs AS (
            SELECT o_orderpriority,
                   round(CAST(MAX(cusum_sc) - MIN(cusum_sc) AS DOUBLE)
                         / CAST(ANY_VALUE(n) AS DOUBLE), 6)
                       AS cusum_range_r
            FROM cand GROUP BY o_orderpriority
        )
        SELECT b.o_orderpriority,
               strftime(b.d, '%Y-%m-%d') AS split_date,
               round(CAST(b.s1 AS DOUBLE) / CAST(b.nb AS DOUBLE), 6)
                   AS mean_before_r,
               round(CAST(b.s - b.s1 AS DOUBLE) / CAST(b.na AS DOUBLE), 6)
                   AS mean_after_r,
               b.shift_r, cs.cusum_range_r
        FROM best b JOIN cs USING (o_orderpriority)
        WHERE b.rk = 1 ORDER BY b.o_orderpriority
    """,
    "graph_bfs_distance": f"""
        WITH {_CO_SUPPLY_SQL},
        v0 AS MATERIALIZED (
            SELECT DISTINCT s_suppkey AS n FROM supplier
            WHERE s_suppkey % 50 = 0
        ),
        f1 AS MATERIALIZED (
            SELECT DISTINCT sym.v AS n FROM v0 JOIN sym ON sym.u = v0.n
            WHERE sym.v NOT IN (SELECT n FROM v0)
        ),
        f2 AS MATERIALIZED (
            SELECT DISTINCT sym.v AS n FROM f1 JOIN sym ON sym.u = f1.n
            WHERE sym.v NOT IN (SELECT n FROM v0)
              AND sym.v NOT IN (SELECT n FROM f1)
        ),
        f3 AS MATERIALIZED (
            SELECT DISTINCT sym.v AS n FROM f2 JOIN sym ON sym.u = f2.n
            WHERE sym.v NOT IN (SELECT n FROM v0)
              AND sym.v NOT IN (SELECT n FROM f1)
              AND sym.v NOT IN (SELECT n FROM f2)
        )
        SELECT CAST(n AS BIGINT) AS node, CAST(0 AS INTEGER) AS dist
        FROM v0
        UNION ALL
        SELECT CAST(n AS BIGINT), CAST(1 AS INTEGER) FROM f1
        UNION ALL
        SELECT CAST(n AS BIGINT), CAST(2 AS INTEGER) FROM f2
        UNION ALL
        SELECT CAST(n AS BIGINT), CAST(3 AS INTEGER) FROM f3
        ORDER BY node
    """,
    "customers_survival_km": """
        WITH ranked AS (
            SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
            FROM orders
        ),
        firsts AS (
            SELECT o_custkey,
                   MIN(CASE WHEN rn = 1 THEN d END) AS d1,
                   MIN(CASE WHEN rn = 2 THEN d END) AS d2
            FROM ranked WHERE rn <= 2 GROUP BY o_custkey
        ),
        horizon AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax FROM orders
        ),
        subj AS (
            SELECT CASE WHEN f.d2 IS NOT NULL
                        THEN datediff('day', f.d1, f.d2)
                        ELSE datediff('day', f.d1, h.dmax) END AS dur_days,
                   CASE WHEN f.d2 IS NOT NULL THEN 1 ELSE 0 END AS event
            FROM firsts f, horizon h
        ),
        cells AS (
            SELECT dur_days,
                   CAST(SUM(event) AS BIGINT) AS n_events,
                   CAST(SUM(1 - event) AS BIGINT) AS n_censored
            FROM subj GROUP BY dur_days
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM subj)
        SELECT c.dur_days,
               CAST(t.n_total - COALESCE(SUM(c.n_events + c.n_censored)
                   OVER (ORDER BY c.dur_days
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS BIGINT) AS n_risk,
               c.n_events, c.n_censored,
               round(CAST(c.n_events AS DOUBLE)
                     / CAST(t.n_total - COALESCE(SUM(c.n_events
                         + c.n_censored) OVER (ORDER BY c.dur_days
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS DOUBLE), 6) AS hazard_r
        FROM cells c, tot t
        ORDER BY c.dur_days
    """,
}


def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / theta-style) sketch set operations: estimate the
    customer-set UNION and INTERSECTION of each adjacent month pair from
    64-hash sketches — the set algebra HLL cannot do (HLL unions but
    never intersects) — next to the exact answers, so the estimator's
    error is visible in the gate output. Sketches merge exactly
    (min-k is distributive), the bottom-k rank filter plans map-side
    (WindowGroupLimit), and every estimate is a deterministic function
    of the md5 hash family, so the DuckDB oracle reproduces the
    estimates bit-for-bit (operators/sketches.kmv_sketch)."""
    from ..operators import sketches

    K = 64
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.trunc("o_orderdate", "month").alias("m"), "o_custkey"
    ).distinct()
    sk = sketches.kmv_sketch(base, ["m"], "o_custkey", k=K)
    months = base.select("m").distinct()
    pairs = months.select(F.col("m").alias("ma")).join(
        months.select(F.add_months("m", -1).alias("ma")), "ma"
    )
    tagged = (
        sk.join(pairs, sk["m"] == pairs["ma"])
        .select("ma", "h", F.lit(1).alias("tag"))
        .unionByName(
            sk.join(pairs, F.add_months(sk["m"], -1) == pairs["ma"])
            .select("ma", "h", F.lit(2).alias("tag"))
        )
    )
    mg0 = tagged.groupBy("ma", "h").agg(
        F.sum("tag").cast("bigint").alias("tag")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ma").orderBy(F.col("h").asc())
    mg = mg0.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= K)
    ps = mg.groupBy("ma").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_m"),
        F.max("h").cast("bigint").alias("u_k"),
        F.sum((F.col("tag") == 3).cast("int")).cast("bigint").alias("kp"),
    )
    cnt = base.groupBy("m").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (
        base.select(F.col("m").alias("ma"), "o_custkey")
        .join(
            base.select(
                F.add_months("m", -1).alias("ma"), "o_custkey"
            ),
            ["ma", "o_custkey"],
        )
        .groupBy("ma")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    est = sketches.kmv_estimate(F.col("n_m"), F.col("u_k"), K)
    return (
        ps.join(cnt.select(F.col("m").alias("ma"), F.col("n").alias("n_a")), "ma")
        .join(
            cnt.select(
                F.add_months("m", -1).alias("ma"), F.col("n").alias("n_b")
            ),
            "ma",
        )
        .join(inter, "ma", "left")
        .select(
            F.date_format("ma", "yyyy-MM").alias("month"),
            "n_a",
            "n_b",
            (
                F.col("n_a") + F.col("n_b") - F.coalesce(F.col("x"), F.lit(0))
            ).cast("bigint").alias("exact_union"),
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias(
                "exact_inter"
            ),
            F.round(est, 4).alias("est_union_r"),
            F.round(
                F.col("kp").cast("double") / F.col("n_m").cast("double")
                * est,
                4,
            ).alias("est_inter_r"),
        )
        .orderBy("month")
    )


QUERIES["sketch_kmv_setops"] = q_sketch_kmv_setops

ORACLES["sketch_kmv_setops"] = """
    WITH base AS (
        SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)
                   AS m, o_custkey
        FROM orders
    ),
    hs AS (
        SELECT m,
               CAST(concat('0x', substr(md5('kmv:'
                    || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM base
    ),
    sk AS (
        SELECT m, h FROM (
            SELECT m, h, row_number() OVER (
                       PARTITION BY m ORDER BY h) AS rn
            FROM hs
        ) WHERE rn <= 64
    ),
    months AS (SELECT DISTINCT m FROM base),
    pairs AS (
        SELECT a.m AS ma FROM months a
        JOIN months b ON b.m = a.m + INTERVAL 1 MONTH
    ),
    tagged AS (
        SELECT p.ma, s.h, 1 AS tag
        FROM sk s JOIN pairs p ON p.ma = s.m
        UNION ALL
        SELECT p.ma, s.h, 2 AS tag
        FROM sk s JOIN pairs p ON p.ma = s.m - INTERVAL 1 MONTH
    ),
    mg0 AS (
        SELECT ma, h, CAST(SUM(tag) AS BIGINT) AS tag
        FROM tagged GROUP BY ma, h
    ),
    mg AS (
        SELECT ma, h, tag FROM (
            SELECT ma, h, tag, row_number() OVER (
                       PARTITION BY ma ORDER BY h) AS rn
            FROM mg0
        ) WHERE rn <= 64
    ),
    ps AS (
        SELECT ma, CAST(COUNT(*) AS BIGINT) AS n_m,
               CAST(MAX(h) AS BIGINT) AS u_k,
               CAST(SUM(CASE WHEN tag = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS kp
        FROM mg GROUP BY ma
    ),
    cnt AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY m
    ),
    inter AS (
        SELECT a.m AS ma, CAST(COUNT(*) AS BIGINT) AS x
        FROM base a JOIN base b
          ON b.o_custkey = a.o_custkey AND b.m = a.m + INTERVAL 1 MONTH
        GROUP BY a.m
    )
    SELECT strftime(p.ma, '%Y-%m') AS month,
           ca.n AS n_a, cb.n AS n_b,
           CAST(ca.n + cb.n - COALESCE(i.x, 0) AS BIGINT) AS exact_union,
           CAST(COALESCE(i.x, 0) AS BIGINT) AS exact_inter,
           round(CASE WHEN ps.n_m < 64 THEN CAST(ps.n_m AS DOUBLE)
                      ELSE 63.0 * 1152921504606846976.0
                           / CAST(ps.u_k AS DOUBLE) END, 4)
               AS est_union_r,
           round(CAST(ps.kp AS DOUBLE) / CAST(ps.n_m AS DOUBLE)
                 * (CASE WHEN ps.n_m < 64 THEN CAST(ps.n_m AS DOUBLE)
                         ELSE 63.0 * 1152921504606846976.0
                              / CAST(ps.u_k AS DOUBLE) END), 4)
               AS est_inter_r
    FROM pairs p
    JOIN ps ON ps.ma = p.ma
    JOIN cnt ca ON ca.m = p.ma
    JOIN cnt cb ON cb.m = p.ma + INTERVAL 1 MONTH
    LEFT JOIN inter i ON i.ma = p.ma
    ORDER BY month
"""


def q_orders_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest of the seasonal-naive forecaster (predict
    each day's order count with the count 7 days earlier) against the
    naive-1 baseline (yesterday's count) — the forecast-accuracy report
    every demand-planning pipeline starts from. Per priority: MAE of
    both models over the evaluation span and their ratio (the MASE
    shape: < 1 means weekly seasonality beats persistence). Counts are
    integers, so both MAEs are exact integer sums; the only floats are
    the final divisions, rounded to 6. Facts reduce once to the
    calendar-bounded daily cells; lag alignment is a self-join on the
    integer day index — no windows at all."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        daily.select("o_orderpriority")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "o_orderpriority",
            F.explode(
                F.sequence(F.lit(0), F.datediff(F.col("d1"), F.col("d0")))
            ).alias("t"),
            F.col("d0"),
        )
    )
    series = (
        grid.withColumn("d", F.date_add(F.col("d0"), F.col("t")))
        .join(daily, ["o_orderpriority", "d"], "left")
        .select(
            "o_orderpriority", "t", F.coalesce(F.col("x"), F.lit(0)).alias("x")
        )
    )
    lag7 = series.select(
        "o_orderpriority",
        (F.col("t") + 7).alias("t"),
        F.col("x").alias("x_7"),
    )
    lag1 = series.select(
        "o_orderpriority",
        (F.col("t") + 1).alias("t"),
        F.col("x").alias("x_1"),
    )
    # evaluation span: days with BOTH forecasts defined (t >= 7)
    j = series.join(lag7, ["o_orderpriority", "t"]).join(
        lag1, ["o_orderpriority", "t"]
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_days"),
            F.sum(F.abs(F.col("x") - F.col("x_7")))
            .cast("bigint")
            .alias("abs_err_seasonal"),
            F.sum(F.abs(F.col("x") - F.col("x_1")))
            .cast("bigint")
            .alias("abs_err_naive1"),
        )
        .select(
            "o_orderpriority",
            "n_eval_days",
            F.round(
                F.col("abs_err_seasonal").cast("double")
                / F.col("n_eval_days").cast("double"),
                6,
            ).alias("mae_seasonal_r"),
            F.round(
                F.col("abs_err_naive1").cast("double")
                / F.col("n_eval_days").cast("double"),
                6,
            ).alias("mae_naive1_r"),
            F.round(
                F.col("abs_err_seasonal").cast("double")
                / F.col("abs_err_naive1").cast("double"),
                6,
            ).alias("mase_r"),
        )
        .orderBy("o_orderpriority")
    )


def q_parts_xyz_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the companion of the ABC
    revenue classes): each part's weekly-demand coefficient of
    variation over the FULL calendar span, bucketed X (steadiest,
    cv^2 < 14) / Y (middle, cv^2 < 18) / Z (most erratic) — thresholds
    calibrated to this corpus's sparse weekly demand (median cv^2 ~ 16;
    the textbook 0.25/1.0 cuts assume dense consumer demand and would
    put every part in Z). The zero-week
    trick keeps it grid-free: sum and sum-of-squares over a dense
    weekly grid equal those over the OBSERVED weeks (zeros contribute
    nothing), and the week count is the global span constant — so
    cv^2 = (n*sum(x^2) - S^2) / S^2 needs only the per-part observed
    cells plus one broadcast scalar, all exact BIGINT. No windows, no
    grid explosion, one shuffle on the part key."""
    li = load_table(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey",
        F.date_trunc("week", F.col("l_shipdate")).alias("w"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("x"))
    nweeks = (
        weekly.agg(
            (
                F.floor(
                    F.datediff(
                        F.max(F.to_date("w")), F.min(F.to_date("w"))
                    )
                    / 7
                )
                + 1
            )
            .cast("bigint")
            .alias("n")
        )
    )
    per_part = weekly.groupBy("l_partkey").agg(
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    cv2 = (
        per_part.crossJoin(F.broadcast(nweeks))
        .withColumn(
            "cv2_r",
            F.round(
                (
                    F.col("n") * F.col("s2") - F.col("s") * F.col("s")
                ).cast("double")
                / (F.col("s") * F.col("s")).cast("double"),
                6,
            ),
        )
        .withColumn(
            "xyz",
            F.when(F.col("cv2_r") < 14.0, "X")
            .when(F.col("cv2_r") < 18.0, "Y")
            .otherwise("Z"),
        )
    )
    return (
        cv2.groupBy("xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                F.sum(F.col("cv2_r").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cv2_r"),
        )
        .orderBy("xyz")
    )


QUERIES["orders_forecast_backtest"] = q_orders_forecast_backtest
QUERIES["parts_xyz_classes"] = q_parts_xyz_classes

ORACLES["orders_forecast_backtest"] = """
    WITH daily AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2
    ),
    span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    grid AS (
        SELECT p.o_orderpriority, s.d0,
               unnest(generate_series(0, datediff('day', s.d0, s.d1)))
                   AS t
        FROM (SELECT DISTINCT o_orderpriority FROM daily) p, span s
    ),
    series AS (
        SELECT g.o_orderpriority, g.t, COALESCE(dl.x, 0) AS x
        FROM grid g LEFT JOIN daily dl
          ON dl.o_orderpriority = g.o_orderpriority
         AND dl.d = g.d0 + g.t * INTERVAL 1 DAY
    ),
    j AS (
        SELECT a.o_orderpriority, a.t, a.x, b.x AS x_7, c.x AS x_1
        FROM series a
        JOIN series b ON b.o_orderpriority = a.o_orderpriority
                     AND b.t = a.t - 7
        JOIN series c ON c.o_orderpriority = a.o_orderpriority
                     AND c.t = a.t - 1
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_eval_days,
           round(CAST(SUM(abs(x - x_7)) AS DOUBLE) / COUNT(*), 6)
               AS mae_seasonal_r,
           round(CAST(SUM(abs(x - x_1)) AS DOUBLE) / COUNT(*), 6)
               AS mae_naive1_r,
           round(CAST(SUM(abs(x - x_7)) AS DOUBLE)
                 / CAST(SUM(abs(x - x_1)) AS DOUBLE), 6) AS mase_r
    FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority
""" 

ORACLES["parts_xyz_classes"] = """
    WITH weekly AS (
        SELECT l_partkey, date_trunc('week', l_shipdate) AS w,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
        FROM lineitem GROUP BY 1, 2
    ),
    nw AS (
        SELECT CAST(datediff('day', MIN(CAST(w AS DATE)),
                             MAX(CAST(w AS DATE))) // 7 + 1 AS BIGINT)
                   AS n
        FROM weekly
    ),
    pp AS (
        SELECT l_partkey, CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS s2
        FROM weekly GROUP BY l_partkey
    ),
    cv AS (
        SELECT p.l_partkey,
               round(CAST(nw.n * p.s2 - p.s * p.s AS DOUBLE)
                     / CAST(p.s * p.s AS DOUBLE), 6) AS cv2_r
        FROM pp p CROSS JOIN nw
    ),
    cls AS (
        SELECT CASE WHEN cv2_r < 14.0 THEN 'X'
                    WHEN cv2_r < 18.0 THEN 'Y'
                    ELSE 'Z' END AS xyz,
               cv2_r
        FROM cv
    )
    SELECT xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(CAST(cv2_r AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_cv2_r
    FROM cls GROUP BY xyz ORDER BY xyz
"""


def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1's WITH RECURSIVE on the gate: the part-hierarchy
    ancestor closure through GENUINE recursive SQL — the execution-
    surface twin of ``part_hierarchy_closure`` (which proves the same
    result via unrolled level-joins, the pre-4.x idiom). Both hash-match
    the same DuckDB recursion, so the two strategies are proven
    interchangeable; at scale the unrolled form still wins when the
    depth is known (each level is one co-partitioned join Catalyst can
    reorder), while the recursive form handles unknown depth."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_rcte")
    return spark.sql(
        """
        WITH RECURSIVE clo AS (
            SELECT p_partkey AS node, p_partkey div 10 AS anc, 1 AS dist
            FROM part_rcte
            WHERE p_partkey >= 1 AND p_partkey div 10 >= 1
            UNION ALL
            SELECT clo.node, e.p_partkey div 10, clo.dist + 1
            FROM clo JOIN part_rcte e ON e.p_partkey = clo.anc
            WHERE e.p_partkey div 10 >= 1
        )
        SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT anc) AS BIGINT) AS n_ancestors,
               CAST(MIN(node) AS BIGINT) AS min_node,
               CAST(MAX(node) AS BIGINT) AS max_node
        FROM clo GROUP BY dist ORDER BY dist
        """
    )


def q_sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery on the gate: each sampled order's
    single highest-price line item via a per-row LATERAL top-1 — the
    SQL-surface form of the dependent join (Spark plans it as a
    rewritten join + per-key limit, not a per-row re-scan; the
    DataFrame twin is window_topk_per_group). Ties break on the line
    number for a total order."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_lat"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_lat"
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber,
               round(t.l_extendedprice, 2) AS price_r
        FROM orders_lat o,
        LATERAL (
            SELECT l_linenumber, l_extendedprice
            FROM lineitem_lat li
            WHERE li.l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber ASC
            LIMIT 1
        ) t
        WHERE o.o_orderkey % 101 = 0
        ORDER BY o.o_orderkey
        """
    )


def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL scripting (SQL/PSM, SPARK-48338) on the gate:
    DECLARE'd variables, a FOR cursor over a real aggregate, and IF
    branching inside the loop — the procedural surface a migrating
    warehouse user expects. The accumulators are DECIMAL(18,2), so the
    fold is exact integer cents whatever order the cursor delivers;
    the oracle computes the same totals as plain set-based SQL, which
    is also the 100 TB note: the loop body here touches one 5-row
    aggregate, not data — scripting orchestrates set-based statements,
    it must never become a row loop."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_script"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE total DECIMAL(18,2) DEFAULT 0;
          DECLARE hi DECIMAL(18,2) DEFAULT 0;
          DECLARE n INT DEFAULT 0;
          FOR r AS SELECT o_orderpriority AS p,
                          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
                   FROM orders_script GROUP BY 1 ORDER BY 1 DO
            SET total = total + r.s;
            IF r.p IN ('1-URGENT', '2-HIGH') THEN
              SET hi = hi + r.s;
            END IF;
            SET n = n + 1;
          END FOR;
          SELECT CAST(n AS BIGINT) AS n_priorities,
                 CAST(total AS DOUBLE) AS total_price,
                 CAST(hi AS DOUBLE) AS hi_priority_price,
                 round(CAST(hi AS DOUBLE) / CAST(total AS DOUBLE), 6)
                     AS hi_share_r;
        END
        """
    )


def q_sql_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations (SPARK-46830) on the gate:
    case-insensitive DISTINCT and equality via UTF8_LCASE over a
    deliberately case-mixed derivation of the customer segment (even
    keys uppercased, odd lowercased — the raw fixture is uniform-case,
    so the collation must do real work: 10 raw distinct values
    collapse to 5). The oracle expresses the same semantics with
    lower(), the pre-collation idiom; collation wins at scale because
    the comparison happens in the collator, not through a derived
    column that blocks dictionary-encoding pushdown."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_coll"
    )
    return spark.sql(
        """
        WITH mixed AS (
          SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                      ELSE lower(c_mktsegment) END AS seg
          FROM customer_coll
        )
        SELECT CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_case_sensitive,
               CAST(COUNT(DISTINCT CAST(seg AS STRING COLLATE UTF8_LCASE))
                    AS BIGINT) AS n_case_insensitive,
               CAST(SUM(CASE WHEN CAST(seg AS STRING COLLATE UTF8_LCASE)
                                  = 'building'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_building_ci
        FROM mixed
        """
    )


QUERIES["sql_recursive_cte"] = q_sql_recursive_cte
QUERIES["sql_lateral_topk"] = q_sql_lateral_topk
QUERIES["sql_scripting"] = q_sql_scripting
QUERIES["sql_collation"] = q_sql_collation

ORACLES["sql_scripting"] = """
    SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS hi_priority_price,
           round(CAST(SUM(CASE WHEN o_orderpriority IN
                                    ('1-URGENT', '2-HIGH')
                          THEN CAST(o_totalprice AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 6) AS hi_share_r
    FROM orders
"""

ORACLES["sql_collation"] = """
    WITH mixed AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg
      FROM customer
    )
    SELECT CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_case_sensitive,
           CAST(COUNT(DISTINCT lower(seg)) AS BIGINT) AS n_case_insensitive,
           CAST(SUM(CASE WHEN lower(seg) = 'building' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_building_ci
    FROM mixed
"""

# Same recursion as part_hierarchy_closure's oracle: the two Spark
# strategies (genuine recursion here, unrolled joins there) must both
# equal DuckDB's recursive evaluation.
ORACLES["sql_recursive_cte"] = """
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

ORACLES["sql_lateral_topk"] = """
    SELECT o.o_orderkey, t.l_linenumber,
           round(t.l_extendedprice, 2) AS price_r
    FROM orders o,
    LATERAL (
        SELECT l_linenumber, l_extendedprice
        FROM lineitem li
        WHERE li.l_orderkey = o.o_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber ASC
        LIMIT 1
    ) t
    WHERE o.o_orderkey % 101 = 0
    ORDER BY o.o_orderkey
"""


def q_dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.6 near-dup pairs via prefix-filtered set-
    similarity join (operators/dedup.ppjoin_pairs, PPJoin family) — the
    exact-recall complement of MinHash-LSH: same pair semantics, zero
    probability of a missed pair, candidate space cut by rare-shingle
    prefix blocking (measured here: 11,533 share-a-shingle pairs ->
    165 candidates -> 25 true pairs)."""
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.ppjoin_pairs(
        docs, "doc_id", "text", threshold_pct=60, shingle_k=3
    ).orderBy("id_a", "id_b")


QUERIES["dedup_ppjoin"] = q_dedup_ppjoin


def _ppjoin_oracle() -> str:
    from .pipeline import _shingle_cte

    chain = _shingle_cte(3).replace("sh AS (", "sh AS MATERIALIZED (")
    return f"""
    WITH {chain},
    dfq AS MATERIALIZED (
        SELECT s, COUNT(*) AS df FROM sh GROUP BY s
    ),
    sizes AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM sh GROUP BY doc_id
    ),
    ranked AS (
        SELECT sh.doc_id, sh.s,
               row_number() OVER (
                   PARTITION BY sh.doc_id ORDER BY d.df, sh.s) AS rk,
               z.n
        FROM sh JOIN dfq d USING (s) JOIN sizes z USING (doc_id)
    ),
    prefix AS MATERIALIZED (
        SELECT doc_id, s FROM ranked
        WHERE rk <= n - (60 * n + 99) // 100 + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM prefix a JOIN prefix b
          ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    it AS (
        SELECT c.da, c.db, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh ta ON ta.doc_id = c.da
        JOIN sh tb ON tb.doc_id = c.db AND tb.s = ta.s
        GROUP BY c.da, c.db
    )
    SELECT it.da AS id_a, it.db AS id_b, i AS inter,
           CAST(sa.n + sb.n - i AS BIGINT) AS union_n,
           round(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6)
               AS jaccard_r
    FROM it
    JOIN sizes sa ON sa.doc_id = it.da
    JOIN sizes sb ON sb.doc_id = it.db
    WHERE 100 * i >= 60 * (sa.n + sb.n - i)
    ORDER BY id_a, id_b
"""


ORACLES["dedup_ppjoin"] = _ppjoin_oracle()


def q_table_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse branch/tag refs on the gate (sources/snapshots.py):
    main evolves v0 (keys % 7 == 0) -> v1 (+ % 7 == 1) -> v2 (+ % 7 ==
    3); branch "exp" forks at v1 and appends % 7 == 2; tag "prelaunch"
    pins v1 immutably. Branching writes ONE manifest — data parts are
    shared — and each ref's head proves isolation: main never sees the
    branch's rows, the branch never sees main's post-fork append, the
    tag never moves."""
    from ..sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )

    def build(d: str) -> None:
        t = SnapshotTable(d)
        t.append(orders.where(F.col("o_orderkey") % 7 == 0).repartition(4))
        t.append(orders.where(F.col("o_orderkey") % 7 == 1).repartition(4))
        t.tag_version("prelaunch", 1)
        exp = t.create_branch("exp")
        exp.append(orders.where(F.col("o_orderkey") % 7 == 2).repartition(4))
        t.append(orders.where(F.col("o_orderkey") % 7 == 3).repartition(4))

    path = derived("branches", [table_path(sf_dir, "orders")], build)
    t = SnapshotTable(path)
    exp = SnapshotTable(path, ref="exp")
    refs = [
        ("exp", exp.read(spark)),
        ("main", t.read(spark)),
        ("tag:prelaunch", t.read_tag(spark, "prelaunch")),
    ]
    u = None
    for name, df in refs:
        part = df.select(F.lit(name).alias("ref"), "o_orderkey")
        u = part if u is None else u.unionByName(part)
    return (
        u.groupBy("ref")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("ref")
    )


QUERIES["table_branches"] = q_table_branches

ORACLES["table_branches"] = """
    WITH sel AS (
        SELECT 'exp' AS ref, o_orderkey FROM orders
        WHERE o_orderkey % 7 IN (0, 1, 2)
        UNION ALL
        SELECT 'main', o_orderkey FROM orders
        WHERE o_orderkey % 7 IN (0, 1, 3)
        UNION ALL
        SELECT 'tag:prelaunch', o_orderkey FROM orders
        WHERE o_orderkey % 7 IN (0, 1)
    )
    SELECT ref, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM sel GROUP BY ref ORDER BY ref
"""


def q_sql_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's VARIANT type on the gate: the events payload parses
    ONCE into a VARIANT column (the open-schema semi-structured type
    that replaces string-JSON re-parsing on hot paths — binary-encoded,
    shredding-ready), fields extract with typed paths via variant_get,
    and the numbers aggregate per event type. The string-JSON twin is
    ``json_extract``; this is the engine-native representation a 100 TB
    semi-structured pipeline would actually store."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint").alias(
            "k"
        ),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.sum((F.col("k") > 50).cast("int")).cast("bigint").alias(
                "n_over_50"
            ),
            F.min("k").cast("bigint").alias("k_min"),
            F.max("k").cast("bigint").alias("k_max"),
        )
        .orderBy("event_type")
    )


QUERIES["sql_variant_extract"] = q_sql_variant_extract

ORACLES["sql_variant_extract"] = """
    WITH v AS (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS k_sum,
           CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_over_50,
           CAST(MIN(k) AS BIGINT) AS k_min,
           CAST(MAX(k) AS BIGINT) AS k_max
    FROM v GROUP BY event_type ORDER BY event_type
"""


def q_table_branch_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch promotion on the gate: branch "fix" forks main (keys
    % 5 == 0), appends % 5 == 1 and merge-on-read-deletes % 25 == 0,
    then ``promote_branch`` merges the branch's NET CDC delta back —
    only the keys the branch changed touch main's files (copy-on-write
    merge over the file-pruned snapshot_diff). Output proves both the
    promoted head (inserts landed, deletes applied) and that main's
    pre-promotion v0 still time-travels intact."""
    from ..sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )

    def build(d: str) -> None:
        t = SnapshotTable(d)
        t.append(orders.where(F.col("o_orderkey") % 5 == 0).repartition(4))
        br = t.create_branch("fix")
        br.append(orders.where(F.col("o_orderkey") % 5 == 1).repartition(4))
        br.delete_where(spark, ["o_orderkey"], F.col("o_orderkey") % 25 == 0)
        t.promote_branch(spark, "fix", keys=["o_orderkey"])

    t = SnapshotTable(derived("brpromote", [table_path(sf_dir, "orders")], build))
    refs = [
        ("head", t.read(spark)),
        ("v0", t.read(spark, 0)),
    ]
    u = None
    for name, df in refs:
        part = df.select(F.lit(name).alias("state"), "o_orderkey")
        u = part if u is None else u.unionByName(part)
    return (
        u.groupBy("state")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("state")
    )


QUERIES["table_branch_promote"] = q_table_branch_promote

ORACLES["table_branch_promote"] = """
    WITH sel AS (
        SELECT 'head' AS state, o_orderkey FROM orders
        WHERE (o_orderkey % 5 IN (0, 1)) AND o_orderkey % 25 <> 0
        UNION ALL
        SELECT 'v0', o_orderkey FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT state, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM sel GROUP BY state ORDER BY state
"""


def q_events_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend smoothing per user over daily mean values
    (operators/timeseries.holt_half) — the trend-aware successor of
    events_ewma with a 7-step-ahead forecast; the recurrence runs as a
    deterministic sequential fold with a struct accumulator, which no
    window function can express."""
    from ..operators import timeseries

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 30)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    return timeseries.holt_half(
        daily, "user_id", "day", "m", forecast_steps=7
    )


QUERIES["events_holt"] = q_events_holt

ORACLES["events_holt"] = """
    WITH RECURSIVE d AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                   AS m
        FROM events WHERE user_id < 30 GROUP BY 1, 2
    ),
    idx AS (
        SELECT user_id, m,
               row_number() OVER (PARTITION BY user_id ORDER BY day) AS i
        FROM d
    ),
    np AS (SELECT user_id, CAST(MAX(i) AS BIGINT) AS n FROM idx GROUP BY 1),
    -- the Holt fold as genuine recursion: DuckDB's list_reduce mutates a
    -- struct accumulator field-by-field (the b expression would see the
    -- step's NEW l), so the recurrence runs as a recursive CTE where
    -- r.l / r.b are frame-stable
    rec AS (
        SELECT user_id, 1 AS i, m AS l, CAST(0.0 AS DOUBLE) AS b
        FROM idx WHERE i = 1
        UNION ALL
        SELECT r.user_id, r.i + 1,
               x.m / 2.0 + (r.l + r.b) / 2.0,
               (x.m / 2.0 + (r.l + r.b) / 2.0 - r.l) / 2.0 + r.b / 2.0
        FROM rec r JOIN idx x
          ON x.user_id = r.user_id AND x.i = r.i + 1
    )
    SELECT r.user_id, np.n AS n_points,
           round(r.l, 6) AS level_r,
           round(r.b, 6) AS trend_r,
           round(r.l + 7.0 * r.b, 6) AS forecast_r
    FROM rec r JOIN np USING (user_id)
    WHERE r.i = np.n
    ORDER BY r.user_id
"""


def q_parts_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC x XYZ inventory-planning matrix: every part classified on
    BOTH axes — revenue contribution (A = the parts filling the top 50%
    of cumulative revenue, B to 80%, C the tail; global cumulative share
    on the two-phase chunked scan, never a single-task window) and
    demand variability (the X/Y/Z weekly-cv^2 classes of
    parts_xyz_classes) — then the 9-cell census with per-cell revenue
    share. The AX cell (high-value, steady) is what a planner stocks;
    CZ (low-value, erratic) is what they make to order."""
    from ..operators.stats import quantile_chunks, two_phase_rank_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round("l_extendedprice", 2).cast("decimal(18,2)")
        ).alias("rev")
    )
    chunk = quantile_chunks(rev, "rev", n_chunks=32, descending=True)
    ranked = two_phase_rank_cumsum(
        rev,
        "rev",
        chunk,
        tiebreak_cols=["l_partkey"],
        value_col="rev",
        descending=True,
        cum_col="__cum",
    )
    tot = rev.agg(F.sum("rev").alias("tot"))
    abc = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(
            "__share",
            F.col("__cum").cast("double") / F.col("tot").cast("double"),
        )
        .withColumn(
            "abc",
            F.when(F.col("__share") <= 0.5, "A")
            .when(F.col("__share") <= 0.8, "B")
            .otherwise("C"),
        )
        .select("l_partkey", "rev", "abc")
    )
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", F.col("l_shipdate")).alias("w")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("x"))
    nweeks = weekly.agg(
        (
            F.floor(
                F.datediff(F.max(F.to_date("w")), F.min(F.to_date("w"))) / 7
            )
            + 1
        )
        .cast("bigint")
        .alias("n")
    )
    xyz = (
        weekly.groupBy("l_partkey")
        .agg(
            F.sum("x").cast("bigint").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        )
        .crossJoin(F.broadcast(nweeks))
        .withColumn(
            "cv2_r",
            F.round(
                (
                    F.col("n") * F.col("s2") - F.col("s") * F.col("s")
                ).cast("double")
                / (F.col("s") * F.col("s")).cast("double"),
                6,
            ),
        )
        .withColumn(
            "xyz",
            F.when(F.col("cv2_r") < 14.0, "X")
            .when(F.col("cv2_r") < 18.0, "Y")
            .otherwise("Z"),
        )
        .select("l_partkey", "xyz")
    )
    return (
        abc.join(xyz, "l_partkey")
        .crossJoin(F.broadcast(tot))
        .groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                F.sum("rev").cast("double") / F.first("tot").cast("double"),
                6,
            ).alias("rev_share_r"),
        )
        .orderBy("abc", "xyz")
    )


QUERIES["parts_abc_xyz_matrix"] = q_parts_abc_xyz_matrix

ORACLES["parts_abc_xyz_matrix"] = """
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(rev) AS tot FROM rev),
    abc AS (
        SELECT l_partkey, rev,
               CASE WHEN CAST(SUM(rev) OVER (
                             ORDER BY rev DESC, l_partkey ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS DOUBLE)
                         / CAST(t.tot AS DOUBLE) <= 0.5 THEN 'A'
                    WHEN CAST(SUM(rev) OVER (
                             ORDER BY rev DESC, l_partkey ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS DOUBLE)
                         / CAST(t.tot AS DOUBLE) <= 0.8 THEN 'B'
                    ELSE 'C' END AS abc
        FROM rev CROSS JOIN tot t
    ),
    weekly AS (
        SELECT l_partkey, date_trunc('week', l_shipdate) AS w,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
        FROM lineitem GROUP BY 1, 2
    ),
    nw AS (
        SELECT CAST(datediff('day', MIN(CAST(w AS DATE)),
                             MAX(CAST(w AS DATE))) // 7 + 1 AS BIGINT)
                   AS n
        FROM weekly
    ),
    xyz AS (
        SELECT p.l_partkey,
               CASE WHEN round(CAST(nw.n * p.s2 - p.s * p.s AS DOUBLE)
                         / CAST(p.s * p.s AS DOUBLE), 6) < 14.0 THEN 'X'
                    WHEN round(CAST(nw.n * p.s2 - p.s * p.s AS DOUBLE)
                         / CAST(p.s * p.s AS DOUBLE), 6) < 18.0 THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM (
            SELECT l_partkey, CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS s2
            FROM weekly GROUP BY l_partkey
        ) p CROSS JOIN nw
    )
    SELECT a.abc, x.xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(a.rev) AS DOUBLE) / CAST(ANY_VALUE(t.tot)
                 AS DOUBLE), 6) AS rev_share_r
    FROM abc a
    JOIN xyz x ON x.l_partkey = a.l_partkey
    CROSS JOIN tot t
    GROUP BY a.abc, x.xyz ORDER BY a.abc, x.xyz
"""
