"""Eighth relational workload: exact Shapley-value attribution, rolling
medians, RAKE keyword extraction, runtime-bloom-pruned joins, snapshot
rollback, and a seasonal-trend decomposition.

These extend the reference's analytic surface (reference: ABSENT —
extension surface). Determinism rules follow workloads/__init__: every
cross-engine number is either BIGINT end to end (Shapley numerators are
kept as exact 24ths; the decomposition's remainder is an exact integer
numerator over an integer denominator), a DECIMAL-routed sum, or one
final integer-over-integer division rounded identically in both
engines. Weekday indexing uses epoch-day % 7 — never engine week
anchors (they disagree).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.catalog import load_table, table_path
from ._scratch import derived


QUERIES: dict = {}
ORACLES: dict = {}


# --------------------------------------------------------------- Shapley

#: Touch channels (non-conversion event types), alphabetical -> bit index.
_CHANNELS = [("click", 0), ("error", 1), ("signup", 2), ("view", 3)]

#: 24 * |S|!(n-1-|S|)!/n! for n=4 — the Shapley coalition weights as
#: exact 24ths: |S| = 0 -> 6/24, 1 -> 2/24, 2 -> 2/24, 3 -> 6/24.
_W24 = {0: 6, 1: 2, 2: 2, 3: 6}


def q_events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value conversion attribution over the four touch
    channels (click/error/signup/view; purchase is the conversion).
    The characteristic function v(S) counts converters whose entire
    touch set fits inside coalition S, and each channel's Shapley value
    is the weighted sum of its marginal gains v(S+c) - v(S) over the 8
    coalitions not containing it. Everything past the first reduction
    is CONSTANT-size: facts reduce ONCE to (user, 4-bit touch mask,
    converted) rows, then to at most 16 (mask, converter-count) cells —
    the 16-coalition subset-sum join, the 4x8 marginal-gain join, and
    the factorial weights all run on fixed-cardinality tables, so the
    100 TB cost is one user-keyed aggregate. Numerators stay exact
    BIGINT 24ths (n=4 makes every weight a /24 rational); the only
    float is the final display division. Users who converted with no
    touches sit in mask 0 and cancel out of every marginal (Shapley's
    null-player axiom, for free)."""
    ev = load_table(spark, sf_dir, "events")
    bit = F.lit(0)
    for name, idx in _CHANNELS:
        bit = F.when(F.col("event_type") == name, F.lit(1 << idx)).otherwise(
            bit
        )
    per_user = ev.select(
        "user_id",
        bit.alias("bit"),
        (F.col("event_type") == "purchase").cast("int").alias("is_conv"),
    ).groupBy("user_id").agg(
        F.coalesce(F.sum_distinct("bit"), F.lit(0)).cast("int").alias("mask"),
        F.max("is_conv").alias("conv"),
    )
    tset = per_user.groupBy("mask").agg(
        F.sum("conv").cast("bigint").alias("conv_n")
    )
    masks = spark.range(16).select(F.col("id").cast("int").alias("S"))
    v = (
        masks.join(
            F.broadcast(tset),
            masks["S"].bitwiseOR(tset["mask"]) == masks["S"],
            "left",
        )
        .groupBy("S")
        .agg(F.coalesce(F.sum("conv_n"), F.lit(0)).cast("bigint").alias("v"))
    )
    w24 = (
        F.when(F.bit_count(F.col("S")) == 0, F.lit(_W24[0]))
        .when(F.bit_count(F.col("S")) == 1, F.lit(_W24[1]))
        .when(F.bit_count(F.col("S")) == 2, F.lit(_W24[2]))
        .otherwise(F.lit(_W24[3]))
    )
    channels = spark.createDataFrame(
        [(name, idx) for name, idx in _CHANNELS], "channel string, c int"
    )
    v_s = v.select(F.col("S"), F.col("v").alias("v_s"))
    v_sc = v.select(F.col("S").alias("S2"), F.col("v").alias("v_sc"))
    gains = (
        channels.join(
            F.broadcast(v_s),
            F.expr("(S & shiftleft(1, c)) = 0"),
        )
        .join(
            F.broadcast(v_sc),
            F.expr("S2 = (S | shiftleft(1, c))"),
        )
        .select(
            "channel",
            (w24 * (F.col("v_sc") - F.col("v_s"))).alias("g24"),
        )
    )
    return (
        gains.groupBy("channel")
        .agg(F.sum("g24").cast("bigint").alias("phi24"))
        .select(
            "channel",
            "phi24",
            F.round(F.col("phi24") / 24.0, 4).alias("phi_r"),
        )
        .orderBy("channel")
    )


QUERIES["events_attribution_shapley"] = q_events_attribution_shapley

ORACLES["events_attribution_shapley"] = """
WITH per_user AS (
  SELECT user_id,
         CAST(coalesce(sum(DISTINCT CASE event_type
             WHEN 'click' THEN 1 WHEN 'error' THEN 2
             WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END), 0)
           AS INTEGER) AS mask,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), tset AS (
  SELECT mask, CAST(sum(conv) AS BIGINT) AS conv_n
  FROM per_user GROUP BY mask
), v AS MATERIALIZED (
  SELECT m.S, CAST(coalesce(sum(t.conv_n), 0) AS BIGINT) AS v
  FROM (SELECT CAST(S AS INTEGER) AS S FROM range(0, 16) r(S)) m
  LEFT JOIN tset t ON (m.S | t.mask) = m.S
  GROUP BY m.S
), ch AS (
  SELECT * FROM (VALUES ('click', 0), ('error', 1),
                        ('signup', 2), ('view', 3)) c(channel, c)
), gains AS (
  SELECT ch.channel,
         (CASE bit_count(vs.S) WHEN 0 THEN 6 WHEN 1 THEN 2
                               WHEN 2 THEN 2 ELSE 6 END)
         * (vsc.v - vs.v) AS g24
  FROM ch
  JOIN v vs  ON (vs.S & (1 << ch.c)) = 0
  JOIN v vsc ON vsc.S = (vs.S | (1 << ch.c))
)
SELECT channel, CAST(sum(g24) AS BIGINT) AS phi24,
       round(CAST(sum(g24) AS BIGINT) / 24.0, 4) AS phi_r
FROM gains GROUP BY channel ORDER BY channel
"""


# -------------------------------------------------------- rolling median

def q_orders_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling LOWER median of daily order revenue per
    priority. Facts reduce ONCE to (priority, day, revenue-cents) —
    5 priorities x a calendar-bounded day count — and the rolling
    window runs over that bounded aggregate only (the accepted window
    shape; never over raw orders). The median is selected, not
    averaged: revenue routes through DECIMAL to integer cents, the
    7-row frame collects into a sorted array, and the lower-median
    element (1-based index (n+1) div 2) comes out exactly — no float
    crosses rows in either engine."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("d"),
        "o_totalprice",
    ).groupBy("o_orderpriority", "d").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("rev_cents").over(w))
    with_med = daily.select(
        "o_orderpriority",
        "d",
        "rev_cents",
        F.element_at(
            arr, ((F.size(arr) + 1) / 2).cast("int")
        ).alias("med_cents"),
        F.size(arr).cast("int").alias("n_days"),
    )
    return with_med.select(
        "o_orderpriority",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "rev_cents",
        "med_cents",
        "n_days",
        F.round(F.col("med_cents") / 100.0, 2).alias("med_r"),
    ).orderBy("o_orderpriority", "d")


QUERIES["orders_rolling_median"] = q_orders_rolling_median

ORACLES["orders_rolling_median"] = """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
), win AS (
  SELECT o_orderpriority, d, rev_cents,
         list_sort(list(rev_cents) OVER (
           PARTITION BY o_orderpriority ORDER BY d
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
  FROM daily
)
SELECT o_orderpriority, strftime(d, '%Y-%m-%d') AS d, rev_cents,
       CAST(l[(len(l) + 1) // 2] AS BIGINT) AS med_cents,
       CAST(len(l) AS INTEGER) AS n_days,
       round(CAST(l[(len(l) + 1) // 2] AS BIGINT) / 100.0, 2) AS med_r
FROM win
ORDER BY o_orderpriority, d
"""


# ------------------------------------------------------------------ RAKE

_RAKE_STOP = (
    "a|the|of|and|to|in|is|for|on|with|as|by|at|an|be|this|that|it|from|"
    "or|are|was"
)


def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al. 2010) as a pure expression
    tree: lowercase text splits into candidate phrases at stopwords and
    punctuation, each word occurrence accumulates frequency and degree
    (degree += its phrase's word count, the classic co-occurrence
    proxy), and score(w) = degree(w)/freq(w). Two explodes + one
    aggregate keyed by word — vocabulary-bounded, map-side combinable,
    no Python in the path. Counts are exact integers; the score is one
    final integer/integer division rounded identically in both
    engines. Top-25 words by (score, freq, word)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " ")
    t = F.regexp_replace(t, f"\\b({_RAKE_STOP})\\b", "|")
    phrases = docs.select(
        F.explode(F.split(t, "\\|")).alias("phrase")
    ).where(F.trim(F.col("phrase")) != "")
    words = phrases.select(
        F.split(F.trim(F.col("phrase")), " +").alias("ws")
    ).select(
        F.size(F.col("ws")).alias("plen"),
        F.explode(F.col("ws")).alias("word"),
    ).where(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("degree"),
        )
        .select(
            "word",
            "freq",
            "degree",
            F.round(F.col("degree") / F.col("freq"), 4).alias("score_r"),
        )
        .orderBy(F.desc("score_r"), F.desc("freq"), "word")
        .limit(25)
    )


QUERIES["text_rake_keywords"] = q_text_rake_keywords

ORACLES["text_rake_keywords"] = rf"""
WITH norm AS (
  SELECT regexp_replace(
           regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),
           '\b({_RAKE_STOP})\b', '|', 'g') AS t
  FROM documents
), phrases AS (
  SELECT trim(p) AS phrase
  FROM norm, unnest(string_split_regex(t, '\|')) u(p)
  WHERE trim(p) <> ''
), pw AS (
  SELECT len(string_split_regex(phrase, ' +')) AS plen, w AS word
  FROM phrases, unnest(string_split_regex(phrase, ' +')) u(w)
  WHERE w <> ''
)
SELECT word, CAST(count(*) AS BIGINT) AS freq,
       CAST(sum(plen) AS BIGINT) AS degree,
       round(CAST(sum(plen) AS BIGINT) * 1.0 / count(*), 4) AS score_r
FROM pw GROUP BY word
ORDER BY score_r DESC, freq DESC, word
LIMIT 25
"""


# ------------------------------------------------- runtime-bloom join

def q_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runtime-bloom-filter join shape: a selective dimension-side
    filter (urgent 1996 orders) merge-joins the fact table on the order
    key. At 100 TB Spark's runtime bloom filter (AQE's semi-join
    reduction, spark.sql.optimizer.runtime.bloomFilter.*) builds a
    bloom from the filtered creation side and injects a
    might_contain() predicate INTO the fact scan, so most lineitem rows
    die before the shuffle instead of after it. The gate query keeps
    the session confs untouched (correctness never depends on the
    filter); tests/test_plans.py re-plans this same builder under the
    bloom confs and asserts bloom_filter_might_contain lands in the
    fact-side plan with identical results."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sel = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") <= F.lit("1996-12-31"))
    )
    j = li.join(
        sel.hint("merge"), li["l_orderkey"] == sel["o_orderkey"]
    )
    return (
        j.groupBy(F.month("o_orderdate").cast("int").alias("mon"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                ).cast("double"),
                2,
            ).alias("revenue_r"),
        )
        .orderBy("mon")
    )


QUERIES["join_bloom_pruned"] = q_join_bloom_pruned

ORACLES["join_bloom_pruned"] = """
SELECT CAST(month(o_orderdate) AS INTEGER) AS mon,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue_r
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) <= DATE '1996-12-31'
GROUP BY month(o_orderdate)
ORDER BY mon
"""


# ------------------------------------------------------- table rollback

def q_table_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RESTORE on the gate (sources/snapshots.py): the table
    evolves v0 (keys %5==0) -> v1 (+ %5==1) -> v2 (merge-on-read delete
    of %10==6) -> v3 = rollback(1). The rollback writes ONE manifest
    re-pointing at v1's files — nothing is copied, deleted versions
    stay time-travelable — and the output proves it: all four versions
    read back with v3 exactly matching v1 while v2's delete remains
    visible at v2."""
    from ..sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )

    def build(d: str) -> None:
        t = SnapshotTable(d)
        t.append(orders.where(F.col("o_orderkey") % 5 == 0).repartition(4))
        t.append(orders.where(F.col("o_orderkey") % 5 == 1).repartition(4))
        t.delete_where(
            spark, ["o_orderkey"], F.col("o_orderkey") % 10 == 6
        )
        t.rollback(1)

    t = SnapshotTable(derived("rollback", [table_path(sf_dir, "orders")], build))
    u = None
    for v in range(4):
        part = t.read(spark, v).select(
            F.lit(v).cast("int").alias("version"), "o_orderkey"
        )
        u = part if u is None else u.unionByName(part)
    return (
        u.groupBy("version")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("version")
    )


QUERIES["table_rollback"] = q_table_rollback

ORACLES["table_rollback"] = """
WITH sel AS (
  SELECT 0 AS version, o_orderkey FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT 1, o_orderkey FROM orders WHERE o_orderkey % 5 IN (0, 1)
  UNION ALL
  SELECT 2, o_orderkey FROM orders
  WHERE o_orderkey % 5 IN (0, 1) AND o_orderkey % 10 <> 6
  UNION ALL
  SELECT 3, o_orderkey FROM orders WHERE o_orderkey % 5 IN (0, 1)
)
SELECT CAST(version AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM sel GROUP BY version ORDER BY version
"""


# ------------------------------------------- seasonal decomposition

def q_events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-trend decomposition of the daily events value series
    (the moving-average core of STL): trend = centered 7-day mean,
    seasonal = per-weekday mean of the detrended series, remainder =
    what's left. Facts reduce ONCE to calendar-bounded daily micro-unit
    totals; every window runs over that bounded aggregate. The
    arithmetic is EXACT integer throughout: daily totals route through
    DECIMAL to BIGINT micros, detrended values are scaled x7
    (detr = 7*v - sum7, dodging the /7), the seasonal mean stays a
    (numerator, denominator) pair, and the remainder ships as the exact
    integer numerator rem_num = s_den*detr - s_num over denominator
    7e6*s_den — floats appear only in display-rounded single
    divisions. Weekday = epoch-day % 7 (engine week anchors disagree;
    epoch arithmetic doesn't). Only days with a full 7-day window
    decompose."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("d"), "value").groupBy("d").agg(
        (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
        .cast("bigint")
        .alias("v_mic")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "v_mic",
        F.sum("v_mic").over(w).alias("sum7"),
        F.count(F.lit(1)).over(w).alias("n7"),
        (F.datediff(F.col("d"), F.lit("1970-01-01")) % 7).alias("dow"),
    ).where(F.col("n7") == 7)
    detr = trended.withColumn(
        "detr_mic", F.lit(7) * F.col("v_mic") - F.col("sum7")
    )
    seas = detr.groupBy("dow").agg(
        F.sum("detr_mic").cast("bigint").alias("s_num"),
        F.count(F.lit(1)).cast("bigint").alias("s_den"),
    )
    out = detr.join(F.broadcast(seas), "dow")
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("dow").cast("int").alias("dow"),
        "v_mic",
        (F.col("s_den") * F.col("detr_mic") - F.col("s_num"))
        .cast("bigint")
        .alias("rem_num"),
        "s_den",
        F.round(F.col("v_mic") / 1000000.0, 4).alias("v_r"),
        F.round(F.col("sum7") / 7000000.0, 4).alias("trend_r"),
        F.round(F.col("s_num") / (F.col("s_den") * 7000000.0), 4).alias(
            "seas_r"
        ),
    ).orderBy("d")


def q_events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength readout (Hyndman's F_s = max(0, 1 - Var(R)/
    Var(S+R))) for the daily events value series — the one-number
    forecastability dial on top of the STL split. Same bounded shapes
    as q_events_stl_decompose: facts reduce once to calendar days,
    windows run over the bounded grid, and the weekday index is
    epoch-day % 7. Both variances route each squared residual through
    round-then-DECIMAL before summing (no float order dependence); the
    seasonal/overall means are broadcast 1-row or 7-row aggregates."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("d"), "value").groupBy("d").agg(
        (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
        .cast("bigint")
        .alias("v_mic")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    detr = (
        daily.select(
            "d",
            "v_mic",
            F.sum("v_mic").over(w).alias("sum7"),
            F.count(F.lit(1)).over(w).alias("n7"),
            (F.datediff(F.col("d"), F.lit("1970-01-01")) % 7).alias("dow"),
        )
        .where(F.col("n7") == 7)
        .withColumn("detr_mic", F.lit(7) * F.col("v_mic") - F.col("sum7"))
    )
    seas = detr.groupBy("dow").agg(
        F.round(
            F.sum("detr_mic").cast("double") / F.count(F.lit(1)), 6
        ).alias("seas6")
    )
    mean = detr.agg(
        F.round(
            F.sum("detr_mic").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean6")
    )
    terms = (
        detr.join(F.broadcast(seas), "dow")
        .crossJoin(F.broadcast(mean))
        .select(
            F.round(
                (F.col("detr_mic") - F.col("seas6"))
                * (F.col("detr_mic") - F.col("seas6")),
                4,
            )
            .cast("decimal(38,4)")
            .alias("ssr_t"),
            F.round(
                (F.col("detr_mic") - F.col("mean6"))
                * (F.col("detr_mic") - F.col("mean6")),
                4,
            )
            .cast("decimal(38,4)")
            .alias("sst_t"),
        )
    )
    # ssr/sst sums reach ~1e21 at sf0.01; round(double, 2) there is
    # representation-sensitive cross-engine (Spark routes through
    # BigDecimal, DuckDB does not — divergence at the 16th significant
    # digit, r7 driver hash fail). Quantize in integers instead: the
    # DECIMAL(38,4) sum times 10^4 is exactly integral, and integer-div
    # by 10^16 keeps the top ~9 significant digits, far above the ~1e7
    # absolute cross-engine noise floor of the double->decimal casts.
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.sum("ssr_t").cast("double")
                / F.sum("sst_t").cast("double"),
            ),
            6,
        ).alias("strength_r"),
        F.expr(
            "CAST(CAST(sum(ssr_t) * 10000 AS DECIMAL(38,0))"
            " div 10000000000000000 AS BIGINT)"
        ).alias("ssr_q"),
        F.expr(
            "CAST(CAST(sum(sst_t) * 10000 AS DECIMAL(38,0))"
            " div 10000000000000000 AS BIGINT)"
        ).alias("sst_q"),
    )


QUERIES["events_seasonal_strength"] = q_events_seasonal_strength

ORACLES["events_seasonal_strength"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
           AS v_mic
  FROM events GROUP BY CAST(ts AS DATE)
), detr AS (
  SELECT d, v_mic, 7 * v_mic - sum7 AS detr_mic, dow FROM (
    SELECT d, v_mic,
           sum(v_mic) OVER w AS sum7,
           count(*) OVER w AS n7,
           (d - DATE '1970-01-01') % 7 AS dow
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
  WHERE n7 = 7
), seas AS (
  SELECT dow, round(CAST(sum(detr_mic) AS DOUBLE) / count(*), 6) AS seas6
  FROM detr GROUP BY dow
), m AS (
  SELECT round(CAST(sum(detr_mic) AS DOUBLE) / count(*), 6) AS mean6
  FROM detr
), terms AS (
  SELECT CAST(round((detr_mic - seas6) * (detr_mic - seas6), 4)
              AS DECIMAL(38,4)) AS ssr_t,
         CAST(round((detr_mic - mean6) * (detr_mic - mean6), 4)
              AS DECIMAL(38,4)) AS sst_t
  FROM detr JOIN seas USING (dow) CROSS JOIN m
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(greatest(0.0,
         1.0 - CAST(sum(ssr_t) AS DOUBLE) / CAST(sum(sst_t) AS DOUBLE)),
         6) AS strength_r,
       CAST(CAST(sum(ssr_t) * 10000 AS HUGEINT)
            // 10000000000000000 AS BIGINT) AS ssr_q,
       CAST(CAST(sum(sst_t) * 10000 AS HUGEINT)
            // 10000000000000000 AS BIGINT) AS sst_q
FROM terms
"""


def q_pipeline_mix_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture divergence readout: each source's token share vs
    the uniform target mix, reported as its exact share and its KL
    contribution share*ln(share*n_sources) — the number a data-mixture
    dashboard tracks while rebalancing (pipeline_mixture_sample /
    pipeline_temperature_mix are the actuators; this is the meter).
    Facts reduce ONCE to per-source token counts (source cardinality is
    fixed); the ln appears once per source ROW — never summed across
    rows — so cross-engine float determinism needs only the
    round-before-output rule."""
    from ..functions import words

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.select(
        "source", F.size(words("text")).cast("bigint").alias("toks")
    ).groupBy("source").agg(F.sum("toks").cast("bigint").alias("toks"))
    totals = per_source.agg(
        F.sum("toks").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    share = F.col("toks").cast("double") / F.col("total")
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "toks",
            F.round(share, 6).alias("share_r"),
            F.round(share * F.log(share * F.col("n_sources")), 6).alias(
                "kl_term_r"
            ),
        )
        .orderBy("source")
    )


QUERIES["pipeline_mix_kl"] = q_pipeline_mix_kl

ORACLES["pipeline_mix_kl"] = """
WITH per_source AS (
  SELECT source,
         CAST(sum(len(string_split(
           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')))
           AS BIGINT) AS toks
  FROM documents GROUP BY source
), totals AS (
  SELECT CAST(sum(toks) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM per_source
)
SELECT source, toks,
       round(CAST(toks AS DOUBLE) / total, 6) AS share_r,
       round((CAST(toks AS DOUBLE) / total)
             * ln((CAST(toks AS DOUBLE) / total) * n_sources), 6)
         AS kl_term_r
FROM per_source CROSS JOIN totals
ORDER BY source
"""


def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph degree profile over the embedding corpus
    (operators/similarity.knn_graph_mutual): multi-probe LSH candidates
    through a bucket-keyed SHUFFLE join (queries ARE the corpus — no
    broadcast of anything data-proportional), per-query top-5 by
    rounded cosine, and the mutual filter keeps an edge only when both
    endpoints rank each other. Output: how many nodes have each mutual
    degree — the connectivity histogram a curation pipeline reads
    before running component clustering on the graph."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    edges = similarity.knn_graph_mutual(
        emb, "vec_id", "embedding", k=5, probe_flips=1
    )
    nodes = edges.select(F.col("id_a").alias("node")).unionAll(
        edges.select(F.col("id_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    return (
        deg.groupBy("degree")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy("degree")
    )


QUERIES["sim_knn_graph"] = q_sim_knn_graph


def _knn_graph_oracle() -> str:
    from ..operators import similarity

    bucket = " + ".join(
        f"CASE WHEN embedding[{d + 1}] >= 0 THEN {2**i} ELSE 0 END"
        for i, d in enumerate(similarity.DEFAULT_BUCKET_DIMS)
    )
    flips = ", ".join(
        f"xor(bucket, {1 << i})"
        for i in range(len(similarity.DEFAULT_BUCKET_DIMS))
    )
    dot = (
        "list_reduce(list_transform(generate_series(1, 64), "
        "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS "
        "DOUBLE)), (x, y) -> x + y)"
    )
    return f"""
WITH bucketed AS MATERIALIZED (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
), probes AS (
  SELECT vec_id AS query_id,
         unnest([bucket, {flips}]) AS bucket
  FROM bucketed
), cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS corpus_id
  FROM probes p JOIN bucketed c ON p.bucket = c.bucket
  WHERE p.query_id <> c.vec_id
), scored AS MATERIALIZED (
  SELECT cand.query_id, cand.corpus_id, round({dot}, 6) AS cosine_r
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.corpus_id
), directed AS MATERIALIZED (
  SELECT query_id, corpus_id FROM (
    SELECT query_id, corpus_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine_r DESC, corpus_id ASC) AS rnk
    FROM scored)
  WHERE rnk <= 5
), mutual AS (
  SELECT f.query_id AS id_a, f.corpus_id AS id_b
  FROM directed f JOIN directed r
    ON r.query_id = f.corpus_id AND r.corpus_id = f.query_id
  WHERE f.query_id < f.corpus_id
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT id_a AS node FROM mutual
    UNION ALL SELECT id_b FROM mutual)
  GROUP BY node
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node
FROM deg GROUP BY degree ORDER BY degree
"""


ORACLES["sim_knn_graph"] = _knn_graph_oracle()


def q_multimodal_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files-on-a-lake multimodal ingestion: a directory of 120 REAL
    container files (24-bit BMPs, PCM16 WAVs, valid minimal MP4s —
    operators/multimodal.py writers) reads through Spark's binaryFile
    source — the listing/IO path a 100 TB media lake actually uses
    (driver lists paths, executors stream bytes; at scale the listing
    parallelizes and maxPartitionBytes packs small files). media_id
    recovers from the FILENAME, the kind from the extension, and the
    container metadata decodes from the ACTUAL bytes with
    require_real_codec=True (any unparseable blob raises on the
    executor). The oracle recomputes every aggregate from the
    generating formulas over range(0,120) without touching a file — a
    lying parser or a mangled write fails the hash. The files depend on
    no input table, so one fixture serves every scale factor."""
    from ..operators import multimodal

    def build(d: str) -> None:
        for mid in range(120):
            if mid % 3 == 0:
                blob = multimodal.bmp_bytes(
                    (mid % 31 + 1) * 4, (mid % 23 + 1) * 4
                )
                ext = "bmp"
            elif mid % 3 == 1:
                blob = multimodal.wav_bytes((mid % 50 + 1) * 80)
                ext = "wav"
            else:
                blob = multimodal.mp4_bytes(
                    (mid % 16 + 1) * 16,
                    (mid % 9 + 1) * 16,
                    (mid % 60 + 1) * 500,
                    filler=mid % 200,
                )
                ext = "mp4"
            with open(os.path.join(d, f"media_{mid}.{ext}"), "wb") as f:
                f.write(blob)

    raw = spark.read.format("binaryFile").load(derived("media_files", [], build))
    kind = (
        F.when(F.col("path").endswith(".bmp"), "image")
        .when(F.col("path").endswith(".wav"), "audio")
        .otherwise("video")
    )
    media = raw.select(
        F.regexp_extract(F.col("path"), r"media_(\d+)\.", 1)
        .cast("long")
        .alias("media_id"),
        kind.alias("kind"),
        "content",
        F.col("length").cast("long").alias("byte_len"),
    )
    decoded = multimodal.decode_media(media, require_real_codec=True)
    return (
        decoded.groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("byte_len").cast("bigint").alias("bytes_sum"),
            F.sum("width").cast("bigint").alias("w_sum"),
            F.sum("height").cast("bigint").alias("h_sum"),
            F.sum("duration_ms").cast("bigint").alias("dur_sum"),
        )
        .orderBy("kind")
    )


QUERIES["multimodal_binaryfile_ingest"] = q_multimodal_binaryfile_ingest

ORACLES["multimodal_binaryfile_ingest"] = """
WITH ids AS (
  SELECT CAST(i AS BIGINT) AS id FROM range(0, 120) r(i)
), expect AS (
  SELECT id,
    CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
    CASE id % 3
      WHEN 0 THEN 54 + 3 * ((id % 31 + 1) * 4) * ((id % 23 + 1) * 4)
      WHEN 1 THEN 44 + 160 * (id % 50 + 1)
      ELSE 240 + id % 200 END AS byte_len,
    CASE id % 3 WHEN 0 THEN (id % 31 + 1) * 4
                WHEN 2 THEN (id % 16 + 1) * 16 END AS width,
    CASE id % 3 WHEN 0 THEN (id % 23 + 1) * 4
                WHEN 2 THEN (id % 9 + 1) * 16 END AS height,
    CASE id % 3 WHEN 1 THEN (id % 50 + 1) * 10
                WHEN 2 THEN (id % 60 + 1) * 500 END AS duration_ms
  FROM ids
)
SELECT kind, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(byte_len) AS BIGINT) AS bytes_sum,
       CAST(sum(width) AS BIGINT) AS w_sum,
       CAST(sum(height) AS BIGINT) AS h_sum,
       CAST(sum(duration_ms) AS BIGINT) AS dur_sum
FROM expect GROUP BY kind ORDER BY kind
"""


def q_agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group mode with a deterministic tie-break (smallest
    value wins) — the aggregate Spark's built-in ``mode()`` leaves
    tie-nondeterministic, re-expressed as min(struct(-count, value))
    over the (group, value) count cells: two map-side-combinable
    aggregates, no window, no collect. The cell table is |statuses| x
    |priorities| — dimension-bounded at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    best = (
        cells.groupBy("o_orderstatus")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"),
                    F.col("o_orderpriority").alias("p"),
                )
            ).alias("best"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_prio"),
        )
        .select(
            "o_orderstatus",
            F.col("best.p").alias("mode_priority"),
            (-F.col("best.neg")).cast("bigint").alias("mode_count"),
            "n_distinct_prio",
        )
    )
    return best.orderBy("o_orderstatus")


QUERIES["agg_mode_exact"] = q_agg_mode_exact

ORACLES["agg_mode_exact"] = """
WITH cells AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), best_cnt AS (
  SELECT o_orderstatus, max(cnt) AS mc,
         CAST(count(*) AS BIGINT) AS n_distinct_prio
  FROM cells GROUP BY o_orderstatus
)
SELECT c.o_orderstatus,
       min(c.o_orderpriority) AS mode_priority,
       CAST(max(b.mc) AS BIGINT) AS mode_count,
       CAST(max(b.n_distinct_prio) AS BIGINT) AS n_distinct_prio
FROM cells c JOIN best_cnt b
  ON c.o_orderstatus = b.o_orderstatus AND c.cnt = b.mc
GROUP BY c.o_orderstatus
ORDER BY c.o_orderstatus
"""


QUERIES["events_stl_decompose"] = q_events_stl_decompose

ORACLES["events_stl_decompose"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
           AS v_mic
  FROM events GROUP BY CAST(ts AS DATE)
), trended AS (
  SELECT d, v_mic,
         sum(v_mic) OVER w AS sum7,
         count(*) OVER w AS n7,
         (d - DATE '1970-01-01') % 7 AS dow
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detr AS (
  SELECT *, 7 * v_mic - sum7 AS detr_mic FROM trended WHERE n7 = 7
), seas AS (
  SELECT dow, CAST(sum(detr_mic) AS BIGINT) AS s_num,
         CAST(count(*) AS BIGINT) AS s_den
  FROM detr GROUP BY dow
)
SELECT strftime(detr.d, '%Y-%m-%d') AS d,
       CAST(detr.dow AS INTEGER) AS dow, v_mic,
       CAST(s_den * detr_mic - s_num AS BIGINT) AS rem_num,
       s_den,
       round(v_mic / 1000000.0, 4) AS v_r,
       round(sum7 / 7000000.0, 4) AS trend_r,
       round(s_num / (s_den * 7000000.0), 4) AS seas_r
FROM detr JOIN seas ON detr.dow = seas.dow
ORDER BY detr.d
"""


# -------------------------------------------------- label propagation


def q_supplier_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-supply similarity graph: 2
    deterministic rounds of synchronous label propagation
    (operators/graph.label_propagation — self-vote damping, min-label
    ties) over the same sparse edge derivation as graph_triangles /
    supplier_kcore. Output is the community census (size, id range)
    ordered largest-first — the supplier clusters a sourcing-risk
    review would treat as single points of failure."""
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.co_supply_edges(li, min_shared=5)
    labels = graph.label_propagation(edges, rounds=2)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("n").alias("min_member"),
            F.max("n").alias("max_member"),
        )
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
    )


QUERIES["supplier_communities"] = q_supplier_communities

_LPA_ROUNDS = "".join(
    f""",
    v{i} AS (
        SELECT u.n, l.label FROM und u JOIN l{i - 1} l ON l.n = u.m
        UNION ALL SELECT n, label FROM l{i - 1}
    ),
    c{i} AS MATERIALIZED (
        SELECT n, label, COUNT(*) AS c FROM v{i} GROUP BY 1, 2
    ),
    l{i} AS MATERIALIZED (
        SELECT n, label FROM (
            SELECT n, label,
                   ROW_NUMBER() OVER (PARTITION BY n
                                      ORDER BY c DESC, label ASC) AS rk
            FROM c{i}
        ) WHERE rk = 1
    )"""
    for i in range(1, 3)
)

ORACLES["supplier_communities"] = f"""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                WHERE l_partkey % 50 = 0),
    e0 AS MATERIALIZED (
        SELECT a.l_suppkey AS a, b.l_suppkey AS b
        FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    und AS MATERIALIZED (
        SELECT a AS n, b AS m FROM e0
        UNION ALL SELECT b AS n, a AS m FROM e0
    ),
    l0 AS MATERIALIZED (
        SELECT n, n AS label FROM (SELECT DISTINCT n FROM und)
    ){_LPA_ROUNDS}
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(n) AS min_member,
           MAX(n) AS max_member
    FROM l2
    GROUP BY label
    ORDER BY n_members DESC, community ASC
"""
