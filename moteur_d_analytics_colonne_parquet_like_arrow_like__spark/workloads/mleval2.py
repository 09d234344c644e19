"""Model-evaluation workload, part 2: distributed Poisson bootstrap,
paired McNemar test, PR-curve threshold sweep, and corpus-statistics
fits (reference: ABSENT — SURVEY.md §2 extension surface; the
uncertainty-quantification and curve-audit primitives a curation
pipeline runs around the engine's scan/agg verbs).

Determinism rules follow workloads/__init__ and mleval: every
cross-engine number is BIGINT or DECIMAL end to end until a final
shared double expression; logs/sqrt appear once per BOUNDED row and are
rounded before any cross-row sum (DECIMAL-routed); replicate weights
derive from ``stable_hash60`` (md5-based, reproducible in DuckDB as
``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import ngrams, stable_hash60
from ..sources.catalog import load_table


QUERIES: dict = {}
ORACLES: dict = {}


# ------------------------------------------------- Poisson bootstrap

#: Poisson(1) CDF thresholds in integer millionths: P(X <= k) * 1e6 for
#: k = 0..6; a 60-bit hash uniform in [0, 1e6) maps through the inverse
#: CDF to a replicate weight, truncated at 7 (P(X >= 7) ~ 8.3e-5).
_POIS1_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406, 999917)


def q_orders_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean order value — THE distributed
    bootstrap: resampling n rows with replacement needs a global
    coordinated draw, but Binomial(n, 1/n) → Poisson(1) per row as
    n → ∞, so each row independently draws its own per-replicate
    multiplicity from a hash — no shuffle, no coordination, exactly the
    shape a 1000-executor cluster wants (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012).

    32 replicates: weight w(o, r) = Poisson(1) inverse CDF of
    stable_hash60(orderkey:r) mod 1e6. Per-replicate mean = exact
    BIGINT Σw·cents / Σw; the 2.5%/97.5% CI bounds are order statistics
    of the 32-row replicate table; the bootstrap SE sums
    DECIMAL(18,6)-rounded means so partial-agg order cannot move it.

    Scale shape: the ×32 explode is map-side and combines immediately
    into 32 partial cells per task — the only shuffle carries
    32 rows/task. Everything after is a bounded 32-row table.
    """
    r_n = 32
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    rep = orders.select(
        "k",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(r_n - 1))).alias("r"),
    )
    u = F.pmod(
        stable_hash60(F.concat(F.col("k"), F.lit(":"), F.col("r").cast("string"))),
        F.lit(1_000_000),
    )
    w = F.when(u < _POIS1_CDF_PPM[0], 0)
    for k, t in enumerate(_POIS1_CDF_PPM[1:], start=1):
        w = w.when(u < t, k)
    w = w.otherwise(len(_POIS1_CDF_PPM))
    per_rep = (
        rep.select("r", w.alias("w"), (w * F.col("cents")).alias("wx"))
        .groupBy("r")
        .agg(
            F.sum("w").cast("bigint").alias("n"),
            F.sum("wx").cast("bigint").alias("s"),
        )
        .select(
            F.round(F.col("s").cast("double") / F.col("n") / 100.0, 6)
            .cast("decimal(18,6)")
            .alias("m")
        )
    )
    boot = per_rep.agg(
        F.element_at(F.array_sort(F.collect_list("m")), 2)
        .cast("double")
        .alias("boot_lo"),
        F.element_at(F.array_sort(F.collect_list("m")), 31)
        .cast("double")
        .alias("boot_hi"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("sm2"),
    )
    base = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    return base.crossJoin(F.broadcast(boot)).select(
        "n_orders",
        F.round(
            F.col("sum_cents").cast("double") / F.col("n_orders") / 100.0, 6
        ).alias("mean_full_r"),
        "boot_lo",
        "boot_hi",
        F.round(
            F.sqrt(
                (
                    F.col("sm2").cast("double")
                    - F.col("sm").cast("double")
                    * F.col("sm").cast("double")
                    / 32.0
                )
                / 31.0
            ),
            6,
        ).alias("boot_se_r"),
    )


QUERIES["orders_poisson_bootstrap"] = q_orders_poisson_bootstrap

ORACLES["orders_poisson_bootstrap"] = """
WITH o AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), rep AS (
  SELECT k, cents, r.range AS r FROM o CROSS JOIN range(32) r
), hashed AS (
  SELECT r, cents,
         CAST(concat('0x', substr(md5(k || ':' || CAST(r AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000 AS u
  FROM rep
), weighted AS (
  SELECT r, cents,
         CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
              WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
              WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
              WHEN u < 999917 THEN 6 ELSE 7 END AS w
  FROM hashed
), per_rep AS (
  SELECT r, CAST(SUM(w) AS BIGINT) AS n, CAST(SUM(w * cents) AS BIGINT) AS s
  FROM weighted GROUP BY r
), m AS (
  SELECT CAST(round(CAST(s AS DOUBLE) / n / 100.0, 6) AS DECIMAL(18,6)) AS m
  FROM per_rep
), boot AS (
  SELECT CAST((list(m ORDER BY m))[2] AS DOUBLE) AS boot_lo,
         CAST((list(m ORDER BY m))[31] AS DOUBLE) AS boot_hi,
         SUM(m) AS sm,
         SUM(CAST(m AS DECIMAL(19,6)) * CAST(m AS DECIMAL(19,6))) AS sm2
  FROM m
), base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM o
)
SELECT n_orders,
       round(CAST(sum_cents AS DOUBLE) / n_orders / 100.0, 6) AS mean_full_r,
       boot_lo, boot_hi,
       round(sqrt((CAST(sm2 AS DOUBLE)
                   - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / 32.0)
                  / 31.0), 6) AS boot_se_r
FROM base, boot
"""


# ------------------------------------------------------- McNemar test


def q_customers_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test: did the population of ordering customers
    CHANGE between 1996 and 1997? Each customer is its own pair —
    (ordered in 1996?, ordered in 1997?) — and only the discordant
    cells b (1996-only) and c (1997-only) carry signal:
    χ² = (|b − c| − 1)² / (b + c) with continuity correction. The
    marginal-homogeneity audit for paired binary outcomes — what an
    A/B z-test gets WRONG when samples are paired.

    Convention note (ADVICE r6): the continuity-corrected numerator
    (|b − c| − 1)² is NOT clamped at zero, so b == c yields
    χ² = 1/(b+c) rather than the textbook 0. The uncorrected edge is a
    measure-zero tie case; both engines share the identical expression,
    so the oracle matches exactly. Wrap the numerator in
    GREATEST(|b−c|−1, 0)² on both sides if the clamped form is needed.

    Scale shape: facts reduce once to one row per customer (two
    MAX(CASE) flags — one combiner-friendly shuffle); the 2×2 cells
    are a 1-row aggregate; χ² is one shared double expression over
    exact BIGINTs.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("y")
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.max((F.col("y") == 1996).cast("int")).alias("y96"),
        F.max((F.col("y") == 1997).cast("int")).alias("y97"),
    )
    cells = per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("y96") * F.col("y97")).cast("bigint").alias("n_both"),
        F.sum(F.col("y96") * (1 - F.col("y97"))).cast("bigint").alias("b_only"),
        F.sum((1 - F.col("y96")) * F.col("y97")).cast("bigint").alias("c_only"),
        F.sum((1 - F.col("y96")) * (1 - F.col("y97")))
        .cast("bigint")
        .alias("neither"),
    )
    bc = F.col("b_only") + F.col("c_only")
    diff = F.abs(F.col("b_only") - F.col("c_only"))
    return cells.select(
        "n_customers",
        "n_both",
        "b_only",
        "c_only",
        "neither",
        F.round(
            (diff - 1.0) * (diff - 1.0) / bc.cast("double"), 6
        ).alias("chi2_r"),
    )


QUERIES["customers_mcnemar"] = q_customers_mcnemar

ORACLES["customers_mcnemar"] = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS y96,
         MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS y97
  FROM orders GROUP BY o_custkey
), cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(y96 * y97) AS BIGINT) AS n_both,
         CAST(SUM(y96 * (1 - y97)) AS BIGINT) AS b_only,
         CAST(SUM((1 - y96) * y97) AS BIGINT) AS c_only,
         CAST(SUM((1 - y96) * (1 - y97)) AS BIGINT) AS neither
  FROM per_cust
)
SELECT n_customers, n_both, b_only, c_only, neither,
       round((abs(b_only - c_only) - 1.0) * (abs(b_only - c_only) - 1.0)
             / CAST(b_only + c_only AS DOUBLE), 6) AS chi2_r
FROM cells
"""


# ------------------------------------------------------- PR curve


def q_events_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 sweep for "event value predicts purchase" at
    19 fixed thresholds (25, 50, … 475) — the operating-point audit
    that complements events_auc_value's single ranking number (AUC says
    the score orders well; THIS says what you get at the cutoff you'd
    actually deploy).

    Scale shape: facts reduce once to distinct cent-value cells with
    positive counts (one bounded shuffle — ≤ ~49k cells at any data
    size since value has 2 decimals in [0, 500)); the threshold sweep
    is a bounded cells × 19 broadcast; every ratio is one division of
    exact BIGINTs rounded at the end. F1 uses the identity
    2TP / (2TP + FP + FN) — one division, no precision/recall
    intermediate floats.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    cells = ev.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    th = spark.range(1, 20).select(
        (F.col("id") * 25).alias("threshold")
    )
    joined = cells.crossJoin(F.broadcast(th))
    pred = F.col("score") >= F.col("threshold") * 100
    agg = joined.groupBy("threshold").agg(
        F.sum(F.when(pred, F.col("pos")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(pred, F.col("cnt") - F.col("pos")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~pred, F.col("pos")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("fn"),
    )
    return agg.select(
        F.col("threshold").cast("bigint").alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.round(
            F.when(
                F.col("tp") + F.col("fp") > 0,
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
            ),
            6,
        ).alias("precision_r"),
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6
        ).alias("recall_r"),
        F.round(
            2.0
            * F.col("tp").cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1_r"),
    ).orderBy("threshold")


QUERIES["events_pr_curve"] = q_events_pr_curve

ORACLES["events_pr_curve"] = """
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), cells AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM s GROUP BY score
), th AS (
  SELECT (r.range + 1) * 25 AS threshold FROM range(19) r
), agg AS (
  SELECT threshold,
         CAST(SUM(CASE WHEN score >= threshold * 100 THEN pos ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN score >= threshold * 100 THEN cnt - pos ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN score < threshold * 100 THEN pos ELSE 0 END)
              AS BIGINT) AS fn
  FROM cells CROSS JOIN th
  GROUP BY threshold
)
SELECT CAST(threshold AS BIGINT) AS threshold, tp, fp, fn,
       round(CASE WHEN tp + fp > 0
                  THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision_r,
       round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_r,
       round(2.0 * CAST(tp AS DOUBLE) / (2 * tp + fp + fn), 6) AS f1_r
FROM agg ORDER BY threshold
"""


# ----------------------------------------------------- Heaps' law fit


def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(n) = K·n^β: how fast does the
    vocabulary grow as documents stream in? The capacity-planning
    number behind every vocab-bounded claim in this repo (BPE merges,
    TF-IDF broadcast joins, unigram-LM tables) — β < 1 is WHY a
    vocabulary aggregate stays broadcastable at 100 TB. The synthetic
    corpus has a 31-word closed vocabulary (unigram V saturates by the
    first checkpoint), so the unit here is word TRIGRAMS — ~30k
    possible phrases whose discovery curve is genuinely Heaps-shaped.

    Plan: corpus order is doc_id; 10 checkpoint boundaries derive from
    the 1-row max(doc_id) aggregate. Each trigram reduces to its FIRST
    occurrence (min doc_id — one phrase-vocab-sized shuffle); V at each
    checkpoint is a vocab × 10 broadcast-join census, n (cumulative
    trigram instances) the same census over per-doc map-side counts.
    The log-log OLS runs over the 10 bounded points with DECIMAL-routed
    logs, so no cross-row float sum exists anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tris = ngrams(toks, 3)
    # n_tris needs NO trigram strings: a doc with n >= 3 tokens has
    # exactly n-2 trigrams (r12 — the size(tris) form re-ran the whole
    # transform/concat_ws pipeline per row just to measure the array,
    # a second full tokenization pass of the corpus).
    ntok = F.size(toks)
    per_doc = docs.select(
        F.col("doc_id"),
        F.when(ntok >= 3, ntok - 2)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_tris"),
    )
    first = (
        docs.select(F.col("doc_id"), F.explode(tris).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    max_id = docs.agg(F.max("doc_id").alias("mx"))
    cks = (
        spark.range(1, 11)
        .crossJoin(F.broadcast(max_id))
        .select(
            F.col("id").cast("bigint").alias("k"),
            F.floor((F.col("mx") * F.col("id")) / 10)
            .cast("bigint")
            .alias("boundary_doc"),
        )
    )
    vocab_at = (
        first.crossJoin(F.broadcast(cks))
        .where(F.col("first_doc") <= F.col("boundary_doc"))
        .groupBy("k", "boundary_doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    tokens_at = (
        per_doc.crossJoin(F.broadcast(cks))
        .where(F.col("doc_id") <= F.col("boundary_doc"))
        .groupBy("k")
        .agg(F.sum("n_tris").cast("bigint").alias("cum_trigrams"))
    )
    pts = vocab_at.join(tokens_at, "k").select(
        "k",
        "boundary_doc",
        "cum_trigrams",
        "vocab",
        F.round(F.log(F.col("cum_trigrams").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(F.log(F.col("vocab").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("y"),
    )
    # OLS sums as UNBOUNDED WINDOW aggregates over the 10-row checkpoint
    # frame instead of agg + crossJoin-back (r12 — VERDICT r11 item 5):
    # the crossJoin form put the pts subtree into the plan TWICE (once
    # under the fit, once for the output rows), and each evaluation
    # re-ran the trigram explode + first-occurrence shuffle — exchange
    # reuse hid it at sf0.1's 4-file layout but not at the sf1
    # rehearsal's 32 files (full query 2× the first-occurrence stage
    # there; docs/SCALE.md round 12). The single-partition window is
    # bounded by construction: pts has exactly 10 checkpoint rows.
    from pyspark.sql import Window

    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    np_ = F.count(F.lit(1)).over(w).cast("bigint")
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    beta = (
        np_ * sxy.cast("double") - sx.cast("double") * sy.cast("double")
    ) / (
        np_ * sxx.cast("double") - sx.cast("double") * sx.cast("double")
    )
    intercept = (sy.cast("double") - beta * sx.cast("double")) / np_
    return pts.select(
        "k",
        "boundary_doc",
        "cum_trigrams",
        "vocab",
        (F.round(beta, 6) + 0.0).alias("beta_r"),
        F.round(F.exp(intercept), 4).alias("k_coef_r"),
    ).orderBy("k")


QUERIES["text_heaps_law"] = q_text_heaps_law

ORACLES["text_heaps_law"] = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), tri AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1]
                                       || ' ' || toks[i + 2])
              ELSE [] END AS tris
  FROM toked
), per_doc AS (
  SELECT doc_id, CAST(len(tris) AS BIGINT) AS n_tris FROM tri
), first AS (
  SELECT t, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(tris) AS t FROM tri) GROUP BY t
), cks AS (
  SELECT CAST(r.range + 1 AS BIGINT) AS k,
         CAST(floor((SELECT MAX(doc_id) FROM documents) * (r.range + 1)
                    / 10.0) AS BIGINT) AS boundary_doc
  FROM range(10) r
), vocab_at AS (
  SELECT k, boundary_doc, CAST(COUNT(*) AS BIGINT) AS vocab
  FROM first CROSS JOIN cks
  WHERE first_doc <= boundary_doc
  GROUP BY k, boundary_doc
), tokens_at AS (
  SELECT k, CAST(SUM(n_tris) AS BIGINT) AS cum_trigrams
  FROM per_doc CROSS JOIN cks
  WHERE doc_id <= boundary_doc
  GROUP BY k
), pts AS (
  SELECT v.k, v.boundary_doc, t.cum_trigrams, v.vocab,
         CAST(round(ln(CAST(t.cum_trigrams AS DOUBLE)), 9)
              AS DECIMAL(18,9)) AS x,
         CAST(round(ln(CAST(v.vocab AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
  FROM vocab_at v JOIN tokens_at t USING (k)
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS DECIMAL(19,9)) * CAST(y AS DECIMAL(19,9))) AS sxy,
         SUM(CAST(x AS DECIMAL(19,9)) * CAST(x AS DECIMAL(19,9))) AS sxx
  FROM pts
), coefs AS (
  SELECT round((np * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (np * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         + 0.0 AS beta_r,
         round(exp((CAST(sy AS DOUBLE)
                    - ((np * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (np * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                      * CAST(sx AS DOUBLE)) / np), 4) AS k_coef_r
  FROM fit
)
SELECT k, boundary_doc, cum_trigrams, vocab, beta_r, k_coef_r
FROM pts CROSS JOIN coefs
ORDER BY k
"""


# ------------------------------------------------------- Zipf-law fit


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the trigram frequency spectrum: slope of
    log(freq) on log(rank) for the top-500 phrases — the skew number
    that predicts how fast BPE merge gains flatten (measured at sf1 in
    docs/SCALE.md) and how hot the hottest dedup/bucket keys run.
    Companion to text_heaps_law: Heaps says how the vocabulary GROWS,
    Zipf says how unevenly it's USED.

    Plan: one phrase-vocab aggregate; the top-500 selection is a
    TakeOrderedAndProject (bounded k, never a global sort); rank
    assignment is the window-FREE deterministic sorted-array fold — the
    500 survivors collapse into ONE bounded array, array_sort fixes the
    (freq desc, phrase asc) order bit-exactly, posexplode hands back
    ranks. The log-log OLS sums DECIMAL-routed logs over the 500
    bounded rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tris = ngrams(toks, 3)
    vocab = (
        docs.select(F.explode(tris).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    top = vocab.orderBy(F.col("cnt").desc(), F.col("t").asc()).limit(500)
    packed = top.agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("cnt")).alias("nc"), F.col("t")))
        ).alias("a")
    )
    ranked = packed.select(
        F.posexplode("a").alias("pos", "s")
    ).select(
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        (-F.col("s.nc")).cast("bigint").alias("cnt"),
    )
    pts = ranked.select(
        "rank",
        "cnt",
        F.round(F.log(F.col("rank").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("y"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.min(F.col("cnt")).alias("min_cnt"),
        F.max(F.col("cnt")).alias("max_cnt"),
    )
    n_d = F.col("np").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n_d * sxy - sx * sy
    varx = n_d * sxx - sx * sx
    vary = n_d * syy - sy * sy
    total = vocab.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("cnt").cast("bigint").alias("total_occurrences"),
    )
    return total.crossJoin(F.broadcast(fit)).select(
        "vocab_size",
        "total_occurrences",
        F.col("np").alias("top_n"),
        "max_cnt",
        "min_cnt",
        F.round(cov / varx, 6).alias("zipf_slope_r"),
        F.round((sy - (cov / varx) * sx) / n_d, 6).alias("intercept_r"),
        F.round(cov * cov / (varx * vary), 6).alias("r2_r"),
    )


QUERIES["text_zipf_fit"] = q_text_zipf_fit

ORACLES["text_zipf_fit"] = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), tri AS (
  SELECT CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1]
                                       || ' ' || toks[i + 2])
              ELSE [] END AS tris
  FROM toked
), vocab AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(tris) AS t FROM tri) GROUP BY t
), ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, t ASC) AS rank, cnt
  FROM (SELECT t, cnt FROM vocab ORDER BY cnt DESC, t ASC LIMIT 500)
), pts AS (
  SELECT CAST(rank AS BIGINT) AS rank, cnt,
         CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
  FROM ranked
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS DECIMAL(19,9)) * CAST(y AS DECIMAL(19,9))) AS sxy,
         SUM(CAST(x AS DECIMAL(19,9)) * CAST(x AS DECIMAL(19,9))) AS sxx,
         SUM(CAST(y AS DECIMAL(19,9)) * CAST(y AS DECIMAL(19,9))) AS syy,
         CAST(MIN(cnt) AS BIGINT) AS min_cnt,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM pts
), total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(cnt) AS BIGINT) AS total_occurrences
  FROM vocab
)
SELECT vocab_size, total_occurrences, np AS top_n, max_cnt, min_cnt,
       round((np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (np * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS zipf_slope_r,
       round((CAST(sy AS DOUBLE)
              - ((np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (np * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / np, 6) AS intercept_r,
       round((np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((np * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (np * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS r2_r
FROM total CROSS JOIN fit
"""


# -------------------------------------------------------- WOE and IV


def q_events_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value of the event
    value against the purchase label — the credit-scoring-style
    feature audit: WOE_b = ln((pos_b/POS)/(neg_b/NEG)) per fixed
    value band, IV term = (pos_b/POS − neg_b/NEG)·WOE_b; IV < 0.02
    means the band carries no signal. The monotone-WOE companion to
    events_isotonic_fit and the thresholded view behind events_pr_curve.

    Scale shape: facts reduce once to 10 fixed 50-unit value bands
    (map-side CASE, one bounded shuffle); POS/NEG totals broadcast
    back from a 1-row aggregate; ln appears once per bounded band row
    and never sums across data-proportional rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.least(
            F.floor(F.round(F.col("value") * 100) / 5000).cast("bigint"),
            F.lit(9),
        ).alias("band"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    bands = ev.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = bands.agg(
        F.sum("pos").cast("bigint").alias("tot_pos"),
        F.sum(F.col("n") - F.col("pos")).cast("bigint").alias("tot_neg"),
    )
    j = bands.crossJoin(F.broadcast(tot))
    neg = F.col("n") - F.col("pos")
    pr = F.col("pos").cast("double") / F.col("tot_pos")
    nr = neg.cast("double") / F.col("tot_neg")
    woe = F.when(
        (F.col("pos") > 0) & (neg > 0), F.log(pr / nr)
    )
    return j.select(
        "band",
        "n",
        "pos",
        neg.cast("bigint").alias("neg"),
        F.round(woe, 6).alias("woe_r"),
        F.round((pr - nr) * woe, 6).alias("iv_term_r"),
    ).orderBy("band")


QUERIES["events_woe_iv"] = q_events_woe_iv

ORACLES["events_woe_iv"] = """
WITH s AS (
  SELECT least(CAST(floor(CAST(round(value * 100) AS BIGINT) / 5000.0)
                    AS BIGINT), 9) AS band,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), bands AS (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM s GROUP BY band
), tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS tot_pos,
         CAST(SUM(n - pos) AS BIGINT) AS tot_neg
  FROM bands
)
SELECT band, n, pos, CAST(n - pos AS BIGINT) AS neg,
       round(CASE WHEN pos > 0 AND n - pos > 0
                  THEN ln((CAST(pos AS DOUBLE) / tot_pos)
                          / (CAST(n - pos AS DOUBLE) / tot_neg)) END,
             6) AS woe_r,
       round((CAST(pos AS DOUBLE) / tot_pos
              - CAST(n - pos AS DOUBLE) / tot_neg)
             * CASE WHEN pos > 0 AND n - pos > 0
                    THEN ln((CAST(pos AS DOUBLE) / tot_pos)
                            / (CAST(n - pos AS DOUBLE) / tot_neg)) END,
             6) AS iv_term_r
FROM bands CROSS JOIN tot
ORDER BY band
"""


# ------------------------------------------------ cross-correlation


def q_events_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the hourly 'view' and 'purchase' count
    series at lags −6..+6 — does browsing LEAD buying (peak at a
    positive lag) or move with it (peak at 0)? The two-series companion
    to events_acf, same exact-integer machinery: dev_t = n·x_t − S is
    an exact BIGINT (the n² scale cancels in the ratio), lag alignment
    is an equi-join on hour indices, zero windows.

    r(l) = Σ devx_t · devy_{t+l} / sqrt(Σdevx² · Σdevy²); the sqrt
    runs once per bounded output row on exact integer operands.
    """
    from .relational7 import _hourly_series

    series = _hourly_series(spark, sf_dir).where(
        F.col("event_type").isin("view", "purchase")
    )
    st = series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    d = series.join(F.broadcast(st), "event_type").select(
        "event_type",
        "hidx",
        (F.col("n") * F.col("x") - F.col("s")).alias("dev"),
    )
    dx = d.where(F.col("event_type") == "view").select(
        F.col("hidx").alias("hx"), F.col("dev").alias("devx")
    )
    dy = d.where(F.col("event_type") == "purchase").select(
        F.col("hidx").alias("hy"), F.col("dev").alias("devy")
    )
    den = dx.agg(
        F.sum(F.col("devx") * F.col("devx")).cast("bigint").alias("dxx")
    ).crossJoin(
        dy.agg(
            F.sum(F.col("devy") * F.col("devy")).cast("bigint").alias("dyy")
        )
    )
    lags = spark.range(-6, 7).select(F.col("id").cast("bigint").alias("lag"))
    num = (
        dx.crossJoin(F.broadcast(lags))
        .join(dy, F.col("hy") == F.col("hx") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("devx") * F.col("devy")).cast("bigint").alias("num"))
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            F.round(
                F.col("num").cast("double")
                / F.sqrt(
                    F.col("dxx").cast("double") * F.col("dyy").cast("double")
                ),
                6,
            ).alias("ccf_r"),
        )
        .orderBy("lag")
    )


QUERIES["events_ccf"] = q_events_ccf

ORACLES["events_ccf"] = """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hidx,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), span AS (SELECT MIN(hidx) AS h0, MAX(hidx) AS h1 FROM hourly),
grid AS (
  SELECT t.event_type, unnest(generate_series(h0, h1)) AS hidx
  FROM (SELECT DISTINCT event_type FROM hourly) t, span
),
series AS (
  SELECT g.event_type, g.hidx, COALESCE(h.x, 0) AS x
  FROM grid g LEFT JOIN hourly h
    ON h.event_type = g.event_type AND h.hidx = g.hidx
  WHERE g.event_type IN ('view', 'purchase')
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
dx AS (SELECT hidx AS hx, dev AS devx FROM d WHERE event_type = 'view'),
dy AS (SELECT hidx AS hy, dev AS devy FROM d WHERE event_type = 'purchase'),
den AS (
  SELECT (SELECT CAST(SUM(devx * devx) AS BIGINT) FROM dx) AS dxx,
         (SELECT CAST(SUM(devy * devy) AS BIGINT) FROM dy) AS dyy
),
num AS (
  SELECT l.lag, CAST(SUM(a.devx * b.devy) AS BIGINT) AS num
  FROM dx a
  CROSS JOIN (SELECT unnest(generate_series(-6, 6)) AS lag) l
  JOIN dy b ON b.hy = a.hx + l.lag
  GROUP BY l.lag
)
SELECT CAST(n.lag AS BIGINT) AS lag,
       round(CAST(n.num AS DOUBLE)
             / sqrt(CAST(d.dxx AS DOUBLE) * CAST(d.dyy AS DOUBLE)), 6)
           AS ccf_r
FROM num n CROSS JOIN den d
ORDER BY lag
"""


# --------------------------------------- local clustering coefficient


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient distribution over the co-supply
    graph: per node, c_v = 2·T_v / (d_v·(d_v−1)) — how tightly each
    supplier's neighborhood closes into triangles — histogrammed into
    tenth-wide buckets, plus the network average (Watts-Strogatz
    small-world statistic). graph_triangles counts the closed wedges
    GLOBALLY; this credits each triangle to all three corners.

    Plan: the canonical a<b<c triangle enumeration (one wedge join on
    the middle node + one closing semi-equi-join) explodes each
    triangle into 3 credit rows; degree is one aggregate over the
    doubled edge list. The bucket index 20·T div (d·(d−1)) is exact
    integer division (both engines truncate non-negative operands);
    the average sums DECIMAL-rounded per-node coefficients so no
    cross-row float sum exists.
    """
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.co_supply_edges(li)
    und = edges.select(
        F.col("sa").alias("v"), F.col("sb").alias("w")
    ).unionAll(edges.select(F.col("sb").alias("v"), F.col("sa").alias("w")))
    deg = und.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    e1 = edges.select(F.col("sa").alias("a"), F.col("sb").alias("b"))
    e2 = edges.select(F.col("sa").alias("b"), F.col("sb").alias("c"))
    e3 = edges.select(F.col("sa").alias("a"), F.col("sb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    credits = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    per_node = (
        deg.join(credits, "v", "left")
        .select(
            "v",
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        )
        .where(F.col("d") >= 2)
        .select(
            "v",
            F.expr("(20 * t) div (d * (d - 1))").cast("bigint").alias("bucket"),
            F.round(
                2.0 * F.col("t") / (F.col("d") * (F.col("d") - 1)), 6
            )
            .cast("decimal(9,6)")
            .alias("cc"),
        )
    )
    avg_cc = per_node.agg(
        F.round(
            F.sum("cc").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_cc_r")
    )
    return (
        per_node.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .crossJoin(F.broadcast(avg_cc))
        .orderBy("bucket")
    )


QUERIES["graph_clustering_coeff"] = q_graph_clustering_coeff

ORACLES["graph_clustering_coeff"] = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_partkey % 50 = 0),
edges AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb
  FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
  WHERE a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT sa AS v FROM edges UNION ALL SELECT sb FROM edges)
  GROUP BY v
),
tri AS (
  SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
  FROM edges e1
  JOIN edges e2 ON e1.sb = e2.sa
  JOIN edges e3 ON e3.sa = e1.sa AND e3.sb = e2.sb
),
credits AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY v
),
per_node AS (
  SELECT deg.v, deg.d, COALESCE(credits.t, 0) AS t,
         (20 * COALESCE(credits.t, 0)) // (deg.d * (deg.d - 1)) AS bucket,
         CAST(round(2.0 * COALESCE(credits.t, 0)
                    / (deg.d * (deg.d - 1)), 6) AS DECIMAL(9,6)) AS cc
  FROM deg LEFT JOIN credits ON credits.v = deg.v
  WHERE deg.d >= 2
),
avg_cc AS (
  SELECT round(CAST(SUM(cc) AS DOUBLE) / COUNT(*), 6) AS avg_cc_r
  FROM per_node
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes, avg_cc_r
FROM per_node CROSS JOIN avg_cc
GROUP BY bucket, avg_cc_r
ORDER BY bucket
"""


# --------------------------------------------- price-volume-mix bridge


def q_orders_pvm_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge 1996 → 1997 per part brand: the
    FP&A decomposition ΔR_b = p0·Δq (volume effect) + q0·Δp (price
    effect) + Δp·Δq (joint), where p is the brand's average unit price
    and q its shipped quantity — the "why did revenue move" waterfall
    every BI stack ships.

    Plan: facts join the part dimension once for the brand key, then
    reduce to (brand, year) decimal cells — one combiner-friendly
    shuffle; the bridge itself is a self-join of the ~25-brand bounded
    cell table. Unit prices are single divisions of exact decimal sums;
    every effect evaluates as one shared double expression tree, so
    both engines produce bit-identical bridges.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.year("l_shipdate").alias("yr"),
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
        F.round(F.col("l_extendedprice"), 2).cast("decimal(18,2)").alias("s"),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    cells = (
        li.where(F.col("yr").isin(1996, 1997))
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("brand", "yr")
        .agg(
            F.sum("q").cast("decimal(18,2)").alias("qty"),
            F.sum("s").cast("decimal(18,2)").alias("rev"),
        )
    )
    c0 = cells.where(F.col("yr") == 1996).select(
        "brand",
        F.col("qty").cast("double").alias("q0"),
        F.col("rev").cast("double").alias("r0"),
    )
    c1 = cells.where(F.col("yr") == 1997).select(
        "brand",
        F.col("qty").cast("double").alias("q1"),
        F.col("rev").cast("double").alias("r1"),
    )
    j = c0.join(c1, "brand")
    p0 = F.col("r0") / F.col("q0")
    p1 = F.col("r1") / F.col("q1")
    return j.select(
        "brand",
        F.round(F.col("r0"), 2).alias("rev_1996_r"),
        F.round(F.col("r1"), 2).alias("rev_1997_r"),
        F.round(p0 * (F.col("q1") - F.col("q0")), 2).alias("volume_eff_r"),
        F.round(F.col("q0") * (p1 - p0), 2).alias("price_eff_r"),
        F.round((p1 - p0) * (F.col("q1") - F.col("q0")), 2).alias(
            "joint_eff_r"
        ),
    ).orderBy("brand")


QUERIES["orders_pvm_bridge"] = q_orders_pvm_bridge

ORACLES["orders_pvm_bridge"] = """
WITH li AS (
  SELECT l_partkey, year(l_shipdate) AS yr,
         CAST(l_quantity AS DECIMAL(18,2)) AS q,
         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS s
  FROM lineitem
  WHERE year(l_shipdate) IN (1996, 1997)
), cells AS (
  SELECT p.p_brand AS brand, li.yr,
         CAST(SUM(li.q) AS DECIMAL(18,2)) AS qty,
         CAST(SUM(li.s) AS DECIMAL(18,2)) AS rev
  FROM li JOIN part p ON li.l_partkey = p.p_partkey
  GROUP BY 1, 2
), c0 AS (
  SELECT brand, CAST(qty AS DOUBLE) AS q0, CAST(rev AS DOUBLE) AS r0
  FROM cells WHERE yr = 1996
), c1 AS (
  SELECT brand, CAST(qty AS DOUBLE) AS q1, CAST(rev AS DOUBLE) AS r1
  FROM cells WHERE yr = 1997
)
SELECT brand,
       round(r0, 2) AS rev_1996_r,
       round(r1, 2) AS rev_1997_r,
       round((r0 / q0) * (q1 - q0), 2) AS volume_eff_r,
       round(q0 * (r1 / q1 - r0 / q0), 2) AS price_eff_r,
       round((r1 / q1 - r0 / q0) * (q1 - q0), 2) AS joint_eff_r
FROM c0 JOIN c1 USING (brand)
ORDER BY brand
"""


# ------------------------------------------- PCA via power iteration

_PCA_ROUNDS = 8
_PCA_VSCALE = 9  # decimals kept in the normalized iterate each round


def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal component of the embedding cloud by POWER ITERATION —
    the dimensionality-reduction rung under sim_jl_distortion (JL is
    oblivious; PCA is data-adapted): 8 rounds of v ← C·v / ‖C·v‖∞ over
    the exact integer covariance, then the Rayleigh eigenvalue and its
    explained-variance share against the exact trace.

    Exactness: embeddings quantize to milli-units; dev_ij = n·q_ij − S_j
    is an exact BIGINT (the n² scale cancels in every ratio), so the
    Gram matrix C = ΣᵢdevᵢdevᵢT is exact int64. Each iterate is kept as
    a BIGINT in units of 10^-9 and re-quantized after the max-norm
    division by EXACT integer rounding —
    vint' = sign(u)·((2·|u|·10^9 + nn) div (2·nn)), round-half-away —
    in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) arithmetic, so all 8
    rounds are bit-identical across engines BY CONSTRUCTION. (The first
    version rounded a double quotient per round; at sf0.1 one of the
    512 quotients landed near a 1e-9 rounding boundary, the engines'
    double round() split, and the 1e-9 seed amplified to 2e-6 in the
    final loadings. Exact integer rounding removes the class.)
    Magnitude audit at sf0.1: Σ|c| = 1.7e16, so |u| ≤ 1.7e25 and the
    rounding numerator ≤ 3.3e34 — three decades of headroom under the
    10^38 cap.

    Scale shape: the dim² Gram cells come from one vec_id-keyed
    self-join of the (row, dim, dev) cells — the distributed outer
    product, shuffle keyed on the ROW id so no single task sees the
    matrix; everything after round 0 is bounded 64- and 4096-row
    algebra. The iteration loop lives in the DRIVER but each step is a
    Catalyst plan over bounded tables.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id", F.posexplode("embedding").alias("jj", "e")
    ).select(
        "vec_id",
        F.col("jj").cast("bigint").alias("j"),
        # explicit double BEFORE the multiply: the parquet floats are
        # float32, and float32 x int arithmetic rounds differently
        # (0.3195f x 1000 = 319.5f -> 320, while double math gives
        # 319.4999993 -> 319 — found at sf0.1, vec_id 1879 dim 17).
        # The oracle casts the same way; repo convention (_SQ_CODES).
        F.round(F.col("e").cast("double") * 1000).cast("bigint").alias("q"),
    )
    stats_j = cells.groupBy("j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
    )
    d = cells.join(F.broadcast(stats_j), "j").select(
        "vec_id", "j", (F.col("n") * F.col("q") - F.col("s")).alias("dev")
    )
    right = d.select(
        F.col("vec_id"),
        F.col("j").alias("k"),
        F.col("dev").alias("devk"),
    )
    cmat = (
        d.join(right, "vec_id")
        .groupBy("j", "k")
        .agg(F.sum(F.col("dev") * F.col("devk")).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    # iterate lives as BIGINT in units of 10^-_PCA_VSCALE (v0 = 1.0)
    scale = 10**_PCA_VSCALE
    v = cmat.select("j").distinct().select(
        "j", F.lit(scale).cast("bigint").alias("vint")
    )
    dec = "decimal(38,0)"
    for _ in range(_PCA_ROUNDS):
        u = (
            cmat.join(v.withColumnRenamed("j", "k"), "k")
            .groupBy("j")
            .agg(
                F.sum(
                    F.col("c").cast(dec) * F.col("vint").cast(dec)
                ).alias("u")
            )
        )
        norm = u.agg(F.max(F.abs(F.col("u"))).alias("nn"))
        v = (
            u.crossJoin(F.broadcast(norm))
            .select(
                "j",
                F.expr(
                    "CAST((CASE WHEN u < 0 THEN -1 ELSE 1 END) * "
                    f"((2 * abs(u) * {scale} + nn) div (2 * nn)) AS BIGINT)"
                ).alias("vint"),
            )
            .localCheckpoint()
        )
    u9 = (
        cmat.join(
            v.withColumnRenamed("j", "k").withColumnRenamed("vint", "vk"),
            "k",
        )
        .groupBy("j")
        .agg(
            F.sum(F.col("c").cast(dec) * F.col("vk").cast(dec)).alias("u9")
        )
    )
    ray = (
        v.join(u9, "j")
        .agg(
            F.sum(F.col("vint").cast(dec) * F.col("u9")).alias("vcv"),
            F.sum(F.col("vint").cast(dec) * F.col("vint").cast(dec)).alias(
                "vv"
            ),
        )
        .crossJoin(
            F.broadcast(
                cmat.where(F.col("j") == F.col("k")).agg(
                    F.sum("c").cast("bigint").alias("trace")
                )
            )
        )
        .select(
            F.round(
                F.col("vcv").cast("double")
                / F.col("vv").cast("double")
                / F.col("trace").cast("double"),
                6,
            ).alias("var_share_r")
        )
    )
    # 6-decimal loading by the same exact integer rounding, then ONE
    # deterministic int->double division per row
    loading6 = F.expr(
        "CAST((CASE WHEN vint < 0 THEN -1 ELSE 1 END) * "
        f"((2 * abs(vint) + {scale // 10**6}) div {2 * scale // 10**6}) "
        "AS BIGINT)"
    )
    return (
        v.crossJoin(F.broadcast(ray))
        .select(
            "j",
            (loading6.cast("double") / F.lit(10**6).cast("double")).alias(
                "loading_r"
            ),
            "var_share_r",
        )
        .orderBy("j")
    )


QUERIES["embedding_pca_power"] = q_embedding_pca_power


def _pca_oracle() -> str:
    # HUGEINT mirror of the Spark DECIMAL(38,0) integer iteration: the
    # per-round quantization is sign(u)*((2*|u|*10^9 + nn) // (2*nn)) —
    # exact round-half-away, no doubles anywhere inside the loop.
    scale = 10**_PCA_VSCALE
    rounds = []
    prev = "v0"
    for r in range(1, _PCA_ROUNDS + 1):
        rounds.append(
            f"""u{r} AS MATERIALIZED (
  SELECT c.j, SUM(CAST(c.c AS HUGEINT) * CAST(v.vint AS HUGEINT)) AS u
  FROM cmat c JOIN {prev} v ON c.k = v.j GROUP BY c.j
), n{r} AS MATERIALIZED (SELECT MAX(ABS(u)) AS nn FROM u{r}),
v{r} AS MATERIALIZED (
  SELECT j, CAST((CASE WHEN u < 0 THEN -1 ELSE 1 END)
                 * ((2 * ABS(u) * {scale} + nn) // (2 * nn))
            AS BIGINT) AS vint
  FROM u{r} CROSS JOIN n{r}
)"""
        )
        prev = f"v{r}"
    body = ",\n".join(rounds)
    return f"""
WITH cells AS MATERIALIZED (
  SELECT vec_id, CAST(i.range AS BIGINT) AS j,
         CAST(round(CAST(embedding[i.range + 1] AS DOUBLE) * 1000)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(64) i
), stats_j AS MATERIALIZED (
  SELECT j, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS s
  FROM cells GROUP BY j
), d AS MATERIALIZED (
  SELECT c.vec_id, c.j, st.n * c.q - st.s AS dev
  FROM cells c JOIN stats_j st USING (j)
), cmat AS MATERIALIZED (
  SELECT a.j, b.j AS k, CAST(SUM(a.dev * b.dev) AS BIGINT) AS c
  FROM d a JOIN d b ON a.vec_id = b.vec_id
  GROUP BY a.j, b.j
), v0 AS MATERIALIZED (
  SELECT DISTINCT j, CAST({scale} AS BIGINT) AS vint FROM cmat
),
{body},
u9 AS MATERIALIZED (
  SELECT c.j, SUM(CAST(c.c AS HUGEINT) * CAST(v.vint AS HUGEINT)) AS u9
  FROM cmat c JOIN {prev} v ON c.k = v.j GROUP BY c.j
), ray AS MATERIALIZED (
  SELECT round(CAST(SUM(CAST(v.vint AS HUGEINT) * u9.u9) AS DOUBLE)
               / CAST(SUM(CAST(v.vint AS HUGEINT)
                          * CAST(v.vint AS HUGEINT)) AS DOUBLE)
               / CAST((SELECT SUM(c) FROM cmat WHERE j = k) AS DOUBLE),
               6) AS var_share_r
  FROM {prev} v JOIN u9 USING (j)
)
SELECT v.j,
       CAST(CAST((CASE WHEN v.vint < 0 THEN -1 ELSE 1 END)
                 * ((2 * ABS(CAST(v.vint AS HUGEINT)) + {scale // 10**6})
                    // {2 * scale // 10**6})
            AS BIGINT) AS DOUBLE) / 1000000.0 AS loading_r,
       ray.var_share_r
FROM {prev} v CROSS JOIN ray
ORDER BY v.j
"""


ORACLES["embedding_pca_power"] = _pca_oracle()
