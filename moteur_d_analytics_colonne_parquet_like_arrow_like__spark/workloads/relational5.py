"""Fifth relational workload: the six TPC-H shapes that complete the full
22-query dial-tone — Q5, Q9, Q11, Q16, Q21, Q22.

The testdata has no partsupp table and no commit/receipt dates, phone or
comment columns, so the classic forms are adapted the same way Q2/Q20 were
(relational3.py): partsupp is derived from lineitem's (partkey, suppkey)
pairs, "late" is shipped >90 days after the order date, "complaints" are
negative supplier balances, and country codes are nation keys. Every shape
keeps its signature plan feature: Q5's cross-dimension equality
(customer nation == supplier nation), Q9's profit expression over a
multi-dim join tree, Q11's HAVING against a scalar subquery, Q16's
count-distinct with an anti-joined exclusion list, Q21's EXISTS /
NOT EXISTS pair on a self-joined fact, Q22's scalar-average filter with an
anti join. All money math routes through DECIMAL so both engines hash
identically (see workloads/__init__ authoring rules).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.catalog import load_table, table_path
from ._scratch import derived, run_dir


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _rev() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


def q_tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue per nation from orders
    where the customer and the lineitem's supplier share a nation inside
    one region and year. The nation/region dims and supplier broadcast;
    the only wide shuffle is lineitem⨝orders on orderkey — the
    customer-nation == supplier-nation equality rides the join condition,
    never a post-join filter over a wider intermediate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    nat_in_region = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == "EUROPE")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("n_nationkey", "n_name")
    )
    cust = customer.join(
        F.broadcast(nat_in_region),
        customer.c_nationkey == nat_in_region.n_nationkey,
    ).select("c_custkey", "c_nationkey")
    ord_f = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey")
    supp = supplier.select("s_suppkey", "s_nationkey")
    j = (
        li.join(ord_f, li.l_orderkey == ord_f.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (F.col("c_nationkey") == supp.s_nationkey),
        )
        .join(
            F.broadcast(nat_in_region),
            F.col("s_nationkey") == nat_in_region.n_nationkey,
        )
    )
    return (
        j.groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def q_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit per supplier nation and
    order year over parts whose name contains a word. Supply cost is
    adapted to p_retailprice·quantity/10 (no partsupp table); the profit
    expression is computed per row in doubles (deterministic — no
    accumulation) and summed through DECIMAL. part/supplier/nation
    broadcast; facts shuffle once on orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")

    bolt_parts = part.where(F.col("p_name").like("%bolt%")).select(
        "p_partkey", "p_retailprice"
    )
    supp_nat = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") / 10
    ).cast("decimal(18,4)")
    j = (
        li.join(F.broadcast(bolt_parts), li.l_partkey == bolt_parts.p_partkey)
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part "inventory value" held by one
    nation's suppliers, keeping parts whose value exceeds twice the mean
    per-part value — HAVING against a scalar subquery. partsupp is derived
    from lineitem (value = Σ extendedprice per part×supplier); the global
    (total, count) pair is a one-row broadcast; the threshold compare is
    decimal-exact (value·n > 2·total, no fractional rounding). A mean-
    relative cutoff, unlike TPC-H's literal 0.0001 fraction, stays
    non-degenerate at every scale factor."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    nat_supp = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == "NATION_1")),
        supplier.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey")
    value = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    per_part = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == nat_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(value.alias("_value"))
    )
    total = per_part.agg(
        F.sum("_value").alias("_total"), F.count(F.lit(1)).alias("_n")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("_value") * F.col("_n") > F.col("_total") * 2)
        .select("l_partkey", F.col("_value").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), F.col("l_partkey").asc())
    )


def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct supplier count per
    (brand, type, size) bucket, excluding one brand, a size list, and
    suppliers on a complaints list (adapted: negative account balance).
    The exclusion is a broadcast anti join BEFORE the distinct-count
    shuffle; the supplier pair set is derived from lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")

    qual_parts = part.where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    complaints = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(complaints),
            F.col("l_suppkey") == complaints.s_suppkey,
            "left_anti",
        )
    )
    return (
        pairs.join(F.broadcast(qual_parts), pairs.l_partkey == qual_parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


def q_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finalized orders,
    lines from one nation's suppliers that shipped late (adapted: >90 days
    after the order date) where ANOTHER supplier is on the order (EXISTS)
    but NO other supplier was late (NOT EXISTS) — the only-guilty-party
    query. Both correlated subqueries become self-joins of the same
    orderkey-keyed base: a left-semi for EXISTS, a left-anti for NOT
    EXISTS, so the whole query is one shuffle family on orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    base = li.join(
        orders.where(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    nat_supp = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == "NATION_1")),
        supplier.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", "s_name")
    l1 = base.where(F.col("late")).join(
        F.broadcast(nat_supp), F.col("l_suppkey") == nat_supp.s_suppkey
    )
    others = base.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp"),
        "late",
    )
    l1 = l1.join(
        others,
        (l1.l_orderkey == others.o_key) & (l1.l_suppkey != others.o_supp),
        "left_semi",
    )
    l1 = l1.join(
        others.where(F.col("late")),
        (l1.l_orderkey == others.o_key) & (l1.l_suppkey != others.o_supp),
        "left_anti",
    )
    return (
        l1.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


def q_tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers from a country-code
    list (adapted: nation keys) with above-average positive balances and NO
    recent orders (the generator gives every customer at least one order,
    so "no orders ever" is degenerate here — the dormancy cutoff keeps the
    anti-join meaningful at every scale). The average is a one-row
    broadcast (decimal sum / exact count, so both engines derive the
    identical double); the dormancy test is a left-anti join against the
    date-filtered orders fact — the scalable NOT EXISTS, with the filter
    pushed below the join."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")

    codes = [1, 3, 5, 7, 9, 11, 13]
    pool = customer.where(F.col("c_nationkey").isin(*codes))
    avg_bal = pool.where(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg")
    )
    rich = pool.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("_avg"))
    no_orders = rich.join(
        orders.where(F.col("o_orderdate") >= F.lit("1999-01-01")).select(
            "o_custkey"
        ),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        no_orders.groupBy(F.col("c_nationkey").cast("bigint").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


QUERIES = {
    "tpch_q5_local_volume": q_tpch_q5_local_volume,
    "tpch_q9_profit": q_tpch_q9_profit,
    "tpch_q11_important_stock": q_tpch_q11_important_stock,
    "tpch_q16_supplier_cnt": q_tpch_q16_supplier_cnt,
    "tpch_q21_waiting": q_tpch_q21_waiting,
    "tpch_q22_global_sales": q_tpch_q22_global_sales,
}

ORACLES = {
    "tpch_q5_local_volume": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name ASC
    """,
    "tpch_q9_profit": """
        SELECT n_name AS nation,
               CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity / 10
                        AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY 1, 2
        ORDER BY nation ASC, o_year DESC
    """,
    "tpch_q11_important_stock": """
        WITH pp AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_1'
            GROUP BY l_partkey
        )
        SELECT l_partkey, CAST(value AS DOUBLE) AS value
        FROM pp
        WHERE value * (SELECT COUNT(*) FROM pp) > (SELECT SUM(value) FROM pp) * 2
        ORDER BY value DESC, l_partkey ASC
    """,
    "tpch_q16_supplier_cnt": """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    """,
    "tpch_q21_waiting": """
        WITH base AS (
            SELECT l_orderkey, l_suppkey,
                   l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM base l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1' AND l1.late
          AND EXISTS (
              SELECT 1 FROM base l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM base l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
        LIMIT 100
    """,
    "tpch_q22_global_sales": """
        WITH pool AS (
            SELECT * FROM customer
            WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        ),
        avg_bal AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) AS a
            FROM pool WHERE c_acctbal > 0
        )
        SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
               COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM pool, avg_bal
        WHERE c_acctbal > a
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY 1
        ORDER BY 1
    """,
}


def q_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE on the snapshot-table layer: a base version from
    one orders slice, then one merge that updates every even key (priority
    -> 'MERGED', cents+1), deletes keys divisible by 12, and inserts the
    even keys the base never had. The oracle recomputes the exact post-
    merge state from orders algebraically — update, delete, AND insert
    semantics (plus the cents fixed-point math) are all value-checked.
    Only data files containing a matched key are rewritten (see
    SnapshotTable.merge); money rides integer cents so every engine sums
    exactly."""
    from ..sources.snapshots import SnapshotTable

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )

    def build(d: str) -> None:
        t = SnapshotTable(d)
        t.append(base.where(F.col("k") % 3 == 0).repartition(8))
        source = base.where(F.col("k") % 2 == 0).select(
            "k",
            F.lit("MERGED").alias("pri"),
            (F.col("cents") + 1).alias("cents"),
            (F.col("k") % 12 == 0).alias("is_del"),
        )
        t.merge(spark, source, keys=["k"], delete_col="is_del")

    t = SnapshotTable(derived("mergetbl", [table_path(sf_dir, "orders")], build))
    return (
        t.read(spark)
        .groupBy("pri")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("pri")
    )


QUERIES["table_merge"] = q_table_merge

ORACLES["table_merge"] = """
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ),
    final AS (
        SELECT k, pri, cents FROM base WHERE k % 3 = 0 AND k % 2 <> 0
        UNION ALL
        SELECT k, 'MERGED' AS pri, cents + 1 AS cents
        FROM base WHERE k % 2 = 0 AND k % 12 <> 0
    )
    SELECT pri, COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY pri ORDER BY pri
"""


def q_incremental_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch materialized view: per-group DataSketches HLL
    sketches of one lineitem slice are persisted as BINARY columns, then
    UNIONED (hll_union_agg) with a fresh slice's sketches instead of
    rescanning history — the incremental-distinct-count pattern that keeps
    100 TB backfills out of nightly jobs (the sketch twin of
    incremental_agg's count/sum partials).

    HLL estimates are engine-specific, so the gate emits the EXACT
    distinct count (computed exactly over the union) plus a within-5%%
    boolean on the merged-sketch estimate (standard error at default
    lgK=12 is ~1.6%%, so the boolean is stably true) — the
    agg_approx_sketches pattern applied to a persisted, mergeable sketch.
    """
    li = _t(spark, sf_dir, "lineitem")

    def sketch(flag: str) -> DataFrame:
        return (
            li.where(F.col("l_returnflag") == flag)
            .groupBy("l_linestatus")
            .agg(F.hll_sketch_agg("l_partkey").alias("hll"))
        )

    def build(d: str) -> None:  # history
        sketch("A").write.parquet(os.path.join(d, "hll"))

    base = derived("incr_hll", [table_path(sf_dir, "lineitem")], build)
    merged = (
        spark.read.parquet(os.path.join(base, "hll"))
        .unionByName(sketch("R"))  # the new increment
        .groupBy("l_linestatus")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("_est")
        )
    )
    exact = (
        li.where(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_linestatus")
        .agg(F.countDistinct("l_partkey").alias("exact_distinct"))
    )
    return (
        exact.join(merged, "l_linestatus")
        .select(
            "l_linestatus",
            "exact_distinct",
            (
                F.abs(F.col("_est") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("hll_within_5pct"),
        )
        .orderBy("l_linestatus")
    )


QUERIES["incremental_hll"] = q_incremental_hll

ORACLES["incremental_hll"] = """
    SELECT l_linestatus,
           COUNT(DISTINCT l_partkey) AS exact_distinct,
           TRUE AS hll_within_5pct
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_linestatus
    ORDER BY l_linestatus
"""


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-returnflag measure table goes long —
    one (flag, measure, value) row per cell, the inverse of
    pivot_event_types. Spark's unpivot is a zero-shuffle projection
    (each input row expands locally), so the only exchange is the
    upstream aggregation's."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="value",
    ).orderBy("l_returnflag", "measure")


QUERIES["unpivot_measures"] = q_unpivot_measures

ORACLES["unpivot_measures"] = """
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    ORDER BY l_returnflag, measure
"""


def q_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (operators/constraints): the nightly expectation
    report over orders — null / range / accepted-values / regex rules in
    ONE conditional-aggregate scan, plus a key-uniqueness pass and an
    FK-integrity anti join against customer. The oracle recomputes every
    violation count independently in SQL, so both zero and non-zero
    counts are value-checked (the range and custkey-uniqueness rules are
    chosen to have real violations)."""
    from ..operators import constraints as C

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    rules = [
        C.not_null("o_orderpriority"),
        C.in_range("o_totalprice", 0, 100000),
        C.accepted_values("o_orderstatus", ["O", "F"]),
        C.matches("o_orderpriority", r"^[1-5]-"),
        C.unique("o_orderkey"),
        C.unique("o_custkey"),
        C.references("o_custkey", customer, "c_custkey"),
    ]
    return C.check_constraints(orders, rules)


QUERIES["constraint_report"] = q_constraint_report

ORACLES["constraint_report"] = """
    SELECT 'accepted_values(o_orderstatus)' AS rule,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('O', 'F')) AS violations
    UNION ALL
    SELECT 'in_range(o_totalprice,0,100000)',
           (SELECT COUNT(*) FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_totalprice NOT BETWEEN 0 AND 100000)
    UNION ALL
    SELECT 'matches(o_orderpriority)',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
    UNION ALL
    SELECT 'not_null(o_orderpriority)',
           (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NULL)
    UNION ALL
    SELECT 'references(o_custkey)',
           (SELECT COUNT(*) FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer))
    UNION ALL
    SELECT 'unique(o_custkey)',
           (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM (
                SELECT COUNT(*) AS n FROM orders GROUP BY o_custkey
            ) t WHERE n > 1)
    UNION ALL
    SELECT 'unique(o_orderkey)',
           (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM (
                SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
            ) t WHERE n > 1)
    ORDER BY rule
"""


def q_events_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data skipping: events re-written Z-ORDERED on
    (user_id, ts) via the normalized Morton key (written once per sf), so
    row-group min/max stats stay tight on BOTH dimensions — a user-range
    AND time-range scan prunes on each, where the single-sorted layout of
    events_time_pruned only serves its leading column. The aggregate is
    oracle-checked against the ORIGINAL unsorted events, proving the
    relayout is content-preserving."""
    from ..sources.writer import write_zordered

    events = _t(spark, sf_dir, "events")

    def build(d: str) -> None:
        write_zordered(
            events,
            os.path.join(d, "events"),
            ["user_id", "ts"],
            bits=12,
            num_files=8,
            normalize=True,
        )

    path = derived("events_zorder", [table_path(sf_dir, "events")], build)
    z = spark.read.parquet(os.path.join(path, "events"))
    lo, hi = "2024-01-02 00:00:00", "2024-01-04 00:00:00"
    return (
        z.where(
            (F.col("user_id") % 4 == 1)
            & (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("user_id")
    )


QUERIES["events_zorder_pruned"] = q_events_zorder_pruned

ORACLES["events_zorder_pruned"] = """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id % 4 = 1
      AND ts >= TIMESTAMP '2024-01-02 00:00:00'
      AND ts < TIMESTAMP '2024-01-04 00:00:00'
    GROUP BY user_id ORDER BY user_id
"""


def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap self-join (operators/joins.interval_overlap_join):
    each event becomes an activity interval [ts, ts + (1 + event_id mod
    30) min]; overlapping same-user intervals pair up through the chunked
    equi-join (1-hour buckets, first-bucket dedup filter — never a
    non-equi shuffle or a distinct pass). The oracle is DuckDB's direct
    non-equi join, so the chunking + dedup rewrite is proven
    result-identical to the naive O(n²) form."""
    from ..operators.joins import interval_overlap_join

    events = _t(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("s"),
        (
            F.col("ts").cast("long") + (1 + F.col("event_id") % 30) * 60
        ).alias("e"),
    )
    a = iv.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
    )
    b = iv.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
    )
    pairs = interval_overlap_join(
        a, b, ["user_id"], "sa", "ea", "sb", "eb", chunk_seconds=3600
    ).where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .orderBy("user_id")
    )


QUERIES["join_interval_overlap"] = q_join_interval_overlap

ORACLES["join_interval_overlap"] = """
    WITH iv AS (
        SELECT user_id, event_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
               CAST(FLOOR(epoch(ts)) AS BIGINT) + (1 + event_id % 30) * 60 AS e
        FROM events
    )
    SELECT a.user_id, COUNT(*) AS n_overlaps
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.user_id
    ORDER BY a.user_id
"""


def q_source_col_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `.col` container as a FIRST-CLASS Spark source (Spark 4 Python
    DataSource API, sources/col_datasource.py): supplier goes out through
    the reference-compatible .col writer, comes back via
    ``spark.read.format("col")`` — one input partition PER ROW GROUP, so
    the read is executor-parallel instead of the driver-side interchange
    path — and is aggregated. The oracle aggregates the ORIGINAL parquet
    table: any byte mangled by the encoders, the footer parser, or the
    partition-parallel decode diverges the hash."""
    from ..sources import colfile
    from ..sources.col_datasource import register_col_datasource

    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
        # .col carries INT32/INT64/STRING (the reference's type system):
        # money rides as exact integer cents
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("s_acctbal_cents"),
    )

    def build(d: str) -> None:
        colfile.write_col(supp, os.path.join(d, "supplier.col"), rows_per_group=100)

    d = derived("col_native", [table_path(sf_dir, "supplier")], build)
    path = os.path.join(d, "supplier.col")
    register_col_datasource(spark)
    back = spark.read.format("col").load(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("s_suppkey").alias("key_sum"),
        F.sum("s_acctbal_cents").alias("acctbal_cents_sum"),
        F.sum(F.length("s_name")).alias("name_chars"),
    )


QUERIES["source_col_native"] = q_source_col_native

ORACLES["source_col_native"] = """
    SELECT COUNT(*) AS n_suppliers,
           CAST(SUM(s_suppkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS acctbal_cents_sum,
           CAST(SUM(length(s_name)) AS BIGINT) AS name_chars
    FROM supplier
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling (the dataset card every curation run
    emits): per column — non-null count, null count, distinct count,
    min/max as strings — computed in a SINGLE aggregation over lineitem
    and unpivoted to long format. Exact distincts (not approx) so the
    oracle hash-checks; at 100 TB swap count_distinct for
    approx_count_distinct and keep the same shape."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"n_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"nulls_{c}"),
            F.countDistinct(F.col(c)).alias(f"dist_{c}"),
            # min/max on the NATIVE value, cast after — a string-side
            # min/max would order lexicographically ("9" > "14999")
            F.min(F.col(c)).cast("string").alias(f"min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"max_{c}"),
        ]
    wide = li.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args += [
            F.lit(c),
            F.col(f"n_{c}"),
            F.col(f"nulls_{c}"),
            F.col(f"dist_{c}"),
            F.col(f"min_{c}"),
            F.col(f"max_{c}"),
        ]
    return wide.select(
        F.stack(
            F.lit(len(cols)),
            *stack_args,
        ).alias("col_name", "n_nonnull", "n_nulls", "n_distinct", "min_s", "max_s")
    ).orderBy("col_name")


QUERIES["table_profile"] = q_table_profile

ORACLES["table_profile"] = """
    SELECT 'l_orderkey' AS col_name, COUNT(l_orderkey) AS n_nonnull,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT l_orderkey) AS n_distinct,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_s,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_s
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', COUNT(l_quantity),
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_quantity),
           CAST(MIN(l_quantity) AS VARCHAR), CAST(MAX(l_quantity) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(l_returnflag),
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_returnflag),
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', COUNT(l_shipdate),
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_shipdate),
           strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S'),
           strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S')
    FROM lineitem
    ORDER BY col_name
"""


def q_sort_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-stable pagination: page 3 of the supplier ledger (ORDER BY
    acctbal DESC, key — unique tie-breaker) via offset+limit. Spark plans
    a single global sort with the offset folded into the limit; at scale
    prefer keyset pagination (WHERE (bal, key) < last_seen) — this query
    pins the offset form's exact semantics."""
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.select(
            "s_suppkey",
            "s_name",
            F.col("s_acctbal").cast("decimal(18,2)").cast("double").alias("bal"),
        )
        .orderBy(F.col("bal").desc(), F.col("s_suppkey").asc())
        .offset(20)
        .limit(10)
    )


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE with explicit full-partition
    frames per brand (ordered by retail price, keyed tie-break) — the
    navigation-function corner of §2.6. Full ROWS frame so last/nth are
    well-defined, identical in both engines."""
    part = _t(spark, sf_dir, "part")
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_retailprice").asc(), F.col("p_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return part.select(
        "p_brand",
        "p_partkey",
        F.first("p_partkey").over(w).alias("cheapest_key"),
        F.last("p_partkey").over(w).alias("priciest_key"),
        F.nth_value("p_partkey", 2).over(w).alias("second_cheapest_key"),
    ).orderBy("p_brand", "p_partkey")


def q_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-level set algebra (§2.9 nested data): per returnflag, the
    sorted distinct quantity arrays of two linestatus slices are
    intersected / unioned / differenced — array_intersect/union/except
    over collect_set results, all JVM-side, with sorted array output so
    the hash is order-stable."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("int")
    sets = li.groupBy("l_returnflag").agg(
        F.sort_array(
            F.collect_set(F.when(F.col("l_linestatus") == "O", q))
        ).alias("qty_open"),
        F.sort_array(
            F.collect_set(F.when(F.col("l_linestatus") == "F", q))
        ).alias("qty_filled"),
    )
    def joined(col: F.Column) -> F.Column:
        # pipe-joined string output: the comparator sees identical scalar
        # strings instead of engine-specific array renderings
        return F.array_join(F.sort_array(col).cast("array<string>"), "|")

    return sets.select(
        "l_returnflag",
        joined(F.array_intersect("qty_open", "qty_filled")).alias("both"),
        joined(F.array_union("qty_open", "qty_filled")).alias("either"),
        joined(F.array_except("qty_open", "qty_filled")).alias("open_only"),
    ).orderBy("l_returnflag")


QUERIES["sort_paginate"] = q_sort_paginate
QUERIES["window_first_last"] = q_window_first_last
QUERIES["array_set_ops"] = q_array_set_ops

ORACLES["sort_paginate"] = """
    SELECT s_suppkey, s_name,
           CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
    FROM supplier
    ORDER BY bal DESC, s_suppkey ASC
    LIMIT 10 OFFSET 20
"""

ORACLES["window_first_last"] = """
    SELECT p_brand, p_partkey,
           FIRST_VALUE(p_partkey) OVER w AS cheapest_key,
           LAST_VALUE(p_partkey) OVER w AS priciest_key,
           NTH_VALUE(p_partkey, 2) OVER w AS second_cheapest_key
    FROM part
    WINDOW w AS (
        PARTITION BY p_brand
        ORDER BY p_retailprice ASC, p_partkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY p_brand, p_partkey
"""

ORACLES["array_set_ops"] = """
    WITH sets AS (
        SELECT l_returnflag,
               list_sort(list_distinct(list_filter(
                   list(CASE WHEN l_linestatus = 'O'
                        THEN CAST(l_quantity AS INT) END),
                   x -> x IS NOT NULL))) AS qty_open,
               list_sort(list_distinct(list_filter(
                   list(CASE WHEN l_linestatus = 'F'
                        THEN CAST(l_quantity AS INT) END),
                   x -> x IS NOT NULL))) AS qty_filled
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           array_to_string(list_sort(list_intersect(qty_open, qty_filled)), '|') AS both,
           array_to_string(list_sort(list_distinct(qty_open || qty_filled)), '|') AS either,
           array_to_string(list_sort(list_filter(qty_open,
               x -> NOT list_contains(qty_filled, x))), '|') AS open_only
    FROM sets ORDER BY l_returnflag
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over a data-derived network: suppliers are linked
    when they supply the same part (the co-supply similarity graph);
    count its nodes, edges, and triangles via the node-iterator join
    chain — edges(a,b) ⨝ edges(b,c) ⨝ edges(a,c) over canonically
    ordered edges (a<b<c), so every triangle is found exactly once.
    Two shuffle joins on edge endpoints; at 100 TB the standard
    refinement is degree-ordering the edges first so high-degree hubs
    sit on the probe side."""
    from ..operators.graph import co_supply_edges

    li = _t(spark, sf_dir, "lineitem")
    # the shared sparse co-supply network (sampling + threshold keep it
    # sparse at every SF) — operators/graph.co_supply_edges, the single
    # source of truth for this derivation
    edges = co_supply_edges(li)
    e1 = edges.select(F.col("sa").alias("x"), F.col("sb").alias("y"))
    e2 = edges.select(F.col("sa").alias("y"), F.col("sb").alias("z"))
    e3 = edges.select(F.col("sa").alias("x"), F.col("sb").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])
    nodes = edges.select(F.col("sa").alias("s")).union(
        edges.select(F.col("sb").alias("s"))
    )
    counts = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    ecnt = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    ncnt = nodes.distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    return ncnt.join(F.broadcast(ecnt)).join(F.broadcast(counts))


QUERIES["graph_triangles"] = q_graph_triangles

ORACLES["graph_triangles"] = """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                WHERE l_partkey % 50 = 0),
    edges AS (
        SELECT a.l_suppkey AS sa, b.l_suppkey AS sb
        FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT
        (SELECT COUNT(*) FROM (
            SELECT sa AS s FROM edges UNION SELECT sb FROM edges) t
        ) AS n_nodes,
        (SELECT COUNT(*) FROM edges) AS n_edges,
        (SELECT COUNT(*)
         FROM edges e1
         JOIN edges e2 ON e1.sb = e2.sa
         JOIN edges e3 ON e3.sa = e1.sa AND e3.sb = e2.sb
        ) AS n_triangles
"""


def q_rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the derived time hierarchy (year → month → day): one
    pass emits daily, monthly, yearly, and grand-total rows — the
    calendar materialization every metrics pipeline ships. Hierarchy
    levels are projected as strings (with '@total'/'@all' sentinels distinguishing
    the rolled-up level from a real value) so the hash is stable."""
    events = _t(spark, sf_dir, "events")
    lv = events.select(
        F.date_format("ts", "yyyy").alias("y"),
        F.date_format("ts", "yyyy-MM").alias("ym"),
        F.date_format("ts", "yyyy-MM-dd").alias("ymd"),
        F.col("value"),
    )
    return (
        lv.rollup("y", "ym", "ymd")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.coalesce("y", F.lit("@total")).alias("y"),
            F.coalesce("ym", F.lit("@all")).alias("ym"),
            F.coalesce("ymd", F.lit("@all")).alias("ymd"),
            "n_events",
            "sum_value",
        )
        .orderBy("y", "ym", "ymd")
    )


QUERIES["rollup_time_hierarchy"] = q_rollup_time_hierarchy

ORACLES["rollup_time_hierarchy"] = """
    SELECT COALESCE(strftime(ts, '%Y'), '@total') AS y,
           COALESCE(strftime(ts, '%Y-%m'), '@all') AS ym,
           COALESCE(strftime(ts, '%Y-%m-%d'), '@all') AS ymd,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY ROLLUP (strftime(ts, '%Y'), strftime(ts, '%Y-%m'),
                     strftime(ts, '%Y-%m-%d'))
    ORDER BY y, ym, ymd
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel over the events stream: users who viewed, then
    clicked AFTER their first view, then purchased AFTER that first
    click — strict event-order semantics, not mere co-occurrence — plus
    the total view-to-click latency in exact integer milliseconds.

    Scale shape: three aggregations all keyed on user_id, chained by
    joins on the SAME key — one co-partitioned shuffle family, no
    re-keying anywhere. Latency sums stay in exact integer ms (unix_millis
    on both engines truncates identically), never double accumulation.
    """
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .join(views, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.first("t_view").alias("t_view2"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(clicks.select("user_id", "t_click"), "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n_view = views.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_view_users")
    )
    click_stats = clicks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_click_after_view"),
        F.sum(F.unix_millis("t_click") - F.unix_millis("t_view2"))
        .cast("bigint")
        .alias("sum_view_to_click_ms"),
    )
    n_purch = purchases.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchase_after_click")
    )
    return n_view.crossJoin(click_stats).crossJoin(n_purch)


QUERIES["events_funnel"] = q_events_funnel

ORACLES["events_funnel"] = """
    WITH views AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    clicks AS (
        SELECT e.user_id, MIN(e.ts) AS t_click, MIN(v.t_view) AS t_view
        FROM events e JOIN views v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    purchases AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN clicks c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT
        (SELECT COUNT(*) FROM views) AS n_view_users,
        (SELECT COUNT(*) FROM clicks) AS n_click_after_view,
        (SELECT CAST(COALESCE(SUM(epoch_ms(t_click) - epoch_ms(t_view)), 0)
                AS BIGINT) FROM clicks) AS sum_view_to_click_ms,
        (SELECT COUNT(*) FROM purchases) AS n_purchase_after_click
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the one join verb the gate didn't cover: per
    (user, day) signup counts vs error counts, keeping days where a user
    has only one of the two (both null sides exercised; probed non-
    degenerate at sf0.01 and sf0.1). Same-key aggregations feed a single
    co-partitioned full-outer shuffle join; USING-style key coalescing on
    both engines."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("d")
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("n_signups"))
    )
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return (
        signups.join(errors, ["user_id", "d"], "full_outer")
        .select(
            "user_id",
            "d",
            F.coalesce("n_signups", F.lit(0)).alias("n_signups"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        )
        .orderBy("user_id", "d")
    )


QUERIES["join_full_outer"] = q_join_full_outer

ORACLES["join_full_outer"] = """
    WITH s AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS d, COUNT(*) AS n_signups
        FROM events WHERE event_type = 'signup' GROUP BY 1, 2
    ),
    e AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS d, COUNT(*) AS n_errors
        FROM events WHERE event_type = 'error' GROUP BY 1, 2
    )
    SELECT user_id, d,
           COALESCE(n_signups, 0) AS n_signups,
           COALESCE(n_errors, 0) AS n_errors
    FROM s FULL OUTER JOIN e USING (user_id, d)
    ORDER BY user_id, d
"""


def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, counted
    as retained on each later day they appear — the (cohort, day-offset,
    n_active) triangle behind every retention curve. Output cardinality is
    cohorts × days however large the fact table is; the distinct-user
    reduction happens before anything joins."""
    ev = _t(spark, sf_dir, "events")
    ev_day = ev.select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).distinct()
    cohort = ev_day.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        ev_day.join(cohort, "user_id")
        .groupBy(
            "cohort_d",
            F.datediff(F.to_date("d"), F.to_date("cohort_d"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_d", "day_offset")
    )


QUERIES["events_retention_cohorts"] = q_events_retention_cohorts

ORACLES["events_retention_cohorts"] = """
    WITH ev_day AS (
        SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS d FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(d) AS cohort_d FROM ev_day GROUP BY user_id
    )
    SELECT cohort_d,
           CAST(CAST(d AS DATE) - CAST(cohort_d AS DATE) AS BIGINT)
               AS day_offset,
           COUNT(DISTINCT ev_day.user_id) AS n_active
    FROM ev_day JOIN cohort ON ev_day.user_id = cohort.user_id
    GROUP BY 1, 2
    ORDER BY cohort_d, day_offset
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier co-supply graph (same sparse network as
    ``graph_triangles``), symmetrized so every node has out-degree >= 1 —
    the contract of :func:`operators.graph.pagerank`. Three fixed
    iterations unroll into one Catalyst plan: per iteration one shuffle
    join (edges ⨝ ranks on src) + one keyed aggregation; out-degrees are
    computed once. Contribution sums route through DECIMAL(28,15) so
    shuffle order cannot change the double result (repo oracle rule)."""
    from ..operators import graph

    from ..operators.graph import co_supply_edges

    li = _t(spark, sf_dir, "lineitem")
    und = co_supply_edges(li)
    edges = und.select(F.col("sa").alias("src"), F.col("sb").alias("dst")).union(
        und.select(F.col("sb").alias("src"), F.col("sa").alias("dst"))
    )
    ranks = graph.pagerank(edges, iterations=3, damping=0.85)
    return ranks.select(
        "node", F.round("rank", 6).alias("rank_r")
    ).orderBy("node")


QUERIES["pagerank"] = q_pagerank

# Three unrolled iterations mirroring the Spark plan exactly: same double
# literals (IEEE 1.0 - 0.85 on both engines), same DECIMAL(28,15) routing of
# the per-edge contributions, same left-join + coalesce for rankless nodes.
ORACLES["pagerank"] = """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                WHERE l_partkey % 50 = 0),
    und AS (
        SELECT a.l_suppkey AS sa, b.l_suppkey AS sb
        FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ),
    e AS (SELECT sa AS src, sb AS dst FROM und
          UNION ALL SELECT sb, sa FROM und),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    ed AS (SELECT e.src, e.dst, outdeg.outdeg
           FROM e JOIN outdeg ON e.src = outdeg.src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
           FROM nodes CROSS JOIN nn),
    m1 AS (SELECT ed.dst AS node,
                  CAST(SUM(CAST(r.rank / ed.outdeg AS DECIMAL(28,15)))
                       AS DOUBLE) AS in_mass
           FROM ed JOIN r0 r ON ed.src = r.node GROUP BY ed.dst),
    r1 AS (SELECT nodes.node,
                  (CAST(1.0 AS DOUBLE) - 0.85) / nn.n
                  + CAST(0.85 AS DOUBLE)
                    * COALESCE(m1.in_mass, CAST(0.0 AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN nn
           LEFT JOIN m1 ON nodes.node = m1.node),
    m2 AS (SELECT ed.dst AS node,
                  CAST(SUM(CAST(r.rank / ed.outdeg AS DECIMAL(28,15)))
                       AS DOUBLE) AS in_mass
           FROM ed JOIN r1 r ON ed.src = r.node GROUP BY ed.dst),
    r2 AS (SELECT nodes.node,
                  (CAST(1.0 AS DOUBLE) - 0.85) / nn.n
                  + CAST(0.85 AS DOUBLE)
                    * COALESCE(m2.in_mass, CAST(0.0 AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN nn
           LEFT JOIN m2 ON nodes.node = m2.node),
    m3 AS (SELECT ed.dst AS node,
                  CAST(SUM(CAST(r.rank / ed.outdeg AS DECIMAL(28,15)))
                       AS DOUBLE) AS in_mass
           FROM ed JOIN r2 r ON ed.src = r.node GROUP BY ed.dst),
    r3 AS (SELECT nodes.node,
                  (CAST(1.0 AS DOUBLE) - 0.85) / nn.n
                  + CAST(0.85 AS DOUBLE)
                    * COALESCE(m3.in_mass, CAST(0.0 AS DOUBLE)) AS rank
           FROM nodes CROSS JOIN nn
           LEFT JOIN m3 ON nodes.node = m3.node)
    SELECT node, round(rank, 6) AS rank_r FROM r3 ORDER BY node
"""


def q_incremental_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch as a materialized view — the quantile twin
    of ``incremental_hll``: a fixed-grid histogram (bucket = floor(price /
    1000), (bucket, cnt) rows) of one lineitem slice is persisted, then
    MERGED with a fresh slice's histogram by summing counts instead of
    rescanning history. P50/P90/P99 read off the merged CDF as the first
    bucket whose running count reaches q·total; the reported value is the
    bucket's upper edge (error ≤ one grid step, by construction).

    Unlike HLL, the sketch is fully deterministic, so the gate checks the
    QUANTILE VALUES exactly, not a tolerance boolean. Scale shape: upkeep
    is O(increment) + a merge over the bounded bucket set; the CDF window
    runs over ~max_price/width buckets (hundreds), never over rows — a
    single tiny task regardless of corpus size. Trade-off vs t-digest:
    fixed resolution, no adaptivity to density; pick the grid from the
    domain (money here) where that is acceptable.
    """
    li = _t(spark, sf_dir, "lineitem")

    def hist(flag: str) -> DataFrame:
        return (
            li.where(F.col("l_returnflag") == flag)
            .groupBy(
                F.floor(F.col("l_extendedprice") / F.lit(1000.0))
                .cast("bigint")
                .alias("bucket")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def build(d: str) -> None:  # history
        hist("A").write.parquet(os.path.join(d, "hist"))

    base = derived("incr_qtl", [table_path(sf_dir, "lineitem")], build)
    merged = (
        spark.read.parquet(os.path.join(base, "hist"))
        .unionByName(hist("R"))  # the new increment
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    total = merged.agg(F.sum("cnt").cast("bigint").alias("total"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = merged.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(total)
    )
    qs = spark.createDataFrame(
        [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)], ["label", "f"]
    )
    return (
        cdf.join(F.broadcast(qs), F.col("cum") >= F.col("f") * F.col("total"))
        .groupBy("label")
        .agg(
            F.min("bucket").alias("bucket"),
            F.max("total").alias("total_rows"),
        )
        .select(
            "label",
            "bucket",
            ((F.col("bucket") + 1) * 1000).cast("double").alias("upper_edge"),
            "total_rows",
        )
        .orderBy("label")
    )


QUERIES["incremental_quantiles"] = q_incremental_quantiles

# The oracle recomputes the same histogram over the union of both slices
# (merging partial histograms == histogramming the union, the mergeability
# property itself). Explicit BIGINT/DOUBLE casts: DuckDB SUM(BIGINT)
# promotes to HUGEINT and VALUES decimals would change the comparison.
ORACLES["incremental_quantiles"] = """
    WITH h AS (
        SELECT CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bucket,
               COUNT(*) AS cnt
        FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM h),
    c AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM h),
    qs AS (SELECT * FROM (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99))
           AS q(label, f))
    SELECT label, MIN(bucket) AS bucket,
           CAST((MIN(bucket) + 1) * 1000 AS DOUBLE) AS upper_edge,
           MAX(total) AS total_rows
    FROM c, t, qs
    WHERE cum >= CAST(f AS DOUBLE) * total
    GROUP BY label ORDER BY label
"""


def q_events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile of events.user_id — the pre-join diagnostic that
    decides broadcast vs shuffle vs salting for the user-keyed join
    family. Top-10 heaviest users with share-of-rows and times-hotter-
    than-mean; after the single groupBy every stat runs over the reduced
    per-key counts (see operators/joins.py::key_skew_report)."""
    from ..operators import joins

    ev = _t(spark, sf_dir, "events")
    return joins.key_skew_report(ev, "user_id", top_n=10).orderBy(
        F.col("cnt").desc(), F.col("key").asc()
    )


QUERIES["events_key_skew"] = q_events_key_skew

ORACLES["events_key_skew"] = """
    WITH c AS (
        SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                 COUNT(*) AS n_keys FROM c),
    top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 10)
    SELECT CAST(key AS VARCHAR) AS key, cnt,
           round(cnt / total, 6) AS frac_r,
           round(cnt / total * n_keys, 3) AS x_mean_r
    FROM top, t ORDER BY cnt DESC, key
"""


def q_scd2_segment_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 on the customer dimension: a deterministic update batch
    (every 7th customer gets a derived segment; every 14th "changes" to
    its EXISTING segment, exercising the identical-update no-op path) is
    applied to an all-open baseline. Changed keys produce a closed row +
    a new open row; unchanged and identically-updated keys pass through.
    The read-side twin is join_asof against the validity intervals."""
    from ..operators import scd

    c = _t(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    updates = c.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 14 == 0, F.col("c_mktsegment"))
        .otherwise(F.concat(F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string")))
        .alias("segment"),
        F.lit("2024-06-01").alias("eff"),
    )
    out = scd.scd2_apply(
        current, updates, ["c_custkey"], ["segment"], "eff"
    )
    return out.orderBy("c_custkey", "valid_from")


QUERIES["scd2_segment_history"] = q_scd2_segment_history

ORACLES["scd2_segment_history"] = """
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
    )
    SELECT c_custkey, segment, valid_from, eff AS valid_to
    FROM j WHERE eff IS NOT NULL AND u_seg IS DISTINCT FROM segment
    UNION ALL
    SELECT c_custkey, segment, valid_from, valid_to
    FROM j WHERE eff IS NULL OR u_seg IS NOT DISTINCT FROM segment
    UNION ALL
    SELECT c_custkey, u_seg, eff, NULL
    FROM j WHERE eff IS NOT NULL AND u_seg IS DISTINCT FROM segment
    ORDER BY c_custkey, valid_from
"""


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase distributes its value
    equally across the user's views in the 7 days leading up to it (the
    marketing-analytics twin of the funnel/asof family — asof is
    last-touch, this is every-touch). Per purchase: touch count, the
    first/last touching view, and the per-touch credit.

    Scale shape: one equi-join on user_id with a residual time-range
    predicate (same co-partitioned family as the other user-keyed
    queries) followed by one groupBy on purchase — no window functions,
    no per-user collect. Purchases with no touches keep a zero row
    (LEFT join), so attribution coverage is auditable."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    touched = purchases.join(
        views,
        (purchases.user_id == views.v_user)
        & (views.v_ts <= purchases.p_ts)
        & (views.v_ts >= purchases.p_ts - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    return (
        touched.groupBy("purchase_id", "user_id", "value")
        .agg(
            F.count("view_id").alias("n_touches"),
            F.min("view_id").alias("first_view_id"),
            F.max("view_id").alias("last_view_id"),
        )
        .select(
            "purchase_id",
            "user_id",
            "n_touches",
            "first_view_id",
            "last_view_id",
            F.when(
                F.col("n_touches") > 0,
                F.round(F.col("value") / F.col("n_touches"), 6),
            ).alias("credit_per_touch_r"),
        )
        .orderBy("purchase_id")
    )


QUERIES["events_attribution"] = q_events_attribution

ORACLES["events_attribution"] = """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT event_id AS view_id, user_id AS v_user, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ),
    t AS (
        SELECT p.purchase_id, p.user_id, p.value, v.view_id
        FROM p LEFT JOIN v
          ON p.user_id = v.v_user
         AND v.v_ts <= p.p_ts
         AND v.v_ts >= p.p_ts - INTERVAL 7 DAY
    )
    SELECT purchase_id, user_id,
           COUNT(view_id) AS n_touches,
           MIN(view_id) AS first_view_id,
           MAX(view_id) AS last_view_id,
           CASE WHEN COUNT(view_id) > 0
                THEN round(value / COUNT(view_id), 6) END
               AS credit_per_touch_r
    FROM t GROUP BY purchase_id, user_id, value
    ORDER BY purchase_id
"""


def q_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score outlier report over orders: per market segment,
    how many orders sit more than 2 population-sigma from the segment
    mean price, plus the extreme z. Two-pass shape — per-segment moment
    aggregates (decimal-routed, order-independent), broadcast back onto
    the fact scan, flag and re-aggregate — so the fact table shuffles
    only its partial aggregates, never raw rows. IEEE sqrt is exactly
    rounded, so z-scores are bit-identical on any engine."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    seg = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    ).select(F.col("c_mktsegment").alias("segment"), F.col("o_totalprice"))
    stats = seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(28,8)"))
        .cast("double")
        .alias("__sum"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(28,8)"))
            * (F.col("o_totalprice").cast("decimal(28,8)"))
        )
        .cast("double")
        .alias("__sumsq"),
    )
    stats = stats.select(
        "segment",
        "n_orders",
        (F.col("__sum") / F.col("n_orders")).alias("__mean"),
        F.sqrt(
            F.col("__sumsq") / F.col("n_orders")
            - (F.col("__sum") / F.col("n_orders"))
            * (F.col("__sum") / F.col("n_orders"))
        ).alias("__sd"),
    )
    flagged = seg.join(F.broadcast(stats), "segment").select(
        "segment",
        "n_orders",
        ((F.col("o_totalprice") - F.col("__mean")) / F.col("__sd")).alias("__z"),
    )
    return (
        flagged.groupBy("segment", "n_orders")
        .agg(
            F.sum(F.when(F.abs(F.col("__z")) > 2.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.max(F.abs(F.col("__z"))), 6).alias("max_abs_z_r"),
        )
        .orderBy("segment")
    )


QUERIES["outlier_orders"] = q_outlier_orders

# Population moments routed through DECIMAL(28,8) exactly as Spark; the
# z threshold and sqrt are IEEE double on both engines.
ORACLES["outlier_orders"] = """
    WITH seg AS (
        SELECT c.c_mktsegment AS segment, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    st AS (
        SELECT segment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
                   AS s,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))
                        * CAST(o_totalprice AS DECIMAL(28,8))) AS DOUBLE)
                   AS sq
        FROM seg GROUP BY segment
    ),
    m AS (
        SELECT segment, n_orders, s / n_orders AS mean,
               sqrt(sq / n_orders - (s / n_orders) * (s / n_orders)) AS sd
        FROM st
    )
    SELECT seg.segment, m.n_orders,
           CAST(SUM(CASE WHEN abs((o_totalprice - mean) / sd) > 2.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(MAX(abs((o_totalprice - mean) / sd)), 6) AS max_abs_z_r
    FROM seg JOIN m ON seg.segment = m.segment
    GROUP BY seg.segment, m.n_orders
    ORDER BY seg.segment
"""


def q_events_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream gap detection: per user, count the silences longer
    than 24 hours between consecutive events and the longest one — the
    liveness/telemetry-loss report every event pipeline runs. One
    per-user window (lag) in exact integer micros; hours emerge as a
    double division of exact ints at the end. Only users WITH gaps are
    reported (auditable against the user count)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag(F.col("ts")).over(w).cast("timestamp"))
        ).alias("__gap_us"),
    ).where(F.col("__gap_us") > 24 * 3600 * 1000 * 1000)
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.max(F.col("__gap_us")) / F.lit(3600.0 * 1000 * 1000), 6
            ).alias("max_gap_hours_r"),
        )
        .orderBy("user_id")
    )


QUERIES["events_gap_report"] = q_events_gap_report

ORACLES["events_gap_report"] = """
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events
    )
    SELECT user_id, COUNT(*) AS n_gaps,
           round(MAX(gap_us) / (3600.0 * 1000 * 1000), 6)
               AS max_gap_hours_r
    FROM g WHERE gap_us > CAST(86400000000 AS BIGINT)
    GROUP BY user_id ORDER BY user_id
"""


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketing — the 100 TB answer to 'this join
    shuffles every night': both sides are persisted bucketed on the join
    key (the write-side shuffle a production pipeline pays ONCE), then
    the join reads bucket-aligned files and shuffles zero bytes
    (plan-asserted in tests/test_scale_features.py). The merge hint
    forces the sort-merge path because at gate scale the planner would
    broadcast these tiny tables and bypass the buckets being tested.
    The bucketing spec lives in the session catalog, not in the files, so
    both tables are written on every call, into a private directory whose
    name they carry."""
    from ..operators import joins

    base = run_dir("bucketed")
    tag = os.path.basename(base)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joins.bucketed_write(o, f"bk_orders_{tag}", f"{base}/o", ["o_custkey"], 8)
    joins.bucketed_write(c, f"bk_cust_{tag}", f"{base}/c", ["c_custkey"], 8)
    a = spark.table(f"bk_orders_{tag}").hint("merge")
    b = spark.table(f"bk_cust_{tag}")
    return (
        a.join(b, a.o_custkey == b.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("segment")
    )


QUERIES["join_bucketed"] = q_join_bucketed

# The oracle joins the ORIGINAL tables — bucketing must be a pure
# physical-layout change with zero semantic effect.
ORACLES["join_bucketed"] = """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY segment
"""


def q_regression_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment OLS price trend (closed-form linear regression as ONE
    aggregation): slope/intercept of order price over order date. The
    moments are exact — x (epoch days) is an integer so Σx and Σx² sum
    exactly in BIGINT, y routes through DECIMAL(18,2) and Σxy through
    DECIMAL(28,6) — so the closed-form slope is a deterministic double no
    matter how partial aggregates merge. The distributed-ML primitive:
    a regression over 100 TB is one combiner-friendly groupBy, no
    iteration, no driver math."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    seg = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
        .cast("bigint")
        .alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    m = seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxy"),
    )
    # Denominator in DOUBLE, not BIGINT: with epoch-day x (~1e4, x²~1e8)
    # and n in the 1e5+ range beyond the tested SFs, n*sxx approaches
    # int64 range where Spark (non-ANSI) wraps silently while DuckDB
    # raises — the engines would diverge exactly when it matters. The
    # tested-SF magnitudes (≤~1e15) are exact in double, so results are
    # bit-identical at the gate.
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return m.select(
        "segment",
        "n",
        F.round(slope, 9).alias("slope_r"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept_r"
        ),
    ).orderBy("segment")


QUERIES["regression_price_trend"] = q_regression_price_trend

# Same exact-moment construction: BIGINT Σx/Σx², DECIMAL-routed Σy/Σxy,
# closed form evaluated in double on the single merged row per group.
ORACLES["regression_price_trend"] = """
    WITH seg AS (
        SELECT c.c_mktsegment AS segment,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS x,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    m AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy
        FROM seg GROUP BY segment
    )
    SELECT segment, n,
           round((n * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 9) AS slope_r,
           round((sy - ((n * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx)) * sx)
                 / n, 6) AS intercept_r
    FROM m ORDER BY segment
"""


def q_events_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing 7-day WAU per active day — the growth metric board
    deck. Exact distinct-over-sliding-window is done the scale-correct
    way: reduce to distinct (user, day) FIRST (the only corpus-sized
    shuffle), then each activity day replicates into the 7 window days
    it serves (bounded explode) and a countDistinct per target day
    finishes. No window function over raw events, no 7 self-joins."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    ex = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("td"),
    )
    wau = ex.groupBy("td").agg(F.countDistinct("user_id").alias("wau_7d"))
    return (
        dau.join(wau, dau.d == wau.td)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau_7d",
        )
        .orderBy("day")
    )


QUERIES["events_rolling_active"] = q_events_rolling_active

ORACLES["events_rolling_active"] = """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY d),
    ex AS (
        SELECT user_id,
               CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                   CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
                   INTERVAL 1 DAY)) AS DATE) AS td
        FROM ud
    ),
    wau AS (SELECT td, COUNT(DISTINCT user_id) AS wau_7d FROM ex GROUP BY td)
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau_7d
    FROM dau JOIN wau ON dau.d = wau.td
    ORDER BY day
"""


def q_supplier_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-supply similarity graph (same sparse edge
    derivation as graph_triangles): iterative peeling over a FIXED 8
    rounds (operators/graph.kcore) — nodes below degree 3 drop, their
    removal cascades, and the fixed round count means the DuckDB oracle
    replays the identical computation round-for-round (the 8-vs-9-round
    convergence check lives in pytest). The densely-connected supplier
    community a risk analysis would flag."""
    from ..operators import graph

    li = _t(spark, sf_dir, "lineitem")
    edges = graph.co_supply_edges(li)
    return graph.kcore(edges, k=3, rounds=8, src="sa", dst="sb")


QUERIES["supplier_kcore"] = q_supplier_kcore

# 8 peeling rounds unrolled as chained CTEs — identical to the Spark
# loop by construction; extra rounds past convergence are no-ops.
_KCORE_ROUNDS = "".join(
    f""",
    e{i} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{i - 1} e
        JOIN d{i - 1} da ON da.n = e.a AND da.c >= 3
        JOIN d{i - 1} db ON db.n = e.b AND db.c >= 3
    ),
    d{i} AS MATERIALIZED (
        SELECT n, COUNT(*) AS c FROM (
            SELECT a AS n FROM e{i}
            UNION ALL SELECT b AS n FROM e{i}) u{i}
        GROUP BY n
    )"""
    for i in range(1, 9)
)

ORACLES["supplier_kcore"] = f"""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                WHERE l_partkey % 50 = 0),
    e0 AS MATERIALIZED (
        SELECT a.l_suppkey AS a, b.l_suppkey AS b
        FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ),
    d0 AS MATERIALIZED (
        SELECT n, COUNT(*) AS c FROM (
            SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0) u0
        GROUP BY n
    ){_KCORE_ROUNDS}
    SELECT n AS node, CAST(c AS BIGINT) AS core_degree
    FROM d8 ORDER BY node
"""
