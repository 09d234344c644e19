"""Fourth relational workload: explicit window frames, batch sessionization,
and the extended string/array scalar surface — each with a DuckDB oracle.

These round out surfaces a reference user would reach for next (SURVEY.md
§2.6/§2.9 extensions): ROWS/RANGE frame clauses, the gap-based session
assignment every clickstream pipeline needs in batch form (the streaming
twin is ``stream_session_window``), and the long tail of scalar functions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.catalog import load_table, table_path
from ._scratch import derived


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frame clauses: a 3-row moving sum (ROWS BETWEEN 2 PRECEDING)
    and a value-range frame (RANGE BETWEEN 1000 PRECEDING on the order key)
    per customer — one shuffle on the partition key serves both windows."""
    orders = _t(spark, sf_dir, "orders")
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-2, 0)
    )
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderkey").asc())
        .rangeBetween(-1000, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w_rows)
        .cast("double")
        .alias("moving_sum_3"),
        F.count(F.lit(1)).over(w_range).alias("near_order_cnt"),
    ).orderBy("o_custkey", "o_orderkey")


def q_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch: a new session starts when a user
    is idle > 30 minutes. lag() marks session starts, a running sum over
    the same window assigns session ids — the two windows share one
    shuffle/sort on (user_id, ts). Output is per-session stats.

    The batch twin of ``stream_session_window``; at 100 TB this is the
    standard backfill path while the streaming form handles live data."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_min = (
        (F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")) / 60
    )
    flagged = events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap_min.isNull() | (gap_min > 30), 1).otherwise(0).alias("new_s"),
    )
    with_sid = flagged.withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


def q_scalar_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended scalar surface: string edit distance, padding/translation,
    split + array sort/contains/indexing — all JVM-side expression trees."""
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return part.select(
        "p_partkey",
        F.levenshtein(F.col("p_brand"), F.col("p_type")).cast("bigint").alias(
            "brand_type_dist"
        ),
        F.lpad(F.col("p_brand"), 12, "_").alias("brand_padded"),
        F.translate(F.col("p_type"), "AEIOU", "aeiou").alias("type_translated"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.size(words).cast("bigint").alias("n_words"),
        F.array_join(F.sort_array(words), "|").alias("words_sorted"),
        F.element_at(words, 1).alias("first_word"),
        F.array_contains(words, "green").alias("has_green"),
        F.substring(F.col("p_name"), 1, 5).alias("name_head"),
    ).orderBy("p_partkey")


def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) over two multiset
    projections with heavy duplication — the §2.8 counterpart of the
    distinct-semantics set_ops query. One plan, one action."""
    from ..operators import setops

    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").select("l_quantity")
    b = li.where(F.col("l_returnflag") == "R").select("l_quantity")
    ia = setops.intersect_all(a, b).agg(F.count(F.lit(1)).alias("n_intersect_all"))
    ea = setops.except_all(a, b).agg(F.count(F.lit(1)).alias("n_except_all"))
    return ia.join(F.broadcast(ea))


def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table layer (sources/snapshots.py): three committed
    versions of a lineitem-derived table — append, append, overwrite —
    then every version read back via its manifest in one unioned plan.
    The oracle recomputes each version's content directly from lineitem,
    so manifest isolation AND time travel are value-checked."""
    from ..sources.snapshots import SnapshotTable

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")

    def build(d: str) -> None:
        t = SnapshotTable(d)
        t.append(li.where(F.col("l_returnflag") == "A"))
        t.append(li.where(F.col("l_returnflag") == "R"))
        t.overwrite(li.where(F.col("l_returnflag") == "N"))

    t = SnapshotTable(derived("snaptbl", [table_path(sf_dir, "lineitem")], build))
    legs = [
        t.read(spark, version=v).agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        for v in (0, 1, 2)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.union(leg)
    return out.orderBy("version")


def q_source_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSONL source round-trip on the gate: documents go out as JSON
    lines, supplier as headered CSV (quoting/escaping exercised by real
    text content), and nation as ORC, all read back with explicit schemas
    and aggregated.
    The oracle aggregates the ORIGINAL parquet tables — any value mangled
    by the writers/readers diverges the hash."""
    from ..sources import formats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")

    def build(d: str) -> None:
        formats.write_json(docs, os.path.join(d, "jsonl"))
        formats.write_csv(supp, os.path.join(d, "csv"))
        formats.write_orc(nat, os.path.join(d, "orc"))

    inputs = [table_path(sf_dir, n) for n in ("documents", "supplier", "nation")]
    d = derived("fmt", inputs, build)
    docs_back = formats.read_json(spark, os.path.join(d, "jsonl"), schema=docs.schema)
    supp_back = formats.read_csv(spark, os.path.join(d, "csv"), schema=supp.schema)
    nat_back = formats.read_orc(spark, os.path.join(d, "orc"), schema=nat.schema)
    dj = docs_back.agg(
        F.count(F.lit(1)).alias("jsonl_docs"),
        F.sum(F.length("text")).alias("jsonl_chars"),
    )
    dc = supp_back.agg(
        F.count(F.lit(1)).alias("csv_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("csv_acctbal_sum"),
    )
    do = nat_back.agg(
        F.count(F.lit(1)).alias("orc_nations"),
        F.sum("n_regionkey").alias("orc_regionkey_sum"),
    )
    return dj.join(F.broadcast(dc)).join(F.broadcast(do))


def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip on the gate (Spark 4 built-in XML source —
    SPARK-44265): customer goes out as one <row> element per record and
    region as a second document set, both read back with explicit
    schemas and aggregated. The oracle aggregates the ORIGINAL parquet
    tables — any value mangled by the XML writer/parser (entity
    escaping, numeric text round-trip, element ordering) diverges the
    hash. Double sums route through round->DECIMAL like the CSV twin,
    so the check is order-independent; c_name's '#' and real text
    content exercise escaping."""
    from ..sources import formats

    cust = _t(spark, sf_dir, "customer")
    regn = _t(spark, sf_dir, "region")

    def build(d: str) -> None:
        formats.write_xml(cust, os.path.join(d, "cust"))
        formats.write_xml(regn, os.path.join(d, "regn"))

    inputs = [table_path(sf_dir, n) for n in ("customer", "region")]
    d = derived("fmt_xml", inputs, build)
    cust_back = formats.read_xml(spark, os.path.join(d, "cust"), schema=cust.schema)
    regn_back = formats.read_xml(spark, os.path.join(d, "regn"), schema=regn.schema)
    dc = cust_back.agg(
        F.count(F.lit(1)).alias("xml_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("xml_acctbal_sum"),
        F.sum(F.length("c_name")).cast("bigint").alias("xml_name_chars"),
        F.countDistinct("c_mktsegment").alias("xml_segments"),
    )
    dr = regn_back.agg(
        F.count(F.lit(1)).alias("xml_regions"),
        F.sum("r_regionkey").cast("bigint").alias("xml_regionkey_sum"),
    )
    return dc.join(F.broadcast(dr))


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: transform /
    filter / aggregate / zip_with folds, all JVM-side lambda expressions
    (§2.9's nested-data surface). Sums accumulate in the array's fixed
    order, so doubles round-trip exactly after round(., 6)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    dv = F.transform(v, lambda x: x.cast("double"))
    sum_sq = F.aggregate(
        F.zip_with(dv, dv, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    return emb.select(
        "vec_id",
        F.size(F.filter(dv, lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.round(sum_sq, 6).alias("sum_sq_r"),
        F.round(
            F.aggregate(dv, F.lit(0.0), lambda acc, x: acc + F.abs(x)), 6
        ).alias("l1_norm_r"),
        F.round(F.array_max(F.transform(dv, F.abs)), 6).alias("max_abs_r"),
    ).orderBy("vec_id")


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via mergeable partials — the materialized-
    view maintenance pattern at 100 TB: per-key (count, sum) partials are
    computed for one slice, persisted, then MERGED with a new slice's
    partials instead of rescanning history. The oracle aggregates the
    union directly, so the merge algebra (count+count, sum+sum) is
    value-checked."""
    li = _t(spark, sf_dir, "lineitem")

    def partial(flag: str) -> DataFrame:
        return (
            li.where(F.col("l_returnflag") == flag)
            .groupBy("l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
            )
        )

    def build(d: str) -> None:  # history
        partial("A").write.parquet(os.path.join(d, "partial"))

    base = derived("incr_agg", [table_path(sf_dir, "lineitem")], build)
    merged = (
        spark.read.parquet(os.path.join(base, "partial"))
        .unionByName(partial("R"))  # the new increment
        .groupBy("l_linestatus")
        .agg(F.sum("cnt").alias("cnt"), F.sum("qty").alias("qty"))
    )
    return merged.select(
        "l_linestatus", "cnt", F.col("qty").cast("double").alias("sum_qty")
    ).orderBy("l_linestatus")


def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-buster salted join on the gate: orders⨝customer through an
    explicit content-hash salt (the hot-key tool when one key exceeds what
    a task holds even after AQE splits). The oracle is the PLAIN join —
    salting must be result-invisible."""
    from ..operators import joins

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = joins.salted_join(orders, customer, "o_custkey", salt_buckets=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("c_mktsegment")
    )


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: lineitems classified into price bands from a
    tiny broadcast bands table — the keyless range join degenerates to a
    broadcast nested loop, which is exactly right for a small build side."""
    from ..operators import joins

    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = spark.createDataFrame(
        [(0, 0.0, 20000.0), (1, 20000.0, 40000.0), (2, 40000.0, 1e9)],
        "band int, lo double, hi double",
    )
    joined = joins.range_join(
        li,
        F.broadcast(bands),
        key=None,
        lower=F.col("l_extendedprice") >= F.col("lo"),
        upper=F.col("l_extendedprice") < F.col("hi"),
    )
    return (
        joined.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .orderBy("band")
    )


def q_events_time_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series layout: events re-written time-sorted (cached once per
    sf), so row-group min/max on ts make a time-range scan touch only the
    overlapping groups — the standard clustering for append-only event
    tables. The range aggregate is oracle-checked against the unsorted
    original, proving the relayout is content-preserving."""
    from ..sources.writer import write_sorted

    events = _t(spark, sf_dir, "events")

    def build(d: str) -> None:
        write_sorted(events, os.path.join(d, "events"), ["ts"], num_files=8)

    path = derived("events_tsorted", [table_path(sf_dir, "events")], build)
    sorted_events = spark.read.parquet(os.path.join(path, "events"))
    lo, hi = "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    return (
        sorted_events.where(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


def q_agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG / variance / stddev with cross-engine-exact algebra: both sums
    route through DECIMAL (order-independent), variance is computed from
    the exact sums as (n·Σx² − (Σx)²)/(n(n−1)), and stddev is the sqrt of
    that identical double — so the statistics hash-match even though each
    engine's native stddev uses a different accumulation scheme."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_s"),
        F.sum(
            (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(28,4)")
        ).alias("_s2"),
    )
    n = F.col("n")
    var = (
        (n.cast("double") * F.col("_s2").cast("double")
         - F.col("_s").cast("double") * F.col("_s").cast("double"))
        / (n.cast("double") * (n.cast("double") - 1))
    )
    return agg.select(
        "l_returnflag",
        "n",
        (F.col("_s").cast("double") / n.cast("double")).alias("avg_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("std_qty"),
    ).orderBy("l_returnflag")


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers ⨝
    orders ⨝ lineitem, revenue per order, top 10 by revenue — broadcast
    dim filter, one fact-fact shuffle on orderkey, TakeOrderedAndProject."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        orders.where(F.col("o_orderdate") < F.lit("1997-06-01"))
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li.where(F.col("l_shipdate") > F.lit("1997-06-01")),
              orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    per customer in a quarter, top 20 — dims broadcast, one shuffle on
    orderkey, one on custkey."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    q = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-04-01"))
        )
        .join(
            li.where(F.col("l_returnflag") == "R"),
            orders.o_orderkey == li.l_orderkey,
        )
        .groupBy("o_custkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    return (
        q.join(customer, q.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_tpch_q19_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): a disjunction of conjunctive
    brand/size/quantity bands — exercises OR-of-ANDs predicate planning
    over a broadcast dim join (adapted: no p_container/l_shipmode in the
    testdata)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 15))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 25))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 35))
        )
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return j.where(band).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    nations in either direction, by supplier-nation/customer-nation/year —
    both nation lookups broadcast, facts shuffle once on their join keys."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    j = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier, keep
    the supplier(s) matching the global maximum — the revenue "view" is a
    reused aggregate; the max is a one-row broadcast back into it."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev).alias("_total"))
    )
    max_rev = revenue.agg(F.max("_total").alias("_max"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("_total") == F.col("_max"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("_total").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue): lineitems below 20% of
    their part's average quantity — the correlated AVG subquery,
    decorrelated into a per-part aggregate joined back on partkey. The
    threshold compare is decimal-exact (qty·5n < Σqty avoids 0.2·avg
    double rounding)."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sum_q"),
        F.count(F.lit(1)).alias("_n"),
    )
    j = li.join(per_part, "l_partkey").where(
        F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("_n")
        < F.col("_sum_q")
    )
    return j.agg(
        # cast-then-divide: identical doubles then IEEE divide-by-7 on
        # both engines; decimal/7 rounding paths differ in the last ulp
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            / 7
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the share of one supplier
    nation in a customer region's revenue per year — conditional/total
    aggregate ratio over a multi-dim broadcast join tree, decimal-routed
    so the share is cross-engine exact."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust_in_region = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = supplier.join(
        F.broadcast(
            nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name"))
        ),
        supplier.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "sn_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    target = F.when(F.col("sn_name") == "NATION_1", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_in_region), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (F.sum(target).cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            ),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .orderBy("o_year")
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: a different hash-sample rate per
    event_type stratum (rare classes kept at higher rates — the class-
    rebalancing pass of a training-data pipeline). Hash-based, so the
    sample is reproducible across engines, runs, and partitionings."""
    from ..functions import stable_hash60

    events = _t(spark, sf_dir, "events")
    rates = {"purchase": 100, "signup": 100, "error": 50, "click": 10, "view": 10}
    bucket = F.pmod(stable_hash60(F.col("event_id").cast("string")), F.lit(100))
    rate = F.coalesce(
        *[
            F.when(F.col("event_type") == k, F.lit(v))
            for k, v in sorted(rates.items())
        ]
    )
    return (
        events.where(bucket < rate)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("event_type")
    )


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram: documents bucketed by whitespace token
    count (50-token bins) — the distribution snapshot every curation run
    reports. Integer floor-division binning, shuffle only on the tiny
    bucket key."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    return (
        docs.select((F.floor(n_tokens / 50) * 50).cast("bigint").alias("bin_lo"))
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bin_lo")
    )


QUERIES = {
    "tpch_q3_shipping": q_tpch_q3_shipping,
    "tpch_q7_volume": q_tpch_q7_volume,
    "tpch_q8_market_share": q_tpch_q8_market_share,
    "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
    "tpch_q17_small_qty": q_tpch_q17_small_qty,
    "tpch_q10_returns": q_tpch_q10_returns,
    "tpch_q19_disjunct": q_tpch_q19_disjunct,
    "window_frames": q_window_frames,
    "sample_stratified": q_sample_stratified,
    "token_histogram": q_token_histogram,
    "events_time_pruned": q_events_time_pruned,
    "agg_variance_exact": q_agg_variance_exact,
    "higher_order_funcs": q_higher_order_funcs,
    "incremental_agg": q_incremental_agg,
    "join_salted": q_join_salted,
    "join_range": q_join_range,
    "set_ops_all": q_set_ops_all,
    "table_time_travel": q_table_time_travel,
    "source_formats": q_source_formats,
    "source_xml": q_source_xml,
    "batch_sessionize": q_batch_sessionize,
    "scalar_functions2": q_scalar_functions2,
}

ORACLES = {
    "sample_stratified": """
        SELECT event_type, COUNT(*) AS n_sampled
        FROM events
        WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
              < CASE event_type WHEN 'purchase' THEN 100 WHEN 'signup' THEN 100
                                WHEN 'error' THEN 50 WHEN 'click' THEN 10
                                WHEN 'view' THEN 10 END
        GROUP BY event_type ORDER BY event_type
    """,
    "token_histogram": """
        SELECT CAST(FLOOR(len(string_split_regex(trim(text), '\\s+')) / 50) * 50 AS BIGINT) AS bin_lo,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1 ORDER BY 1
    """,
    "tpch_q8_market_share": """
        SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CASE WHEN sn.n_name = 'NATION_1'
                        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                   AS mkt_share,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'EUROPE'
        GROUP BY 1 ORDER BY 1
    """,
    "tpch_q7_volume": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "tpch_q15_top_supplier": """
        WITH revenue AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total = (SELECT MAX(total) FROM revenue)
        ORDER BY s_suppkey
    """,
    "tpch_q17_small_qty": """
        WITH pp AS (
            SELECT l_partkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_q,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7 AS avg_yearly,
               COUNT(*) AS n_items
        FROM lineitem l JOIN pp ON l.l_partkey = pp.l_partkey
        WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pp.n < pp.sum_q
    """,
    "tpch_q3_shipping": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "tpch_q10_returns": """
        SELECT c_custkey, c_name, n_name, c_acctbal,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name, c_acctbal
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "tpch_q19_disjunct": """
        SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 35)
    """,
    "agg_variance_exact": """
        WITH s AS (
            SELECT l_returnflag, COUNT(*) AS n,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
                   SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS s2
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS avg_qty,
               (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS var_qty,
               sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) AS std_qty
        FROM s ORDER BY l_returnflag
    """,
    "events_time_pruned": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
          AND ts < TIMESTAMP '2024-01-03 00:00:00'
        GROUP BY event_type ORDER BY event_type
    """,
    "join_salted": """
        SELECT c_mktsegment, COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "join_range": """
        SELECT b.band, COUNT(*) AS n_items
        FROM lineitem l
        JOIN (VALUES (0, 0.0, 20000.0), (1, 20000.0, 40000.0),
                     (2, 40000.0, 1000000000.0)) AS b(band, lo, hi)
          ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        GROUP BY b.band ORDER BY b.band
    """,
    "higher_order_funcs": """
        SELECT vec_id,
               CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
               round(list_reduce(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   (a, b) -> a + b), 6) AS sum_sq_r,
               round(list_reduce(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))), (a, b) -> a + b), 6) AS l1_norm_r,
               round(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs_r
        FROM embeddings
        ORDER BY vec_id
    """,
    "incremental_agg": """
        SELECT l_linestatus, COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_returnflag IN ('A', 'R')
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    "source_xml": """
        SELECT
            (SELECT COUNT(*) FROM customer) AS xml_customers,
            (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             FROM customer) AS xml_acctbal_sum,
            (SELECT CAST(SUM(length(c_name)) AS BIGINT) FROM customer)
                AS xml_name_chars,
            (SELECT CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
             FROM customer) AS xml_segments,
            (SELECT COUNT(*) FROM region) AS xml_regions,
            (SELECT CAST(SUM(r_regionkey) AS BIGINT) FROM region)
                AS xml_regionkey_sum
    """,
    "source_formats": """
        SELECT
            (SELECT COUNT(*) FROM documents) AS jsonl_docs,
            (SELECT CAST(SUM(length(text)) AS BIGINT) FROM documents) AS jsonl_chars,
            (SELECT COUNT(*) FROM supplier) AS csv_suppliers,
            (SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             FROM supplier) AS csv_acctbal_sum,
            (SELECT COUNT(*) FROM nation) AS orc_nations,
            (SELECT CAST(SUM(n_regionkey) AS BIGINT) FROM nation) AS orc_regionkey_sum
    """,
    "table_time_travel": """
        SELECT CAST(0 AS INT) AS version, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem WHERE l_returnflag = 'A'
        UNION ALL
        SELECT CAST(1 AS INT), COUNT(*),
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
        UNION ALL
        SELECT CAST(2 AS INT), COUNT(*),
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        FROM lineitem WHERE l_returnflag = 'N'
        ORDER BY version
    """,
    "set_ops_all": """
        SELECT
            (SELECT COUNT(*) FROM (
                SELECT l_quantity FROM lineitem WHERE l_returnflag = 'A'
                INTERSECT ALL
                SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R') t
            ) AS n_intersect_all,
            (SELECT COUNT(*) FROM (
                SELECT l_quantity FROM lineitem WHERE l_returnflag = 'A'
                EXCEPT ALL
                SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R') t
            ) AS n_except_all
    """,
    "window_frames": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS moving_sum_3,
               COUNT(*) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderkey ASC
                   RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
                   AS near_order_cnt
        FROM orders
        ORDER BY o_custkey, o_orderkey
    """,
    "batch_sessionize": """
        WITH lagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR date_diff('second', lag(ts) OVER w, ts) / 60.0 > 30
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sess AS (
            SELECT user_id, event_id, ts,
                   CAST(SUM(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS session_id
            FROM lagged
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sess
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    "scalar_functions2": """
        SELECT p_partkey,
               CAST(levenshtein(p_brand, p_type) AS BIGINT) AS brand_type_dist,
               lpad(p_brand, 12, '_') AS brand_padded,
               translate(p_type, 'AEIOU', 'aeiou') AS type_translated,
               reverse(p_brand) AS brand_rev,
               CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
               array_to_string(list_sort(string_split(p_name, ' ')), '|')
                   AS words_sorted,
               string_split(p_name, ' ')[1] AS first_word,
               list_contains(string_split(p_name, ' '), 'green') AS has_green,
               substring(p_name, 1, 5) AS name_head
        FROM part
        ORDER BY p_partkey
    """,
}


def q_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `scan` CLI verb as a gate query (cae/src/cli.cpp:
    120-170): one row of footer-derived metadata for lineitem — column
    count, an order-insensitive md5 schema fingerprint, total rows, and
    the min/max orderkey aggregated from ROW-GROUP STATISTICS, no data
    scan. The oracle recomputes the same facts by actually scanning, so
    a parquet writer that lied in its footer stats fails the hash —
    metadata-vs-data cross-validation, which is exactly what a scan verb
    is for. Driver-side footer read only (sources/scanner.py:50), same
    contract as the reference's footer-first reader (format.cpp:455-491)."""
    import hashlib

    from ..sources.catalog import table_path
    from ..sources.scanner import scan_metadata

    md = scan_metadata(table_path(sf_dir, "lineitem"), max_files=10_000)
    names = [c["name"] for c in md["schema"]]
    mins, maxs = [], []
    for finfo in md["files"]:
        for rg in finfo["row_groups"]:
            for ch in rg["columns"]:
                if ch["column"] == "l_orderkey" and ch["min"] is not None:
                    mins.append(ch["min"])
                    maxs.append(ch["max"])
    if not mins:
        raise ValueError("lineitem footer has no l_orderkey statistics")
    row = [
        (
            "lineitem",
            len(names),
            hashlib.md5(",".join(sorted(names)).encode()).hexdigest(),
            md["total_rows"],
            min(mins),
            max(maxs),
        )
    ]
    return spark.createDataFrame(
        row,
        "table_name string, n_cols bigint, schema_md5 string, "
        "total_rows bigint, min_orderkey bigint, max_orderkey bigint",
    )


QUERIES["metadata_scan"] = q_metadata_scan


def q_cli_query_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLI `query` verb's flag path as a gate query (cae/src/cli.cpp:
    172-180 op tokens; --where AND semantics from execution.cpp:163-188):
    the argv below goes through the REAL argparse + Predicate.parse +
    QueryExecutor assembly (cli.compile_query_df) and must hash-match the
    oracle's direct SQL. Aggregating l_quantity keeps every sum an
    integer-valued double (exactly representable, order-independent), so
    the group-by path is value-checked, not just count-checked."""
    from ..cli import compile_query_df
    from ..sources.catalog import table_path

    return compile_query_df(
        spark,
        [
            "query",
            table_path(sf_dir, "lineitem"),
            "--where", "l_quantity", "ge", "30",
            "--where", "l_linenumber", "le", "4",
            "--agg", "sum", "l_quantity",
            "--groupby", "l_returnflag",
        ],
    )


QUERIES["cli_query_compiled"] = q_cli_query_compiled

ORACLES["cli_query_compiled"] = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS "count",
           SUM(l_quantity) AS "sum",
           MIN(l_quantity) AS "min",
           MAX(l_quantity) AS "max"
    FROM lineitem
    WHERE l_quantity >= 30 AND l_linenumber <= 4
    GROUP BY l_returnflag ORDER BY l_returnflag
"""

# The oracle derives every field from the DATA (DESCRIBE + full scan);
# the Spark side derives them from the FOOTER — matching hashes prove the
# footer tells the truth about the file.
ORACLES["metadata_scan"] = """
    SELECT 'lineitem' AS table_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (DESCRIBE lineitem))
               AS n_cols,
           (SELECT md5(string_agg(column_name, ',' ORDER BY column_name))
            FROM (DESCRIBE lineitem)) AS schema_md5,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey
    FROM lineitem
"""
