"""Scale-feature tests: salted joins, sorted layout + row-group skipping,
bucketed writes, pandas-UDF slow-path equivalence."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import plans
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.functions import (
    dot_product,
)
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import joins
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import (
    scan_metadata,
)
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.writer import (
    write_sorted,
)


def test_salted_join_matches_plain_join(spark):
    # skewed left: 90% of rows share key 0
    left = spark.range(1000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS payload"
    )
    right = spark.createDataFrame(
        [(0, "hot"), (19, "cold19"), (29, "cold29")], "k long, tag string"
    )
    plain = left.join(right, "k").select("k", "payload", "tag")
    salted = joins.salted_join(left, right, "k", salt_buckets=8).select(
        "k", "payload", "tag"
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([(0, 1), (5, 2)], "k long, v long")
    right = spark.createDataFrame([(0, "x")], "k long, tag string")
    out = joins.salted_join(left, right, "k", salt_buckets=4, how="left")
    got = {r["k"]: r["tag"] for r in out.collect()}
    assert got == {0: "x", 5: None}


def test_sorted_write_produces_disjoint_ranges(spark, tmp_path):
    p = str(tmp_path / "sorted.parquet")
    df = spark.range(100_000).selectExpr("id AS k", "id % 97 AS v")
    write_sorted(df, p, ["k"], num_files=8)
    meta = scan_metadata(p)
    ranges = []
    for f in meta["files"]:
        for rg in f["row_groups"]:
            for c in rg["columns"]:
                if c["column"] == "k":
                    ranges.append((c["min"], c["max"]))
    ranges.sort()
    assert len(ranges) >= 8
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint → a point predicate touches one file
    # and the predicate actually reaches the scan
    pred = spark.read.parquet(p).where(F.col("k") == 12_345)
    assert plans.has_pushed_filter(pred, "EqualTo(k,12345)")
    assert pred.count() == 1


def test_bucketed_write_joins_without_shuffle(spark, tmp_path):
    df = spark.range(10_000).selectExpr("id AS k", "id * 2 AS v")
    joins.bucketed_write(df, "t_bucketed_a", str(tmp_path / "a"), ["k"], 8)
    joins.bucketed_write(df, "t_bucketed_b", str(tmp_path / "b"), ["k"], 8)
    a = spark.table("t_bucketed_a")
    b = spark.table("t_bucketed_b")
    # force sort-merge (the planner would broadcast these tiny tables,
    # bypassing buckets) — the point is the shuffle-free shape at scale
    joined = a.hint("merge").join(b, "k")
    plan = plans.formatted_plan(joined)
    assert "SortMergeJoin" in plan
    # bucket-local join: no Exchange between the scans and the join
    assert "Exchange" not in plan
    assert joined.count() == 10_000


def test_pandas_udf_cosine_matches_expression(spark):
    """The documented slow-path pattern: an Arrow-batched pandas UDF kernel
    must agree with the JVM expression fold (to float tolerance)."""

    @pandas_udf("double")
    def cos_pd(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        va = np.stack(a.values).astype("float64")
        vb = np.stack(b.values).astype("float64")
        return pd.Series((va * vb).sum(axis=1))

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 0.5]) for i in range(200)],
        "id long, v array<float>",
    )
    pair = df.alias("a").join(df.alias("b"), F.col("a.id") == (F.col("b.id")))
    expr_col = dot_product(F.col("a.v"), F.col("b.v"))
    udf_col = cos_pd(F.col("a.v"), F.col("b.v"))
    out = pair.select(
        (F.abs(expr_col - udf_col) < 1e-9).alias("ok")
    )
    assert out.where(~F.col("ok")).count() == 0


def test_approx_sketches_accuracy(spark, sf_dir):
    """HLL++ and t-digest must land near the exact answers."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads.relational2 import (
        q_approx_sketches,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    approx = {r["l_returnflag"]: r for r in q_approx_sketches(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        )
        .collect()
    }
    for flag, e in exact.items():
        a = approx[flag]
        assert a["exact_parts"] == e["parts"]
        assert a["exact_p50"] == e["p50"]
        assert a["hll_within_bound"] and a["p50_within_bound"] and a["p90_within_bound"]


def test_zorder_skips_on_both_dims(spark, tmp_path):
    """Z-ordered layout keeps min/max tight on BOTH columns, so a point
    predicate on either dimension excludes most row groups — a plain sort
    only achieves that for its leading column."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.writer import (
        write_sorted,
        write_zordered,
    )

    df = spark.range(64_000).selectExpr(
        "CAST(id % 256 AS LONG) AS x", "CAST(id / 256 AS LONG) AS y", "id AS payload"
    )

    def coverage(path, col, point):
        meta = scan_metadata(path)
        total = hit = 0
        for f in meta["files"]:
            for rg in f["row_groups"]:
                for c in rg["columns"]:
                    if c["column"] == col:
                        total += 1
                        if c["min"] <= point <= c["max"]:
                            hit += 1
        return hit / total

    zp = str(tmp_path / "z.parquet")
    write_zordered(df, zp, ["x", "y"], bits=8, num_files=16)
    sp = str(tmp_path / "s.parquet")
    write_sorted(df, sp, ["x"], num_files=16)

    # point lookups on each dim: z-order must exclude a majority of row
    # groups on BOTH dims (exact ratios vary with range-partition sampling)
    assert coverage(zp, "x", 100) <= 0.75
    assert coverage(zp, "y", 100) <= 0.75
    # plain sort: tight on x, useless on y (every group spans all of y)
    assert coverage(sp, "x", 100) <= 0.5
    assert coverage(sp, "y", 100) == 1.0
    assert coverage(zp, "y", 100) < coverage(sp, "y", 100)
    # correctness unchanged
    assert spark.read.parquet(zp).where("x = 100 AND y = 100").count() == 1


def test_redact_pii(spark):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators.text import (
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com or +1 (555) 123-4567 at 10.0.0.1"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df, "text").collect()}
    r1 = rows[1]
    assert r1["n_email"] == 1 and r1["n_phone"] == 1 and r1["n_ipv4"] == 1
    assert "<EMAIL>" in r1["text_redacted"] and "bob@" not in r1["text_redacted"]
    assert "<PHONE>" in r1["text_redacted"]
    assert "<IPV4>" in r1["text_redacted"]
    r2 = rows[2]
    assert (r2["n_email"], r2["n_phone"], r2["n_ipv4"]) == (0, 0, 0)
    assert r2["text_redacted"] == "no pii here"


def test_ngram_stop_shingle_cap(spark):
    """A boilerplate shingle shared by every doc must not force all-pairs
    candidates; pairs with genuine overlap still surface via rare shingles."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        dedup,
    )

    boiler = "all rights reserved contact us for details"
    docs = [
        (1, f"unique alpha content one two three four five {boiler}"),
        (2, f"unique alpha content one two three four five {boiler}"),
        (3, f"totally different beta payload six seven eight {boiler}"),
        (4, f"another unrelated gamma body nine ten eleven {boiler}"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # threshold accounts for the capped |A∩B| being a lower bound: docs 1/2
    # share 13 shingles but 5 boilerplate ones are dropped → 8/18 ≈ 0.44
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_k=3, threshold=0.4, max_doc_freq=2
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (1, 2) in got  # true near-dup found via its rare shingles
    assert (3, 4) not in got  # only boilerplate shared → no candidate


def test_upsert_partitioned(spark, tmp_path):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.writer import (
        upsert_partitioned,
    )

    p = str(tmp_path / "ups.parquet")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k long, part string, v double",
    )
    upsert_partitioned(base, p, ["part"], ["k"])
    # update k=2 (partition a), insert k=5 (partition a); partition b/c untouched
    updates = spark.createDataFrame(
        [(2, "a", 99.0), (5, "a", 50.0)], "k long, part string, v double"
    )
    upsert_partitioned(updates, p, ["part"], ["k"])
    got = {r["k"]: (r["part"], r["v"]) for r in spark.read.parquet(p).collect()}
    assert got == {
        1: ("a", 10.0),
        2: ("a", 99.0),
        3: ("b", 30.0),
        4: ("c", 40.0),
        5: ("a", 50.0),
    }


def test_utc_rendering_survives_foreign_timezone(spark, sf_dir):
    """A session configured with a non-UTC timezone (as a verifier's or
    user's session might be) must still render catalog timestamps in UTC —
    load_table pins the conf at runtime, even on cached handles."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    baseline = (
        load_table(spark, sf_dir, "events")
        .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("t"))
        .collect()[0]["t"]
    )
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted = (
            load_table(spark, sf_dir, "events")
            .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("t"))
            .collect()[0]["t"]
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert shifted == baseline


def test_zorder_normalize_raw_columns(spark, sf_dir, tmp_path):
    """normalize=True z-orders raw numeric + timestamp columns (events
    user_id × ts) with no pre-bucketing: both dimensions' row-group
    coverage beats the ts-sorted layout's non-leading dimension, and
    content is unchanged."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.writer import (
        write_sorted,
        write_zordered,
    )

    ev = load_table(spark, sf_dir, "events")
    zp = str(tmp_path / "zev.parquet")
    sp = str(tmp_path / "sev.parquet")
    write_zordered(ev, zp, ["user_id", "ts"], bits=12, num_files=8, normalize=True)
    write_sorted(ev, sp, ["ts"], num_files=8)

    def coverage(path, col, point):
        meta = scan_metadata(path)
        total = hit = 0
        for f in meta["files"]:
            for rg in f["row_groups"]:
                for c in rg["columns"]:
                    if c["column"] == col:
                        total += 1
                        if c["min"] <= point <= c["max"]:
                            hit += 1
        return hit / total

    lo_user = ev.agg({"user_id": "min"}).first()[0]
    # a user-dimension point lookup: ts-sorted layout cannot prune at all
    assert coverage(sp, "user_id", lo_user) == 1.0
    assert coverage(zp, "user_id", lo_user) < 1.0
    # content preserved
    assert (
        spark.read.parquet(zp).orderBy("event_id").collect()
        == ev.orderBy("event_id").collect()
    )


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling must engage on a pathological hot key: the
    executed plan shows skew=true on the sort-merge join, proving the
    runtime re-plan path our docs lean on for 100 TB skew (alongside the
    explicit salted_join tool for the cases AQE cannot fix)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot key: 95% of 200k left rows share key 0; right is uniform
        left = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pay"),
        )
        right = spark.range(0, 200_000, 1).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = left.join(right, "k")
        # act on THIS DataFrame's QueryExecution (count() would build a
        # separate one and the final adaptive plan would not be captured)
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_local_driver_memory_follows_host_limits(tmp_path):
    # Sizing reads files only; no JVM starts here.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.session import (
        local_driver_memory,
    )

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:  1 kB\n")
    cg_max = tmp_path / "memory.max"
    gib = 2**30

    def size(limit=None):
        cg_max.write_text(limit if limit is not None else "max\n")
        return local_driver_memory(str(meminfo), (str(cg_max), str(tmp_path / "absent")))

    assert size() == "9g"  # 60% of a 15.7 GiB host, unlimited cgroup
    assert size(f"{4 * gib}\n") == "2g"  # the cgroup limit is smaller
    assert size(f"{gib}\n") == "1g"  # never below 1g
    meminfo.write_text(f"MemTotal: {512 * gib // 1024} kB\n")
    assert size() == "48g"  # capped
    assert local_driver_memory(str(tmp_path / "none"), ()) == "48g"
