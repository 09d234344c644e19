"""Streaming operator tests: micro-batch execution, stateful ops, watermark
late-data behavior."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import streaming as S

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_equals_batch(spark):
    out = S.run_to_memory(
        S.tumbling_window_agg(S.events_stream(spark, SF)), output_mode="update"
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_stateful_running_stats_matches_batch(spark):
    out = S.run_to_memory(
        S.stateful_user_running_stats(S.events_stream(spark, SF)),
        output_mode="update",
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )

    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got = {r["user_id"]: r["n_events"] for r in out.collect()}
    want = {r["user_id"]: r["n_events"] for r in batch.collect()}
    assert got == want


def test_watermark_finalizes_windows_append_mode(spark, tmp_path):
    """Two micro-batches in append mode: only windows whose end has passed
    the watermark are emitted; open windows are withheld. (Spark treats the
    watermark as an *eligibility* threshold for dropping late rows — the
    drop itself is not guaranteed, so we assert the guaranteed behavior:
    append-mode finalization.)"""
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        p = str(src / name)
        df.write.mode("overwrite").parquet(p)
        for root, _d, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(p, (mtime, mtime))

    import datetime

    t = lambda s: datetime.datetime.fromisoformat(s)
    now = time.time()
    # Batch 1: events up to 12:00 → watermark after batch = 12:00 − 10 min
    write_file(
        "b1",
        [
            (1, t("2024-01-01T11:00:00"), 1, "click", 1.0, "{}"),
            (2, t("2024-01-01T12:00:00"), 1, "click", 1.0, "{}"),
        ],
        now - 100,
    )
    # Batch 2: one on-time event + one very late event (09:00 < 11:50)
    write_file(
        "b2",
        [
            (3, t("2024-01-01T12:01:00"), 1, "click", 1.0, "{}"),
            (4, t("2024-01-01T09:00:00"), 1, "click", 99.0, "{}"),
        ],
        now - 50,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src) + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "60 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("win.start", "HH:mm").alias("w"), "n")
    )
    got = {
        r["w"]: r["n"]
        for r in S.run_to_memory(agg, output_mode="append").collect()
    }
    # Final watermark = 12:01 − 10 min = 11:51. Only the (late-arriving)
    # 09:00 window has end ≤ watermark → it alone is finalized+emitted;
    # the 11:00 and 12:00 windows remain open and are withheld.
    assert got == {"09:00": 1}


def test_streaming_dedup(spark):
    out = S.run_to_memory(
        S.dedup_within_watermark(S.events_stream(spark, SF), ["event_type"]),
        output_mode="append",
    )
    rows = sorted(r["event_type"] for r in out.collect())
    assert rows == sorted(set(rows))  # no duplicates
    assert len(rows) >= 2


def test_foreach_batch_upsert_idempotent(spark, tmp_path, sf_dir):
    """Re-running the whole stream merge over an existing table yields the
    identical table — the idempotence that makes foreachBatch exactly-once
    on top of at-least-once delivery."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import streaming as S

    path = str(tmp_path / "upsert")
    stream = lambda: S.events_stream(spark, sf_dir).select(  # noqa: E731
        "user_id", "event_id", "ts", "value"
    )
    S.foreach_batch_upsert(stream(), path, keys=["user_id"], order_cols=["ts", "event_id"])
    first = sorted(map(tuple, spark.read.parquet(path).collect()))
    # second full replay merges into the existing table
    S.foreach_batch_upsert(stream(), path, keys=["user_id"], order_cols=["ts", "event_id"])
    second = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert first == second and len(first) > 0

    # bucketed layout: same end state, minus the partition column
    bpath = str(tmp_path / "upsert_bucketed")
    S.foreach_batch_upsert(
        stream(), bpath, keys=["user_id"], order_cols=["ts", "event_id"], num_buckets=8
    )
    bucketed = sorted(
        map(tuple, spark.read.parquet(bpath).drop("__bucket").collect())
    )
    assert bucketed == first


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """A batch touching one key must rewrite only that key's bucket
    partition — every other bucket's files stay byte-identical on disk."""
    import os

    from pyspark.sql import functions as F

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import streaming as S

    path = str(tmp_path / "tbl")

    def run(df):
        df.write.mode("overwrite").parquet(str(tmp_path / "feed"), compression="snappy")
        stream = spark.readStream.schema(df.schema).parquet(str(tmp_path / "feed"))
        S.foreach_batch_upsert(
            stream, path, keys=["k"], order_cols=["v"], num_buckets=8
        )

    run(
        spark.range(100).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
        )
    )

    def snapshot():
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = snapshot()
    run(spark.createDataFrame([(7, 2)], "k long, v long"))  # touches 1 bucket
    after = snapshot()

    b7 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(7).cast("long")), F.lit(8)).cast("int").alias("b")
    ).collect()[0]["b"]
    untouched_before = {p: m for p, m in before.items() if f"__bucket={b7}/" not in p + "/"}
    for p, m in untouched_before.items():
        assert p in after and after[p] == m, f"untouched bucket file rewritten: {p}"
    # and the new value won
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[7] == 2 and got[0] == 1


def test_transform_with_state_gate(spark, sf_dir):
    """transformWithStateInPandas surface: runs end-to-end where protobuf
    exists (matching the batch GROUP BY), raises the documented ImportError
    where it does not (this container)."""
    import pytest

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import (
        streaming as S,
    )

    stream = S.events_stream(spark, sf_dir)
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            S.stateful_per_type_counts_tws(stream)
        return

    out = S.stateful_per_type_counts_tws(stream)
    res = S.run_to_memory(out, output_mode="update", shuffle_partitions=8)
    from pyspark.sql import functions as F

    expect = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got = {(r["user_id"], r["event_type"]): r["n_events"] for r in res.collect()}
    for r in expect.collect():
        assert got[(r["user_id"], r["event_type"])] == r["n_events"]


def test_stream_stream_full_join_emits_both_null_sides(spark, sf_dir):
    """The full-outer stream-stream join must emit matched pairs, NULL-
    purchase views (watermark-released) AND NULL-view purchases — the
    two-sided eviction the left join only half-exercises."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        streaming_ops,
    )

    rows = streaming_ops.q_stream_stream_full_join(spark, sf_dir).collect()
    assert len(rows) > 0
    matched = [r for r in rows if r["view_id"] is not None and r["purchase_id"] is not None]
    null_purchase = [r for r in rows if r["purchase_id"] is None]
    null_view = [r for r in rows if r["view_id"] is None]
    assert matched and null_purchase and null_view
    # every row carries the coalesced user id
    assert all(r["user_id"] is not None for r in rows)
    # the left join is a subset: same matches, same NULL-purchase views
    left = streaming_ops.q_stream_stream_left_join(spark, sf_dir).collect()
    left_pairs = {(r["view_id"], r["purchase_id"]) for r in left}
    full_pairs = {(r["view_id"], r["purchase_id"]) for r in rows}
    assert left_pairs <= full_pairs


def test_publish_swap_recovers_displaced_state(tmp_path):
    # crash window: state displaced to .old but new state not yet in
    # place — _recover_swap must restore it; and a clean swap must
    # leave only the new state
    import os

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.streaming import (
        _publish_swap,
        _recover_swap,
    )

    path = str(tmp_path / "state")
    os.makedirs(path)
    open(os.path.join(path, "_SUCCESS"), "w").write("v1")
    # simulate the crash: displaced old state, live dir missing
    os.rename(path, path + ".old")
    _recover_swap(path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(path + ".old")
    # clean swap replaces content and leaves no residue
    staging = str(tmp_path / "staging")
    os.makedirs(staging)
    open(os.path.join(staging, "_SUCCESS"), "w").write("v2")
    _publish_swap(staging, path)
    assert open(os.path.join(path, "_SUCCESS")).read() == "v2"
    assert not os.path.exists(staging)
    assert not os.path.exists(path + ".old")


def test_kmv_merge_leaves_no_checkpoint(spark, sf_dir, tmp_path):
    # Each foreachBatch sink call (foreach_batch_kmv_merge, then
    # foreach_batch_upsert) checkpoints under a fresh name, so the
    # checkpoint can never be resumed; the call must delete it.
    import glob
    import tempfile

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import streaming_ops

    roots = {S._volatile_ckpt_root(), tempfile.gettempdir(), "/tmp"}

    def ckpts(prefix):
        return {p for r in roots for p in glob.glob(os.path.join(r, f"{prefix}_*"))}

    before = ckpts("ckpt_kmv")
    sk = streaming_ops._kmv_stream_sketch(spark, sf_dir, str(tmp_path / "sk"))
    assert sk.count() > 0
    assert ckpts("ckpt_kmv") - before == set()

    before = ckpts("ckpt_upsert")
    path = str(tmp_path / "upsert")
    S.foreach_batch_upsert(
        S.events_stream(spark, sf_dir).select("user_id", "event_id", "ts"),
        path,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        num_buckets=4,
    )
    assert spark.read.parquet(path).count() > 0
    assert ckpts("ckpt_upsert") - before == set()
