"""Streaming workload: windowed/sessionized/deduped event streams executed
as bounded micro-batch runs (availableNow → memory sink), oracle-checked
against batch SQL over the same events.

Executing through the real streaming engine (state store, watermarks,
micro-batch planner) and comparing to batch SQL is exactly the equivalence
Structured Streaming promises — a strong correctness check for the
streaming operator surface.

``stream_stateful`` and ``stream_stateful_multibatch`` check the same running
per-user stats: the first in one micro-batch, the second over 8 real
micro-batches, so state must survive every batch boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import streaming as S
from ..sources.catalog import load_table, table_path
from ._scratch import derived, run_dir


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4 state partitions, not 8: every partition pays per-batch store
    # init/commit (measured r5: commit 123 ms at 4 vs 378 ms at 8 vs
    # 1.7 s at 16 for the same 21k keys — overhead scales with partition
    # count, not data). A production keyspace sizes this up; a bounded
    # replay wants the floor. See run_to_memory's sizing note.
    # no_data_batches=False: UPDATE mode emits every row in the data
    # batches; the trailing watermark-advance batch adds ~0.5 s of state
    # reload/commit and zero rows (run_to_memory docstring; measured
    # 1.2-1.6 s -> 0.79 s at identical 21,388-row output). Append-mode
    # siblings keep the default — their windows finalize IN that batch.
    # coalesce(1) + partition-local sort, not orderBy: a memory-sink table
    # is driver-small by construction, and the global sort's range
    # exchange costs an extra sampling job + a session-width shuffle
    # (measured r7: 1.38-1.62 s -> 0.99-1.18 s end-to-end at identical
    # 21,388-row output; docs/BENCH_NOTES.md round-7 section). Same total
    # order — one partition, same keys.
    sdf = S.tumbling_window_agg(S.events_stream(spark, sf_dir))
    return (
        S.run_to_memory(
            sdf,
            output_mode="update",
            shuffle_partitions=4,
            no_data_batches=False,
        )
        .coalesce(1)
        .sortWithinPartitions("window_start", "event_type")
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = S.sliding_window_agg(S.events_stream(spark, sf_dir))
    return S.run_to_memory(sdf, output_mode="update", shuffle_partitions=8).orderBy("window_start")


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = S.session_window_agg(S.events_stream(spark, sf_dir))
    # session-window aggregation supports append/complete, not update
    return S.run_to_memory(sdf, output_mode="complete", shuffle_partitions=8).orderBy(
        "user_id", "session_start"
    )


def q_stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``statestore`` data source on the gate: run the
    tumbling-window replay, then read the aggregation operator's STATE
    back as a DataFrame (streaming/run_and_read_state) — the
    production state-audit tool. The rows are exactly the LIVE
    windows: Spark evicts aggregation state once the watermark (max
    event time − 30 min) passes the window end, so however much
    history the replay ingested, the surviving state is the last
    ~30-40 minutes of windows. This gate is the complement of
    stream_tumbling_append (whose output is the CLOSED windows —
    same cutoff, opposite side), and together they partition the
    window set; the oracle states the eviction rule in SQL. At 100 TB
    this reader is how you PROVE state stays bounded instead of
    asserting it."""
    sdf = S.tumbling_window_agg(S.events_stream(spark, sf_dir))
    state = S.run_and_read_state(
        sdf, output_mode="update", shuffle_partitions=8
    )
    return state.select(
        F.date_format("key.window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_live"),
        F.col("value.sum").cast("double").alias("sum_live"),
    ).orderBy("window_start", "event_type")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = S.dedup_within_watermark(
        S.events_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    return S.run_to_memory(sdf, output_mode="append", shuffle_partitions=8).orderBy(
        "user_id", "event_type"
    )


def q_stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling windows: only windows FINALIZED by the
    watermark are emitted (end ≤ max event time − delay). The oracle
    replicates the finalization cutoff in batch SQL — this pins Spark's
    append-mode watermark semantics in the correctness gate."""
    sdf = S.tumbling_window_agg(
        S.events_stream(spark, sf_dir), width="10 minutes", watermark="30 minutes"
    )
    return S.run_to_memory(sdf, output_mode="append", shuffle_partitions=8).orderBy(
        "window_start", "event_type"
    )


def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink in its bucketed (100 TB) layout: the stream
    merges into a key-hash-partitioned table, rewriting only the buckets
    each batch touches, keeping each user's latest event (last-writer-wins
    on ts, event_id). The oracle is the same merge in batch SQL — pins the
    sink pattern's end state, not just the transformations."""
    # fresh table per run: the merge must rebuild it
    path = os.path.join(run_dir("upsert"), "table")
    stream = S.events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    S.foreach_batch_upsert(
        stream, path, keys=["user_id"], order_cols=["ts", "event_id"], num_buckets=8
    )
    return (
        spark.read.parquet(path)
        .drop("__bucket")
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "event_type",
            "value",
        )
        .orderBy("user_id")
    )


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) on the gate:
    per-user running count + exact fixed-point sum. The value is converted
    to integer micros in Catalyst BEFORE the Python stage (decimal
    rounding matches the oracle's CAST), so state merges are exact and the
    final state hash-checks against a batch GROUP BY."""
    stream = S.events_stream(spark, sf_dir).withColumn(
        "v_micros",
        (F.col("value").cast("decimal(18,6)") * 1000000).cast("long"),
    )
    out = S.stateful_user_running_stats(
        stream, sum_col="v_micros", integer_sum=True
    )
    return S.run_to_memory(out, output_mode="update", shuffle_partitions=8).orderBy(
        "user_id"
    )



def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user EWMA (alpha=1/2) as applyInPandasWithState
    state — the ORDER-SENSITIVE recurrence the commutative stateful twin
    cannot express; the bounded availableNow replay delivers each user's
    history in order, and the Python-float fold lands bit-identically on
    the batch oracle's list_reduce (see stateful_user_ewma's order
    contract)."""
    sdf = S.stateful_user_ewma(S.events_stream(spark, sf_dir))
    out = S.run_to_memory(sdf, output_mode="update", shuffle_partitions=8)
    return out.select(
        "user_id", "n_events", F.round("ewma", 6).alias("ewma_r")
    ).orderBy("user_id")

QUERIES = {
    "stream_upsert": q_stream_upsert,
    "stream_stateful": q_stream_stateful,
    "stream_ewma": q_stream_ewma,
    "stream_tumbling_window": q_stream_tumbling,
    "stream_state_inspect": q_stream_state_inspect,
    "stream_tumbling_append": q_stream_tumbling_append,
    "stream_sliding_window": q_stream_sliding,
    "stream_session_window": q_stream_session,
    "stream_dedup": q_stream_dedup,
}

ORACLES = {
    "stream_stateful": """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                    AS BIGINT) AS sum_value
        FROM events
        GROUP BY user_id ORDER BY user_id
    """,
    "stream_upsert": """
        WITH ranked AS (
            SELECT user_id, event_id, ts, event_type, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               event_type, value
        FROM ranked WHERE rn = 1
        ORDER BY user_id
    """,
    "stream_state_inspect": """
        WITH wm AS (
            SELECT max(ts) - INTERVAL '30 minutes' AS cutoff FROM events
        ),
        agg AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS wstart,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_live,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_live
            FROM events
            GROUP BY 1, 2
        )
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, n_live, sum_live
        FROM agg, wm
        WHERE wstart + INTERVAL '10 minutes' > wm.cutoff
        ORDER BY window_start, event_type
    """,
    "stream_tumbling_append": """
        WITH wm AS (
            SELECT max(ts) - INTERVAL '30 minutes' AS cutoff FROM events
        ),
        agg AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS wstart,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2
        )
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, n_events, sum_value
        FROM agg, wm
        WHERE wstart + INTERVAL '10 minutes' <= wm.cutoff
        ORDER BY window_start, event_type
    """,
    "stream_tumbling_window": """
        SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY window_start, event_type
    """,
    "stream_sliding_window": """
        SELECT strftime(time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes',
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n_events
        FROM events, UNNEST([0, 1]) AS t(k)
        GROUP BY 1
        ORDER BY window_start
    """,
    "stream_session_window": """
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '30 minutes'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM marked
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start
    """,
    "stream_dedup": """
        SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type
    """,
}


def _events_8files(spark: SparkSession, sf_dir: str) -> str:
    """The events table re-written as 8 files, one micro-batch each under
    ``maxFilesPerTrigger=1``."""

    def build(d: str) -> None:
        load_table(spark, sf_dir, "events").repartition(8).write.parquet(
            os.path.join(d, "events")
        )

    d = derived("events_8files", [table_path(sf_dir, "events")], build)
    return os.path.join(d, "events")


def q_stream_stateful_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State ACROSS micro-batches: events re-written as 8 files (once per
    sf), streamed with maxFilesPerTrigger=1 so availableNow executes 8
    REAL micro-batches — the per-user (count, exact fixed-point sum)
    state must persist and accumulate through every batch boundary, a
    strictly stronger signal than the single-batch stream_stateful. The
    update-mode sink holds one row per (user, touched batch); the final
    state per user is the max-count row (the counter is monotone), and it
    must equal the batch GROUP BY over all events."""
    path = _events_8files(spark, sf_dir)
    batch_schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withColumn(
            "v_micros",
            (F.col("value").cast("decimal(18,6)") * 1000000).cast("long"),
        )
    )
    out = S.stateful_user_running_stats(stream, sum_col="v_micros", integer_sum=True)
    sink = S.run_to_memory(out, output_mode="update", shuffle_partitions=8)
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
        .orderBy("user_id")
    )


QUERIES["stream_stateful_multibatch"] = q_stream_stateful_multibatch

ORACLES["stream_stateful_multibatch"] = """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                AS BIGINT) AS sum_value
    FROM events
    GROUP BY user_id ORDER BY user_id
"""


def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: views with their attributed
    purchase, or NULL once the watermark PROVES no purchase can arrive.
    Matched rows emit immediately; an unmatched view emits only after the
    global watermark — min over BOTH streams of (max event time − delay),
    Spark's documented multi-stream rule — passes view_ts + 30 min. The
    oracle replicates exactly that cutoff in batch SQL, so this pins the
    outer-join state-eviction semantics, not just the match results."""
    from pyspark.sql import functions as F

    events = S.events_stream(spark, sf_dir)
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "60 minutes")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "60 minutes")
    )
    joined = views.join(
        purchases,
        (views.user_id == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    ).select("view_id", "purchase_id", "user_id")
    return S.run_to_memory(
        joined, output_mode="append", shuffle_partitions=8
    ).orderBy("view_id", "purchase_id")


QUERIES["stream_stream_left_join"] = q_stream_stream_left_join

ORACLES["stream_stream_left_join"] = """
    WITH v AS (
        SELECT event_id AS view_id, user_id, ts AS view_ts
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id AS pu, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT least((SELECT max(view_ts) FROM v),
                     (SELECT max(purchase_ts) FROM p))
               - INTERVAL 60 MINUTE AS w
    ),
    lj AS (
        SELECT view_id, v.user_id, view_ts, purchase_id
        FROM v LEFT JOIN p
          ON v.user_id = pu
         AND purchase_ts >= view_ts
         AND purchase_ts <= view_ts + INTERVAL 30 MINUTE
    )
    SELECT view_id, purchase_id, user_id
    FROM lj, wm
    WHERE purchase_id IS NOT NULL
       OR view_ts + INTERVAL 30 MINUTE < w
    ORDER BY view_id, purchase_id
"""


def q_stream_col_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `.col` container as a STREAMING source: events go out as four
    reference-format .col files (ints/strings only, value as exact
    micros), then `readStream.format("col")` consumes the directory
    through the Python data source's simple stream reader (offset =
    files consumed in sorted order, replayable between offsets) into a
    streaming aggregation. The oracle aggregates the original events
    table — encoder, stream reader, and micro-batch engine must all
    preserve every value for the hash to survive."""
    from ..sources import colfile
    from ..sources.col_datasource import register_col_datasource

    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            (F.col("value").cast("decimal(18,6)") * 1000000)
            .cast("bigint")
            .alias("v_micros"),
        )
        for i in range(4):
            colfile.write_col(
                ev.where(F.col("event_id") % 4 == i),
                os.path.join(d, f"part_{i:03d}.col"),
                rows_per_group=5_000,
            )

    d = derived("col_stream", [table_path(sf_dir, "events")], build)
    register_col_datasource(spark)
    sdf = spark.readStream.format("col").load(d)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_micros").alias("sum_micros"),
    )
    return S.run_to_memory(agg, output_mode="complete", shuffle_partitions=8).orderBy(
        "event_type"
    )


QUERIES["stream_col_source"] = q_stream_col_source

ORACLES["stream_col_source"] = """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                AS BIGINT) AS sum_micros
    FROM events
    GROUP BY event_type ORDER BY event_type
"""


def q_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the family
    (inner, left, full): matched view/purchase pairs emit immediately;
    an unmatched VIEW emits NULL-purchase once the global watermark — min
    over both streams of (max event time − delay) — passes
    view_ts + 30 min (the end of its match window), and an unmatched
    PURCHASE emits NULL-view once the watermark passes purchase_ts (the
    latest view_ts that could still match it). The oracle replicates both
    eviction cutoffs in batch SQL, pinning the two-sided state-eviction
    semantics. State per side is bounded by its watermark delay; a
    stalled side stalls the global watermark and grows BOTH states — the
    production monitoring point (docs/SCALE.md)."""
    from pyspark.sql import functions as F

    events = S.events_stream(spark, sf_dir)
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "60 minutes")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "60 minutes")
    )
    joined = views.join(
        purchases,
        (views.user_id == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "full_outer",
    ).select(
        "view_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user")).alias("user_id"),
    )
    return S.run_to_memory(
        joined, output_mode="append", shuffle_partitions=8
    ).orderBy("view_id", "purchase_id", "user_id")


QUERIES["stream_stream_full_join"] = q_stream_stream_full_join

ORACLES["stream_stream_full_join"] = """
    WITH v AS (
        SELECT event_id AS view_id, user_id, ts AS view_ts
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id AS pu, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT least((SELECT max(view_ts) FROM v),
                     (SELECT max(purchase_ts) FROM p))
               - INTERVAL 60 MINUTE AS w
    ),
    fj AS (
        SELECT view_id, v.user_id, view_ts, purchase_id, pu, purchase_ts
        FROM v FULL JOIN p
          ON v.user_id = pu
         AND purchase_ts >= view_ts
         AND purchase_ts <= view_ts + INTERVAL 30 MINUTE
    )
    SELECT view_id, purchase_id, COALESCE(fj.user_id, pu) AS user_id
    FROM fj, wm
    WHERE (view_id IS NOT NULL AND purchase_id IS NOT NULL)
       OR (purchase_id IS NULL AND view_ts + INTERVAL 30 MINUTE < w)
       OR (view_id IS NULL AND purchase_ts < w)
    ORDER BY view_id, purchase_id, user_id
"""


ORACLES["stream_ewma"] = """
    WITH arr AS (
        SELECT user_id,
               list_transform(
                   list_sort(list(struct_pack(ts := ts, eid := event_id,
                                              v := value))),
                   p -> p.v) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
           round(list_reduce(vals, (acc, x) -> acc / 2.0 + x / 2.0), 6)
               AS ewma_r
    FROM arr ORDER BY user_id
"""


def q_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per hourly tumbling window, computed the way a
    streaming dashboard actually does it: the windowed counts run
    through the REAL streaming engine (state store, watermark,
    availableNow micro-batch into the memory sink), and the rank is a
    bounded batch window over the emitted per-window aggregate — the
    publish step after every trigger. Ties break on event_type; the
    oracle replays count + rank in batch SQL."""
    from pyspark.sql import Window

    sdf = S.tumbling_window_agg(
        S.events_stream(spark, sf_dir), width="1 hour"
    )
    res = S.run_to_memory(
        sdf,
        output_mode="update",
        shuffle_partitions=4,
        no_data_batches=False,
    )
    # Update mode appends one sink row per state UPDATE: a multi-batch
    # replay (directory of part files, maxFilesPerTrigger) would leave
    # partial-count rows next to final ones. Collapse to the final
    # state first — counts only grow, so max == last (the same dedup
    # stream_stateful_multibatch does).
    final = res.groupBy("window_start", "event_type").agg(
        F.max("n_events").alias("n_events")
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        final.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n_events", "rnk")
        .orderBy("window_start", "rnk")
    )


QUERIES["stream_windowed_topk"] = q_stream_windowed_topk

ORACLES["stream_windowed_topk"] = """
    WITH wcounts AS (
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type ASC) AS rnk
        FROM wcounts
    )
    SELECT window_start, event_type, n_events, rnk
    FROM r WHERE rnk <= 3 ORDER BY window_start, rnk
"""


def _kmv_stream_sketch(spark: SparkSession, sf_dir: str, sk_path: str) -> DataFrame:
    """Maintain the per-type KMV sketch over the 8 micro-batches of
    ``_events_8files`` into ``sk_path`` and read it back."""
    path8 = _events_8files(spark, sf_dir)
    batch_schema = spark.read.parquet(path8).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path8)
        .select("event_type", "user_id")
    )
    S.foreach_batch_kmv_merge(
        stream, sk_path, ["event_type"], "user_id", k=64
    )
    return spark.read.parquet(sk_path)


def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user maintenance on a stream WITHOUT retaining keys:
    8 real micro-batches (the multibatch fixture) each merge their
    per-type KMV sketch into a persisted sketch table via foreachBatch
    (streaming/foreach_batch_kmv_merge) — bounded types x 64-hash state.
    Min-k distributivity makes the maintained sketch equal the batch-
    built one, so the oracle recomputes sketch AND estimate straight
    from the events table, batch-free; the exact distinct count rides
    along so the estimator's error is visible in the gate output."""
    # fresh maintenance run each time
    sk = _kmv_stream_sketch(spark, sf_dir, os.path.join(run_dir("kmv_stream"), "sk"))
    summ = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sk"),
        F.max("h").cast("bigint").alias("u_k"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    from ..operators.sketches import kmv_estimate

    return (
        summ.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_sk",
            "u_k",
            F.round(
                kmv_estimate(F.col("n_sk"), F.col("u_k"), 64), 4
            ).alias("est_r"),
        )
        .orderBy("event_type")
    )


QUERIES["stream_kmv_distinct"] = q_stream_kmv_distinct

ORACLES["stream_kmv_distinct"] = """
    WITH hs AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substr(md5('kmv:'
                    || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM events
    ),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h, row_number() OVER (
                       PARTITION BY event_type ORDER BY h) AS rn
            FROM hs
        ) WHERE rn <= 64
    ),
    summ AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sk,
               CAST(MAX(h) AS BIGINT) AS u_k
        FROM sk GROUP BY event_type
    ),
    exact AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT s.event_type, e.n_exact, s.n_sk, s.u_k,
           round(CASE WHEN s.n_sk < 64 THEN CAST(s.n_sk AS DOUBLE)
                      ELSE 63.0 * 1152921504606846976.0
                           / CAST(s.u_k AS DOUBLE) END, 4) AS est_r
    FROM summ s JOIN exact e USING (event_type)
    ORDER BY s.event_type
"""


def q_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming POINT-IN-TIME enrichment: the stream-static join carries
    a temporal validity condition — each event matches the dimension row
    valid AT its event time (user_id equi-key + ts in [valid_from,
    valid_to)), the streaming counterpart of join_scd2_pit. Users
    divisible by 3 change segment mid-January, so events before and
    after the change enrich DIFFERENTLY — an equi-only enrichment
    (stream_static_join) cannot express this. The dim stays a per-batch
    broadcast; the range residual rides the hash join; update-mode agg
    over the bounded segment space."""
    stream = S.events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    change = F.lit("2024-01-16").cast("timestamp")
    far = F.lit("9999-12-31").cast("timestamp")
    seg0 = F.concat(F.lit("SEG_"), (F.col("user_id") % 4).cast("string"))
    seg1 = F.concat(F.lit("UPG_"), (F.col("user_id") % 4).cast("string"))
    dim = (
        cust.select(
            "user_id",
            seg0.alias("segment"),
            F.lit("2024-01-01").cast("timestamp").alias("valid_from"),
            F.when(F.col("user_id") % 3 == 0, change)
            .otherwise(far)
            .alias("valid_to"),
        )
    ).unionByName(
        cust.where(F.col("user_id") % 3 == 0).select(
            "user_id",
            seg1.alias("segment"),
            change.alias("valid_from"),
            far.alias("valid_to"),
        )
    )
    enriched = stream.join(
        F.broadcast(dim),
        (stream["user_id"] == dim["user_id"])
        & (stream["ts"] >= dim["valid_from"])
        & (stream["ts"] < dim["valid_to"]),
        "inner",
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )
    return S.run_to_memory(
        agg, output_mode="update", shuffle_partitions=8
    ).orderBy("segment")


QUERIES["stream_pit_enrich"] = q_stream_pit_enrich

ORACLES["stream_pit_enrich"] = """
WITH dim AS (
  SELECT c_custkey AS user_id,
         'SEG_' || CAST(c_custkey % 4 AS VARCHAR) AS segment,
         TIMESTAMP '2024-01-01' AS valid_from,
         CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '2024-01-16'
              ELSE TIMESTAMP '9999-12-31' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey,
         'UPG_' || CAST(c_custkey % 4 AS VARCHAR),
         TIMESTAMP '2024-01-16',
         TIMESTAMP '9999-12-31'
  FROM customer WHERE c_custkey % 3 = 0
)
SELECT d.segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e
JOIN dim d
  ON d.user_id = e.user_id
 AND e.ts >= d.valid_from
 AND e.ts < d.valid_to
GROUP BY d.segment
ORDER BY d.segment
"""
