"""Structured Streaming surface (reference: ABSENT — SURVEY.md §2.10).

The driver's ``events`` table doubles as a replayable stream: a file-source
``readStream`` over the parquet path. Operators:

- tumbling / sliding window aggregation (``F.window``) with watermarks,
- session windows (``F.session_window``),
- streaming dedup (``dropDuplicates`` within a watermark),
- custom stateful per-key processing (``applyInPandasWithState``).

``run_to_memory`` executes any streaming plan with an ``availableNow``
trigger into a memory sink and returns the result as a batch DataFrame —
real micro-batch execution with state + watermarks, but bounded, so the
driver's oracle can compare it against batch SQL.

Scale notes: streaming aggregation state lives in the state store keyed by
(window, group) — at 100 TB/day the watermark bounds state size; session
windows additionally need the gap to bound session growth. Output modes:
windowed aggs run in "complete" here (memory sink); production sinks use
"append" + watermark-closed windows.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


def _volatile_ckpt_root() -> str:
    """Checkpoint root for bounded memory-sink replays: RAM-backed when the
    platform offers it (the WAL + state deltas of a non-resumable query
    into a non-durable sink have no recovery value — see run_to_memory),
    the system temp dir otherwise."""
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        # Capacity guard: container runtimes often mount a tiny tmpfs
        # (Docker defaults /dev/shm to 64 MiB) where state deltas + WAL
        # of a replay would hit ENOSPC mid-batch; require real headroom
        # before preferring it over the system temp dir.
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 256 * 1024 * 1024:
                return shm
        except OSError:
            pass
    return tempfile.gettempdir()


def _events_raw_schema(ts_kind: str) -> T.StructType:
    """Stream-read schema derived from the footer type the testdata ACTUALLY
    ships (probed via :func:`catalog.probe_events_ts_type`). Round 3 proved
    hard-coding a vintage is the silent-corruption path: an explicit LongType
    schema read the MICROS physical int64 without error, then ``div 1000``
    compressed a month of events into 43 minutes of 1970."""
    if ts_kind == "timestamp[ns]":
        ts_type: T.DataType = T.LongType()  # long nanos under nanosAsLong
    elif "tz=" in ts_kind:
        ts_type = T.TimestampType()
    elif ts_kind.startswith("timestamp["):
        ts_type = T.TimestampNTZType()
    else:
        raise TypeError(f"unsupported events.ts parquet type {ts_kind!r}")
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


# Stream-plan memo (r14): a DataFrame is an immutable logical PLAN — no
# data, no offsets, no state — so rebuilding it per bounded replay re-pays
# ~40-60 ms of py4j plan assembly for an identical object. Same class as
# the adjudicated session-keyed table-handle cache for batch reads (r2):
# one entry per (session application id, events path), holding the plan
# and the ``files_key`` it was built from; a regenerated or grown dataset
# replaces the entry instead of serving a stale plan or adding one more.
# Plans only, never results.
_STREAM_PLAN_CACHE: dict[tuple[str, str], tuple[tuple, DataFrame]] = {}


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. The file source requires a
    directory; support both layouts: an ``events.parquet/`` directory of
    part files (relayouts, production tables) is streamed directly, while a
    single ``events.parquet`` file (driver testdata) is streamed from its
    parent dir with a glob confining the stream to that one file."""
    from ..sources.catalog import files_key, probe_events_ts_type

    path = os.path.join(sf_dir, "events.parquet")
    # Probe the parquet footer (driver-side metadata + min/max sanity check)
    # and build the stream schema to match — see _events_raw_schema.
    ts_kind = probe_events_ts_type(path)
    # The session running this query may not be one our factory configured —
    # set the confs at runtime on the caller's session (UTC: see
    # catalog.load_table; nanosAsLong only when the data is actually NANOS).
    # Re-applied even on a memo hit: another query may have drifted them.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if ts_kind == "timestamp[ns]":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cache_key = (spark.sparkContext.applicationId, path)
    stamp = files_key(path)
    cached = _STREAM_PLAN_CACHE.get(cache_key)
    if cached is not None and cached[0] == stamp:
        return cached[1]
    schema = _events_raw_schema(ts_kind)
    if os.path.isdir(path):
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if ts_kind == "timestamp[ns]":
        # Long nanos → micros timestamp; integer div keeps precision past 2^53.
        out = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        # Native timestamp: NTZ naive values cast to session-tz (UTC)
        # TIMESTAMP — same instants the legacy path produced, no-op if
        # already TIMESTAMP.
        out = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    _STREAM_PLAN_CACHE[cache_key] = (stamp, out)
    return out


def tumbling_window_agg(
    stream: DataFrame,
    width: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window count/sum per event_type with a watermark bounding
    late data and state."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), F.col("event_type"))
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


def sliding_window_agg(
    stream: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in width/slide overlapping windows."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def session_window_agg(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "60 minutes",
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. Emits session start/end (end = last event + gap, Spark's
    documented semantics) + stats."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming dedup on key columns within the watermark horizon. Emits
    key columns only: which row 'wins' per key is arrival-order dependent,
    so projecting the keys keeps output deterministic."""
    return (
        stream.withWatermark("ts", watermark)
        .select(*keys, "ts")
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into a memory
    sink; returns the sink contents as a batch DataFrame.

    ``shuffle_partitions`` sizes the state store for THIS query (the
    partition count is captured at query start and fixed for the query's
    lifetime): each state partition pays per-batch init/commit overhead, so
    size to key cardinality — small replays want 4-8, a production
    deployment wants enough for its keyspace. Session conf is restored
    afterwards.

    ``no_data_batches=False`` disables the trailing empty micro-batch the
    engine fires to advance the watermark after the data is exhausted
    (``spark.sql.streaming.noDataMicroBatches.enabled``). For UPDATE-mode
    aggregations every row was already emitted by the data batches, so the
    no-data batch contributes nothing to the sink yet pays a full state
    reload+commit per partition — measured ~0.5 s of a 1.3 s bounded
    replay. APPEND-mode queries MUST keep it: the no-data batch is what
    finalizes windows past the watermark (the gate's
    ``stream_tumbling_append`` output would lose its last windows).

    Checkpointing is VOLATILE (RAM-backed /dev/shm when it exists with
    >=256 MiB headroom — container runtimes often mount a tiny tmpfs —
    the system temp dir otherwise; deleted
    after the run either way): the memory sink itself is non-durable and
    scoped to this session, so a WAL + state checkpoint that outlives the
    process buys nothing — there is no sink to recover INTO. Measured
    (tools/stream_floor.py, r9): the state-store delta writes inside
    addBatch are the single biggest floor component (524 ms of a 1.14 s
    replay) and moving them off disk shaves ~11% end-to-end. A DURABLE
    sink (foreach_batch_upsert) must keep its checkpoint on real storage
    next to the sink table — this policy is memory-sink-specific.
    """
    name = query_name or f"mem_{uuid.uuid4().hex[:8]}"
    spark = sdf.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batches else "false",
    )
    ckpt = os.path.join(_volatile_ckpt_root(), f"ckpt_{name}")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb
        )
        # The bounded replay is complete; its checkpoint can never be
        # resumed (fresh name per call) — don't leak it.
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def run_and_read_state(
    sdf: DataFrame,
    output_mode: str = "update",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow, memory
    sink), then read back its STATE STORE via Spark 4's ``statestore``
    data source and return the state contents with lineage cut (the
    checkpoint is deleted after the eager localCheckpoint, so the
    returned frame is self-contained).

    This is the production state-audit tool surfaced as an operator:
    at 100 TB the thing that kills a stateful pipeline is unbounded
    state, and the state reader is how you PROVE the watermark bounds
    it — the returned rows are exactly the live (not-yet-evicted)
    groups, i.e. windows whose end is still above the final watermark.
    Spark evicts aggregation state once the watermark passes the
    window end, so a bounded replay's final state is the last
    ``watermark-delay`` worth of windows, however much history was
    replayed."""
    name = f"state_{uuid.uuid4().hex[:8]}"
    spark = sdf.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    ckpt = os.path.join(_volatile_ckpt_root(), f"ckpt_{name}")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        state = spark.read.format("statestore").load(ckpt)
        return state.localCheckpoint(eager=True)
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)


def _recover_swap(path: str) -> None:
    """Heal a crash inside ``_publish_swap``: if the live dir is missing
    but the displaced previous state survives, restore it. Safe to call
    before every merge — the displaced dir only exists inside the swap
    window."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def _publish_swap(staging: str, path: str) -> None:
    """Replace the state dir at ``path`` with ``staging`` without a
    destroy-then-rename window: the previous state is DISPLACED (rename
    to ``<path>.old``), the new state renamed in, then the displaced
    dir dropped. A crash at any point leaves either the old state
    restorable (``_recover_swap``) or the new state live — never
    nothing. (rmtree(path) followed by rename(staging, path) has a
    window where the accumulated state is simply gone; a restart would
    silently rebuild from one batch.)"""
    import shutil

    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def foreach_batch_upsert(
    stream: DataFrame,
    path: str,
    keys: list[str],
    order_cols: list[str],
    output_cols: list[str] | None = None,
    num_buckets: int | None = None,
) -> None:
    """The production streaming sink pattern: ``foreachBatch`` merging each
    micro-batch into a keyed table — keep the row with the highest
    ``order_cols`` per key (last-writer-wins upsert).

    Two layouts:

    - ``num_buckets=None``: whole-table merge (read + union + rank + write
      to a staging dir, atomic swap). Fine for small dimension tables;
      O(table) I/O per batch.
    - ``num_buckets=N`` — **the 100 TB path**: the table is partitioned by
      a deterministic key-hash bucket; each batch merges ONLY the buckets
      its keys touch (partition-pruned read, dynamic partition overwrite),
      so batch cost is O(batch keys · bucket size), independent of table
      size. On a lakehouse table format the same hook is a MERGE INTO.

    Both modes are idempotent per batch (re-running a batch reproduces the
    same table), which upgrades at-least-once delivery to exactly-once
    table state.
    """
    import shutil

    from pyspark.sql import Window

    # Final tie-breaker: batch provenance (__src 1=incoming, 0=existing),
    # ordered so the incoming row wins when order_cols tie exactly —
    # without it row_number picks a nondeterministic survivor on ties and
    # "idempotent per batch" does not strictly hold.
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_cols], F.col("__src").desc()
    )

    def rank1(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )

    def merge_full(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        _recover_swap(path)
        cols = output_cols or batch.columns
        current = batch.select(*cols).withColumn("__src", F.lit(1))
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            current = (
                spark.read.parquet(path)
                .select(*cols)
                .withColumn("__src", F.lit(0))
                .union(current)
            )
        staging = path + ".staging"
        rank1(current).write.mode("overwrite").parquet(staging)
        _publish_swap(staging, path)

    def merge_bucketed(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        cols = output_cols or [c for c in batch.columns]
        bucket = F.pmod(F.xxhash64(*keys), F.lit(num_buckets)).cast("int")
        fresh = (
            batch.select(*cols)
            .withColumn("__bucket", bucket)
            .withColumn("__src", F.lit(1))
        )
        # one tiny driver round-trip: which buckets does this batch touch?
        touched = [r["__bucket"] for r in fresh.select("__bucket").distinct().collect()]
        if not touched:
            return
        current = fresh
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            existing = (
                spark.read.parquet(path)
                .where(F.col("__bucket").isin(touched))  # partition-pruned
                .select(*cols, "__bucket")
                .withColumn("__src", F.lit(0))
            )
            current = existing.union(fresh)
        # Materialize before writing: dynamic overwrite cannot write a path
        # its own plan is still reading. The merged set is O(batch buckets).
        merged = rank1(current).localCheckpoint(eager=True)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("__bucket").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    (
        stream.writeStream.foreachBatch(
            merge_bucketed if num_buckets else merge_full
        )
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join("/tmp", f"ckpt_upsert_{uuid.uuid4().hex[:8]}"),
        )
        .start()
        .awaitTermination()
    )


def foreach_batch_kmv_merge(
    stream: DataFrame,
    path: str,
    group_cols: list[str],
    key_col: str,
    k: int = 64,
) -> None:
    """Streaming distinct-count maintenance via mergeable KMV sketches:
    each micro-batch builds its per-group bottom-``k`` sketch
    (operators/sketches.kmv_sketch) and merges it into the persisted
    sketch table — union, distinct, re-bottom-k, atomic staging swap.

    The state is groups x k hashes — bounded regardless of stream
    volume, with NO raw keys retained (the privacy-friendly property of
    hash sketches). Because min-k is distributive, the maintained
    sketch EQUALS the one built over all data at once — any batch
    split, any arrival order — and a replayed batch merges to the
    identical table (union-distinct absorbs duplicates), upgrading
    at-least-once delivery to exactly-once sketch state. At 100 TB the
    per-batch cost is the batch's own distinct + a groups*k-row read —
    table size never enters."""
    import shutil

    from pyspark.sql import Window

    from ..operators.sketches import kmv_sketch

    def merge(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        _recover_swap(path)
        sk = kmv_sketch(batch, group_cols, key_col, k=k).select(
            *group_cols, "h"
        )
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            sk = sk.union(sp.read.parquet(path).select(*group_cols, "h"))
        w = Window.partitionBy(*group_cols).orderBy(F.col("h").asc())
        merged = (
            sk.distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
        )
        staging = path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        _publish_swap(staging, path)

    (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join("/tmp", f"ckpt_kmv_{uuid.uuid4().hex[:8]}"),
        )
        .start()
        .awaitTermination()
    )


def stateful_user_running_stats(
    stream: DataFrame,
    timeout_minutes: int | None = None,
    sum_col: str = "value",
    integer_sum: bool = False,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count + value sum, emitting the updated state each micro-batch.

    The state store holds one (count, sum) pair per user. Pass
    ``timeout_minutes`` on a continuous deployment to evict idle users (the
    pattern for unbounded keyspaces at scale); leave None for bounded
    (availableNow) runs — a processing-time timeout keeps the query alive
    waiting for timer expiry, which never ends under availableNow.

    ``integer_sum=True`` accumulates ``sum_col`` as exact int64 (the column
    must already be integral, e.g. fixed-point micros computed in Catalyst
    upstream) — the oracle-checkable mode: partial sums merge exactly no
    matter how batches split.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sum_type = T.LongType() if integer_sum else T.DoubleType()
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("sum_value", sum_type, False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType(), False),
            T.StructField("s", sum_type, False),
        ]
    )
    zero = 0 if integer_sum else 0.0
    conv = int if integer_sum else float

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, zero)
        for pdf in pdfs:
            n += len(pdf)
            s += conv(pdf[sum_col].sum())
        state.update((n, s))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stateful_per_type_counts_tws(stream: DataFrame) -> DataFrame:
    """Per-user, per-event-type running counts via Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` (SPARK-49564): typed state primitives
    (value/list/map state), timers, TTL, and initial-state bootstrap,
    instead of one opaque state tuple. Here the per-type counters live in
    a MapState keyed by event_type; each micro-batch emits the updated
    (user, type) pairs.

    ENVIRONMENT GATE: the transformWithState Python worker speaks the
    state-server protocol over protobuf, so this operator needs
    ``google.protobuf`` at runtime (not installable in this container —
    verified round 4, re-probed absent rounds 5, 6 (again in the r6
    session-5 continuation), 7, 8, and 9
    (``import google.protobuf`` → ModuleNotFoundError): the JVM reports
    "TransformWithStateInPySpark driver worker
    exited unexpectedly" when the import fails) plus the RocksDB state
    store provider, which ships with Spark. On a real cluster both are
    present; tests skip without protobuf. The applyInPandasWithState twin
    (``stateful_user_running_stats``) carries the oracle-checked gate
    coverage meanwhile.
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf for the "
            "state-server protocol; install protobuf or use "
            "stateful_user_running_stats (applyInPandasWithState) instead"
        ) from e

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("n_events", T.LongType(), False),
        ]
    )

    class PerTypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.counts = handle.getMapState(
                "counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            uid = key[0]
            touched: dict[str, int] = {}
            for pdf in rows:
                for et, c in pdf.groupby("event_type").size().items():
                    cur = self.counts.getValue((et,))
                    n = (cur[0] if cur else 0) + int(c)
                    self.counts.updateValue((et,), (n,))
                    touched[et] = n
            yield pd.DataFrame(
                {
                    "user_id": [uid] * len(touched),
                    "event_type": list(touched.keys()),
                    "n_events": list(touched.values()),
                }
            )

        def close(self) -> None:
            pass

    spark = stream.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PerTypeCounts(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stateful_user_ewma(stream: DataFrame, value_col: str = "value") -> DataFrame:
    """Streaming EWMA (alpha = 1/2) per user via applyInPandasWithState —
    the ORDER-SENSITIVE recurrence as streaming state: state carries
    (n, ewma); each micro-batch sorts its group's rows by (ts, event_id)
    and folds ``e' = e/2 + x/2`` (first observation seeds the level).

    Order contract: the fold is exact for rows ordered WITHIN the
    batches it sees (a bounded availableNow replay delivers each user's
    history in one batch — the gate shape). A production deployment
    where a user's events can split across micro-batches OUT of event
    order needs upstream sequencing (watermark-sorted windows or a
    sequence number) before any order-sensitive stateful fold — that is
    a property of the recurrence, not this operator; the commutative
    twin (``stateful_user_running_stats``) has no such contract.

    Python floats are IEEE doubles, halving is exact, and addition is
    correctly rounded — the streaming fold lands bit-identically on the
    batch oracle's ``list_reduce``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("ewma", T.DoubleType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType(), False),
            T.StructField("e", T.DoubleType(), False),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, e = state.get if state.exists else (0, 0.0)
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        for v in rows[value_col]:
            x = float(v)
            e = x if n == 0 else e / 2.0 + x / 2.0
            n += 1
        state.update((n, e))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [e]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
