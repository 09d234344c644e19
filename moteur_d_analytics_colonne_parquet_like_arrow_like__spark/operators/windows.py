"""Window functions (reference: ABSENT — SURVEY.md §2.6 extension surface).

All built-in ``Window`` specs — the shuffle is one exchange on the partition
key, and every function over the same (partitionBy, orderBy) shares it.
Scale notes: a window with no ``partitionBy`` collapses to a single task —
every helper here requires a partition key; ordering ties are broken with a
unique id so results are deterministic under any shuffle order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """row_number ≤ k per group. order_cols must end with a unique
    tie-breaker for determinism."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def top_k_per_group_ordered(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """``top_k_per_group`` with presentation order ``(partition_cols, rnk)``
    — from ONE exchange instead of two (r13 optimization round, guide §2.4:
    operations keyed the same way share one exchange).

    The naive composition ``top_k_per_group(...).orderBy(*partition_cols,
    rank_col)`` plans as Exchange(hash partition_cols) + Sort + Window +
    Filter + Exchange(range partition_cols, rnk) + Sort — the second
    exchange re-shuffles the output only to present it. This form
    range-partitions the INPUT by the partition key and sorts within
    partitions by (partition key, window order): RangePartitioning(key)
    satisfies the window's ClusteredDistribution(key) and the in-partition
    sort satisfies its required ordering, so the window runs with NO added
    exchange or sort — and because within a group the window order IS rank
    order, the filtered output is already totally ordered by
    (partition_cols, rnk) across the range-ordered partitions. Measured on
    the bench shape (orders, 150k rows, 32 cores): 254 → 150 ms median,
    row- AND order-identical (r13 interleaved A/B). Scale note: this form
    shuffles every input row once, where the two-exchange form's partial
    WindowGroupLimit can pre-prune to ≤ k·keys·tasks rows before its first
    exchange — for corpora with per-key duplication ≫ task count, prefer
    the unordered form + explicit sort. One exchange wins whenever rows/key
    is moderate (the bench shape: ~10 rows/key).
    """
    from ..session import explicit_shuffle_width

    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    # Explicit partition count: without it AQE coalesces this range
    # exchange to ~1 partition (4 MB of keys fits one advisory chunk) and
    # the sort + window run single-task — measured 0.32 s vs 0.15 s on the
    # bench shape. The width is data-derived (bytes-per-task floor, capped
    # at the session shuffle-partition conf): widths 4-8 measured flat-best
    # at bench scale where conf-width 32 paid 1.4-2x in tiny-task
    # scheduling, and at production scale the cap (the cluster-sized conf)
    # is what's used — see session.explicit_shuffle_width.
    n = explicit_shuffle_width(df)
    return (
        df.repartitionByRange(n, *[F.col(c) for c in partition_cols])
        .sortWithinPartitions(*[F.col(c) for c in partition_cols], *order_cols)
        .withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def running_agg(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
    value_col: Column,
    out_col: str = "running_sum",
) -> DataFrame:
    """Cumulative sum per partition; SQL-standard RANGE frame so ordering
    peers (equal order keys) share a value — deterministic without a
    tie-breaker."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def lag_delta(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    value_col: str,
    out_col: str = "delta",
) -> DataFrame:
    """value − lag(value) per partition (e.g. inter-event gaps)."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(
        out_col, F.col(value_col) - F.lag(value_col, 1).over(w)
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Batch sessionization: a new session starts when the gap to the
    previous event of the same key exceeds ``gap_seconds``. Classic
    two-window composition (lag → boundary flag → running count); one
    shuffle on the key. The streaming twin is ``F.session_window`` in
    streaming/windows.py."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev_ts = F.lag(ts_col, 1).over(w)
    new_session = (
        prev_ts.isNull()
        | (F.col(ts_col).cast("long") - prev_ts.cast("long") > gap_seconds)
    ).cast("int")
    return (
        df.withColumn("__new", new_session)
        .withColumn(session_col, F.sum("__new").over(w))
        .drop("__new")
    )
