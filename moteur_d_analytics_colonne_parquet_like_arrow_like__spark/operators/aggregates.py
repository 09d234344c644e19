"""Extended aggregation surface (reference: COUNT/SUM/MIN/MAX only,
``cae/include/execution.h:62-67`` — SURVEY.md §2.5 extension surface).

Everything is a built-in Catalyst aggregate (partial+final, map-side
combine). Notable scale behaviors:

- ``count_distinct`` expands to a two-phase exact plan (shuffle on the
  distinct keys) — at 100 TB prefer ``approx_count_distinct`` (HLL++,
  constant memory, one pass) unless exactness is contractual.
- ``exact_money_sum`` routes double money columns through DECIMAL(18,2) so
  the result is independent of partition/merge order — required for
  cross-engine reproducibility of financial aggregates.
- ``cube``/``rollup``/grouping sets multiply output rows, not input scans —
  one pass over the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def exact_money_sum(col: str | Column) -> Column:
    """Order-independent SUM over a 2-decimal double column (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double")


def count_distinct(df: DataFrame, group_cols: list[str], col: str, alias: str = "n_distinct") -> DataFrame:
    aggs = [F.countDistinct(col).alias(alias)]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs).orderBy(*group_cols)
    return df.agg(*aggs)


def approx_count_distinct(
    df: DataFrame, group_cols: list[str], col: str, rsd: float = 0.01,
    alias: str = "approx_distinct",
) -> DataFrame:
    """HLL++ sketch — the 100 TB default for cardinality."""
    aggs = [F.approx_count_distinct(col, rsd).alias(alias)]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs).orderBy(*group_cols)
    return df.agg(*aggs)


def rollup_agg(df: DataFrame, group_cols: list[str], aggs: list[Column]) -> DataFrame:
    return df.rollup(*group_cols).agg(*aggs)


def cube_agg(df: DataFrame, group_cols: list[str], aggs: list[Column]) -> DataFrame:
    return df.cube(*group_cols).agg(*aggs)
