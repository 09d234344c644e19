"""Local replica of the driver's duckdb-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value hash. Use while iterating so oracle mismatches
surface before the driver's per-round check.

Usage: python tools/check_oracle.py [--bare] [--types-only] [sf_dir] [query_name ...]

``--bare`` runs on a SparkSession built with NO repo confs (mirroring the
driver, which uses its own session) — round 1 proved that factory-only confs
hide real failures, so prefer --bare for pre-round validation. Only its
core count follows ``get_spark`` (``SPARK_GRAFT_CPUS``), so gate timings
compare with factory-session runs.

``--types-only`` skips Spark entirely and only audits every oracle's DuckDB
output types, failing on any HUGEINT/UHUGEINT/DECIMAL column — the round-2
judge traced all four driver hash failures to un-cast integer SUM() columns
(DuckDB promotes to int128) that this lenient checker silently stringified.
Strictness added for round 3: oracle output-type audit (HUGEINT/DECIMAL
forbidden) and dtype-kind comparison before value canonicalization — the
two checks that would have caught every round-1/2 driver hash failure.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
    TABLES,
    table_path,
    verify_table_schemas,
)
import __spark_entry__ as entrymod


#: DuckDB logical types that serialize differently from any Spark type in the
#: driver's hash — their presence in oracle output is an authoring bug even
#: when the *values* agree (int128/decimal vs int64/double representation).
_FORBIDDEN_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def forbidden_oracle_types(rel) -> list[str]:
    """Columns of a DuckDB relation whose logical type can never hash-match
    Spark output. ``rel`` is ``con.sql(oracle)`` (lazy — no execution)."""
    bad = []
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        if any(t.startswith(f) for f in _FORBIDDEN_DUCK_TYPES):
            bad.append(f"{col}:{t}")
    return bad


def _kind(dtype) -> str:
    """Collapse a pandas dtype to the comparison kind the driver's value
    serialization distinguishes: int / float / bool / datetime / object."""
    k = dtype.kind
    return {
        "i": "int",
        "u": "int",
        "f": "float",
        "b": "bool",
        "M": "datetime",
        "m": "timedelta",
    }.get(k, "object")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: sort columns by name, normalize
    values to strings, sort rows.

    Floats serialize at FULL repr (shortest round-trip, up to 17 sig
    digits). Round 7 proved the previous 9-significant-digit form was
    looser than the driver's hash: ``events_seasonal_strength`` diverged
    at the 16th digit (Spark 1.77099782206125e+21 vs DuckDB
    1.7709978220612496e+21 — distinct doubles, identical through digit
    15), passed both local sweeps, and hash-failed at the driver. Only
    full repr distinguishes distinct doubles, so full repr is the local
    bar; any query that mismatches here is a latent driver failure."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(col: pd.Series) -> pd.Series:
        if col.dtype.kind == "f":
            return col.map(lambda v: "" if pd.isna(v) else repr(float(v)))
        if str(col.dtype).startswith("datetime"):
            return col.map(lambda v: "" if pd.isna(v) else v.isoformat())
        return col.map(lambda v: "" if v is None else str(v))

    out = df.apply(norm)
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
            drop=True
        )
    return out


def compare(name: str, spark_df, con) -> tuple[bool, str]:
    oracles = entrymod.oracle_sql()
    spark_pdf = spark_df.toPandas()
    if name not in oracles:
        return True, f"rows-only check: {len(spark_pdf)} rows"
    rel = con.sql(oracles[name])
    bad = forbidden_oracle_types(rel)
    if bad:
        return False, f"forbidden oracle output type(s): {bad} — CAST to BIGINT/DOUBLE"
    duck_pdf = con.execute(oracles[name]).fetchdf()
    # dtype-kind comparison before value canonicalization: the driver
    # serializes typed values, so an int-vs-float (or object) divergence
    # hash-fails there even when stringified values would compare equal here.
    s_kinds = {c: _kind(spark_pdf[c].dtype) for c in spark_pdf.columns}
    d_kinds = {c: _kind(duck_pdf[c].dtype) for c in duck_pdf.columns}
    if set(s_kinds) == set(d_kinds):
        mism = {
            c: (s_kinds[c], d_kinds[c])
            for c in s_kinds
            if s_kinds[c] != d_kinds[c]
            # empty frames degrade to object on one side — values decide
            and len(spark_pdf) and len(duck_pdf)
            # all-NULL columns arrive as object/float interchangeably
            and not (spark_pdf[c].isna().all() or duck_pdf[c].isna().all())
        }
        if mism:
            return False, f"dtype-kind mismatch (spark, duck): {mism}"
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    if list(a.columns) != list(b.columns):
        return False, f"column mismatch: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return False, f"row count mismatch: spark={len(a)} duck={len(b)}"
    if not a.equals(b):
        neq = (a != b).any(axis=1)
        idx = neq[neq].index[:3]
        detail = "; ".join(
            f"row {i}: spark={a.loc[i].to_dict()} duck={b.loc[i].to_dict()}" for i in idx
        )
        return False, f"value mismatch on {int(neq.sum())}/{len(a)} rows; {detail}"
    return True, f"match ({len(a)} rows)"


def types_only(sf_dir: str, only: set[str]) -> int:
    """Audit every oracle's DuckDB output types without touching Spark."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    failures = 0
    for name, sql in entrymod.oracle_sql().items():
        if only and name not in only:
            continue
        try:
            bad = forbidden_oracle_types(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name:40s} EXCEPTION {type(e).__name__}: {e}")
            failures += 1
            continue
        if bad:
            print(f"FAIL {name:40s} forbidden type(s): {bad}")
            failures += 1
    print(f"\n{'ALL ORACLE TYPES CLEAN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


def main() -> int:
    flags = {"--bare", "--types-only"}
    argv = [a for a in sys.argv[1:] if a not in flags]
    bare = "--bare" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if "--types-only" in sys.argv[1:]:
        return types_only(sf_dir, only)
    if bare:
        from pyspark.sql import SparkSession

        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.session import _cpus

        spark = (
            SparkSession.builder.master(f"local[{_cpus()}]")
            .appName("check_oracle_bare")
            .getOrCreate()
        )
    else:
        spark = get_spark("check_oracle")
    # Input-side contract first: the round-3 events drift would have failed
    # HERE in seconds instead of costing the round (VERDICT r3 item 7).
    verify_table_schemas(spark, sf_dir)
    print(f"input schemas OK ({len(TABLES)} tables match pinned manifest)")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    qs = entrymod.queries()
    unknown = only - set(qs)
    if unknown:
        # an unregistered name would otherwise filter to zero checks and
        # report a vacuous ALL GREEN (observed: a mangled shell append
        # left the query out of the registry and this script shrugged)
        print(f"UNKNOWN query name(s): {sorted(unknown)}")
        return 1
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            ok, msg = compare(name, fn(spark, sf_dir), con)
        except Exception as e:  # surface, keep going
            ok, msg = False, f"EXCEPTION {type(e).__name__}: {e}"
        status = "OK  " if ok else "FAIL"
        print(f"{status} {name:40s} {time.time()-t0:6.2f}s  {msg}")
        failures += 0 if ok else 1
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
