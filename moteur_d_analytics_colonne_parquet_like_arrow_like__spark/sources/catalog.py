"""Table catalog over the driver testdata (TESTDATA.md).

The reference addresses exactly one file per query (``cae/README.md:137``);
multi-table is our extension surface. The catalog maps logical table names to
parquet paths under a scale-factor directory and registers temp views so the
same queries run via DataFrame or ``spark.sql``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Logical tables shipped by the driver (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor; fact tables
# are the scan-heavy side. Used by operators to pick broadcast joins.
DIM_TABLES: frozenset[str] = frozenset(
    {"region", "nation", "supplier", "part", "customer"}
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def _parquet_files(path: str) -> list[str]:
    """``path`` may be a single parquet file or a directory of part files."""
    if os.path.isdir(path):
        files = [
            os.path.join(path, entry)
            for entry in sorted(os.listdir(path))
            if entry.endswith(".parquet") and not entry.startswith("_")
        ]
        if not files:
            raise FileNotFoundError(f"no parquet part files under {path}")
        return files
    return [path]


def files_key(*paths: str) -> tuple[tuple[str, int, int], ...]:
    """``(file, size, mtime_ns)`` of every parquet file under ``paths``:
    the identity of local inputs, which changes when data is rewritten at
    the same path. Key for anything derived from those inputs."""
    out = []
    for path in paths:
        for f in _parquet_files(path):
            st = os.stat(f)
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


# Footer-probe cache: the testdata's ts encoding has already changed once
# between rounds (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)), so the loaders
# detect the type they actually got instead of hard-coding one vintage.
# Keyed by ``files_key``, so a dataset regenerated in place mid-session
# re-probes instead of serving a stale vintage; a footer read is
# driver-side metadata only.
_TS_PROBE_CACHE: dict[tuple[tuple[str, int, int], ...], str] = {}


def probe_events_ts_type(path: str) -> str:
    """Arrow type string of events.ts from the parquet footer, e.g.
    ``timestamp[ns]``, ``timestamp[us]``, ``timestamp[us, tz=UTC]``, ``int64``.
    Probes EVERY part file — a directory with mixed ts encodings would be
    silently mis-normalized by a first-file-only probe — and sanity-checks
    the footer min/max stats: a silent re-encoding that lands timestamps
    outside 2000-2100 fails loudly here rather than corrupting every
    downstream window/join (the round-3 failure mode)."""
    cache_key = files_key(path)
    cached = _TS_PROBE_CACHE.get(cache_key)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    kinds: dict[str, str] = {}
    for f, _, _ in cache_key:
        pf = pq.ParquetFile(f)
        kind = str(pf.schema_arrow.field("ts").type)
        kinds[f] = kind
        _assert_events_ts_bounds(pf, kind, f)
    if len(set(kinds.values())) > 1:
        raise ValueError(
            f"mixed events.ts encodings under {path}: {kinds}. A single "
            "normalization branch cannot serve both — repartition the data "
            "to one encoding or split the load."
        )
    kind = next(iter(kinds.values()))
    _TS_PROBE_CACHE[cache_key] = kind
    return kind


def _assert_events_ts_bounds(pf, kind: str, fname: str) -> None:
    import datetime

    md = pf.metadata
    ci = next(
        (i for i in range(md.num_columns) if md.schema.column(i).path == "ts"),
        None,
    )
    if ci is None:
        return  # no ts column in this file; nothing to check
    vals = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            # Stats absent (a writer can legally omit them) — the bounds
            # check must not silently lapse: fall back to reading ONE row
            # and checking that instead of skipping the guard entirely.
            vals = _first_ts_values(pf)
            break
        vals.extend((st.min, st.max))
    unit_div = {"ns": 10**9, "us": 10**6, "ms": 10**3, "s": 1}
    years = []
    for v in vals:
        if isinstance(v, int):
            unit = kind.split("[", 1)[1].split(",")[0].rstrip("]") if "[" in kind else "us"
            v = datetime.datetime.fromtimestamp(
                v // unit_div.get(unit, 10**6), tz=datetime.timezone.utc
            )
        years.append(v.year)
    if years and not all(2000 <= y <= 2100 for y in years):
        raise ValueError(
            f"events.ts sanity check failed for {fname}: footer type {kind!r} "
            f"with min/max years {sorted(set(years))} outside [2000, 2100]. "
            "The testdata encoding likely changed again — fix "
            "sources/catalog.py::_normalize_events_ts before trusting any "
            "events-derived result."
        )


def _first_ts_values(pf) -> list:
    """One-row fallback for stats-less files: read the first batch's first
    ``ts`` value so the [2000, 2100] bounds guard still fires."""
    for batch in pf.iter_batches(batch_size=1, columns=["ts"]):
        if batch.num_rows:
            return batch.column(0).to_pylist()[:1]
    return []


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Branch on the dtype Spark ACTUALLY loaded, not an assumed vintage.

    - ``bigint``: legacy TIMESTAMP(NANOS) parquet read under nanosAsLong —
      long nanos → micros timestamp via integer div (``/ 1000`` would
      round-trip through double and lose precision past 2^53).
    - ``timestamp_ntz`` / ``timestamp``: native parquet timestamp (the
      current testdata ships TIMESTAMP(MICROS), isAdjustedToUTC=false).
      Cast to session-tz TIMESTAMP — the session tz is pinned UTC above, so
      naive values are interpreted as the same UTC instants the legacy path
      produced and every downstream window/format is unchanged.
    """
    from pyspark.sql import functions as F  # local: avoid cycle at import

    dt = dict(df.dtypes)["ts"]
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dt in ("timestamp", "timestamp_ntz"):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(
        f"events.ts loaded as unsupported dtype {dt!r}; expected bigint "
        "(legacy nanos), timestamp or timestamp_ntz. Testdata encoding "
        "drifted — extend _normalize_events_ts."
    )


# Session-level table-handle cache: re-resolving a path (file listing +
# footer schema read + analysis) costs ~100 ms per call, which a real
# deployment amortizes through its metastore. One entry per (session,
# sf_dir, name), holding the handle and the ``files_key`` it was resolved
# from: a handle keeps its file listing, so a table rewritten in place
# (a 10-row file rewritten as 20,000 rows read back 3,000) replaces the
# entry instead of being read through the stale listing. Keyed by session
# so a stopped session's handles are never reused.
_TABLE_CACHE: dict[tuple[int, str, str], tuple[tuple, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamps in the testdata are timezone-less instants; the engine
    # renders them in UTC regardless of which session runs the query (a
    # session inheriting a non-UTC JVM default would silently shift every
    # formatted timestamp). Same runtime-conf rule as nanosAsLong below —
    # never depend on the session factory for correctness — and set even
    # on cache hits: rendering picks up the conf at EXECUTION time.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir, name)
    stamp = files_key(table_path(sf_dir, name))
    cached = _TABLE_CACHE.get(key)
    if cached is not None and cached[0] == stamp:
        return cached[1]
    if name == "events":
        # Probe the footer for the encoding the testdata ACTUALLY ships —
        # it has changed between rounds (NANOS → MICROS) and hard-coding a
        # vintage either errors (batch) or silently corrupts (stream).
        kind = probe_events_ts_type(table_path(sf_dir, name))
        if kind == "timestamp[ns]":
            # Spark rejects TIMESTAMP(NANOS) parquet outright unless
            # nanosAsLong is on. The conf must be set on WHATEVER session
            # runs the query — callers (e.g. a verification harness) may hand
            # us a session our own factory never configured — so set it at
            # runtime here. It is a runtime-settable SQL conf.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_events_ts(df)
    _TABLE_CACHE[key] = (stamp, df)
    return df


# Pinned post-load schema contract for every driver table (column name,
# Spark dtype) — the input-side twin of the oracle gate's output checks.
# Round 3 proved the testdata contract can drift between rounds (events.ts
# NANOS → MICROS); this manifest turns the next drift into a seconds-fast
# local failure instead of a lost round. events.ts is pinned to the
# NORMALIZED type ("timestamp"): _normalize_events_ts maps every supported
# source encoding there, so only an unsupported new encoding (already a
# loud TypeError) or a column-level change trips this.
EXPECTED_TABLE_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def verify_table_schemas(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str] = TABLES
) -> None:
    """Assert every table loads with its pinned schema; raise one combined
    error naming each drifted table. Metadata-only (no data jobs)."""
    drifted = []
    for n in names:
        got = load_table(spark, sf_dir, n).dtypes
        want = EXPECTED_TABLE_SCHEMAS[n]
        if got != want:
            drifted.append(f"{n}: expected {want}, loaded {got}")
    if drifted:
        raise ValueError(
            "testdata schema drift detected in "
            + sf_dir
            + ":\n  "
            + "\n  ".join(drifted)
            + "\nUpdate the loaders (and then this manifest) deliberately — "
            "do not let queries run against a drifted contract."
        )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view for spark.sql use."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs
