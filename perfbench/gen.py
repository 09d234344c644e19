"""Seeded input generators for every workload of the benchmark.

One ``--seed`` drives all four input sets. Each set draws from its own
``numpy`` generator keyed on ``(seed, kind, *indices)``, so the inputs of
one op never depend on how many ops ran before it, and the same seed gives
byte-identical files. Another seed changes values, never sizes or row counts.

The tables follow the package's pinned schemas
(``sources.catalog.EXPECTED_TABLE_SCHEMAS``) so the registry gates and their
DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Kind keys of the per-input random streams.
_OLAP, _COL, _DOCS, _EVENTS, _PICK = 1, 2, 3, 4, 5

# olap_queries: one TPC-H-shaped star schema, read by every op.
N_ORDERS = 60_000
N_CUSTOMERS = 6_000
N_PARTS = 8_000
N_SUPPLIERS = 400
MAX_LINES_PER_ORDER = 7

# col_roundtrip: BASELINE.md's 4-column table, 50k-row row groups.
COL_FILES = 2
COL_ROWS_PER_FILE = 100_000
COL_ROWS_PER_GROUP = 50_000
COL_REGIONS = ("north", "south", "east", "west", "central", "coast", "alps", "delta")

# corpus_curation: one fresh document shard per op.
SHARD_BASE_DOCS = 400
SHARD_EXACT_DUPS = 20
SHARD_NEAR_DUPS = 80
SHARD_ID_STRIDE = 1_000_000

# stream_upsert: one event batch per op.
EVENTS_PER_BATCH = 4_000
N_USERS = 300
BATCH_SPAN = dt.timedelta(hours=6)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "de", "fr")
VOCAB = (
    "a the data query table column row value key part line order customer "
    "scan filter join group sort window agg hash merge batch stream spark "
    "fast slow big small vector page chunk index cache plan stage task shuffle"
).split()

_EPOCH = np.datetime64("1992-01-01T00:00:00", "us")
_EVENTS_T0 = dt.datetime(2024, 1, 1)


def rng(seed: int, kind: int, *index: int) -> np.random.Generator:
    return np.random.default_rng([seed, kind, *index])


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _days(r: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    secs = r.integers(lo * 86400, hi * 86400, n)
    return _EPOCH + secs.astype("timedelta64[s]").astype("timedelta64[us]")


def _shuffled(r: np.random.Generator, cols: dict) -> pa.Table:
    """Table with its row order set by the seed."""
    perm = r.permutation(len(next(iter(cols.values()))))
    return pa.table({k: pa.array(np.asarray(v)[perm]) for k, v in cols.items()})


def olap_tables(seed: int) -> dict[str, pa.Table]:
    r = rng(seed, _OLAP)

    def names(prefix: str, n: int) -> np.ndarray:
        return np.array([f"{prefix}#{i:06d}" for i in range(n)], dtype=object)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    customer = _shuffled(r, {
        "c_custkey": np.arange(1, N_CUSTOMERS + 1, dtype=np.int64),
        "c_name": names("Customer", N_CUSTOMERS),
        "c_nationkey": r.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[r.integers(0, 5, N_CUSTOMERS)],
    })
    supplier = _shuffled(r, {
        "s_suppkey": np.arange(1, N_SUPPLIERS + 1, dtype=np.int64),
        "s_name": names("Supplier", N_SUPPLIERS),
        "s_nationkey": r.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, N_SUPPLIERS),
    })
    part = _shuffled(r, {
        "p_partkey": np.arange(1, N_PARTS + 1, dtype=np.int64),
        "p_name": names("Part", N_PARTS),
        "p_brand": np.array([f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)],
                            dtype=object)[r.integers(0, 25, N_PARTS)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"],
                           dtype=object)[r.integers(0, 5, N_PARTS)],
        "p_size": r.integers(1, 51, N_PARTS).astype(np.int32),
        "p_retailprice": _money(r, 900.0, 2100.0, N_PARTS),
    })
    o_date = _days(r, 0, 2405, N_ORDERS)
    orders = {
        "o_orderkey": np.arange(1, N_ORDERS + 1, dtype=np.int64),
        "o_custkey": r.integers(1, N_CUSTOMERS + 1, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(r, 850.0, 450000.0, N_ORDERS),
        "o_orderdate": o_date,
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[r.integers(0, 5, N_ORDERS)],
    }
    # Line counts are drawn per order; the total is fixed by N_ORDERS on
    # average only, so pin it: every seed gets the same lineitem row count.
    lines = r.integers(1, MAX_LINES_PER_ORDER + 1, N_ORDERS)
    lines = _pin_total(r, lines, N_ORDERS * (MAX_LINES_PER_ORDER + 1) // 2)
    n_li = int(lines.sum())
    okey = np.repeat(orders["o_orderkey"], lines)
    linenum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(o_date, lines) + (
        r.integers(1, 122, n_li) * 86400).astype("timedelta64[s]").astype("timedelta64[us]")
    lineitem = _shuffled(r, {
        "l_orderkey": okey,
        "l_partkey": r.integers(1, N_PARTS + 1, n_li).astype(np.int64),
        "l_suppkey": r.integers(1, N_SUPPLIERS + 1, n_li).astype(np.int64),
        "l_linenumber": linenum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(r, 900.0, 2100.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"], dtype=object)[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"], dtype=object)[r.integers(0, 2, n_li)],
        "l_shipdate": ship,
    })
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": _shuffled(r, orders),
        "lineitem": lineitem,
    }


def _pin_total(r: np.random.Generator, counts: np.ndarray, total: int) -> np.ndarray:
    """Nudge per-order line counts (within 1..MAX) until they sum to ``total``."""
    counts = counts.copy()
    diff = total - int(counts.sum())
    while diff:
        idx = r.integers(0, len(counts), abs(diff))
        step = 1 if diff > 0 else -1
        ok = (counts[idx] + step >= 1) & (counts[idx] + step <= MAX_LINES_PER_ORDER)
        for i in np.unique(idx[ok]):
            if diff == 0:
                break
            counts[i] += step
            diff -= step
    return counts


def olap_filter_literal(seed: int) -> int:
    """The filtered scan's seeded ``l_quantity > literal`` bound."""
    return int(rng(seed, _PICK, 0).integers(20, 31))


def col_rows(seed: int, op: int) -> list[list[tuple]]:
    """Rows of one fresh ``.col`` table: ``COL_FILES`` files, monotone ``id``."""
    r = rng(seed, _COL, op)
    n = COL_FILES * COL_ROWS_PER_FILE
    ids = np.arange(n, dtype=np.int64) + int(r.integers(0, 1 << 40))
    value = r.integers(0, 100_001, n)
    score = r.integers(1, 11, n)
    region = np.array(COL_REGIONS, dtype=object)[r.integers(0, len(COL_REGIONS), n)]
    rows = list(zip(ids.tolist(), value.tolist(), score.tolist(), region.tolist()))
    return [rows[i:i + COL_ROWS_PER_FILE] for i in range(0, n, COL_ROWS_PER_FILE)]


def col_filter_lo(seed: int, op: int, first_id: int) -> int:
    """Seeded lower bound of the filtered scan's ``id >= lo``. It falls in
    the first half of the last row group, so zone maps skip every other
    row group at every seed."""
    r = rng(seed, _PICK, 1, op)
    last_group = first_id + COL_FILES * COL_ROWS_PER_FILE - COL_ROWS_PER_GROUP
    return last_group + int(r.integers(0, COL_ROWS_PER_GROUP // 2))


def documents_shard(seed: int, op: int) -> pa.Table:
    """One document shard: random base docs, exact copies and near-duplicate
    siblings (1-2 word edits), with a doc_id range of its own."""
    r = rng(seed, _DOCS, op)
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(vocab), r.integers(20, 90))])
             for _ in range(SHARD_BASE_DOCS)]
    for src in r.integers(0, SHARD_BASE_DOCS, SHARD_EXACT_DUPS):
        texts.append(texts[src])
    for src in r.integers(0, SHARD_BASE_DOCS, SHARD_NEAR_DUPS):
        words = texts[src].split(" ")
        for _ in range(int(r.integers(1, 3))):
            words[int(r.integers(0, len(words)))] = str(vocab[r.integers(0, len(vocab))])
        texts.append(" ".join(words))
    n = len(texts)
    ids = op * SHARD_ID_STRIDE + r.permutation(n).astype(np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS, dtype=object)[r.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in r.permutation(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def event_batch(seed: int, cycle: int, batch: int) -> pa.Table:
    """One event batch: rising timestamps inside the batch's own time span,
    Zipf-skewed ``user_id``s, ids that continue the previous batch."""
    r = rng(seed, _EVENTS, cycle, batch)
    n = EVENTS_PER_BATCH
    start = np.datetime64(_EVENTS_T0 + batch * BATCH_SPAN, "us")
    span_us = int(BATCH_SPAN.total_seconds() * 1e6)
    ts = start + np.sort(r.integers(0, span_us, n)).astype("timedelta64[us]")
    users = (r.zipf(1.3, n) - 1) % N_USERS
    return pa.table({
        "event_id": pa.array(np.arange(batch * n, (batch + 1) * n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[r.integers(0, 5, n)]),
        "value": pa.array(_money(r, 0.0, 100.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def lookup_users(seed: int, cycle: int, batch: int) -> list[int]:
    """Seeded user ids for the read-back point lookups."""
    r = rng(seed, _PICK, 2, cycle, batch)
    return sorted(int(u) for u in r.choice(N_USERS, 8, replace=False))


def write_tables(tables: dict[str, pa.Table], data_dir: str) -> int:
    """Write ``<data_dir>/<name>.parquet`` per table; return bytes written."""
    return sum(_write(t, os.path.join(data_dir, f"{n}.parquet")) for n, t in tables.items())


def logical_bytes(table: pa.Table) -> int:
    """Bytes of user data in a table: fixed-width values plus string bytes."""
    total = 0
    for col in table.columns:
        if pa.types.is_string(col.type):
            total += pc.sum(pc.binary_length(col)).as_py() or 0
        else:
            total += col.type.bit_width // 8 * len(col)
    return total
