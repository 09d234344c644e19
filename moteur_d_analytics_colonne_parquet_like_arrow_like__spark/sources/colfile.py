"""Reader/writer for the reference engine's ``.col`` container format —
switch compatibility: existing ``.col`` files load straight into DataFrames,
and tables can be written back for consumers of the reference engine.

Implemented from the PUBLIC format specification
(reference ``cae/docs/FORMAT.md``, all little-endian, footer-first layout)
with two wire details taken from the reference codec behavior where the
spec is loose (SURVEY.md §1.4): RLE run values and DELTA deltas are
zigzag-varints (``cae/src/encoding.cpp:134-200,255-305``), and DICTIONARY
indices reuse the RLE int32 codec (``cae/src/encoding.cpp:397-399``).

This is an ingest/egress compatibility path, not the scale path: ``.col``
files are single-node artifacts (uint32 row cap — ``cae/include/format.h:89``).
``read_col`` parses driver-side and parallelizes into a DataFrame; for
100 TB work, convert to parquet once (``col_to_parquet``) and run there.

Robustness contract mirrors the reference's corruption tests
(``cae/tests/test_corruption.cpp``): bad magic / truncated footer /
out-of-range offsets / truncated varints raise ``ColFormatError``.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schema import ColumnSchema, ColumnType, EncodingType, Schema

HEADER_MAGIC = 0x454C4F43  # "COLE"
FOOTER_MAGIC = 0x464F4F54  # "FOOT"
VERSION = (1, 0)


class ColFormatError(Exception):
    """Corrupt or unsupported .col input (clean error, never garbage data)."""


# ----------------------------------------------------------------- varints


def _encode_varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("varint must be non-negative")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_varint(buf: bytes, pos: int, max_bytes: int = 10) -> tuple[int, int]:
    result = 0
    shift = 0
    for i in range(max_bytes):
        if pos + i >= len(buf):
            raise ColFormatError("truncated varint")
        b = buf[pos + i]
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos + i + 1
        shift += 7
    raise ColFormatError("varint continuation overflow")


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _zigzag_decode(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


# ------------------------------------------------------------------ codecs


def _encode_rle_ints(values: list[int]) -> bytes:
    runs: list[tuple[int, int]] = []
    for v in values:
        if runs and runs[-1][1] == v:
            runs[-1] = (runs[-1][0] + 1, v)
        else:
            runs.append((1, v))
    out = bytearray(_encode_varint(len(runs)))
    for length, v in runs:
        out += _encode_varint(length)
        out += _encode_varint(_zigzag_encode(v))
    return bytes(out)


def _decode_rle_ints(buf: bytes, num_values: int) -> list[int]:
    # The reference writes a legal zero-byte page for an empty RLE run list;
    # decoding it as a varint would raise "truncated varint".
    if num_values == 0 and not buf:
        return []
    num_runs, pos = _decode_varint(buf, 0)
    out: list[int] = []
    for _ in range(num_runs):
        length, pos = _decode_varint(buf, pos)
        # Bounds-check BEFORE materializing: a corrupt varint can claim a
        # run of 10^15 values — reject instead of allocating it.
        if length < 0 or len(out) + length > num_values:
            raise ColFormatError(
                f"RLE run length {length} overflows page ({num_values} values)"
            )
        z, pos = _decode_varint(buf, pos)
        out.extend([_zigzag_decode(z)] * length)
    if len(out) != num_values:
        raise ColFormatError(
            f"RLE decoded {len(out)} values, page header says {num_values}"
        )
    return out


def _wrap_signed(n: int, width: int) -> int:
    """Wrap to the column's signed integer range — the two's-complement
    arithmetic a native implementation gets for free. Without it, the
    delta between INT64_MIN and INT64_MAX does not fit the type and the
    round trip silently corrupts."""
    bits = width * 8
    return (n + (1 << (bits - 1))) % (1 << bits) - (1 << (bits - 1))


def _encode_delta_ints(values: list[int], width: int) -> bytes:
    fmt = "<i" if width == 4 else "<q"
    out = bytearray(struct.pack(fmt, values[0] if values else 0))
    out += _encode_varint(max(0, len(values) - 1))
    for prev, cur in zip(values, values[1:]):
        out += _encode_varint(_zigzag_encode(_wrap_signed(cur - prev, width)))
    return bytes(out)


def _decode_delta_ints(buf: bytes, num_values: int, width: int) -> list[int]:
    if num_values == 0:
        return []
    fmt = "<i" if width == 4 else "<q"
    if len(buf) < width:
        raise ColFormatError("truncated delta base value")
    base = struct.unpack_from(fmt, buf, 0)[0]
    num_deltas, pos = _decode_varint(buf, width)
    out = [base]
    cur = base
    for _ in range(num_deltas):
        z, pos = _decode_varint(buf, pos)
        cur = _wrap_signed(cur + _zigzag_decode(z), width)
        out.append(cur)
    if len(out) != num_values:
        raise ColFormatError("delta value count mismatch")
    return out


def _encode_plain_ints(values: list[int], width: int) -> bytes:
    fmt = f"<{len(values)}" + ("i" if width == 4 else "q")
    return struct.pack(fmt, *values)


def _decode_plain_ints(buf: bytes, num_values: int, width: int) -> list[int]:
    if len(buf) < num_values * width:
        raise ColFormatError("truncated plain int page")
    fmt = f"<{num_values}" + ("i" if width == 4 else "q")
    return list(struct.unpack_from(fmt, buf, 0))


def _encode_plain_strings(values: list[str]) -> bytes:
    data = b"".join(v.encode("utf-8") for v in values)
    offsets = [0]
    for v in values:
        offsets.append(offsets[-1] + len(v.encode("utf-8")))
    return struct.pack(f"<{len(offsets)}I", *offsets) + data


def _decode_plain_strings(buf: bytes, num_values: int) -> list[str]:
    off_end = 4 * (num_values + 1)
    if len(buf) < off_end:
        raise ColFormatError("truncated string offset array")
    offsets = struct.unpack_from(f"<{num_values + 1}I", buf, 0)
    data = buf[off_end:]
    if offsets[-1] > len(data):
        raise ColFormatError("string offsets exceed page data")
    return [
        data[offsets[i] : offsets[i + 1]].decode("utf-8")
        for i in range(num_values)
    ]


def _encode_dictionary_strings(values: list[str]) -> bytes:
    dictionary: dict[str, int] = {}
    indices: list[int] = []
    for v in values:
        if v not in dictionary:
            dictionary[v] = len(dictionary)
        indices.append(dictionary[v])
    out = bytearray(struct.pack("<I", len(dictionary)))
    for s in dictionary:  # insertion order == index order
        b = s.encode("utf-8")
        out += struct.pack("<I", len(b)) + b
    out += _encode_rle_ints(indices)
    return bytes(out)


def _decode_dictionary_strings(buf: bytes, num_values: int) -> list[str]:
    if len(buf) < 4:
        raise ColFormatError("truncated dictionary header")
    (dict_size,) = struct.unpack_from("<I", buf, 0)
    pos = 4
    entries: list[str] = []
    for _ in range(dict_size):
        if len(buf) < pos + 4:
            raise ColFormatError("truncated dictionary entry length")
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        if len(buf) < pos + n:
            raise ColFormatError("truncated dictionary entry data")
        entries.append(buf[pos : pos + n].decode("utf-8"))
        pos += n
    indices = _decode_rle_ints(buf[pos:], num_values)
    try:
        return [entries[i] for i in indices]
    except IndexError:
        raise ColFormatError("dictionary index out of range") from None


# ------------------------------------------------------------ page headers


@dataclass
class PageHeader:
    uncompressed_size: int
    compressed_size: int
    num_values: int
    encoding: int
    has_stats: bool
    min_value: int | None = None
    max_value: int | None = None
    null_count: int = 0

    def pack(self) -> bytes:
        out = struct.pack(
            "<IIIBB",
            self.uncompressed_size,
            self.compressed_size,
            self.num_values,
            self.encoding,
            1 if self.has_stats else 0,
        )
        if self.has_stats:
            # min/max int64 fields are CONDITIONAL on their presence flags
            # (FORMAT.md "Statistics": value written only if has_min/has_max
            # = 1) — a fixed 9-byte field would misparse under the reference
            # reader whenever a flag is 0.
            out += struct.pack("<B", 1 if self.min_value is not None else 0)
            if self.min_value is not None:
                out += struct.pack("<q", self.min_value)
            out += struct.pack("<B", 1 if self.max_value is not None else 0)
            if self.max_value is not None:
                out += struct.pack("<q", self.max_value)
            out += struct.pack("<I", self.null_count)
        return out

    @property
    def packed_size(self) -> int:
        if not self.has_stats:
            return 14
        stats = 1 + (8 if self.min_value is not None else 0)
        stats += 1 + (8 if self.max_value is not None else 0)
        return 14 + stats + 4

    @classmethod
    def unpack(cls, buf: bytes, pos: int) -> tuple["PageHeader", int]:
        if len(buf) < pos + 14:
            raise ColFormatError("truncated page header")
        u, c, n, enc, hs = struct.unpack_from("<IIIBB", buf, pos)
        pos += 14
        ph = cls(u, c, n, enc, bool(hs))
        if ph.has_stats:
            for attr in ("min_value", "max_value"):
                if len(buf) < pos + 1:
                    raise ColFormatError("truncated page stats")
                (flag,) = struct.unpack_from("<B", buf, pos)
                pos += 1
                if flag:
                    if len(buf) < pos + 8:
                        raise ColFormatError("truncated page stats")
                    (val,) = struct.unpack_from("<q", buf, pos)
                    pos += 8
                    setattr(ph, attr, val)
            if len(buf) < pos + 4:
                raise ColFormatError("truncated page stats")
            (ph.null_count,) = struct.unpack_from("<I", buf, pos)
            pos += 4
        return ph, pos


@dataclass
class ChunkMeta:
    file_offset: int
    total_size: int
    page_headers: list[PageHeader] = field(default_factory=list)


@dataclass
class RowGroupMeta:
    num_rows: int
    chunks: list[ChunkMeta] = field(default_factory=list)


# ------------------------------------------------------------------ writer


_SPARK_TO_COL = {
    "integer": ColumnType.INT32,
    "long": ColumnType.INT64,
    "string": ColumnType.STRING,
}


#: Driver-side safety cap for write_col. A single .col file is a
#: single-node interchange artifact; anything larger must go through the
#: executor-parallel sink (col_datasource streaming sink — one file per
#: task) instead of funneling the whole DataFrame through driver memory.
WRITE_COL_MAX_ROWS = 5_000_000


def write_col(
    df: DataFrame,
    path: str,
    schema: Schema | None = None,
    rows_per_group: int = 10_000,
    max_rows: int = WRITE_COL_MAX_ROWS,
) -> None:
    """Write a (small) DataFrame as a reference-compatible .col file.

    Collects driver-side — by design: .col is a single-node interchange
    format. Columns must be INT32/INT64/STRING (the reference type system);
    encodings come from the schema hint or default to PLAIN ints /
    DICTIONARY strings.

    Driver memory is bounded: the collect is LIMIT-capped at ``max_rows``
    (+1 sentinel row to detect overflow) and raises instead of OOMing the
    driver on an unexpectedly large input — the executor-parallel path for
    big tables is the `.col` streaming sink (one file per task).
    """
    if schema is None:
        schema = schema_from_spark(df.schema)

    capped = df.select(*[c.name for c in schema.columns]).limit(max_rows + 1)
    rows = [tuple(r) for r in capped.collect()]
    if len(rows) > max_rows:
        raise ValueError(
            f"write_col input exceeds {max_rows} rows; a single .col file is "
            "a driver-collected interchange artifact — write through the "
            "executor-parallel .col sink (format('col') writeStream) or "
            "raise max_rows explicitly"
        )
    write_col_rows(rows, schema, path, rows_per_group)


def schema_from_spark(struct) -> Schema:
    """.col schema for a Spark StructType (INT32/INT64/STRING only;
    strings default to DICTIONARY, ints to PLAIN)."""
    cols = []
    for f in struct.fields:
        tn = f.dataType.typeName()
        if tn not in _SPARK_TO_COL:
            raise ValueError(
                f"column {f.name!r}: type {tn} not representable in .col "
                "(INT32/INT64/STRING only)"
            )
        ct = _SPARK_TO_COL[tn]
        enc = (
            EncodingType.DICTIONARY
            if ct is ColumnType.STRING
            else EncodingType.PLAIN
        )
        cols.append(ColumnSchema(f.name, ct, enc))
    return Schema(cols)


def write_col_rows(
    rows: list[tuple], schema: Schema, path: str, rows_per_group: int = 10_000
) -> None:
    """Row-level writer core (shared by write_col and the streaming sink's
    per-partition writers — each task writes its own .col file)."""
    columns: list[list] = [[r[i] for r in rows] for i in range(len(schema.columns))]

    row_groups: list[RowGroupMeta] = []
    with open(path, "wb") as f:
        f.write(struct.pack("<IHH", HEADER_MAGIC, *VERSION))
        for start in range(0, max(len(rows), 1), rows_per_group):
            n = min(rows_per_group, len(rows) - start)
            if n <= 0 and len(rows) > 0:
                break
            rg = RowGroupMeta(num_rows=n)
            for ci, cs in enumerate(schema.columns):
                vals = columns[ci][start : start + n]
                data, ph = _encode_page(cs, vals)
                ph_bytes = ph.pack()
                rg.chunks.append(
                    ChunkMeta(
                        file_offset=f.tell(),
                        total_size=len(ph_bytes) + len(data),
                        page_headers=[ph],
                    )
                )
                f.write(ph_bytes)
                f.write(data)
            row_groups.append(rg)
            if len(rows) == 0:
                break
        meta_offset = f.tell()
        f.write(_pack_metadata(schema, row_groups, len(rows)))
        f.write(struct.pack("<IQ", FOOTER_MAGIC, meta_offset))


def _encode_page(cs: ColumnSchema, vals: list) -> tuple[bytes, PageHeader]:
    if cs.type in (ColumnType.INT32, ColumnType.INT64):
        width = 4 if cs.type is ColumnType.INT32 else 8
        ivals = [int(v) for v in vals]
        if cs.encoding is EncodingType.RLE:
            data = _encode_rle_ints(ivals)
        elif cs.encoding is EncodingType.DELTA:
            data = _encode_delta_ints(ivals, width)
        else:
            data = _encode_plain_ints(ivals, width)
        ph = PageHeader(
            uncompressed_size=len(ivals) * width,
            compressed_size=len(data),
            num_values=len(ivals),
            encoding=cs.encoding.value,
            # An empty page has no min/max; write no stats block at all so
            # readers never see has_stats=1 with absent values.
            has_stats=bool(ivals),
            min_value=min(ivals) if ivals else None,
            max_value=max(ivals) if ivals else None,
            null_count=0,
        )
        return data, ph
    svals = [str(v) for v in vals]
    if cs.encoding is EncodingType.DICTIONARY:
        data = _encode_dictionary_strings(svals)
    else:
        data = _encode_plain_strings(svals)
    ph = PageHeader(
        uncompressed_size=sum(len(s.encode("utf-8")) for s in svals),
        compressed_size=len(data),
        num_values=len(svals),
        encoding=cs.encoding.value,
        has_stats=False,
    )
    return data, ph


def _pack_metadata(schema: Schema, row_groups: list[RowGroupMeta], total_rows: int) -> bytes:
    out = bytearray(struct.pack("<I", len(schema.columns)))
    for cs in schema.columns:
        nb = cs.name.encode("utf-8")
        out += struct.pack("<I", len(nb)) + nb
        out += struct.pack("<BB", cs.type.value, cs.encoding.value)
    out += struct.pack("<I", len(row_groups))
    for rg in row_groups:
        out += struct.pack("<II", rg.num_rows, len(rg.chunks))
        for ch in rg.chunks:
            out += struct.pack("<QQI", ch.file_offset, ch.total_size, len(ch.page_headers))
            for ph in ch.page_headers:
                out += ph.pack()
    out += struct.pack("<I", total_rows)
    return bytes(out)


# ------------------------------------------------------------------ reader


def read_col_metadata(path: str) -> tuple[Schema, list[RowGroupMeta], int]:
    size = os.path.getsize(path)
    if size < 20:
        raise ColFormatError("file too small for header + footer")
    with open(path, "rb") as f:
        magic, _vmaj, _vmin = struct.unpack("<IHH", f.read(8))
        if magic != HEADER_MAGIC:
            raise ColFormatError("bad header magic (not a .col file)")
        f.seek(size - 12)
        fmagic, meta_offset = struct.unpack("<IQ", f.read(12))
        if fmagic != FOOTER_MAGIC:
            raise ColFormatError("bad footer magic")
        if meta_offset >= size - 12 or meta_offset < 8:
            raise ColFormatError("metadata offset out of range")
        f.seek(meta_offset)
        buf = f.read(size - 12 - meta_offset)

    pos = 0

    def u32() -> int:
        nonlocal pos
        if len(buf) < pos + 4:
            raise ColFormatError("truncated metadata")
        (v,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        return v

    ncols = u32()
    if ncols > 10_000:
        raise ColFormatError("implausible column count")
    cols = []
    for _ in range(ncols):
        nlen = u32()
        if nlen > 1_024 or len(buf) < pos + nlen + 2:
            raise ColFormatError("bad column schema entry")
        name = buf[pos : pos + nlen].decode("utf-8")
        pos += nlen
        ctype, cenc = struct.unpack_from("<BB", buf, pos)
        pos += 2
        cols.append(ColumnSchema(name, ColumnType(ctype), EncodingType(cenc)))
    schema = Schema(cols)

    n_rgs = u32()
    if n_rgs > 100_000:
        raise ColFormatError("implausible row-group count")
    row_groups = []
    for _ in range(n_rgs):
        num_rows = u32()
        nchunks = u32()
        rg = RowGroupMeta(num_rows=num_rows)
        for _ in range(nchunks):
            if len(buf) < pos + 20:
                raise ColFormatError("truncated chunk metadata")
            off, tsz = struct.unpack_from("<QQ", buf, pos)
            pos += 16
            npages = u32()
            if npages > 10_000:
                raise ColFormatError("implausible page count")
            ch = ChunkMeta(file_offset=off, total_size=tsz)
            for _ in range(npages):
                ph, pos = PageHeader.unpack(buf, pos)
                ch.page_headers.append(ph)
            rg.chunks.append(ch)
        row_groups.append(rg)
    total_rows = u32()
    return schema, row_groups, total_rows


def _decode_chunk(raw: bytes, cs: ColumnSchema, chunk: ChunkMeta) -> list:
    out: list = []
    pos = 0
    for ph in chunk.page_headers:
        pos += ph.packed_size
        data = raw[pos : pos + ph.compressed_size]
        if len(data) < ph.compressed_size:
            raise ColFormatError("truncated page data")
        pos += ph.compressed_size
        enc = EncodingType(ph.encoding)
        if cs.type in (ColumnType.INT32, ColumnType.INT64):
            width = 4 if cs.type is ColumnType.INT32 else 8
            if enc is EncodingType.RLE:
                out.extend(_decode_rle_ints(data, ph.num_values))
            elif enc is EncodingType.DELTA:
                out.extend(_decode_delta_ints(data, ph.num_values, width))
            else:
                out.extend(_decode_plain_ints(data, ph.num_values, width))
        else:
            if enc is EncodingType.DICTIONARY:
                out.extend(_decode_dictionary_strings(data, ph.num_values))
            else:
                out.extend(_decode_plain_strings(data, ph.num_values))
    return out


def can_skip_page(
    min_value: int | None, max_value: int | None, op: str, value: int
) -> bool:
    """Zone-map page elimination — exact mirror of the reference's
    ``Predicate::canSkipPage`` (cae/src/execution.cpp:48-71): a page whose
    [min, max] cannot contain a matching value is never decoded. Pages
    without stats are never skipped."""
    if min_value is None or max_value is None:
        return False
    return {
        "eq": value < min_value or value > max_value,
        "ne": False,
        "lt": min_value >= value,
        "le": min_value > value,
        "gt": max_value <= value,
        "ge": max_value < value,
    }.get(op, False)


def _skippable_row_groups(
    row_groups: list[RowGroupMeta],
    schema: Schema,
    predicate: tuple[str, str, int] | None,
) -> list[bool]:
    """Per-row-group skip decisions. Skipping happens at row-group
    granularity (every page of the predicate column must be skippable) so
    rows stay aligned across column chunks."""
    if predicate is None:
        return [False] * len(row_groups)
    col, op, value = predicate
    ci = schema.index_of(col)
    out = []
    for rg in row_groups:
        pages = rg.chunks[ci].page_headers
        out.append(
            bool(pages)
            and all(
                can_skip_page(ph.min_value, ph.max_value, op, value)
                for ph in pages
            )
        )
    return out


def col_files(directory: str) -> list[str]:
    """Paths of the ``.col`` files in ``directory``, in name order."""
    return [
        os.path.join(directory, f)
        for f in sorted(os.listdir(directory))
        if f.endswith(".col")
    ]


def read_row_groups(
    path: str,
    columns: list[str] | None = None,
    predicate: tuple[str, str, int] | None = None,
    index: int | None = None,
):
    """Decode one ``.col`` file row group by row group. Returns the file's
    schema, the decoded column names (``columns``, default all, plus the
    predicate column when it is not among them) and an iterator of one list
    of column value lists per row group. Row groups the zone maps rule out
    for ``predicate`` are never read; ``index`` reads just that row group.
    Only the projected column chunks are read and decoded, mirroring the
    reference scanner's pruning (cae/src/execution.cpp:252-261)."""
    schema, row_groups, _ = read_col_metadata(path)
    proj = list(columns or schema.names)
    if predicate is not None and predicate[0] not in proj:
        proj.append(predicate[0])
    idxs = [schema.index_of(c) for c in proj]
    skips = _skippable_row_groups(row_groups, schema, predicate)

    def groups():
        with open(path, "rb") as f:
            for i, (rg, skip) in enumerate(zip(row_groups, skips)):
                if skip or (index is not None and i != index):
                    continue
                cols = []
                for ci in idxs:
                    ch = rg.chunks[ci]
                    f.seek(ch.file_offset)
                    raw = f.read(ch.total_size)
                    cols.append(_decode_chunk(raw, schema.columns[ci], ch))
                yield cols

    return schema, proj, groups()


def read_col(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    predicate: tuple[str, str, int] | None = None,
) -> DataFrame:
    """Load a .col file into a DataFrame, decoded on the driver (with column
    projection — only requested chunks are read and decoded).

    ``predicate=(col, op, value)`` (op in eq/ne/lt/le/gt/ge, int columns)
    additionally applies the reference's zone-map skipping: row groups
    whose page stats exclude the value are never read OR decoded, and the
    surviving rows are filtered exactly."""
    schema, proj, groups = read_row_groups(path, columns, predicate)
    data: list[list] = [[] for _ in proj]
    for cols in groups:
        for acc, vals in zip(data, cols):
            acc.extend(vals)

    spark_schema = T.StructType(
        [schema.columns[schema.index_of(c)].to_spark_field(nullable=False) for c in proj]
    )
    rows = list(zip(*data)) if proj else []
    df = spark.createDataFrame(rows, spark_schema)
    if predicate is not None:
        col, op, value = predicate
        c = F.col(col)
        df = df.where(
            {
                "eq": c == value,
                "ne": c != value,
                "lt": c < value,
                "le": c <= value,
                "gt": c > value,
                "ge": c >= value,
            }[op]
        )
        if columns is not None and col not in columns:
            df = df.drop(col)
    return df


def col_to_parquet(spark: SparkSession, col_path: str, parquet_path: str) -> None:
    """One-time conversion to the scale path."""
    read_col(spark, col_path).write.mode("overwrite").parquet(parquet_path)
