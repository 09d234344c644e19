"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing — schema, deterministic synthetic media generation,
Arrow-batched ``mapInPandas`` decode/feature/frame-sample operators — is
real and tested, and so is the container-format decode for three modalities:
``decode_media`` parses actual **WAV** (RIFF chunk walk → sample rate, frame
count, duration), **BMP** (BITMAPINFOHEADER → dims) and **PNG** (IHDR →
dims) bytes with pure-stdlib ``struct``. Only pixel/sample DSP beyond the
container layer (and video codecs) is stubbed: unrecognized blobs get
deterministic header-derived fake features, or raise under
``require_real_codec=True``.

Scale design: media blobs ride in parquet binary columns next to their
metadata, so partition pruning / column projection work on metadata without
touching bytes; decode stages are ``mapInPandas`` with small batch sizes
(``spark.sql.execution.arrow.maxRecordsPerBatch``) to bound executor memory
against multi-MB blobs.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), False),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),  # images/video only
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),  # audio/video only
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

_KINDS = ("image", "audio", "video")
_MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


def generate_synthetic_media(
    spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic fake media table: blob bytes derived from sha2 of the
    id+seed (repeated to a pseudo-size), header bytes encode fake dims."""
    base = spark.range(0, n, 1, partitions or 8)
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]),
        (F.pmod(F.xxhash64("id", F.lit(seed)), 3) + 1).cast("int"),
    )
    # Blob: sha2 hex of (id, seed) repeated 1-16x → 64-1024 bytes, binary.
    rep = (F.pmod(F.xxhash64("id", F.lit(seed), F.lit(1)), 16) + 1).cast("int")
    blob = F.encode(F.repeat(F.sha2(F.concat_ws(":", "id", F.lit(seed)), 256), rep), "utf-8")
    df = base.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        blob.alias("content"),
    )
    mime = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in _KINDS]),
            F.array(*[F.lit(_MIMES[k]) for k in _KINDS]),
        ),
        F.col("kind"),
    )
    return df.select(
        "media_id",
        "kind",
        "content",
        mime.alias("mime"),
        F.length("content").cast("long").alias("byte_len"),
    )


def generate_real_media(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Synthetic media in REAL container formats, with metadata that is an
    analytic function of the id — so a SQL oracle can verify what the
    decode stage parses out of the actual bytes:

    - id % 3 == 0 → 24-bit BMP, width (id%31+1)*4, height (id%23+1)*4,
      byte_len 54 + row_stride*height
    - id % 3 == 1 → PCM16 mono WAV @8 kHz, (id%50+1)*80 frames →
      duration_ms (id%50+1)*10, byte_len 44 + 160*(id%50+1)
    - id % 3 == 2 → VALID minimal MP4 (ftyp + moov(mvhd + trak(tkhd)) +
      mdat of (id%200) bytes): width (id%16+1)*16, height (id%9+1)*16,
      duration_ms (id%60+1)*500, byte_len 240 + (id%200). The decode
      stage reads these from the real atoms; only the CODEC layer
      (frame pixels) stays out of scope.
    """
    base = spark.range(0, n, 1, partitions or 8)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                if mid % 3 == 0:
                    blob = bmp_bytes((mid % 31 + 1) * 4, (mid % 23 + 1) * 4)
                    kind, mime = "image", "image/bmp"
                elif mid % 3 == 1:
                    blob = wav_bytes((mid % 50 + 1) * 80)
                    kind, mime = "audio", "audio/wav"
                else:
                    blob = mp4_bytes(
                        (mid % 16 + 1) * 16,
                        (mid % 9 + 1) * 16,
                        (mid % 60 + 1) * 500,
                        filler=mid % 200,
                    )
                    kind, mime = "video", "video/mp4"
                rows.append((mid, kind, blob, mime, len(blob)))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "content", "mime", "byte_len"]
            )

    return base.mapInPandas(_gen, schema=MEDIA_SCHEMA)


# ----------------------------------------------------------- real containers
#
# Pure-stdlib writers + parsers for the three container formats the decode
# stage understands for real. Deterministic by construction so decoded
# metadata is verifiable against an analytic oracle.


def wav_bytes(n_frames: int, framerate: int = 8000) -> bytes:
    """Minimal PCM16 mono WAV: RIFF header + fmt chunk + data chunk."""
    data_len = n_frames * 2
    out = b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
    out += b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, framerate, framerate * 2, 2, 16)
    out += b"data" + struct.pack("<I", data_len)
    # deterministic sawtooth samples
    out += struct.pack(f"<{n_frames}h", *[(i * 257) % 65536 - 32768 for i in range(n_frames)])
    return out


def bmp_bytes(width: int, height: int) -> bytes:
    """Minimal 24-bit BMP: file header + BITMAPINFOHEADER + padded rows."""
    row = (3 * width + 3) // 4 * 4
    data_len = row * height
    out = b"BM" + struct.pack("<IHHI", 54 + data_len, 0, 0, 54)
    out += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, data_len, 2835, 2835, 0, 0)
    out += bytes((i * 7 + 13) % 256 for i in range(data_len))
    return out


def png_bytes(width: int, height: int) -> bytes:
    """Minimal valid PNG: signature + IHDR + one zlib IDAT + IEND."""

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(
        b"\x00" + bytes((x * 3 + y) % 256 for x in range(3 * width))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


#: identity transformation matrix every ISO-BMFF header carries
_MP4_UNITY = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def mp4_bytes(
    width: int, height: int, duration_ms: int, filler: int = 0
) -> bytes:
    """Minimal VALID ISO-BMFF (MP4): ftyp + moov(mvhd + trak(tkhd)) +
    an mdat of ``filler`` deterministic payload bytes. mvhd carries a
    1000-unit timescale so duration is in ms; tkhd carries width/height
    as 16.16 fixed point — exactly the fields a real probe (ffprobe)
    reads first."""

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    ftyp = box(b"ftyp", b"mp42" + struct.pack(">I", 0))
    mvhd = box(
        b"mvhd",
        struct.pack(">IIIII", 0, 0, 0, 1000, duration_ms)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + _MP4_UNITY
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = box(
        b"tkhd",
        struct.pack(">IIIII", 3, 0, 0, 1, 0)  # flags=3 (enabled), track 1
        + struct.pack(">I", duration_ms)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _MP4_UNITY
        + struct.pack(">II", width << 16, height << 16),
    )
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    mdat = box(b"mdat", bytes((i * 31 + 7) % 256 for i in range(filler)))
    return ftyp + moov + mdat


def _parse_mp4(blob: bytes) -> tuple[int | None, int | None, int | None] | None:
    """Top-level ISO-BMFF box walk: mvhd → duration (timescale-scaled to
    ms), tkhd → width/height (16.16 fixed point). Returns None when no
    usable moov metadata exists (truncated/fake headers fall through to
    the stub path)."""
    w = h = dur = None
    pos = 0
    while pos + 8 <= len(blob):
        (size,) = struct.unpack_from(">I", blob, pos)
        tag = blob[pos + 4 : pos + 8]
        if size < 8:
            break
        if tag == b"moov":
            cpos, cend = pos + 8, min(pos + size, len(blob))
            while cpos + 8 <= cend:
                (csize,) = struct.unpack_from(">I", blob, cpos)
                ctag = blob[cpos + 4 : cpos + 8]
                if csize < 8:
                    break
                if ctag == b"mvhd" and cpos + 8 + 20 <= cend:
                    timescale, duration = struct.unpack_from(
                        ">II", blob, cpos + 8 + 12
                    )
                    if timescale:
                        dur = duration * 1000 // timescale
                elif ctag == b"trak":
                    tpos, tend = cpos + 8, min(cpos + csize, cend)
                    while tpos + 8 <= tend:
                        (tsize,) = struct.unpack_from(">I", blob, tpos)
                        ttag = blob[tpos + 4 : tpos + 8]
                        if tsize < 8:
                            break
                        if ttag == b"tkhd" and tpos + 8 + 84 <= tend:
                            w16, h16 = struct.unpack_from(
                                ">II", blob, tpos + 8 + 76
                            )
                            w, h = w16 >> 16, h16 >> 16
                        tpos += tsize
                cpos += csize
        pos += size
    if w is None and h is None and dur is None:
        return None
    return w, h, dur


def parse_container(blob: bytes) -> tuple[int | None, int | None, int | None] | None:
    """(width, height, duration_ms) from real container headers, or None if
    the format is not recognized. WAV duration comes from an actual chunk
    walk (fmt sample rate + data byte count), not a fixed offset, so files
    with extra chunks (LIST/INFO) parse correctly too."""
    if blob[:2] == b"BM" and len(blob) >= 26:
        w, h = struct.unpack_from("<ii", blob, 18)
        return w, abs(h), None  # negative height = top-down BMP
    if blob[:8] == b"\x89PNG\r\n\x1a\n" and len(blob) >= 24:
        w, h = struct.unpack_from(">II", blob, 16)
        return w, h, None
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        pos, rate, block_align, data_len = 12, None, None, None
        while pos + 8 <= len(blob):
            tag = blob[pos : pos + 4]
            (size,) = struct.unpack_from("<I", blob, pos + 4)
            if tag == b"fmt " and size >= 16:
                _, channels, rate, _, block_align, bits = struct.unpack_from(
                    "<HHIIHH", blob, pos + 8
                )
            elif tag == b"data":
                data_len = size
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if rate and block_align and data_len is not None:
            return None, None, data_len * 1000 // (block_align * rate)
    if len(blob) >= 12 and blob[4:8] == b"ftyp":
        return _parse_mp4(blob)
    return None


def decode_media(
    media: DataFrame,
    feature_dim: int = 8,
    require_real_codec: bool = False,
) -> DataFrame:
    """Decode/feature-extract stage: Arrow-batched mapInPandas over the
    binary column.

    Container metadata is decoded for REAL for WAV / BMP / PNG blobs
    (``parse_container``): image dims from the actual bitmap headers, audio
    duration from the RIFF chunk walk. Blobs in any other format (video;
    arbitrary bytes) get deterministic header-derived fake dims, or raise
    ``NotImplementedError`` inside the decode stage when
    ``require_real_codec=True`` — that surfaces on the executor, marking
    exactly where a video codec (ffmpeg) would slot in. The ``feature``
    vector is a placeholder embedding (scaled head bytes) in all cases:
    sample-level DSP is out of scope for this container-layer decode.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": pdf["byte_len"],
                }
            )
            blobs = pdf["content"].map(bytes)
            widths: list[int | None] = []
            heights: list[int | None] = []
            durations: list[int | None] = []
            for blob, kind in zip(blobs, pdf["kind"]):
                parsed = parse_container(blob)
                if parsed is not None:
                    w, h, d = parsed
                elif require_real_codec:
                    raise NotImplementedError(
                        f"no real codec for this {kind} blob "
                        "(unrecognized container; integrate ffmpeg here)"
                    )
                else:  # header-derived fakes keep the plumbing exercised
                    head = blob[:4].ljust(4, b"\0")
                    vis = kind in ("image", "video")
                    w = (head[0] % 64 + 1) * 16 if vis else None
                    h = (head[1] % 64 + 1) * 16 if vis else None
                    d = (
                        int.from_bytes(head[2:4], "big") * 10
                        if kind in ("audio", "video")
                        else None
                    )
                widths.append(w)
                heights.append(h)
                durations.append(d)
            out["width"] = pd.array(widths, dtype="Int32")
            out["height"] = pd.array(heights, dtype="Int32")
            out["duration_ms"] = pd.array(durations, dtype="Int64")
            out["feature"] = [
                [float(x) / 255.0 for x in b[:feature_dim].ljust(feature_dim, b"\0")]
                for b in blobs
            ]
            yield out

    return media.mapInPandas(_decode, schema=FEATURE_SCHEMA)


def frame_sample(
    media: DataFrame, every_n_bytes: int = 256, max_frames: int = 4
) -> DataFrame:
    """Frame-sampling plumbing for video rows: emit ≤ max_frames rows per
    video, each carrying a byte-slice "frame" (stand-in for a decoded frame).
    Row-expanding mapInPandas — the batch contract a real sampler needs."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_bytes", T.BinaryType(), False),
        ]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["kind"] != "video":
                    continue
                blob = bytes(r["content"])
                for i in range(min(max_frames, max(1, len(blob) // every_n_bytes))):
                    rows.append(
                        (
                            r["media_id"],
                            i,
                            blob[i * every_n_bytes : (i + 1) * every_n_bytes],
                        )
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_bytes"])

    return media.mapInPandas(_sample, schema=schema)


def audio_features(media: DataFrame) -> DataFrame:
    """Real signal-feature extraction from audio rows: walk the RIFF chunk
    list to the ``data`` chunk, decode the actual PCM16 samples
    (vectorized numpy over the Arrow batch), and emit exact-integer
    features — sample count, energy (Σs², fits int64 at 16-bit depth),
    peak amplitude, zero crossings — plus RMS as a floor-scaled integer
    (floor of identical doubles is engine-stable; decimal rounding of
    doubles is not, see workloads/__init__ authoring rules).

    The batch contract a production extractor needs: mapInPandas over
    binary columns, one output row per audio row, non-audio rows dropped
    in the UDF (no pre-shuffle)."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("sum_sq", T.LongType(), False),
            T.StructField("peak", T.LongType(), False),
            T.StructField("n_zero_cross", T.LongType(), False),
            T.StructField("rms_milli", T.LongType(), False),
        ]
    )

    def _pcm(blob: bytes) -> bytes | None:
        if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            return None
        off = 12
        while off + 8 <= len(blob):
            tag = blob[off : off + 4]
            (size,) = struct.unpack("<I", blob[off + 4 : off + 8])
            if tag == b"data":
                return blob[off + 8 : off + 8 + size]
            off += 8 + size + (size & 1)  # chunks are word-aligned
        return None

    def _feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["kind"] != "audio":
                    continue
                data = _pcm(bytes(r["content"]))
                if not data:
                    continue
                s = np.frombuffer(data, dtype="<i2").astype(np.int64)
                if len(s) == 0:
                    continue
                sum_sq = int((s * s).sum())
                rows.append(
                    (
                        int(r["media_id"]),
                        len(s),
                        sum_sq,
                        int(np.abs(s).max()),
                        int(((s[:-1] < 0) != (s[1:] < 0)).sum()),
                        math.floor(math.sqrt(sum_sq / len(s)) * 1000),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_samples",
                    "sum_sq",
                    "peak",
                    "n_zero_cross",
                    "rms_milli",
                ],
            )

    return media.mapInPandas(_feats, schema=schema)


def audio_frame_energies(media: DataFrame, frame: int = 80) -> DataFrame:
    """Per-frame audio energy from REAL PCM bytes: the same RIFF walk as
    :func:`audio_features`, then the sample stream splits into fixed
    ``frame``-sample windows and each emits its exact Σs² BIGINT — the
    front half of voice-activity detection, diarization, or silence
    trimming. One output row per (audio row, frame); trailing partial
    frames are dropped (deterministic — the oracle does the same).

    Batch contract: mapInPandas over the binary column, numpy-vectorized
    per Arrow batch; frames-per-row is bounded by clip length, so the
    explode factor is a known constant, not data-dependent."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.LongType(), False),
            T.StructField("energy", T.LongType(), False),
        ]
    )

    def _pcm(blob: bytes) -> bytes | None:
        if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            return None
        off = 12
        while off + 8 <= len(blob):
            tag = blob[off : off + 4]
            (size,) = struct.unpack("<I", blob[off + 4 : off + 8])
            if tag == b"data":
                return blob[off + 8 : off + 8 + size]
            off += 8 + size + (size & 1)

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["kind"] != "audio":
                    continue
                data = _pcm(bytes(r["content"]))
                if not data:
                    continue
                s = np.frombuffer(data, dtype="<i2").astype(np.int64)
                nf = len(s) // frame
                if nf == 0:
                    continue
                e = (
                    (s[: nf * frame] ** 2)
                    .reshape(nf, frame)
                    .sum(axis=1)
                )
                rows.extend(
                    (int(r["media_id"]), f, int(e[f])) for f in range(nf)
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "energy"]
            )

    return media.mapInPandas(_frames, schema=schema)


def image_resize(media: DataFrame, factor: int = 2) -> DataFrame:
    """Real image resize plumbing: decode each BMP's actual pixel array
    (numpy over the raw BGR rows, stride-aware), nearest-neighbor
    downsample by ``factor``, and emit the resized dimensions plus an
    exact integer checksum of the resized pixels — so the oracle catches
    a parser that is off by one byte of row padding. Row 0 is the file's
    first stored row (BMPs store bottom-up; resize semantics are
    orientation-agnostic).

    The UDF returns dims + checksum rather than resized blobs so the gate
    query stays hash-comparable; the resized array is materialized in the
    UDF exactly as a thumbnail writer would consume it."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("out_w", T.LongType(), False),
            T.StructField("out_h", T.LongType(), False),
            T.StructField("pix_sum", T.LongType(), False),
        ]
    )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["kind"] != "image":
                    continue
                blob = bytes(r["content"])
                if len(blob) < 54 or blob[:2] != b"BM":
                    continue
                w, h = struct.unpack("<ii", blob[18:26])
                stride = (3 * w + 3) // 4 * 4
                data = np.frombuffer(
                    blob[54 : 54 + stride * h], dtype=np.uint8
                ).reshape(h, stride)
                pixels = data[:, : 3 * w].reshape(h, w, 3)
                resized = pixels[::factor, ::factor, :]
                rows.append(
                    (
                        int(r["media_id"]),
                        resized.shape[1],
                        resized.shape[0],
                        int(resized.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "out_w", "out_h", "pix_sum"])

    return media.mapInPandas(_resize, schema=schema)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over 24-bit BMP blobs: decode
    the REAL pixel data (bottom-up rows, BGR triples, 4-byte row stride),
    integer-grayscale each pixel (``(b+g+r) div 3``), area-average onto
    the classic 9x8 grid (cell of pixel x is ``(x*9) div width`` — the
    per-pixel mapping, identical in the SQL oracle), and emit one bit per
    horizontal gradient: ``cell[r][c] > cell[r][c+1]``. Stored as two
    32-bit halves (``dhash_hi`` = bits 32-63, ``dhash_lo`` = bits 0-31)
    so no engine ever shifts into a BIGINT's sign bit.

    All arithmetic is integer, so the hash is bit-stable across engines
    and partitionings. Images smaller than the grid (width < 9 or
    height < 8) are dropped — a real pipeline routes thumbnails to a
    dedicated small-image path rather than up-sampling noise.

    Scale shape: Arrow-batched ``mapInPandas`` (vectorized numpy per
    image, no per-row Python UDF), one narrow row out per image; the
    quadratic-free near-dup pairing happens downstream in
    :func:`dhash_near_pairs`.
    """

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, his, los = [], [], [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob)
                if blob[:2] != b"BM" or len(blob) < 54:
                    continue
                w, h = struct.unpack_from("<ii", blob, 18)
                h = abs(h)
                if w < 9 or h < 8:
                    continue
                stride = (3 * w + 3) // 4 * 4
                data = np.frombuffer(
                    blob, dtype=np.uint8, count=stride * h, offset=54
                ).astype(np.int64)
                rgb = data.reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
                gray = (rgb.sum(axis=2) // 3)[::-1]  # bottom-up -> top-down
                cy = (np.arange(h) * 8) // h
                cx = (np.arange(w) * 9) // w
                iy = cy[:, None].repeat(w, axis=1)
                ix = cx[None, :].repeat(h, axis=0)
                sums = np.zeros((8, 9), dtype=np.int64)
                cnts = np.zeros((8, 9), dtype=np.int64)
                np.add.at(sums, (iy, ix), gray)
                np.add.at(cnts, (iy, ix), 1)
                avg = sums // cnts
                bits = (avg[:, :8] > avg[:, 1:]).astype(np.int64)
                lo = hi = 0
                for r in range(8):
                    for c in range(8):
                        i = r * 8 + c
                        if bits[r, c]:
                            if i < 32:
                                lo |= 1 << i
                            else:
                                hi |= 1 << (i - 32)
                ids.append(int(mid))
                ws.append(int(w))
                hs.append(int(h))
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "dhash_hi": pd.Series(his, dtype="int64"),
                    "dhash_lo": pd.Series(los, dtype="int64"),
                }
            )

    return media.mapInPandas(
        _hash,
        schema=(
            "media_id long, width int, height int, "
            "dhash_hi long, dhash_lo long"
        ),
    )


def dhash_near_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance, without the
    all-pairs join: the 64-bit hash splits into four 16-bit bands, pairs
    sharing ANY band meet in a band-keyed shuffle join (same hot-key
    shape as MinHash LSH banding), and the exact popcount filter runs
    only on those candidates. By pigeonhole, ``max_hamming <= 3`` errors
    cannot touch all 4 bands, so one band is always clean — the banded
    join has EXACT recall at the default threshold (raise bands if you
    raise the threshold).
    """
    if max_hamming > 3:
        raise ValueError("4 bands guarantee recall only for max_hamming<=3")
    bands = hashes.select(
        "media_id",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"),
                    (F.col("dhash_lo") % 65536).alias("key"),
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.expr("dhash_lo div 65536").alias("key"),
                ),
                F.struct(
                    F.lit(2).alias("band"),
                    (F.col("dhash_hi") % 65536).alias("key"),
                ),
                F.struct(
                    F.lit(3).alias("band"),
                    F.expr("dhash_hi div 65536").alias("key"),
                ),
            )
        ).alias("b"),
    ).select("media_id", "dhash_hi", "dhash_lo", "b.band", "b.key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            (
                F.bit_count(
                    F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi"))
                )
                + F.bit_count(
                    F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo"))
                )
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand
