"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata (north-star surface; no counterpart in the
reference — SURVEY.md §2 'Not present').

Design: media travel as ``struct<content: binary, meta: struct<...>>``
— one row per asset, co-partitioned with the documents that own them.

The record lane: every per-asset function is a per-row body run by
:func:`_map_records`, the module's one ``mapInPandas`` stage (Arrow
batches stream through one Python stage; nothing is collected to the
driver). A body yields zero, one or many record dicts; the lane NULLs
every schema column a record leaves out and keeps the schema's column
order. The eleven ``*_from_ids`` builders pass ``ids=`` and receive
each id as an int after :func:`_spread_ids` (the only exchange any of
these functions adds); every other function receives the input row.
A NULL id names nothing: the ``*_from_ids`` builders and the tar/zip
shard writers drop it.
NULL or unreadable content: ``decode_media``, ``png_pixel_stats``,
``jpeg_pixel_stats`` and ``wav_audio_stats`` emit the asset with NULL
stats; ``gif_pixel_stats``, ``wav_dft_features``,
``transcode_png_to_gif`` and ``extract_features`` skip it;
``tar_members_table``/``zip_members_table`` emit one NULL-member row
per archive (keeping its shard_id, NULL included); ``resize_images``
keeps the bytes; ``sample_frames`` and ``chunk_audio`` read only the
metadata and hash NULL content as empty bytes.

Codecs: uncompressed BMP (BITMAPINFOHEADER, 24bpp), PCM WAV
(RIFF/WAVE), PNG (8-bit gray/RGB/palette/alpha, zlib-inflated IDAT
with full scanline defiltering and CRC validation), and baseline
sequential JPEG (paqarin_spark/jpeg.py — Huffman entropy decode,
dequantization, IDCT, 4:2:0 upsample, JFIF color transform) are
decoded for REAL by pure-python parsers — no external libraries — so
width/height/sample_rate/n_samples/pixels come from the bytes, not
from trusting metadata. MP4 gets a real ISO-BMFF metadata probe
(moov/mvhd box walk), a byte-verified stsz/stco sample table, and —
for Motion-JPEG essence — REAL per-frame pixel decode: the sample
table indexes baseline-JPEG frames in the mdat and the in-repo JPEG
decoder entropy-decodes each one (:func:`mjpeg_frame_stats_from_ids`).
Foreign inter-frame codecs (H.264/H.265/AV1) stay out of scope — swap
in ffmpeg at that one seam, nothing else changes. Progressive JPEG
and arithmetic coding are rejected explicitly, not mis-decoded.
"""

from __future__ import annotations

import hashlib
import re
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("format", StringType(), True),       # png|wav|mp4|...
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("content", BinaryType(), True),
        StructField("meta", MEDIA_META, True),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("content_hash", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("feature", StringType(), False),
        StructField("value", DoubleType(), True),
    ]
)


# --------------------------------------------------------------------------
# Real pure-python codecs: uncompressed 24bpp BMP and PCM WAV. Header
# layouts per the published BMP (BITMAPFILEHEADER+BITMAPINFOHEADER) and
# RIFF/WAVE specifications; parsers validate magics and sizes and return
# None for malformed payloads rather than raising (a poisoned asset must
# not kill a 100 TB scan task).
# --------------------------------------------------------------------------

BMP_HEADER_SIZE = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER
WAV_HEADER_SIZE = 44  # RIFF + fmt(16) + data chunk headers


def bmp_row_size(width: int) -> int:
    """24bpp BMP rows are zero-padded to 4-byte boundaries."""
    return (width * 3 + 3) // 4 * 4


def encode_bmp(width: int, height: int) -> bytes:
    """Minimal spec-compliant 24bpp BMP with zeroed pixel data."""
    data_size = bmp_row_size(width) * height
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM",
        BMP_HEADER_SIZE + data_size,  # file size
        0,
        0,
        BMP_HEADER_SIZE,  # pixel data offset
        40,  # BITMAPINFOHEADER size
        width,
        height,
        1,  # planes
        24,  # bits per pixel
        0,  # BI_RGB (uncompressed)
        data_size,
        0,
        0,
        0,
        0,
    )
    return header + b"\x00" * data_size


def parse_bmp(content: bytes) -> dict | None:
    """Parse width/height from BMP bytes; None if not a valid BMP.

    Validation is strict on every fixed header field — magic alone is
    NOT enough: arbitrary text starting with "BM" ("BMW sales ...")
    would otherwise decode to garbage dimensions and hijack the
    metadata fallback for non-BMP payloads."""
    if len(content) < BMP_HEADER_SIZE or content[:2] != b"BM":
        return None
    pixel_offset, header_size, width, height, planes, bpp, compression = (
        struct.unpack_from("<I", content, 10)
        + struct.unpack_from("<Iii", content, 14)
        + struct.unpack_from("<HHI", content, 26)
    )
    if (
        header_size < 40
        or planes != 1
        or bpp not in (1, 4, 8, 16, 24, 32)
        or compression > 6  # beyond any defined BI_* method
        or not (0 < width <= 1 << 20)
        or not (0 < abs(height) <= 1 << 20)
        or not (BMP_HEADER_SIZE <= pixel_offset <= len(content))
    ):
        return None
    return {"width": width, "height": abs(height)}  # negative = top-down rows


def encode_wav(
    sample_rate: int, n_samples: int, channels: int = 1, sample_fn=None
) -> bytes:
    """Minimal PCM16 WAV; ``sample_fn(i) -> int16`` fills real sample
    data (mono), zeros otherwise."""
    block_align = channels * 2
    data_size = n_samples * block_align
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + data_size,
        b"WAVE",
        b"fmt ",
        16,  # fmt chunk size
        1,  # PCM
        channels,
        sample_rate,
        sample_rate * block_align,  # byte rate
        block_align,
        16,  # bits per sample
        b"data",
        data_size,
    )
    if sample_fn is None:
        return header + b"\x00" * data_size
    body = struct.pack(
        f"<{n_samples * channels}h",
        *[int(sample_fn(i)) for i in range(n_samples * channels)],
    )
    return header + body


def parse_wav_samples(content: bytes):
    """Decode the PCM16 payload of a mono WAV into an int array (the
    actual sample values, not just counts); None for malformed input
    or non-PCM16 payloads. Chunk walk mirrors :func:`parse_wav`."""
    import numpy as np

    if (
        len(content) < WAV_HEADER_SIZE
        or content[:4] != b"RIFF"
        or content[8:12] != b"WAVE"
    ):
        return None
    pos = 12
    block_align = bits = None
    while pos + 8 <= len(content):
        chunk_id, chunk_size = struct.unpack_from("<4sI", content, pos)
        body = pos + 8
        if chunk_id == b"fmt " and body + 16 <= len(content):
            audio_format, channels, _, _, block_align, bits = struct.unpack_from(
                "<HHIIHH", content, body
            )
            if audio_format != 1 or channels != 1 or bits != 16:
                return None
        elif chunk_id == b"data":
            if block_align != 2:
                return None
            n = min(chunk_size, len(content) - body) // 2
            return np.frombuffer(content, dtype="<i2", count=n, offset=body).astype(
                np.int64
            )
        pos = body + chunk_size + (chunk_size & 1)
    return None


def parse_wav(content: bytes) -> dict | None:
    """Parse sample_rate and sample count from PCM WAV bytes; None if
    not a valid RIFF/WAVE payload. Walks chunks, so payloads with extra
    chunks (LIST, fact) before ``data`` still parse."""
    if (
        len(content) < WAV_HEADER_SIZE
        or content[:4] != b"RIFF"
        or content[8:12] != b"WAVE"
    ):
        return None
    pos = 12
    sample_rate = block_align = None
    while pos + 8 <= len(content):
        chunk_id, chunk_size = struct.unpack_from("<4sI", content, pos)
        body = pos + 8
        if chunk_id == b"fmt " and body + 16 <= len(content):
            audio_format, channels, sample_rate, _, block_align, _ = (
                struct.unpack_from("<HHIIHH", content, body)
            )
            if (
                audio_format not in (1, 3)  # PCM / IEEE float
                or not (1 <= channels <= 64)
                or not (1 <= sample_rate <= 1_000_000)
            ):
                return None
        elif chunk_id == b"data":
            if not sample_rate or not block_align:
                return None  # data before fmt: malformed
            n_samples = min(chunk_size, len(content) - body) // block_align
            return {"sample_rate": sample_rate, "n_samples": n_samples}
        pos = body + chunk_size + (chunk_size & 1)  # chunks are word-aligned
    return None


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px


def _png_chunk(chunk_type: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + chunk_type
        + data
        + struct.pack(">I", zlib.crc32(chunk_type + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9, Filter type 4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_predictor(ft: int, cur, prev, i: int, bpp: int) -> int:
    a = cur[i - bpp] if i >= bpp else 0
    b = prev[i]
    c = prev[i - bpp] if i >= bpp else 0
    if ft == 1:
        return a
    if ft == 2:
        return b
    if ft == 3:
        return (a + b) // 2
    return _paeth(a, b, c)


# Adam7 interlace pass grid (PNG spec §8.2): (x_start, y_start,
# x_step, y_step). Each pass is an independently-filtered sub-image;
# empty passes (zero width or height) contribute NO bytes at all.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_dims(width: int, height: int, p: tuple) -> tuple[int, int]:
    x0, y0, dx, dy = p
    pw = (width - x0 + dx - 1) // dx if width > x0 else 0
    ph = (height - y0 + dy - 1) // dy if height > y0 else 0
    return pw, ph


def _png_filter_row(raw: bytearray, row: bytes, prev: bytes, ft: int, bpp: int) -> None:
    """Append one filtered scanline (filter byte + residuals) to raw.
    Filtering is defined on RECONSTRUCTED neighbors, which for the
    encoder are the raw bytes themselves."""
    raw.append(ft)
    if ft == 0:
        raw += row
    else:
        for i in range(len(row)):
            raw.append((row[i] - _png_predictor(ft, row, prev, i, bpp)) & 0xFF)


def encode_png(
    width: int, height: int, pixel_fn=None, interlace: bool = False
) -> bytes:
    """Spec-compliant 8-bit RGB (color type 2) PNG encoder. Each row is
    filtered with type ``y % 5`` (pass-local row index when
    interlaced), so a round trip exercises every standard filter
    (None/Sub/Up/Average/Paeth). ``pixel_fn(x, y)`` returns an
    (r, g, b) tuple; default is a deterministic gradient.
    ``interlace=True`` serializes the seven Adam7 passes (spec §8.2),
    each filtered independently with its own zero previous row."""
    import zlib

    if pixel_fn is None:
        pixel_fn = lambda x, y: ((x + y) % 256, (2 * x + y) % 256, (x * y) % 256)  # noqa: E731
    bpp = 3
    raw = bytearray()
    if not interlace:
        prev = bytes(width * bpp)
        for y in range(height):
            row = bytearray()
            for x in range(width):
                row += bytes(pixel_fn(x, y))
            _png_filter_row(raw, bytes(row), prev, y % 5, bpp)
            prev = bytes(row)
    else:
        for p in _ADAM7:
            x0, y0, dx, dy = p
            pw, ph = _adam7_dims(width, height, p)
            if pw == 0 or ph == 0:
                continue
            prev = bytes(pw * bpp)
            for j in range(ph):
                y = y0 + j * dy
                row = bytearray()
                for i in range(pw):
                    row += bytes(pixel_fn(x0 + i * dx, y))
                _png_filter_row(raw, bytes(row), prev, j % 5, bpp)
                prev = bytes(row)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, 2, 0, 0, 1 if interlace else 0
    )
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def parse_png(content: bytes) -> dict | None:
    """REAL pure-python PNG decoder: signature + chunk walk with CRC32
    validation, IHDR sanity checks, zlib-inflated IDAT, and full
    scanline defiltering. Returns ``{"width", "height", "channels",
    "pixels"}`` where ``pixels`` is the reconstructed raw sample bytes
    (palette images expanded to RGB via PLTE) — or ``pixels=None`` for
    valid-but-unsupported variants (bit depth != 8), where only the
    IHDR dimensions are trustworthy. Adam7-INTERLACED images decode
    for real: each of the seven passes defilters independently and
    scatters into the full raster (spec §8.2). Malformed payloads
    (bad CRC, wrong IDAT length, unknown filter type) return None
    rather than raising — a poisoned asset must not kill a scan task.

    The per-byte defilter loop is pure Python; synthetic assets here
    are tiny, and a production deployment swaps a C-backed codec into
    the same mapInPandas boundary."""
    import zlib

    if len(content) < len(PNG_SIGNATURE) + 25 or not content.startswith(
        PNG_SIGNATURE
    ):
        return None
    pos = len(PNG_SIGNATURE)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 12 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        chunk_type = content[pos + 4 : pos + 8]
        body = pos + 8
        if body + length + 4 > len(content):
            return None
        data = content[body : body + length]
        (crc,) = struct.unpack_from(">I", content, body + length)
        if zlib.crc32(chunk_type + data) & 0xFFFFFFFF != crc:
            return None
        if chunk_type == b"IHDR":
            if length != 13 or ihdr is not None:
                return None
            ihdr = struct.unpack(">IIBBBBB", data)
        elif chunk_type == b"PLTE":
            plte = data
        elif chunk_type == b"IDAT":
            idat += data
        elif chunk_type == b"IEND":
            break
        pos = body + length + 4
    if ihdr is None or not idat:
        return None
    width, height, bit_depth, color_type, compression, filter_method, interlace = ihdr
    if (
        not (0 < width <= 1 << 20)
        or not (0 < height <= 1 << 20)
        or color_type not in _PNG_CHANNELS
        or compression != 0
        or filter_method != 0
        or interlace not in (0, 1)
    ):
        return None
    dims = {"width": width, "height": height, "channels": None, "pixels": None}
    if bit_depth != 8:
        return dims  # header-only: dimensions are still from the bytes
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    channels = _PNG_CHANNELS[color_type]
    if interlace == 0:
        stride = width * channels
        if len(raw) != (stride + 1) * height:
            return None
        recon = bytearray()
        prev = bytearray(stride)
        rpos = 0
        for _y in range(height):
            ft = raw[rpos]
            rpos += 1
            if ft > 4:
                return None
            cur = bytearray(raw[rpos : rpos + stride])
            rpos += stride
            if ft != 0:
                for i in range(stride):
                    cur[i] = (cur[i] + _png_predictor(ft, cur, prev, i, channels)) & 0xFF
            recon += cur
            prev = cur
    else:
        # Adam7: seven independently-filtered sub-images scattered
        # back into the full raster (spec §8.2); empty passes carry
        # no bytes, and each pass's defilter starts from a zero row
        expected = sum(
            (pw * channels + 1) * ph
            for pw, ph in (_adam7_dims(width, height, p) for p in _ADAM7)
            if pw and ph
        )
        if len(raw) != expected:
            return None
        recon = bytearray(width * height * channels)
        rpos = 0
        for p in _ADAM7:
            x0, y0, dx, dy = p
            pw, ph = _adam7_dims(width, height, p)
            if pw == 0 or ph == 0:
                continue
            stride = pw * channels
            prev = bytearray(stride)
            for j in range(ph):
                ft = raw[rpos]
                rpos += 1
                if ft > 4:
                    return None
                cur = bytearray(raw[rpos : rpos + stride])
                rpos += stride
                if ft != 0:
                    for i in range(stride):
                        cur[i] = (
                            cur[i]
                            + _png_predictor(ft, cur, prev, i, channels)
                        ) & 0xFF
                y = y0 + j * dy
                base = y * width * channels
                for i in range(pw):
                    off = base + (x0 + i * dx) * channels
                    recon[off : off + channels] = cur[
                        i * channels : (i + 1) * channels
                    ]
                prev = cur
    if color_type == 3:  # palette: expand indices to RGB
        if plte is None or len(plte) % 3 != 0:
            return None
        n_entries = len(plte) // 3
        if any(ix >= n_entries for ix in recon):
            return None
        recon = bytearray(
            b for ix in recon for b in plte[ix * 3 : ix * 3 + 3]
        )
        channels = 3
    dims["channels"] = channels
    dims["pixels"] = bytes(recon)
    return dims


def _decode_bytes(content: bytes | None, meta) -> dict | None:
    """Decode one asset. BMP and WAV payloads are parsed for real from
    the bytes; other formats (no codec library in this container) fall
    back to trusting the metadata struct for their dimensions —
    production swaps PIL/ffmpeg in right here, nothing else changes."""
    if content is None:
        return None
    decoded = {
        "content_hash": hashlib.md5(content).hexdigest(),
        "n_bytes": len(content),
        "width": None,
        "height": None,
        "sample_rate": None,
        "n_samples": None,
    }
    parsed = parse_bmp(content) or parse_wav(content)
    if parsed is None:
        png = parse_png(content)
        if png is not None:
            parsed = {"width": png["width"], "height": png["height"]}
    if parsed is not None:
        decoded.update(parsed)
    elif meta is not None:  # compressed formats: metadata fallback
        # nullable struct ints arrive as floats (NaN for null) via Arrow
        opt = lambda v: None if v is None or pd.isna(v) else int(v)  # noqa: E731
        decoded["width"] = opt(meta["width"])
        decoded["height"] = opt(meta["height"])
        decoded["sample_rate"] = opt(meta["sample_rate"])
        if meta["media_type"] == "audio":
            decoded["n_samples"] = opt(meta["n_frames"])
    return decoded


def _spread_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Id projection repartitioned across the cluster before a
    per-asset codec stage: a single-file parquet scan arrives as ONE
    partition, which would serialize every encode/decode onto one
    core. The exchange moves only the id column (bytes per row), and
    hash partitioning on the id keeps placement deterministic. NULL
    ids are dropped: there is no asset to build for them."""
    ids = df.select(id_column).where(F.col(id_column).isNotNull())
    par = max(int(ids.sparkSession.sparkContext.defaultParallelism), 1)
    return ids.repartition(par, F.col(id_column))


def _map_records(
    df: DataFrame, schema: StructType, fn, ids: str | None = None
) -> DataFrame:
    """The record lane: one Arrow-batched ``mapInPandas`` stage that
    calls ``fn`` once per input row. ``fn`` yields zero, one or many
    record dicts; a schema column a record leaves out is NULL, keys
    outside the schema are dropped, and each batch comes back as one
    frame in schema column order. ``fn`` receives the row as a dict,
    or — with ``ids`` — each id of that column as a Python int after
    :func:`_spread_ids`."""
    cols = schema.fieldNames()
    if ids is not None:
        df = _spread_ids(df, ids)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = (
                [int(v) for v in pdf[ids]]
                if ids is not None
                else pdf.to_dict("records")
            )
            yield pd.DataFrame(
                [[rec.get(c) for c in cols] for row in rows for rec in fn(row)],
                columns=cols,
            )

    return df.mapInPandas(run, schema=schema)


def _media_row(
    aid: int,
    content: bytes,
    media_type: str,
    fmt: str,
    width: int | None = None,
    height: int | None = None,
) -> dict:
    """One :data:`MEDIA_SCHEMA` record; frame count and sample rate
    stay NULL."""
    return {
        "asset_id": aid,
        "content": content,
        "meta": {
            "media_type": media_type,
            "format": fmt,
            "width": width,
            "height": height,
            "n_frames": None,
            "sample_rate": None,
        },
    }


def decode_media(df: DataFrame) -> DataFrame:
    """Decode assets to per-asset records (one row each; NULL stats
    for NULL content)."""

    def decode(row: dict):
        decoded = _decode_bytes(row["content"], row["meta"])
        yield {"asset_id": row["asset_id"], **(decoded or {})}

    return _map_records(df, DECODED_SCHEMA, decode)


def codec_assets_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Deterministic REAL-codec asset table from an id column: even ids
    become 24bpp BMPs (width = id%8+1, height = id%6+1), odd ids become
    PCM16 WAVs (rate = 8000 + id%4·1000, samples = id%100+1) — built by
    the spec encoders with the dimension METADATA deliberately withheld,
    so anything a decoder reports can only have come from the bytes.
    """

    def build(aid: int):
        if aid % 2 == 0:
            bmp = encode_bmp(aid % 8 + 1, aid % 6 + 1)
            yield _media_row(aid, bmp, "image", "bmp")
        else:
            wav = encode_wav(8000 + aid % 4 * 1000, aid % 100 + 1)
            yield _media_row(aid, wav, "audio", "wav")

    return _map_records(df, MEDIA_SCHEMA, build, ids=id_column)


def png_assets_from_ids(
    df: DataFrame,
    id_column: str,
    interlace: bool = False,
    base: int = 2,
) -> DataFrame:
    """Deterministic REAL-PNG asset table from an id column: 8-bit RGB,
    width = id%6+base, height = id%5+base, pixel (x, y) =
    ((x+y+id)%256, (2x+y+id)%256, (x·y+id)%256), rows filtered with
    type y%5 (every standard PNG filter appears for height ≥ 5).
    ``interlace=True`` writes Adam7 passes (pair with a larger
    ``base`` so several passes are non-empty). Dimension metadata is
    deliberately withheld: anything a decoder reports can only have
    come from the compressed bytes."""

    def build(aid: int):
        content = encode_png(
            aid % 6 + base,
            aid % 5 + base,
            interlace=interlace,
            pixel_fn=lambda x, y: (
                (x + y + aid) % 256,
                (2 * x + y + aid) % 256,
                (x * y + aid) % 256,
            ),
        )
        yield _media_row(aid, content, "image", "png")

    return _map_records(df, MEDIA_SCHEMA, build, ids=id_column)


PNG_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


def png_pixel_stats(df: DataFrame) -> DataFrame:
    """Full-decode pixel statistics per PNG asset: channel means over
    the RECONSTRUCTED pixels (CRC check, inflate, defilter all on the
    hot path — any codec bug corrupts the means). Arrow-batched
    mapInPandas; grayscale/alpha channels fold as (r=g=b=gray)."""
    import numpy as np

    def stats(row: dict):
        rec = {"asset_id": row["asset_id"]}
        png = parse_png(row["content"]) if row["content"] is not None else None
        if png is not None:
            rec["width"] = png["width"]
            rec["height"] = png["height"]
            if png["pixels"] is not None:
                mat = np.frombuffer(png["pixels"], dtype=np.uint8).astype(
                    np.float64
                ).reshape(-1, png["channels"])
                means = mat.mean(axis=0)
                if png["channels"] >= 3:
                    r, g, b = means[0], means[1], means[2]
                else:  # gray / gray+alpha
                    r = g = b = means[0]
                rec["mean_r"] = round(r, 6)
                rec["mean_g"] = round(g, 6)
                rec["mean_b"] = round(b, 6)
        yield rec

    return _map_records(df, PNG_STATS_SCHEMA, stats)


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Per-asset feature vector in long form (asset_id, feature, value).

    STUB features: deterministic bytes-derived values standing in for a
    real embedding model. Long form keeps the schema stable as ``dim``
    changes and feeds the similarity operators directly. Each value is
    one byte of the content's sha256 digest, so ``dim`` is 1..32."""
    if not 1 <= dim <= 32:
        raise ValueError(f"dim must be in 1..32 (sha256 digest bytes), got {dim}")

    def feats(row: dict):
        if row["content"] is None:
            return
        digest = hashlib.sha256(row["content"]).digest()
        for j in range(dim):
            yield {
                "asset_id": row["asset_id"],
                "feature": f"f{j}",
                "value": digest[j] / 255.0,
            }

    return _map_records(df, FEATURES_SCHEMA, feats)


def resize_png(content: bytes, width: int, height: int) -> bytes | None:
    """REAL nearest-neighbor resample for decodable 8-bit RGB PNGs:
    decode (CRC + inflate + defilter), sample source pixel
    ``(dst·src_size) // dst_size`` per axis, re-encode. Returns None
    when the payload isn't a fully-decodable RGB PNG — callers fall
    back to the metadata-only stub path for foreign formats."""
    import numpy as np

    png = parse_png(content)
    if png is None or png["pixels"] is None or png["channels"] != 3:
        return None
    src = np.frombuffer(png["pixels"], dtype=np.uint8).reshape(
        png["height"], png["width"], 3
    )
    xs = (np.arange(width) * png["width"]) // width
    ys = (np.arange(height) * png["height"]) // height
    dst = src[ys][:, xs]
    return encode_png(
        width, height, pixel_fn=lambda x, y: tuple(int(v) for v in dst[y, x])
    )


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize at the Arrow boundary: decodable RGB PNGs are
    REALLY resampled (nearest-neighbor via :func:`resize_png`) and
    re-encoded; other formats keep their bytes and only update
    metadata (the documented stub path — swap PIL in right here for
    jpeg and friends, nothing else changes)."""

    def resize(row: dict):
        content, meta = row["content"], row["meta"]
        resized = (
            resize_png(content, width, height) if content is not None else None
        )
        yield {
            **row,
            "content": content if resized is None else resized,
            "meta": (
                None if meta is None else {**meta, "width": width, "height": height}
            ),
        }

    return _map_records(df, df.schema, resize)


def sample_frames(df: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame sampling for video assets: one output row per kept frame,
    ``(asset_id, frame_index, frame_hash)``. Frame decode is stubbed;
    the fan-out shape (1 asset row -> n_frames/every_nth rows) is real.
    """
    if every_nth < 1:
        raise ValueError(f"every_nth must be >= 1, got {every_nth}")
    schema = StructType(
        [
            StructField("asset_id", LongType(), False),
            StructField("frame_index", IntegerType(), False),
            StructField("frame_hash", StringType(), True),
        ]
    )

    def frames(row: dict):
        meta = row["meta"]
        if meta is None or meta["media_type"] != "video":
            return
        # nullable struct ints arrive as floats through Arrow
        for idx in range(0, int(meta["n_frames"] or 0), every_nth):
            h = hashlib.md5(
                (row["content"] or b"") + idx.to_bytes(4, "big")
            ).hexdigest()
            yield {"asset_id": row["asset_id"], "frame_index": idx, "frame_hash": h}

    return _map_records(df, schema, frames)


def chunk_audio(df: DataFrame, window_seconds: float = 1.0) -> DataFrame:
    """Audio windowing: one output row per fixed-duration chunk of each
    audio asset, ``(asset_id, chunk_index, start_sample, n_samples,
    chunk_hash)``. PCM decode is stubbed (the hash stands in for the
    samples); the fan-out shape — 1 asset row ->
    ceil(total_samples / window) rows, Arrow-batched, no driver loop —
    is real, and is what an ASR/embedding pre-processor consumes.

    Total samples per asset are ``n_frames`` (sample count) at
    ``sample_rate`` Hz, both from the typed metadata struct.
    """
    schema = StructType(
        [
            StructField("asset_id", LongType(), False),
            StructField("chunk_index", IntegerType(), False),
            StructField("start_sample", LongType(), False),
            StructField("n_samples", IntegerType(), False),
            StructField("chunk_hash", StringType(), True),
        ]
    )

    def chunks(row: dict):
        meta = row["meta"]
        if meta is None or meta["media_type"] != "audio":
            return
        # nullable struct ints arrive as floats through Arrow
        rate = int(meta["sample_rate"] or 0)
        total = int(meta["n_frames"] or 0)
        if rate <= 0 or total <= 0:
            return
        per = max(int(rate * window_seconds), 1)
        for idx, start in enumerate(range(0, total, per)):
            h = hashlib.md5(
                (row["content"] or b"") + start.to_bytes(8, "big")
            ).hexdigest()
            yield {
                "asset_id": row["asset_id"],
                "chunk_index": idx,
                "start_sample": start,
                "n_samples": min(per, total - start),
                "chunk_hash": h,
            }

    return _map_records(df, schema, chunks)


def media_table(spark, rows: list[tuple]) -> DataFrame:
    """Helper to build a media DataFrame with the canonical schema."""
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# JPEG / MP4 metadata probing (real header parsers; the full decode
# paths live in paqarin_spark.jpeg and mjpeg_frame_stats_from_ids)

JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOF0..15 minus DHT/JPG/DAC


def encode_jpeg_shell(width: int, height: int, comment: bytes = b"") -> bytes:
    """Syntactically valid JPEG container: SOI, JFIF APP0, optional
    COM, a 3-component SOF0 carrying the real dimensions, EOI. No
    entropy-coded scan — this builds PROBE fixtures, not viewable
    images; the point is that the dimensions live only in the SOF
    payload, exactly where a real camera JPEG keeps them."""
    app0 = struct.pack(">HH5sBBBHHBB", 0xFFE0, 16, b"JFIF\x00", 1, 2, 0, 72, 72, 0, 0)
    com = struct.pack(">HH", 0xFFFE, 2 + len(comment)) + comment if comment else b""
    sof0 = struct.pack(
        ">HHBHHB", 0xFFC0, 8 + 3 * 3, 8, height, width, 3
    ) + b"".join(struct.pack("BBB", i + 1, 0x11, 0) for i in range(3))
    return b"\xff\xd8" + app0 + com + sof0 + b"\xff\xd9"


def parse_jpeg_meta(content: bytes) -> dict | None:
    """Marker-walk metadata probe: dimensions + component count from
    the first SOFn segment. Strict: SOI required, segment lengths must
    stay in-bounds, SOF payload must be complete. Returns None for
    anything malformed — text that merely starts with 0xFFD8-looking
    bytes cannot produce garbage dimensions."""
    if len(content) < 4 or content[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(content):
        if content[i] != 0xFF:
            return None
        marker = content[i + 1]
        if marker == 0xD9:  # EOI before any SOF
            return None
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RST/TEM: bare
            i += 2
            continue
        (seg_len,) = struct.unpack_from(">H", content, i + 2)
        if seg_len < 2 or i + 2 + seg_len > len(content):
            return None
        if marker in JPEG_SOF_MARKERS:
            if seg_len < 8:
                return None
            precision, height, width, n_comp = struct.unpack_from(
                ">BHHB", content, i + 4
            )
            if precision not in (8, 12, 16) or width == 0 or height == 0:
                return None
            return {
                "width": width,
                "height": height,
                "n_components": n_comp,
                "progressive": marker == 0xC2,
            }
        i += 2 + seg_len
    return None


def _mp4_box(kind: bytes, payload: bytes) -> bytes:
    return struct.pack(">I4s", 8 + len(payload), kind) + payload


def encode_mp4_shell(
    duration: int, timescale: int = 1000, pad: int = 0
) -> bytes:
    """Minimal ISO-BMFF container: ftyp + moov/mvhd (version 0) with
    the real timescale/duration, plus an optional ``free`` box so
    fixture sizes vary. Like the JPEG shell: a structurally real
    container whose metadata lives where ffprobe would look."""
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd_payload = (
        struct.pack(">BxxxII", 0, 0, 0)  # version/flags, ctime, mtime
        + struct.pack(">II", timescale, duration)
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">hxx", 0x0100)  # volume 1.0 + reserved
        + b"\x00" * 8
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2)  # next track id
    )
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd_payload))
    free = _mp4_box(b"free", b"\x00" * pad) if pad else b""
    return ftyp + moov + free


def parse_mp4_meta(content: bytes) -> dict | None:
    """Box-walk metadata probe: timescale/duration from moov/mvhd.
    Strict on box sizes; returns None when the walk runs off the end
    or mvhd is missing/truncated."""

    def walk(data: bytes, want: bytes) -> bytes | None:
        i = 0
        while i + 8 <= len(data):
            size, kind = struct.unpack_from(">I4s", data, i)
            if size < 8 or i + size > len(data):
                return None
            if kind == want:
                return data[i + 8 : i + size]
            i += size
        return None

    if len(content) < 8:
        return None
    moov = walk(content, b"moov")
    if moov is None:
        return None
    mvhd = walk(moov, b"mvhd")
    if mvhd is None or len(mvhd) < 20 or mvhd[0] != 0:
        return None
    timescale, duration = struct.unpack_from(">II", mvhd, 12)
    if timescale == 0:
        return None
    return {
        "timescale": timescale,
        "duration": duration,
        "duration_s": duration / timescale,
    }


def encode_mp4_with_samples(
    samples: list[bytes], timescale: int = 1000, duration: int | None = None
) -> bytes:
    """ISO-BMFF container with a REAL sample table: ftyp + moov
    (mvhd, trak/tkhd, mdia/mdhd+hdlr, minf/stbl with stsd, stts,
    stsc, stsz, stco) + an mdat whose payload is the concatenated
    samples, laid out as one chunk. The stco entry is the absolute
    file offset of the first sample, so a reader can seek to real
    essence — the structure ffprobe/mp4dump walk, minus codec-specific
    stsd entries (entry_count 0: the container is codec-agnostic; when
    the samples are baseline-JPEG frames,
    :func:`mjpeg_frame_stats_from_ids` decodes them for real)."""
    n = len(samples)
    sizes = [len(s) for s in samples]
    if duration is None:
        duration = n * timescale // 30 if n else 0

    mvhd_payload = (
        struct.pack(">BxxxII", 0, 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">i", 0x00010000)
        + struct.pack(">hxx", 0x0100)
        + b"\x00" * 8
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2)
    )
    tkhd_payload = (
        # version 0 + flags 0x000007 (enabled|in_movie|in_preview) in
        # ONE 32-bit word — `>BxxxI` would zero the flag bytes and
        # write the 7 into creation_time, leaving the track disabled
        struct.pack(">I", 0x00000007)
        + struct.pack(">II", 0, 0)  # creation/modification time
        + struct.pack(">IxxxxI", 1, duration)  # track id, rsvd, duration
        + b"\x00" * 8
        + struct.pack(">hhhxx", 0, 0, 0)  # layer, alt group, volume
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 0, 0)  # width, height (16.16)
    )
    mdhd_payload = (
        struct.pack(">BxxxII", 0, 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">Hxx", 0x55C4)  # language 'und'
    )
    hdlr_payload = (
        struct.pack(">Bxxx", 0) + b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00"
    )
    stsd = _mp4_box(b"stsd", struct.pack(">BxxxI", 0, 0))
    stts = _mp4_box(b"stts", struct.pack(">BxxxIII", 0, 1, n, timescale // 30 or 1))
    stsc = _mp4_box(b"stsc", struct.pack(">BxxxIIII", 0, 1, 1, max(n, 1), 1))
    stsz = _mp4_box(
        b"stsz", struct.pack(">BxxxII", 0, 0, n) + struct.pack(f">{n}I", *sizes)
    )

    def assemble(chunk_offset: int) -> bytes:
        stco = _mp4_box(b"stco", struct.pack(">BxxxII", 0, 1, chunk_offset))
        stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(
            b"mdia", _mp4_box(b"mdhd", mdhd_payload) + _mp4_box(b"hdlr", hdlr_payload)
            + minf
        )
        trak = _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd_payload) + mdia)
        return _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd_payload) + trak)

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    # stco stores an absolute offset, but box sizes don't depend on its
    # VALUE (fixed 4 bytes) — assemble once to measure, once for real.
    moov_len = len(assemble(0))
    offset = len(ftyp) + moov_len + 8  # + mdat header
    mdat = _mp4_box(b"mdat", b"".join(samples))
    return ftyp + assemble(offset) + mdat


def _walk_box(data: bytes, want: bytes) -> bytes | None:
    """First-level box scan: payload of the first ``want`` box, or
    None on truncated/malformed sizes (strict, like parse_mp4_meta)."""
    i = 0
    while i + 8 <= len(data):
        size, kind = struct.unpack_from(">I4s", data, i)
        if size < 8 or i + size > len(data):
            return None
        if kind == want:
            return data[i + 8 : i + size]
        i += size
    return None


def parse_mp4_sample_table(content: bytes) -> dict | None:
    """Sample-table probe: walk moov→trak→mdia→minf→stbl, decode stsz
    (per-sample sizes) + stco (chunk offset), and VERIFY the table
    against the file — every sample must land inside the mdat
    payload, and the first byte of each sample is read back through
    the stco/stsz arithmetic (proving the offsets point at real
    essence, not just self-consistent metadata). Returns None for
    malformed payloads rather than raising — a poisoned asset must
    not kill a scan task."""
    if len(content) < 8:
        return None
    moov = _walk_box(content, b"moov")
    if moov is None:
        return None
    stbl = moov
    for kind in (b"trak", b"mdia", b"minf", b"stbl"):
        stbl = _walk_box(stbl, kind)
        if stbl is None:
            return None
    stsz = _walk_box(stbl, b"stsz")
    stco = _walk_box(stbl, b"stco")
    if stsz is None or stco is None or len(stsz) < 12 or len(stco) < 8:
        return None
    fixed_size, n = struct.unpack_from(">II", stsz, 4)
    if fixed_size != 0:
        # Bound BEFORE materializing: a poisoned stsz with
        # n=0xFFFFFFFF would otherwise allocate a ~4-billion-entry
        # list (executor OOM) ahead of the offset check below.
        if fixed_size * n > len(content):
            return None
        sizes = [fixed_size] * n
    else:
        if len(stsz) < 12 + 4 * n:
            return None
        sizes = list(struct.unpack_from(f">{n}I", stsz, 12))
    (n_chunks,) = struct.unpack_from(">I", stco, 4)
    if n_chunks < 1 or len(stco) < 8 + 4 * n_chunks:
        return None
    (chunk_offset,) = struct.unpack_from(">I", stco, 8)
    if chunk_offset + sum(sizes) > len(content):
        return None
    first_byte_sum = 0
    pos = chunk_offset
    for sz in sizes:
        if sz > 0:
            first_byte_sum += content[pos]
        pos += sz
    return {
        "n_samples": n,
        "sample_sizes": sizes,
        "total_sample_bytes": sum(sizes),
        "max_sample_bytes": max(sizes) if sizes else 0,
        "chunk_offset": chunk_offset,
        "first_byte_sum": first_byte_sum,
    }


SAMPLE_TABLE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("total_sample_bytes", LongType(), True),
        StructField("max_sample_bytes", LongType(), True),
        StructField("chunk_offset", LongType(), True),
        StructField("first_byte_sum", LongType(), True),
        StructField("n_bytes", LongType(), False),
    ]
)


def mp4_sample_stats_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Build-then-probe MP4s with REAL sample tables in one
    Arrow-batched pass: each id becomes a container holding
    ``id%7+2`` samples, sample k sized ``(id·31 + k·17)%113 + 1``
    bytes filled with byte ``(id+k)%256``; everything the probe
    reports is re-parsed (and byte-verified) from the container —
    the oracle predicts each field, including the exact stco chunk
    offset, from id arithmetic. Linear scan, no shuffle — the shard
    planner a 100-TB video ingest runs before any decode."""

    def build(aid: int):
        n = aid % 7 + 2
        samples = [
            bytes([(aid + k) % 256]) * ((aid * 31 + k * 17) % 113 + 1)
            for k in range(n)
        ]
        content = encode_mp4_with_samples(samples)
        table = parse_mp4_sample_table(content)
        yield {**(table or {}), "asset_id": aid, "n_bytes": len(content)}

    return _map_records(df, SAMPLE_TABLE_SCHEMA, build, ids=id_column)


MJPEG_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_index", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


def mjpeg_frame_stats_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Motion-JPEG VIDEO ESSENCE decode through the ISO-BMFF sample
    table — the mm10 shard-planner walk now drives real pixel decode,
    closing the last codec stub with zero external libraries.

    Build: each id becomes a container whose mdat holds
    ``id % 3 + 2`` baseline-JPEG frames (paqarin_spark.jpeg encoder —
    standard Annex K tables; frame k solid-colored
    ``((7·id+19k) % 256, (13·id+5+23k) % 256, (29·id+11+31k) % 256)``
    at ``(id%2+1)·8 × 8``; 4:4:4 when ``(id+k)`` is even, 4:2:0
    MCU-interleaved otherwise), indexed by a real stsz/stco table
    (:func:`encode_mp4_with_samples`).

    Decode — honest, container-only: :func:`parse_mp4_sample_table`
    byte-verifies stsz/stco, each sample is sliced out of the mdat at
    its table offset, and ``paqarin_spark.jpeg.parse_jpeg`` runs the
    full entropy decode → dequantize → IDCT → upsample → YCbCr→RGB
    pipeline per frame. width/height come from each frame's SOF0,
    the channel means from the reconstructed pixels; solid fixtures
    keep every lossy floor(round(x,6)+0.5) step exactly predictable,
    so the per-frame means replay in SQL (mm8's DC-quantization
    arithmetic) even though JPEG is lossy. Arrow-batched linear scan,
    1 asset → n_frames rows, no shuffle — at 100 TB this is the
    frame-extraction pass that runs right after the mm10 shard plan."""
    import numpy as np

    from paqarin_spark.jpeg import encode_jpeg, parse_jpeg

    def build(aid: int):
        n = aid % 3 + 2
        w, h = (aid % 2 + 1) * 8, 8
        frames = []
        for k in range(n):
            img = np.zeros((h, w, 3), dtype=np.uint8)
            img[..., 0] = (7 * aid + 19 * k) % 256
            img[..., 1] = (13 * aid + 5 + 23 * k) % 256
            img[..., 2] = (29 * aid + 11 + 31 * k) % 256
            frames.append(
                encode_jpeg(
                    img,
                    subsampling="444" if (aid + k) % 2 == 0 else "420",
                )
            )
        content = encode_mp4_with_samples(frames)
        # decode side: everything below reads ONLY `content`
        table = parse_mp4_sample_table(content)
        if table is None:
            return  # malformed container: no frame rows
        pos = table["chunk_offset"]
        for k, sz in enumerate(table["sample_sizes"]):
            jpg = parse_jpeg(content[pos : pos + sz])
            pos += sz
            yield {"asset_id": aid, "frame_index": k, **_jpeg_stats(jpg)}

    return _map_records(df, MJPEG_STATS_SCHEMA, build, ids=id_column)


PROBE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_components", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("n_bytes", LongType(), False),
    ]
)


def probe_media_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Build-then-probe in one Arrow-batched pass: even ids become
    JPEG shells (width = id%640+16, height = id%480+16, COM length =
    id%50), odd ids MP4 shells (duration = id%9000+1000 ms at
    timescale 1000, free-box pad = id%50). Metadata is deliberately
    NOT carried alongside — everything the probe reports is re-parsed
    from the bytes, and the mm7 oracle predicts it from id arithmetic
    (including exact byte sizes). The probe is what a 100-TB ingest
    runs BEFORE any decode: cheap header walks to route/filter/shard
    assets, linear scan, no shuffle."""

    def build(aid: int):
        if aid % 2 == 0:
            content = encode_jpeg_shell(
                aid % 640 + 16, aid % 480 + 16, b"x" * (aid % 50)
            )
            meta = parse_jpeg_meta(content)
            yield {**meta, "asset_id": aid, "kind": "jpeg", "n_bytes": len(content)}
        else:
            content = encode_mp4_shell(aid % 9000 + 1000, 1000, aid % 50)
            yield {
                "asset_id": aid,
                "kind": "mp4",
                "duration_ms": parse_mp4_meta(content)["duration"],
                "n_bytes": len(content),
            }

    return _map_records(df, PROBE_SCHEMA, build, ids=id_column)


def jpeg_assets_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Deterministic REAL-JPEG asset table from an id column: baseline
    sequential JFIF (standard Annex K tables), solid color
    (7·id % 256, (13·id+5) % 256, (29·id+11) % 256) at
    width = (id%4+1)·8, height = (id%3+1)·8; even ids encode 4:4:4,
    odd ids 4:2:0 (exercising MCU interleave + chroma upsample).
    Dimension metadata is withheld — anything a decoder reports can
    only come from entropy-decoding the scan. Solid fixtures keep
    every decoded pixel exactly predictable through the codec's
    floor(x+0.5) contract, so channel means are SQL-checkable even
    though JPEG is lossy."""
    import numpy as np

    from paqarin_spark.jpeg import encode_jpeg

    def build(aid: int):
        w, h = (aid % 4 + 1) * 8, (aid % 3 + 1) * 8
        img = np.zeros((h, w, 3), dtype=np.uint8)
        img[..., 0] = 7 * aid % 256
        img[..., 1] = (13 * aid + 5) % 256
        img[..., 2] = (29 * aid + 11) % 256
        content = encode_jpeg(img, subsampling="444" if aid % 2 == 0 else "420")
        yield _media_row(aid, content, "image", "jpeg")

    return _map_records(df, MEDIA_SCHEMA, build, ids=id_column)


def _jpeg_stats(jpg: dict | None) -> dict:
    """width/height and 6dp channel means of one decoded JPEG (gray
    folds as r=g=b); empty for an undecodable one."""
    import numpy as np

    if jpg is None:
        return {}
    px = jpg["pixels"].astype(np.float64)
    if px.ndim == 2:  # grayscale
        means = [px.mean()] * 3
    else:
        means = px.reshape(-1, px.shape[-1]).mean(axis=0)
    return {
        "width": jpg["width"],
        "height": jpg["height"],
        "mean_r": round(float(means[0]), 6),
        "mean_g": round(float(means[1]), 6),
        "mean_b": round(float(means[2]), 6),
    }


def jpeg_pixel_stats(df: DataFrame) -> DataFrame:
    """Full-decode pixel statistics per JPEG asset (paqarin_spark.jpeg
    — Huffman entropy decode, dequantize, IDCT, upsample, YCbCr→RGB
    all on the hot path): width/height from SOF0 and channel means
    over the reconstructed pixels. Arrow-batched mapInPandas, same
    shape as :func:`png_pixel_stats`."""
    from paqarin_spark.jpeg import parse_jpeg

    def stats(row: dict):
        content = row["content"]
        jpg = parse_jpeg(bytes(content)) if content is not None else None
        yield {"asset_id": row["asset_id"], **_jpeg_stats(jpg)}

    return _map_records(df, PNG_STATS_SCHEMA, stats)


WAV_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("mean_abs", DoubleType(), True),
        StructField("peak", LongType(), True),
        StructField("zero_crossings", LongType(), True),
    ]
)


def wav_assets_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Deterministic REAL-PCM WAV asset table from an id column:
    mono 16-bit, n = id%100+1 samples at 8000+id%4·1000 Hz, sample
    s(i) = ((i·(id%7+1)·37 + id) mod 4001) − 2000 — real waveform data
    whose every value is id-arithmetic, so decoded FEATURES (not just
    counts) are SQL-checkable."""

    def build(aid: int):
        step = aid % 7 + 1
        content = encode_wav(
            8000 + aid % 4 * 1000,
            aid % 100 + 1,
            sample_fn=lambda i: ((i * step * 37 + aid) % 4001) - 2000,
        )
        yield _media_row(aid, content, "audio", "wav")

    return _map_records(df, MEDIA_SCHEMA, build, ids=id_column)


def wav_audio_stats(df: DataFrame) -> DataFrame:
    """Waveform feature extraction from DECODED PCM samples
    (parse_wav_samples on the hot path): per asset the sample count,
    mean |amplitude| (6dp), peak |amplitude|, and zero-crossing count
    (strict sign products < 0, zeros break runs) — the front half of
    any audio featurization pipeline, Arrow-batched mapInPandas."""
    import numpy as np

    def stats(row: dict):
        rec = {"asset_id": row["asset_id"]}
        content = row["content"]
        s = parse_wav_samples(bytes(content)) if content is not None else None
        if s is not None and len(s):
            rec["n_samples"] = int(len(s))
            rec["mean_abs"] = round(float(np.abs(s).mean()), 6)
            rec["peak"] = int(np.abs(s).max())
            rec["zero_crossings"] = int((s[:-1] * s[1:] < 0).sum())
        yield rec

    return _map_records(df, WAV_STATS_SCHEMA, stats)


WAV_DFT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("bin", IntegerType(), False),
        StructField("n_samples", IntegerType(), False),
        StructField("magnitude", DoubleType(), True),
    ]
)


def wav_dft_features(
    df: DataFrame, bins: tuple[int, ...] = (1, 2, 3)
) -> DataFrame:
    """Spectral band energies from DECODED PCM samples — the direct
    DFT magnitude at integer frequency bins k:

        mag_k = |Σ_i s_i · e^(−2πi·k·i/n)| / n

    computed from real bytes (parse_wav_samples on the hot path, the
    wav_audio_stats discipline) with one vectorized cos/sin pass per
    bin — the front half of any audio fingerprint/features pipeline
    (spectral centroid, band ratios, silence detection all read off
    these). Arrow-batched mapInPandas, no shuffle; per-asset work is
    O(n·|bins|). Assets whose payload fails the WAV parse are skipped
    (no sample evidence), exactly like the stats op.

    The angle is computed as ``(2π·k)·i/n`` in that association order
    — keep it in lockstep with the oracle mirror; magnitudes round
    HALF-UP at 6dp (np.round is banker's and would flip half-boundary
    values against the SQL ROUND).

    Determinism of the reduction: each cos/sin term is rounded
    half-away-from-zero at 12dp to an INTEGER count of 1e-12 units
    and summed as ARBITRARY-PRECISION Python ints — an exact,
    order-independent sum (numpy's pairwise ``.sum()`` vs a SQL
    engine's sequential SUM can differ in the last ulp otherwise,
    and an int64 accumulator would wrap at full-scale 16-bit PCM:
    per-term units reach |sample|·1e12 ≈ 3.3e16, test-pinned). The final ``units/1e12`` divide
    mirrors the oracle's ``CAST(SUM(CAST(ROUND(term,12) AS
    DECIMAL(38,12))) AS DOUBLE)`` bit-for-bit (decimal→double in
    DuckDB is integer-units → double → /10^scale)."""
    import math

    import numpy as np

    # Python-int summation: per-term units reach |sample|*1e12 (3.3e16
    # for 16-bit PCM), so an int64 accumulator would wrap on long
    # correlated clips while the oracle's DECIMAL(38,12) doesn't;
    # arbitrary-precision ints stay exact at any n. Round-half-away via
    # floor(x+0.5) only BELOW 2^52: above it doubles are already
    # integral and the +0.5 would tie-to-even, bumping odd values —
    # the oracle's DECIMAL cast takes them verbatim
    def _units(t: np.ndarray) -> int:
        a = np.abs(t) * 1e12
        u = np.where(a >= 2.0**52, a, np.floor(a + 0.5))
        return sum(int(v) for v in (u * np.sign(t)))

    def feats(row: dict):
        content = row["content"]
        s = parse_wav_samples(bytes(content)) if content is not None else None
        if s is None or not len(s):
            return
        x = s.astype(np.float64)
        n = len(x)
        idx = np.arange(n, dtype=np.float64)
        for k in bins:
            ang = (2.0 * math.pi * float(k)) * idx / float(n)
            re = float(_units(x * np.cos(ang))) / 1e12
            im = float(_units(x * np.sin(ang))) / 1e12
            mag = math.sqrt(re * re + im * im) / float(n)
            yield {
                "asset_id": int(row["asset_id"]),
                "bin": int(k),
                "n_samples": n,
                "magnitude": math.floor(abs(mag) * 1e6 + 0.5) / 1e6,
            }

    return _map_records(df, WAV_DFT_SCHEMA, feats)


# --- GIF89a / LZW -------------------------------------------------------
# A real dictionary compressor implemented by hand (variable-width LZW,
# the GIF flavor: LSB-first bit packing, clear/EOI codes, width growth
# at dictionary powers of two, reset at 4096) — the codec class the
# repo's honest-codec ladder was missing between "stored/zlib" (ZIP,
# PNG) and transform coding (JPEG). Encoder and decoder are an exactly
# synchronized pair: the encoder grows its code width immediately
# after allocating dictionary value 2^w (affecting codes it emits
# afterwards), the decoder — which allocates each entry one code later
# — grows when its next free code reaches 2^w. Cross-validation
# against an external GIF reader is an environment seam (no PIL in
# this container); the format is pinned instead by hand-computed
# bitstream fixtures and boundary-crossing roundtrip tests.


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF LZW compress a symbol sequence (symbols < 2^min_code_size)
    into the raw code stream (before sub-block framing)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh_table() -> dict:
        return {bytes([i]): i for i in range(clear)}

    table = fresh_table()
    next_code = eoi + 1
    emit(clear)
    prefix = b""
    for sym in indices:
        s = int(sym)
        cand = prefix + bytes([s])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix])
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear)
            table = fresh_table()
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = bytes([s])
    if prefix:
        emit(table[prefix])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int):
    """Inverse of :func:`_lzw_encode`; returns the symbol bytes or
    None on a corrupt stream (out-of-range code)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table = {i: bytes([i]) for i in range(clear)}
    next_code = eoi + 1
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev = None
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)  # truncated stream: best-effort
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = {i: bytes([i]) for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code not in table:
                return None
            out += table[code]
            prev = code
            continue
        if code in table:
            entry = table[code]
        elif code == next_code:
            entry = table[prev] + table[prev][:1]  # the KwKwK case
        else:
            return None
        out += entry
        if next_code < 4096:
            table[next_code] = table[prev] + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code


def encode_gif(
    width: int, height: int, palette: list, indices
) -> bytes:
    """Minimal single-frame GIF89a: logical screen descriptor, global
    color table, one image descriptor, LZW-compressed index data in
    ≤255-byte sub-blocks, trailer."""
    n = len(palette)
    if not 2 <= n <= 256:
        raise ValueError(f"palette size must be in [2, 256], got {n}")
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    for i in range(size):
        r, g, b = palette[i] if i < n else (0, 0, 0)
        out += bytes([r, g, b])
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    mcs = max(2, bits)
    data = _lzw_encode(indices, mcs)
    out += bytes([mcs])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def parse_gif(content: bytes) -> dict | None:
    """Walk a GIF87a/89a byte stream: screen descriptor, global color
    table, extensions skipped by sub-block framing, first image
    descriptor LZW-decoded to its palette indices. Returns
    {width, height, n_colors, indices} or None (not a GIF / corrupt /
    interlaced or locally-paletted images are out of contract)."""
    if len(content) < 13 or content[:4] != b"GIF8" or content[4:6] not in (
        b"7a",
        b"9a",
    ):
        return None
    try:
        width, height, packed, _bg, _ar = struct.unpack(
            "<HHBBB", content[6:13]
        )
        pos = 13
        n_colors = 0
        if packed & 0x80:
            n_colors = 2 << (packed & 0x07)
            pos += 3 * n_colors
        while pos < len(content):
            b0 = content[pos]
            pos += 1
            if b0 == 0x3B:  # trailer
                return None  # no image block found
            if b0 == 0x21:  # extension: label + sub-blocks
                pos += 1
                while pos < len(content) and content[pos] != 0:
                    pos += 1 + content[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                return None
            left, top, iw, ih, ipacked = struct.unpack(
                "<HHHHB", content[pos : pos + 9]
            )
            pos += 9
            if ipacked & 0xC0:  # local color table / interlace
                return None
            mcs = content[pos]
            pos += 1
            data = bytearray()
            while pos < len(content) and content[pos] != 0:
                ln = content[pos]
                data += content[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            decoded = _lzw_decode(bytes(data), mcs)
            if decoded is None or len(decoded) < iw * ih:
                return None
            return {
                "width": iw,
                "height": ih,
                "n_colors": n_colors,
                "indices": bytes(decoded[: iw * ih]),
            }
    except (struct.error, IndexError):
        return None
    return None


GIF_PALETTE = ((0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255))

GIF_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_pixels", IntegerType(), True),
        StructField("mean_index", DoubleType(), True),
        StructField("count_c0", IntegerType(), True),
    ]
)


def gif_assets_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Deterministic REAL-GIF asset table from an id column: a
    4-color paletted frame of w=id%16+1 × h=id%12+1 pixels with
    index(x, y) = (x + y·w + id) mod 4 — every pixel is id-arithmetic,
    so decoded statistics are SQL-checkable through the LZW round
    trip (the wav_assets_from_ids discipline for the compressed-image
    class)."""

    def build(aid: int):
        w = aid % 16 + 1
        h = aid % 12 + 1
        idx = bytes((x + y * w + aid) % 4 for y in range(h) for x in range(w))
        content = encode_gif(w, h, list(GIF_PALETTE), idx)
        yield _media_row(aid, content, "image", "gif", w, h)

    return _map_records(df, MEDIA_SCHEMA, build, ids=id_column)


def gif_pixel_stats(df: DataFrame) -> DataFrame:
    """Pixel statistics from DECODED GIF indices (parse_gif → LZW
    decompress on the hot path): dimensions, pixel count, mean
    palette index (6dp HALF-UP) and background-color count — proves
    inflate(LZW(x)) == x value-by-value, not just length. Assets that
    fail the parse are skipped (no pixel evidence)."""
    import math

    def stats(row: dict):
        content = row["content"]
        g = parse_gif(bytes(content)) if content is not None else None
        if g is None:
            return
        idx = g["indices"]
        n = len(idx)
        yield {
            "asset_id": int(row["asset_id"]),
            "width": g["width"],
            "height": g["height"],
            "n_pixels": n,
            "mean_index": math.floor(sum(idx) / n * 1e6 + 0.5) / 1e6 if n else None,
            "count_c0": idx.count(0),
        }

    return _map_records(df, GIF_STATS_SCHEMA, stats)


def transcode_png_to_gif(df: DataFrame) -> DataFrame:
    """Codec COMPOSITION: decode each PNG through the real chunk-walk
    + defilter path, quantize every pixel onto the 4-color GIF
    palette as (r+g+b) mod 4, and re-encode through the real LZW
    compressor — the transcode step of an image-ingest pipeline
    (normalize heterogeneous formats into one training shard format).
    Assets whose PNG parse fails (or whose variant the decoder
    doesn't reconstruct pixels for) are skipped — no pixel evidence,
    no output. Arrow-batched linear pass, no shuffle."""

    def tx(row: dict):
        content = row["content"]
        g = parse_png(bytes(content)) if content is not None else None
        if g is None or g.get("pixels") is None or g["channels"] != 3:
            return
        w, h = g["width"], g["height"]
        px = g["pixels"]
        idx = bytes(
            (px[3 * i] + px[3 * i + 1] + px[3 * i + 2]) % 4 for i in range(w * h)
        )
        gif = encode_gif(w, h, list(GIF_PALETTE), idx)
        yield _media_row(int(row["asset_id"]), gif, "image", "gif", w, h)

    return _map_records(df, MEDIA_SCHEMA, tx)


# --- EXIF / TIFF metadata (APP1) ---------------------------------------
# The third honest binary-metadata parser beside the JPEG marker walk
# and the ISO-BMFF box walk: a real TIFF IFD traversal — byte-order
# probe (II/MM), 12-byte directory entries, out-of-line values
# addressed relative to the TIFF header — the structure every camera
# JPEG carries its metadata in.

EXIF_TYPE_ASCII = 2
EXIF_TYPE_SHORT = 3
EXIF_TYPE_LONG = 4
_EXIF_TYPE_SIZE = {EXIF_TYPE_ASCII: 1, EXIF_TYPE_SHORT: 2, EXIF_TYPE_LONG: 4}
EXIF_TAG_WIDTH = 0x0100
EXIF_TAG_HEIGHT = 0x0101
EXIF_TAG_MAKE = 0x010F
EXIF_TAG_ORIENTATION = 0x0112
EXIF_TAG_DATETIME = 0x0132


def encode_exif_app1(entries: list[tuple[int, int, object]]) -> bytes:
    """Build a JPEG APP1 segment holding a little-endian TIFF with one
    IFD0. ``entries`` = [(tag, type, value)] with type in
    {ASCII (str), SHORT (int), LONG (int)}; entries are written in
    ascending tag order (the TIFF 6.0 requirement) and any value wider
    than the 4-byte inline slot goes to the data area after the IFD,
    addressed by offset from the TIFF header — the real layout, not a
    flattened fake."""
    entries = sorted(entries, key=lambda e: e[0])
    ifd_offset = 8
    data_offset = ifd_offset + 2 + 12 * len(entries) + 4
    dirs, data = [], b""
    for tag, typ, value in entries:
        if typ == EXIF_TYPE_ASCII:
            raw = value.encode("ascii") + b"\x00"
            count = len(raw)
        elif typ == EXIF_TYPE_SHORT:
            raw = struct.pack("<H", int(value))
            count = 1
        elif typ == EXIF_TYPE_LONG:
            raw = struct.pack("<I", int(value))
            count = 1
        else:
            raise ValueError(f"unsupported EXIF type {typ}")
        if len(raw) <= 4:
            inline = raw + b"\x00" * (4 - len(raw))
        else:
            inline = struct.pack("<I", data_offset + len(data))
            data += raw
        dirs.append(struct.pack("<HHI", tag, typ, count) + inline)
    tiff = (
        b"II" + struct.pack("<H", 42) + struct.pack("<I", ifd_offset)
        + struct.pack("<H", len(entries)) + b"".join(dirs)
        + struct.pack("<I", 0)  # no next IFD
        + data
    )
    payload = b"Exif\x00\x00" + tiff
    return struct.pack(">HH", 0xFFE1, 2 + len(payload)) + payload


def parse_exif(content: bytes) -> dict | None:
    """Honest EXIF extraction from JPEG bytes: marker-walk to the
    first APP1 whose payload is 'Exif\\0\\0', then a strict TIFF IFD0
    traversal — byte order from the header (II or MM both supported),
    magic 42 verified, every entry/out-of-line value bounds-checked.
    Returns {tag: value} with ASCII decoded (NUL-stripped) and
    SHORT/LONG as ints; None for anything malformed (text that merely
    starts with JPEG-looking bytes cannot produce garbage tags)."""
    if len(content) < 4 or content[:2] != b"\xff\xd8":
        return None
    i = 2
    tiff = None
    while i + 4 <= len(content):
        if content[i] != 0xFF:
            return None
        marker = content[i + 1]
        if marker == 0xD9:
            return None
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            i += 2
            continue
        (seg_len,) = struct.unpack_from(">H", content, i + 2)
        if seg_len < 2 or i + 2 + seg_len > len(content):
            return None
        if marker == 0xE1 and seg_len >= 2 + 6 + 8:
            payload = content[i + 4 : i + 2 + seg_len]
            if payload[:6] == b"Exif\x00\x00":
                tiff = payload[6:]
                break
        i += 2 + seg_len
    if tiff is None or len(tiff) < 8:
        return None
    if tiff[:2] == b"II":
        bo = "<"
    elif tiff[:2] == b"MM":
        bo = ">"
    else:
        return None
    magic, ifd_offset = struct.unpack_from(bo + "HI", tiff, 2)
    if magic != 42 or ifd_offset + 2 > len(tiff):
        return None
    (n,) = struct.unpack_from(bo + "H", tiff, ifd_offset)
    if ifd_offset + 2 + 12 * n + 4 > len(tiff):
        return None
    out: dict[int, object] = {}
    for e in range(n):
        base = ifd_offset + 2 + 12 * e
        tag, typ, count = struct.unpack_from(bo + "HHI", tiff, base)
        size = _EXIF_TYPE_SIZE.get(typ)
        if size is None:
            continue  # unknown type: skip the entry, keep walking
        nbytes = size * count
        if nbytes <= 4:
            voff = base + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", tiff, base + 8)
            if voff + nbytes > len(tiff):
                return None
        raw = tiff[voff : voff + nbytes]
        if typ == EXIF_TYPE_ASCII:
            out[tag] = raw.rstrip(b"\x00").decode("ascii", "replace")
        elif typ == EXIF_TYPE_SHORT:
            out[tag] = struct.unpack_from(bo + "H", raw)[0] if count == 1 else [
                struct.unpack_from(bo + "H", raw, 2 * j)[0] for j in range(count)
            ]
        else:
            out[tag] = struct.unpack_from(bo + "I", raw)[0] if count == 1 else [
                struct.unpack_from(bo + "I", raw, 4 * j)[0] for j in range(count)
            ]
    return out


EXIF_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("orientation", IntegerType(), True),
        StructField("taken_at", StringType(), True),
        StructField("make", StringType(), True),
    ]
)


def exif_stats_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Camera-JPEG metadata extraction: each id becomes a JPEG whose
    APP1 carries a real little-endian TIFF IFD (ImageWidth/Length
    SHORTs inline, Make + DateTime ASCII out-of-line in the data
    area), spliced ahead of the JFIF shell. Extraction reads ONLY the
    bytes: marker walk → Exif APP1 → TIFF IFD traversal
    (:func:`parse_exif`). Fixture recipe (id arithmetic, SQL-replayed):
    width (id%7+1)·160, height (id%5+1)·120, orientation id%8+1,
    DateTime '2024:MM:DD 00:00:00' with MM=id%12+1, DD=id%28+1,
    make 'cam-'||id%4. Arrow-batched linear pass, no shuffle — the
    metadata-harvest step a 100-TB image ingest runs before any
    decode."""
    def build(aid: int):
        w, h = (aid % 7 + 1) * 160, (aid % 5 + 1) * 120
        dt = f"2024:{aid % 12 + 1:02d}:{aid % 28 + 1:02d} 00:00:00"
        app1 = encode_exif_app1(
            [
                (EXIF_TAG_WIDTH, EXIF_TYPE_SHORT, w),
                (EXIF_TAG_HEIGHT, EXIF_TYPE_SHORT, h),
                (EXIF_TAG_ORIENTATION, EXIF_TYPE_SHORT, aid % 8 + 1),
                (EXIF_TAG_DATETIME, EXIF_TYPE_ASCII, dt),
                (EXIF_TAG_MAKE, EXIF_TYPE_ASCII, f"cam-{aid % 4}"),
            ]
        )
        shell = encode_jpeg_shell(w, h)
        content = shell[:2] + app1 + shell[2:]
        # decode side: everything below reads ONLY `content`
        tags = parse_exif(content) or {}
        yield {
            "asset_id": aid,
            "width": tags.get(EXIF_TAG_WIDTH),
            "height": tags.get(EXIF_TAG_HEIGHT),
            "orientation": tags.get(EXIF_TAG_ORIENTATION),
            "taken_at": tags.get(EXIF_TAG_DATETIME),
            "make": tags.get(EXIF_TAG_MAKE),
        }

    return _map_records(df, EXIF_STATS_SCHEMA, build, ids=id_column)


# --------------------------------------------------------------------------
# Audio metadata probes: ID3v2.3 text frames and FLAC STREAMINFO — the
# header walks an audio ingest runs before any PCM decode (group by
# artist/sample-rate, partition by year). Same honest-bytes discipline
# as parse_exif: strict magic/bounds checks, None on anything malformed.
# --------------------------------------------------------------------------


def _syncsafe(n: int) -> bytes:
    """ID3v2 syncsafe 28-bit size: 4 bytes, 7 payload bits each (high
    bit always clear so the size can never alias an MPEG sync)."""
    if not 0 <= n < (1 << 28):
        raise ValueError("syncsafe size out of range")
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def encode_id3v2(frames: list[tuple[str, str]]) -> bytes:
    """Minimal REAL ID3v2.3 tag: 10-byte header ('ID3', version 3.0,
    no flags, syncsafe size), then one text frame per (frame_id, text)
    — 4-char id, big-endian 4-byte size, 2 zero flag bytes, $00
    (Latin-1) encoding byte + text — followed by 16 bytes of padding,
    as real taggers emit."""
    body = b""
    for fid, text in frames:
        if len(fid) != 4:
            raise ValueError(f"frame id must be 4 chars, got {fid!r}")
        payload = b"\x00" + text.encode("latin-1")
        body += fid.encode("ascii") + struct.pack(">I", len(payload)) + b"\x00\x00" + payload
    body += b"\x00" * 16
    return b"ID3\x03\x00\x00" + _syncsafe(len(body)) + body


def parse_id3v2(content: bytes) -> dict | None:
    """Strict ID3v2.3 text-frame walk: magic + version verified,
    syncsafe size bytes verified (<0x80 each), every frame header and
    body bounds-checked against the declared tag size, walk stops at
    zero padding. Returns {frame_id: text} for $00-encoded text
    frames; None for anything malformed."""
    if len(content) < 10 or content[:3] != b"ID3":
        return None
    if content[3] != 3 or content[4] != 0:
        return None
    if content[5] != 0:
        # unsync / extended-header / experimental flags change the
        # byte layout; walking them as plain frames would silently
        # drop or corrupt tags — strict None instead
        return None
    sz = content[6:10]
    if any(b & 0x80 for b in sz):
        return None
    size = (sz[0] << 21) | (sz[1] << 14) | (sz[2] << 7) | sz[3]
    if 10 + size > len(content):
        return None
    out: dict[str, str] = {}
    i = 10
    end = 10 + size
    while i + 10 <= end:
        fid = content[i : i + 4]
        if fid == b"\x00\x00\x00\x00" or fid[0] == 0:
            break  # padding
        if not all(0x30 <= b <= 0x39 or 0x41 <= b <= 0x5A for b in fid):
            return None
        (flen,) = struct.unpack_from(">I", content, i + 4)
        if content[i + 8] != 0 or content[i + 9] != 0:
            # compression/encryption/grouping frame flags change the
            # body layout — strict None
            return None
        if i + 10 + flen > end:
            return None
        body = content[i + 10 : i + 10 + flen]
        if fid[:1] == b"T" and flen >= 1 and body[0] == 0:
            out[fid.decode("ascii")] = (
                body[1:].split(b"\x00", 1)[0].decode("latin-1")
            )
        i += 10 + flen
    return out


def encode_flac_streaminfo(
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
    audio_md5: bytes = b"\x00" * 16,
) -> bytes:
    """Minimal REAL FLAC file head: 'fLaC' + one last-flagged
    STREAMINFO metadata block (type 0, 24-bit length 34) with the
    spec's exact bit packing — 16+16 block sizes, 24+24 frame sizes,
    then 20-bit sample rate | 3-bit channels-1 | 5-bit bits-1 |
    36-bit total samples in one big-endian 64-bit word, then the
    16-byte unencoded-audio md5."""
    if not 1 <= sample_rate < (1 << 20):
        raise ValueError("sample_rate must fit 20 bits and be > 0")
    if not 1 <= channels <= 8:
        raise ValueError("channels must be 1..8")
    if not 4 <= bits_per_sample <= 32:
        raise ValueError("bits_per_sample must be 4..32")
    if not 0 <= total_samples < (1 << 36):
        raise ValueError("total_samples must fit 36 bits")
    if len(audio_md5) != 16:
        raise ValueError("audio_md5 must be 16 bytes")
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    block = (
        struct.pack(">HH", 4096, 4096)          # min/max block size
        + b"\x00\x00\x00" + b"\xff\xff\xff"     # min/max frame size
        + struct.pack(">Q", packed)
        + audio_md5
    )
    assert len(block) == 34
    header = bytes([0x80]) + struct.pack(">I", 34)[1:]  # last | type 0
    return b"fLaC" + header + block


def parse_flac_streaminfo(content: bytes) -> dict | None:
    """Strict FLAC STREAMINFO walk: 'fLaC' magic, metadata blocks
    iterated by their 24-bit lengths (bounds-checked, last-block flag
    honored), the type-0 block's 64-bit packed word unpacked by the
    spec's bit offsets. Returns {sample_rate, channels,
    bits_per_sample, total_samples}; None for anything malformed or
    if no STREAMINFO block exists."""
    if len(content) < 8 or content[:4] != b"fLaC":
        return None
    i = 4
    while i + 4 <= len(content):
        head = content[i]
        last = bool(head & 0x80)
        btype = head & 0x7F
        blen = int.from_bytes(content[i + 1 : i + 4], "big")
        if i + 4 + blen > len(content):
            return None
        if btype == 0:
            if blen != 34:
                return None
            block = content[i + 4 : i + 4 + 34]
            (packed,) = struct.unpack_from(">Q", block, 10)
            return {
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits_per_sample": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
            }
        if last:
            return None
        i += 4 + blen
    return None


AUDIO_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("container", StringType(), True),
        StructField("title", StringType(), True),
        StructField("artist", StringType(), True),
        StructField("year", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bits_per_sample", IntegerType(), True),
        StructField("total_samples", LongType(), True),
    ]
)

_FLAC_RATES = (8000, 16000, 22050, 44100, 48000)
_FLAC_BITS = (8, 16, 24)


def audio_meta_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Audio-metadata harvest: even ids become MP3-style assets with a
    REAL ID3v2.3 tag (TIT2/TPE1/TYER text frames ahead of fake MPEG
    data), odd ids become FLAC heads with a REAL STREAMINFO block, and
    extraction reads ONLY the bytes back through the strict walks
    (:func:`parse_id3v2` / :func:`parse_flac_streaminfo`). Fixture
    recipe (id arithmetic, SQL-replayed): even — title 'track-'||id,
    artist 'artist-'||id%6, year 2000+id%25; odd — sample_rate
    [8000,16000,22050,44100,48000][id%5], channels id%4+1,
    bits [8,16,24][id%3], total_samples id*1000 + id%7. Columns not
    carried by a container are NULL. Arrow-batched linear pass, no
    shuffle — the pre-decode sharding step of a 100-TB audio ingest."""
    def build(aid: int):
        rec = {"asset_id": aid}
        if aid % 2 == 0:
            content = encode_id3v2(
                [
                    ("TIT2", f"track-{aid}"),
                    ("TPE1", f"artist-{aid % 6}"),
                    ("TYER", str(2000 + aid % 25)),
                ]
            ) + b"\xff\xfb" + b"\x00" * 32  # fake MPEG frame data
            # decode side: everything below reads ONLY `content`
            tags = parse_id3v2(content)
            if tags is not None:
                y = tags.get("TYER")
                rec.update(
                    container="id3",
                    title=tags.get("TIT2"),
                    artist=tags.get("TPE1"),
                    year=int(y) if y and y.isdigit() else None,
                )
        else:
            content = encode_flac_streaminfo(
                _FLAC_RATES[aid % 5],
                aid % 4 + 1,
                _FLAC_BITS[aid % 3],
                aid * 1000 + aid % 7,
            )
            info = parse_flac_streaminfo(content)
            if info is not None:
                rec.update(info, container="flac")
        yield rec

    return _map_records(df, AUDIO_META_SCHEMA, build, ids=id_column)


# --------------------------------------------------------------------------
# Subtitle track probe: SubRip (SRT) cue walk — the caption-alignment
# parse a video-text training pipeline runs on the text track. Same
# honest discipline: strict format checks, None on anything malformed.
# --------------------------------------------------------------------------


def _srt_ts(ms: int) -> str:
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, milli = divmod(rem, 1_000)
    return f"{h:02d}:{m:02d}:{s:02d},{milli:03d}"


_SRT_TIME = re.compile(
    r"^(\d{2,}):(\d{2}):(\d{2}),(\d{3}) --> (\d{2,}):(\d{2}):(\d{2}),(\d{3})$"
)


def encode_srt(cues: list[tuple[int, int, str]]) -> bytes:
    """Minimal REAL SubRip document: per cue a 1-based index line, the
    'HH:MM:SS,mmm --> HH:MM:SS,mmm' timing line, one text line, and a
    blank separator. ``cues`` = [(start_ms, end_ms, text)]."""
    parts = []
    for k, (start_ms, end_ms, text) in enumerate(cues, start=1):
        if end_ms <= start_ms:
            raise ValueError("cue end must be after start")
        if "\n" in text:
            raise ValueError("single-line cue text only")
        parts.append(f"{k}\n{_srt_ts(start_ms)} --> {_srt_ts(end_ms)}\n{text}\n")
    return "\n".join(parts).encode("utf-8")


def parse_srt(content: bytes) -> dict | None:
    """Strict SRT cue walk: sequential 1-based indices, exact timing-
    line grammar, end strictly after start, starts monotone
    non-decreasing across cues. Returns {n_cues, total_ms, first_text,
    last_end_ms}; None for anything malformed (minutes/seconds >= 60,
    shuffled indices, inverted or overlapping-backwards timings)."""
    try:
        text = content.decode("utf-8")
    except UnicodeDecodeError:
        return None
    blocks = [b for b in text.split("\n\n") if b.strip()]
    if not blocks:
        return None
    n, total, first_text, last_end, prev_start = 0, 0, None, None, -1
    for expected, block in enumerate(blocks, start=1):
        lines = block.strip("\n").split("\n")
        if len(lines) != 3:
            return None
        if not lines[0].isdigit() or int(lines[0]) != expected:
            return None
        m = _SRT_TIME.match(lines[1])
        if m is None:
            return None
        h1, m1, s1, ms1, h2, m2, s2, ms2 = (int(g) for g in m.groups())
        if max(m1, m2) >= 60 or max(s1, s2) >= 60:
            return None
        start = ((h1 * 60 + m1) * 60 + s1) * 1000 + ms1
        end = ((h2 * 60 + m2) * 60 + s2) * 1000 + ms2
        if end <= start or start < prev_start:
            return None
        prev_start = start
        n += 1
        total += end - start
        if first_text is None:
            first_text = lines[2]
        last_end = end
    return {
        "n_cues": n,
        "total_ms": total,
        "first_text": first_text,
        "last_end_ms": last_end,
    }


SRT_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_cues", IntegerType(), True),
        StructField("total_ms", LongType(), True),
        StructField("first_text", StringType(), True),
        StructField("last_end_ms", LongType(), True),
    ]
)


def srt_stats_from_ids(df: DataFrame, id_column: str) -> DataFrame:
    """Subtitle-track harvest: each id becomes a REAL SRT document with
    id%3+1 cues (cue k of asset a: start a·1000 + k·2000 ms, duration
    1500 ms, text 'line-a-k') and extraction reads only the bytes back
    through the strict walk (:func:`parse_srt`). Oracle replays the id
    arithmetic: n_cues = id%3+1, total = 1500·n_cues, first_text =
    'line-id-1', last_end = id·1000 + n_cues·2000 + 1500. Arrow-batched
    linear pass, no shuffle."""
    def build(aid: int):
        cues = [
            (
                aid * 1000 + k * 2000,
                aid * 1000 + k * 2000 + 1500,
                f"line-{aid}-{k}",
            )
            for k in range(1, aid % 3 + 2)
        ]
        content = encode_srt(cues)
        # decode side: everything below reads ONLY `content`
        info = parse_srt(content)
        yield {**(info or {}), "asset_id": aid}

    return _map_records(df, SRT_STATS_SCHEMA, build, ids=id_column)


# ---------------------------------------------------------------- tar / ustar


def encode_ustar(members: list[tuple[str, bytes]]) -> bytes:
    """Honest POSIX ustar writer (IEEE 1003.1 header layout, the
    WebDataset shard container): per member one 512-byte header —
    NUL-padded name, octal size, mtime 0, the space-seeded checksum —
    followed by the payload padded to 512-byte blocks, closed by two
    zero blocks. Deterministic: fixed mode/uid/gid/mtime, members
    written in the order given."""
    out = bytearray()
    for name, payload in members:
        nb = name.encode("utf-8")
        if len(nb) > 100:
            raise ValueError(f"member name too long for ustar: {name!r}")
        if len(payload) >= 8**11:
            # the 12-byte octal size field caps at 8 GiB; a longer
            # payload would silently misalign the header slice
            raise ValueError(
                f"member payload too large for ustar size field: {name!r}"
            )
        header = bytearray(512)
        header[0:len(nb)] = nb                          # name
        header[100:108] = b"0000644\x00"                # mode
        header[108:116] = b"0000000\x00"                # uid
        header[116:124] = b"0000000\x00"                # gid
        header[124:136] = f"{len(payload):011o}".encode() + b"\x00"  # size
        header[136:148] = b"00000000000\x00"            # mtime 0
        header[148:156] = b" " * 8                      # chksum seed
        header[156:157] = b"0"                          # typeflag: regular
        header[257:263] = b"ustar\x00"                  # magic
        header[263:265] = b"00"                         # version
        chksum = sum(header)
        header[148:156] = f"{chksum:06o}".encode() + b"\x00 "
        out += header
        out += payload
        if len(payload) % 512:
            out += b"\x00" * (512 - len(payload) % 512)
    out += b"\x00" * 1024
    return bytes(out)


def parse_tar_members(content: bytes) -> list[dict] | None:
    """Honest tar reader: walks 512-byte headers, re-verifies every
    header checksum (the space-seeded byte sum), reads octal sizes,
    slices payloads, and stops at the terminating zero block. Returns
    ``None`` for malformed archives (bad checksum, truncated payload,
    non-octal size) — never a partial guess. Only regular files
    (typeflag '0' or NUL) are returned; other entry kinds are walked
    over but skipped, like a shard consumer would."""
    members = []
    off = 0
    n = len(content)
    while off + 512 <= n:
        header = content[off:off + 512]
        if header == b"\x00" * 512:
            return members
        stored = header[148:156]
        try:
            chk = int(stored.rstrip(b"\x00 ").lstrip(b" ") or b"0", 8)
            size = int(
                header[124:136].rstrip(b"\x00 ").lstrip(b" ") or b"0", 8
            )
        except ValueError:
            return None
        if sum(header[:148]) + 8 * 32 + sum(header[156:]) != chk:
            return None
        name = header[0:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
        flag = header[156]
        # POSIX link/char/block/dir/fifo entries (typeflag '1'-'6')
        # store NO data blocks even when the size field is nonzero
        # (GNU tar records the link target's size for hard links);
        # advancing past `size` there misaligns every later header.
        data_len = 0 if 0x31 <= flag <= 0x36 else size
        data_end = off + 512 + data_len
        if data_end > n:
            return None
        if flag in (0x30, 0x00):  # '0' or NUL: regular file
            members.append(
                {
                    "name": name,
                    "size": size,
                    "payload": content[off + 512:data_end],
                }
            )
        off = off + 512 + ((data_len + 511) // 512) * 512
    return None  # ran off the end without a terminator


TAR_SHARD_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("content", BinaryType()),
    ]
)

TAR_MEMBER_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("name", StringType()),
        StructField("size", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def tar_shards_from_docs(
    df: DataFrame,
    id_column: str,
    text_column: str,
    num_shards: int = 8,
) -> DataFrame:
    """WebDataset-style shard WRITER: pack a document corpus into
    ``num_shards`` tar archives — the container format large-scale
    multimodal/text training loaders stream (one sequential read per
    shard, no per-file filesystem ops). Member names are the zero-
    padded doc id + ``.txt``; members are sorted by id within a shard
    so the archive bytes are layout-independent. A doc with a NULL id
    is dropped (a member is named by its id).

    Scale posture: ONE groupBy on the shard key; each task builds one
    shard's bytes in memory — the writer's contract is that the
    caller sizes ``num_shards`` so a shard fits a task (the same
    contract real shard writers have). Nothing passes through the
    driver."""
    return _write_shards(df, id_column, text_column, num_shards, encode_ustar)


def tar_members_table(df: DataFrame) -> DataFrame:
    """Shard READER: explode (shard_id, content) tar archives into one
    row per member via Arrow-batched mapInPandas — the ingest half of
    the WebDataset path. Malformed archives yield a single row with
    NULL name/size/payload so corruption is visible downstream, not
    silently dropped."""
    return _read_members(df, TAR_MEMBER_SCHEMA, parse_tar_members)


def _write_shards(
    df: DataFrame, id_column: str, text_column: str, num_shards: int, encode
) -> DataFrame:
    """The shard writer behind tar/zip_shards_from_docs: one groupBy on
    ``id % num_shards``; each group's docs, sorted by id, become
    ``(zero-padded id + '.txt', utf-8 text)`` members (NULL text packs
    as empty) and ``encode(members)`` is that shard's content. Docs
    with a NULL id are dropped: a member is named by its id."""
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id")
        members = [
            (f"{int(i):012d}.txt", ("" if t is None else str(t)).encode("utf-8"))
            for i, t in zip(pdf["_id"], pdf["_text"])
        ]
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["_shard"].iloc[0])],
                "content": [encode(members)],
            }
        )

    staged = df.where(F.col(id_column).isNotNull()).select(
        F.col(id_column).cast("long").alias("_id"),
        F.col(text_column).alias("_text"),
        (F.col(id_column) % num_shards).cast("int").alias("_shard"),
    )
    return staged.groupBy("_shard").applyInPandas(
        build, schema=TAR_SHARD_SCHEMA
    )


def _read_members(df: DataFrame, schema: StructType, parse) -> DataFrame:
    """The shard reader behind tar/zip_members_table: one row per
    member ``parse`` finds in each (shard_id, content) archive; a NULL
    or malformed archive yields one NULL-member row, and a NULL
    shard_id stays NULL."""

    def walk(row: dict):
        sid = None if pd.isna(row["shard_id"]) else int(row["shard_id"])
        content = row["content"]
        members = None if content is None else parse(bytes(content))
        for m in [{}] if members is None else members:
            yield {**m, "shard_id": sid}

    return _map_records(df, schema, walk)


# ------------------------------------------------------------------- zip

ZIP_MEMBER_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("name", StringType()),
        StructField("size", LongType()),
        StructField("method", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def encode_zip(
    members: list[tuple[str, bytes]], method: str = "deflate"
) -> bytes:
    """Honest ZIP writer (PKWARE APPNOTE layout): per member one local
    file header + data, then the central directory and the end-of-
    central-directory record. ``method`` is ``'stored'`` (0, raw
    bytes) or ``'deflate'`` (8, raw-deflate via zlib). Deterministic:
    zeroed DOS timestamps, members written in the order given, fixed
    version fields. ZIP32 only — a payload or offset at the 4 GiB
    field limit raises rather than silently truncating (the tar
    size-field precedent)."""
    import struct
    import zlib

    if method not in ("stored", "deflate"):
        raise ValueError(f"method must be stored|deflate, got {method!r}")
    mid = 0 if method == "stored" else 8
    out = bytearray()
    central = bytearray()
    count = 0
    for name, payload in members:
        nb = name.encode("utf-8")
        if len(nb) > 0xFFFF:
            raise ValueError(f"member name too long for zip: {name!r}")
        if len(payload) >= 0xFFFFFFFF:
            raise ValueError(
                f"member payload too large for zip32 size field: {name!r}"
            )
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        if mid == 8:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(payload) + co.flush()
        else:
            data = payload
        if len(data) >= 0xFFFFFFFF:
            raise ValueError(f"compressed member too large: {name!r}")
        offset = len(out)
        if offset >= 0xFFFFFFFF:
            raise ValueError("archive exceeds the zip32 offset field")
        out += struct.pack(
            "<IHHHHHIIIHH",
            0x04034B50, 20, 0, mid, 0, 0,
            crc, len(data), len(payload), len(nb), 0,
        )
        out += nb
        out += data
        central += struct.pack(
            "<IHHHHHHIIIHHHHHII",
            0x02014B50, 20, 20, 0, mid, 0, 0,
            crc, len(data), len(payload), len(nb), 0, 0, 0, 0, 0,
            offset,
        )
        central += nb
        count += 1
    cd_off = len(out)
    out += central
    out += struct.pack(
        "<IHHHHIIH",
        0x06054B50, 0, 0, count, count, len(central), cd_off, 0,
    )
    return bytes(out)


def parse_zip_members(content: bytes) -> list[dict] | None:
    """Honest ZIP reader: locates the end-of-central-directory record
    (backward sig scan through the ≤64 KiB comment window), walks the
    central directory, cross-checks each local header's signature,
    inflates/slices the data, and RE-VERIFIES the CRC-32 and the
    declared uncompressed size. Returns ``None`` for malformed
    archives (bad signature, CRC mismatch, size lie, unsupported
    method, truncation) — never a partial guess."""
    import struct
    import zlib

    n = len(content)
    if n < 22:
        return None
    lo = max(0, n - 22 - 0xFFFF)
    eocd = content.rfind(b"PK\x05\x06", lo)
    if eocd < 0 or eocd + 22 > n:
        return None
    (_, _, _, _, count, cd_size, cd_off, _) = struct.unpack(
        "<IHHHHIIH", content[eocd:eocd + 22]
    )
    if cd_off + cd_size > eocd:
        return None
    members = []
    off = cd_off
    for _ in range(count):
        if off + 46 > n:
            return None
        fields = struct.unpack("<IHHHHHHIIIHHHHHII", content[off:off + 46])
        if fields[0] != 0x02014B50:
            return None
        (_, _, _, _, mid, _, _, crc, csize, usize,
         namelen, extralen, commentlen, _, _, _, lho) = fields
        name = content[off + 46:off + 46 + namelen].decode(
            "utf-8", "replace"
        )
        off += 46 + namelen + extralen + commentlen
        if lho + 30 > n:
            return None
        lh = struct.unpack("<IHHHHHIIIHH", content[lho:lho + 30])
        if lh[0] != 0x04034B50:
            return None
        data_off = lho + 30 + lh[9] + lh[10]
        if data_off + csize > n:
            return None
        data = content[data_off:data_off + csize]
        if mid == 0:
            payload = data
        elif mid == 8:
            try:
                payload = zlib.decompress(data, -15)
            except zlib.error:
                return None
        else:
            return None
        if len(payload) != usize:
            return None
        if zlib.crc32(payload) & 0xFFFFFFFF != crc:
            return None
        members.append(
            {
                "name": name,
                "size": usize,
                "method": mid,
                "payload": payload,
            }
        )
    return members


def zip_shards_from_docs(
    df: DataFrame,
    id_column: str,
    text_column: str,
    num_shards: int = 8,
    method: str = "deflate",
) -> DataFrame:
    """ZIP shard WRITER — the tar_shards_from_docs contract on the
    random-access container (ZIP's central directory lets a training
    loader fetch ONE member without streaming the whole shard, the
    trade tar cannot make). Same scale posture: one groupBy on the
    shard key, each task builds one shard, nothing passes through the
    driver; member names are the zero-padded doc id + ``.txt`` sorted
    by id, so shard bytes are layout-independent, and a doc with a
    NULL id is dropped."""
    if method not in ("stored", "deflate"):
        raise ValueError(f"method must be stored|deflate, got {method!r}")
    return _write_shards(
        df,
        id_column,
        text_column,
        num_shards,
        lambda members: encode_zip(members, method=method),
    )


def zip_members_table(df: DataFrame) -> DataFrame:
    """ZIP shard READER: explode (shard_id, content) archives into one
    row per member with CRC-32 re-verified per member (the
    tar_members_table contract); malformed archives yield one
    NULL-member row so corruption is visible, not dropped."""
    return _read_members(df, ZIP_MEMBER_SCHEMA, parse_zip_members)
