"""Multimodal plumbing: schemas, mapInPandas batch flow, fan-out
shapes. The codec itself is a deterministic stub (no image/audio libs
in this container) — these tests pin the Spark-side contracts."""

from __future__ import annotations

import pytest

from paqarin_spark.multimodal import (
    FEATURE_DIM,
    decode_media,
    extract_features,
    media_table,
    resize_images,
    sample_frames,
)


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, b"\x89PNG fake image bytes", ("image", "png", 640, 480, None, None)),
        (2, b"RIFF fake audio bytes", ("audio", "wav", None, None, None, 16000)),
        (3, b"\x00\x00mp4 fake video", ("video", "mp4", 1280, 720, 6, None)),
        (4, None, ("image", "png", 1, 1, None, None)),  # missing payload
    ]
    return media_table(spark, rows)


def test_decode_media(assets):
    out = {r["asset_id"]: r for r in decode_media(assets).collect()}
    assert len(out) == 4
    assert out[1]["width"] == 640 and out[1]["height"] == 480
    assert out[1]["n_bytes"] == len(b"\x89PNG fake image bytes")
    assert len(out[1]["content_hash"]) == 32
    assert out[4]["content_hash"] is None  # null payload -> null decode
    # determinism: same bytes, same hash
    again = {r["asset_id"]: r for r in decode_media(assets).collect()}
    assert again[1]["content_hash"] == out[1]["content_hash"]


def test_extract_features_long_form(assets):
    out = extract_features(assets).collect()
    by_asset = {}
    for r in out:
        by_asset.setdefault(r["asset_id"], []).append(r)
    assert set(by_asset) == {1, 2, 3}  # null-payload asset dropped
    assert all(len(v) == FEATURE_DIM for v in by_asset.values())
    assert all(0.0 <= r["value"] <= 1.0 for r in out)


def test_resize_updates_metadata_only(assets):
    out = {r["asset_id"]: r for r in resize_images(assets, 64, 64).collect()}
    assert out[1]["meta"]["width"] == 64
    assert out[1]["meta"]["height"] == 64
    assert out[1]["meta"]["format"] == "png"
    assert bytes(out[1]["content"]) == b"\x89PNG fake image bytes"


def test_sample_frames_fanout(assets):
    out = sample_frames(assets, every_nth=2).collect()
    # only the video asset (6 frames, every 2nd -> 0,2,4)
    assert {r["asset_id"] for r in out} == {3}
    assert sorted(r["frame_index"] for r in out) == [0, 2, 4]
    assert all(len(r["frame_hash"]) == 32 for r in out)


def test_chunk_audio_fanout_and_bounds(spark):
    from paqarin_spark.multimodal import chunk_audio, media_table

    rows = [
        # 2.5 s at 4 Hz -> chunks of 4, 4, 2 samples
        (1, b"pcm-a", ("audio", "wav", None, None, 10, 4)),
        (2, b"img", ("image", "png", 8, 8, None, None)),  # skipped
        (3, b"pcm-b", ("audio", "wav", None, None, 4, 4)),  # exactly 1 chunk
    ]
    df = media_table(spark, rows)
    got = {
        (r["asset_id"], r["chunk_index"]): (r["start_sample"], r["n_samples"])
        for r in chunk_audio(df, window_seconds=1.0).collect()
    }
    assert got == {
        (1, 0): (0, 4),
        (1, 1): (4, 4),
        (1, 2): (8, 2),
        (3, 0): (0, 4),
    }


# --- real codecs: BMP / WAV header parse -----------------------------------


def test_parse_bmp_golden_bytes():
    """Hand-written 2x2 24bpp BMP so encoder and parser cannot share a
    bug: row size = (2*3+3)//4*4 = 8, data = 16 bytes, file = 70."""
    from paqarin_spark.multimodal import parse_bmp

    golden = (
        b"BM"                      # magic
        + (70).to_bytes(4, "little")   # file size
        + b"\x00\x00\x00\x00"      # reserved
        + (54).to_bytes(4, "little")   # pixel offset
        + (40).to_bytes(4, "little")   # BITMAPINFOHEADER size
        + (2).to_bytes(4, "little", signed=True)   # width
        + (2).to_bytes(4, "little", signed=True)   # height
        + (1).to_bytes(2, "little")    # planes
        + (24).to_bytes(2, "little")   # bpp
        + b"\x00" * 24             # compression..colors
        + b"\x00" * 16             # pixel rows
    )
    assert parse_bmp(golden) == {"width": 2, "height": 2}


def test_parse_wav_golden_bytes():
    """Hand-written 3-sample PCM16 mono WAV at 8000 Hz."""
    from paqarin_spark.multimodal import parse_wav

    golden = (
        b"RIFF" + (42).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")        # PCM
        + (1).to_bytes(2, "little")        # mono
        + (8000).to_bytes(4, "little")     # sample rate
        + (16000).to_bytes(4, "little")    # byte rate
        + (2).to_bytes(2, "little")        # block align
        + (16).to_bytes(2, "little")       # bits
        + b"data" + (6).to_bytes(4, "little")
        + b"\x00" * 6
    )
    assert parse_wav(golden) == {"sample_rate": 8000, "n_samples": 3}


def test_codec_roundtrip_and_malformed():
    from paqarin_spark.multimodal import (
        encode_bmp,
        encode_wav,
        parse_bmp,
        parse_wav,
    )

    assert parse_bmp(encode_bmp(7, 3)) == {"width": 7, "height": 3}
    assert parse_wav(encode_wav(16000, 123)) == {
        "sample_rate": 16000,
        "n_samples": 123,
    }
    # negative height = top-down row order, dimensions still real
    bmp = bytearray(encode_bmp(4, 5))
    bmp[22:26] = (-5).to_bytes(4, "little", signed=True)
    assert parse_bmp(bytes(bmp)) == {"width": 4, "height": 5}
    assert parse_bmp(b"BM too short") is None
    assert parse_bmp(encode_wav(8000, 4)) is None
    assert parse_wav(encode_bmp(2, 2)) is None
    assert parse_wav(b"RIFFxxxxWAVE") is None


def test_decode_media_parses_real_codecs_not_metadata(spark):
    """Metadata lies on purpose; decoded dimensions must win from bytes."""
    from paqarin_spark.multimodal import decode_media, encode_bmp, encode_wav, media_table

    rows = [
        (1, encode_bmp(6, 4), ("image", "bmp", 999, 999, None, None)),
        (2, encode_wav(11000, 50), ("audio", "wav", None, None, 999, 999)),
    ]
    got = {r["asset_id"]: r for r in decode_media(media_table(spark, rows)).collect()}
    assert (got[1]["width"], got[1]["height"]) == (6, 4)
    assert got[1]["n_bytes"] == 54 + 20 * 4  # row size 20 (6*3=18 padded)
    assert (got[2]["sample_rate"], got[2]["n_samples"]) == (11000, 50)
    assert got[2]["n_bytes"] == 44 + 100


def test_parse_bmp_rejects_bm_prefixed_text():
    # arbitrary text starting with 'BM' must not decode as an image
    from paqarin_spark.multimodal import parse_bmp

    assert parse_bmp(b"BMW announced record sales figures for the third quarter") is None
    assert parse_bmp(b"BM" + b"x" * 100) is None


def test_parse_wav_rejects_nonpcm_and_bad_rates():
    from paqarin_spark.multimodal import encode_wav, parse_wav

    bad_fmt = bytearray(encode_wav(8000, 4))
    bad_fmt[20:22] = (85).to_bytes(2, "little")  # MP3 format tag
    assert parse_wav(bytes(bad_fmt)) is None
    bad_rate = bytearray(encode_wav(8000, 4))
    bad_rate[24:28] = (0).to_bytes(4, "little")
    assert parse_wav(bytes(bad_rate)) is None


def test_png_roundtrip_all_filters():
    """encode_png cycles filter types per row (y%5), so height>=5 makes
    the decoder reconstruct through None/Sub/Up/Average/Paeth. Pixels
    must come back exactly."""
    from paqarin_spark.multimodal import encode_png, parse_png

    w, h = 7, 6
    content = encode_png(w, h)
    png = parse_png(content)
    assert png is not None
    assert (png["width"], png["height"], png["channels"]) == (w, h, 3)
    expect = bytearray()
    for y in range(h):
        for x in range(w):
            expect += bytes(((x + y) % 256, (2 * x + y) % 256, (x * y) % 256))
    assert png["pixels"] == bytes(expect)


def test_png_rejects_malformed():
    from paqarin_spark.multimodal import encode_png, parse_png

    good = encode_png(4, 4)
    assert parse_png(b"\x89PNG\r\n\x1a\n" + b"junk" * 10) is None
    assert parse_png(b"not a png at all, just text" * 3) is None
    # flip one IDAT byte: CRC validation must catch it
    bad = bytearray(good)
    idat_pos = bytes(good).find(b"IDAT") + 6
    bad[idat_pos] ^= 0xFF
    assert parse_png(bytes(bad)) is None


def test_png_gray_and_palette_variants():
    """Hand-built color-type 0 (gray) and 3 (palette) payloads decode;
    palette indices expand through PLTE to RGB."""
    import struct
    import zlib

    from paqarin_spark.multimodal import PNG_SIGNATURE, _png_chunk, parse_png

    # 2x2 gray: rows filter 0, values 10,20 / 30,40
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    raw = bytes([0, 10, 20, 0, 30, 40])
    gray = (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    png = parse_png(gray)
    assert png["channels"] == 1 and png["pixels"] == bytes([10, 20, 30, 40])

    # 2x1 palette: entries (255,0,0) and (0,255,0), indices 1,0
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0])
    raw = bytes([0, 1, 0])
    pal = (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    png = parse_png(pal)
    assert png["channels"] == 3
    assert png["pixels"] == bytes([0, 255, 0, 255, 0, 0])
    # palette index out of range -> reject
    bad = (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(bytes([0, 7, 0])))
        + _png_chunk(b"IEND", b"")
    )
    assert parse_png(bad) is None


def test_png_pixel_stats_through_spark(spark):
    from paqarin_spark.multimodal import png_assets_from_ids, png_pixel_stats

    ids = spark.createDataFrame([(0,), (7,), (29,)], "doc_id long")
    got = {
        r["asset_id"]: r
        for r in png_pixel_stats(png_assets_from_ids(ids, "doc_id")).collect()
    }
    for aid in (0, 7, 29):
        w, h = aid % 6 + 2, aid % 5 + 2
        assert (got[aid]["width"], got[aid]["height"]) == (w, h)
        n = w * h
        exp_r = sum((x + y + aid) % 256 for x in range(w) for y in range(h)) / n
        exp_b = sum((x * y + aid) % 256 for x in range(w) for y in range(h)) / n
        assert got[aid]["mean_r"] == round(exp_r, 6)
        assert got[aid]["mean_b"] == round(exp_b, 6)


def test_resize_png_nearest_neighbor_semantics():
    from paqarin_spark.multimodal import encode_png, parse_png, resize_png

    # 4x2 source with position-coded pixels
    src = encode_png(4, 2, pixel_fn=lambda x, y: (x * 10, y * 10, x + y))
    out = resize_png(src, 2, 1)
    png = parse_png(out)
    assert (png["width"], png["height"]) == (2, 1)
    # xs = (0*4)//2, (1*4)//2 = 0, 2 ; ys = (0*2)//1 = 0
    assert png["pixels"] == bytes([0, 0, 0, 20, 0, 2])
    # non-PNG payloads refuse (stub fallback path)
    assert resize_png(b"not a png", 2, 2) is None


def test_resize_images_really_resizes_pngs(spark):
    from paqarin_spark.multimodal import (
        parse_png,
        png_assets_from_ids,
        resize_images,
    )

    ids = spark.createDataFrame([(3,), (10,)], "doc_id long")
    out = resize_images(png_assets_from_ids(ids, "doc_id"), 3, 3).collect()
    for row in out:
        png = parse_png(bytes(row["content"]))
        assert (png["width"], png["height"]) == (3, 3)
        assert row["meta"]["width"] == 3 and row["meta"]["height"] == 3


def test_jpeg_probe_roundtrip_and_strictness():
    from paqarin_spark.multimodal import encode_jpeg_shell, parse_jpeg_meta

    j = encode_jpeg_shell(321, 199, b"comment")
    meta = parse_jpeg_meta(j)
    assert (meta["width"], meta["height"], meta["n_components"]) == (321, 199, 3)
    assert meta["progressive"] is False
    # strictness: no SOI, truncated SOF, EOI before SOF
    assert parse_jpeg_meta(b"not a jpeg") is None
    assert parse_jpeg_meta(j[:10]) is None
    assert parse_jpeg_meta(b"\xff\xd8\xff\xd9") is None
    # a segment length pointing past the buffer is rejected
    bad = bytearray(j)
    bad[4] = 0xFF  # inflate APP0 length high byte (offset 4 after SOI+marker)
    assert parse_jpeg_meta(bytes(bad)) is None


def test_mp4_probe_roundtrip_and_strictness():
    from paqarin_spark.multimodal import encode_mp4_shell, parse_mp4_meta

    m = encode_mp4_shell(5400, 600, pad=3)
    meta = parse_mp4_meta(m)
    assert meta["timescale"] == 600 and meta["duration"] == 5400
    assert meta["duration_s"] == 9.0
    assert parse_mp4_meta(b"tiny") is None
    assert parse_mp4_meta(b"\x00" * 32) is None
    # box size running past the end is rejected
    bad = bytearray(m)
    bad[3] = 0xFF
    assert parse_mp4_meta(bytes(bad)) is None


def test_probe_media_from_ids_schema(spark):
    from paqarin_spark.multimodal import probe_media_from_ids

    df = spark.range(6).withColumnRenamed("id", "doc_id")
    rows = {r["asset_id"]: r for r in probe_media_from_ids(df, "doc_id").collect()}
    assert rows[0]["kind"] == "jpeg" and rows[0]["width"] == 16
    assert rows[1]["kind"] == "mp4" and rows[1]["duration_ms"] == 1001
    assert rows[2]["n_components"] == 3
    assert rows[3]["n_bytes"] == 140 + 8 + 3


def test_wav_sample_decode_round_trip():
    import numpy as np

    from paqarin_spark.multimodal import encode_wav, parse_wav_samples

    vals = [0, 100, -200, 32767, -32768, 7]
    data = encode_wav(8000, len(vals), sample_fn=lambda i: vals[i])
    out = parse_wav_samples(data)
    assert out is not None and list(out) == vals
    # malformed / unsupported shapes return None
    assert parse_wav_samples(b"nope") is None
    stereo = encode_wav(8000, 4, channels=2)
    assert parse_wav_samples(stereo) is None


def test_wav_audio_stats_through_spark(spark):
    import numpy as np

    from paqarin_spark.multimodal import wav_assets_from_ids, wav_audio_stats

    ids = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    out = {
        r.asset_id: r
        for r in wav_audio_stats(wav_assets_from_ids(ids, "doc_id")).collect()
    }
    for aid, r in out.items():
        n = aid % 100 + 1
        step = aid % 7 + 1
        s = np.array([((i * step * 37 + aid) % 4001) - 2000 for i in range(n)])
        assert r.n_samples == n
        assert r.peak == int(np.abs(s).max())
        assert abs(r.mean_abs - round(float(np.abs(s).mean()), 6)) < 1e-9
        assert r.zero_crossings == int((s[:-1] * s[1:] < 0).sum())


def test_mp4_sample_table_roundtrip_and_strictness():
    from paqarin_spark.multimodal import (
        encode_mp4_with_samples,
        parse_mp4_meta,
        parse_mp4_sample_table,
    )

    samples = [b"\x07" * 5, b"\x09" * 3, b"\x0b" * 11]
    content = encode_mp4_with_samples(samples)
    meta = parse_mp4_sample_table(content)
    assert meta["n_samples"] == 3
    assert meta["sample_sizes"] == [5, 3, 11]
    assert meta["total_sample_bytes"] == 19
    assert meta["max_sample_bytes"] == 11
    # stco points at real essence: first byte of each sample read back
    assert meta["first_byte_sum"] == 0x07 + 0x09 + 0x0B
    off = meta["chunk_offset"]
    assert content[off : off + 5] == b"\x07" * 5
    # the mvhd probe still works on the sample-table container
    assert parse_mp4_meta(content) is not None
    # strictness: truncation inside mdat must invalidate the table
    assert parse_mp4_sample_table(content[: off + 10]) is None
    assert parse_mp4_sample_table(b"") is None
    assert parse_mp4_sample_table(b"\x00" * 64) is None
    # zero samples is a VALID (if empty) table
    empty = parse_mp4_sample_table(encode_mp4_with_samples([]))
    assert empty["n_samples"] == 0 and empty["first_byte_sum"] == 0


def test_mp4_sample_stats_through_spark(spark):
    from paqarin_spark.multimodal import mp4_sample_stats_from_ids

    ids = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    out = {r.asset_id: r for r in mp4_sample_stats_from_ids(ids, "doc_id").collect()}
    for aid, r in out.items():
        n = aid % 7 + 2
        sizes = [(aid * 31 + k * 17) % 113 + 1 for k in range(n)]
        assert r.n_samples == n
        assert r.total_sample_bytes == sum(sizes)
        assert r.max_sample_bytes == max(sizes)
        assert r.chunk_offset == 445 + 4 * n
        assert r.first_byte_sum == sum((aid + k) % 256 for k in range(n))
        assert r.n_bytes == 445 + 4 * n + sum(sizes)


def test_mjpeg_frame_stats_decodes_essence_through_sample_table(spark):
    """Motion-JPEG frames in the mdat, indexed by stsz/stco, decoded by
    the in-repo JPEG decoder — per-frame fan-out, SOF0 dims, and exact
    means on solid fixtures (both 4:4:4 and 4:2:0 appear per asset)."""
    from paqarin_spark.multimodal import mjpeg_frame_stats_from_ids

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    rows = mjpeg_frame_stats_from_ids(ids, "doc_id").collect()
    # fan-out: id % 3 + 2 frames per asset
    per = {}
    for r in rows:
        per.setdefault(r["asset_id"], []).append(r)
    assert set(per) == set(range(8))
    for aid, frames in per.items():
        assert len(frames) == aid % 3 + 2
        assert {f["frame_index"] for f in frames} == set(range(aid % 3 + 2))
        # dims come from each frame's own SOF0
        assert all(f["width"] == (aid % 2 + 1) * 8 for f in frames)
        assert all(f["height"] == 8 for f in frames)
    # asset 0 frame 0: RGB (0, 5, 11) — decoded means replay the
    # DC-quantization contract (verified against the SQL oracle)
    f00 = [r for r in rows if r["asset_id"] == 0 and r["frame_index"] == 0][0]
    assert (f00["mean_r"], f00["mean_g"], f00["mean_b"]) == (1.0, 4.0, 11.0)


def test_mjpeg_frame_stats_empty_input(spark):
    from paqarin_spark.multimodal import mjpeg_frame_stats_from_ids

    empty = spark.createDataFrame([], "doc_id long")
    assert mjpeg_frame_stats_from_ids(empty, "doc_id").count() == 0


def test_exif_roundtrip_and_tiff_layout():
    import struct

    from paqarin_spark.multimodal import (
        EXIF_TAG_DATETIME,
        EXIF_TAG_HEIGHT,
        EXIF_TAG_MAKE,
        EXIF_TAG_ORIENTATION,
        EXIF_TAG_WIDTH,
        EXIF_TYPE_ASCII,
        EXIF_TYPE_SHORT,
        encode_exif_app1,
        encode_jpeg_shell,
        parse_exif,
    )

    app1 = encode_exif_app1(
        [
            (EXIF_TAG_DATETIME, EXIF_TYPE_ASCII, "2024:03:05 00:00:00"),
            (EXIF_TAG_WIDTH, EXIF_TYPE_SHORT, 320),
            (EXIF_TAG_HEIGHT, EXIF_TYPE_SHORT, 240),
            (EXIF_TAG_ORIENTATION, EXIF_TYPE_SHORT, 6),
            (EXIF_TAG_MAKE, EXIF_TYPE_ASCII, "cam-1"),
        ]
    )
    shell = encode_jpeg_shell(320, 240)
    jpg = shell[:2] + app1 + shell[2:]
    tags = parse_exif(jpg)
    assert tags == {
        EXIF_TAG_WIDTH: 320,
        EXIF_TAG_HEIGHT: 240,
        EXIF_TAG_ORIENTATION: 6,
        EXIF_TAG_DATETIME: "2024:03:05 00:00:00",
        EXIF_TAG_MAKE: "cam-1",
    }
    # TIFF layout: entries stored ascending by tag, DateTime (20 bytes
    # with NUL) forced out-of-line — its inline slot holds an OFFSET
    # into the data area, not the text.
    tiff = app1[4 + 6 :]
    (n,) = struct.unpack_from("<H", tiff, 8)
    tags_in_order = [
        struct.unpack_from("<HHI", tiff, 10 + 12 * e)[0] for e in range(n)
    ]
    assert tags_in_order == sorted(tags_in_order)
    dt_entry = next(
        e for e in range(n)
        if struct.unpack_from("<HHI", tiff, 10 + 12 * e)[0] == EXIF_TAG_DATETIME
    )
    (voff,) = struct.unpack_from("<I", tiff, 10 + 12 * dt_entry + 8)
    assert voff >= 10 + 12 * n + 4  # points past the IFD
    assert tiff[voff : voff + 19] == b"2024:03:05 00:00:00"


def test_exif_big_endian_and_malformed():
    import struct

    from paqarin_spark.multimodal import (
        EXIF_TAG_ORIENTATION,
        encode_exif_app1,
        encode_jpeg_shell,
        parse_exif,
    )

    # hand-built BIG-endian TIFF: the parser must honor the MM byte
    # order probe (our encoder only writes II)
    tiff = (
        b"MM" + struct.pack(">H", 42) + struct.pack(">I", 8)
        + struct.pack(">H", 1)
        + struct.pack(">HHI", EXIF_TAG_ORIENTATION, 3, 1)
        + struct.pack(">H", 7) + b"\x00\x00"
        + struct.pack(">I", 0)
    )
    payload = b"Exif\x00\x00" + tiff
    app1 = struct.pack(">HH", 0xFFE1, 2 + len(payload)) + payload
    jpg = b"\xff\xd8" + app1 + b"\xff\xd9"
    assert parse_exif(jpg) == {EXIF_TAG_ORIENTATION: 7}

    # malformed: truncated out-of-line value offset must yield None,
    # plain text must yield None, JPEG without APP1 yields None
    assert parse_exif(b"not a jpeg at all") is None
    assert parse_exif(encode_jpeg_shell(8, 8)) is None
    app1_bad = encode_exif_app1([(0x0132, 2, "2024:01:01 00:00:00")])
    truncated = (b"\xff\xd8" + app1_bad)[: 2 + 4 + 6 + 8 + 2 + 12]
    # re-wrap with a consistent segment length so the marker walk
    # reaches the TIFF parse, which must then bounds-fail
    seg = truncated[2:]
    fixed = b"\xff\xd8" + struct.pack(">HH", 0xFFE1, len(seg) - 2) + seg[4:]
    assert parse_exif(fixed + b"\xff\xd9") is None


def test_id3v2_roundtrip_and_strictness():
    """Tag text survives the encode->parse roundtrip only through the
    real header walk; malformed headers return None, never garbage."""
    from paqarin_spark.multimodal import encode_id3v2, parse_id3v2

    tag = encode_id3v2([("TIT2", "song"), ("TPE1", "band"), ("TYER", "2011")])
    got = parse_id3v2(tag + b"\xff\xfb\x00\x00")
    assert got == {"TIT2": "song", "TPE1": "band", "TYER": "2011"}

    assert parse_id3v2(b"") is None
    assert parse_id3v2(b"ID4" + tag[3:]) is None          # bad magic
    assert parse_id3v2(tag[:3] + b"\x04" + tag[4:]) is None  # wrong version
    bad_size = bytearray(tag)
    bad_size[6] = 0x80                                     # non-syncsafe byte
    assert parse_id3v2(bytes(bad_size)) is None
    truncated = tag[: 10 + 5]                              # frame cut mid-header
    assert parse_id3v2(truncated) is None
    # frame body length pointing past the tag -> None
    oversize = bytearray(tag)
    oversize[14:18] = (1 << 20).to_bytes(4, "big")
    assert parse_id3v2(bytes(oversize)) is None
    # lowercase frame id is not a valid v2.3 id
    lower = bytearray(tag)
    lower[10:14] = b"tit2"
    assert parse_id3v2(bytes(lower)) is None


def test_flac_streaminfo_roundtrip_and_strictness():
    """STREAMINFO bit fields unpack exactly; bounds and the last-block
    flag are honored; a vendor block before STREAMINFO is walked over."""
    import struct as _struct

    import pytest

    from paqarin_spark.multimodal import (
        encode_flac_streaminfo,
        parse_flac_streaminfo,
    )

    f = encode_flac_streaminfo(48000, 8, 24, (1 << 36) - 1)
    assert parse_flac_streaminfo(f) == {
        "sample_rate": 48000,
        "channels": 8,
        "bits_per_sample": 24,
        "total_samples": (1 << 36) - 1,
    }
    # STREAMINFO behind a non-last VORBIS_COMMENT block still found
    vendor = bytes([0x04]) + (8).to_bytes(3, "big") + b"\x00" * 8
    behind = b"fLaC" + vendor + f[4:]
    assert parse_flac_streaminfo(behind) == parse_flac_streaminfo(f)
    assert parse_flac_streaminfo(b"") is None
    assert parse_flac_streaminfo(b"fLaX" + f[4:]) is None  # bad magic
    assert parse_flac_streaminfo(f[:20]) is None           # truncated block
    # last-flagged vendor block and no STREAMINFO -> None
    only_vendor = b"fLaC" + bytes([0x84]) + (8).to_bytes(3, "big") + b"\x00" * 8
    assert parse_flac_streaminfo(only_vendor) is None
    # wrong STREAMINFO length -> None
    badlen = b"fLaC" + bytes([0x80]) + (33).to_bytes(3, "big") + f[8:41]
    assert parse_flac_streaminfo(badlen) is None
    with pytest.raises(ValueError):
        encode_flac_streaminfo(1 << 20, 1, 16, 0)
    with pytest.raises(ValueError):
        encode_flac_streaminfo(44100, 9, 16, 0)


def test_audio_meta_from_ids_split_by_container(spark):
    """Even ids carry ID3 text tags, odd ids carry FLAC STREAMINFO;
    every populated value matches the id-arithmetic recipe and the
    other container's columns stay NULL."""
    from paqarin_spark.multimodal import _FLAC_BITS, _FLAC_RATES, audio_meta_from_ids

    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    rows = {r["asset_id"]: r for r in audio_meta_from_ids(ids, "doc_id").collect()}
    assert len(rows) == 10
    for i in range(10):
        r = rows[i]
        if i % 2 == 0:
            assert r["container"] == "id3"
            assert r["title"] == f"track-{i}"
            assert r["artist"] == f"artist-{i % 6}"
            assert r["year"] == 2000 + i % 25
            assert r["sample_rate"] is None and r["total_samples"] is None
        else:
            assert r["container"] == "flac"
            assert r["sample_rate"] == _FLAC_RATES[i % 5]
            assert r["channels"] == i % 4 + 1
            assert r["bits_per_sample"] == _FLAC_BITS[i % 3]
            assert r["total_samples"] == i * 1000 + i % 7
            assert r["title"] is None and r["year"] is None


def test_srt_roundtrip_and_strictness():
    """Cue stats survive encode->parse only through the strict walk;
    shuffled indices, bad grammar, inverted or non-monotone timings
    all return None."""
    from paqarin_spark.multimodal import encode_srt, parse_srt

    doc = encode_srt([(1000, 2500, "hello"), (3000, 4000, "world")])
    assert parse_srt(doc) == {
        "n_cues": 2, "total_ms": 2500,
        "first_text": "hello", "last_end_ms": 4000,
    }
    assert parse_srt(b"") is None
    assert parse_srt(b"\xff\xfe junk") is None
    assert parse_srt(doc.replace(b"\n2\n", b"\n5\n")) is None      # index gap
    assert parse_srt(doc.replace(b" --> ", b" -> ")) is None       # grammar
    assert parse_srt(doc.replace(b"00:00:04,000", b"00:00:02,000")) is None  # end<start
    assert parse_srt(doc.replace(b"00:00:02,500", b"00:61:02,500")) is None  # min>=60
    # non-monotone starts: swap cue order but keep indices sequential
    bad = encode_srt([(3000, 4000, "b")])[:-1]
    bad2 = encode_srt([(1000, 2000, "a")]).replace(b"1\n", b"2\n", 1)
    assert parse_srt(bad + b"\n" + bad2) is None

    import pytest

    with pytest.raises(ValueError):
        encode_srt([(2000, 1000, "x")])


def test_srt_stats_from_ids_recipe(spark):
    from paqarin_spark.multimodal import srt_stats_from_ids

    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    rows = {r["asset_id"]: r for r in srt_stats_from_ids(ids, "doc_id").collect()}
    for i in range(7):
        n = i % 3 + 1
        r = rows[i]
        assert r["n_cues"] == n
        assert r["total_ms"] == 1500 * n
        assert r["first_text"] == f"line-{i}-1"
        assert r["last_end_ms"] == i * 1000 + n * 2000 + 1500


def test_id3v2_rejects_flagged_headers_and_frames():
    """Header flags (unsync/extended) and frame flags (compression
    etc.) change the byte layout — the strict walk returns None
    rather than mis-walking them; ':' (0x3A) is not a frame-id char."""
    from paqarin_spark.multimodal import encode_id3v2, parse_id3v2

    tag = encode_id3v2([("TIT2", "x")])
    assert parse_id3v2(tag) == {"TIT2": "x"}
    hdr_flag = bytearray(tag)
    hdr_flag[5] = 0x40                      # extended header flag
    assert parse_id3v2(bytes(hdr_flag)) is None
    frame_flag = bytearray(tag)
    frame_flag[19] = 0x80                   # frame compression flag
    assert parse_id3v2(bytes(frame_flag)) is None
    colon = bytearray(tag)
    colon[10] = ord(":")                    # 0x3A, between digits and A
    assert parse_id3v2(bytes(colon)) is None


# ------------------------------------------------------------- tar shards


def test_ustar_roundtrip_and_stdlib_cross_validation():
    """Our writer's bytes parse with the stdlib tarfile module AND our
    parser reads stdlib-written ustar — format validity proven in both
    directions; corruption (one flipped header byte) is detected, not
    silently misread; empty payloads and >1-block payloads survive."""
    import io
    import tarfile

    from paqarin_spark.multimodal import encode_ustar, parse_tar_members

    members = [
        ("000000000001.txt", b"hello world"),
        ("000000000002.txt", b""),
        ("big.txt", b"x" * 1300),
    ]
    blob = encode_ustar(members)
    got = parse_tar_members(blob)
    assert [(m["name"], m["payload"]) for m in got] == members
    assert [m["size"] for m in got] == [11, 0, 1300]

    tf = tarfile.open(fileobj=io.BytesIO(blob))
    assert [
        (i.name, tf.extractfile(i).read()) for i in tf if i.isfile()
    ] == members

    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as w:
        for nm, data in [("a.txt", b"abc"), ("b.txt", b"defg")]:
            ti = tarfile.TarInfo(nm)
            ti.size = len(data)
            w.addfile(ti, io.BytesIO(data))
    got2 = parse_tar_members(buf.getvalue())
    assert [(m["name"], m["payload"]) for m in got2] == [
        ("a.txt", b"abc"),
        ("b.txt", b"defg"),
    ]

    bad = bytearray(blob)
    bad[200] ^= 0xFF
    assert parse_tar_members(bytes(bad)) is None
    assert parse_tar_members(blob[:700]) is None  # no terminator
    import pytest

    with pytest.raises(ValueError, match="too long"):
        encode_ustar([("n" * 101, b"")])


def test_tar_shards_roundtrip_on_spark(spark):
    """Write → read across shards: every doc comes back byte-exact in
    its id-mod shard under its zero-padded name; NULL text packs as an
    empty member; malformed shards surface as a NULL-name row."""
    import pytest

    from paqarin_spark.multimodal import (
        tar_members_table,
        tar_shards_from_docs,
    )

    docs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, None), (5, "épsilon")],
        "doc_id long, text string",
    )
    shards = tar_shards_from_docs(docs, "doc_id", "text", num_shards=2)
    got = {
        r["name"]: (r["shard_id"], r["payload"], r["size"])
        for r in tar_members_table(shards).collect()
    }
    assert got["000000000000.txt"] == (0, bytearray(b"alpha"), 5)
    assert got["000000000001.txt"] == (1, bytearray(b"beta"), 4)
    assert got["000000000002.txt"] == (0, bytearray(b""), 0)
    assert got["000000000005.txt"] == (
        1,
        bytearray("épsilon".encode("utf-8")),
        8,
    )
    with pytest.raises(ValueError, match="num_shards"):
        tar_shards_from_docs(docs, "doc_id", "text", num_shards=0)

    corrupt = spark.createDataFrame(
        [(9, bytearray(b"\x01" * 600)), (10, None)],
        "shard_id int, content binary",
    )
    rows = {r["shard_id"]: r for r in tar_members_table(corrupt).collect()}
    assert len(rows) == 2
    assert rows[9]["name"] is None and rows[10]["name"] is None

    from paqarin_spark.multimodal import encode_ustar as _enc

    with pytest.raises(ValueError, match="too large"):
        _enc([("huge.bin", _FakeHuge())])



class _FakeHuge(bytes):
    """len() lies large so the ustar size-field guard is testable
    without allocating 8 GiB."""

    def __len__(self):
        return 8**11


def test_parse_tar_members_skips_link_entries_without_data(spark):
    """ADVICE r8: POSIX hard/sym-link entries (typeflag '1'/'2') store
    NO data blocks even when their size field is nonzero (GNU tar
    records the link target's size) — the walk must not advance past
    phantom data blocks, or every later member misaligns to None."""
    from paqarin_spark.multimodal import encode_ustar, parse_tar_members

    def special_header(name: str, size: int, typeflag: bytes) -> bytes:
        h = bytearray(512)
        h[0:len(name)] = name.encode()
        h[100:108] = b"0000644\x00"
        h[108:116] = b"0000000\x00"
        h[116:124] = b"0000000\x00"
        h[124:136] = f"{size:011o}".encode() + b"\x00"
        h[136:148] = b"00000000000\x00"
        h[148:156] = b" " * 8
        h[156:157] = typeflag
        h[257:263] = b"ustar\x00"
        h[263:265] = b"00"
        h[148:156] = f"{sum(h):06o}".encode() + b"\x00 "
        return bytes(h)

    regular = encode_ustar([("real.txt", b"hello world")])
    # GNU-style hard link claiming the target's 11-byte size, then a
    # symlink and a directory — none of them carry data blocks
    blob = (
        special_header("ln.txt", 11, b"1")
        + special_header("sym.txt", 11, b"2")
        + special_header("dir/", 0, b"5")
        + regular
    )
    got = parse_tar_members(blob)
    assert got is not None, "link entries misaligned the walk"
    assert [(m["name"], m["payload"]) for m in got] == [
        ("real.txt", b"hello world")
    ]

    # cross-check: stdlib tarfile agrees on the member list
    import io
    import tarfile

    tf = tarfile.open(fileobj=io.BytesIO(blob))
    assert [i.name for i in tf if i.isfile()] == ["real.txt"]


def test_zip_codec_roundtrip_and_stdlib_cross_validation(spark):
    """encode_zip → parse_zip_members round-trips byte-exactly for
    stored AND deflate; stdlib zipfile reads our archives; our parser
    reads stdlib-written zips; corruption (flipped byte → CRC
    mismatch), truncation, and a size-lying header are detected as
    None, never a partial guess; zip32 limits raise in the writer."""
    import io
    import struct
    import zipfile

    import pytest

    from paqarin_spark.multimodal import encode_zip, parse_zip_members

    members = [
        ("000000000001.txt", b"hello world"),
        ("000000000002.txt", b""),
        ("big.txt", b"x" * 70000),  # >64KiB exercises multi-block deflate
    ]
    for method in ("stored", "deflate"):
        blob = encode_zip(members, method=method)
        got = parse_zip_members(blob)
        assert [(m["name"], m["payload"]) for m in got] == members
        assert [m["size"] for m in got] == [11, 0, 70000]
        assert all(m["method"] == (0 if method == "stored" else 8)
                   for m in got)
        zf = zipfile.ZipFile(io.BytesIO(blob))
        assert [(i.filename, zf.read(i.filename))
                for i in zf.infolist()] == members

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as w:
        w.writestr("a.txt", b"abc")
        w.writestr("b.txt", b"defg" * 100)
    got2 = parse_zip_members(buf.getvalue())
    assert [(m["name"], m["payload"]) for m in got2] == [
        ("a.txt", b"abc"),
        ("b.txt", b"defg" * 100),
    ]

    blob = encode_zip(members)
    bad = bytearray(blob)
    bad[50] ^= 0xFF  # inside member 1's deflate stream → CRC mismatch
    assert parse_zip_members(bytes(bad)) is None
    assert parse_zip_members(blob[:len(blob) - 10]) is None  # no EOCD
    # size-lying CD entry: bump member 1's uncompressed size field
    cd = blob.rfind(b"PK\x01\x02")
    first_cd = blob.find(b"PK\x01\x02")
    lied = bytearray(blob)
    usz = struct.unpack("<I", blob[first_cd + 24:first_cd + 28])[0]
    lied[first_cd + 24:first_cd + 28] = struct.pack("<I", usz + 1)
    assert parse_zip_members(bytes(lied)) is None
    assert cd >= first_cd

    with pytest.raises(ValueError, match="method"):
        encode_zip(members, method="lzma")


def test_zip_shards_roundtrip_on_spark(spark):
    """Write → read across shards on Spark: every doc comes back
    byte-exact in its id-mod shard; NULL text packs as an empty
    member; a corrupted shard surfaces as one NULL-member row."""
    from pyspark.sql import functions as F

    from paqarin_spark.multimodal import (
        zip_members_table,
        zip_shards_from_docs,
    )

    docs = spark.createDataFrame(
        [(i, f"doc body {i} " * (i % 4)) for i in range(20)]
        + [(20, None)],
        "doc_id long, text string",
    )
    shards = zip_shards_from_docs(docs, "doc_id", "text", num_shards=4)
    got = {
        r["name"]: (r["shard_id"], bytes(r["payload"]))
        for r in zip_members_table(shards).collect()
    }
    assert len(got) == 21
    for i in range(20):
        name = f"{i:012d}.txt"
        assert got[name] == (i % 4, (f"doc body {i} " * (i % 4)).encode())
    assert got["000000000020.txt"] == (0, b"")

    corrupted = shards.select(
        "shard_id",
        F.expr("substring(content, 1, length(content) - 5)").alias(
            "content"
        ),
    )
    bad_rows = zip_members_table(corrupted).collect()
    assert all(r["name"] is None for r in bad_rows)
    assert len(bad_rows) == 4


def test_wav_dft_features_pins_pure_tones(spark):
    """A pure integer-bin cosine concentrates its energy at that bin
    (mag = A/2, others ~0); a constant signal has zero energy at
    every nonzero bin; unparseable payloads are skipped."""
    import math

    from paqarin_spark.multimodal import encode_wav, wav_dft_features

    n, amp = 64, 1000
    tone = encode_wav(
        8000, n,
        sample_fn=lambda i: int(round(amp * math.cos(2 * math.pi * 2 * i / n)))
    )
    const = encode_wav(8000, n, sample_fn=lambda i: 777)
    rows = [
        (1, tone, {"media_type": "audio", "format": "wav", "width": None,
                   "height": None, "n_frames": None, "sample_rate": None}),
        (2, const, dict(media_type="audio", format="wav", width=None,
                        height=None, n_frames=None, sample_rate=None)),
        (3, b"not a wav", dict(media_type="audio", format="wav", width=None,
                               height=None, n_frames=None, sample_rate=None)),
    ]
    from paqarin_spark.multimodal import MEDIA_SCHEMA
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {(r["asset_id"], r["bin"]): r["magnitude"]
           for r in wav_dft_features(df, bins=(1, 2, 3)).collect()}
    # integer-rounded cosine: allow quantization slack of ~1
    assert abs(got[(1, 2)] - amp / 2) < 1.0
    assert got[(1, 1)] < 5.0 and got[(1, 3)] < 5.0
    assert got[(2, 1)] < 1e-6 and got[(2, 2)] < 1e-6
    assert not any(aid == 3 for aid, _ in got)


def test_lzw_pair_bit_order_and_boundaries():
    """Hand-computed bitstream fixture pins the GIF LZW bit order
    (codes clear,0,1,eoi at 3 bits LSB-first == 44 0A); roundtrips
    cross every code-width boundary and the 4096 dictionary reset."""
    import random

    from paqarin_spark.multimodal import _lzw_decode, _lzw_encode

    assert _lzw_encode([0, 1], 2) == bytes([0x44, 0x0A])
    assert _lzw_decode(bytes([0x44, 0x0A]), 2) == bytes([0, 1])
    rng = random.Random(11)
    for mcs, nsym, length in [(2, 4, 5000), (8, 256, 30000), (2, 4, 80000)]:
        seq = bytes(rng.randrange(nsym) for _ in range(length))
        assert _lzw_decode(_lzw_encode(seq, mcs), mcs) == seq
    # KwKwK case: aaa... forces code == next_code on decode
    seq = b"\x00" * 500
    assert _lzw_decode(_lzw_encode(seq, 2), 2) == seq


def test_gif_roundtrip_and_rejects():
    """encode_gif -> parse_gif recovers the exact index raster;
    non-GIF payloads, trailer-only and oversized-palette inputs are
    rejected; extension blocks are skipped."""
    import pytest

    from paqarin_spark.multimodal import GIF_PALETTE, encode_gif, parse_gif

    idx = bytes((x + y * 7 + 123) % 4 for y in range(9) for x in range(7))
    raw = encode_gif(7, 9, list(GIF_PALETTE), idx)
    g = parse_gif(raw)
    assert (g["width"], g["height"], g["n_colors"]) == (7, 9, 4)
    assert g["indices"] == idx
    # splice a GCE extension before the image descriptor: still parses
    i = raw.index(b"\x2c")
    with_ext = raw[:i] + b"\x21\xf9\x04\x00\x00\x00\x00\x00" + raw[i:]
    assert parse_gif(with_ext)["indices"] == idx
    assert parse_gif(b"not a gif") is None
    assert parse_gif(b"GIF89a\x01\x00\x01\x00\x00\x00\x00\x3b") is None
    with pytest.raises(ValueError, match="palette"):
        encode_gif(2, 2, [(0, 0, 0)] * 300, bytes(4))


def test_wav_dft_unit_sums_do_not_wrap_on_full_scale_pcm(spark):
    """Overflow regression (round-10 review): a long full-scale tone
    correlated with its own bin drives per-term 1e-12 units to ~3e16
    and the bin's signed unit sum past int64 — the Python-int
    accumulator must stay exact (mag == A/2), where an int64 one
    wraps to garbage."""
    import math

    from paqarin_spark.multimodal import (
        MEDIA_SCHEMA,
        encode_wav,
        wav_dft_features,
    )

    n, amp = 4000, 32000  # sum of amp/2 * n units ~ 6.4e19 > int64 max
    tone = encode_wav(
        8000,
        n,
        sample_fn=lambda i: int(
            round(amp * math.cos(2 * math.pi * 3 * i / n))
        ),
    )
    df = spark.createDataFrame(
        [
            (
                1,
                tone,
                dict(
                    media_type="audio",
                    format="wav",
                    width=None,
                    height=None,
                    n_frames=None,
                    sample_rate=None,
                ),
            )
        ],
        MEDIA_SCHEMA,
    )
    got = {
        (r["asset_id"], r["bin"]): r["magnitude"]
        for r in wav_dft_features(df, bins=(3,)).collect()
    }
    assert abs(got[(1, 3)] - amp / 2) < 1.0, got


def test_png_adam7_interlace_roundtrip_matches_progressive():
    """Adam7 encode → decode reproduces the EXACT raster the
    progressive encoding yields, across every shape 1..13 × 1..11 —
    covering empty passes (width or height below a pass origin),
    single-pixel images, and pass-local filter cycling. Truncated
    interlaced streams return None, and the interlaced flag is
    really in the bytes (IHDR byte 13)."""
    from paqarin_spark.multimodal import encode_png, parse_png

    fn = lambda x, y: ((x + 3 * y) % 256, (x * y + 1) % 256, (5 * x + y) % 256)  # noqa: E731
    for w in range(1, 14):
        for h in range(1, 12):
            plain = parse_png(encode_png(w, h, fn))
            inter_bytes = encode_png(w, h, fn, interlace=True)
            inter = parse_png(inter_bytes)
            assert inter is not None and inter["pixels"] is not None, (w, h)
            assert inter["width"] == w and inter["height"] == h
            assert inter["pixels"] == plain["pixels"], (w, h)
    big = encode_png(11, 10, fn, interlace=True)
    # IHDR data starts after signature(8) + len(4) + type(4); byte 12
    # of the 13-byte IHDR payload is the interlace flag
    assert big[8 + 8 + 12] == 1
    # truncating the IDAT payload must fail closed, not mis-scatter
    import struct as _struct

    pos = 8
    while True:
        (length,) = _struct.unpack_from(">I", big, pos)
        ctype = big[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            break
        pos = pos + 12 + length
    cut = big[: pos + 8 + length - 3]  # drop the IDAT tail + CRC
    assert parse_png(cut) is None


_MEDIA_COLS = [
    ("asset_id", "bigint", False),
    ("content", "binary", True),
    ("meta", "struct<media_type:string,format:string,width:int,height:int,"
     "n_frames:int,sample_rate:int>", True),
]
_PIXEL_STATS_COLS = [
    ("asset_id", "bigint", False), ("width", "int", True),
    ("height", "int", True), ("mean_r", "double", True),
    ("mean_g", "double", True), ("mean_b", "double", True),
]

# Output schema of every per-asset function, as (name, simpleString,
# nullable) triples.
_LANE_SCHEMAS = {
    "audio_meta_from_ids": [
        ("asset_id", "bigint", False), ("container", "string", True),
        ("title", "string", True), ("artist", "string", True),
        ("year", "int", True), ("sample_rate", "int", True),
        ("channels", "int", True), ("bits_per_sample", "int", True),
        ("total_samples", "bigint", True),
    ],
    "chunk_audio": [
        ("asset_id", "bigint", False), ("chunk_index", "int", False),
        ("start_sample", "bigint", False), ("n_samples", "int", False),
        ("chunk_hash", "string", True),
    ],
    "codec_assets_from_ids": _MEDIA_COLS,
    "decode_media": [
        ("asset_id", "bigint", False), ("content_hash", "string", True),
        ("n_bytes", "bigint", True), ("width", "int", True),
        ("height", "int", True), ("sample_rate", "int", True),
        ("n_samples", "bigint", True),
    ],
    "exif_stats_from_ids": [
        ("asset_id", "bigint", False), ("width", "int", True),
        ("height", "int", True), ("orientation", "int", True),
        ("taken_at", "string", True), ("make", "string", True),
    ],
    "extract_features": [
        ("asset_id", "bigint", False), ("feature", "string", False),
        ("value", "double", True),
    ],
    "gif_assets_from_ids": _MEDIA_COLS,
    "gif_pixel_stats": [
        ("asset_id", "bigint", False), ("width", "int", True),
        ("height", "int", True), ("n_pixels", "int", True),
        ("mean_index", "double", True), ("count_c0", "int", True),
    ],
    "jpeg_assets_from_ids": _MEDIA_COLS,
    "jpeg_pixel_stats": _PIXEL_STATS_COLS,
    "mjpeg_frame_stats_from_ids": [
        ("asset_id", "bigint", False), ("frame_index", "bigint", False),
        ("width", "int", True), ("height", "int", True),
        ("mean_r", "double", True), ("mean_g", "double", True),
        ("mean_b", "double", True),
    ],
    "mp4_sample_stats_from_ids": [
        ("asset_id", "bigint", False), ("n_samples", "bigint", True),
        ("total_sample_bytes", "bigint", True),
        ("max_sample_bytes", "bigint", True),
        ("chunk_offset", "bigint", True), ("first_byte_sum", "bigint", True),
        ("n_bytes", "bigint", False),
    ],
    "png_assets_from_ids": _MEDIA_COLS,
    "png_pixel_stats": _PIXEL_STATS_COLS,
    "probe_media_from_ids": [
        ("asset_id", "bigint", False), ("kind", "string", False),
        ("width", "bigint", True), ("height", "bigint", True),
        ("n_components", "bigint", True), ("duration_ms", "bigint", True),
        ("n_bytes", "bigint", False),
    ],
    "resize_images": _MEDIA_COLS,
    "sample_frames": [
        ("asset_id", "bigint", False), ("frame_index", "int", False),
        ("frame_hash", "string", True),
    ],
    "srt_stats_from_ids": [
        ("asset_id", "bigint", False), ("n_cues", "int", True),
        ("total_ms", "bigint", True), ("first_text", "string", True),
        ("last_end_ms", "bigint", True),
    ],
    "tar_members_table": [
        ("shard_id", "int", True), ("name", "string", True),
        ("size", "bigint", True), ("payload", "binary", True),
    ],
    "transcode_png_to_gif": _MEDIA_COLS,
    "wav_assets_from_ids": _MEDIA_COLS,
    "wav_audio_stats": [
        ("asset_id", "bigint", False), ("n_samples", "bigint", True),
        ("mean_abs", "double", True), ("peak", "bigint", True),
        ("zero_crossings", "bigint", True),
    ],
    "wav_dft_features": [
        ("asset_id", "bigint", False), ("bin", "int", False),
        ("n_samples", "int", False), ("magnitude", "double", True),
    ],
    "zip_members_table": [
        ("shard_id", "int", True), ("name", "string", True),
        ("size", "bigint", True), ("method", "int", True),
        ("payload", "binary", True),
    ],
}

# Rows each content-reading function returns for one asset with NULL
# content (JSON with explicit nulls). Functions absent here return no
# row: gif_pixel_stats, wav_dft_features, transcode_png_to_gif and
# extract_features skip an asset they cannot read.
_NULL_CONTENT_ROWS = [
    ("chunk_audio", '{"asset_id":8,"chunk_index":0,"start_sample":0,'
     '"n_samples":2,"chunk_hash":"7dea362b3fac8e00956a4952a3d4f474"}'),
    ("chunk_audio", '{"asset_id":8,"chunk_index":1,"start_sample":2,'
     '"n_samples":1,"chunk_hash":"e675cc21c1f78217cf5d6a5b1929afde"}'),
    ("decode_media", '{"asset_id":7,"content_hash":null,"n_bytes":null,'
     '"width":null,"height":null,"sample_rate":null,"n_samples":null}'),
    ("jpeg_pixel_stats", '{"asset_id":7,"width":null,"height":null,'
     '"mean_r":null,"mean_g":null,"mean_b":null}'),
    ("png_pixel_stats", '{"asset_id":7,"width":null,"height":null,'
     '"mean_r":null,"mean_g":null,"mean_b":null}'),
    ("resize_images", '{"asset_id":7,"content":null,"meta":{"media_type":'
     '"video","format":"mp4","width":3,"height":2,"n_frames":3,'
     '"sample_rate":null}}'),
    ("sample_frames", '{"asset_id":7,"frame_index":0,'
     '"frame_hash":"f1d3ff8443297732862df21dc4e57262"}'),
    ("sample_frames", '{"asset_id":7,"frame_index":2,'
     '"frame_hash":"f11177d2ec63d995fb4ac628e0d782df"}'),
    ("tar_members_table",
     '{"shard_id":3,"name":null,"size":null,"payload":null}'),
    ("wav_audio_stats", '{"asset_id":7,"n_samples":null,"mean_abs":null,'
     '"peak":null,"zero_crossings":null}'),
    ("zip_members_table", '{"shard_id":3,"name":null,"size":null,'
     '"method":null,"payload":null}'),
]


def test_per_asset_functions_pin_schema_empty_and_null_content(spark):
    """Every per-asset mapInPandas function: its output schema, no rows
    for an empty input, and (for the content readers) the rows for one
    asset whose content is NULL. All 37 frames are unioned as JSON and
    collected in one action."""
    from pyspark.sql import functions as F

    from paqarin_spark import multimodal as mm

    empty_media = mm.media_table(spark, [])
    video = mm.media_table(spark, [(7, None, ("video", "mp4", 4, 2, 3, None))])
    audio = mm.media_table(spark, [(8, None, ("audio", "wav", None, None, 3, 2))])
    content_fns = {
        "decode_media": mm.decode_media,
        "png_pixel_stats": mm.png_pixel_stats,
        "extract_features": mm.extract_features,
        "resize_images": lambda d: mm.resize_images(d, 3, 2),
        "sample_frames": mm.sample_frames,
        "chunk_audio": mm.chunk_audio,
        "jpeg_pixel_stats": mm.jpeg_pixel_stats,
        "wav_audio_stats": mm.wav_audio_stats,
        "wav_dft_features": mm.wav_dft_features,
        "gif_pixel_stats": mm.gif_pixel_stats,
        "transcode_png_to_gif": mm.transcode_png_to_gif,
    }
    frames = []
    for name, fn in content_fns.items():
        one = audio if name == "chunk_audio" else video
        frames += [(name, "empty", fn(empty_media)), (name, "null", fn(one))]
    empty_ids = spark.createDataFrame([], "id long")
    id_fns = sorted(n for n in dir(mm) if n.endswith("_from_ids"))
    assert len(id_fns) == 11
    frames += [(n, "empty", getattr(mm, n)(empty_ids, "id")) for n in id_fns]
    empty_shards = spark.createDataFrame([], mm.TAR_SHARD_SCHEMA)
    null_shard = spark.createDataFrame([(3, None)], mm.TAR_SHARD_SCHEMA)
    for name in ("tar_members_table", "zip_members_table"):
        fn = getattr(mm, name)
        frames += [(name, "empty", fn(empty_shards)), (name, "null", fn(null_shard))]

    schemas = {
        name: [(f.name, f.dataType.simpleString(), f.nullable)
               for f in df.schema.fields]
        for name, _, df in frames
    }
    assert schemas == _LANE_SCHEMAS

    union = None
    for name, kind, df in frames:
        j = df.select(
            F.lit(name).alias("fn"),
            F.lit(kind).alias("kind"),
            F.to_json(F.struct("*"), {"ignoreNullFields": "false"}).alias("row"),
        )
        union = j if union is None else union.unionByName(j)
    got = sorted((r.fn, r.kind, r.row) for r in union.collect())
    assert [g for g in got if g[1] == "empty"] == []
    assert [(fn, row) for fn, _, row in got] == _NULL_CONTENT_ROWS


def test_member_readers_pass_null_shard_id_through(spark):
    """A (NULL, NULL) shard row next to real shards reads as one
    NULL-member row with a NULL shard_id; the real shards still read."""
    from paqarin_spark.multimodal import (
        TAR_SHARD_SCHEMA,
        tar_members_table,
        tar_shards_from_docs,
        zip_members_table,
        zip_shards_from_docs,
    )

    docs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], "doc_id long, text string"
    )
    poison = spark.createDataFrame([(None, None)], TAR_SHARD_SCHEMA)
    for write, read in (
        (tar_shards_from_docs, tar_members_table),
        (zip_shards_from_docs, zip_members_table),
    ):
        shards = write(docs, "doc_id", "text", num_shards=2).unionByName(poison)
        got = sorted(
            (r["shard_id"] is None, r["shard_id"] or 0, r["name"] or "")
            for r in read(shards).collect()
        )
        assert got == [
            (False, 0, "000000000000.txt"),
            (False, 1, "000000000001.txt"),
            (True, 0, ""),
        ]


def test_null_ids_are_dropped_by_id_builders_and_shard_writers(spark):
    """A NULL id names no asset and no archive member: the ``ids=`` leg
    of the record lane and the shard writers drop it instead of
    failing the task on ``int(NaN)``."""
    from paqarin_spark.multimodal import (
        png_assets_from_ids,
        tar_members_table,
        tar_shards_from_docs,
    )

    ids = spark.createDataFrame([(None,), (2,)], "asset_id long")
    assets = png_assets_from_ids(ids, "asset_id")
    assert [r["asset_id"] for r in assets.collect()] == [2]
    docs = spark.createDataFrame(
        [(None, "x"), (1, "y")], "doc_id long, text string"
    )
    members = tar_members_table(tar_shards_from_docs(docs, "doc_id", "text", 2))
    assert [(r["shard_id"], r["name"]) for r in members.collect()] == [
        (1, "000000000001.txt")
    ]


def test_extract_features_rejects_dim_outside_digest(spark):
    """Feature values index a 32-byte sha256 digest, so ``dim`` must be
    in 1..32; the check runs at call time, not in a worker."""
    from paqarin_spark.multimodal import extract_features, media_table

    df = media_table(spark, [])
    for dim in (0, -1, 33, 40):
        with pytest.raises(ValueError, match="dim"):
            extract_features(df, dim=dim)
    extract_features(df, dim=32)


def test_sample_frames_rejects_every_nth_below_one(spark):
    """``every_nth`` is a range step: 0 used to fail in the worker and
    a negative step returned no frames. Both now raise at call time."""
    from paqarin_spark.multimodal import media_table

    df = media_table(spark, [])
    for every_nth in (0, -1):
        with pytest.raises(ValueError, match="every_nth"):
            sample_frames(df, every_nth=every_nth)
    sample_frames(df, every_nth=1)
