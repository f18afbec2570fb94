"""E-6 media decode (multimodal.py): the Spark decode stage against
HAND-CRAFTED golden files (external bytes, not our encoders), the
encode→decode round trips vs the closed-form formulas, and the
stdlib single-payload decoders' agreement with the Spark output.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from decision_tree_stuff_spark.operators.multimodal import (
    decode_media,
    decode_pixels,
    synthesize_decodable_media,
)


def _golden_bmp_2x2():
    """A 2×2 24-bit BMP built by hand from the published spec:
    top-left RED, top-right GREEN, bottom-left BLUE, bottom-right
    WHITE. Rows are stored bottom-up, pixels BGR, rows padded from 6
    to 8 bytes (4-byte stride)."""
    w, h, stride = 2, 2, 8
    header = (
        b"BM"
        + struct.pack("<I", 54 + stride * h)
        + b"\x00\x00\x00\x00"
        + struct.pack("<I", 54)
        + struct.pack("<I", 40)
        + struct.pack("<ii", w, h)
        + struct.pack("<HH", 1, 24)
        + struct.pack("<I", 0)
        + struct.pack("<I", stride * h)
        + struct.pack("<ii", 2835, 2835)
        + struct.pack("<II", 0, 0)
    )
    bottom_row = bytes([255, 0, 0]) + bytes([255, 255, 255]) + b"\x00\x00"
    top_row = bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00\x00"
    expected_rgb = [
        255, 0, 0,      # top-left RED
        0, 255, 0,      # top-right GREEN
        0, 0, 255,      # bottom-left BLUE
        255, 255, 255,  # bottom-right WHITE
    ]
    return header + bottom_row + top_row, expected_rgb


def test_golden_bmp_spark_decode(spark):
    payload, expected = _golden_bmp_2x2()
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    row = decode_pixels(media).first()
    assert row["img_format"] == "bmp"
    assert (row["width"], row["height"]) == (2, 2)
    assert list(row["pixels"]) == expected


def test_golden_bmp_python_decode():
    payload, expected = _golden_bmp_2x2()
    w, h, px = decode_media(payload, "bmp")
    assert (w, h, px) == (2, 2, expected)


def test_golden_ppm_both_paths(spark):
    payload = b"P6\n3 1\n255\n" + bytes(range(9))
    w, h, px = decode_media(payload, "ppm")
    assert (w, h, px) == (3, 1, list(range(9)))
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    row = decode_pixels(media).first()
    assert row["img_format"] == "ppm"
    assert (row["width"], row["height"]) == (3, 1)
    assert list(row["pixels"]) == list(range(9))


def test_round_trip_matches_formula_and_python(spark):
    """Spark encode → real binary → Spark decode must reproduce the
    closed-form pixels; the Python decoder must agree on the same
    payload bytes (cross-implementation check)."""
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id bigint"
    )
    media = synthesize_decodable_media(docs)
    rows = {
        r["media_id"]: r
        for r in decode_pixels(media)
        .join(media.select("media_id", "payload", "meta"), "media_id")
        .collect()
    }
    assert len(rows) == 12
    for mid, r in rows.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        expect = [(mid * 7 + k * 13) % 256 for k in range(w * h * 3)]
        assert r["img_format"] == ("bmp" if mid % 2 == 0 else "ppm"), mid
        assert (r["width"], r["height"]) == (w, h), mid
        assert list(r["pixels"]) == expect, mid
        pw, ph, ppx = decode_media(bytes(r["payload"]), r["meta"]["format"])
        assert (pw, ph, ppx) == (w, h, expect), mid


def test_unsupported_formats_still_raise():
    with pytest.raises(NotImplementedError, match="codec"):
        decode_media(b"\xff\xd8\xff\xe0fakejpeg", "jpeg")
    with pytest.raises(ValueError, match="unsupported BMP"):
        # 4-bit BMP: header parses, variant rejected (8/24 supported)
        bad = bytearray(_golden_bmp_2x2()[0])
        bad[28] = 4
        decode_media(bytes(bad), "bmp")


def _golden_bmp8_2x2():
    """A 2×2 8-bit PALETTED BMP built by hand: indices chosen so the
    palette indirection is visible (entry 0 = RED, 1 = GREEN, 2 =
    BLUE, 3 = WHITE; everything else black). Rows bottom-up, 1 byte
    per pixel padded from 2 to 4 bytes."""
    import struct as _s

    w, h, stride = 2, 2, 4
    header = (
        b"BM"
        + _s.pack("<I", 54 + 1024 + stride * h)
        + b"\x00\x00\x00\x00"
        + _s.pack("<I", 54 + 1024)
        + _s.pack("<I", 40)
        + _s.pack("<ii", w, h)
        + _s.pack("<HH", 1, 8)
        + _s.pack("<I", 0)
        + _s.pack("<I", stride * h)
        + _s.pack("<ii", 2835, 2835)
        + _s.pack("<II", 256, 0)
    )
    pal = {  # disk layout B, G, R, 0
        0: bytes([0, 0, 255, 0]),       # RED
        1: bytes([0, 255, 0, 0]),       # GREEN
        2: bytes([255, 0, 0, 0]),       # BLUE
        3: bytes([255, 255, 255, 0]),   # WHITE
    }
    palette = b"".join(pal.get(i, b"\x00" * 4) for i in range(256))
    bottom_row = bytes([2, 3]) + b"\x00\x00"  # BLUE, WHITE
    top_row = bytes([0, 1]) + b"\x00\x00"     # RED, GREEN
    expected_rgb = [
        255, 0, 0,      # top-left RED
        0, 255, 0,      # top-right GREEN
        0, 0, 255,      # bottom-left BLUE
        255, 255, 255,  # bottom-right WHITE
    ]
    return header + palette + bottom_row + top_row, expected_rgb


def test_golden_bmp8_both_paths(spark):
    payload, expected = _golden_bmp8_2x2()
    w, h, px = decode_media(payload, "bmp8")
    assert (w, h, px) == (2, 2, expected)
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    row = decode_pixels(media).first()
    assert row["img_format"] == "bmp8"
    assert (row["width"], row["height"]) == (2, 2)
    assert list(row["pixels"]) == expected


def test_golden_pgm_both_paths(spark):
    payload = b"P5\n3 1\n255\n" + bytes([7, 128, 255])
    w, h, px = decode_media(payload, "pgm")
    want = [7, 7, 7, 128, 128, 128, 255, 255, 255]
    assert (w, h, px) == (3, 1, want)
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    row = decode_pixels(media).first()
    assert row["img_format"] == "pgm"
    assert (row["width"], row["height"]) == (3, 1)
    assert list(row["pixels"]) == want


def test_paletted_round_trip_matches_formula_and_python(spark):
    """bmp8/pgm encode → real binary → decode must reproduce the
    closed-form pixels (palette indirection undone for bmp8, R=G=B
    expansion for pgm); the Python decoder must agree byte-for-byte."""
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id bigint"
    )
    media = synthesize_decodable_media(docs, formats=("bmp8", "pgm"))
    rows = {
        r["media_id"]: r
        for r in decode_pixels(media)
        .join(media.select("media_id", "payload", "meta"), "media_id")
        .collect()
    }
    assert len(rows) == 12
    for mid, r in rows.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        if mid % 2 == 0:  # bmp8: palette channel of the index formula
            expect = []
            for q in range(w * h):
                idx = (mid * 7 + q * 13) % 256
                expect += [
                    (idx * 5 + 11) % 256,
                    (idx * 3 + 7) % 256,
                    (idx * 9 + 3) % 256,
                ]
        else:  # pgm: gray expanded to R=G=B
            expect = [
                v
                for q in range(w * h)
                for v in [(mid * 7 + q * 13) % 256] * 3
            ]
        assert r["img_format"] == ("bmp8" if mid % 2 == 0 else "pgm"), mid
        assert (r["width"], r["height"]) == (w, h), mid
        assert list(r["pixels"]) == expect, mid
        pw, ph, ppx = decode_media(bytes(r["payload"]), r["meta"]["format"])
        assert (pw, ph, ppx) == (w, h, expect), mid


def test_bmp8_v4_header_rejected_both_paths(spark):
    """r10 (advice): the palette-at-54 read is only valid for a
    40-byte BITMAPINFOHEADER — a V4/V5 DIB size must null out in
    Spark and raise in Python instead of decoding header bytes as
    palette colors."""
    payload = bytearray(_golden_bmp8_2x2()[0])
    payload[14:18] = struct.pack("<I", 108)  # BITMAPV4HEADER size
    payload = bytes(payload)
    with pytest.raises(ValueError, match="DIB header size"):
        decode_media(payload, "bmp8")
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    row = decode_pixels(media).first()
    assert row["img_format"] is None and row["pixels"] is None


def test_bmp8_index_past_biClrUsed_rejected_both_paths(spark):
    """r10 (advice): an index byte >= biClrUsed addresses bytes
    outside the palette — invalid, not silently-garbage."""
    payload = bytearray(_golden_bmp8_2x2()[0])
    payload[46:50] = struct.pack("<I", 3)  # data uses index 3
    payload = bytes(payload)
    with pytest.raises(ValueError, match="palette index"):
        decode_media(payload, "bmp8")
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    row = decode_pixels(media).first()
    assert row["img_format"] is None and row["pixels"] is None


def test_non_image_payloads_null_out(spark):
    media = spark.createDataFrame(
        [(1, b"not an image at all, just bytes")],
        "media_id bigint, payload binary",
    )
    row = decode_pixels(media).first()
    assert row["img_format"] is None and row["pixels"] is None


def _golden_wav():
    """A canonical 8-bit mono PCM WAV built by hand from the RIFF
    spec: 3 samples [16, 128, 240] at 8000 Hz."""
    samples = bytes([16, 128, 240])
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(samples))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + struct.pack("<HH", 1, 1)          # PCM, mono
        + struct.pack("<II", 8000, 8000)    # rate, byte rate
        + struct.pack("<HH", 1, 8)          # align, bits
        + b"data"
        + struct.pack("<I", len(samples))
        + samples
    ), [16, 128, 240]


def test_golden_wav_both_paths(spark):
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_audio,
        decode_samples,
    )

    payload, expected = _golden_wav()
    rate, samples = decode_audio(payload)
    assert (rate, samples) == (8000, expected)
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    row = decode_samples(media).first()
    assert row["audio_format"] == "wav"
    assert (row["sample_rate"], row["n_samples"]) == (8000, 3)
    assert list(row["samples"]) == expected


def test_wav_round_trip_matches_formula_and_python(spark):
    """encode_wav -> real binary -> decode_samples must reproduce the
    closed-form samples; the Python decoder must agree byte-for-byte."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_audio,
        decode_samples,
        synthesize_decodable_audio,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 13)], "doc_id bigint")
    media = synthesize_decodable_audio(docs)
    rows = {
        r["media_id"]: r
        for r in decode_samples(media)
        .join(media.select("media_id", "payload"), "media_id")
        .collect()
    }
    assert len(rows) == 12
    for mid, r in rows.items():
        n, rate = mid % 25 + 4, 8000 + (mid % 4) * 4000
        expect = [(mid * 11 + i * 17) % 256 for i in range(n)]
        assert r["audio_format"] == "wav", mid
        assert (r["sample_rate"], r["n_samples"]) == (rate, n), mid
        assert list(r["samples"]) == expect, mid
        prate, psamples = decode_audio(bytes(r["payload"]))
        assert (prate, psamples) == (rate, expect), mid


def test_wav_unsupported_variants_rejected_both_paths(spark):
    """Stereo / 16-bit / truncated-data WAVs must null out in Spark
    and raise in Python — never silently decode garbage."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_audio,
        decode_samples,
    )

    base, _ = _golden_wav()
    stereo = bytearray(base); stereo[22:24] = struct.pack("<H", 2)
    bits16 = bytearray(base); bits16[34:36] = struct.pack("<H", 16)
    short = bytearray(base); short[40:44] = struct.pack("<I", 99)
    for bad in (bytes(stereo), bytes(bits16), bytes(short)):
        with pytest.raises(ValueError):
            decode_audio(bad)
        row = decode_samples(
            spark.createDataFrame(
                [(1, bad)], "media_id bigint, payload binary"
            )
        ).first()
        assert row["audio_format"] is None and row["samples"] is None


def _golden_y4m():
    """A canonical mono Y4M built by hand: 2x2, 2 frames."""
    f0, f1 = [10, 20, 30, 40], [50, 60, 70, 80]
    payload = (
        b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\n"
        + b"FRAME\n" + bytes(f0)
        + b"FRAME\n" + bytes(f1)
    )
    return payload, [f0, f1]


def test_golden_y4m_both_paths(spark):
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_video,
        decode_y4m_frames,
    )

    payload, expected = _golden_y4m()
    w, h, frames = decode_video(payload)
    assert (w, h, frames) == (2, 2, expected)
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    rows = sorted(
        decode_y4m_frames(media).collect(), key=lambda r: r["frame_idx"]
    )
    assert len(rows) == 2
    for f, r in enumerate(rows):
        assert r["video_format"] == "y4m"
        assert (r["width"], r["height"], r["n_frames"]) == (2, 2, 2)
        assert list(r["luma"]) == expected[f]


def test_y4m_round_trip_matches_formula_and_python(spark):
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_video,
        decode_y4m_frames,
        synthesize_decodable_video,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 13)], "doc_id bigint")
    media = synthesize_decodable_video(docs)
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.select("media_id", "payload").collect()
    }
    got = {}
    for r in decode_y4m_frames(media).collect():
        got.setdefault(r["media_id"], {})[r["frame_idx"]] = r
    assert len(got) == 12
    for mid, frames in got.items():
        w, h, n = mid % 4 + 2, mid % 3 + 2, mid % 5 + 1
        assert sorted(frames) == list(range(n)), mid
        expect_frames = [
            [(mid * 7 + f * 31 + q * 13) % 256 for q in range(w * h)]
            for f in range(n)
        ]
        for f, r in frames.items():
            assert r["video_format"] == "y4m", mid
            assert (r["width"], r["height"], r["n_frames"]) == (w, h, n), mid
            assert list(r["luma"]) == expect_frames[f], (mid, f)
        pw, ph, pframes = decode_video(payloads[mid])
        assert (pw, ph, pframes) == (w, h, expect_frames), mid


def test_y4m_invalid_variants_rejected_both_paths(spark):
    """Subsampled chroma (C420), a corrupt mid-stream FRAME marker,
    and a truncated tail must null out in Spark (one null-frame row)
    and raise in Python."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_video,
        decode_y4m_frames,
    )

    base, _ = _golden_y4m()
    c420 = base.replace(b"Cmono", b"C420")
    corrupt = bytearray(base)
    corrupt[36 + 6 + 4] = ord("X")  # second frame's 'F' -> 'X'
    truncated = base[:-2]
    for bad in (c420, bytes(corrupt), truncated):
        with pytest.raises(ValueError):
            decode_video(bad)
        rows = decode_y4m_frames(
            spark.createDataFrame(
                [(1, bad)], "media_id bigint, payload binary"
            )
        ).collect()
        assert len(rows) == 1
        assert rows[0]["video_format"] is None
        assert rows[0]["frame_idx"] is None and rows[0]["luma"] is None

def test_y4m_long_header_rejected_identically_both_paths(spark):
    """r10 advice: the Spark decoder scans only the first 80 header
    bytes; the Python twin must enforce the SAME cap, so a spec-valid
    mono stream whose parameter tail pushes the header past 80 bytes
    is rejected on BOTH paths rather than silently diverging."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_video,
        decode_y4m_frames,
    )

    f0 = [10, 20, 30, 40]
    long_hdr = (
        b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono "
        b"XYSCSS=YUVMONO XCOLORRANGE=FULL XPADDING=" + b"z" * 40 + b"\n"
    )
    assert len(long_hdr) > 80  # the point of the test
    payload = long_hdr + b"FRAME\n" + bytes(f0)
    with pytest.raises(ValueError):
        decode_video(payload)
    rows = decode_y4m_frames(
        spark.createDataFrame(
            [(1, payload)], "media_id bigint, payload binary"
        )
    ).collect()
    assert len(rows) == 1 and rows[0]["video_format"] is None
    # ...and a short-tail header within the cap still decodes on both
    short_hdr = b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono XYSCSS=YUVMONO\n"
    assert len(short_hdr) <= 80
    ok_payload = short_hdr + b"FRAME\n" + bytes(f0)
    w, h, frames = decode_video(ok_payload)
    assert (w, h, frames) == (2, 2, [f0])
    rows = decode_y4m_frames(
        spark.createDataFrame(
            [(1, ok_payload)], "media_id bigint, payload binary"
        )
    ).collect()
    assert len(rows) == 1 and list(rows[0]["luma"]) == f0


def test_audio_features_single_sample_clip(spark):
    """r10 advice: a valid 1-sample WAV must yield zero_crossings=0,
    not crash the fold (sequence(1, n-1) with n=1 is DESCENDING and
    element_at(s, 0) raises)."""
    import struct as _struct

    from decision_tree_stuff_spark.operators.multimodal import (
        audio_features,
        decode_samples,
    )

    samples = bytes([200])
    payload = (
        b"RIFF"
        + _struct.pack("<I", 36 + len(samples))
        + b"WAVE"
        + b"fmt "
        + _struct.pack("<I", 16)
        + _struct.pack("<HH", 1, 1)
        + _struct.pack("<II", 8000, 8000)
        + _struct.pack("<HH", 1, 8)
        + b"data"
        + _struct.pack("<I", len(samples))
        + samples
    )
    media = spark.createDataFrame(
        [(1, payload)], "media_id bigint, payload binary"
    )
    row = audio_features(decode_samples(media)).first()
    assert row["n_samples"] == 1
    assert row["zero_crossings"] == 0
    assert row["peak"] == 200
    assert row["mean_level"] == 200.0


# --- PNG grayscale-8 / stored-deflate (r11) -------------------------------


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib as _z

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", _z.crc32(tag + data))
    )


def _png_from(raw, w, h, idat_data=None, ctype=0, split_idat=False,
              plte=None, plte_after_idat=False, depth=8):
    """Assemble a PNG from parts with stdlib zlib/struct — independent
    of BOTH the Spark encoder and the Python twin. ``zlib.compress(
    raw, 0)`` emits exactly the stored-block zlib stream the decoders
    support. ``plte`` (r14): raw palette bytes emitted as a PLTE chunk
    before the IDAT (after it with ``plte_after_idat`` — the order the
    walk must ignore). Pass a list of byte strings to emit several
    PLTE chunks."""
    import zlib as _z

    ihdr = _png_chunk(
        b"IHDR",
        struct.pack(">II", w, h) + bytes([depth, ctype, 0, 0, 0]),
    )
    z = idat_data if idat_data is not None else _z.compress(raw, 0)
    if split_idat:
        idat = _png_chunk(b"IDAT", z[:4]) + _png_chunk(b"IDAT", z[4:])
    else:
        idat = _png_chunk(b"IDAT", z)
    plte_bin = b""
    if plte is not None:
        parts = plte if isinstance(plte, list) else [plte]
        plte_bin = b"".join(_png_chunk(b"PLTE", pp) for pp in parts)
    if plte_after_idat:
        body = ihdr + idat + plte_bin
    else:
        body = ihdr + plte_bin + idat
    return b"\x89PNG\r\n\x1a\n" + body + _png_chunk(b"IEND", b"")


def _golden_png_2x2():
    """A 2×2 grayscale-8 PNG whose zlib stream comes straight from
    ``zlib.compress(level=0)`` (a stored block) — external bytes, not
    our encoder. Grays 10/200 (top row), 30/255 (bottom row)."""
    raw = b"\x00" + bytes([10, 200]) + b"\x00" + bytes([30, 255])
    expected_rgb = [10, 10, 10, 200, 200, 200, 30, 30, 30, 255, 255, 255]
    return _png_from(raw, 2, 2), expected_rgb


def test_golden_png_both_paths(spark):
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    payload, expect = _golden_png_2x2()
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id bigint, payload binary"
    )
    r = decode_pixels(df).collect()[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", 2, 2)
    assert list(r["pixels"]) == expect
    assert decode_png(payload) == (2, 2, expect)


def test_decode_stage_ships_decoders_by_value(spark, tmp_path):
    """A Python worker may start where this package is not importable
    (a driver that put it on ``sys.path`` by hand, run from another
    directory). Building the PNG/GIF decode stage makes the decoders
    pickle by value, so they run in an interpreter without it."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    payload, expect = _golden_png_2x2()
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id bigint, payload binary"
    )
    decode_pixels(df, formats=("png",))  # builds, does not run, the stage
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import pickle, sys; f, p = pickle.load(sys.stdin.buffer); "
            "print(f(p))",
        ],
        input=cloudpickle.dumps((decode_png, payload)),
        cwd=tmp_path,
        capture_output=True,
        check=True,
        timeout=60,
    )
    assert out.stdout.decode().strip() == str((2, 2, expect))


def test_png_round_trip_matches_formula_and_python(spark):
    """Spark encode_png → real PNG bytes → Spark decode must reproduce
    the closed-form grays (expanded to RGB); the Python twin must
    agree on the same payload bytes."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id bigint"
    )
    media = synthesize_decodable_media(docs, formats=("png", "png"))
    rows = {
        r["media_id"]: r
        for r in decode_pixels(media)
        .join(media.select("media_id", "payload"), "media_id")
        .collect()
    }
    assert len(rows) == 12
    for mid, r in rows.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        expect = [
            (mid * 7 + (k // 3) * 13) % 256 for k in range(w * h * 3)
        ]
        assert r["img_format"] == "png", mid
        assert (r["width"], r["height"]) == (w, h), mid
        assert list(r["pixels"]) == expect, mid
        assert decode_png(bytes(r["payload"])) == (w, h, expect), mid


def test_png_invalid_variants_rejected_both_paths(spark):
    """Each variant must null out in Spark AND raise in the Python
    twin — the two paths accept and reject identically (the r10
    twin-parity rule). The Huffman-compressed variant is the key one:
    stdlib zlib COULD inflate it, but the twin enforces the same
    stored-block envelope as the expression decoder."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    raw = b"\x00" + bytes([10, 200]) + b"\x00" + bytes([30, 255])
    good = _png_from(raw, 2, 2)

    # layout from the end: IEND [-12:], IDAT CRC [-16:-12]
    bad_idat_crc = bytearray(good)
    bad_idat_crc[-14] ^= 0xFF  # a byte inside IDAT's CRC word
    # corrupt ONLY the Adler-32: flip its last byte inside the zlib
    # stream, then let _png_from recompute a VALID chunk CRC over it
    z = _z.compress(raw, 0)
    bad_adler = _png_from(
        raw, 2, 2, idat_data=z[:-1] + bytes([z[-1] ^ 1])
    )
    compressed = _png_from(raw, 2, 2, idat_data=_z.compress(raw, 9))
    bad_filter = _png_from(
        b"\x01" + raw[1:], 2, 2
    )  # filter 1 (Sub) on row 0, checksums all valid
    two_idat = _png_from(raw, 2, 2, split_idat=True)
    rgb_ctype = _png_from(raw, 2, 2, ctype=2)

    variants = {
        "bad_idat_crc": bytes(bad_idat_crc),
        "bad_adler": bad_adler,
        "compressed": compressed,
        "bad_filter": bad_filter,
        "two_idat": two_idat,
        "rgb_ctype": rgb_ctype,
    }
    df = spark.createDataFrame(
        [(name, bytearray(p)) for name, p in variants.items()],
        "name string, payload binary",
    )
    decoded = {
        r["media_id"]: r
        for r in decode_pixels(
            df.withColumnRenamed("name", "media_id")
        ).collect()
    }
    for name, payload in variants.items():
        assert decoded[name]["img_format"] is None, name
        assert decoded[name]["pixels"] is None, name
        with pytest.raises(ValueError):
            decode_png(payload)
    # and the good payload still decodes after all that
    assert decode_png(good)[0:2] == (2, 2)


def test_resize_nearest_matches_pil_free_reference(spark):
    """Resize vs a pure-Python nearest-neighbor reference over the
    golden 2x2 BMP; upscale and downscale; null rows stay null."""
    from decision_tree_stuff_spark.operators.multimodal import (
        resize_nearest,
    )

    payload, rgb = _golden_bmp_2x2()
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"junk"))],
        "media_id bigint, payload binary",
    )
    decoded = decode_pixels(df)

    def ref(rgb, w, h, ow, oh):
        out = []
        for y in range(oh):
            for x in range(ow):
                sx, sy = x * w // ow, y * h // oh
                base = (sy * w + sx) * 3
                out += rgb[base:base + 3]
        return out

    for ow, oh in ((4, 4), (1, 1), (3, 2)):
        rows = {
            r["media_id"]: r
            for r in resize_nearest(decoded, ow, oh).collect()
        }
        assert list(rows[1]["pixels"]) == ref(rgb, 2, 2, ow, oh), (ow, oh)
        assert rows[2]["pixels"] is None


def test_audio_frames_matches_python_reference(spark):
    """Framing semantics over a real decoded WAV: last frame short,
    floor-div frame count, single short frame for tiny clips; rms
    matches the exact integer math."""
    import math

    from decision_tree_stuff_spark.operators.multimodal import (
        audio_frames,
        decode_samples,
        synthesize_decodable_audio,
    )

    docs = spark.createDataFrame(
        [(i,) for i in (1, 5, 12, 21)], "doc_id bigint"
    )
    decoded = decode_samples(synthesize_decodable_audio(docs))
    got = {
        (r["media_id"], r["frame_idx"]): r
        for r in audio_frames(decoded, frame_len=8, hop=4).collect()
    }
    for mid in (1, 5, 12, 21):
        n = mid % 25 + 4
        samples = [(mid * 11 + i * 17) % 256 for i in range(n)]
        n_frames = (n - 1) // 4 + 1
        assert {
            fi for (m, fi) in got if m == mid
        } == set(range(n_frames)), mid
        for fi in range(n_frames):
            fr = samples[fi * 4 : fi * 4 + 8]
            r = got[(mid, fi)]
            assert r["frame_start"] == fi * 4
            assert r["n_frame_samples"] == len(fr)
            assert r["frame_peak"] == max(fr)
            want_rms = round(
                math.sqrt(sum(v * v for v in fr) / len(fr)), 6
            )
            assert abs(r["frame_rms"] - want_rms) < 1e-9, (mid, fi)


def test_audio_frames_null_rows_pass_through(spark):
    from decision_tree_stuff_spark.operators.multimodal import (
        audio_frames,
        decode_samples,
    )

    media = spark.createDataFrame(
        [(9, bytearray(b"not a wav"))], "media_id bigint, payload binary"
    )
    rows = audio_frames(decode_samples(media)).collect()
    assert len(rows) == 1
    assert rows[0]["frame_idx"] is None
    assert rows[0]["frame_rms"] is None


def test_resize_frames_matches_python_reference(spark):
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_y4m_frames,
        resize_frames_nearest,
        synthesize_decodable_video,
    )

    docs = spark.createDataFrame([(i,) for i in (1, 7, 14)], "doc_id bigint")
    frames = decode_y4m_frames(synthesize_decodable_video(docs))
    got = {
        (r["media_id"], r["frame_idx"]): list(r["luma"])
        for r in resize_frames_nearest(frames, 3, 2).collect()
    }
    for mid in (1, 7, 14):
        w, h, nf = mid % 4 + 2, mid % 3 + 2, mid % 5 + 1
        for f in range(nf):
            src = [(mid * 7 + f * 31 + q * 13) % 256 for q in range(w * h)]
            want = [
                src[(y * h // 2) * w + (x * w // 3)]
                for y in range(2)
                for x in range(3)
            ]
            assert got[(mid, f)] == want, (mid, f)


def test_encode_png_oversize_raises_instead_of_corrupt(spark):
    """r12 advice guard: h*(w+1) > 65535 overflows the 16-bit stored
    block LEN/NLEN fields — the encoder must raise, not emit a
    silently corrupt file; in-range dims keep working. The
    fixed-Huffman encoder shares the guard (its decode path caps the
    raw stream at the same bound). Inside the synthesis stage the
    raise fails the JOB: a bad encoder argument is the caller's own
    error, never a null row."""
    from pyspark.errors.exceptions.captured import PythonException

    from decision_tree_stuff_spark.operators.multimodal import (
        encode_png,
        encode_png_fixed,
        synthesize_payloads,
    )

    for enc in (encode_png, encode_png_fixed):
        assert enc(3, 4, 4)[:8] == b"\x89PNG\r\n\x1a\n"
        # 255 * (256 + 1) = 65535 raw bytes: the largest legal stream
        assert enc(3, 256, 255)[:8] == b"\x89PNG\r\n\x1a\n"
        with pytest.raises(ValueError, match=enc.__name__ + ":"):
            enc(3, 300, 300)

    def frame(dim):
        return spark.range(3).select(
            F.col("id").alias("media_id"),
            F.lit(dim).alias("w"),
            F.lit(dim).alias("h"),
        )

    rows = synthesize_payloads(frame(4), encode_png).collect()
    assert [r["payload"][:8] for r in rows] == [b"\x89PNG\r\n\x1a\n"] * 3
    with pytest.raises(PythonException, match="encode_png:"):
        synthesize_payloads(frame(300), encode_png).collect()


def test_decode_formats_contract(spark):
    """r12: the ``formats`` inventory contract. Every declared set is
    ONE Arrow stage over the input (one MapInArrow, no Union); rows of
    a declared format decode exactly as auto-dispatch does, rows whose
    format is declared out null out, and unknown names raise."""
    import pytest

    from decision_tree_stuff_spark.operators.multimodal import (
        _DECODE_FORMATS,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id bigint")
    # bmp even / ppm odd, rebuilt as local rows so the only Python
    # stage in a plan is the decoder's
    media = spark.createDataFrame(
        synthesize_decodable_media(docs).select("media_id", "payload").collect(),
        "media_id bigint, payload binary",
    )

    def decoded(formats):
        return {
            r["media_id"]: (r["img_format"], r["width"], r["height"],
                            None if r["pixels"] is None else list(r["pixels"]))
            for r in decode_pixels(media, formats=formats).collect()
        }

    auto = decoded(None)
    assert {f for f, *_ in auto.values()} == {"bmp", "ppm"}
    null = (None, None, None, None)
    for formats in (("bmp", "ppm"), ("bmp",), ("ppm",), ("png",),
                    ("png", "ppm"), ("gif", "bmp"), _DECODE_FORMATS, ()):
        plan = decode_pixels(
            media, formats=formats
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, (formats, plan)
        assert "Union" not in plan, formats
        assert decoded(formats) == {
            m: r if r[0] in formats else null for m, r in auto.items()
        }, formats

    # png-only media under a png-only contract decodes
    png_media = synthesize_decodable_media(docs, formats=("png", "png"))
    got = {
        r["media_id"]: r["img_format"]
        for r in decode_pixels(png_media, formats=("png",)).collect()
    }
    assert set(got.values()) == {"png"}

    with pytest.raises(ValueError, match="unknown formats"):
        decode_pixels(media, formats=("bmp", "jpeg2000"))


def test_truncated_uncompressed_images_null_out(spark):
    """A payload too short for its header's w×h pixels is rejected by
    ``decode_media`` and nulls out in Spark — not a short pixel list in
    Python and a full-length array with null holes in Spark. A PPM/PGM
    header must end within ``_PNM_HEADER_CAP`` (32) bytes on both."""
    from decision_tree_stuff_spark.operators import multimodal as mm
    from decision_tree_stuff_spark.operators.multimodal import (
        encode_bmp,
        encode_pgm,
        encode_ppm,
    )

    whole = {
        "ppm": encode_ppm(3, 4, 3),
        "pgm": encode_pgm(3, 4, 3),
        "bmp": encode_bmp(3, 4, 3),
    }
    cut = {f: p[:-5] for f, p in whole.items()}
    for f, p in cut.items():
        with pytest.raises(ValueError, match="truncated"):
            decode_media(p, f)
    assert mm._PNM_HEADER_CAP == 32
    head = b"P6\n%s 3\n255\n"
    at_cap = head % b"4".rjust(22, b"0") + bytes(36)
    past_cap = head % b"4".rjust(23, b"0") + bytes(36)
    assert (len(at_cap) - 36, len(past_cap) - 36) == (32, 33)
    assert decode_media(at_cap, "ppm") == (4, 3, [0] * 36)
    with pytest.raises(ValueError, match="header"):
        decode_media(past_cap, "ppm")
    payloads = [*whole.values(), *cut.values(), at_cap, past_cap]
    media = spark.createDataFrame(
        list(enumerate(payloads)), "media_id bigint, payload binary"
    )
    got = {
        r["media_id"]: (r["img_format"], r["width"], r["pixels"])
        for r in decode_pixels(media).collect()
    }
    assert [got[i][0] for i in range(len(payloads))] == [
        "ppm", "pgm", "bmp", None, None, None, "ppm", None
    ]
    assert all(got[i] == (None, None, None) for i in (3, 4, 5, 7))


# --- fixed-Huffman deflate PNG (r12) ------------------------------------


def _fh_compress(data: bytes, refs=None) -> bytes:
    """Tiny fixed-Huffman deflate COMPRESSOR for test fixtures: one
    final BTYPE=01 block. ``refs`` optionally replaces byte ranges
    with (length, distance) back-references: a list of (pos, length,
    dist) meaning "at output position pos, copy length bytes from
    dist back" — the bytes at data[pos:pos+length] must equal that
    copy, which the caller guarantees by construction. Validated
    externally in the tests via zlib.decompress."""
    from decision_tree_stuff_spark.operators.multimodal import (
        _FH_DIST_BASE,
        _FH_DIST_EXTRA,
        _FH_LEN_BASE,
        _FH_LEN_EXTRA,
    )

    bits = []

    def put_code(v, n):  # MSB-first
        for i in range(n - 1, -1, -1):
            bits.append((v >> i) & 1)

    def put_val(v, n):  # LSB-first extra bits
        for i in range(n):
            bits.append((v >> i) & 1)

    def put_lit(b):
        if b <= 143:
            put_code(b + 0x30, 8)
        else:
            put_code(b + 0x100, 9)

    bits.extend([1, 1, 0])  # BFINAL=1, BTYPE=01
    refs = sorted(refs or [])
    pos = 0
    for rpos, rlen, rdist in refs:
        while pos < rpos:
            put_lit(data[pos])
            pos += 1
        li = max(i for i, b in enumerate(_FH_LEN_BASE) if b <= rlen)
        assert _FH_LEN_BASE[li] + (
            (1 << _FH_LEN_EXTRA[li]) - 1
        ) >= rlen, "length not encodable at this base"
        put_code((257 + li) - 256, 7) if 257 + li <= 279 else put_code(
            (257 + li) - 280 + 0xC0, 8
        )
        put_val(rlen - _FH_LEN_BASE[li], _FH_LEN_EXTRA[li])
        di = max(i for i, b in enumerate(_FH_DIST_BASE) if b <= rdist)
        put_code(di, 5)
        put_val(rdist - _FH_DIST_BASE[di], _FH_DIST_EXTRA[di])
        pos += rlen
    while pos < len(data):
        put_lit(data[pos])
        pos += 1
    put_code(0, 7)  # EOB
    out = bytearray()
    for k in range(0, len(bits), 8):
        byte = 0
        for i, b in enumerate(bits[k:k + 8]):
            byte |= b << i
        out.append(byte)
    return bytes(out)


def _fh_zlib(raw: bytes, refs=None) -> bytes:
    import zlib as _z

    body = _fh_compress(raw, refs)
    return b"\x78\x01" + body + _z.adler32(raw).to_bytes(4, "big")


def test_fixed_huffman_literals_both_paths(spark):
    """Handcrafted FH stream (literals only): stdlib zlib must accept
    it (external validation), then Spark and the Python twin must
    decode the wrapped PNG identically."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    raw = b"\x00" + bytes([10, 200]) + b"\x00" + bytes([30, 255])
    z = _fh_zlib(raw)
    assert _z.decompress(z) == raw  # external validation
    payload = _png_from(raw, 2, 2, idat_data=z)
    df = spark.createDataFrame(
        [("fh", bytearray(payload))], "media_id string, payload binary"
    )
    r = decode_pixels(df, png_fixed_huffman=True).collect()[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", 2, 2)
    expect = [10, 10, 10, 200, 200, 200, 30, 30, 30, 255, 255, 255]
    assert list(r["pixels"]) == expect
    assert decode_png(payload, fixed_huffman=True) == (2, 2, expect)

    # opt-in contract: without the flag the same payload nulls out /
    # raises (FH is not silently on)
    r0 = decode_pixels(df).collect()[0]
    assert r0["img_format"] is None
    import pytest

    with pytest.raises(ValueError):
        decode_png(payload)


def test_fixed_huffman_backrefs_and_overlap_both_paths(spark):
    """FH stream with a plain back-reference AND an overlapping one
    (dist < len — the cyclic-copy case). zlib validates the fixture;
    Spark and Python twins must agree."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    w, h = 6, 3
    # rows crafted so row 2 repeats row 1 (a dist=w+1=7 backref over
    # 7 bytes) and row 3 is a repeating 2-byte pattern (overlap:
    # dist=2, len=4 after seeding 2 literals)
    row1 = bytes([7, 9, 7, 9, 7, 9])
    row3 = bytes([5, 6, 5, 6, 5, 6])
    raw = (b"\x00" + row1) * 2 + b"\x00" + row3
    assert len(raw) == h * (w + 1)
    refs = [
        (7, 7, 7),    # row 2 (incl. filter byte) copies row 1
        (17, 4, 2),   # overlapping copy inside row 3
    ]
    z = _fh_zlib(raw, refs)
    assert _z.decompress(z) == raw
    payload = _png_from(raw, w, h, idat_data=z)
    df = spark.createDataFrame(
        [("fh2", bytearray(payload))], "media_id string, payload binary"
    )
    r = decode_pixels(df, png_fixed_huffman=True).collect()[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", w, h)
    grays = [b for row in (row1, row1, row3) for b in row]
    expect = [g for g in grays for _ in range(3)]
    assert list(r["pixels"]) == expect
    assert decode_png(payload, fixed_huffman=True) == (w, h, expect)


def test_fixed_huffman_rejections_both_paths(spark):
    """Dynamic-Huffman (BTYPE=10) and out-of-window distances must
    null in Spark and raise in Python, flag on or off."""
    import pytest

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    import zlib as _z

    # dynamic-huffman stream via zlib level 9 on a big varied image
    # (tiny inputs get fixed/stored blocks; this one reliably BTYPE=10)
    dw, dh = 10, 9
    draw = bytes((i * i % 13) + (i % 3) for i in range(dh * (dw + 1)))
    zdyn = _z.compress(draw, 9)
    assert (zdyn[2] >> 1) & 3 == 2, "fixture no longer dynamic-Huffman"
    p_dyn = _png_from(draw, dw, dh, idat_data=zdyn)

    raw = b"\x00" + bytes([10, 200]) + b"\x00" + bytes([30, 255])

    # FH stream with a distance pointing beyond the decoded window
    bits = [1, 1, 0]
    v = 0x30 + raw[0]
    bits += [(v >> i) & 1 for i in range(7, -1, -1)]   # one literal
    bits += [0, 0, 0, 0, 1, 1, 1]                      # len code 260 (len 6)
    bits += [0, 0, 1, 0, 0]                            # dist code 4 -> base 5
    bits += [0]                                        # 1 extra bit
    bits += [0] * 7                                    # EOB
    body = bytearray()
    for k in range(0, len(bits), 8):
        byte = 0
        for i, b in enumerate(bits[k:k + 8]):
            byte |= b << i
        body.append(byte)
    zbad = b"\x78\x01" + bytes(body) + _z.adler32(raw).to_bytes(4, "big")
    p_bad = _png_from(raw, 2, 2, idat_data=zbad)

    df = spark.createDataFrame(
        [("dyn", bytearray(p_dyn)), ("baddist", bytearray(p_bad))],
        "media_id string, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in decode_pixels(df, png_fixed_huffman=True).collect()
    }
    assert rows["dyn"]["img_format"] is None
    assert rows["baddist"]["img_format"] is None
    for p in (p_dyn, p_bad):
        with pytest.raises(ValueError):
            decode_png(p, fixed_huffman=True)
        with pytest.raises(ValueError):
            decode_png(p)


def test_encode_png_fixed_round_trip_and_external_zlib(spark):
    """Spark encode_png_fixed → (a) stdlib zlib must inflate its
    stream byte-for-byte (external validation), (b) Spark FH decode
    and the Python twin must reproduce the closed-form grays."""
    import struct as _struct
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import (
        decode_png,
        synthesize_decodable_media,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 11)], "doc_id bigint"
    )
    media = synthesize_decodable_media(docs, formats=("pngf", "pngf"))
    rows = {
        r["media_id"]: bytes(r["payload"])
        for r in media.select("media_id", "payload").collect()
    }
    assert len(rows) == 10
    for mid, payload in rows.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        # external: IDAT's zlib stream inflates to the scanlines
        clen = _struct.unpack(">I", payload[33:37])[0]
        assert payload[37:41] == b"IDAT"
        z = payload[41:41 + clen]
        raw = _z.decompress(z)
        assert len(raw) == h * (w + 1)
        expect = [
            (mid * 7 + (k // 3) * 13) % 256 for k in range(w * h * 3)
        ]
        assert decode_png(payload, fixed_huffman=True) == (w, h, expect)
    decoded = {
        r["media_id"]: r
        for r in decode_pixels(media, png_fixed_huffman=True).collect()
    }
    for mid, r in decoded.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        expect = [
            (mid * 7 + (k // 3) * 13) % 256 for k in range(w * h * 3)
        ]
        assert r["img_format"] == "png", mid
        assert (r["width"], r["height"]) == (w, h), mid
        assert list(r["pixels"]) == expect, mid


# --- dynamic-Huffman deflate PNG (r13) ------------------------------------


def _dh_bits_to_bytes(bits):
    out = bytearray()
    for k in range(0, len(bits), 8):
        byte = 0
        for i, b in enumerate(bits[k:k + 8]):
            byte |= b << i
        out.append(byte)
    return bytes(out)


def _dh_compress_rich(data: bytes, refs=None) -> bytes:
    """Dynamic-Huffman fixture compressor with NON-TRIVIAL tables
    (a different structure from both zlib's and encode_png_dyn's —
    length codes present, 2-bit distance codes, a 2-level CL code):
    lit/len lengths = 9 for bytes 0..255, 3 for EOB(256)/257(len 3)/
    258(len 4)/259(unused filler completing Kraft: 0.5 + 4/8 = 1 —
    zlib REJECTS incomplete lit/len sets); dist lengths = 2 for syms
    0..3 (dists 1..4, complete). Canonical: EOB=000, 257=001,
    258=010, 259=011, literal b = 9 bits of 256+b, dist d-1 = 2
    bits. CL code: {9:len1->0, 2:len2->10, 3:len2->11}; HLIT=3,
    HDIST=3, HCLEN=12. ``refs`` = (pos, length in {3,4}, dist in
    1..4). Validated externally via zlib.decompress."""
    bits = [1, 0, 1]                 # BFINAL=1, BTYPE=10
    bits += [(3 >> s) & 1 for s in range(5)]    # HLIT = 3 (260 codes)
    bits += [(3 >> s) & 1 for s in range(5)]    # HDIST = 3 (4 codes)
    bits += [(12 >> s) & 1 for s in range(4)]   # HCLEN = 12 (16 entries)
    from decision_tree_stuff_spark.operators.multimodal import _DH_CL_ORDER

    cl_len = {9: 1, 3: 2, 2: 2}
    for i in range(16):
        v = cl_len.get(_DH_CL_ORDER[i], 0)
        bits += [(v >> s) & 1 for s in range(3)]
    # CL symbols: 256x"9" + 4x"3" (256..259) + 4x"2" (dists)
    cl_code = {9: [0], 2: [1, 0], 3: [1, 1]}
    for _ in range(256):
        bits += cl_code[9]
    bits += cl_code[3] * 4
    bits += cl_code[2] * 4

    def put_lit(b):
        v = 256 + b
        bits.extend((v >> s) & 1 for s in range(8, -1, -1))

    refs = sorted(refs or [])
    pos = 0
    for rpos, rlen, rdist in refs:
        assert rlen in (3, 4) and 1 <= rdist <= 4
        while pos < rpos:
            put_lit(data[pos])
            pos += 1
        bits += [0, 0, 1] if rlen == 3 else [0, 1, 0]  # 257 / 258
        bits += [((rdist - 1) >> s) & 1 for s in (1, 0)]  # 2-bit dist
        pos += rlen
    while pos < len(data):
        put_lit(data[pos])
        pos += 1
    bits += [0, 0, 0]  # EOB
    return _dh_bits_to_bytes(bits)


def _dh_zlib_wrap(raw: bytes, body: bytes) -> bytes:
    import zlib as _z

    return b"\x78\x01" + body + _z.adler32(raw).to_bytes(4, "big")


def test_dynamic_huffman_zlib_streams_both_paths(spark):
    """REAL zlib-emitted BTYPE=10 streams (level 9 on varied images —
    zlib's own tables, its own back-references): Spark and the Python
    twin must decode the wrapped PNGs to the closed-form grays; the
    flag-off paths must reject."""
    import pytest
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    cases = []
    for (w, h, fn) in [
        (24, 12, lambda i: (i * 7 + (i // 24) * 13) % 97 + 10),
        (10, 9, lambda i: (i * i % 13) + (i % 3)),
        (16, 9, lambda i: (i * i % 17) + (i % 5)),
    ]:
        grays = [fn(k) for k in range(w * h)]
        raw = b"".join(
            b"\x00" + bytes(grays[r * w:(r + 1) * w]) for r in range(h)
        )
        z = _z.compress(raw, 9)
        assert (z[2] >> 1) & 3 == 2, "fixture no longer dynamic"
        cases.append((w, h, grays, _png_from(raw, w, h, idat_data=z)))

    df = spark.createDataFrame(
        [(str(i), bytearray(p)) for i, (_, _, _, p) in enumerate(cases)],
        "media_id string, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in decode_pixels(df, png_dynamic_huffman=True).collect()
    }
    for i, (w, h, grays, payload) in enumerate(cases):
        r = rows[str(i)]
        expect = [g for g in grays for _ in range(3)]
        assert (r["img_format"], r["width"], r["height"]) == ("png", w, h)
        assert list(r["pixels"]) == expect
        assert decode_png(payload, dynamic_huffman=True) == (w, h, expect)
        with pytest.raises(ValueError):
            decode_png(payload)  # flag-off twin rejects
    off = decode_pixels(df).collect()
    assert all(r["img_format"] is None for r in off)


def test_dynamic_huffman_custom_tables_backrefs_overlap(spark):
    """Handcrafted BTYPE=10 stream with tables unlike zlib's or the
    repo encoder's (incomplete lit/len code, 2-bit dist code), a
    plain back-reference and an OVERLAPPING one (dist 2 < len 4 —
    the cyclic-copy case). zlib validates the fixture; Spark and the
    Python twin must agree."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    w, h = 9, 2
    row1 = bytes([3, 4, 5, 6, 3, 4, 5, 6, 3])   # 4-periodic
    row2 = bytes([8, 9, 8, 9, 8, 9, 8, 9, 8])   # 2-periodic
    raw = b"\x00" + row1 + b"\x00" + row2
    assert len(raw) == h * (w + 1)
    # a ref (pos, len, dist) is valid iff raw[pos+j] == raw[pos+j-dist]
    # cyclically for j < len (byte-by-byte copy semantics)
    def ref_ok(pos, ln, dist):
        return pos + ln <= len(raw) and dist <= pos and all(
            raw[pos + j] == raw[pos + j - dist] for j in range(ln)
        )

    # (5,4,4): plain dist-4 copy inside row1; (13,4,2): OVERLAP
    # (dist 2 < len 4, the cyclic case) inside row2
    refs = [r for r in [(5, 4, 4), (13, 4, 2)] if ref_ok(*r)]
    assert len(refs) == 2, refs
    assert refs, "no valid refs in fixture"
    body = _dh_compress_rich(raw, refs)
    z = _dh_zlib_wrap(raw, body)
    assert _z.decompress(z) == raw  # external validation
    payload = _png_from(raw, w, h, idat_data=z)
    df = spark.createDataFrame(
        [("dh", bytearray(payload))], "media_id string, payload binary"
    )
    r = decode_pixels(df, png_dynamic_huffman=True).collect()[0]
    grays = [b for row in (row1, row2) for b in row]
    expect = [g for g in grays for _ in range(3)]
    assert (r["img_format"], r["width"], r["height"]) == ("png", w, h)
    assert list(r["pixels"]) == expect
    assert decode_png(payload, dynamic_huffman=True) == (w, h, expect)


def test_dynamic_huffman_rejections_both_paths(spark):
    """Malformed BTYPE=10 headers/streams must null in Spark and
    raise in the Python twin: over-subscribed code-length code,
    repeat-16 with no previous length, repeat overshooting the
    length count, a lit/len code with no EOB, and a distance beyond
    the decoded window."""
    import pytest
    import zlib as _z  # noqa: F401

    from decision_tree_stuff_spark.operators.multimodal import (
        _DH_CL_ORDER,
        decode_png,
    )

    raw = b"\x00" + bytes([10, 200]) + b"\x00" + bytes([30, 255])

    def hdr_bits(hlit, hdist, cl_len_map, n_entries=15):
        bits = [1, 0, 1]
        bits += [(hlit >> s) & 1 for s in range(5)]
        bits += [(hdist >> s) & 1 for s in range(5)]
        hclen = n_entries - 4
        bits += [(hclen >> s) & 1 for s in range(4)]
        for i in range(n_entries):
            v = cl_len_map.get(_DH_CL_ORDER[i], 0)
            bits += [(v >> s) & 1 for s in range(3)]
        return bits

    variants = {}

    # (a) over-subscribed CL code: three syms of length 1 (Kraft 1.5)
    variants["oversub_cl"] = hdr_bits(0, 0, {9: 1, 3: 1, 2: 1}, 16)

    # (b) repeat-16 as the FIRST code-length symbol: CL code {16:1,
    # 9:1} - canonical: 9->0, 16->1; first symbol = 16 (bit 1) + its
    # 2 extra bits
    variants["rep_no_prev"] = hdr_bits(0, 0, {16: 1, 9: 1}) + [1, 0, 0]

    # (c) overshoot: HLIT=0/HDIST=0 -> target 258; CL {18:1, 9:1}
    # canonical: 9->0, 18->1; emit "9" x257 then 18 with rep 11 -> 268
    variants["overshoot"] = (
        hdr_bits(0, 0, {18: 1, 9: 1})
        + [0] * 257
        + [1] + [0] * 7  # sym 18, 7 extra bits = 0 -> 11 zeros
    )

    # (d) no EOB: CL {8:1, 18:1} canonical 8->0, 18->1; HLIT=0
    # HDIST=31 -> target 289: 256 x "8" then 18 with rep 11+22=33
    # zeros (EOB length 0, all dist lengths 0)
    variants["no_eob"] = (
        hdr_bits(0, 31, {8: 1, 18: 1})
        + [0] * 256
        + [1] + [(22 >> s) & 1 for s in range(7)]
    )

    # (e) distance beyond the decoded window, rich fixture tables:
    # one literal (192+10, 9 bits MSB-first), then len-257 (code 001,
    # length 3) with dist sym 3 (code 11 -> dist 4) against a 1-byte
    # window, then EOB (000)
    rich_hdr = hdr_bits(2, 3, {9: 1, 3: 2, 2: 2}, 16)
    cl_code = {9: [0], 2: [1, 0], 3: [1, 1]}
    rich_hdr += cl_code[9] * 256 + cl_code[3] * 3 + cl_code[2] * 4
    lit10 = [((192 + 10) >> s) & 1 for s in range(8, -1, -1)]
    variants["bad_dist"] = rich_hdr + lit10 + [0, 0, 1] + [1, 1] + [0, 0, 0]

    payloads = {}
    for name, bits in variants.items():
        body = _dh_bits_to_bytes(bits + [0] * 64)  # pad garbage tail
        payloads[name] = _png_from(
            raw, 2, 2, idat_data=_dh_zlib_wrap(raw, body)
        )

    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "media_id string, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in decode_pixels(df, png_dynamic_huffman=True).collect()
    }
    for name in payloads:
        assert rows[name]["img_format"] is None, name
        with pytest.raises(ValueError):
            decode_png(payloads[name], dynamic_huffman=True)


def test_encode_png_dyn_round_trip_and_external_zlib(spark):
    """Spark encode_png_dyn -> (a) stdlib zlib must inflate its
    stream byte-for-byte (external validation), (b) Spark DH decode
    and the Python twin must reproduce the closed-form grays, (c) the
    default decode (flag off) must null out (opt-in contract)."""
    import struct as _struct
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import (
        decode_png,
        synthesize_decodable_media,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 11)], "doc_id bigint"
    )
    media = synthesize_decodable_media(docs, formats=("pngd", "pngd"))
    rows = {
        r["media_id"]: bytes(r["payload"])
        for r in media.select("media_id", "payload").collect()
    }
    assert len(rows) == 10
    for mid, payload in rows.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        clen = _struct.unpack(">I", payload[33:37])[0]
        assert payload[37:41] == b"IDAT"
        z = payload[41:41 + clen]
        assert (z[2] >> 1) & 3 == 2  # really BTYPE=10
        raw = _z.decompress(z)      # external validation
        assert len(raw) == h * (w + 1)
        expect = [
            (mid * 7 + (k // 3) * 13) % 256 for k in range(w * h * 3)
        ]
        assert decode_png(payload, dynamic_huffman=True) == (w, h, expect)
        with pytest.raises(ValueError):
            decode_png(payload)
    decoded = {
        r["media_id"]: r
        for r in decode_pixels(
            media, formats=("png",), png_dynamic_huffman=True
        ).collect()
    }
    for mid in rows:
        w, h = mid % 5 + 2, mid % 4 + 2
        r = decoded[mid]
        expect = [
            (mid * 7 + (k // 3) * 13) % 256 for k in range(w * h * 3)
        ]
        assert (r["img_format"], r["width"], r["height"]) == ("png", w, h)
        assert list(r["pixels"]) == expect
    off = decode_pixels(media, formats=("png",)).collect()
    assert all(r["img_format"] is None for r in off)


# --- RGB (color-type-2) PNG (r13) -----------------------------------------


def test_png_rgb_round_trip_all_paths(spark):
    """RGB PNGs through BOTH deflate paths in one plan (stored on
    even ids, dynamic-Huffman on odd): flat RGB byte k is
    (mid*7 + k*13) % 256 — the 3w+1 stride, per-row filter bytes and
    the deflate layer must all be right; the Python twin agrees; the
    IDAT streams are stdlib-zlib-valid (external validation)."""
    import struct as _struct
    import zlib as _z

    from pyspark.sql import functions as F

    from decision_tree_stuff_spark.operators.multimodal import (
        decode_png,
        synthesize_decodable_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id bigint")
    media = synthesize_decodable_media(docs, formats=("pngc", "pngdc"))
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.select("media_id", "payload").collect()
    }
    for mid, pay in payloads.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        clen = _struct.unpack(">I", pay[33:37])[0]
        z = pay[41:41 + clen]
        raw = _z.decompress(z)  # external validation
        assert len(raw) == h * (w * 3 + 1), mid
        assert pay[25] == 2  # color type 2 in IHDR
        expect = [(mid * 7 + k * 13) % 256 for k in range(w * h * 3)]
        assert decode_png(pay, dynamic_huffman=True) == (w, h, expect), mid

    decoded = {
        r["media_id"]: r
        for r in decode_pixels(
            media, formats=("png",), png_dynamic_huffman=True
        ).collect()
    }
    for mid in payloads:
        w, h = mid % 5 + 2, mid % 4 + 2
        expect = [(mid * 7 + k * 13) % 256 for k in range(w * h * 3)]
        r = decoded[mid]
        assert (r["img_format"], r["width"], r["height"]) == ("png", w, h)
        assert list(r["pixels"]) == expect, mid

    # stored-RGB rows decode even WITHOUT the DH flag (the stored
    # walk is always on); dynamic-RGB rows then null out
    off = {r["media_id"]: r["img_format"]
           for r in decode_pixels(media, formats=("png",)).collect()}
    assert {f for m, f in off.items() if m % 2 == 0} == {"png"}
    assert {f for m, f in off.items() if m % 2 == 1} == {None}


def test_png_palette_and_16bit_reject_both_paths(spark):
    """Color types/depths outside the 8-bit non-palette matrix
    {0, 2, 4, 6} null in Spark and raise in Python — paletted (3)
    and 16-bit RGB pinned (r14: RGBA and gray+alpha moved from this
    rejection set to full decode support; see
    test_png_alpha_color_types_both_paths)."""
    import struct as _struct
    import zlib as _z

    import pytest

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    def chunk(tag, data):
        td = tag + data
        return (_struct.pack(">I", len(data)) + td
                + _struct.pack(">I", _z.crc32(td)))

    def png(w, h, depth, ctype, raw):
        comp = (b"\x78\x01" + b"\x01"
                + _struct.pack("<HH", len(raw), 65535 - len(raw)) + raw
                + _z.adler32(raw).to_bytes(4, "big"))
        ihdr = chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, depth,
                                           ctype, 0, 0, 0))
        return (b"\x89PNG\r\n\x1a\n" + ihdr + chunk(b"IDAT", comp)
                + chunk(b"IEND", b""))

    w, h = 2, 2
    pal_raw = b"".join(b"\x00" + bytes(range(w)) for _ in range(h))
    p_pal = png(w, h, 8, 3, pal_raw)  # paletted (needs PLTE — unsupported)
    rgb16_raw = b"".join(b"\x00" + bytes(range(w * 6)) for _ in range(h))
    p_16 = png(w, h, 16, 2, rgb16_raw)

    df = spark.createDataFrame(
        [("pal", bytearray(p_pal)), ("d16", bytearray(p_16))],
        "media_id string, payload binary",
    )
    rows = decode_pixels(df, formats=("png",),
                         png_dynamic_huffman=True).collect()
    assert all(r["img_format"] is None for r in rows)
    for p in (p_pal, p_16):
        with pytest.raises(ValueError):
            decode_png(p, dynamic_huffman=True)


def test_png_alpha_color_types_both_paths(spark):
    """r14: gray+alpha (4) and RGBA (6) decode across stored and
    DH+filtered envelopes — alpha bytes ride the stride and the
    filter reconstruction, then drop from the flat-RGB output. Hand
    fixture pins the channel mapping independent of the encoders;
    round trips pin the closed form; the twin agrees."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import (
        decode_png,
    )

    # hand fixture: 2x1 RGBA stored, known bytes — alpha 9/250 dropped
    raw = b"\x00" + bytes([10, 20, 30, 9, 40, 50, 60, 250])
    payload = _png_from(raw, 2, 1, idat_data=_z.compress(raw, 0), ctype=6)
    df = spark.createDataFrame(
        [("1", bytearray(payload))], "media_id string, payload binary"
    )
    r = decode_pixels(df, formats=("png",)).collect()[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", 2, 1)
    assert list(r["pixels"]) == [10, 20, 30, 40, 50, 60]
    assert decode_png(payload) == (2, 1, [10, 20, 30, 40, 50, 60])

    # hand fixture: 2x1 gray+alpha — gray expands, alpha drops
    raw_ga = b"\x00" + bytes([77, 5, 200, 255])
    p_ga = _png_from(
        raw_ga, 2, 1, idat_data=_z.compress(raw_ga, 0), ctype=4
    )
    df = spark.createDataFrame(
        [("1", bytearray(p_ga))], "media_id string, payload binary"
    )
    r = decode_pixels(df, formats=("png",)).collect()[0]
    assert list(r["pixels"]) == [77, 77, 77, 200, 200, 200]
    assert decode_png(p_ga) == (2, 1, [77, 77, 77, 200, 200, 200])

    # round trips: stored gray+alpha / stored RGBA / DH filtered RGBA
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id bigint"
    )
    for fmts, bpps in [
        (("pngga", "pnga"), (2, 4)),
        (("pnga", "pngdflta"), (4, 4)),
    ]:
        media = synthesize_decodable_media(docs, formats=fmts)
        rows = {
            r["media_id"]: r
            for r in decode_pixels(
                media,
                formats=("png",),
                png_dynamic_huffman=True,
                png_filters=True,
            )
            .join(media.select("media_id", "payload"), "media_id")
            .collect()
        }
        assert len(rows) == 12
        for mid, r in rows.items():
            w, h = mid % 5 + 2, mid % 4 + 2
            bpp = bpps[mid % 2]
            if bpp == 2:
                expect = [
                    (mid * 7 + (k // 3) * 2 * 13) % 256
                    for k in range(w * h * 3)
                ]
            else:
                expect = [
                    (mid * 7 + ((k // 3) * 4 + k % 3) * 13) % 256
                    for k in range(w * h * 3)
                ]
            assert (r["img_format"], r["width"], r["height"]) == (
                "png", w, h,
            ), (fmts, mid)
            assert list(r["pixels"]) == expect, (fmts, mid)
            assert decode_png(
                bytes(r["payload"]), dynamic_huffman=True, filters=True
            ) == (w, h, expect), (fmts, mid)


# ------------------------------------------------------------- r14 —
# scanline filters 1-4 (Sub / Up / Average / Paeth reconstruction)


def _filter_scanlines(pixels, w, h, bpp, ftypes):
    """Independent reference FILTERING (RFC 2083 §6, written forward
    from the spec — not from the Spark encoder or the Python twin):
    ``pixels`` is the flat reconstructed byte list (h*w*bpp, top-down
    row-major), ``ftypes[r]`` the per-row filter type. Returns the
    raw scanline stream (filter byte + filtered data per row) whose
    reconstruction is ``pixels``."""
    stride = w * bpp
    out = bytearray()
    for r in range(h):
        ft = ftypes[r]
        out.append(ft)
        for x in range(stride):
            i = r * stride + x
            a = pixels[i - bpp] if x >= bpp else 0
            b = pixels[i - stride] if r > 0 else 0
            c = (
                pixels[i - stride - bpp]
                if (r > 0 and x >= bpp)
                else 0
            )
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = (
                    a
                    if (pa <= pb and pa <= pc)
                    else (b if pb <= pc else c)
                )
            out.append((pixels[i] - pred) % 256)
    return bytes(out)


def test_png_filters_each_type_both_paths(spark):
    """One stored-envelope PNG per filter type 1-4 (every scanline
    the same type — isolates each reconstruction rule), gray AND
    RGB: Spark with ``png_filters`` and the Python twin must
    reconstruct the reference pixels; with the flag OFF both paths
    must reject (non-zero filter bytes)."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    cases = []
    for ft in (1, 2, 3, 4):
        w, h = 4, 3
        grays = [(ft * 37 + i * 29) % 256 for i in range(w * h)]
        raw = _filter_scanlines(grays, w, h, 1, [ft] * h)
        cases.append(
            (w, h, [g for g in grays for _ in range(3)],
             _png_from(raw, w, h, idat_data=_z.compress(raw, 0)))
        )
        rgb = [(ft * 53 + i * 31) % 256 for i in range(w * h * 3)]
        raw_c = _filter_scanlines(rgb, w, h, 3, [ft] * h)
        cases.append(
            (w, h, rgb,
             _png_from(raw_c, w, h, idat_data=_z.compress(raw_c, 0),
                       ctype=2))
        )
    df = spark.createDataFrame(
        [(str(i), bytearray(p)) for i, (_, _, _, p) in enumerate(cases)],
        "media_id string, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in decode_pixels(df, png_filters=True).collect()
    }
    for i, (w, h, expect, payload) in enumerate(cases):
        r = rows[str(i)]
        assert (r["img_format"], r["width"], r["height"]) == (
            "png", w, h,
        ), i
        assert list(r["pixels"]) == expect, i
        assert decode_png(payload, filters=True) == (w, h, expect), i
        with pytest.raises(ValueError, match="filter"):
            decode_png(payload)  # flag-off twin rejects
    off = decode_pixels(df).collect()
    assert all(r["img_format"] is None for r in off)


def test_png_filters_zlib_dynamic_streams_both_paths(spark):
    """REAL zlib level-9 BTYPE=10 streams over FILTERED scanlines
    with per-row adaptive filter types — the exact shape libpng
    emits (adaptive filtering + dynamic Huffman). Gray and RGB."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    cases = []
    # fixture note: filtered output is higher-entropy than the raw
    # scanlines, so zlib only reaches for dynamic tables on larger /
    # more skewed inputs than the r13 unfiltered fixtures needed —
    # the btype asserts pin that the fixtures stay BTYPE=10.
    w, h = 96, 40
    grays = [(i * 7 + (i // w) * 13) % 37 + 10 for i in range(w * h)]
    raw = _filter_scanlines(grays, w, h, 1, [r % 5 for r in range(h)])
    z = _z.compress(raw, 9)
    assert (z[2] >> 1) & 3 == 2, "fixture no longer dynamic"
    cases.append(
        (w, h, [g for g in grays for _ in range(3)],
         _png_from(raw, w, h, idat_data=z))
    )
    w2, h2 = 32, 20
    rgb = [(i * 7 + (i // 96) * 13) % 37 + 10 for i in range(w2 * h2 * 3)]
    raw_c = _filter_scanlines(
        rgb, w2, h2, 3, [(r * 2 + 1) % 5 for r in range(h2)]
    )
    z2 = _z.compress(raw_c, 9)
    assert (z2[2] >> 1) & 3 == 2, "fixture no longer dynamic"
    cases.append(
        (w2, h2, rgb, _png_from(raw_c, w2, h2, idat_data=z2, ctype=2))
    )
    df = spark.createDataFrame(
        [(str(i), bytearray(p)) for i, (_, _, _, p) in enumerate(cases)],
        "media_id string, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in decode_pixels(
            df, png_dynamic_huffman=True, png_filters=True
        ).collect()
    }
    for i, (wi, hi, expect, payload) in enumerate(cases):
        r = rows[str(i)]
        assert (r["img_format"], r["width"], r["height"]) == (
            "png", wi, hi,
        ), i
        assert list(r["pixels"]) == expect, i
        assert decode_png(
            payload, dynamic_huffman=True, filters=True
        ) == (wi, hi, expect), i
        # filters alone (no DH flag) must still reject the DH stream
        with pytest.raises(ValueError):
            decode_png(payload, filters=True)
    no_dh = decode_pixels(df, png_filters=True).collect()
    assert all(r["img_format"] is None for r in no_dh)


def test_png_filters_fixed_huffman_envelope_both_paths(spark):
    """Filtered scanlines under the FIXED-Huffman envelope — the
    third deflate envelope sharing the one staged reconstruction
    fold. Fixture via the test FH compressor, zlib-validated."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    w, h = 6, 5
    grays = [(i * 19 + 3) % 256 for i in range(w * h)]
    raw = _filter_scanlines(grays, w, h, 1, [r % 5 for r in range(h)])
    z = _fh_zlib(raw)
    assert _z.decompress(z) == raw, "FH fixture invalid"
    payload = _png_from(raw, w, h, idat_data=z)
    expect = [g for g in grays for _ in range(3)]
    df = spark.createDataFrame(
        [("1", bytearray(payload))], "media_id string, payload binary"
    )
    r = decode_pixels(
        df, png_fixed_huffman=True, png_filters=True
    ).collect()[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", w, h)
    assert list(r["pixels"]) == expect
    assert decode_png(payload, fixed_huffman=True, filters=True) == (
        w, h, expect,
    )


def test_png_filters_unknown_type_rejected_both_paths(spark):
    """Filter type 5 (outside RFC 2083) must null out in Spark and
    raise in the twin, even with the flag on."""
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    w, h = 3, 2
    raw = bytes([5, 1, 2, 3, 0, 4, 5, 6])
    payload = _png_from(raw, w, h, idat_data=_z.compress(raw, 0))
    df = spark.createDataFrame(
        [("1", bytearray(payload))], "media_id string, payload binary"
    )
    r = decode_pixels(df, png_filters=True).collect()[0]
    assert r["img_format"] is None and r["pixels"] is None
    with pytest.raises(ValueError, match="filter"):
        decode_png(payload, filters=True)


def test_png_filter0_identity_under_flag(spark):
    """A plain filter-0 PNG must decode IDENTICALLY with the flag on
    (reconstruction with all-None filters is the identity) — pinned
    against the golden external-bytes fixture and the r11 encoder."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    payload, expect = _golden_png_2x2()
    df = spark.createDataFrame(
        [("1", bytearray(payload))], "media_id string, payload binary"
    )
    r = decode_pixels(df, png_filters=True).collect()[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", 2, 2)
    assert list(r["pixels"]) == expect
    assert decode_png(payload, filters=True) == (2, 2, expect)


def test_png_filtered_round_trip_matches_formula_and_python(spark):
    """Spark filtered encoders (stored gray / stored RGB / dynamic
    gray / dynamic RGB — filters cycling (r+id) mod 5) → real PNG
    bytes → Spark filtered decode must reproduce the closed-form
    pixels; the Python twin must agree on the same payloads; stdlib
    zlib must accept every stream (external validation)."""
    import struct as _struct
    import zlib as _z

    from decision_tree_stuff_spark.operators.multimodal import decode_png

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id bigint"
    )
    for fmts, rgb_even, rgb_odd in [
        (("pngflt", "pngfltc"), False, True),
        (("pngdflt", "pngdfltc"), False, True),
    ]:
        media = synthesize_decodable_media(docs, formats=fmts)
        rows = {
            r["media_id"]: r
            for r in decode_pixels(
                media,
                formats=("png",),
                png_dynamic_huffman=True,
                png_filters=True,
            )
            .join(media.select("media_id", "payload"), "media_id")
            .collect()
        }
        assert len(rows) == 12
        for mid, r in rows.items():
            w, h = mid % 5 + 2, mid % 4 + 2
            rgb = rgb_odd if mid % 2 else rgb_even
            expect = [
                (mid * 7 + (k if rgb else k // 3) * 13) % 256
                for k in range(w * h * 3)
            ]
            assert (r["img_format"], r["width"], r["height"]) == (
                "png", w, h,
            ), (fmts, mid)
            assert list(r["pixels"]) == expect, (fmts, mid)
            payload = bytes(r["payload"])
            assert decode_png(
                payload, dynamic_huffman=True, filters=True
            ) == (w, h, expect), (fmts, mid)
            # external validation: stdlib zlib inflates the stream
            ilen = _struct.unpack(">I", payload[33:37])[0]
            zs = payload[41:41 + ilen]
            bpp = 3 if rgb else 1
            assert len(_z.decompress(zs)) == h * (w * bpp + 1), (
                fmts, mid,
            )


def test_encode_png_dyn_oversize_raises_instead_of_corrupt():
    """r13 advice guard (mirrors encode_png's): dims whose raw
    stream exceeds the decode-side bound must raise, not emit a PNG
    every decoder nulls out; in-range dims keep working, the bound
    counts bytes per pixel."""
    from decision_tree_stuff_spark.operators.multimodal import (
        encode_png_dyn,
    )

    assert encode_png_dyn(3, 4, 4)[:8] == b"\x89PNG\r\n\x1a\n"
    with pytest.raises(ValueError, match="encode_png_dyn:"):
        encode_png_dyn(3, 300, 300)
    with pytest.raises(ValueError, match="encode_png_dyn:"):
        encode_png_dyn(3, 100, 200, color_type=6, depth16=True)


# ---------------------------------------------------------------------------
# r14: PALETTED (color type 3) PNG — opt-in png_palette
# ---------------------------------------------------------------------------


def _pal_decode(spark, payloads, **flags):
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "media_id bigint, payload binary",
    )
    rows = decode_pixels(
        df, formats=("png",), png_palette=True, **flags
    ).collect()
    return {r["media_id"]: r for r in rows}


def test_png_palette_golden_both_paths(spark):
    """Hand-assembled 3x2 paletted PNG with a 4-entry palette —
    external bytes (stdlib zlib + struct), not our encoder: indices
    filter-0 through the 1-byte stride, RGB from the PLTE chunk."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    pal = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220])
    idx = [0, 3, 1, 2, 2, 0]
    raw = b"\x00" + bytes(idx[:3]) + b"\x00" + bytes(idx[3:])
    payload = _png_from(raw, 3, 2, ctype=3, plte=pal)
    expect = [b for i in idx for b in pal[3 * i:3 * i + 3]]
    r = _pal_decode(spark, [payload])[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", 3, 2)
    assert list(r["pixels"]) == expect
    assert decode_png(payload, palette=True) == (3, 2, expect)


def test_png_palette_filtered_golden_both_paths(spark):
    """Filtered index scanlines (Sub then Up) + small palette: the
    filters reconstruct INDEX bytes at bpp 1; only then does the
    palette lookup happen — on both paths."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    pal = bytes(range(3, 3 + 18))  # 6 entries
    # recon indices row0 = [1,3,4], row1 = [5,2,0]
    # Sub (type 1): filt = recon - left -> [1, 2, 1]
    # Up (type 2):  filt = recon - up (mod 256) -> [4, 255, 252]
    raw = b"\x01" + bytes([1, 2, 1]) + b"\x02" + bytes([4, 255, 252])
    payload = _png_from(raw, 3, 2, ctype=3, plte=pal)
    recon = [1, 3, 4, 5, 2, 0]
    expect = [b for i in recon for b in pal[3 * i:3 * i + 3]]
    r = _pal_decode(spark, [payload], png_filters=True)[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", 3, 2)
    assert list(r["pixels"]) == expect
    assert decode_png(payload, palette=True, filters=True) == (
        3, 2, expect
    )


def test_png_palette_round_trip_matches_formula_and_python(spark):
    """Spark encode (all four paletted fixture formats) → real PNG
    bytes → Spark decode must reproduce the closed-form
    ``pixel_value`` RGB (the 256-entry palette is arranged so the
    palette indirection is invisible to the oracle); the Python twin
    must agree on the same payload bytes."""
    import decision_tree_stuff_spark.operators.multimodal as mm

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id bigint"
    )
    for fmts, dh, filt in [
        (("pngp", "pngp"), False, False),
        (("pngpflt", "pngpflt"), False, True),
        (("pngdp", "pngdfltp"), True, True),
    ]:
        media = mm.synthesize_decodable_media(docs, formats=fmts)
        rows = {
            r["media_id"]: r
            for r in decode_pixels(
                media,
                formats=("png",),
                png_dynamic_huffman=dh,
                png_filters=filt,
                png_palette=True,
            )
            .join(media.select("media_id", "payload"), "media_id")
            .collect()
        }
        assert len(rows) == 12
        for mid, r in rows.items():
            w, h = mid % 5 + 2, mid % 4 + 2
            expect = [(mid * 7 + k * 13) % 256 for k in range(w * h * 3)]
            assert r["img_format"] == "png", (fmts, mid)
            assert (r["width"], r["height"]) == (w, h), (fmts, mid)
            assert list(r["pixels"]) == expect, (fmts, mid)
            assert mm.decode_png(
                bytes(r["payload"]),
                palette=True,
                dynamic_huffman=dh,
                filters=filt,
            ) == (w, h, expect), (fmts, mid)


def test_png_palette_dyn_stream_accepted_by_zlib(spark):
    """The DH paletted fixture's zlib stream must be a stream stdlib
    zlib accepts, and its inflated scanlines must carry the index
    bytes (q mod 256) — external-decoder pin for the encode side."""
    import zlib as _z

    import decision_tree_stuff_spark.operators.multimodal as mm

    docs = spark.createDataFrame([(5,)], "doc_id bigint")
    media = mm.synthesize_decodable_media(docs, formats=("pngdp", "pngdp"))
    payload = bytes(media.select("payload").first()[0])
    # locate the single IDAT
    pos, idat = 33, None
    while pos + 12 <= len(payload):
        clen = struct.unpack(">I", payload[pos:pos + 4])[0]
        if payload[pos + 4:pos + 8] == b"IDAT":
            idat = payload[pos + 8:pos + 8 + clen]
        if payload[pos + 4:pos + 8] == b"IEND":
            break
        pos += 12 + clen
    w, h = 5 % 5 + 2, 5 % 4 + 2
    raw = _z.decompress(idat)
    assert len(raw) == h * (w + 1)
    for r in range(h):
        line = raw[r * (w + 1):(r + 1) * (w + 1)]
        assert line[0] == 0
        assert list(line[1:]) == [(r * w + x) % 256 for x in range(w)]


def test_png_palette_invalid_variants_rejected_both_paths(spark):
    """Each paletted-specific corruption must null out in Spark AND
    raise in the Python twin (the r10 twin-parity rule): missing
    PLTE, PLTE only after IDAT (the walk stops at IDAT per spec
    order), two PLTEs before IDAT, a length not divisible by 3, an
    out-of-range index, and a corrupt PLTE CRC (caught by the shared
    CRC-checking chunk walk)."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    pal4 = bytes(range(12))
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 3])
    good = _png_from(raw, 2, 2, ctype=3, plte=pal4)
    variants = {
        "no_plte": _png_from(raw, 2, 2, ctype=3),
        "plte_after_idat": _png_from(
            raw, 2, 2, ctype=3, plte=pal4, plte_after_idat=True
        ),
        "two_plte": _png_from(raw, 2, 2, ctype=3, plte=[pal4, pal4]),
        "bad_len": _png_from(raw, 2, 2, ctype=3, plte=pal4[:4]),
        "index_oor": _png_from(
            b"\x00" + bytes([0, 5]) + b"\x00" + bytes([1, 2]),
            2, 2, ctype=3, plte=pal4,
        ),
    }
    # corrupt PLTE CRC: flip one palette byte after assembly (the
    # chunk CRC was computed over the original bytes)
    crc_bad = bytearray(good)
    plte_pos = good.index(b"PLTE")
    crc_bad[plte_pos + 4] ^= 0xFF
    variants["plte_crc"] = bytes(crc_bad)

    rows = _pal_decode(spark, list(variants.values()))
    for i, (name, payload) in enumerate(variants.items()):
        assert rows[i]["img_format"] is None, name
        assert rows[i]["pixels"] is None, name
        try:
            decode_png(payload, palette=True)
            raise AssertionError(f"twin accepted {name}")
        except ValueError:
            pass
    # the good fixture decodes (sanity that the variants, not the
    # base shape, are what reject)
    ok = _pal_decode(spark, [good])[0]
    assert ok["img_format"] == "png"
    assert decode_png(good, palette=True)[0] == 2


def test_png_palette_flag_off_unchanged_both_paths(spark):
    """Without png_palette, a type-3 PNG nulls out in Spark and the
    twin raises — the opt-in leaves the default plans' accept set
    untouched."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    pal4 = bytes(range(12))
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 3])
    payload = _png_from(raw, 2, 2, ctype=3, plte=pal4)
    df = spark.createDataFrame(
        [(0, bytearray(payload))], "media_id bigint, payload binary"
    )
    r = decode_pixels(df, formats=("png",)).collect()[0]
    assert r["img_format"] is None and r["pixels"] is None
    try:
        decode_png(payload)
        raise AssertionError("twin accepted type 3 without the flag")
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# r14: 16-BIT PNG — opt-in png_16bit
# ---------------------------------------------------------------------------


def _d16_decode(spark, payloads, **flags):
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "media_id bigint, payload binary",
    )
    rows = decode_pixels(
        df, formats=("png",), png_16bit=True, **flags
    ).collect()
    return {r["media_id"]: r for r in rows}


def test_png_16bit_golden_both_paths(spark):
    """Hand-assembled 2x2 gray16 PNG (big-endian samples): decoded
    pixels are the MSBs expanded to R=G=B; external bytes via stdlib
    zlib, independent of the encoders."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    samples = [(1000, 40000), (256, 65535)]  # rows of 16-bit grays
    raw = b"".join(
        b"\x00" + b"".join(struct.pack(">H", s) for s in row)
        for row in [samples[0], samples[1]]
    )
    payload = _png_from(raw, 2, 2, depth=16)
    msb = [s >> 8 for row in samples for s in row]
    expect = [b for g in msb for b in (g, g, g)]
    r = _d16_decode(spark, [payload])[0]
    assert (r["img_format"], r["width"], r["height"]) == ("png", 2, 2)
    assert list(r["pixels"]) == expect
    assert decode_png(payload, depth16=True) == (2, 2, expect)


def test_png_16bit_round_trip_matrix(spark):
    """All four 16-bit color types across their envelopes: stored
    gray16 / stored RGB16 / filtered gray+alpha16 / DH+filtered
    RGBA16 — each reproduces its closed form (sample index includes
    the alpha stride, the 8-bit alpha rows' pattern), twin agreeing
    on the same bytes."""
    import decision_tree_stuff_spark.operators.multimodal as mm

    cases = [
        (mm.encode_png, dict(depth16=True), dict(), "gray"),
        (mm.encode_png, dict(depth16=True, rgb=True), dict(), "rgb"),
        (
            mm.encode_png,
            dict(depth16=True, color_type=4, filtered=True),
            dict(png_filters=True),
            "ga",
        ),
        (
            mm.encode_png_dyn,
            dict(depth16=True, color_type=6, filtered=True),
            dict(png_dynamic_huffman=True, png_filters=True),
            "rgba",
        ),
    ]
    for enc, ekw, dkw, kind in cases:
        media = spark.createDataFrame(
            [
                (i, bytearray(enc(i, i % 5 + 2, i % 4 + 2, **ekw)))
                for i in range(1, 9)
            ],
            "media_id bigint, payload binary",
        )
        rows = {
            r["media_id"]: r
            for r in decode_pixels(
                media, formats=("png",), png_16bit=True, **dkw
            )
            .join(media.select("media_id", "payload"), "media_id")
            .collect()
        }
        for mid, r in rows.items():
            w, h = mid % 5 + 2, mid % 4 + 2
            if kind == "gray":
                sample = lambda k: k // 3
            elif kind == "ga":
                sample = lambda k: (k // 3) * 2
            elif kind == "rgba":
                sample = lambda k: (k // 3) * 4 + k % 3
            else:
                sample = lambda k: k
            expect = [
                (mid * 7 + sample(k) * 13) % 256
                for k in range(w * h * 3)
            ]
            assert r["img_format"] == "png", (kind, mid)
            assert list(r["pixels"]) == expect, (kind, mid)
            assert mm.decode_png(
                bytes(r["payload"]),
                depth16=True,
                dynamic_huffman=dkw.get("png_dynamic_huffman", False),
                filters=dkw.get("png_filters", False),
            ) == (w, h, expect), (kind, mid)


def test_png_16bit_lsb_corruption_fails_adler_both_paths(spark):
    """A flipped LSB never reaches the flat-RGB output, but the
    decode recomputes Adler-32 over the FULL decompressed stream —
    the corrupted payload must null out / raise, not silently decode
    to the same MSBs."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    raw = (
        b"\x00" + struct.pack(">HH", 0x1234, 0x5678)
        + b"\x00" + struct.pack(">HH", 0x9ABC, 0xDEF0)
    )
    good = _png_from(raw, 2, 2, depth=16)
    assert decode_png(good, depth16=True)[0] == 2
    # flip one LSB inside the stored-deflate IDAT (stored block ->
    # raw bytes appear verbatim; CRC of the chunk must be redone or
    # the chunk walk rejects first — corrupt BOTH consistently by
    # rebuilding the png from a corrupted raw but keeping the
    # ORIGINAL Adler via idat_data surgery)
    import zlib as _z

    z = bytearray(_z.compress(raw, 0))
    # find the LSB 0x34 inside the stored block and flip it, leaving
    # the trailing Adler-32 (computed over the original raw) stale
    z[z.index(0x34)] ^= 0xFF
    bad = _png_from(raw, 2, 2, depth=16, idat_data=bytes(z))
    r = _d16_decode(spark, [bad])[0]
    assert r["img_format"] is None and r["pixels"] is None
    with pytest.raises(ValueError):
        decode_png(bad, depth16=True)


def test_png_16bit_rejections_both_paths(spark):
    """Without the flag a 16-bit PNG nulls/raises; 16-bit + palette
    is invalid under EVERY flag combination; odd raw length (stride
    mismatch) rejects."""
    from decision_tree_stuff_spark.operators.multimodal import decode_png

    raw = (
        b"\x00" + struct.pack(">HH", 1, 2)
        + b"\x00" + struct.pack(">HH", 3, 4)
    )
    p16 = _png_from(raw, 2, 2, depth=16)
    df = spark.createDataFrame(
        [(0, bytearray(p16))], "media_id bigint, payload binary"
    )
    r = decode_pixels(df, formats=("png",)).collect()[0]
    assert r["img_format"] is None
    with pytest.raises(ValueError):
        decode_png(p16)
    # palette + 16-bit
    pal = bytes(range(12))
    p16pal = _png_from(
        b"\x00\x00\x01\x00\x02\x03", 2, 2, depth=16, ctype=3, plte=pal
    )
    rows = decode_pixels(
        spark.createDataFrame(
            [(0, bytearray(p16pal))], "media_id bigint, payload binary"
        ),
        formats=("png",),
        png_16bit=True,
        png_palette=True,
    ).collect()
    assert rows[0]["img_format"] is None
    with pytest.raises(ValueError):
        decode_png(p16pal, depth16=True, palette=True)
    # truncated stride: drop the last byte of the raw stream
    short = _png_from(raw[:-1], 2, 2, depth=16)
    r = _d16_decode(spark, [short])[0]
    assert r["img_format"] is None
    with pytest.raises(ValueError):
        decode_png(short, depth16=True)
