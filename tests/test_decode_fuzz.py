"""Seeded corrupt-payload fuzz of the media decode stage.

Clean PNG, GIF, BMP (24-bit and 8-bit paletted), PPM, PGM, WAV and
Y4M payloads are generated here from random pixels and samples with
``struct``, stdlib ``zlib`` and a root-code LZW writer, then corrupted
with seeded bit flips, truncations, byte overwrites, header-byte edits
and CRC-repaired PNG chunk edits (so corruption reaches past the
checksum checks). The Spark job must succeed, keep one row per payload
(per frame for ``decode_gif_frames`` and ``decode_y4m_frames``), and
match the stdlib decoder on every row: its result where it decodes, an
all-null row where it raises. Clean rows must also equal the generated
values, an oracle independent of the decoders. Header dimensions of
2^28 and 2^31-1 get their own test: they must null out at once rather
than make the job allocate the claimed image.
"""

from __future__ import annotations

import random
import struct
import zlib

from decision_tree_stuff_spark.operators.multimodal import (
    decode_audio,
    decode_gif,
    decode_gif_anim,
    decode_gif_frames,
    decode_media,
    decode_pixels,
    decode_png,
    decode_samples,
    decode_video,
    decode_y4m_frames,
)

SEED = 1017
PNG_FLAGS = dict(
    fixed_huffman=True,
    dynamic_huffman=True,
    filters=True,
    palette=True,
    depth16=True,
)
SPARK_FLAGS = dict(
    png_fixed_huffman=True,
    png_dynamic_huffman=True,
    png_filters=True,
    png_palette=True,
    png_16bit=True,
)
NULL_IMAGE = (None, None, None, None)
NULL_FRAME = (None,) * 6
NULL_AUDIO = (None, None, None, None)
UNCOMPRESSED = ("bmp", "bmp8", "ppm", "pgm")


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def _png(w, h, rgb, color):
    """8-bit gray or RGB PNG, filter 0, one zlib-compressed IDAT."""
    raw = bytearray()
    for r in range(h):
        raw.append(0)
        row = rgb[r * w * 3:(r + 1) * w * 3]
        raw.extend(row if color else row[0::3])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if color else 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _chunk(b"IEND", b"")
    )


def _lzw_root_codes(indices, mcs):
    """LZW stream of root codes only, a CLEAR before every run of
    2^mcs - 2 codes so the decoder's code width never grows."""
    clear, run = 1 << mcs, (1 << mcs) - 2
    codes = []
    for i in range(0, len(indices), run):
        codes += [clear] + indices[i:i + run]
    codes.append(clear + 1)  # EOI
    width = mcs + 1
    bits = sum(c << (k * width) for k, c in enumerate(codes))
    return bits.to_bytes((len(codes) * width + 7) // 8, "little")


def _gif(w, h, frames, palette):
    """GIF89a, 8-entry global color table, one full-screen image per
    entry of ``frames`` (each a list of color indices)."""
    out = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x82, 0, 0)
    out += bytes(c for rgb in palette for c in rgb)
    for indices in frames:
        data = _lzw_root_codes(indices, 3)
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + b"\x03"
        for i in range(0, len(data), 255):
            out += bytes([len(data[i:i + 255])]) + data[i:i + 255]
        out += b"\x00"
    return out + b"\x3b"


def _clean_images(rng, n):
    """``n`` (payload, (format, w, h, rgb)) pairs, alternating PNG and
    GIF; pixels come from an 8-color palette so the codecs compress."""
    out = []
    for i in range(n):
        w, h = rng.randint(2, 12), rng.randint(2, 10)
        palette = [tuple(rng.randrange(256) for _ in range(3)) for _ in range(8)]
        color = i % 4 == 0
        if i % 4 == 2:  # gray PNG: R=G=B
            palette = [(g, g, g) for g, _, _ in palette]
        idx = [rng.randrange(8) for _ in range(w * h)]
        rgb = [c for q in idx for c in palette[q]]
        if i % 2:
            out.append((_gif(w, h, [idx], palette), ("gif", w, h, rgb)))
        else:
            out.append((_png(w, h, rgb, color), ("png", w, h, rgb)))
    return out


#: header bytes the header-edit corruption overwrites, per payload kind
HEADER_BYTES = {b"BM": 54, b"P": 12, b"RIFF": 44, b"YUV4": 38}


def _corrupt(rng, payload):
    """One seeded corruption of ``payload``: a bit flip, a truncation, a
    short overwrite, or an edit of its header (for PNG a CRC-repaired
    IHDR or IDAT edit)."""
    p = bytearray(payload)
    kind = rng.randrange(4)
    if kind == 0:  # bit flip
        i = rng.randrange(len(p))
        p[i] ^= 1 << rng.randrange(8)
    elif kind == 1:  # truncation
        del p[rng.randrange(len(p)):]
    elif kind == 2:  # overwrite a short run
        i = rng.randrange(len(p))
        for j in range(i, min(len(p), i + rng.randint(1, 4))):
            p[j] = rng.randrange(256)
    elif p[:4] == b"\x89PNG":  # edit IHDR or IDAT, then repair its CRC
        start, n = (8, 13) if rng.random() < 0.5 else (
            33, struct.unpack(">I", p[33:37])[0]
        )
        i = start + 8 + rng.randrange(n)
        p[i] = rng.randrange(256)
        crc = zlib.crc32(bytes(p[start + 4:start + 8 + n]))
        p[start + 8 + n:start + 12 + n] = struct.pack(">I", crc)
    elif p[:4] == b"GIF8":  # overwrite one byte of the header or descriptor
        p[rng.choice([6, 7, 8, 9, 10] + list(range(37, 47)))] = rng.randrange(256)
    else:  # overwrite one header byte
        n = next(v for k, v in HEADER_BYTES.items() if payload.startswith(k))
        p[rng.randrange(min(n, len(p)))] = rng.randrange(256)
    return bytes(p)


def _twin_image(payload):
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            return ("png", *decode_png(payload, **PNG_FLAGS))
        if payload[:4] == b"GIF8":
            return ("gif", *decode_gif(payload))
    except Exception:
        pass
    return NULL_IMAGE


def _twin_frames(payload):
    try:
        w, h, n, frames = decode_gif_anim(payload)
    except Exception:
        return [NULL_FRAME]
    return [
        NULL_FRAME if px is None else ("gif", w, h, n, i, px)
        for i, px in enumerate(frames)
    ]


def test_decode_pixels_corrupt_payloads_match_stdlib_decoders(spark):
    rng = random.Random(SEED)
    clean = _clean_images(rng, 40)
    payloads = [p for p, _ in clean]
    for p, _ in clean:
        payloads += [_corrupt(rng, p) for _ in range(6)]
    payloads.append(None)
    df = spark.createDataFrame(
        [(i, None if p is None else bytearray(p)) for i, p in enumerate(payloads)],
        "media_id bigint, payload binary",
    )
    rows = decode_pixels(df, formats=("png", "gif"), **SPARK_FLAGS).collect()

    assert len(rows) == len(payloads)
    got = {
        r["media_id"]: (
            r["img_format"],
            r["width"],
            r["height"],
            None if r["pixels"] is None else list(r["pixels"]),
        )
        for r in rows
    }
    assert sorted(got) == list(range(len(payloads)))
    for i, (_, truth) in enumerate(clean):
        assert got[i] == truth, i
    expected = {i: _twin_image(p) for i, p in enumerate(payloads)}
    assert got == expected
    corrupt = range(len(clean), len(payloads) - 1)
    accepted = sum(expected[i] != NULL_IMAGE for i in corrupt)
    # the seeded set keeps both outcomes in play
    assert 0 < accepted < len(corrupt)
    assert got[len(payloads) - 1] == NULL_IMAGE


def test_decode_gif_frames_corrupt_payloads_match_stdlib_decoder(spark):
    rng = random.Random(SEED + 1)
    clean = []
    for _ in range(8):
        w, h = rng.randint(2, 8), rng.randint(2, 6)
        palette = [tuple(rng.randrange(256) for _ in range(3)) for _ in range(8)]
        frames = [
            [rng.randrange(8) for _ in range(w * h)]
            for _ in range(rng.randint(2, 4))
        ]
        rgbs = [[c for q in f for c in palette[q]] for f in frames]
        clean.append((_gif(w, h, frames, palette), (w, h, rgbs)))
    payloads = [p for p, _ in clean]
    for p, _ in clean:
        payloads += [_corrupt(rng, p) for _ in range(5)]
    payloads.append(None)
    df = spark.createDataFrame(
        [(i, None if p is None else bytearray(p)) for i, p in enumerate(payloads)],
        "media_id bigint, payload binary",
    )
    rows = decode_gif_frames(df).collect()

    got = {}
    for r in rows:
        got.setdefault(r["media_id"], []).append(
            (
                r["gif_format"],
                r["width"],
                r["height"],
                r["n_frames"],
                r["frame_idx"],
                None if r["pixels"] is None else list(r["pixels"]),
            )
        )
    expected = {i: _twin_frames(p) for i, p in enumerate(payloads)}
    assert len(rows) == sum(len(v) for v in expected.values())
    for i, (_, (w, h, rgbs)) in enumerate(clean):
        assert got[i] == [
            ("gif", w, h, len(rgbs), f, rgb) for f, rgb in enumerate(rgbs)
        ], i
    assert {i: sorted(v, key=repr) for i, v in got.items()} == {
        i: sorted(v, key=repr) for i, v in expected.items()
    }
    assert got[len(payloads) - 1] == [NULL_FRAME]


# --- uncompressed images, WAV and Y4M ------------------------------------


def _bmp(w, h, bpp, rows, palette=b"", n_colors=0):
    """BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER + BGR0 ``palette`` +
    ``rows`` (top-down, already in disk byte order) stored bottom-up at
    a 4-byte stride."""
    data = b"".join(r.ljust((len(r) + 3) & ~3, b"\0") for r in reversed(rows))
    off = 54 + len(palette)
    return struct.pack(
        "<2sIIIIiiHHIIiiII", b"BM", off + len(data), 0, off, 40, w, h,
        1, bpp, 0, len(data), 2835, 2835, n_colors, 0,
    ) + palette + data


def _clean_uncompressed(rng, n):
    """``n`` (payload, (format, w, h, rgb)) pairs cycling BMP-24,
    BMP-8 (palettes of 2..256 entries, biClrUsed 0 at 256), PPM and
    PGM."""
    out = []
    for i in range(n):
        fmt = UNCOMPRESSED[i % 4]
        w, h = rng.randint(1, 9), rng.randint(1, 7)
        if fmt == "bmp8":
            n_colors = rng.choice([2, 16, 255, 256])
            palette = [tuple(rng.randrange(256) for _ in range(3)) for _ in range(n_colors)]
            idx = [rng.randrange(n_colors) for _ in range(w * h)]
            rgb = [c for q in idx for c in palette[q]]
            payload = _bmp(
                w, h, 8,
                [bytes(idx[r * w:(r + 1) * w]) for r in range(h)],
                b"".join(bytes((b, g, r, 0)) for r, g, b in palette),
                0 if n_colors == 256 else n_colors,
            )
        elif fmt == "pgm":
            gray = [rng.randrange(256) for _ in range(w * h)]
            rgb = [g for g in gray for _ in range(3)]
            payload = b"P5\n%d %d\n255\n" % (w, h) + bytes(gray)
        else:
            rgb = [rng.randrange(256) for _ in range(w * h * 3)]
            if fmt == "ppm":
                payload = b"P6\n%d %d\n255\n" % (w, h) + bytes(rgb)
            else:
                payload = _bmp(w, h, 24, [
                    bytes(c for q in range(r * w, (r + 1) * w)
                          for c in reversed(rgb[3 * q:3 * q + 3]))
                    for r in range(h)
                ])
        out.append((payload, (fmt, w, h, rgb)))
    return out


def _wav(rate, samples):
    return struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", len(samples) + 36, b"WAVE", b"fmt ",
        16, 1, 1, rate, rate, 1, 8, b"data", len(samples),
    ) + bytes(samples)


def _y4m(w, h, frames):
    return b"YUV4MPEG2 W%d H%d F30:1 Ip A1:1 Cmono\n" % (w, h) + b"".join(
        b"FRAME\n" + bytes(f) for f in frames
    )


def _twin_uncompressed(payload):
    if payload is None:
        return NULL_IMAGE
    fmt = {b"BM": "bmp", b"P6\n": "ppm", b"P5\n": "pgm"}.get(
        payload[:3] if payload[:1] == b"P" else payload[:2]
    )
    if fmt == "bmp" and payload[28:30] == b"\x08\x00":
        fmt = "bmp8"
    try:
        return (fmt, *decode_media(payload, fmt)) if fmt else NULL_IMAGE
    except Exception:
        return NULL_IMAGE


def _twin_audio(payload):
    try:
        rate, samples = decode_audio(payload)
    except Exception:
        return NULL_AUDIO
    return ("wav", rate, len(samples), samples)


def _twin_video(payload):
    try:
        w, h, frames = decode_video(payload)
    except Exception:
        return [NULL_FRAME]
    return [("y4m", w, h, len(frames), i, f) for i, f in enumerate(frames)]


def _frame(spark, payloads):
    return spark.createDataFrame(
        [(i, None if p is None else bytearray(p)) for i, p in enumerate(payloads)],
        "media_id bigint, payload binary",
    )


def _rows(df, cols):
    return [
        (r["media_id"], tuple(
            list(r[c]) if isinstance(r[c], list) else r[c] for c in cols
        ))
        for r in df.collect()
    ]


def _image_rows(spark, payloads):
    rows = _rows(
        decode_pixels(_frame(spark, payloads), formats=UNCOMPRESSED),
        ("img_format", "width", "height", "pixels"),
    )
    assert len(rows) == len(payloads)
    return dict(rows)


def _audio_rows(spark, payloads):
    rows = _rows(
        decode_samples(_frame(spark, payloads)),
        ("audio_format", "sample_rate", "n_samples", "samples"),
    )
    assert len(rows) == len(payloads)
    return dict(rows)


def _video_rows(spark, payloads):
    got = {}
    for mid, row in _rows(
        decode_y4m_frames(_frame(spark, payloads)),
        ("video_format", "width", "height", "n_frames", "frame_idx", "luma"),
    ):
        got.setdefault(mid, []).append(row)
    return {m: sorted(v, key=repr) for m, v in got.items()}


def fuzz_corpora(seed=SEED + 2):
    """The seeded clean + corrupt corpora of the uncompressed formats:
    ``{kind: (payloads, truths)}`` for ``image``, ``audio`` and
    ``video``; ``truths[i]`` is the generated value of clean payload
    ``i`` (clean payloads come first, a null payload last)."""
    rng = random.Random(seed)
    images = _clean_uncompressed(rng, 40)
    audio = []
    for _ in range(24):
        samples = [rng.randrange(256) for _ in range(rng.randint(1, 40))]
        rate = rng.choice([8000, 16000, 44100])
        audio.append((_wav(rate, samples), ("wav", rate, len(samples), samples)))
    video = []
    for _ in range(24):
        w, h = rng.randint(1, 6), rng.randint(1, 5)
        frames = [
            [rng.randrange(256) for _ in range(w * h)]
            for _ in range(rng.randint(1, 4))
        ]
        video.append((_y4m(w, h, frames), [
            ("y4m", w, h, len(frames), i, f) for i, f in enumerate(frames)
        ]))
    out = {}
    for kind, clean in (("image", images), ("audio", audio), ("video", video)):
        payloads = [p for p, _ in clean]
        for p, _ in clean:
            payloads += [_corrupt(rng, p) for _ in range(6)]
        out[kind] = (payloads + [None], [t for _, t in clean])
    return out


TWINS = {"image": _twin_uncompressed, "audio": _twin_audio, "video": _twin_video}
NULLS = {"image": NULL_IMAGE, "audio": NULL_AUDIO, "video": [NULL_FRAME]}


def test_uncompressed_corrupt_payloads_match_stdlib_decoders(spark):
    decoded = {"image": _image_rows, "audio": _audio_rows, "video": _video_rows}
    for kind, (payloads, truths) in fuzz_corpora().items():
        got = decoded[kind](spark, payloads)
        assert sorted(got) == list(range(len(payloads))), kind
        for i, truth in enumerate(truths):
            assert got[i] == truth, (kind, i)
        expected = {i: TWINS[kind](p) for i, p in enumerate(payloads)}
        if kind == "video":
            expected = {i: sorted(v, key=repr) for i, v in expected.items()}
            assert sum(map(len, got.values())) == sum(map(len, expected.values()))
        assert got == expected, kind
        corrupt = range(len(truths), len(payloads) - 1)
        accepted = sum(expected[i] != NULLS[kind] for i in corrupt)
        assert 0 < accepted < len(corrupt), kind  # both outcomes in play
        assert got[len(payloads) - 1] == NULLS[kind], kind


def _with_field(payload, offset, fmt, value):
    p = bytearray(payload)
    struct.pack_into(fmt, p, offset, value)
    return bytes(p)


def test_oversize_header_dims_null_out(spark):
    """Width and height fields of 2^28 and 2^31-1 in otherwise valid
    headers: every row nulls out (the decoders check the claimed pixel
    bytes against the payload first) and the job finishes, rather than
    allocating the claimed image."""
    big = (1 << 28, (1 << 31) - 1)
    bmp, _ = _clean_uncompressed(random.Random(SEED), 1)[0]
    bmp8 = _bmp(2, 2, 8, [b"\0\1", b"\1\0"], bytes(8), 2)
    images = [None]
    for v in big:
        for base in (bmp, bmp8):
            images += [_with_field(base, 18, "<i", v), _with_field(base, 22, "<i", v)]
        for magic in (b"P6", b"P5"):
            images += [
                magic + b"\n%d 2\n255\n" % v + bytes(12),
                magic + b"\n2 %d\n255\n" % v + bytes(12),
            ]
    video = [None] + [
        b"YUV4MPEG2 W%d H%d F30:1 Cmono\nFRAME\n" % dims + bytes(4)
        for v in big
        for dims in ((v, 2), (2, v), (v, v))
    ]
    for payloads, rows, null in (
        (images, _image_rows, NULL_IMAGE),
        (video, _video_rows, [NULL_FRAME]),
    ):
        got = rows(spark, payloads)
        assert got == {i: null for i in range(len(payloads))}
    # WAV has no dimensions: a data length past the payload nulls out,
    # and so does a sample rate beyond int32; 2^31-1 Hz still decodes
    wav = _wav(8000, [1, 2, 3])
    audio = [None] + [_with_field(wav, 40, "<I", v) for v in big] + [
        _with_field(wav, 24, "<I", v) for v in ((1 << 32) - 1, (1 << 31) - 1)
    ]
    got = _audio_rows(spark, audio)
    assert got == {i: NULL_AUDIO for i in range(4)} | {
        4: ("wav", (1 << 31) - 1, 3, [1, 2, 3])
    }
