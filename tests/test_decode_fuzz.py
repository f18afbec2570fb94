"""Seeded corrupt-payload fuzz of the PNG/GIF decode stage.

Clean PNG and GIF payloads are generated here from random pixels with
stdlib ``zlib`` and a root-code LZW writer, then corrupted with seeded
bit flips, truncations, byte overwrites and CRC-repaired chunk edits
(so corruption reaches past the checksum checks). The Spark job must
succeed, keep one row per payload (per frame for
``decode_gif_frames``), and match the stdlib decoder on every row: its
result where it decodes, an all-null row where it raises. Clean rows
must also equal the generated pixels, an oracle independent of the
decoders.
"""

from __future__ import annotations

import random
import struct
import zlib

from decision_tree_stuff_spark.operators.multimodal import (
    decode_gif,
    decode_gif_anim,
    decode_gif_frames,
    decode_pixels,
    decode_png,
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


def _corrupt(rng, payload):
    """One seeded corruption of ``payload``."""
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
    else:  # GIF: overwrite one byte of the header or descriptor
        p[rng.choice([6, 7, 8, 9, 10] + list(range(37, 47)))] = rng.randrange(256)
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
