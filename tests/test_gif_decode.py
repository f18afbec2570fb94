"""REAL GIF (LZW) pixel decode — r14 (tests/test_pixel_decode.py's
sibling for the second compressed container).

Reference citations (parity targets, not code sources): GIF89a
specification (CompuServe 1990) §§17-24 (logical screen descriptor,
global color table, image descriptor, extension blocks, LZW data
sub-blocks, trailer) and the canonical LZW variable-code-width
convention implemented by giflib/Pillow."""

from __future__ import annotations

import struct

import pytest

import decision_tree_stuff_spark.operators.multimodal as mm
from decision_tree_stuff_spark.operators.multimodal import (
    decode_gif,
    decode_pixels,
    synthesize_decodable_media,
    _lzw_compress_py,
    _lzw_decode_py,
)
from pyspark.sql import functions as F


#: the ubiquitous 1x1 transparent GIF89a spacer — EXTERNAL bytes (not
#: our encoder): 2-entry color table, a graphic-control extension the
#: decoder must skip, LZW stream 44 01 = CLEAR, root 0, EOI.
SPACER = bytes.fromhex(
    "47494638396101000100800000000000ffffff21f90401000000002c000000"
    "00010001000002024401003b"
)


def _gif_from(
    w,
    h,
    gct: bytes,
    data: bytes,
    mcs: int = 2,
    flags=None,
    desc=None,
    ext: bytes = b"",
    tail: bytes = b"\x3b",
    sub_lens=None,
):
    """Assemble a GIF from parts with stdlib struct — independent of
    both the Spark encoders and the Python twin. ``sub_lens`` splits
    ``data`` into explicit sub-block sizes (default: one block)."""
    n = len(gct) // 3
    s = n.bit_length() - 2  # n == 2^(s+1)
    if flags is None:
        flags = 0x80 | s
    hdr = b"GIF89a" + struct.pack("<HH", w, h) + bytes([flags, 0, 0])
    if desc is None:
        desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    blocks = b""
    if sub_lens is None:
        sub_lens = [len(data)]
    pos = 0
    for sl in sub_lens:
        blocks += bytes([sl]) + data[pos:pos + sl]
        pos += sl
    return hdr + gct + ext + desc + bytes([mcs]) + blocks + b"\x00" + tail


def _spark_decode(spark, payloads):
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "media_id bigint, payload binary",
    )
    return {
        r["media_id"]: r
        for r in decode_pixels(df, formats=("gif",)).collect()
    }


def test_lzw_round_trip_sweep():
    """Compressor <-> decoder across mcs values, lengths and stream
    shapes (periodic / constant / pseudo-random) — pins the width
    convention incl. the final-flush bump (the n=19 desync)."""
    import random

    rnd = random.Random(7)
    for mcs in (2, 3, 4, 5, 8):
        for n in list(range(1, 40)) + [19, 300, 1500]:
            for mk in ("per", "rnd", "const"):
                if mk == "per":
                    idx = [q % min(4, 1 << mcs) for q in range(n)]
                elif mk == "rnd":
                    idx = [rnd.randrange(1 << mcs) for _ in range(n)]
                else:
                    idx = [1 % (1 << mcs)] * n
                data = _lzw_compress_py(idx, mcs)
                assert _lzw_decode_py(data, mcs, n) == idx, (mcs, n, mk)


def test_spacer_golden_both_paths(spark):
    """The canonical 1x1 spacer decodes on both paths — external
    bytes, extension skipped, 2-entry table, index 0 -> black."""
    assert decode_gif(SPACER) == (1, 1, [0, 0, 0])
    r = _spark_decode(spark, [SPACER])[0]
    assert (r["img_format"], r["width"], r["height"]) == ("gif", 1, 1)
    assert list(r["pixels"]) == [0, 0, 0]


def test_gif_round_trip_matches_formula_and_python(spark):
    """Both Spark encoders -> real GIF bytes -> Spark decode must
    reproduce the closed forms; the twin agrees on the same bytes."""
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 21)], "doc_id bigint"
    )
    media = synthesize_decodable_media(docs, formats=("gif", "gifz"))
    rows = {
        r["media_id"]: r
        for r in decode_pixels(media, formats=("gif",))
        .join(media.select("media_id", "payload"), "media_id")
        .collect()
    }
    assert len(rows) == 20
    for mid, r in rows.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        if mid % 2 == 0:
            expect = [
                (mid * 7 + k * 13) % 256 for k in range(w * h * 3)
            ]
        else:
            expect = [
                (mid * 7 + (3 * ((k // 3) % 4) + k % 3) * 13) % 256
                for k in range(w * h * 3)
            ]
        assert r["img_format"] == "gif", mid
        assert (r["width"], r["height"]) == (w, h), mid
        assert list(r["pixels"]) == expect, mid
        assert decode_gif(bytes(r["payload"])) == (w, h, expect), mid


def test_gif_kwkwk_and_multiblock_both_paths(spark):
    """A constant index stream forces the KwKwK case (code ==
    next_free); the same data split across two sub-blocks must
    concatenate. Hand-assembled, independent of the encoders."""
    gct = bytes(range(30, 42))  # 4 entries
    idx = [1] * 9
    data = _lzw_compress_py(idx, 2)
    expect = [b for i in idx for b in gct[3 * i:3 * i + 3]]
    one = _gif_from(3, 3, gct, data)
    split = _gif_from(3, 3, gct, data, sub_lens=[2, len(data) - 2])
    assert decode_gif(one) == (3, 3, expect)
    assert decode_gif(split) == (3, 3, expect)
    rows = _spark_decode(spark, [one, split])
    for i in (0, 1):
        assert rows[i]["img_format"] == "gif", i
        assert list(rows[i]["pixels"]) == expect, i


def test_gif_width_growth_both_paths(spark):
    """A pseudo-random 100-symbol mcs-2 stream grows the code width
    through 4 and 5 bits; decoded indices must match the reference
    decoder on both paths."""
    idx = [(q * 7 + q * q * 3) % 4 for q in range(100)]
    gct = bytes(range(12))
    data = _lzw_compress_py(idx, 2)
    assert _lzw_decode_py(data, 2, 100) == idx  # sanity: dict codes used
    payload = _gif_from(10, 10, gct, data, sub_lens=None)
    expect = [b for i in idx for b in gct[3 * i:3 * i + 3]]
    assert decode_gif(payload) == (10, 10, expect)
    r = _spark_decode(spark, [payload])[0]
    assert r["img_format"] == "gif"
    assert list(r["pixels"]) == expect


def test_gif_invalid_variants_rejected_both_paths(spark):
    """Each corruption nulls out in Spark AND raises in the twin (the
    twin-parity rule)."""
    gct = bytes(range(12))
    idx = [0, 1, 2, 3]
    data = _lzw_compress_py(idx, 2)
    good = _gif_from(2, 2, gct, data)
    assert decode_gif(good)[0] == 2  # baseline accepts

    eoi_missing = _lzw_compress_py(idx, 2)[:-1]
    variants = {
        "bad_sig": b"JIF89a" + good[6:],
        "no_gct_flag": _gif_from(2, 2, gct, data, flags=0x01),
        "no_any_table": _gif_from(2, 2, gct, data, flags=0x00),
        "partial_image": _gif_from(
            2, 2, gct, data,
            desc=b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 2) + b"\x00",
        ),
        "offset_image": _gif_from(
            2, 2, gct, data,
            desc=b"\x2c" + struct.pack("<HHHH", 1, 0, 2, 2) + b"\x00",
        ),
        "no_trailer": _gif_from(2, 2, gct, data, tail=b""),
        "trailing_bytes": _gif_from(2, 2, gct, data) + b"\x00",
        "bad_mcs": _gif_from(2, 2, gct, data, mcs=1),
        "truncated_stream": _gif_from(2, 2, gct, eoi_missing),
        # 4-entry table but an mcs-3 stream whose root 5 is a valid
        # LZW symbol and an OUT-OF-RANGE color index
        "index_oor": _gif_from(
            2, 2, gct, _lzw_compress_py([0, 5, 1, 2], 3), mcs=3
        ),
        # pixel count beyond the walk envelope
        "too_big": _gif_from(65, 65, gct, data),
    }
    rows = _spark_decode(spark, list(variants.values()))
    for i, (name, payload) in enumerate(variants.items()):
        assert rows[i]["img_format"] is None, name
        assert rows[i]["pixels"] is None, name
        with pytest.raises(ValueError):
            decode_gif(payload)
        _ = name


def test_gif_format_contract(spark):
    """'gif' rides the explicit formats contract: a GIF payload under
    formats without 'gif' nulls out, and a mixed gif+png declaration
    routes each signature to its branch."""
    docs = spark.createDataFrame([(2,), (3,)], "doc_id bigint")
    gifs = synthesize_decodable_media(docs, formats=("gif", "gif"))
    pngs = synthesize_decodable_media(docs, formats=("png", "png"))
    mixed = gifs.where(F.col("media_id") == 2).unionByName(
        pngs.where(F.col("media_id") == 3)
    )
    out = {
        r["media_id"]: r
        for r in decode_pixels(mixed, formats=("gif", "png")).collect()
    }
    assert out[2]["img_format"] == "gif"
    assert out[3]["img_format"] == "png"
    # undeclared -> absent branch -> null (the r13 per-format rule)
    undeclared = decode_pixels(gifs, formats=("png",)).collect()
    assert all(r["img_format"] is None for r in undeclared)


def test_gif_interlaced_hand_fixture_both_paths(spark):
    """A 2x5 interlaced GIF hand-assembled with pass-ordered rows
    (passes 0/4/2/1-stride: display rows 0,4 | - | 2 | 1,3): the
    decoder must permute the stream rows back to display order.
    Independent of the encoders."""
    gct = bytes(range(12))
    # display rows r carry indices [2r % 4, (2r+1) % 4]
    disp = [[(2 * r) % 4, (2 * r + 1) % 4] for r in range(5)]
    stream_rows = [disp[0], disp[4], disp[2], disp[1], disp[3]]
    idx = [i for row in stream_rows for i in row]
    data = _lzw_compress_py(idx, 2)
    payload = _gif_from(
        2, 5, gct, data,
        desc=struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 5, 0x40),
    )
    expect = [b for row in disp for i in row for b in gct[3 * i:3 * i + 3]]
    assert decode_gif(payload) == (2, 5, expect)
    r = _spark_decode(spark, [payload])[0]
    assert r["img_format"] == "gif"
    assert list(r["pixels"]) == expect


def test_gif_interlaced_round_trip_matches_formula_and_python(spark):
    """Both interlaced fixture formats -> Spark decode reproduces the
    same closed forms as the progressive ones (the pass permutation
    round-trips invisibly); the twin agrees on the same bytes."""
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 21)], "doc_id bigint"
    )
    media = synthesize_decodable_media(docs, formats=("gifi", "gifzi"))
    rows = {
        r["media_id"]: r
        for r in decode_pixels(media, formats=("gif",))
        .join(media.select("media_id", "payload"), "media_id")
        .collect()
    }
    for mid, r in rows.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        if mid % 2 == 0:
            expect = [
                (mid * 7 + k * 13) % 256 for k in range(w * h * 3)
            ]
        else:
            expect = [
                (mid * 7 + (3 * ((k // 3) % 4) + k % 3) * 13) % 256
                for k in range(w * h * 3)
            ]
        assert r["img_format"] == "gif", mid
        assert list(r["pixels"]) == expect, mid
        assert decode_gif(bytes(r["payload"])) == (w, h, expect), mid


def test_gif_interlace_maps_pin():
    """The closed-form stream-position map and its inverse agree with
    the pass-enumeration reference for every height to 64."""
    import decision_tree_stuff_spark.operators.multimodal as _mm

    for h in range(1, 65):
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        for i, r in enumerate(order):
            assert _mm._gif_interlace_pos(r, h) == i, (h, r)
            assert _mm._gif_interlace_disp_row(i, h) == r, (h, i)


# ---------------------------------------------------------------------------
# r14: ANIMATED GIF — decode_gif_frames / decode_gif_anim
# ---------------------------------------------------------------------------

NETSCAPE = bytes.fromhex("21FF0B4E45545343415045322E300301000000")


def _gif_anim_from(w, h, gct, frame_blobs, tail=b"\x3b", ext=NETSCAPE):
    """Animated assembly: ``frame_blobs`` is a list of (data, mcs,
    desc) triples (desc None -> canonical full-screen descriptor)."""
    n = len(gct) // 3
    s = n.bit_length() - 2
    hdr = (
        b"GIF89a"
        + struct.pack("<HH", w, h)
        + bytes([0x80 | s, 0, 0])
    )
    body = b""
    for data, mcs, desc in frame_blobs:
        if desc is None:
            desc = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        body += desc + bytes([mcs, len(data)]) + data + b"\x00"
    return hdr + gct + ext + body + tail


def _spark_frames(spark, payloads):
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_gif_frames,
    )

    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "media_id bigint, payload binary",
    )
    out = {}
    for r in decode_gif_frames(df).collect():
        out.setdefault(r["media_id"], []).append(r)
    return out


def _anim_media(spark, ids, lct=False):
    """(media_id, payload) of ``encode_gif_anim`` at the
    ``q_e6_gif_frames`` dims: w = id%5+2, h = id%4+2, id%3+1 frames."""
    return spark.createDataFrame(
        [
            (i, bytearray(mm.encode_gif_anim(
                i, i % 5 + 2, i % 4 + 2, i % 3 + 1, lct=lct
            )))
            for i in ids
        ],
        "media_id bigint, payload binary",
    )


def test_gif_anim_round_trip_matches_formula_and_python(spark):
    """encode_gif_anim -> decode_gif_frames reproduces the per-frame
    closed form ((mid*7 + k*13 + 95*f) mod 256); the twin agrees on
    the same bytes, NETSCAPE extension skipped on both paths."""
    import decision_tree_stuff_spark.operators.multimodal as _mm

    media = _anim_media(spark, range(1, 13))
    rows = {}
    for r in (
        _mm.decode_gif_frames(media)
        .join(media.select("media_id", "payload"), "media_id")
        .collect()
    ):
        rows.setdefault(r["media_id"], []).append(r)
    assert len(rows) == 12
    for mid, frs in rows.items():
        w, h, nf = mid % 5 + 2, mid % 4 + 2, mid % 3 + 1
        assert sorted(r["frame_idx"] for r in frs) == list(range(nf))
        for r in frs:
            f = r["frame_idx"]
            expect = [
                (mid * 7 + k * 13 + 95 * f) % 256
                for k in range(w * h * 3)
            ]
            assert (
                r["gif_format"],
                r["width"],
                r["height"],
                r["n_frames"],
            ) == ("gif", w, h, nf), (mid, f)
            assert list(r["pixels"]) == expect, (mid, f)
        exp_frames = [
            [
                (mid * 7 + k * 13 + 95 * f) % 256
                for k in range(w * h * 3)
            ]
            for f in range(nf)
        ]
        assert _mm.decode_gif_anim(bytes(frs[0]["payload"])) == (
            w, h, nf, exp_frames,
        ), mid


def test_gif_anim_per_frame_nullability_both_paths(spark):
    """A corrupt SECOND frame (partial-coverage descriptor) nulls
    only that frame's row; frame 0 and frame 2 still decode. The
    twin mirrors with None at index 1. Frame 2 is INTERLACED inside
    the animation (mixed per-frame modes)."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_gif_anim,
    )

    gct = bytes(range(12))
    good = _lzw_compress_py([0, 1, 2, 3], 2)
    # interlaced 2x2: passes put display row 0 then row 1 — identical
    # stream order at h=2, but the FLAG path must still engage
    idesc = struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0x40)
    bad_desc = struct.pack("<BHHHHB", 0x2C, 0, 0, 1, 2, 0)
    payload = _gif_anim_from(
        2, 2, gct,
        [(good, 2, None), (good, 2, bad_desc), (good, 2, idesc)],
    )
    w, h, nf, frames = decode_gif_anim(payload)
    expect = [b for i in (0, 1, 2, 3) for b in gct[3 * i:3 * i + 3]]
    assert (w, h, nf) == (2, 2, 3)
    assert frames == [expect, None, expect]
    frs = {r["frame_idx"]: r for r in _spark_frames(spark, [payload])[0]}
    # null frame rows lose their frame_idx too (every output column
    # is ok-gated); identify them by exclusion
    decoded = [r for r in frs.values() if r["gif_format"] == "gif"]
    nulls = [r for r in frs.values() if r["gif_format"] is None]
    assert len(decoded) == 2 and len(nulls) == 1
    for r in decoded:
        assert list(r["pixels"]) == expect


def test_gif_anim_structural_rejections_both_paths(spark):
    """Structural stream corruption nulls EVERY frame row in Spark
    and raises in the twin: no trailer, trailing bytes, more than
    _GIF_MAX_FRAMES frames, and zero frames."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_gif_anim,
    )

    gct = bytes(range(12))
    good = _lzw_compress_py([0, 1, 2, 3], 2)
    one = [(good, 2, None)]
    variants = {
        "no_trailer": _gif_anim_from(2, 2, gct, one, tail=b""),
        "trailing": _gif_anim_from(2, 2, gct, one) + b"\x00",
        "six_frames": _gif_anim_from(2, 2, gct, one * 6),
        "zero_frames": _gif_anim_from(2, 2, gct, []),
    }
    rows = _spark_frames(spark, list(variants.values()))
    for i, (name, payload) in enumerate(variants.items()):
        for r in rows[i]:
            assert r["gif_format"] is None, name
            assert r["pixels"] is None, name
        with pytest.raises(ValueError):
            decode_gif_anim(payload)
        _ = name


def _gif_from_lct(w, h, lct: bytes, data, mcs=2, gct: bytes = None,
                  interlaced=False):
    """Assemble a GIF whose image carries a LOCAL color table (and
    optionally a conflicting GLOBAL one, to pin precedence)."""
    n = len(lct) // 3
    s = n.bit_length() - 2
    if gct is None:
        hdr_flags, gct_bin = 0x00, b""
    else:
        gn = len(gct) // 3
        hdr_flags, gct_bin = 0x80 | (gn.bit_length() - 2), gct
    hdr = b"GIF89a" + struct.pack("<HH", w, h) + bytes([hdr_flags, 0, 0])
    dflags = 0x80 | s | (0x40 if interlaced else 0)
    desc = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, dflags)
    return (hdr + gct_bin + desc + lct + bytes([mcs, len(data)])
            + data + b"\x00\x3b")


def test_gif_local_color_table_both_paths(spark):
    """A LOCAL color table decodes — including when a CONFLICTING
    global table is present (the local one takes precedence, GIF89a
    section 21); a GIF with neither table rejects; a truncated LCT
    rejects (structurally — the data offset depends on its length)."""
    lct = bytes(range(100, 112))            # 4 entries
    wrong_gct = bytes(range(200, 212))      # decoy global table
    idx = [0, 3, 1, 2]
    data = _lzw_compress_py(idx, 2)
    expect = [b for i in idx for b in lct[3 * i:3 * i + 3]]
    only_lct = _gif_from_lct(2, 2, lct, data)
    both = _gif_from_lct(2, 2, lct, data, gct=wrong_gct)
    assert decode_gif(only_lct) == (2, 2, expect)
    assert decode_gif(both) == (2, 2, expect)
    rows = _spark_decode(spark, [only_lct, both])
    for i in (0, 1):
        assert rows[i]["img_format"] == "gif", i
        assert list(rows[i]["pixels"]) == expect, i
    # truncated LCT: flag says 4 entries but bytes run out
    trunc = only_lct[: only_lct.index(lct) + 5]
    r = _spark_decode(spark, [trunc])[0]
    assert r["img_format"] is None
    with pytest.raises(ValueError):
        decode_gif(trunc)


def test_gif_lct_round_trip_matches_formula_and_python(spark):
    """encode_gif(lct=True) emits NO global table; the frame's own
    256-entry local table reproduces the shared closed form. The
    animated lct mode shifts each frame's table by 17, making frame
    f's byte k = (mid*7 + k*13 + 112*f) mod 256 — per-frame PALETTES
    exercised end to end."""
    import decision_tree_stuff_spark.operators.multimodal as _mm

    media = spark.createDataFrame(
        [
            (i, bytearray(_mm.encode_gif(i, i % 5 + 2, i % 4 + 2, lct=True)))
            for i in range(1, 9)
        ],
        "media_id bigint, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in decode_pixels(media, formats=("gif",))
        .join(media.select("media_id", "payload"), "media_id")
        .collect()
    }
    for mid, r in rows.items():
        w, h = mid % 5 + 2, mid % 4 + 2
        expect = [(mid * 7 + k * 13) % 256 for k in range(w * h * 3)]
        assert r["img_format"] == "gif", mid
        assert list(r["pixels"]) == expect, mid
        assert decode_gif(bytes(r["payload"])) == (w, h, expect), mid

    anim = _anim_media(spark, range(1, 9), lct=True)
    frs = (
        _mm.decode_gif_frames(anim)
        .join(anim.select("media_id", "payload"), "media_id")
        .collect()
    )
    for r in frs:
        mid, f = r["media_id"], r["frame_idx"]
        w, h, nf = mid % 5 + 2, mid % 4 + 2, mid % 3 + 1
        expect = [
            (mid * 7 + k * 13 + 112 * f) % 256
            for k in range(w * h * 3)
        ]
        assert r["gif_format"] == "gif", (mid, f)
        assert list(r["pixels"]) == expect, (mid, f)
        if f == 0:
            tw = _mm.decode_gif_anim(bytes(r["payload"]))
            assert tw == (
                w, h, nf,
                [
                    [
                        (mid * 7 + k * 13 + 112 * ff) % 256
                        for k in range(w * h * 3)
                    ]
                    for ff in range(nf)
                ],
            ), mid


def test_gif_decode_stream_equals_batch(spark, tmp_path):
    """Both GIF decoders are stateless projections (walk folds +
    generate), so they run unchanged under Structured Streaming:
    decode over readStream(availableNow) must equal the batch decode
    of the same parquet — single-image (LCT + interlaced LZW mix)
    AND animated per-frame rows."""
    import decision_tree_stuff_spark.operators.multimodal as _mm

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id bigint"
    )
    media = synthesize_decodable_media(docs, formats=("gifl", "gifzi"))
    path = str(tmp_path / "gif_media")
    media.write.parquet(path)
    src = spark.read.parquet(path)
    s_src = spark.readStream.schema(src.schema).parquet(path)

    def key(rows):
        return sorted(
            (
                r["media_id"],
                r["img_format"],
                r["width"],
                r["height"],
                None if r["pixels"] is None else tuple(r["pixels"]),
            )
            for r in rows
        )

    q = (
        decode_pixels(s_src, formats=("gif",))
        .writeStream.format("memory")
        .queryName("gif_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert key(spark.table("gif_stream_test").collect()) == key(
        decode_pixels(src, formats=("gif",)).collect()
    )

    anim = _anim_media(spark, range(1, 13), lct=True)
    apath = str(tmp_path / "gif_anim")
    anim.write.parquet(apath)
    a_src = spark.read.parquet(apath)

    def akey(rows):
        return sorted(
            (
                r["media_id"],
                r["frame_idx"],
                r["n_frames"],
                None if r["pixels"] is None else tuple(r["pixels"]),
            )
            for r in rows
        )

    q2 = (
        _mm.decode_gif_frames(
            spark.readStream.schema(a_src.schema).parquet(apath)
        )
        .writeStream.format("memory")
        .queryName("gif_frames_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert akey(spark.table("gif_frames_stream_test").collect()) == akey(
        _mm.decode_gif_frames(a_src).collect()
    )
