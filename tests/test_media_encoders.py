"""Byte pins for the synthetic media encoders.

The decoded-pixel oracles check what a payload decodes to, not its
bytes, so an encoder that changed a byte while still emitting a valid
file (another deflate bit layout, palette or header field) would pass
every round-trip test. These SHA-256 digests pin the exact bytes over
ids 0..63 at the dimensions each synthesis path uses. They were
computed from the Catalyst expression encoders that the Python
encoders replaced, after a byte differential over all 500 sf0.01 ids
found no mismatch.
"""

from __future__ import annotations

import hashlib

import decision_tree_stuff_spark.operators.multimodal as mm


def _digest(encode) -> str:
    h = hashlib.sha256()
    for i in range(64):
        payload = encode(i)
        h.update(len(payload).to_bytes(4, "big") + payload)
    return h.hexdigest()


#: ``synthesize_decodable_media`` formats, at w = id%5+2, h = id%4+2
IMAGE_DIGESTS = {
    "bmp":
        "659fe13e65c954a47b560c33d009c3f44be825b1944b57d9eb80a79f175ee949",
    "ppm":
        "66e7cca7a9702db8e535b34e281e47e836e3421a2d574ee0b40076f1f8e53033",
    "bmp8":
        "f7a467949156778062e5b566ce54f0c6a05c472cdddfc251149259ba707bbec6",
    "pgm":
        "24bdbc3814d320873fb9a21cc79a5dfbf9f9b428ae9f95e90c3fba9d9715ff24",
    "png":
        "6f5357e381c5d9574abcb60e61b7d1cb776f1b537d77d2c20c06c03e4ffd56a8",
    "pngf":
        "ec5605d29dba738cef120b16d2353dd57d92b7d587b437b4a14fed82a89b8b6c",
    "pngd":
        "749d0d7cfe2c219619b031204af35e9601d80bf2e407b6f7393de247ae0c029a",
    "pngc":
        "5dcd3bda54ae7aecf115f2bfd55f972035637994b18e20846123dbc3b193c2b7",
    "pngdc":
        "ac51805568ccdd86374f0c536188d49ae01e513df860b33708171d2b7d4478b8",
    "pngflt":
        "b098892d14545c564a27a590459abd7a390ecf7c8d6929f49e9fbdb1306f8bca",
    "pngfltc":
        "931264595c115493f70d6a0fafef2fd580e11ba178dfdb0d945a47e4ce679fdf",
    "pngdflt":
        "9722cbaaa418733d2030937da892ad041fa19f26c7177796940492f8d2bcf9b5",
    "pngdfltc":
        "b630b9fe87c3ba7d6c7089f024d76c4bd48546566ee72a42cbff8af0cfd9cce1",
    "pngga":
        "a07be18cfdc6f7ec49a0148704eb8922d201a753a9620d68b5360018739dc90d",
    "pnga":
        "15714cead5717545c9e7e05db1bdc3dd09ba04e8c6870518b0bdbb6b665851b7",
    "pngdflta":
        "926a39a9127103b3ff0b1600d50fd91760f3c8c5867ec814f02fbb4e112184c1",
    "pngp":
        "12a0b5286a4f5ed93e58e8d06e56ad12df4c30fd22dfedb4231030d2a4f122a6",
    "pngpflt":
        "6d557edd5ffe8b764d2185cf70935c9515c1fe83f031f6d75f7d4a5d98c77f00",
    "pngdp":
        "4a90a2ed9bb946d7e0969be2d44fa3e2c279d3afb9e3b416f3846403e59706ec",
    "pngdfltp":
        "30b4953a92f55bd8301317d45625c28ede2f432c934423e63e3d0664577506a2",
    "png16":
        "ead703b82dd20f4f7fc564f1be338204f5ef388f6cb809eeae201057f166af77",
    "pngdflta16":
        "2355d84e62ec7fc966e760185d06a49e9b6af8c521e86ddd49edb9163ee936c1",
    "gif":
        "c567afc56c0c84454ee5c1c0aa6cb270b50043082e7d6591611aa3e4cd80e700",
    "gifz":
        "41c5d61294fd5b47a2b7f15d675d7e761567e81890609d74c2232eabae4dac07",
    "gifi":
        "083e6e1f3ad03fc75308538baf61d7a18754753bed1d7e0c7bf652d388d24ac4",
    "gifl":
        "8283d5a73ab33298250e80e1002d4e31ab2e2047eeee2f6272936bd85e0cfb8b",
    "gifzi":
        "838db9dbee8c3e8aef359e84e49adcc7dc2244db2fe825269b50d2c94ed18850",
}

#: the other synthesis paths, at the dims their callers use
OTHER = {
    # q_e6_gif_frames: w = id%5+2, h = id%4+2, id%3+1 frames
    "gif_anim": (
        lambda i: mm.encode_gif_anim(i, i % 5 + 2, i % 4 + 2, i % 3 + 1),
        "adc7fe879cea9f7dede9401dc0ec2bf4c9ed31a7e8708020d6dddd8223b7d26c",
    ),
    "gif_anim_lct": (
        lambda i: mm.encode_gif_anim(
            i, i % 5 + 2, i % 4 + 2, i % 3 + 1, lct=True
        ),
        "f457f94041728255b08ed08d16c72de793411133fcff3ca01e59e3f012da0c5c",
    ),
    # synthesize_decodable_audio: n = id%25+4, rate = 8000 + (id%4)*4000
    "wav": (
        lambda i: mm.encode_wav(i, i % 25 + 4, 8000 + i % 4 * 4000),
        "1bb25d6a88531673a4ec2ef4435b09f3152a612ba7f3263c776102aedafb92e3",
    ),
    # synthesize_decodable_video: w = id%4+2, h = id%3+2, id%5+1 frames
    "y4m": (
        lambda i: mm.encode_y4m(i, i % 4 + 2, i % 3 + 2, i % 5 + 1),
        "bb62d1e214d12e07e9583ad97eb38531ec53b080c73745373290ca89893cf724",
    ),
    # synthesize_header_media: w = id%500+16, h = id%300+16
    "header": (
        lambda i: mm._header_payload(i, i % 500 + 16, i % 300 + 16),
        "7c300e7147f4f6a6806d8f737aed9fc7648fe2e38b8956418f80edeb56ebf89f",
    ),
}


def test_encoder_bytes_match_pinned_digests():
    encoders = mm._media_encoders()
    assert set(encoders) == set(IMAGE_DIGESTS)
    got = {
        fmt: _digest(lambda i, enc=enc: enc(i, i % 5 + 2, i % 4 + 2))
        for fmt, enc in encoders.items()
    }
    got.update({name: _digest(enc) for name, (enc, _) in OTHER.items()})
    want = dict(IMAGE_DIGESTS)
    want.update({name: digest for name, (_, digest) in OTHER.items()})
    assert [k for k in want if got[k] != want[k]] == []
