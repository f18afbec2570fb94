"""Multimodal (image/audio/video) column plumbing.

Media travels as an opaque ``binary`` payload column plus a typed
metadata struct. Header metadata (``with_image_header_meta``,
``with_audio_header_meta``) parses in Spark byte expressions, and so
does the analytics over decoded arrays (``audio_features``,
``audio_frames``, ``resize_*``, ``frame_motion``). DECODE is real for
every supported format and runs in ONE Arrow-batched Python stage
(``_arrow_stage``) over stdlib decoders: BMP/PPM/PGM
(``decode_media``), PNG (``decode_png``) and GIF (``decode_gif``,
``decode_gif_anim``) via ``decode_pixels`` / ``decode_gif_frames``,
WAV (``decode_audio``) via ``decode_samples`` and Y4M
(``decode_video``) via ``decode_y4m_frames``. A decoder exception is
a null row, never a failed job. The synthetic payloads those decoders
are tested on come from Python byte encoders (``encode_*``) run in
the same stage. ``decode_media`` still raises
``NotImplementedError`` for JPEG and the other codec-bound formats,
with a deterministic fake feature extractor standing in so that
pipeline shape is exercised end-to-end too.

Scale notes:
* Payloads stay on executors — nothing here collects binary to the
  driver. At 100 TB the payload column dominates scan size; metadata
  queries (`meta.*` filters, kind counts) prune it via parquet column
  pruning, so keep payload in its own column, never inside a struct
  with hot metadata.
* Feature extraction (``mapInPandas``) and the one Arrow stage
  (``mapInArrow``: decode and the synthetic-payload encoders) cross
  the Python boundary batch-at-a-time, not row-at-a-time, and output
  partitioning inherits the scan (no shuffle).
* Frame sampling is pure Spark (sequence + explode + binary
  substring): no UDF.
"""

from __future__ import annotations

import struct
import zlib
from functools import partial
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_TYPE = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("format", StringType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("payload", BinaryType(), False),
        StructField("meta", MEDIA_META_TYPE, False),
    ]
)

KINDS = ["image", "audio", "video"]


def synthesize_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic fake media table derived from ``documents`` —
    payload = UTF-8 bytes of the text, kind/meta derived from the id.
    Exists so the binary-column pipeline runs against real testdata
    without shipping binaries."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col(id_col) % 3 + 1).cast("int")
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            (F.col(id_col) % 640 + 16).cast("int").alias("width"),
            (F.col(id_col) % 480 + 16).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col(id_col) % 24 + 1).cast("int").alias("n_frames"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )


#: A PPM/PGM header must end within this many bytes (``decode_media``).
_PNM_HEADER_CAP = 32


def decode_media(payload: bytes, fmt: str):
    """Pixel decode of a single uncompressed image — the decoder
    ``decode_pixels`` runs per row for BMP, PPM and PGM. Returns
    ``(width, height, pixels)`` with pixels the flattened top-down
    row-major RGB bytes:

    * BMP: 24-bit BI_RGB, or 8-bit paletted through the BGR0 palette
      after a 40-byte BITMAPINFOHEADER (biClrUsed entries, 0 = 256);
      positive (bottom-up) height; rows at a 4-byte stride.
    * PPM (P6) / PGM (P5): canonical ``P6 <w> <h> 255`` header with
      single whitespace separators, ending within ``_PNM_HEADER_CAP``
      bytes; PGM gray expands to R=G=B.

    Raises ``ValueError`` on any other variant, on zero or negative
    dimensions and on a payload too short for its w×h pixels.
    Compressed formats other than PNG/GIF (JPEG, audio/video codecs)
    raise ``NotImplementedError``: their codec libraries are not
    available here. Header-level metadata for those is not stubbed —
    see ``with_image_header_meta``."""
    f = (fmt or "").lower()
    if f in ("bmp", "bmp8") or payload[:2] == b"BM":
        if len(payload) < 54:
            raise ValueError("truncated BMP header")
        off, = struct.unpack_from("<I", payload, 10)
        w, h = struct.unpack_from("<ii", payload, 18)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        comp, = struct.unpack_from("<I", payload, 30)
        if planes != 1 or bpp not in (8, 24) or comp != 0 or w <= 0 or h <= 0:
            raise ValueError(
                f"unsupported BMP variant (planes={planes} bpp={bpp} "
                f"compression={comp} w={w} h={h})"
            )
        row_bytes = w * bpp // 8
        stride = (row_bytes + 3) & ~3
        # source rows are bottom-up: the last one read is top row 0
        if off + (h - 1) * stride + row_bytes > len(payload):
            raise ValueError("BMP pixel data truncated")
        px = []
        if bpp == 24:
            for r in range(h):                      # output rows top-down
                base = off + (h - 1 - r) * stride   # source rows bottom-up
                for p in range(w):
                    b, g, rr = payload[base + 3 * p: base + 3 * p + 3]
                    px.extend((rr, g, b))           # BGR on disk → RGB out
        else:
            # the palette-at-54 read assumes a 40-byte BITMAPINFOHEADER
            # — a V4/V5 DIB puts the palette later and would silently
            # decode header bytes as colors
            hdr_size, = struct.unpack_from("<I", payload, 14)
            if hdr_size != 40:
                raise ValueError(
                    f"unsupported BMP DIB header size {hdr_size} for "
                    "8-bit palette decode (expected BITMAPINFOHEADER=40)"
                )
            nclr, = struct.unpack_from("<I", payload, 46)
            nclr = nclr or 256
            if off < 54 + 4 * nclr:
                raise ValueError("BMP palette overlaps pixel data")
            for r in range(h):
                base = off + (h - 1 - r) * stride
                for p in range(w):
                    idx = payload[base + p]
                    if idx >= nclr:
                        raise ValueError(
                            f"palette index {idx} >= biClrUsed {nclr}"
                        )
                    e = 54 + 4 * idx
                    b, g, rr = payload[e: e + 3]
                    px.extend((rr, g, b))
        return w, h, px
    if f in ("ppm", "pgm") or payload[:3] in (b"P6\n", b"P5\n"):
        import re as _re

        m = _re.match(rb"^(P[56])\s(\d+)\s(\d+)\s255\s", payload)
        if not m or m.end() > _PNM_HEADER_CAP:
            raise ValueError(
                "unsupported PPM/PGM header (canonical form ending "
                f"within {_PNM_HEADER_CAP} bytes)"
            )
        w, h = int(m.group(2)), int(m.group(3))
        depth = 3 if m.group(1) == b"P6" else 1
        data = payload[m.end(): m.end() + w * h * depth]
        if w <= 0 or h <= 0 or len(data) < w * h * depth:
            raise ValueError(f"PPM/PGM pixel data truncated (w={w} h={h})")
        if depth == 3:
            return w, h, list(data)
        return w, h, [v for g in data for v in (g, g, g)]
    raise NotImplementedError(
        f"media decode for format {fmt!r} requires codec libraries "
        "not present in this environment"
    )


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_SIG = _PNG_MAGIC.hex().upper()


def _sig(payload, pos: int, ascii_tag: str):
    """True iff the bytes at 1-based ``pos`` equal ``ascii_tag`` —
    compared as HEX, because ``decode(..., 'UTF-8')`` raises on the
    invalid byte sequences arbitrary binary payloads contain."""
    want = ascii_tag.encode("ascii").hex().upper()
    return F.hex(F.substring(payload, pos, len(ascii_tag))) == want


def _be32(payload, pos: int):
    """Big-endian uint32 at 1-based byte offset ``pos`` of a binary
    column — hex of the 4-byte slice parsed base-16. JVM-side string
    ops on 8 hex chars; no UDF. try_cast, not cast: garbage bytes can
    exceed int32 (e.g. reading a PNG width field out of a non-PNG
    payload), and codegen subexpression elimination may evaluate the
    reader EAGERLY, outside the ok-chain's short-circuit — under ANSI
    a plain cast would fail the whole task where the row should just
    null out (r12; same reasoning as zraw's try_element_at)."""
    return F.conv(
        F.hex(F.substring(payload, pos, 4)), 16, 10
    ).try_cast("int")


def _le16(payload, pos: int):
    """Little-endian uint16 at 1-based offset ``pos``: low byte +
    256·high byte."""
    b = lambda p: F.conv(F.hex(F.substring(payload, p, 1)), 16, 10).cast("int")  # noqa: E731
    return b(pos) + b(pos + 1) * F.lit(256)


def _u8(payload, pos):
    """uint8 at 1-based offset ``pos`` (int or Column)."""
    return F.conv(F.hex(F.substring(payload, pos, 1)), 16, 10).cast("int")


def _be16(payload, pos):
    """Big-endian uint16 at 1-based offset ``pos`` (int or Column)."""
    return F.conv(F.hex(F.substring(payload, pos, 2)), 16, 10).cast("int")


#: JPEG start-of-frame marker codes (dimensions live in the SOF
#: segment) — every SOFn except the non-frame C4 (DHT), C8 (JPG
#: extension), CC (DAC).
_JPEG_SOF_MARKERS = (
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
)


def _jpeg_dims(p, max_segments: int = 12):
    """(width, height) of a JPEG payload as ONE expression — a bounded
    segment walk compiled to an ``aggregate`` fold, still no UDF:

    JPEG puts its dimensions in the SOF segment at a VARIABLE offset
    (after APPn/EXIF/quant tables...), so unlike PNG/GIF there is no
    fixed-position read. Each fold step looks at the current segment
    (0xFF marker + BE16 length), either captures the SOF dims
    (height @ +5, width @ +7), skips ``2 + len`` bytes, or poisons the
    offset on malformed input; once dims are set (or the offset is
    poisoned) remaining steps pass the state through. ``max_segments``
    bounds work and expression size — real headers reach SOF within a
    handful of segments (APPn + DQT + …); deeper ones return nulls
    rather than scanning unboundedly.
    """
    init = F.struct(
        F.lit(3).alias("o"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
    )

    def step(acc, _):
        o = acc["o"]
        active = acc["w"].isNull() & (o >= 3) & ((o + 3) <= F.length(p))
        m0 = _u8(p, o)
        m1 = _u8(p, o + 1)
        seg = _be16(p, o + 2)
        ok = (m0 == 255) & (seg >= 2)
        is_sof = m1.isin(*[F.lit(x) for x in _JPEG_SOF_MARKERS])
        readable = (o + 8) <= F.length(p)
        new_w = F.when(is_sof & ok & readable, _be16(p, o + 7))
        new_h = F.when(is_sof & ok & readable, _be16(p, o + 5))
        new_o = F.when(~ok | is_sof, F.lit(-1)).otherwise(o + 2 + seg)
        return F.when(
            active,
            F.struct(new_o.alias("o"), new_w.alias("w"), new_h.alias("h")),
        ).otherwise(acc)

    final = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_segments)), init, step
    )
    return final["w"], final["h"]


def with_image_header_meta(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """REAL (non-stubbed) header-level image metadata decode, as pure
    Spark byte expressions — no codec library, no UDF, JVM-side and
    codegen'd:

    * PNG: 8-byte signature, then the IHDR chunk at a FIXED offset —
      width/height are big-endian uint32s at bytes 17-20 / 21-24.
    * GIF (87a/89a): 6-byte signature; logical-screen width/height
      are little-endian uint16s at bytes 7-8 / 9-10.
    * JPEG (r6): FFD8 signature, then a bounded segment walk to the
      SOF marker compiled to one ``aggregate`` fold (``_jpeg_dims``) —
      variable-offset parsing, still pure expressions.

    Appends (img_format, img_width, img_height); unrecognized or
    truncated payloads get nulls.
    """
    p = F.col(payload_col)
    is_png = (
        (F.length(p) >= 24)
        & (F.hex(F.substring(p, 1, 8)) == _PNG_SIG)
        # first chunk must actually BE the IHDR we read the fixed
        # offsets from — a valid signature with a nonstandard first
        # chunk would otherwise decode garbage dimensions
        & _sig(p, 13, "IHDR")
    )
    # signature checks compare HEX bytes, never decode(): Spark 4's
    # ANSI decode RAISES on invalid UTF-8, and arbitrary binary
    # payloads (any real JPEG) are not valid UTF-8
    is_gif = (F.length(p) >= 10) & (
        _sig(p, 1, "GIF87a") | _sig(p, 1, "GIF89a")
    )
    is_jpeg = (F.length(p) >= 4) & (F.hex(F.substring(p, 1, 2)) == "FFD8")
    jw, jh = _jpeg_dims(p)
    fmt = F.when(is_png, "png").when(is_gif, "gif").when(is_jpeg, "jpeg")
    width = (
        F.when(is_png, _be32(p, 17))
        .when(is_gif, _le16(p, 7))
        .when(is_jpeg, jw)
    )
    height = (
        F.when(is_png, _be32(p, 21))
        .when(is_gif, _le16(p, 9))
        .when(is_jpeg, jh)
    )
    return media.select(
        "*",
        fmt.alias("img_format"),
        width.alias("img_width"),
        height.alias("img_height"),
    )


def _le32(payload, pos: int):
    """Little-endian uint32 at 1-based offset ``pos``. The high half
    widens to bigint BEFORE the multiply: an int product overflows
    (ARITHMETIC_OVERFLOW under ANSI) once the value reaches 2^31."""
    high = _le16(payload, pos + 2).cast("bigint")
    return _le16(payload, pos) + high * F.lit(65536)


def with_audio_header_meta(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """REAL header-level audio metadata decode for canonical WAV
    (RIFF) files, pure byte expressions: 'RIFF'+'WAVE' signature with
    the fmt chunk in the canonical position (bytes 13-16 = 'fmt ') —
    channels (LE16 @23), sample rate (LE32 @25), bits per sample
    (LE16 @35). Non-canonical chunk orders (rare) and compressed
    codecs parse as nulls — variable-offset chunk walking stays with
    the pixel/PCM decode stub. Appends (audio_format, sample_rate_hz,
    n_channels, bits_per_sample)."""
    p = F.col(payload_col)
    is_wav = (
        (F.length(p) >= 36)
        & _sig(p, 1, "RIFF")
        & _sig(p, 9, "WAVE")
        & _sig(p, 13, "fmt ")
    )
    rate = _le32(p, 25)
    # the LE32 field can hold up to 2^32-1; casting that to int is a
    # non-ANSI wrap to a NEGATIVE rate. Anything past int range is a
    # corrupt header, not a sample rate — null it instead.
    sane_rate = F.when(rate <= F.lit(2147483647), rate.cast("int"))
    return media.select(
        "*",
        F.when(is_wav, "wav").alias("audio_format"),
        F.when(is_wav, sane_rate).alias("sample_rate_hz"),
        F.when(is_wav, _le16(p, 23)).alias("n_channels"),
        F.when(is_wav, _le16(p, 35)).alias("bits_per_sample"),
    )


N_MEDIA_FEATURES = 8

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(DoubleType()), False),
    ]
)


def extract_features(media: DataFrame, n_features: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    The feature math is a deterministic byte-histogram-moment fake
    (stands in for the stubbed decoder, see `decode_media`), but the
    execution path — ``mapInPandas``, Arrow transfer, per-batch
    vectorized numpy, schema contract — is exactly the production
    shape. One narrow stage, no shuffle."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_feats = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
                if len(arr) == 0:
                    arr = np.zeros(1)
                # deterministic "embedding": per-bucket byte-value
                # means — replace with decode_media + model in prod.
                # Means stay UNrounded: byte values are integers, so
                # sum/len is bit-exact and cross-engine reproducible;
                # consumers round at the edge (Python round() is
                # half-even, which diverges from SQL half-away ties).
                buckets = np.array_split(arr, n_features)
                out_feats.append(
                    [float(b.mean()) if len(b) else 0.0 for b in buckets]
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "features": out_feats,
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 4, frame_bytes: int = 16) -> DataFrame:
    """Frame sampling for video rows — pure Spark, no UDF:
    ``sequence`` over frame indices, ``explode``, binary ``substring``
    slices a per-frame payload window. Returns
    (media_id, frame_idx, frame_payload)."""
    video = media.where(F.col("kind") == "video")
    idx = F.explode(
        F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))
    ).alias("frame_idx")
    return video.select("media_id", idx, "payload").select(
        "media_id",
        "frame_idx",
        F.substring(
            F.col("payload"), F.col("frame_idx") * frame_bytes + 1, frame_bytes
        ).alias("frame_payload"),
    )


# ---------------------------------------------------------------------------
# Synthetic media encoders. Each one returns the bytes of one
# spec-compliant file whose decoded values are a closed form of
# (media_id, position) — ``pixel_value`` / ``sample_value`` /
# ``luma_value`` — so the DuckDB oracles recompute them without touching
# binary, and a layout mistake on either side of a round trip mismatches.
# ``synthesize_payloads`` runs them once per row in the module's Arrow
# stage; an argument outside an encoder's envelope raises ValueError and
# fails the job (encoder inputs are the caller's own, never untrusted).
# ---------------------------------------------------------------------------


def pixel_value(media_id: int, k: int) -> int:
    """The deterministic synthetic pixel formula shared by the
    encoders, the DuckDB oracle and the tests: byte k (flattened
    TOP-DOWN row-major RGB) of media ``media_id`` is
    ``(media_id·7 + k·13) mod 256``. The oracle recomputes pixels
    from this closed form, so an encode→binary→decode round trip
    only matches if BOTH sides honor the real file layout (BMP's
    bottom-up rows, BGR order and 4-byte stride padding undone
    correctly)."""
    return (media_id * 7 + k * 13) % 256


def _bmp_file(w: int, h: int, bpp: int, palette: bytes, rows) -> bytes:
    """BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER (BI_RGB, 72 dpi,
    biClrUsed = palette entries) + the BGR0 ``palette`` + ``rows``
    (one bytes object per TOP-DOWN row) stored bottom-up, each
    zero-padded to a 4-byte stride."""
    data = b"".join(r.ljust((len(r) + 3) & ~3, b"\0") for r in reversed(rows))
    off = 54 + len(palette)
    return struct.pack(
        "<2sIIIIiiHHIIiiII", b"BM", off + len(data), 0, off, 40, w, h,
        1, bpp, 0, len(data), 2835, 2835, len(palette) // 4, 0,
    ) + palette + data


def encode_bmp(media_id: int, w: int, h: int) -> bytes:
    """A spec-compliant 24-bit uncompressed BMP (54-byte headers,
    bottom-up rows, BGR byte order, 4-byte row stride) whose logical
    top-down RGB pixels are ``pixel_value(media_id, k)``. ``w``/``h``
    must be ≥ 1."""
    return _bmp_file(w, h, 24, b"", [
        bytes(
            pixel_value(media_id, (r * w + x) * 3 + 2 - c)  # BGR on disk
            for x in range(w)
            for c in range(3)
        )
        for r in range(h)
    ])


def encode_ppm(media_id: int, w: int, h: int) -> bytes:
    """A binary netpbm P6 payload (``P6\\n<w> <h>\\n255\\n`` + raw
    top-down RGB bytes) with ``pixel_value`` pixels."""
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(
        pixel_value(media_id, k) for k in range(w * h * 3)
    )


#: The synthetic 256-entry BGR0 palette of ``encode_bmp8`` (media-
#: independent): entry i is R=(i·5+11)%256, G=(i·3+7)%256, B=(i·9+3)%256.
_BMP8_PALETTE = bytes(
    v
    for i in range(256)
    for v in ((i * 9 + 3) % 256, (i * 3 + 7) % 256, (i * 5 + 11) % 256, 0)
)


def encode_bmp8(media_id: int, w: int, h: int) -> bytes:
    """A spec-compliant 8-bit PALETTED uncompressed BMP (r9): 54-byte
    headers + the full 256-entry ``_BMP8_PALETTE`` + bottom-up index
    rows at 4-byte stride. The index of top-down pixel q is
    ``pixel_value(media_id, q)``, so the decoded RGB bytes have a
    closed form the oracle recomputes."""
    return _bmp_file(w, h, 8, _BMP8_PALETTE, [
        bytes(pixel_value(media_id, r * w + x) for x in range(w))
        for r in range(h)
    ])


def encode_pgm(media_id: int, w: int, h: int) -> bytes:
    """A binary netpbm P5 payload (``P5\\n<w> <h>\\n255\\n`` + raw
    top-down grayscale bytes): gray of pixel q is
    ``pixel_value(media_id, q)``."""
    return b"P5\n%d %d\n255\n" % (w, h) + bytes(
        pixel_value(media_id, q) for q in range(w * h)
    )


#: samples per pixel of each PNG color type
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_predict(ft: int, a: int, b: int, c: int) -> int:
    """RFC 2083 predictor of scanline filter ``ft`` (None / Sub / Up /
    Average / Paeth) from the left ``a``, up ``b`` and up-left ``c``
    bytes — shared by the encoders and ``decode_png``."""
    if ft == 0:
        return 0
    if ft == 1:
        return a
    if ft == 2:
        return b
    if ft == 3:
        return (a + b) // 2
    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def _png_scanlines(media_id, w, h, ct, filtered, depth16) -> bytes:
    """The decompressed scanline stream of a synthetic PNG: ``h`` lines
    of one filter byte + w·bpp data bytes. Reconstructed byte i is
    ``pixel_value(media_id, i)``, except:

    * PALETTED (type 3): the index ``i mod 256`` — with the PLTE of
      ``_png_file`` the decoded RGB byte k is still
      ``pixel_value(media_id, k)`` (39·(q mod 256) ≡ 39q mod 256), so
      the paletted rows share the one closed-form oracle;
    * 16-BIT: even offsets carry the MSB ``pixel_value(media_id, i//2)``
      (big-endian samples), odd ones the independent LSB
      ``(media_id·3 + (i//2)·5) mod 256``, which never reaches the
      flat-RGB output but rides the filters and the Adler-32.

    Lines use filter 0, or with ``filtered`` filter type
    ``(r + media_id) mod 5`` and data bytes ``(recon - pred) mod 256``:
    the decoded image is the same closed form while every image of
    h >= 5 exercises all five RFC 2083 filters."""
    bpp = _PNG_CHANNELS[ct] * (2 if depth16 else 1)
    n = w * bpp
    if ct == 3:
        recon = [i % 256 for i in range(n * h)]
    elif depth16:
        recon = [
            pixel_value(media_id, i // 2) if i % 2 == 0
            else (media_id * 3 + i // 2 * 5) % 256
            for i in range(n * h)
        ]
    else:
        recon = [pixel_value(media_id, i) for i in range(n * h)]
    out = bytearray()
    for r in range(h):
        ft = (r + media_id) % 5 if filtered else 0
        out.append(ft)
        for x in range(n):
            i = r * n + x
            a = recon[i - bpp] if x >= bpp else 0
            b = recon[i - n] if r > 0 else 0
            c = recon[i - n - bpp] if (r > 0 and x >= bpp) else 0
            out.append((recon[i] - _png_predict(ft, a, b, c)) % 256)
    return bytes(out)


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    """One PNG chunk: length, type, data and its real CRC-32."""
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data))
    )


def _png_file(name, media_id, w, h, ct, filtered, depth16, deflate):
    """Signature, IHDR, (PLTE), one IDAT and IEND around the scanline
    stream of ``_png_scanlines``. The IDAT's zlib stream is ``78 01``
    + ``deflate(scanlines)`` + the real Adler-32; a PALETTED file's
    256-entry PLTE has byte t = ``pixel_value(media_id, t)``.

    Raises ``ValueError`` (prefixed with the encoder's ``name``) for an
    invalid color type, a 16-bit palette, or a scanline stream beyond
    ``_PNG_FH_MAX_RAW`` bytes — one guard for all three deflate modes:
    it is the stored block's 16-bit LEN limit and the raw bound every
    Huffman decode path enforces, so an oversize fixture fails the job
    instead of becoming a PNG that every decoder rejects."""
    if ct not in _PNG_CHANNELS:
        raise ValueError(f"{name}: unsupported color type {ct}")
    if depth16 and ct == 3:
        raise ValueError(f"{name}: 16-bit palette is invalid")
    raw_n = h * (w * _PNG_CHANNELS[ct] * (2 if depth16 else 1) + 1)
    if raw_n > _PNG_FH_MAX_RAW:
        raise ValueError(
            f"{name}: raw scanline stream h*(w*bpp+1) = {raw_n} bytes "
            f"exceeds the one-block bound ({_PNG_FH_MAX_RAW})"
        )
    raw = _png_scanlines(media_id, w, h, ct, filtered, depth16)
    ihdr = struct.pack(">IIBBBBB", w, h, 16 if depth16 else 8, ct, 0, 0, 0)
    plte = b""
    if ct == 3:
        plte = _png_chunk(
            b"PLTE", bytes(pixel_value(media_id, t) for t in range(768))
        )
    zdata = b"\x78\x01" + deflate(raw) + struct.pack(">I", zlib.adler32(raw))
    return (
        _PNG_MAGIC + _png_chunk(b"IHDR", ihdr) + plte
        + _png_chunk(b"IDAT", zdata) + _png_chunk(b"IEND", b"")
    )


def _pack_bits(bits) -> bytes:
    """Stream-order bits packed LSB-first into zero-padded bytes — the
    bit order of deflate (RFC 1951 §3.1.1) and of GIF LZW."""
    return bytes(
        sum(b << t for t, b in enumerate(bits[i:i + 8]))
        for i in range(0, len(bits), 8)
    )


def _msb_bits(code: int, n: int) -> list:
    """The ``n`` bits of a Huffman ``code``, MSB first."""
    return [(code >> s) & 1 for s in range(n - 1, -1, -1)]


def _deflate_stored(raw: bytes) -> bytes:
    """One final STORED deflate block (BTYPE=00): header, LEN, NLEN."""
    return struct.pack("<BHH", 1, len(raw), 65535 - len(raw)) + raw


def encode_png(
    media_id: int,
    w: int,
    h: int,
    rgb: bool = False,
    filtered: bool = False,
    color_type: int = None,
    depth16: bool = False,
) -> bytes:
    """A spec-compliant PNG (r11) whose zlib stream is one STORED
    (BTYPE=00, uncompressed) deflate block, with true CRC-32s and
    Adler-32, so a real PNG reader accepts the file byte-for-byte.
    Grayscale 8-bit by default: top-down gray pixel q is
    ``pixel_value(media_id, q)``.

    ``rgb=True`` (r13): color type 2; flat RGB byte k of the image is
    ``pixel_value(media_id, k)``. ``color_type`` (r14) picks any of
    0/2/3/4/6 instead, ``depth16`` 16-bit samples and ``filtered``
    the per-line filters of ``_png_scanlines``: the decoded pixels
    stay the one closed form, so a filter-reconstruction mistake on
    either side mismatches the oracle. Raises ``ValueError`` for
    dims whose raw stream exceeds one stored block (see
    ``_png_file``)."""
    ct = color_type if color_type is not None else (2 if rgb else 0)
    return _png_file(
        "encode_png", media_id, w, h, ct, filtered, depth16, _deflate_stored
    )


def sample_value(media_id: int, i: int) -> int:
    """The deterministic synthetic 8-bit PCM sample formula shared by
    the WAV encoder, the DuckDB oracle and the tests: sample i of
    media ``media_id`` is ``(media_id·11 + i·17) mod 256``."""
    return (media_id * 11 + i * 17) % 256


def encode_wav(media_id: int, n_samples: int, sample_rate: int) -> bytes:
    """A spec-compliant 8-bit mono PCM WAV (canonical 44-byte
    RIFF/WAVE header: 16-byte fmt chunk, audio format 1 = PCM, one
    channel, 8 bits/sample, byte rate = block align · rate) whose
    samples are ``sample_value(media_id, i)``. Uncompressed PCM needs
    no codec library; ``decode_samples`` decodes it with the stdlib
    twin ``decode_audio``."""
    return struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", n_samples + 36, b"WAVE", b"fmt ",
        16, 1, 1, sample_rate, sample_rate, 1, 8, b"data", n_samples,
    ) + bytes(sample_value(media_id, i) for i in range(n_samples))


def synthesize_decodable_audio(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Tiny REAL WAV files derived from ``documents`` ids — the audio
    twin of ``synthesize_decodable_media``: n_samples ∈ 4..28, sample
    rate ∈ {8000, 12000, 16000, 20000} Hz, both closed forms of the
    id (Spark expressions, so the oracle recomputes them without
    touching binary); ``encode_wav`` builds each payload in the Arrow
    stage of ``synthesize_payloads``."""
    mid = F.col("media_id")
    n = (mid % 25 + 4).cast("int")
    rate = (F.lit(8000) + (mid % 4) * 4000).cast("int")
    ids = docs.select(F.col(id_col).alias("media_id"))
    return synthesize_payloads(ids.select(mid, n, rate), encode_wav).select(
        mid,
        F.lit("audio").alias("kind"),
        "payload",
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            rate.alias("sample_rate"),
            F.lit(1).alias("n_frames"),
            F.lit("wav").alias("format"),
        ).alias("meta"),
    )


_AUDIO_FIELDS = [
    StructField("audio_format", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("samples", ArrayType(IntegerType())),
]


def decode_samples(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """REAL audio decode of canonical 8-bit mono PCM WAV: returns
    (media_id, audio_format, sample_rate, n_samples, samples) with
    ``samples`` the unsigned 8-bit PCM array. Runs ``decode_audio``
    once per payload in the module's Arrow stage; a payload it
    rejects (multi-channel, 16-bit, extensible-fmt, truncated, null)
    gives one row whose other columns are null, so the operator is
    total and one corrupt payload never fails the job. Compressed
    audio (MP3/AAC/...) still requires codec libraries, as documented
    on ``decode_media``."""

    def audio_rows(_media_id, payload):
        try:
            rate, samples = decode_audio(payload)
        except Exception:  # the null row is the reject report
            return [(None,) * 4]
        return [("wav", rate, len(samples), samples)]

    return _arrow_stage(
        media.select("media_id", payload_col), _AUDIO_FIELDS, audio_rows
    )


def decode_audio(payload: bytes):
    """Single-payload WAV decode — what ``decode_samples`` runs per
    row: returns ``(sample_rate, samples)`` for a canonical 8-bit mono
    PCM WAV (RIFF/WAVE magic, 16-byte fmt chunk at byte 12, PCM=1,
    mono, block align 1, 8 bits, then a non-empty in-bounds 'data'
    chunk), raises on anything else, including a sample rate beyond
    int32 (a corrupt header, as in ``with_audio_header_meta``)."""
    if len(payload) < 45 or payload[:4] != b"RIFF" or payload[8:16] != b"WAVEfmt ":
        raise ValueError("not a canonical RIFF/WAVE payload")
    fmt_size, = struct.unpack_from("<I", payload, 16)
    audio_fmt, channels = struct.unpack_from("<HH", payload, 20)
    rate, = struct.unpack_from("<I", payload, 24)
    align, bits = struct.unpack_from("<HH", payload, 32)
    if (fmt_size, audio_fmt, channels, align, bits) != (16, 1, 1, 1, 8):
        raise ValueError(
            f"unsupported WAV variant (fmt_size={fmt_size} fmt={audio_fmt} "
            f"ch={channels} align={align} bits={bits})"
        )
    if rate > 2147483647:
        raise ValueError(f"sample rate {rate} beyond int32")
    if payload[36:40] != b"data":
        raise ValueError("missing canonical data chunk")
    n, = struct.unpack_from("<I", payload, 40)
    if n == 0 or 44 + n > len(payload):
        raise ValueError("data chunk length out of bounds")
    return rate, list(payload[44:44 + n])


def luma_value(media_id: int, f: int, q: int) -> int:
    """The deterministic synthetic luma formula shared by the Y4M
    encoder, the DuckDB oracle and the tests: luma byte q of frame f
    of media ``media_id`` is ``(media_id·7 + f·31 + q·13) mod 256``."""
    return (media_id * 7 + f * 31 + q * 13) % 256


#: A Y4M stream header must end within this many bytes (``decode_video``).
_Y4M_HEADER_CAP = 80


def encode_y4m(media_id: int, w: int, h: int, n_frames: int) -> bytes:
    """A spec-compliant uncompressed YUV4MPEG2 stream (mono chroma —
    ``Cmono``, so each frame is exactly w·h luma bytes after its
    ``FRAME\\n`` marker) whose frame-f luma plane is
    ``luma_value(media_id, f, ·)``. Y4M is the standard uncompressed
    interchange format (what ffmpeg pipes), and like BMP/PPM/WAV it
    needs no codec library; ``decode_y4m_frames`` decodes it with the
    stdlib twin ``decode_video``."""
    return b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 Cmono\n" % (w, h) + b"".join(
        b"FRAME\n" + bytes(luma_value(media_id, f, q) for q in range(w * h))
        for f in range(n_frames)
    )


def synthesize_decodable_video(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Tiny REAL Y4M streams derived from ``documents`` ids — the
    video twin of ``synthesize_decodable_media``: w ∈ 2..5, h ∈ 2..4,
    n_frames ∈ 1..5, all closed forms of the id; ``encode_y4m``
    builds each payload in the Arrow stage of
    ``synthesize_payloads``."""
    mid = F.col("media_id")
    w = (mid % 4 + 2).cast("int")
    h = (mid % 3 + 2).cast("int")
    n = (mid % 5 + 1).cast("int")
    ids = docs.select(F.col(id_col).alias("media_id"))
    return synthesize_payloads(ids.select(mid, w, h, n), encode_y4m).select(
        mid,
        F.lit("video").alias("kind"),
        "payload",
        F.struct(
            w.alias("width"),
            h.alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            n.alias("n_frames"),
            F.lit("y4m").alias("format"),
        ).alias("meta"),
    )


_VIDEO_FIELDS = [
    StructField("video_format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("frame_idx", IntegerType()),
    StructField("luma", ArrayType(IntegerType())),
]


def decode_y4m_frames(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """REAL video decode of uncompressed YUV4MPEG2 (mono chroma): ONE
    ROW PER FRAME — (media_id, video_format, width, height, n_frames,
    frame_idx, luma) with ``luma`` the frame's top-down w·h luma
    plane. Runs ``decode_video`` once per payload in the module's
    Arrow stage; a payload it rejects (non-mono chroma, a header past
    ``_Y4M_HEADER_CAP``, a corrupt ``FRAME`` marker, a length that is
    not whole frames, null) gives one row whose other columns are
    null, so the operator is total and never fails the job."""

    def frame_rows(_media_id, payload):
        try:
            w, h, frames = decode_video(payload)
        except Exception:  # the null row is the reject report
            return [(None,) * 6]
        n = len(frames)
        return [("y4m", w, h, n, i, luma) for i, luma in enumerate(frames)]

    return _arrow_stage(
        media.select("media_id", payload_col), _VIDEO_FIELDS, frame_rows
    )


def audio_features(decoded: DataFrame) -> DataFrame:
    """Classic per-clip audio features over REAL decoded PCM (r10):
    (media_id, n_samples, mean_level, rms, peak, zero_crossings) from
    ``decode_samples`` output — one shuffle-free projection per clip,
    the shape that holds when the clip table is 100 TB.

    * mean_level / rms: 6dp-rounded mean and root-mean-square of the
      unsigned samples (integer sums underneath, so both engines
      round the same doubles);
    * peak: max sample;
    * zero_crossings: sign changes of the DC-centered signal
      (8-bit PCM silence = 128) — the standard noisiness feature.
    Undecodable rows pass through with null features."""
    s = F.col("samples")
    n = F.size(s)
    total = F.aggregate(
        s, F.lit(0).cast("bigint"), lambda a, v: a + v.cast("bigint")
    )
    sumsq = F.aggregate(
        s,
        F.lit(0).cast("bigint"),
        lambda a, v: a + v.cast("bigint") * v.cast("bigint"),
    )
    # n == 1 guard (r10 advice): sequence(1, n-1) with n=1 yields the
    # DESCENDING [1, 0] and element_at(s, 0) raises — a single-sample
    # clip has zero crossings by definition, so gate the fold.
    zc = F.when(
        n >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), n - 1),
                lambda i: (F.element_at(s, i) - 128)
                * (F.element_at(s, i + 1) - 128)
                < 0,
            )
        ),
    ).otherwise(F.lit(0))
    return decoded.select(
        "media_id",
        "n_samples",
        F.when(
            s.isNotNull(),
            F.round(total / n.cast("double"), 6),
        ).alias("mean_level"),
        F.when(
            s.isNotNull(),
            F.round(F.sqrt(sumsq / n.cast("double")), 6),
        ).alias("rms"),
        F.when(s.isNotNull(), F.array_max(s)).alias("peak"),
        F.when(s.isNotNull(), zc).cast("int").alias("zero_crossings"),
    )


def resize_frames_nearest(
    frames: DataFrame, out_w: int, out_h: int
) -> DataFrame:
    """Nearest-neighbor resize of decoded VIDEO frames (r11): the
    single-channel sibling of ``resize_nearest``, over
    ``decode_y4m_frames`` output — fixed-resolution frame
    preprocessing, one shuffle-free projection, exact integer index
    mapping, total over null rows. Returns (media_id, frame_idx,
    width, height, out_w, out_h, luma) with ``luma`` the resized
    top-down plane."""
    if out_w < 1 or out_h < 1:
        raise ValueError("out_w and out_h must be >= 1")
    w = F.col("width").cast("bigint")
    h = F.col("height").cast("bigint")

    def out_px(q):
        y = F.floor(q / out_w).cast("bigint")
        x = F.pmod(q, F.lit(out_w))
        src_x = F.floor((x * w) / F.lit(out_w)).cast("bigint")
        src_y = F.floor((y * h) / F.lit(out_h)).cast("bigint")
        return F.element_at(
            F.col("luma"), (src_y * w + src_x + 1).cast("int")
        )

    resized = F.transform(
        F.sequence(F.lit(0), F.lit(out_w * out_h - 1)), out_px
    )
    return frames.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        F.lit(out_w).alias("out_w"),
        F.lit(out_h).alias("out_h"),
        F.when(F.col("luma").isNotNull(), resized).alias("luma"),
    )


def audio_frames(
    decoded: DataFrame, frame_len: int = 8, hop: int = 4
) -> DataFrame:
    """Windowed audio framing over REAL decoded PCM (r11): the
    short-time analysis primitive under VAD / silence-trimming /
    feature pipelines — ``audio_features`` is one global summary per
    clip; this emits one row PER FRAME of ``frame_len`` samples at
    ``hop`` stride with the frame's energy stats:
    (media_id, frame_idx, frame_start, n_frame_samples, frame_rms,
    frame_peak). The last frame may be short (>= 1 sample — standard
    framing semantics); a clip shorter than one hop still yields its
    single short frame. One explode + per-frame slice folds, no
    shuffle — the per-clip work is O(n_samples · frame_len / hop) of
    codegen'd integer arithmetic. rms is the 6dp-rounded sqrt of an
    exact integer mean, so every value oracles. Undecodable rows pass
    through as one null-frame row."""
    if frame_len < 1 or hop < 1:
        raise ValueError("frame_len and hop must be >= 1")
    s = F.col("samples")
    n = F.size(s)
    # frames start at 0, hop, 2·hop, ... while start < n
    n_frames = F.when(n >= 1, F.floor((n - 1) / hop).cast("int") + 1)
    framed = decoded.select(
        "media_id",
        "n_samples",
        s.alias("__s"),
        F.explode_outer(
            F.when(
                n_frames.isNotNull(),
                F.sequence(F.lit(0), n_frames - 1),
            )
        ).alias("frame_idx"),
    )
    start = F.col("frame_idx").cast("bigint") * hop
    flen = F.least(
        F.lit(frame_len).cast("bigint"),
        F.size(F.col("__s")).cast("bigint") - start,
    )
    frame = F.slice(F.col("__s"), (start + 1).cast("int"), flen.cast("int"))
    sumsq = F.aggregate(
        frame,
        F.lit(0).cast("bigint"),
        lambda a, v: a + v.cast("bigint") * v.cast("bigint"),
    )
    return framed.select(
        "media_id",
        F.col("frame_idx"),
        F.when(F.col("frame_idx").isNotNull(), start).cast("int").alias(
            "frame_start"
        ),
        F.when(F.col("frame_idx").isNotNull(), flen).cast("int").alias(
            "n_frame_samples"
        ),
        F.when(
            F.col("frame_idx").isNotNull(),
            F.round(F.sqrt(sumsq / flen.cast("double")), 6),
        ).alias("frame_rms"),
        F.when(
            F.col("frame_idx").isNotNull(), F.array_max(frame)
        ).alias("frame_peak"),
    )


def frame_motion(frames: DataFrame) -> DataFrame:
    """Per-frame motion intensity over REAL decoded video (r10):
    (media_id, frame_idx, motion) where motion is the 6dp-rounded
    mean absolute luma difference against the PREVIOUS frame — the
    standard shot-boundary / activity signal. One window keyed by
    media (``lag`` of the luma plane, partition = clip — bounded rows
    per clip however large the table, the natural video shuffle key),
    then a shuffle-free zip_with fold. Frame 0 has no predecessor →
    null motion."""
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("frame_idx")
    prev = F.lag("luma").over(w)
    diff = F.aggregate(
        F.zip_with(
            F.col("luma"), prev, lambda a, b: F.abs(a.cast("bigint") - b)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return frames.select(
        "media_id",
        "frame_idx",
        F.when(
            prev.isNotNull() & F.col("luma").isNotNull(),
            F.round(diff / F.size("luma").cast("double"), 6),
        ).alias("motion"),
    )


def decode_video(payload: bytes):
    """Single-payload Y4M decode — what ``decode_y4m_frames`` runs per
    row: returns ``(w, h, [frame0_luma, frame1_luma, ...])`` for a
    canonical mono stream (``YUV4MPEG2 W<w> H<h> F<n>:<d> ... Cmono``
    header ending within ``_Y4M_HEADER_CAP`` bytes, then whole frames
    of ``FRAME\\n`` + w·h luma bytes, every marker checked), raises
    on anything else."""
    import re as _re

    m = _re.match(rb"^YUV4MPEG2 W(\d+) H(\d+) F\d+:\d+[^\n]*Cmono[^\n]*\n", payload)
    if not m or m.end() > _Y4M_HEADER_CAP:
        raise ValueError(
            "not a canonical mono YUV4MPEG2 payload (header must end "
            f"within {_Y4M_HEADER_CAP} bytes)"
        )
    w, h = int(m.group(1)), int(m.group(2))
    off, fsize = m.end(), w * h + 6
    body = len(payload) - off
    if w <= 0 or h <= 0 or body <= 0 or body % fsize != 0:
        raise ValueError("Y4M frame data length mismatch")
    frames = []
    for f in range(body // fsize):
        s = off + f * fsize
        if payload[s:s + 6] != b"FRAME\n":
            raise ValueError(f"missing FRAME marker at frame {f}")
        frames.append(list(payload[s + 6:s + fsize]))
    return w, h, frames


def resize_nearest(
    decoded: DataFrame, out_w: int, out_h: int
) -> DataFrame:
    """Nearest-neighbor resize over REAL decoded pixels (r11): the
    standard image-preprocessing step of a multimodal training
    pipeline (fixed input resolution), as ONE shuffle-free projection
    over ``decode_pixels`` output — output pixel (x, y) samples input
    pixel ``(floor(x·w/out_w), floor(y·h/out_h))`` per channel, the
    textbook integer mapping (exact BIGINT arithmetic, so the oracle
    recomputes every byte from the closed form). Non-decodable rows
    (null pixels) stay one null row, keeping the operator total.
    Returns (media_id, img_format, width, height, out_w, out_h,
    pixels) with ``pixels`` the resized top-down RGB array."""
    if out_w < 1 or out_h < 1:
        raise ValueError("out_w and out_h must be >= 1")
    w = F.col("width").cast("bigint")
    h = F.col("height").cast("bigint")

    def out_byte(k):
        q = F.floor(k / 3).cast("bigint")
        c = F.pmod(k, F.lit(3))
        y = F.floor(q / out_w).cast("bigint")
        x = F.pmod(q, F.lit(out_w))
        src_x = F.floor((x * w) / F.lit(out_w)).cast("bigint")
        src_y = F.floor((y * h) / F.lit(out_h)).cast("bigint")
        return F.element_at(
            F.col("pixels"),
            ((src_y * w + src_x) * 3 + c + 1).cast("int"),
        )

    resized = F.transform(
        F.sequence(F.lit(0), F.lit(out_w * out_h * 3 - 1)), out_byte
    )
    return decoded.select(
        "media_id",
        "img_format",
        "width",
        "height",
        F.lit(out_w).alias("out_w"),
        F.lit(out_h).alias("out_h"),
        F.when(F.col("pixels").isNotNull(), resized).alias("pixels"),
    )


def decode_png(
    payload: bytes,
    fixed_huffman: bool = False,
    dynamic_huffman: bool = False,
    filters: bool = False,
    palette: bool = False,
    depth16: bool = False,
):
    """Single-payload PNG decode — the decoder ``decode_pixels`` runs
    per row in its Arrow-batched stage (the ``png_*`` flags map to
    the keywords here). Returns ``(w, h, rgb_pixels)`` (gray expanded
    to R=G=B, alpha dropped, flattened top-down) for an 8-bit PNG of
    color type 0/2/4/6 in stored-deflate blocks with filter-0
    scanlines; raises on anything else. stdlib only, and deliberately
    NOT ``zlib.decompress`` for the deflate payload: the blocks are
    parsed by hand under a bounded envelope (single IDAT,
    ``_PNG_MAX_CHUNKS`` / ``_PNG_MAX_BLOCKS`` caps, only the enabled
    block types), so a Huffman-compressed PNG that zlib could
    inflate raises unless its flag is set. ``zlib.crc32`` /
    ``zlib.adler32`` verify the checksums.

    ``fixed_huffman`` (r12): a single FINAL fixed-Huffman block
    (BTYPE=01, ``_inflate_fixed_py``) decodes. ``dynamic_huffman``
    (r13) likewise: a single FINAL BTYPE=10 block
    (``_inflate_dyn_py``). Anything outside the enabled set — and
    multi/non-final compressed blocks — still raises.

    ``palette`` (r14): color type 3 decodes — index bytes (one per
    pixel, filters apply to them) looked up in THE PLTE chunk that
    precedes the first IDAT (exactly one, length a multiple of 3 in
    [3, 768]); any index >= the entry count raises.

    ``filters`` (r14): scanline filters 1-4 (Sub/Up/Average/Paeth)
    are reconstructed; the flag also narrows the stored-envelope raw
    cap to ``_PNG_FH_MAX_RAW``.

    ``depth16`` (r14): 16-bit samples of color types 0/2/4/6 decode
    to their MSB (the standard 8-bit downsample); the LSBs still
    pass through the filters and the Adler-32."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    if struct.unpack(">I", payload[8:12])[0] != 13 or payload[12:16] != b"IHDR":
        raise ValueError("first chunk is not a 13-byte IHDR")
    if zlib.crc32(payload[12:29]) != struct.unpack(">I", payload[29:33])[0]:
        raise ValueError("IHDR CRC mismatch")
    w, h = struct.unpack(">II", payload[16:24])
    depth, ctype, comp, filt, interlace = payload[24:29]
    ctypes_ok = (0, 2, 3, 4, 6) if palette else (0, 2, 4, 6)
    depths_ok = (8, 16) if depth16 else (8,)
    if (
        depth not in depths_ok
        or ctype not in ctypes_ok
        or (depth == 16 and ctype == 3)  # invalid per spec
        or (comp, filt, interlace) != (0, 0, 0)
        or w <= 0
        or h <= 0
    ):
        raise ValueError(
            "unsupported IHDR (need 8-bit color type "
            + ("0/2/3/4/6" if palette else "0/2/4/6")
            + (" or 16-bit non-palette" if depth16 else "")
            + ", no interlace)"
        )
    bpp = _PNG_CHANNELS[ctype] * (2 if depth == 16 else 1)

    pos, idat, n_idat, done = 33, b"", 0, False
    plte_data, n_plte = None, 0
    for _ in range(_PNG_MAX_CHUNKS):
        if pos + 12 > len(payload):
            raise ValueError("truncated chunk header")
        clen = struct.unpack(">I", payload[pos:pos + 4])[0]
        if pos + 12 + clen > len(payload):
            raise ValueError("truncated chunk body")
        ctag = payload[pos + 4:pos + 8]
        if zlib.crc32(payload[pos + 4:pos + 8 + clen]) != struct.unpack(
            ">I", payload[pos + 8 + clen:pos + 12 + clen]
        )[0]:
            raise ValueError(f"chunk {ctag!r} CRC mismatch")
        if ctag == b"IEND":
            done = True
            break
        if ctag == b"IDAT":
            idat, n_idat = payload[pos + 8:pos + 8 + clen], n_idat + 1
        # only PLTE chunks BEFORE the first IDAT are considered
        # (per the spec's chunk order)
        if ctag == b"PLTE" and n_idat == 0:
            if plte_data is None:
                plte_data = payload[pos + 8:pos + 8 + clen]
            n_plte += 1
        pos += 12 + clen
    if not done:
        raise ValueError(f"no IEND within {_PNG_MAX_CHUNKS} chunks")
    if n_idat != 1:
        raise ValueError(f"need exactly one IDAT, saw {n_idat}")
    if len(idat) < 11:
        raise ValueError("IDAT too short for a zlib stream")

    cmf, flg = idat[0], idat[1]
    if cmf % 16 != 8 or (cmf * 256 + flg) % 31 != 0 or flg & 0x20:
        raise ValueError("bad zlib header")
    if fixed_huffman and (idat[2] & 7) == 3:
        if h * (w * bpp + 1) > _PNG_FH_MAX_RAW:
            raise ValueError("fixed-Huffman raw size beyond bound")
        raw, endbit = _inflate_fixed_py(idat[2:-4])
        if (endbit + 7) // 8 > len(idat) - 6:
            raise ValueError("fixed-Huffman stream overruns data bytes")
    elif dynamic_huffman and (idat[2] & 7) == 5:
        if h * (w * bpp + 1) > _PNG_FH_MAX_RAW:
            raise ValueError("dynamic-Huffman raw size beyond bound")
        raw, endbit = _inflate_dyn_py(idat[2:-4])
        if (endbit + 7) // 8 > len(idat) - 6:
            raise ValueError("dynamic-Huffman stream overruns data bytes")
    else:
        raw, bpos, final = b"", 2, False
        for _ in range(_PNG_MAX_BLOCKS):
            hb = idat[bpos]
            if (hb >> 1) & 3 != 0:
                raise ValueError("non-stored deflate block (codec-bound)")
            blen, nlen = struct.unpack("<HH", idat[bpos + 1:bpos + 5])
            if nlen != 65535 - blen or bpos + 5 + blen > len(idat) - 4:
                raise ValueError("stored block length mismatch")
            raw += idat[bpos + 5:bpos + 5 + blen]
            final = bool(hb & 1)
            bpos += 5 + blen
            if final:
                break
        if not final:
            raise ValueError(
                f"no final block within {_PNG_MAX_BLOCKS} blocks"
            )
        if bpos != len(idat) - 4:
            raise ValueError("trailing bytes between blocks and Adler-32")
    if zlib.adler32(raw) != struct.unpack(">I", idat[-4:])[0]:
        raise ValueError("Adler-32 mismatch")
    stride = w * bpp + 1
    if len(raw) != h * stride:
        raise ValueError("scanline stream length mismatch")
    if filters and len(raw) > _PNG_FH_MAX_RAW:
        raise ValueError("filtered-mode raw size beyond shared bound")
    dstride = w * bpp  # data bytes per line (filter byte stripped)
    recon = []
    for r in range(h):
        row = raw[r * stride:(r + 1) * stride]
        ft = row[0]
        if not filters:
            if ft != 0:
                raise ValueError(
                    f"scanline {r} uses filter {ft} (only 0)"
                )
            recon += list(row[1:])
            continue
        if ft > 4:
            raise ValueError(f"scanline {r} uses unknown filter {ft}")
        for x, fx in enumerate(row[1:]):
            a = recon[r * dstride + x - bpp] if x >= bpp else 0
            b = recon[(r - 1) * dstride + x] if r > 0 else 0
            c = (
                recon[(r - 1) * dstride + x - bpp]
                if (r > 0 and x >= bpp)
                else 0
            )
            recon.append((fx + _png_predict(ft, a, b, c)) % 256)
    if depth == 16:
        # big-endian samples: the MSB (even offsets) is the standard
        # 8-bit downsample; LSBs were integrity-checked by Adler-32
        recon = recon[0::2]
    pixels = []
    if ctype == 3:
        if n_plte != 1:
            raise ValueError(
                f"need exactly one PLTE before IDAT, saw {n_plte}"
            )
        if len(plte_data) % 3 != 0 or not 3 <= len(plte_data) <= 768:
            raise ValueError(f"bad PLTE length {len(plte_data)}")
        n_entries = len(plte_data) // 3
        for idx in recon:
            if idx >= n_entries:
                raise ValueError(
                    f"palette index {idx} >= {n_entries} entries"
                )
            pixels += list(plte_data[3 * idx:3 * idx + 3])
    elif ctype == 2:
        pixels = recon
    elif ctype == 6:          # RGBA: drop every 4th (alpha) byte
        pixels = [b for i, b in enumerate(recon) if i % 4 != 3]
    elif ctype == 4:          # gray+alpha: gray byte expands, alpha drops
        for i in range(0, len(recon), 2):
            g = recon[i]
            pixels += [g, g, g]
    else:
        for g in recon:
            pixels += [g, g, g]
    return w, h, pixels


def synthesize_decodable_media(
    docs: DataFrame, id_col: str = "doc_id", formats=("bmp", "ppm")
) -> DataFrame:
    """Tiny REAL image files derived from ``documents`` ids — the
    first format in ``formats`` for even ids, the second for odd — so
    the pixel-decode path runs against actual encoded binaries on
    real testdata. Dimensions are small (w ∈ 2..6, h ∈ 2..5) to keep
    the decoded pixel arrays oracle-comparable; they and the ``meta``
    struct are Spark expressions of the id, while the payload is
    built by the format's Python encoder (``_media_encoders``) in the
    Arrow stage of ``synthesize_payloads``. Formats: 'bmp' (24-bit),
    'ppm' (P6), 'bmp8' (8-bit paletted, r9), 'pgm' (P5, r9), 'png'
    (grayscale-8 stored-deflate, r11), 'pngf' (fixed-Huffman, r12),
    'pngd' (dynamic-Huffman, r13), 'pngc' / 'pngdc' (RGB
    color-type-2, stored / dynamic, r13), 'pngflt' / 'pngfltc' /
    'pngdflt' / 'pngdfltc' (scanline-FILTERED gray/RGB ×
    stored/dynamic, filters (r+id) mod 5, r14), and the alpha,
    paletted, 16-bit and GIF formats listed in ``_media_encoders``."""
    even_fmt, odd_fmt = formats
    encoders = _media_encoders()
    even, odd = encoders[even_fmt], encoders[odd_fmt]

    def encode(media_id, w, h):
        return (odd if media_id % 2 else even)(media_id, w, h)

    mid = F.col("media_id")
    w = (mid % 5 + 2).cast("int")
    h = (mid % 4 + 2).cast("int")
    ids = docs.select(F.col(id_col).alias("media_id"))
    return synthesize_payloads(ids.select(mid, w, h), encode).select(
        mid,
        F.lit("image").alias("kind"),
        "payload",
        F.struct(
            w.alias("width"),
            h.alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(1).alias("n_frames"),
            F.when(mid % 2 == 0, even_fmt).otherwise(odd_fmt).alias(
                "format"
            ),
        ).alias("meta"),
    )


def _media_encoders():
    """Format name → Python encoder ``(media_id, w, h) -> bytes`` for
    ``synthesize_decodable_media``."""
    return {
        "bmp": encode_bmp,
        "ppm": encode_ppm,
        "bmp8": encode_bmp8,
        "pgm": encode_pgm,
        "png": encode_png,
        "pngf": encode_png_fixed,  # r12: fixed-Huffman zlib stream
        "pngd": encode_png_dyn,    # r13: dynamic-Huffman zlib stream
        # r13: RGB (color type 2) variants — stored and dynamic
        "pngc": partial(encode_png, rgb=True),
        "pngdc": partial(encode_png_dyn, rgb=True),
        # r14: scanline-FILTERED variants (filters (r+id) mod 5 —
        # Sub/Up/Average/Paeth exercised) — stored gray / stored RGB /
        # dynamic gray / dynamic RGB
        "pngflt": partial(encode_png, filtered=True),
        "pngfltc": partial(encode_png, rgb=True, filtered=True),
        "pngdflt": partial(encode_png_dyn, filtered=True),
        "pngdfltc": partial(encode_png_dyn, rgb=True, filtered=True),
        # r14: alpha-carrying color types — gray+alpha (4) stored,
        # RGBA (6) stored, and RGBA dynamic+filtered (the full
        # real-world libpng shape)
        "pngga": partial(encode_png, color_type=4),
        "pnga": partial(encode_png, color_type=6),
        "pngdflta": partial(encode_png_dyn, filtered=True, color_type=6),
        # r14: PALETTED (color type 3) — stored, stored+filtered,
        # dynamic, and dynamic+filtered (indexed icons as libpng
        # emits them); indices filter through the 1-byte stride and
        # map through the real PLTE chunk on decode
        "pngp": partial(encode_png, color_type=3),
        "pngpflt": partial(encode_png, color_type=3, filtered=True),
        "pngdp": partial(encode_png_dyn, color_type=3),
        "pngdfltp": partial(encode_png_dyn, color_type=3, filtered=True),
        # r14: 16-BIT variants — stored gray16 and the fullest
        # composition (DH + filters + RGBA + 16-bit); MSBs carry the
        # closed form, LSBs ride the filters and the Adler-32
        "png16": partial(encode_png, depth16=True),
        "pngdflta16": partial(
            encode_png_dyn, color_type=6, filtered=True, depth16=True
        ),
        # r14: REAL GIFs — 'gif' the uncompressed-shape root-code
        # stream under a 256-entry table, 'gifz' a genuinely
        # dictionary-compressed LZW stream (4-color periodic indices)
        "gif": encode_gif,
        "gifz": encode_gif_lzw,
        # r14: 4-pass INTERLACED variants — pass-permuted streams the
        # decoder must re-order (both the root-code and the real-LZW
        # shapes)
        "gifi": partial(encode_gif, interlaced=True),
        # r14: LOCAL-color-table-only GIF (no global table)
        "gifl": partial(encode_gif, lct=True),
        "gifzi": partial(encode_gif_lzw, interlaced=True),
    }


#: Bounded-walk limits of ``decode_png`` (pinned by tests). Real
#: single-image PNGs reach IEND within a handful of chunks; the
#: stored-deflate stream of a ≤64 KB-per-block image fits a few
#: blocks.
_PNG_MAX_CHUNKS = 8
_PNG_MAX_BLOCKS = 4


#: formats decode_pixels can dispatch on
_DECODE_FORMATS = ("bmp", "bmp8", "ppm", "pgm", "png", "gif")

#: leading payload bytes → the format ``decode_pixels`` dispatches to
#: (``_image_format`` splits 'BM' by bpp into 'bmp' and 'bmp8')
_IMAGE_SIGS = (
    (b"BM", "bmp"),
    (b"P6\n", "ppm"),
    (b"P5\n", "pgm"),
    (_PNG_MAGIC, "png"),
    (b"GIF8", "gif"),
)

_IMAGE_FIELDS = [
    StructField("img_format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("pixels", ArrayType(IntegerType())),
]


def _image_format(payload):
    """The ``_DECODE_FORMATS`` name ``payload``'s signature claims, or
    None (no signature, or a null payload)."""
    for sig, fmt in _IMAGE_SIGS:
        if payload is not None and payload.startswith(sig):
            if fmt == "bmp" and payload[28:30] == b"\x08\x00":
                return "bmp8"
            return fmt
    return None


def decode_pixels(
    media: DataFrame,
    payload_col: str = "payload",
    formats=None,
    png_fixed_huffman: bool = False,
    png_dynamic_huffman: bool = False,
    png_filters: bool = False,
    png_palette: bool = False,
    png_16bit: bool = False,
) -> DataFrame:
    """REAL pixel decode: returns (media_id, img_format, width,
    height, pixels) where ``pixels`` is the flattened TOP-DOWN
    row-major RGB byte array; a rejected or null payload yields one
    row whose other four columns are null.

    Every format decodes in ONE Arrow-batched Python stage
    (``mapInArrow``): each payload's signature picks its format
    (``_image_format``) and the stdlib decoder runs once per payload —
    ``decode_media`` for BMP (24-bit and 8-bit paletted), PPM (P6) and
    PGM (P5), ``decode_png`` and ``decode_gif``. Any exception a
    decoder raises becomes a null row, so one corrupt payload never
    fails the job. Python here is a measured choice: the same
    envelopes decoded in Catalyst expressions built larger plans and
    ran slower (README.md, "Media decode").

    * PNG: signature + IHDR dispatch, CRC-32 and Adler-32 verified,
      8-bit color types 0/2/4/6 with filter-0 scanlines in stored
      deflate blocks; gray expands to R=G=B and alpha is dropped.
      The ``png_*`` flags widen the envelope (``decode_png``'s
      keyword of the same name): ``png_fixed_huffman`` and
      ``png_dynamic_huffman`` accept one final fixed- or
      dynamic-Huffman deflate block, ``png_filters`` reconstructs
      scanline filters 1-4, ``png_palette`` decodes color type 3
      through the PLTE chunk and ``png_16bit`` decodes 16-bit
      samples to their MSB.
    * GIF (r14): LZW decode of one full-screen image through the
      global or local color table, interlace included
      (``decode_gif``).

    ``formats`` (r12) is the caller's format-inventory CONTRACT: a
    pipeline that knows its media table holds only certain formats
    passes the subset; rows whose actual format falls outside the
    declared set null out. Default ``None`` decodes every format but
    GIF: GIF is decoded only when declared.
    """
    if formats is None:
        fs = set(_DECODE_FORMATS) - {"gif"}
    else:
        fs = set(formats)
        unknown = fs - set(_DECODE_FORMATS)
        if unknown:
            raise ValueError(
                f"decode_pixels: unknown formats {sorted(unknown)}; "
                f"supported: {_DECODE_FORMATS}"
            )
    decoders = {
        "png": partial(
            decode_png,
            fixed_huffman=png_fixed_huffman,
            dynamic_huffman=png_dynamic_huffman,
            filters=png_filters,
            palette=png_palette,
            depth16=png_16bit,
        ),
        "gif": decode_gif,
        **{f: partial(decode_media, fmt=f) for f in ("bmp", "bmp8", "ppm", "pgm")},
    }
    decoders = {f: d for f, d in decoders.items() if f in fs}

    def image_rows(_media_id, payload):
        fmt = _image_format(payload)
        if fmt in decoders:
            try:
                return [(fmt, *decoders[fmt](payload))]
            except Exception:  # the null row is the reject report
                pass
        return [(None,) * 4]

    return _arrow_stage(
        media.select("media_id", payload_col), _IMAGE_FIELDS, image_rows
    )


def synthesize_payloads(frame: DataFrame, encode) -> DataFrame:
    """(media_id, payload) with ``payload = encode(*row)`` for each row
    of ``frame`` (``media_id`` first, then the encoder's other
    arguments) — a Python byte encoder run once per row in the
    module's Arrow stage. An encoder exception fails the job: bad
    encoder arguments are the caller's own error, unlike the
    untrusted payloads that decode turns into null rows."""
    return _arrow_stage(
        frame,
        [StructField("payload", BinaryType())],
        lambda *row: [(encode(*row),)],
    )


def _arrow_stage(frame: DataFrame, fields, rows_of) -> DataFrame:
    """The module's one Arrow-batched Python stage (``mapInArrow``),
    used by synthesis and decode alike: ``rows_of(*row)`` gets each
    input row's values (``media_id`` first) and returns output tuples
    aligned with ``fields``, each emitted after that row's
    ``media_id``. Exceptions propagate and fail the job; the decoders,
    whose payloads are untrusted, catch inside ``rows_of`` instead.
    Narrow, no shuffle: output partitioning inherits the input's."""
    import sys

    from pyspark import cloudpickle
    from pyspark.sql.pandas.types import to_arrow_schema

    # Python workers need not have this package on their path: ship
    # the encoders and decoders by value, not as references to this
    # module
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    schema = StructType(
        [StructField("media_id", frame.schema[0].dataType)] + list(fields)
    )
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            rows = [
                (row[0], *out)
                for row in zip(*(c.to_pylist() for c in batch.columns))
                for out in rows_of(*row)
            ]
            cols = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return frame.mapInArrow(run, schema)


def _header_payload(media_id: int, w: int, h: int) -> bytes:
    """The header stream of ``synthesize_header_media`` for one id:
    JPEG for ``id % 3 == 0`` (SOI, a JFIF APP0, one DQT segment with
    id-keyed table bytes, SOF0 carrying the dims, EOI), PNG for 1
    (signature + IHDR; the CRC is a fixed unchecked filler), GIF for
    2 (GIF87a at even ids, GIF89a at odd, + LE16 screen dims)."""
    if media_id % 3 == 0:
        dqt = bytes((media_id * 7 + q) % 256 for q in range(3))
        return (
            b"\xff\xd8"
            + bytes.fromhex("FFE000104A46494600010100000100010000")
            + b"\xff\xdb\x00\x05" + dqt
            + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", h, w)
            + bytes.fromhex("03011100021101031101")
            + b"\xff\xd9"
        )
    if media_id % 3 == 1:
        return (
            _PNG_MAGIC + bytes.fromhex("0000000D49484452")
            + struct.pack(">II", w, h) + bytes.fromhex("0802000000DEADBEEF")
        )
    sig = b"GIF87a" if media_id % 2 == 0 else b"GIF89a"
    return sig + struct.pack("<HH", w, h) + b"\0\0\0"


def synthesize_header_media(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Real JPEG / PNG / GIF header streams derived from document ids
    (r11, closing the r10 'meta row covering JPEG' ask): doc_id % 3
    dispatches the format; dimensions are the closed forms
    ``w = id % 500 + 16``, ``h = id % 300 + 16`` so an oracle can
    verify the encode→``with_image_header_meta``→dims ROUNDTRIP
    without re-implementing the byte walk (the e6_pixel_decode
    pattern; the hand-built struct.pack golden tests cover the parser
    against an independent encoder).

    The JPEG stream puts the SOF0 behind two variable segments (the
    JFIF APP0 and a DQT), so the parser must walk segment lengths to
    reach the dims. PNG is signature+IHDR at the fixed offset;
    GIF87a/89a alternate by ``id % 2``. The dims are Spark
    expressions; ``_header_payload`` builds each stream in the Arrow
    stage of ``synthesize_payloads``.
    """
    mid = F.col("media_id")
    w = (mid % 500 + 16).cast("int")
    h = (mid % 300 + 16).cast("int")
    ids = docs.select(F.col(id_col).alias("media_id"))
    return synthesize_payloads(ids.select(mid, w, h), _header_payload).select(
        mid, F.lit("image").alias("kind"), "payload"
    )


# --- fixed-Huffman deflate PNG (r12) ------------------------------------
#
# RFC 1951 §3.2.6: deflate block type 01 uses a SPEC-FIXED Huffman
# alphabet (no dynamic code-length tree) — the first class of
# real-world PNGs beyond stored blocks. ``encode_png_fixed`` emits it
# and ``_inflate_fixed_py`` decodes it.
#
# Fixed literal/length codes (MSB-first):
#   0..143   -> 8 bits, code = lit + 0x30      (00110000..10111111)
#   144..255 -> 9 bits, code = lit + 0x100     (110010000..111111111)
#   256..279 -> 7 bits, code = sym - 256       (0000000..0010111)
#   280..287 -> 8 bits, code = sym - 280 + 0xC0 (11000000..11000111)
# Distance codes: 5 bits MSB-first, 0..29. Extra bits (both tables)
# are read LSB-first per RFC 1951 §3.1.1.

_FH_LEN_BASE = [3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27,
                31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195,
                227, 258]
_FH_LEN_EXTRA = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3,
                 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0]
_FH_DIST_BASE = [1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97,
                 129, 193, 257, 385, 513, 769, 1025, 1537, 2049,
                 3073, 4097, 6145, 8193, 12289, 16385, 24577]
_FH_DIST_EXTRA = [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7,
                  7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13]
#: Huffman decode is scoped to streams whose raw size fits one stored
#: block's worth of bytes — same bound the stored path enforces per
#: block; keeps decode bounded on garbage headers.
_PNG_FH_MAX_RAW = 65535


def encode_png_fixed(media_id: int, w: int, h: int) -> bytes:
    """A spec-compliant grayscale-8 PNG whose zlib stream is ONE
    final FIXED-HUFFMAN deflate block (RFC 1951 §3.2.6) carrying the
    scanline bytes as literals + EOB — the encode twin of the r12
    fixed-Huffman decode path, sharing ``encode_png``'s pixel formula,
    checksums and raw-size guard. Literal codes: byte b ≤ 143 → 8
    bits of ``b + 0x30``; b ≥ 144 → 9 bits of ``b + 0x100`` (both
    MSB-first); EOB = seven 0-bits; bits packed LSB-first into bytes.
    stdlib ``zlib.decompress`` accepts the stream byte-for-byte
    (pinned in tests — external validation, not just our own round
    trip)."""
    return _png_file(
        "encode_png_fixed", media_id, w, h, 0, False, False, _deflate_fixed
    )


def _deflate_fixed(raw: bytes) -> bytes:
    """One final fixed-Huffman block of literals (``encode_png_fixed``)."""
    bits = [1, 1, 0]  # BFINAL=1, BTYPE=01 LSB-first
    for b in raw:
        bits += _msb_bits(b + 0x30, 8) if b <= 143 else _msb_bits(b + 0x100, 9)
    return _pack_bits(bits + [0] * 7)  # EOB: fixed code 0000000


def _inflate_fixed_py(data: bytes):
    """Hand-rolled fixed-Huffman inflate for ONE final block
    (``decode_png(fixed_huffman=True)``) — deliberately NOT
    ``zlib.decompress``, so the envelope stays bounded: multi-block
    streams and outputs beyond ``_PNG_FH_MAX_RAW`` raise. ``data``
    is the deflate byte stream (zlib header and Adler both
    stripped). Returns ``(raw_bytes, end_bit_pos)``; raises on any
    malformed code, length, or distance."""
    bitpos = 3  # past BFINAL + BTYPE (caller checked them)

    def bit(i):
        if i // 8 >= len(data):
            raise ValueError("bit read past deflate stream")
        return (data[i // 8] >> (i % 8)) & 1

    def code(n):
        nonlocal bitpos
        v = 0
        for _ in range(n):
            v = (v << 1) | bit(bitpos)
            bitpos += 1
        return v

    def val(n):
        nonlocal bitpos
        v = 0
        for j in range(n):
            v |= bit(bitpos) << j
            bitpos += 1
        return v

    out = bytearray()
    while True:
        v = code(7)
        if v <= 0x17:
            sym = 256 + v
        else:
            v = (v << 1) | bit(bitpos)
            bitpos += 1
            if 0x30 <= v <= 0xBF:
                sym = v - 0x30
            elif 0xC0 <= v <= 0xC7:
                sym = 280 + v - 0xC0
            else:
                v = (v << 1) | bit(bitpos)
                bitpos += 1
                if 0x190 <= v <= 0x1FF:
                    sym = 144 + v - 0x190
                else:
                    raise ValueError("invalid fixed-Huffman code")
        if sym == 256:
            return bytes(out), bitpos
        if sym < 256:
            out.append(sym)
            continue
        if sym > 285:
            raise ValueError("invalid length symbol")
        length = _FH_LEN_BASE[sym - 257] + val(_FH_LEN_EXTRA[sym - 257])
        dc = code(5)
        if dc > 29:
            raise ValueError("invalid distance code")
        dist = _FH_DIST_BASE[dc] + val(_FH_DIST_EXTRA[dc])
        if dist > len(out):
            raise ValueError("distance beyond decoded window")
        for _ in range(length):  # overlap-safe byte-by-byte copy
            out.append(out[len(out) - dist])
        if len(out) > _PNG_FH_MAX_RAW:
            raise ValueError("decompressed output beyond FH bound")


# --- dynamic-Huffman deflate PNG (r13) ------------------------------------
#
# RFC 1951 §3.2.7 — BTYPE=10, the block type virtually every real PNG
# encoder emits. ``_inflate_dyn_py`` decodes it with a COUNT-BASED
# CANONICAL HUFFMAN WALK (the classic zlib/puff.c ``decode()`` — per
# bit length l, a code of length l is recognized from (counts[l],
# first_l, index_l) alone, so no tree is ever materialized).
#
# Scope bounds: raw size ≤ _PNG_FH_MAX_RAW (same bound as FH); ONE
# final BTYPE=10 block (multi-block streams raise, like FH).
# Incomplete codes are accepted (RFC permits e.g. the 1-bit
# single-distance code); over-subscribed codes and invalid symbols
# raise.

#: RFC 1951 §3.2.7 code-length-code transmit order
_DH_CL_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13,
                2, 14, 1, 15]
_DH_CL_INV = [0] * 19
for _i, _s in enumerate(_DH_CL_ORDER):
    _DH_CL_INV[_s] = _i
del _i, _s


def _dh_header_bits() -> list:
    """The CONSTANT header+code-lengths bit prefix of
    ``encode_png_dyn``'s block (329 bits, stream order): BFINAL=1,
    BTYPE=10, HLIT=0 (257 lit/len codes), HDIST=0 (1 distance code),
    HCLEN=14, the 18 3-bit code-length-code lengths (only syms 9 and
    1 coded, both length 1 → canonical CL code: "1"→0, "9"→1), then
    the 258 CL symbols: 256ד9" + EOB length "1" + one distance
    length "1". The resulting lit/len table is COMPLETE by Kraft
    (256/512 + 1/2 = 1): EOB = 1-bit code 0, literal b = 9-bit code
    256+b; the single 1-bit distance code is never used (all
    literals) — the RFC-sanctioned incomplete-distance case. zlib
    round-trips the stream (pinned in tests)."""
    bits = [1, 0, 1]            # BFINAL=1, BTYPE=2 LSB-first
    bits += [0] * 5             # HLIT = 0
    bits += [0] * 5             # HDIST = 0
    bits += [0, 1, 1, 1]        # HCLEN = 14 LSB-first
    for i in range(18):         # CL-code lengths in transmit order
        v = 1 if i in (_DH_CL_INV[9], _DH_CL_INV[1]) else 0
        bits += [(v >> s) & 1 for s in range(3)]
    bits += [1] * 256 + [0] + [0]   # 256x"9", EOB "1", dist "1"
    return bits


def encode_png_dyn(
    media_id: int,
    w: int,
    h: int,
    rgb: bool = False,
    filtered: bool = False,
    color_type: int = None,
    depth16: bool = False,
) -> bytes:
    """A spec-compliant PNG whose zlib stream is ONE final
    DYNAMIC-HUFFMAN deflate block (RFC 1951 §3.2.7) — the encode twin
    of the r13 BTYPE=10 decode path, sharing ``encode_png``'s pixel
    formula, options, checksums and raw-size guard. The transmitted
    tables are the fixed flat assignment of ``_dh_header_bits`` (a
    legal, complete dynamic code — the simplest one that still
    exercises the full header → CL-code → table-build → count-walk
    pipeline on the decode side); literal byte b = 9 bits of
    ``b + 0x100`` MSB-first, EOB = one 0-bit, bits packed LSB-first
    into bytes. stdlib ``zlib.decompress`` accepts the stream
    byte-for-byte (pinned in tests). DH + RGB (``rgb=True``, r13) and
    DH + adaptive filters (``filtered=True``, r14) are the real-world
    shapes libpng emits."""
    ct = color_type if color_type is not None else (2 if rgb else 0)
    return _png_file(
        "encode_png_dyn", media_id, w, h, ct, filtered, depth16, _deflate_dyn
    )


def _deflate_dyn(raw: bytes) -> bytes:
    """One final dynamic-Huffman block of literals (``encode_png_dyn``)."""
    bits = _dh_header_bits()
    for b in raw:
        bits += _msb_bits(b + 0x100, 9)
    return _pack_bits(bits + [0])  # EOB: 1-bit code 0


def _inflate_dyn_py(data: bytes):
    """Hand-rolled dynamic-Huffman inflate for ONE final BTYPE=10
    block (``decode_png(dynamic_huffman=True)``): the count-based
    canonical Huffman walk of zlib's puff.c, under the same envelope
    and caps as ``_inflate_fixed_py``. ``data`` is the deflate byte
    stream (zlib header and Adler stripped). Returns ``(raw_bytes,
    end_bit_pos)``; raises on any malformed header, code, length, or
    distance."""
    bitpos = 3  # past BFINAL + BTYPE (caller checked them)

    def bit(i):
        if i // 8 >= len(data):
            raise ValueError("bit read past deflate stream")
        return (data[i // 8] >> (i % 8)) & 1

    def val(n):
        nonlocal bitpos
        v = 0
        for j in range(n):
            v |= bit(bitpos) << j
            bitpos += 1
        return v

    def canon(lens, maxbits):
        counts = [0] * (maxbits + 1)
        for ln in lens:
            if ln:
                counts[ln] += 1
        left = 1
        for ln in range(1, maxbits + 1):
            left = left * 2 - counts[ln]
            if left < 0:
                raise ValueError("over-subscribed code")
        syms = [s for _, s in sorted(
            (ln, s) for s, ln in enumerate(lens) if ln
        )]
        return counts, syms

    def decode(counts, syms, maxbits):
        nonlocal bitpos
        code = first = index = 0
        for ln in range(1, maxbits + 1):
            code = code * 2 + bit(bitpos)
            bitpos += 1
            cnt = counts[ln]
            if code - first < cnt:
                return syms[index + (code - first)]
            index += cnt
            first = (first + cnt) * 2
            code = code  # shifted next round
        raise ValueError("invalid canonical code")

    hlit = val(5) + 257
    hdist = val(5) + 1
    hclen = val(4) + 4
    cl_lens = [0] * 19
    for i in range(hclen):
        cl_lens[_DH_CL_ORDER[i]] = val(3)
    cl_counts, cl_syms = canon(cl_lens, 7)
    if not cl_syms:
        raise ValueError("empty code-length code")
    lens = []
    while len(lens) < hlit + hdist:
        sym = decode(cl_counts, cl_syms, 7)
        if sym <= 15:
            lens.append(sym)
        elif sym == 16:
            if not lens:
                raise ValueError("repeat with no previous length")
            lens += [lens[-1]] * (3 + val(2))
        elif sym == 17:
            lens += [0] * (3 + val(3))
        else:  # 18
            lens += [0] * (11 + val(7))
    if len(lens) != hlit + hdist:
        raise ValueError("code-length repeat overshoots the count")
    ll_lens, d_lens = lens[:hlit], lens[hlit:]
    if hlit < 257 or not ll_lens[256]:
        raise ValueError("lit/len code assigns no EOB")
    ll = canon(ll_lens, 15)
    dd = canon(d_lens, 15)

    out = bytearray()
    while True:
        sym = decode(*ll, 15)
        if sym == 256:
            return bytes(out), bitpos
        if sym < 256:
            out.append(sym)
        elif sym <= 285:
            length = (
                _FH_LEN_BASE[sym - 257] + val(_FH_LEN_EXTRA[sym - 257])
            )
            dc = decode(*dd, 15)
            if dc > 29:
                raise ValueError("invalid distance symbol")
            dist = _FH_DIST_BASE[dc] + val(_FH_DIST_EXTRA[dc])
            if dist > len(out):
                raise ValueError("distance beyond decoded window")
            for _ in range(length):  # overlap-safe byte-by-byte copy
                out.append(out[len(out) - dist])
        else:
            raise ValueError("invalid length symbol")
        if len(out) > _PNG_FH_MAX_RAW:
            raise ValueError("decompressed output beyond bound")


# ---------------------------------------------------------------------------
# GIF (LZW) pixel decode — r14. ``decode_gif`` walks the block stream
# (extensions skipped), gathers the LZW data sub-blocks, decodes one
# LZW code at a time (``_lzw_decode_py``) and maps every index through
# the global or local color table, bounds-checked.
#
# LZW dictionary entries all point INTO THE OUTPUT STREAM: when code k
# is decoded its expansion is appended at out[cur..), and the new
# dictionary entry is (prev_start, prev_len + 1) — contiguous in `out`
# because prev's expansion was the immediately preceding append. So
# the decoder needs no string table, only (start, len) pairs — the
# same output-window copy semantics as the deflate LZ77 walk.
#
# Code-width convention (derived, and what giflib/Pillow implement):
# before reading a data code the largest possible value is the
# decoder's next_free (the KwKwK case), so after ADDING an entry the
# width bumps when next_free == 2^width (max 12); at 4096 the table
# freezes until a CLEAR (deferred-clear tolerated). The famous 1x1
# GIF89a spacer pins the convention against external bytes in tests.
#
# Envelope (documented; everything else raises): GIF87a/89a, a global
# or local color table, ONE image covering the full screen at (0, 0),
# interlaced or not, LZW data in <= _GIF_MAX_SUBBLOCKS sub-blocks,
# npix <= _GIF_MAX_PIXELS, trailer immediately after the image data.
# Extensions (graphic control, comment, application) are SKIPPED,
# matching real-world files.
# ---------------------------------------------------------------------------

_GIF_MAX_BLOCKS = 8       #: extension/descriptor walk bound
_GIF_MAX_SUBBLOCKS = 16   #: LZW data sub-blocks (255 B each)
_GIF_MAX_PIXELS = 4096    #: npix bound of the decode envelope


def _lzw_decode_py(data: bytes, mcs: int, npix: int):
    """GIF LZW decoder: returns the index list of exactly ``npix``
    codes' expansions; raises on a malformed or short stream. Codes
    are read LSB-first; see the module-section note for the width
    convention."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    total_bits = 8 * len(data)
    bp, width = 0, mcs + 1
    out = []
    tab = []                 # (start, len) into out, per generation
    pstart, plen = 0, 0
    nf = eoi + 1
    for _ in range(2 * npix + 8 + 2):
        if bp + width > total_bits:
            raise ValueError("LZW stream ran out of bits")
        code = 0
        for t in range(width):
            j = bp + t
            code += ((data[j // 8] >> (j % 8)) & 1) << t
        bp += width
        if code == clear:
            tab, pstart, plen = [], 0, 0
            nf, width = eoi + 1, mcs + 1
            continue
        if code == eoi:
            if len(out) != npix:
                raise ValueError(
                    f"EOI after {len(out)} of {npix} pixels"
                )
            return out
        cur = len(out)
        if code < clear:
            out.append(code)
            elen = 1
        elif eoi + 1 <= code < nf:
            s, l = tab[code - eoi - 1]
            out.extend(out[s:s + l])
            elen = l
        elif code == nf and plen > 0:
            out.extend(out[pstart:pstart + plen])
            out.append(out[pstart])
            elen = plen + 1
        else:
            raise ValueError(f"invalid LZW code {code} (next={nf})")
        if len(out) > npix:
            raise ValueError("LZW output beyond pixel count")
        if plen > 0 and nf < 4096:
            tab.append((pstart, plen + 1))
            nf += 1
            if nf == (1 << width) and width < 12:
                width += 1
        pstart, plen = cur, elen
    raise ValueError("no EOI within the code budget")


def _lzw_compress_py(indices, mcs: int):
    """Real GIF LZW compressor (``encode_gif_lzw``'s; also the
    tests' reference). Emits CLEAR first and EOI last. The emission WIDTH
    mirrors the DECODER's table state, not the encoder's: the decoder
    adds an entry after EVERY data code except the first after a
    CLEAR (including the encoder's final flush, which adds nothing
    encoder-side) — tracking the encoder's own table for the width
    decision desyncs exactly at a power-of-two boundary hit by the
    flush code (caught by the n=19 periodic stream in tests).
    Returns packed bytes (LSB-first)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out_bits = []
    width = mcs + 1
    dec_nf = eoi + 1          # the DECODER's next_free mirror
    first = True              # first data code after CLEAR

    def emit(code, w):
        for t in range(w):
            out_bits.append((code >> t) & 1)

    def emit_data(code):
        nonlocal dec_nf, width, first
        emit(code, width)
        if not first and dec_nf < 4096:
            dec_nf += 1
            if dec_nf == (1 << width) and width < 12:
                width += 1
        first = False

    emit(clear, width)
    tab = {}
    enc_next = eoi + 1        # value assignment counter
    seq = ()
    for sym in indices:
        if not 0 <= sym < clear:
            raise ValueError(f"symbol {sym} outside root range")
        cand = seq + (sym,)
        if len(cand) == 1 or cand in tab:
            seq = cand
            continue
        emit_data(seq[0] if len(seq) == 1 else tab[seq])
        if enc_next < 4096:
            tab[cand] = enc_next
            enc_next += 1
        seq = (sym,)
    if seq:
        emit_data(seq[0] if len(seq) == 1 else tab[seq])
    emit(eoi, width)
    return _pack_bits(out_bits)


def _gif_interlace_pos(r: int, h: int) -> int:
    """Stream row position of DISPLAY row ``r`` in a 4-pass
    interlaced GIF (passes start at rows 0/4/2/1 with strides
    8/8/4/2 — GIF89a spec appendix E); closed form over the three
    pass sizes."""
    c1 = (h + 7) // 8
    c2 = (h + 3) // 8
    c3 = (h + 1) // 4
    if r % 8 == 0:
        return r // 8
    if r % 8 == 4:
        return c1 + (r - 4) // 8
    if r % 4 == 2:
        return c1 + c2 + (r - 2) // 4
    return c1 + c2 + c3 + (r - 1) // 2


def _gif_interlace_disp_row(i: int, h: int) -> int:
    """Inverse of ``_gif_interlace_pos``: the display row carried at
    stream row position ``i`` (encoder side)."""
    c1 = (h + 7) // 8
    c2 = (h + 3) // 8
    c3 = (h + 1) // 4
    if i < c1:
        return 8 * i
    if i < c1 + c2:
        return 8 * (i - c1) + 4
    if i < c1 + c2 + c3:
        return 4 * (i - c1 - c2) + 2
    return 2 * (i - c1 - c2 - c3) + 1


def decode_gif(payload: bytes):
    """Single-payload GIF decode — the decoder ``decode_pixels`` runs
    per row in its Arrow-batched stage when ``'gif'`` is declared:
    returns ``(w, h, rgb_pixels)`` (flattened top-down row-major RGB
    via the local or global color table) or raises outside the
    envelope of the section note above."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    has_gct = bool(flags & 0x80)
    n_entries = (2 << (flags & 7)) if has_gct else 0
    if w <= 0 or h <= 0 or w * h > _GIF_MAX_PIXELS:
        raise ValueError("dims outside the decode envelope")
    gct = payload[13:13 + 3 * n_entries]
    if len(gct) != 3 * n_entries:
        raise ValueError("truncated global color table")
    pos = 13 + 3 * n_entries
    for _ in range(_GIF_MAX_BLOCKS):
        if pos >= len(payload):
            raise ValueError("truncated block stream")
        b = payload[pos]
        if b == 0x2C:
            break
        if b == 0x21:
            pos += 2
            for _ in range(_GIF_MAX_SUBBLOCKS):
                sl = payload[pos]
                pos += 1 + sl
                if sl == 0:
                    break
            else:
                raise ValueError("extension sub-blocks beyond cap")
            continue
        raise ValueError(f"unexpected block 0x{b:02X}")
    else:
        raise ValueError(f"no image descriptor in {_GIF_MAX_BLOCKS} blocks")
    left = int.from_bytes(payload[pos + 1:pos + 3], "little")
    top = int.from_bytes(payload[pos + 3:pos + 5], "little")
    iw = int.from_bytes(payload[pos + 5:pos + 7], "little")
    ih = int.from_bytes(payload[pos + 7:pos + 9], "little")
    iflags = payload[pos + 9]
    if (left, top) != (0, 0) or (iw, ih) != (w, h):
        raise ValueError("image does not cover the screen at (0,0)")
    interlaced = bool(iflags & 0x40)
    # r14: a LOCAL color table (descriptor flag bit 7) follows the
    # descriptor and takes precedence over the global one; a GIF
    # with neither table has no colors to map and rejects
    if iflags & 0x80:
        n_entries = 2 << (iflags & 7)
        gct = payload[pos + 10:pos + 10 + 3 * n_entries]
        if len(gct) != 3 * n_entries:
            raise ValueError("truncated local color table")
        pos += 3 * n_entries
    elif not has_gct:
        raise ValueError("no color table (neither global nor local)")
    mcs = payload[pos + 10]
    if not 2 <= mcs <= 8:
        raise ValueError(f"bad LZW minimum code size {mcs}")
    pos += 11
    data = b""
    for _ in range(_GIF_MAX_SUBBLOCKS):
        if pos >= len(payload):
            raise ValueError("truncated sub-block stream")
        sl = payload[pos]
        if sl == 0:
            pos += 1
            break
        data += payload[pos + 1:pos + 1 + sl]
        if len(payload) < pos + 1 + sl:
            raise ValueError("truncated sub-block")
        pos += 1 + sl
    else:
        raise ValueError(f"no terminator in {_GIF_MAX_SUBBLOCKS} sub-blocks")
    if pos >= len(payload) or payload[pos] != 0x3B:
        raise ValueError("missing trailer")
    if pos + 1 != len(payload):
        raise ValueError("trailing bytes after trailer")
    indices = _lzw_decode_py(data, mcs, w * h)
    if interlaced:
        # GIF 4-pass interlace: display row r sits at stream row
        # _gif_interlace_pos (closed form, pinned against the
        # pass-enumeration reference in tests)
        indices = [
            indices[_gif_interlace_pos(r, h) * w + x]
            for r in range(h)
            for x in range(w)
        ]
    pixels = []
    for idx in indices:
        if idx >= n_entries:
            raise ValueError(f"index {idx} >= {n_entries} table entries")
        pixels += list(gct[3 * idx:3 * idx + 3])
    return w, h, pixels


def _gif_screen(w: int, h: int, flags: int) -> bytes:
    """GIF89a signature + logical screen descriptor (bg index and
    aspect 0); ``flags`` 0xF7 announces a 256-entry global table."""
    return b"GIF89a" + struct.pack("<HHBBB", w, h, flags, 0, 0)


def _gif_image(w: int, h: int, flags: int) -> bytes:
    """A full-screen image descriptor at (0, 0); ``flags`` bit 7 = a
    local table (0x87: 256 entries), bit 6 = 4-pass interlace."""
    return b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, flags)


def _gif_root_block(npix: int, root) -> bytes:
    """One mcs-8 ROOT-CODE LZW data sub-block + terminator: CLEAR,
    ``root(q)`` for every stream position q, then EOI — all 9-bit
    codes LSB-first (the uncompressed-GIF shape; next_free stays
    under the 9-bit boundary and the stream inside one 255-byte
    sub-block for npix <= 220, enforced by the callers). Shared by
    the single-image and the animated encoders."""
    codes = [256, *map(root, range(npix)), 257]
    data = _pack_bits([(c >> t) & 1 for c in codes for t in range(9)])
    return bytes([len(data)]) + data + b"\0"


def encode_gif(
    media_id: int, w: int, h: int, interlaced: bool = False, lct: bool = False
) -> bytes:
    """A spec-compliant GIF89a whose decoded RGB byte k is
    ``pixel_value(media_id, k)`` — REAL GIF: 256-entry color table
    (byte t = ``pixel_value(media_id, t)``, the PLTE trick: with
    index(q) = q mod 256 the palette indirection is invisible to the
    closed-form oracle), full-screen image descriptor, and an LZW
    stream in the UNCOMPRESSED-GIF shape real tools emit for
    incompressible data (``_gif_root_block``) — a legal stream any
    GIF reader inflates. ``interlaced`` (r14) stores the rows in
    4-pass order; ``lct`` (r14) drops the global table and gives the
    image the same table as a LOCAL one. Envelope: npix <= 220, else
    ``ValueError``."""
    if w * h > 220:
        raise ValueError(
            f"encode_gif: w*h = {w * h} exceeds the one-sub-block "
            "root-code bound (220)"
        )
    table = bytes(pixel_value(media_id, t) for t in range(768))

    def root(q):
        if interlaced:  # stream position q carries a pass-permuted row
            q = _gif_interlace_disp_row(q // w, h) * w + q % w
        return q % 256

    return (
        _gif_screen(w, h, 0x00 if lct else 0xF7)
        + (b"" if lct else table)
        + _gif_image(w, h, (0x87 if lct else 0) | (0x40 if interlaced else 0))
        + (table if lct else b"")
        + b"\x08"  # LZW minimum code size
        + _gif_root_block(w * h, root)
        + b"\x3b"  # trailer
    )


def encode_gif_lzw(
    media_id: int, w: int, h: int, interlaced: bool = False
) -> bytes:
    """A GIF89a with a REAL dictionary-using LZW stream: 4-entry
    global color table (byte t = ``pixel_value(media_id, t)``),
    index(q) = q mod 4 — a periodic stream LZW genuinely compresses,
    so the decoder must exercise table codes (and the width growth
    the stream's length dictates). ``_lzw_compress_py`` compresses it
    per payload; a stream that does not fit one 255-byte sub-block
    raises ``ValueError``. Decoded RGB byte k =
    ``pixel_value(media_id, 3*((k//3) mod 4) + k%3)`` — closed form,
    palette math included."""
    rows = (
        [_gif_interlace_disp_row(i, h) for i in range(h)]
        if interlaced
        else range(h)
    )
    blob = _lzw_compress_py(
        [(r * w + x) % 4 for r in rows for x in range(w)], 2
    )
    if len(blob) > 255:
        raise ValueError(
            f"encode_gif_lzw: dims {w}x{h} need {len(blob)} LZW bytes, "
            "beyond one 255-byte sub-block"
        )
    return (
        _gif_screen(w, h, 0xF1)  # global table, 2^(1+1) entries
        + bytes(pixel_value(media_id, t) for t in range(12))
        + _gif_image(w, h, 0x40 if interlaced else 0)
        + b"\x02"  # LZW minimum code size
        + bytes([len(blob)]) + blob + b"\0"
        + b"\x3b"
    )


_GIF_ANIM_MAX_BLOCKS = 12  #: block-walk bound (ext + image per frame)
_GIF_MAX_FRAMES = 5        #: animated-decode frame cap


def decode_gif_anim(payload: bytes):
    """Single-payload ANIMATED GIF decode — what ``decode_gif_frames``
    runs per row: returns ``(w, h, n_frames, [frame_rgb_or_None,
    ...])``. STRUCTURAL failures (signature/screen/GCT, truncated or
    over-cap block stream, missing trailer, too many frames, no
    frames) raise — ``decode_gif_frames`` keeps one all-null row.
    PER-FRAME failures (descriptor geometry, local table, bad mcs,
    a corrupt LZW stream, an out-of-range index) yield ``None`` for
    THAT frame only — its row nulls and the rest decode."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    has_gct = bool(flags & 0x80)
    n_entries = (2 << (flags & 7)) if has_gct else 0
    if w <= 0 or h <= 0 or w * h > _GIF_MAX_PIXELS:
        raise ValueError("dims outside the decode envelope")
    gct = payload[13:13 + 3 * n_entries]
    if len(gct) != 3 * n_entries:
        raise ValueError("truncated global color table")
    pos = 13 + 3 * n_entries
    raw_frames = []
    done = False
    for _ in range(_GIF_ANIM_MAX_BLOCKS):
        if pos >= len(payload):
            raise ValueError("truncated block stream")
        b = payload[pos]
        if b == 0x3B:
            if pos + 1 != len(payload):
                raise ValueError("trailing bytes after trailer")
            done = True
            break
        if b == 0x21:
            pos += 2
            for _ in range(_GIF_MAX_SUBBLOCKS):
                sl = payload[pos]
                pos += 1 + sl
                if sl == 0:
                    break
            else:
                raise ValueError("extension sub-blocks beyond cap")
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected block 0x{b:02X}")
        if len(raw_frames) >= _GIF_MAX_FRAMES:
            raise ValueError("frame count beyond cap")
        desc = payload[pos:pos + 10]
        # a local color table shifts the mcs byte and the data; its
        # length is STRUCTURAL (the frame walk must skip it), so a
        # truncated LCT raises rather than nulling one frame
        lct = b""
        if desc[9] & 0x80:
            ln = 2 << (desc[9] & 7)
            lct = payload[pos + 10:pos + 10 + 3 * ln]
            if len(lct) != 3 * ln:
                raise ValueError("truncated local color table")
            pos += 3 * ln
        mcs = payload[pos + 10]
        pos += 11
        data = b""
        for _ in range(_GIF_MAX_SUBBLOCKS):
            sl = payload[pos]
            if sl == 0:
                pos += 1
                break
            data += payload[pos + 1:pos + 1 + sl]
            if len(payload) < pos + 1 + sl:
                raise ValueError("truncated sub-block")
            pos += 1 + sl
        else:
            raise ValueError("data sub-blocks beyond cap")
        raw_frames.append((desc, lct, mcs, data))
    if not done:
        raise ValueError(
            f"no trailer within {_GIF_ANIM_MAX_BLOCKS} blocks"
        )
    if not raw_frames:
        raise ValueError("no image frames before the trailer")
    frames = []
    for desc, lct, mcs, data in raw_frames:
        try:
            left = int.from_bytes(desc[1:3], "little")
            top = int.from_bytes(desc[3:5], "little")
            iw = int.from_bytes(desc[5:7], "little")
            ih = int.from_bytes(desc[7:9], "little")
            iflags = desc[9]
            if (left, top) != (0, 0) or (iw, ih) != (w, h):
                raise ValueError("frame does not cover the screen")
            tbl, n_tbl = (lct, len(lct) // 3) if lct else (gct, n_entries)
            if n_tbl == 0:
                raise ValueError(
                    "no color table (neither global nor local)"
                )
            if not 2 <= mcs <= 8:
                raise ValueError(f"bad LZW minimum code size {mcs}")
            indices = _lzw_decode_py(data, mcs, w * h)
            if iflags & 0x40:
                indices = [
                    indices[_gif_interlace_pos(r, h) * w + x]
                    for r in range(h)
                    for x in range(w)
                ]
            rgb = []
            for idx in indices:
                if idx >= n_tbl:
                    raise ValueError(
                        f"index {idx} >= {n_tbl} table entries"
                    )
                rgb += list(tbl[3 * idx:3 * idx + 3])
            frames.append(rgb)
        except ValueError:
            frames.append(None)
    return w, h, len(frames), frames


def encode_gif_anim(
    media_id: int, w: int, h: int, n_frames: int, lct: bool = False
) -> bytes:
    """An ANIMATED GIF89a: NETSCAPE2.0 looping application extension
    (skipped by the decoder, exercising extension handling in the
    anim block stream), then ``n_frames`` full-screen frames under
    the shared 256-entry color table, each the uncompressed-shape
    root-code stream with index(f, q) = (q + 9f) mod 256 — so the
    decoded RGB byte k of frame f is the closed form
    ``(media_id·7 + k·13 + 95·f) mod 256`` (351 ≡ 95 mod 256).
    ``lct`` (r14): no global table; every frame carries its OWN
    256-entry table, shifted 17 per frame, so decoded byte k of frame
    f is ``(media_id·7 + k·13 + 112·f) mod 256`` (351+17 ≡ 112).
    Envelope: npix <= 220, 1 <= n_frames <= _GIF_MAX_FRAMES, else
    ``ValueError``."""
    if w * h > 220 or not 1 <= n_frames <= _GIF_MAX_FRAMES:
        raise ValueError(
            f"encode_gif_anim: w*h = {w * h} / n_frames = {n_frames} "
            "outside the (220, 1..5) envelope"
        )
    table = bytes(pixel_value(media_id, t) for t in range(768))
    out = _gif_screen(w, h, 0x00 if lct else 0xF7) + (b"" if lct else table)
    out += bytes.fromhex("21FF0B4E45545343415045322E300301000000")
    for f in range(n_frames):
        out += _gif_image(w, h, 0x87 if lct else 0x00)
        if lct:
            out += bytes((v + 17 * f) % 256 for v in table)
        out += b"\x08" + _gif_root_block(w * h, lambda q: (q + 9 * f) % 256)
    return out + b"\x3b"


_FRAME_FIELDS = [
    StructField("gif_format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("frame_idx", IntegerType()),
    StructField("pixels", ArrayType(IntegerType())),
]


def decode_gif_frames(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """ANIMATED GIF decode: ONE ROW PER FRAME — (media_id,
    gif_format, width, height, n_frames, frame_idx, pixels) — the GIF
    sibling of ``decode_y4m_frames``. Runs ``decode_gif_anim`` once
    per payload in the module's Arrow stage. A structural failure (any exception: signature,
    screen, truncated or over-cap block stream, missing trailer)
    keeps one all-null row, so the operator is total; a per-frame
    failure (descriptor geometry, bad mcs, a corrupt LZW stream, an
    out-of-range index) nulls that frame's row only. Envelope: every
    frame covers the screen under the global or its local color
    table, interlace included; caps ``_GIF_MAX_FRAMES`` /
    ``_GIF_ANIM_MAX_BLOCKS``."""

    def frame_rows(_media_id, payload):
        try:
            w, h, n, frames = decode_gif_anim(payload)
        except Exception:
            return [(None,) * 6]
        return [
            (None,) * 6 if px is None else ("gif", w, h, n, i, px)
            for i, px in enumerate(frames)
        ]

    return _arrow_stage(
        media.select("media_id", payload_col), _FRAME_FIELDS, frame_rows
    )
