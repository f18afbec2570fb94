"""Multimodal binary columns (E-6): header metadata, features, frame sampling, real pixel decode.

Split out of the monolithic queries.py (r9); function and
oracle text moved verbatim — see queries/__init__.py for
the registry.
"""

from __future__ import annotations

from decision_tree_stuff_spark.queries._shared import (  # noqa: F401
    Dict,
    F,
    _docs,
)



def q_e6_header_meta(spark, sf_dir):
    """Compressed-format header metadata roundtrip (r11): real JPEG /
    PNG / GIF header streams synthesized from doc ids by a Python
    encoder in ``synthesize_header_media``'s Arrow stage (the JPEG
    SOF sits behind two variable-length segments, exercising the
    bounded aggregate-fold walk), parsed back by
    ``with_image_header_meta`` in pure byte expressions, no codec.
    The oracle states the closed-form dims, so any encode/parse
    disagreement mismatches; the struct.pack golden tests cover the
    parser against an independent encoder."""
    from decision_tree_stuff_spark.operators.multimodal import (
        synthesize_header_media,
        with_image_header_meta,
    )

    media = synthesize_header_media(_docs(spark, sf_dir))
    return with_image_header_meta(media).select(
        "media_id", "img_format", "img_width", "img_height"
    )


def q_e6_media_meta(spark, sf_dir):
    """Multimodal table plumbing: synthesized media metadata + payload
    byte length (payload is binary; the meta arithmetic and byte count
    are SQL-expressible so this one is oracle-checked)."""
    from decision_tree_stuff_spark.operators.multimodal import synthesize_media

    media = synthesize_media(_docs(spark, sf_dir))
    return media.select(
        "media_id",
        "kind",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
        F.length("payload").alias("n_bytes"),
    )


def q_e6_media_features(spark, sf_dir):
    """Arrow-batched (mapInPandas) feature extraction, flattened to
    scalar columns f0..f7 (the harness canonicalizes via pandas, which
    cannot hash array cells). The byte-bucket-mean math is exact
    integer-sum arithmetic, so a DuckDB oracle reproduces it
    bit-for-bit (payloads are ASCII → ord(substr) == byte value)."""
    from decision_tree_stuff_spark.operators.multimodal import (
        N_MEDIA_FEATURES,
        extract_features,
        synthesize_media,
    )

    feats = extract_features(
        synthesize_media(_docs(spark, sf_dir)), n_features=N_MEDIA_FEATURES
    )
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[
            F.round(F.col("features").getItem(i), 6).alias(f"f{i}")
            for i in range(N_MEDIA_FEATURES)
        ],
    )


def q_e6_frame_sample(spark, sf_dir):
    """Video frame sampling (pure Spark binary slicing). The binary
    frame payload is hex-encoded for the gate (Spark ``hex`` ↔ DuckDB
    ``hex``, both uppercase) so the slice bytes are value-checked."""
    from decision_tree_stuff_spark.operators.multimodal import (
        sample_frames,
        synthesize_media,
    )

    frames = sample_frames(synthesize_media(_docs(spark, sf_dir)))
    return frames.select(
        "media_id", "frame_idx", F.hex("frame_payload").alias("frame_hex")
    )


def _hex_packed_pixels(decoded):
    """Gate-shape helper (r10, verdict task 1): the driver's pandas
    canonicalizer cannot sort array cells, so the decoded pixel array
    is hex-packed into ONE scalar string column — 2 uppercase hex
    chars per byte, same packing as ``q_e6_frame_sample`` (Spark
    ``hex`` ↔ DuckDB ``printf('%02X')``, both uppercase). A null
    pixel array (non-decodable payload) stays null via
    ``array_join``'s null propagation."""
    return decoded.select(
        "media_id",
        "img_format",
        "width",
        "height",
        F.array_join(
            F.transform(
                "pixels", lambda v: F.lpad(F.hex(v), 2, "0")
            ),
            "",
        ).alias("pixels_hex"),
    )


def q_e6_pixel_decode(spark, sf_dir):
    """REAL pixel decode (E-6, r8 — retires the last stub): tiny
    spec-compliant BMP (even ids) / PPM (odd ids) binaries are
    encoded from the closed-form pixel formula (Python encoders in
    ``synthesize_decodable_media``'s Arrow stage), then decoded back
    by ``decode_pixels`` (the stdlib ``decode_media`` in the same
    Arrow stage — undoes BMP's bottom-up rows, BGR order, 4-byte
    stride; parses the PPM ASCII header). The oracle recomputes the pixels directly from
    the formula, so any layout mistake on EITHER side of the round
    trip mismatches. Pixels are hex-packed to a scalar column (r10 —
    the r9 array-valued shape ERRORed in the driver's pandas
    canonicalizer; values were already hash-matched in the self-
    audit)."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs), formats=("bmp", "ppm")
        )
    )

def q_e6_pixel_decode_paletted(spark, sf_dir):
    """Pixel decode for the r9 uncompressed additions: 8-bit PALETTED
    BMP (even ids — index rows bottom-up at 1-byte stride padding,
    BGR0 palette lookup) and binary PGM P5 (odd ids — grayscale
    expanded to R=G=B), decoded by ``decode_media`` in
    ``decode_pixels``'s Arrow stage. Same closed-form trap as e6_pixel_decode: the
    oracle recomputes RGB straight from the pixel/palette formulas,
    so the round trip only matches if the decoder undoes the real
    file layout including the palette indirection. Hex-packed scalar
    output (r10), same as ``q_e6_pixel_decode``."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("bmp8", "pgm")),
            formats=("bmp8", "pgm"),
        )
    )


def q_e6_png_decode(spark, sf_dir):
    """REAL PNG decode (r11): every clip a grayscale-8 PNG whose zlib
    stream is a STORED deflate block — signature, IHDR, chunk CRC-32s,
    zlib header, block LEN/~LEN, Adler-32 and scanline filters all
    verified by ``decode_png`` in ``decode_pixels``' Arrow-batched
    stage, then gray expanded to R=G=B. Same closed-form trap as
    e6_pixel_decode (the oracle recomputes pixels from the formula,
    so a layout or checksum mistake on either side mismatches);
    Huffman-compressed PNGs null out without their opt-in flag
    (tests pin it). Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("png", "png")),
            formats=("png",),
        )
    )


def q_e6_png_fixed_decode(spark, sf_dir):
    """REAL fixed-Huffman PNG decode (r12): every clip a grayscale-8
    PNG whose zlib stream is one final BTYPE=01 deflate block
    (literal codes + EOB here; back-references covered by the
    handcrafted-stream tests), decoded by ``decode_png`` in the
    Arrow-batched stage with chunk CRC-32s, zlib header, Adler-32
    over the DECOMPRESSED bytes and scanline filters verified. Same
    closed-form trap as e6_png_decode: the oracle recomputes pixels
    from the formula, so a mistake in either the FH encoder's bit
    packing or the decoder's bit walk mismatches. Opt-in flag.
    Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("pngf", "pngf")),
            formats=("png",),
            png_fixed_huffman=True,
        )
    )


def q_e6_png_dyn_decode(spark, sf_dir):
    """REAL dynamic-Huffman PNG decode (r13, BTYPE=10: what
    real-world PNG encoders actually emit): every clip a grayscale-8
    PNG whose zlib stream is one final dynamic-Huffman deflate
    block; ``decode_png`` rebuilds BOTH canonical Huffman tables
    from the stream (header → code-length code → code lengths →
    count-based symbol walk), with chunk CRC-32s, zlib header,
    Adler-32 over the DECOMPRESSED bytes and scanline filters
    verified. Same closed-form trap as e6_png_fixed_decode: the
    oracle recomputes pixels from the formula, so a mistake in the
    encoder's bit packing, the table transmission, or the decoder's
    two-level Huffman walk mismatches. zlib-validated fixtures and
    zlib's OWN dynamic streams are pinned in tests. Opt-in flag.
    Probe density: doc_id % 31, and the oracle covers the same
    subset. Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("pngd", "pngd")),
            formats=("png",),
            png_dynamic_huffman=True,
        )
    )


def q_e6_png_rgb_decode(spark, sf_dir):
    """REAL RGB (color-type-2) PNG decode (r13 — with BTYPE=10 this
    is the real-world PNG shape: truecolor + dynamic Huffman): even
    ids a STORED-deflate RGB PNG, odd ids a DYNAMIC-HUFFMAN RGB PNG,
    both decoded in the same stage (``decode_png`` dispatches on the
    3-bit block header). Flat RGB byte k is the one closed form
    (doc_id·7 + k·13) mod 256, so the oracle needs no channel math —
    and the decode must get the 3w+1 stride, the per-row filter
    bytes AND the deflate layer right for the hash to match. Density
    %31. Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("pngc", "pngdc")),
            formats=("png",),
            png_dynamic_huffman=True,
        )
    )


def q_e6_png_filtered_decode(spark, sf_dir):
    """REAL scanline-FILTERED PNG decode (r14 — filters 1-4,
    Sub/Up/Average/Paeth, are what real libpng output uses
    per-line adaptively): even ids a STORED-deflate grayscale PNG,
    odd ids a DYNAMIC-HUFFMAN truecolor PNG, every scanline carrying
    filter type (r + media_id) mod 5, so all five RFC 2083 filters
    and both deflate envelopes and both color types run in the one
    stage (``decode_png(filters=True)``). The encoder emits
    closed-form FILTERED bytes whose reconstruction is the same pixel
    formula as every other PNG row — so the oracle recomputes pixels
    straight from the formula and a mistake in either the encoder's
    filter arithmetic or the decoder's reconstruction (left/up/
    up-left neighbor indexing, the Paeth tie-breaks, the mod-256
    wrap) mismatches the hash. Density %31. Hex-packed scalar
    output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(
                docs, formats=("pngflt", "pngdfltc")
            ),
            formats=("png",),
            png_dynamic_huffman=True,
            png_filters=True,
        )
    )


def q_e6_png_alpha_decode(spark, sf_dir):
    """REAL alpha-carrying PNG decode (r14 — completes the 8-bit
    non-palette color-type matrix 0/2/4/6): even ids a STORED-deflate
    GRAY+ALPHA (type 4) PNG, odd ids a DYNAMIC-HUFFMAN FILTERED RGBA
    (type 6) PNG — the full real-world libpng shape (truecolor +
    alpha + adaptive filters + dynamic Huffman). Alpha bytes
    participate in the stride and the filter reconstruction but are
    dropped from the flat-RGB output contract, so the oracle
    recomputes RGB straight from the closed form (gray byte at
    recon[2q], RGBA byte at recon[4q+c]) and any mistake in the
    4-byte/2-byte stride math, the alpha-aware Paeth neighbors, or
    the channel drop mismatches the hash. Density %31. Hex-packed
    scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(
                docs, formats=("pngga", "pngdflta")
            ),
            formats=("png",),
            png_dynamic_huffman=True,
            png_filters=True,
        )
    )


def q_e6_png_palette_decode(spark, sf_dir):
    """REAL PALETTED (color-type-3) PNG decode (r14 — indexed icons
    as libpng emits them): even ids a STORED-deflate paletted PNG,
    odd ids a DYNAMIC-HUFFMAN FILTERED paletted PNG. The stream
    carries one INDEX byte per pixel (filters apply to the indices
    at the 1-byte stride) and RGB comes from the payload's real PLTE
    chunk — ``decode_png(palette=True)`` takes the one CRC-verified
    PLTE before IDAT, validates its length, and bounds-checks EVERY
    index against the entry count (an out-of-range index nulls the
    row, never reads past the palette). The synthetic 256-entry
    palette is arranged so the decoded RGB byte k equals the one
    closed-form ``pixel_value`` (see ``_png_scanlines``): the
    oracle needs no palette math, while a mistake in the PLTE
    offset, the idx->entry*3+channel mapping or the index filter
    reconstruction mismatches the hash. Density %31. Hex-packed
    scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("pngp", "pngdfltp")),
            formats=("png",),
            png_dynamic_huffman=True,
            png_filters=True,
            png_palette=True,
        )
    )


def q_e6_gif_decode(spark, sf_dir):
    """REAL GIF (LZW) pixel decode (r14 — the second compressed
    container, after the PNG family): even ids an uncompressed-shape
    GIF89a (one CLEAR + every pixel as a 9-bit root code under a
    256-entry global color table — the stream real tools emit for
    incompressible data), odd ids a genuinely DICTIONARY-COMPRESSED
    stream (4-color periodic indices, compressed by the real LZW
    compressor) that makes the decoder exercise table codes and the
    width bookkeeping. ``decode_gif`` runs in ``decode_pixels``'
    Arrow-batched stage: extension blocks are skipped and every
    index is bounds-checked against the color table. Both palettes
    are arranged so the decoded RGB is closed-form (the 256-entry
    table makes the indirection invisible: 39·(q mod 256) ≡ 39q mod
    256). Density %31. Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("gif", "gifz")),
            formats=("gif",),
        )
    )


def q_e6_gif_interlaced(spark, sf_dir):
    """INTERLACED GIF decode (r14 — GIF89a appendix E 4-pass row
    order, what progressive-rendering era tools emit): the same
    root-code (even) / real-LZW (odd) pair as ``e6_gif_decode`` but
    with pass-permuted streams the decoder must re-order via the
    closed-form position map — the decoded pixels are the SAME
    closed forms, so the oracle is unchanged while a permutation
    mistake on either side mismatches the hash. Density %31.
    Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("gifi", "gifzi")),
            formats=("gif",),
        )
    )


def q_e6_gif_frames(spark, sf_dir):
    """ANIMATED GIF decode (r14 — one row per frame, the y4m shape
    for the second compressed container): each clip a GIF89a with a
    NETSCAPE looping extension (skipped) and doc_id%3+1 full-screen
    root-code frames whose index stream shifts by 9 per frame, so
    frame f's RGB byte k is the closed form
    (doc_id*7 + k*13 + 95*f) mod 256. ``encode_gif_anim`` builds
    each payload and ``decode_gif_frames`` runs ``decode_gif_anim``
    on it, both per row in the module's Arrow-batched stage; the
    decode emits one row per frame. Density %31. Hex-packed scalar
    output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_anim,
        synthesize_payloads,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    mid = F.col("doc_id")
    media = synthesize_payloads(
        docs.select(
            mid.alias("media_id"),
            (mid % 5 + 2).cast("int"),
            (mid % 4 + 2).cast("int"),
            (mid % 3 + 1).cast("int"),
        ),
        encode_gif_anim,
    )
    return decode_gif_frames(media).select(
        "media_id",
        "gif_format",
        "width",
        "height",
        "n_frames",
        "frame_idx",
        F.array_join(
            F.transform(
                "pixels", lambda v: F.lpad(F.hex(v), 2, "0")
            ),
            "",
        ).alias("pixels_hex"),
    )


def q_e6_gif_lct(spark, sf_dir):
    """LOCAL-color-table GIF decode (r14 — completes the GIF color
    model: per-image palettes, the common shape for icon sprites and
    palette-cycling animations): even ids a GIF with NO global table
    whose image carries its own 256-entry LOCAL table (the decoder
    must read colors at the descriptor-relative offset and shift the
    mcs/data offsets by the table length), odd ids the interlaced
    real-LZW fixture (global-table path in the same stage). Both
    decode to closed forms. Density %31. Hex-packed scalar
    output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(docs, formats=("gifl", "gifzi")),
            formats=("gif",),
        )
    )


def q_e6_png_16bit_decode(spark, sf_dir):
    """16-BIT PNG decode (r14 — completes the bit-depth matrix: what
    scanners/scientific tools emit): even ids a STORED gray16 PNG,
    odd ids the fullest real-world composition — DYNAMIC-HUFFMAN +
    adaptive FILTERS + RGBA + 16-bit (8 bytes/pixel stride). Samples
    are big-endian; ``decode_png(depth16=True)`` outputs each
    sample's MSB (the standard 8-bit downsample) while the LSBs ride
    the filter reconstruction and the Adler-32 — a corrupted LSB
    fails the checksum even though it never reaches the output
    (pinned in tests). MSBs carry the shared closed form, so the
    oracle is the same formula family as the 8-bit rows. Density
    %31. Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 31 == 0)
    return _hex_packed_pixels(
        decode_pixels(
            synthesize_decodable_media(
                docs, formats=("png16", "pngdflta16")
            ),
            formats=("png",),
            png_dynamic_huffman=True,
            png_filters=True,
            png_16bit=True,
        )
    )


def q_e6_resize(spark, sf_dir):
    """Nearest-neighbor resize to 4x3 over REAL decoded pixels (r11)
    — the fixed-input-resolution preprocessing step, one shuffle-free
    projection after the BMP/PPM decode. The oracle recomputes every
    resized byte from the closed-form source formula through the
    exact integer index mapping, so both the decode AND the resize
    arithmetic must be right. Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_pixels,
        resize_nearest,
        synthesize_decodable_media,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    resized = resize_nearest(
        decode_pixels(
            synthesize_decodable_media(docs), formats=("bmp", "ppm")
        ),
        4,
        3,
    )
    return resized.select(
        "media_id",
        "img_format",
        "width",
        "height",
        "out_w",
        "out_h",
        F.array_join(
            F.transform("pixels", lambda v: F.lpad(F.hex(v), 2, "0")),
            "",
        ).alias("pixels_hex"),
    )


def q_e6_frame_resize(spark, sf_dir):
    """Nearest-neighbor resize of REAL decoded video frames to 3x2
    (r11) — the single-channel sibling of e6_resize over the Y4M
    per-frame decode. The oracle recomputes every resized luma byte
    from the closed-form frame formula through the exact index
    mapping. Hex-packed scalar output."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_y4m_frames,
        resize_frames_nearest,
        synthesize_decodable_video,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    resized = resize_frames_nearest(
        decode_y4m_frames(synthesize_decodable_video(docs)), 3, 2
    )
    return resized.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        "out_w",
        "out_h",
        F.array_join(
            F.transform("luma", lambda v: F.lpad(F.hex(v), 2, "0")), ""
        ).alias("luma_hex"),
    )


def q_e6_audio_frames(spark, sf_dir):
    """Windowed audio framing over REAL decoded PCM (r11): one row
    per 8-sample frame at hop 4 with per-frame rms/peak — the
    short-time primitive under VAD/trimming. The oracle recomputes
    every frame's stats from the closed-form sample formula through
    the same framing arithmetic (last frame short, floor-div frame
    count), so decode AND framing must both be right."""
    from decision_tree_stuff_spark.operators.multimodal import (
        audio_frames,
        decode_samples,
        synthesize_decodable_audio,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return audio_frames(
        decode_samples(synthesize_decodable_audio(docs)),
        frame_len=8,
        hop=4,
    )


def q_e6_wav_decode(spark, sf_dir):
    """REAL audio decode (r10 — extends the real-codec treatment from
    images to the 'audio' kind): tiny spec-compliant 8-bit mono PCM
    WAV binaries are encoded from the closed-form sample formula
    (``encode_wav`` in ``synthesize_decodable_audio``'s Arrow stage),
    then decoded back by ``decode_samples`` (the stdlib
    ``decode_audio`` in the same Arrow stage — RIFF/WAVE/fmt/data
    chunk layout read from the actual bytes). The oracle recomputes the samples straight
    from the formula, so a header-layout mistake on either side of
    the round trip mismatches. Samples hex-packed (the driver-safe
    scalar shape, gate-rotation-ready)."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_samples,
        synthesize_decodable_audio,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return decode_samples(synthesize_decodable_audio(docs)).select(
        "media_id",
        "audio_format",
        "sample_rate",
        "n_samples",
        F.array_join(
            F.transform("samples", lambda v: F.lpad(F.hex(v), 2, "0")),
            "",
        ).alias("samples_hex"),
    )


def q_e6_y4m_decode(spark, sf_dir):
    """REAL video decode (r10 — completes the real-codec triple:
    image r8/r9, audio + video r10): tiny spec-compliant mono
    YUV4MPEG2 streams encoded from the closed-form luma formula
    (``encode_y4m`` in ``synthesize_decodable_video``'s Arrow
    stage), then decoded back frame-by-frame by ``decode_y4m_frames``
    (the stdlib ``decode_video`` in the same Arrow stage —
    variable-length ASCII header, per-frame FRAME markers verified). One row per frame, luma hex-packed
    (driver-safe scalar shape)."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_y4m_frames,
        synthesize_decodable_video,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return decode_y4m_frames(synthesize_decodable_video(docs)).select(
        "media_id",
        "video_format",
        "width",
        "height",
        "n_frames",
        "frame_idx",
        F.array_join(
            F.transform("luma", lambda v: F.lpad(F.hex(v), 2, "0")), ""
        ).alias("luma_hex"),
    )


def q_e6_wav_features(spark, sf_dir):
    """Decode→analyze composition over REAL audio (r10): classic
    per-clip features (mean level, RMS, peak, zero crossings) from
    the decoded PCM samples — integer sums underneath, so the oracle
    recomputing from the closed-form samples matches bit-for-bit."""
    from decision_tree_stuff_spark.operators.multimodal import (
        audio_features,
        decode_samples,
        synthesize_decodable_audio,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return audio_features(decode_samples(synthesize_decodable_audio(docs)))


def q_e6_y4m_motion(spark, sf_dir):
    """Decode→analyze composition over REAL video (r10): per-frame
    motion intensity (mean |Δluma| vs the previous frame — the
    shot-boundary signal) over the decoded Y4M frames; one window
    keyed by clip, fold shuffle-free."""
    from decision_tree_stuff_spark.operators.multimodal import (
        decode_y4m_frames,
        frame_motion,
        synthesize_decodable_video,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    return frame_motion(decode_y4m_frames(synthesize_decodable_video(docs)))


ORACLE_SQL: Dict[str, str] = {
    # r11: the header-meta roundtrip's closed-form dims — Spark must
    # ENCODE the JPEG/PNG/GIF streams and PARSE them back correctly
    # for the formulas to reappear.
    "e6_header_meta": """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
            ELSE 'gif' END AS img_format,
       CAST(doc_id % 500 + 16 AS INT) AS img_width,
       CAST(doc_id % 300 + 16 AS INT) AS img_height
FROM documents
""",
    # r10: audio features recomputed from the closed-form samples
    # (integer sums → identical rounded doubles; DuckDB lists are
    # 1-indexed like Spark element_at).
    "e6_wav_features": """
WITH s AS (
  SELECT doc_id AS media_id, CAST(doc_id % 25 + 4 AS INT) AS n_samples,
         list_transform(range(0, doc_id % 25 + 4),
                        i -> (doc_id * 11 + i * 17) % 256) AS sm
  FROM documents WHERE doc_id % 7 = 0
)
SELECT media_id, n_samples,
       round(list_aggregate(sm, 'sum') / CAST(n_samples AS DOUBLE), 6)
         AS mean_level,
       round(sqrt(list_aggregate(list_transform(sm, v -> v * v), 'sum')
                  / CAST(n_samples AS DOUBLE)), 6) AS rms,
       CAST(list_aggregate(sm, 'max') AS INT) AS peak,
       CAST(len(list_filter(range(1, n_samples),
                            i -> (sm[i] - 128) * (sm[i + 1] - 128) < 0))
            AS INT) AS zero_crossings
FROM s
""",
    # r10: per-frame motion recomputed from the luma closed form
    # (mod-256 wraps make it non-constant); frame 0 has no
    # predecessor -> NULL.
    "e6_y4m_motion": """
WITH f AS (
  SELECT doc_id AS media_id, doc_id AS d,
         unnest(range(0, doc_id % 5 + 1)) AS frame_idx,
         (doc_id % 4 + 2) * (doc_id % 3 + 2) AS wh
  FROM documents WHERE doc_id % 7 = 0
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CASE WHEN frame_idx = 0 THEN NULL
            ELSE round(list_aggregate(list_transform(range(0, wh),
                   q -> abs((d * 7 + frame_idx * 31 + q * 13) % 256
                            - (d * 7 + (frame_idx - 1) * 31 + q * 13) % 256)),
                   'sum') / CAST(wh AS DOUBLE), 6)
       END AS motion
FROM f
""",
    # r10: Y4M round trip — the oracle recomputes every frame's luma
    # plane from the closed form (one row per frame via unnest).
    "e6_y4m_decode": """
SELECT doc_id AS media_id,
       'y4m' AS video_format,
       CAST(doc_id % 4 + 2 AS INT) AS width,
       CAST(doc_id % 3 + 2 AS INT) AS height,
       CAST(doc_id % 5 + 1 AS INT) AS n_frames,
       CAST(f AS INT) AS frame_idx,
       array_to_string(list_transform(
         range(0, (doc_id % 4 + 2) * (doc_id % 3 + 2)),
         q -> printf('%02X', (doc_id * 7 + f * 31 + q * 13) % 256)
       ), '') AS luma_hex
FROM (SELECT doc_id, unnest(range(0, doc_id % 5 + 1)) AS f
      FROM documents WHERE doc_id % 7 = 0) u
""",
    # r10: WAV round trip — the oracle never touches binary, it
    # recomputes rate/length/samples from the closed forms.
    # r11 framing twin: n = doc_id%25+4 samples, frames at 0,4,8,...
    # while start < n, flen = min(8, n - start); rms = exact integer
    # sum-of-squares / flen under one sqrt+round, matching Spark.
    "e6_frame_resize": """
WITH v AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 4 + 2 AS BIGINT) AS w,
         CAST(doc_id % 3 + 2 AS BIGINT) AS h,
         CAST(doc_id % 5 + 1 AS INT) AS nf
  FROM documents WHERE doc_id % 7 = 0
),
fr AS (
  SELECT media_id, w, h,
         CAST(unnest(range(0, nf)) AS INT) AS frame_idx
  FROM v
)
SELECT media_id, frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       3 AS out_w, 2 AS out_h,
       array_to_string(list_transform(
         range(0, 3 * 2),
         q -> printf('%02X',
           (media_id * 7 + frame_idx * 31
            + (((q // 3) * h // 2) * w + ((q % 3) * w // 3)) * 13) % 256)
       ), '') AS luma_hex
FROM fr
""",
    "e6_audio_frames": """
WITH clips AS (
  SELECT doc_id AS media_id, CAST(doc_id % 25 + 4 AS BIGINT) AS n
  FROM documents WHERE doc_id % 7 = 0
),
frames AS (
  SELECT media_id, n,
         CAST(unnest(range(0, (n - 1) // 4 + 1)) AS INT) AS frame_idx
  FROM clips
),
f AS (
  SELECT media_id, n, frame_idx,
         CAST(frame_idx AS BIGINT) * 4 AS start,
         least(8, n - CAST(frame_idx AS BIGINT) * 4) AS flen
  FROM frames
)
SELECT media_id, frame_idx,
       CAST(start AS INT) AS frame_start,
       CAST(flen AS INT) AS n_frame_samples,
       round(sqrt(CAST((
         SELECT sum(((media_id * 11 + (start + j) * 17) % 256)
                    * ((media_id * 11 + (start + j) * 17) % 256))
         FROM unnest(range(0, flen)) t(j)
       ) AS DOUBLE) / CAST(flen AS DOUBLE)), 6) AS frame_rms,
       CAST((
         SELECT max((media_id * 11 + (start + j) * 17) % 256)
         FROM unnest(range(0, flen)) t(j)
       ) AS INT) AS frame_peak
FROM f
""",
    "e6_wav_decode": """
SELECT doc_id AS media_id,
       'wav' AS audio_format,
       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
       CAST(doc_id % 25 + 4 AS INT) AS n_samples,
       array_to_string(list_transform(
         range(0, doc_id % 25 + 4),
         i -> printf('%02X', (doc_id * 11 + i * 17) % 256)
       ), '') AS samples_hex
FROM documents WHERE doc_id % 7 = 0
""",
    # r10: pixels hex-packed to one scalar string (driver pandas
    # canonicalizer cannot sort array cells) — printf('%02X') per byte
    # matches Spark's lpad(hex(v), 2, '0'), both uppercase.
    "e6_png_decode": """
SELECT doc_id AS media_id,
       'png' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', (doc_id * 7 + (k // 3) * 13) % 256)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 7 = 0
""",
    # r12: fixed-Huffman twin — identical closed-form pixel oracle to
    # e6_png_decode (the payload bytes differ, the decoded grays must
    # not).
    "e6_png_rgb_decode": """
SELECT doc_id AS media_id,
       'png' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', (doc_id * 7 + k * 13) % 256)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    # r14: filtered twin — even ids gray (pixel formula on k//3), odd
    # ids RGB (formula straight on k); the payload bytes differ per
    # scanline filter, the reconstructed pixels must not.
    "e6_png_filtered_decode": """
SELECT doc_id AS media_id,
       'png' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 7 + (k // 3) * 13) % 256
                ELSE (doc_id * 7 + k * 13) % 256 END)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    # r14: 16-bit twin — even ids gray16 (MSB = formula on k//3), odd
    # ids RGBA16 (MSB = formula on 4*(k//3)+k%3, the alpha-stride
    # pattern of e6_png_alpha_decode); LSBs never reach the output.
    "e6_png_16bit_decode": """
SELECT doc_id AS media_id,
       'png' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 7 + (k // 3) * 13) % 256
                ELSE (doc_id * 7 + ((k // 3) * 4 + k % 3) * 13) % 256
              END)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    # r14: GIF twin — even ids root-code streams under the 256-entry
    # table (plain formula), odd ids real-LZW 4-color streams
    # (formula through idx = q mod 4); the Spark side must inflate
    # the LZW stream and map the color table for the hash to match.
    "e6_gif_decode": """
SELECT doc_id AS media_id,
       'gif' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 7 + k * 13) % 256
                ELSE (doc_id * 7
                      + (3 * ((k // 3) % 4) + k % 3) * 13) % 256
              END)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    # r14: local-color-table twin — even ids decode through the LOCAL
    # table (same 256-entry closed form at a descriptor-relative
    # offset), odd ids the interlaced real-LZW global-table fixture.
    "e6_gif_lct": """
SELECT doc_id AS media_id,
       'gif' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 7 + k * 13) % 256
                ELSE (doc_id * 7
                      + (3 * ((k // 3) % 4) + k % 3) * 13) % 256
              END)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    # r14: animated twin — one row per frame via unnest; frame f's
    # byte k = (doc_id*7 + k*13 + 95*f) % 256 (the index stream
    # shifts 9 per frame under the 256-entry table; 39*9 = 351 = 95
    # mod 256).
    "e6_gif_frames": """
SELECT doc_id AS media_id,
       'gif' AS gif_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       CAST(doc_id % 3 + 1 AS INT) AS n_frames,
       CAST(f AS INT) AS frame_idx,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', (doc_id * 7 + k * 13 + 95 * f) % 256)
       ), '') AS pixels_hex
FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS f
      FROM documents WHERE doc_id % 31 = 0) u
""",
    # r14: interlaced twin — same closed forms as e6_gif_decode (the
    # 4-pass permutation round-trips invisibly; the payload bytes
    # differ per pass order).
    "e6_gif_interlaced": """
SELECT doc_id AS media_id,
       'gif' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 7 + k * 13) % 256
                ELSE (doc_id * 7
                      + (3 * ((k // 3) % 4) + k % 3) * 13) % 256
              END)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    # r14: paletted twin — the 256-entry synthetic palette makes the
    # decoded byte k the plain formula (39*(q mod 256) == 39q mod
    # 256), so the oracle is identical to the truecolor rows; the
    # decoder must still read PLTE, bounds-check every index and
    # reconstruct the index-byte filters for the hash to match.
    "e6_png_palette_decode": """
SELECT doc_id AS media_id,
       'png' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', (doc_id * 7 + k * 13) % 256)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    # r14: alpha twin — even ids gray+alpha (gray byte 2*(k//3)), odd
    # ids RGBA (byte 4*(k//3) + k%3); alpha never reaches the output.
    "e6_png_alpha_decode": """
SELECT doc_id AS media_id,
       'png' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 7 + (k // 3) * 2 * 13) % 256
                ELSE (doc_id * 7 + ((k // 3) * 4 + k % 3) * 13) % 256
              END)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    "e6_png_dyn_decode": """
SELECT doc_id AS media_id,
       'png' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', (doc_id * 7 + (k // 3) * 13) % 256)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 31 = 0
""",
    "e6_png_fixed_decode": """
SELECT doc_id AS media_id,
       'png' AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', (doc_id * 7 + (k // 3) * 13) % 256)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 7 = 0
""",
    "e6_pixel_decode_paletted": """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'bmp8' ELSE 'pgm' END AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', CASE
           WHEN doc_id % 2 <> 0
             THEN CAST((doc_id * 7 + (k // 3) * 13) % 256 AS INT)
           WHEN k % 3 = 0
             THEN CAST(((doc_id * 7 + (k // 3) * 13) % 256 * 5 + 11) % 256 AS INT)
           WHEN k % 3 = 1
             THEN CAST(((doc_id * 7 + (k // 3) * 13) % 256 * 3 + 7) % 256 AS INT)
           ELSE CAST(((doc_id * 7 + (k // 3) * 13) % 256 * 9 + 3) % 256 AS INT)
         END)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 7 = 0
""",
    "e6_media_meta": """
SELECT doc_id AS media_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
       CAST(doc_id % 640 + 16 AS INT) AS width,
       CAST(doc_id % 480 + 16 AS INT) AS height,
       CAST(doc_id % 24 + 1 AS INT) AS n_frames,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes
FROM documents
""",
    # np.array_split(payload, 8) bucket means: the first (l % 8)
    # buckets hold (l // 8 + 1) bytes, the rest (l // 8). Payload is
    # the UTF-8 text (ASCII in this corpus), so ord(substr(text,i,1))
    # IS byte i; integer sums make avg() bit-exact across engines.
    "e6_media_features": """
WITH m AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
         text, octet_length(encode(text)) AS l
  FROM documents
),
byt AS (
  SELECT media_id,
         CASE WHEN (i - 1) < (l % 8) * (l // 8 + 1)
              THEN (i - 1) // (l // 8 + 1)
              ELSE (l % 8) + ((i - 1) - (l % 8) * (l // 8 + 1))
                   // greatest(l // 8, 1)
         END AS bucket,
         ord(substr(text, CAST(i AS INT), 1)) AS b
  FROM (SELECT media_id, l, text, unnest(range(1, l + 1)) AS i FROM m
        WHERE l > 0) p
),
f AS (
  SELECT media_id,
"""
    + ",\n".join(
        f"         round(coalesce(avg(CASE WHEN bucket = {i} THEN b END), 0.0), 6)"
        f" AS f{i}"
        for i in range(8)
    )
    + """
  FROM byt GROUP BY 1
)
SELECT m.media_id, m.kind, CAST(m.l AS BIGINT) AS n_bytes,
"""
    + ",\n".join(f"       coalesce(f.f{i}, 0.0) AS f{i}" for i in range(8))
    + """
FROM m LEFT JOIN f USING (media_id)
""",
    # sample_frames: kind='video' ⇔ doc_id % 3 = 2; frame slice i =
    # payload bytes [16i, 16i+16) ⇔ hex chars [32i+1, 32i+32] (both
    # engines' hex() is uppercase; short/empty tail slices agree).
    "e6_frame_sample": """
WITH v AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS h,
         CAST(doc_id % 24 + 1 AS INT) AS n_frames
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       substr(h, CAST(32 * frame_idx + 1 AS BIGINT), 32) AS frame_hex
FROM (SELECT media_id, h, unnest(range(0, n_frames, 4)) AS frame_idx FROM v) fr
""",
    # E-6 pixel decode: the oracle side never touches binary — it
    # recomputes the decoded pixels from the shared closed form
    # (multimodal.pixel_value), so the encode→BMP/PPM bytes→decode
    # round trip must undo the real file layout exactly to match.
    "e6_resize": """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       4 AS out_w, 3 AS out_h,
       array_to_string(list_transform(
         range(0, 4 * 3 * 3),
         k -> printf('%02X',
           (doc_id * 7
            + ((((k // 3) // 4) * (doc_id % 4 + 2) // 3) * (doc_id % 5 + 2)
               + (((k // 3) % 4) * (doc_id % 5 + 2) // 4)) * 3 * 13
            + (k % 3) * 13) % 256)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 7 = 0
""",
    "e6_pixel_decode": """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS img_format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       array_to_string(list_transform(
         range(0, (doc_id % 5 + 2) * (doc_id % 4 + 2) * 3),
         k -> printf('%02X', (doc_id * 7 + k * 13) % 256)
       ), '') AS pixels_hex
FROM documents WHERE doc_id % 7 = 0
""",
}
