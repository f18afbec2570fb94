"""Seeded input generators for the three workloads.

Each generator takes the seed as an argument, writes its tables under
``perfbench/.cache/<workload>-<seed>/`` and returns a description of
what it wrote. Generation happens before the timed set-up starts, and
a directory that already holds a complete set of inputs for the same
(workload, seed) is reused. Only the newest few seeds per workload are
kept, so repeated runs with fresh seeds do not fill the disk.

* ``tree``: a training table of ``TREE_TRAIN_ROWS`` rows of
  ``TREE_FEATURES`` float features whose label comes from a planted
  depth-``TREE_DEPTH`` threshold tree with ``TREE_FLIP`` of the labels
  flipped, and a larger unlabeled scoring table drawn from the same
  distribution.
* ``decode``: ``MEDIA_IMAGES`` small images, half dynamic-Huffman PNG
  (gray and RGB, stdlib ``zlib``), half LZW GIF (an LZW encoder
  written here), with their true RGB pixels kept beside the payloads.
* ``ingest``: the bundled sf0.01 ``documents`` and ``embeddings``
  tables with their rows permuted and split over a seed-chosen number
  of parquet files. The pipeline's manifest must not depend on either.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
CACHE_DIR = os.path.join(HERE, ".cache")
KEEP_SEEDS = 2  # input sets kept per workload

TREE_TRAIN_ROWS = 250_000
TREE_SCORE_ROWS = 500_000
TREE_FEATURES = 8
TREE_DEPTH = 3
TREE_FLIP = 0.05

MEDIA_IMAGES = 64
INGEST_TABLES = ("documents", "embeddings")

_DONE = "inputs.json"


def _cached(workload: str, seed: int, build) -> dict:
    """Return the description of ``workload``'s inputs for ``seed``,
    building them with ``build(out_dir, rng)`` when absent."""
    out = os.path.join(CACHE_DIR, f"{workload}-{seed}")
    done = os.path.join(out, _DONE)
    if os.path.exists(done):
        os.utime(out)
        with open(done) as f:
            return json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # any int seed (the generator takes non-negative entropy only)
    desc = build(out, np.random.default_rng([seed % 2**64, zlib.crc32(workload.encode())]))
    with open(done, "w") as f:
        json.dump(desc, f)
    _evict(workload, keep=out)
    return desc


def _evict(workload: str, keep: str) -> None:
    sets = [
        os.path.join(CACHE_DIR, d)
        for d in os.listdir(CACHE_DIR)
        if d.startswith(workload + "-")
    ]
    sets.sort(key=os.path.getmtime, reverse=True)
    for d in [s for s in sets if s != keep][KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


# -- tree ---------------------------------------------------------------


def planted_tree_labels(x: np.ndarray, feat, thr, leaf_label) -> np.ndarray:
    """Labels of rows ``x`` under a complete threshold tree stored in
    heap order (node i has children 2i+1 and 2i+2; left is ``<=``)."""
    node = np.zeros(len(x), dtype=np.int64)
    rows = np.arange(len(x))
    n_internal = len(feat)
    while True:
        internal = node < n_internal
        if not internal.any():
            break
        f = feat[np.minimum(node, n_internal - 1)]
        t = thr[np.minimum(node, n_internal - 1)]
        go_left = x[rows, f] <= t
        node = np.where(internal, 2 * node + np.where(go_left, 1, 2), node)
    return leaf_label[node - n_internal]


def _build_tree(out: str, rng: np.random.Generator) -> dict:
    n_internal = 2**TREE_DEPTH - 1
    feat = rng.integers(0, TREE_FEATURES, n_internal)
    # thresholds inside each node's box, so that every leaf has mass
    lo = np.zeros((n_internal + 2**TREE_DEPTH, TREE_FEATURES))
    hi = np.ones_like(lo)
    thr = np.empty(n_internal)
    for i in range(n_internal):
        f = feat[i]
        thr[i] = lo[i, f] + (hi[i, f] - lo[i, f]) * rng.uniform(0.3, 0.7)
        for child, side in ((2 * i + 1, "left"), (2 * i + 2, "right")):
            lo[child], hi[child] = lo[i], hi[i]
            if side == "left":
                hi[child, f] = thr[i]
            else:
                lo[child, f] = thr[i]
    # sibling leaves disagree, so every planted split carries signal
    first = rng.integers(0, 2, 2 ** (TREE_DEPTH - 1))
    leaf_label = np.stack([first, 1 - first], axis=1).reshape(-1)
    names = [f"f{j}" for j in range(TREE_FEATURES)]

    def table(n_rows: int, labeled: bool) -> pa.Table:
        x = rng.random((n_rows, TREE_FEATURES), dtype=np.float32)
        cols = {name: x[:, j] for j, name in enumerate(names)}
        if labeled:
            y = planted_tree_labels(x, feat, thr.astype(np.float32), leaf_label)
            flip = rng.random(n_rows) < TREE_FLIP
            cols["class"] = np.where(flip, 1 - y, y).astype(np.int64)
        return pa.table(cols)

    pq.write_table(table(TREE_TRAIN_ROWS, True), os.path.join(out, "train.parquet"))
    pq.write_table(table(TREE_SCORE_ROWS, False), os.path.join(out, "score.parquet"))
    return {
        "train": os.path.join(out, "train.parquet"),
        "score": os.path.join(out, "score.parquet"),
        "train_rows": TREE_TRAIN_ROWS,
        "score_rows": TREE_SCORE_ROWS,
        "features": names,
    }


def tree_inputs(seed: int) -> dict:
    return _cached("tree", seed, _build_tree)


# -- decode -------------------------------------------------------------


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def _deflate_btype(stream: bytes) -> tuple:
    """(BFINAL, BTYPE) of the first deflate block of a zlib stream."""
    b = stream[2]
    return b & 1, (b >> 1) & 3


def encode_png(w: int, h: int, rgb_rows, color: bool):
    """8-bit gray (``color`` False) or RGB PNG, filter 0 on every
    scanline, one IDAT; returns None unless zlib chose a single final
    dynamic-Huffman block (the envelope the decoder under test takes)."""
    raw = bytearray()
    for row in rgb_rows:
        raw.append(0)
        for r, g, b in row:
            raw.extend((r, g, b) if color else (r,))
    stream = zlib.compress(bytes(raw), 9)
    if _deflate_btype(stream) != (1, 2):
        return None
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if color else 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", stream)
        + _png_chunk(b"IEND", b"")
    )


def lzw_compress(indices, mcs: int) -> bytes:
    """GIF LZW: CLEAR, the data codes, EOI, packed LSB-first. Code
    widths follow the decoder's table, which gains an entry after every
    data code except the first one after CLEAR."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width, dec_next, first = mcs + 1, eoi + 1, True
    acc = n_bits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    def emit_data(code: int) -> None:
        nonlocal width, dec_next, first
        emit(code)
        if not first and dec_next < 4096:
            dec_next += 1
            if dec_next == 1 << width and width < 12:
                width += 1
        first = False

    emit(clear)
    table, enc_next, seq = {}, eoi + 1, ()
    for sym in indices:
        cand = seq + (sym,)
        if len(cand) == 1 or cand in table:
            seq = cand
            continue
        emit_data(seq[0] if len(seq) == 1 else table[seq])
        if enc_next < 4096:
            table[cand] = enc_next
            enc_next += 1
        seq = (sym,)
    if seq:
        emit_data(seq[0] if len(seq) == 1 else table[seq])
    emit(eoi)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(w: int, h: int, indices, palette) -> bytes:
    """GIF89a with a global color table of ``len(palette)`` (a power of
    two, at least 4) entries and one LZW-compressed image."""
    size_bits = len(palette).bit_length() - 2
    mcs = max(2, size_bits + 1)
    data = lzw_compress(indices, mcs)
    blocks = b"".join(
        bytes([len(data[i:i + 255])]) + data[i:i + 255]
        for i in range(0, len(data), 255)
    )
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | size_bits, 0, 0)
        + bytes(c for rgb in palette for c in rgb)
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([mcs])
        + blocks
        + b"\x00\x3b"
    )


def _image(rng: np.random.Generator, media_id: int):
    """One (format, width, height, payload, rgb) image. Pixels come from
    a small palette so both codecs have something to compress; PNG
    sizes are large enough that zlib picks a dynamic-Huffman block."""
    fmt = ("png-rgb", "gif", "png-gray", "gif")[media_id % 4]
    lo, hi = {"png-rgb": ((12, 8), (18, 13)), "png-gray": ((6, 5), (13, 10))}.get(
        fmt, ((4, 3), (14, 10))
    )
    while True:
        w, h = int(rng.integers(lo[0], hi[0])), int(rng.integers(lo[1], hi[1]))
        n_colors = int(rng.choice([4, 8]))
        palette = [tuple(int(c) for c in rng.integers(0, 256, 3)) for _ in range(n_colors)]
        if fmt == "png-gray":
            palette = [(g, g, g) for g, _, _ in palette]
        idx = rng.integers(0, n_colors, (h, w))
        # runs along rows give LZ77/LZW matches
        idx[:, 1::2] = np.where(rng.random((h, w // 2)) < 0.5, idx[:, 0:w - 1:2], idx[:, 1::2])
        rows = [[palette[int(i)] for i in r] for r in idx]
        rgb = [c for row in rows for px in row for c in px]
        if fmt == "gif":
            payload = encode_gif(w, h, [int(i) for i in idx.reshape(-1)], palette)
            return "gif", w, h, payload, rgb
        payload = encode_png(w, h, rows, fmt == "png-rgb")
        if payload is not None:
            return "png", w, h, payload, rgb


def _build_decode(out: str, rng: np.random.Generator) -> dict:
    images = [_image(rng, i) for i in range(MEDIA_IMAGES)]
    table = pa.table(
        {
            "media_id": pa.array(range(MEDIA_IMAGES), pa.int64()),
            "payload": pa.array([im[3] for im in images], pa.binary()),
            "true_format": [im[0] for im in images],
            "true_width": pa.array([im[1] for im in images], pa.int32()),
            "true_height": pa.array([im[2] for im in images], pa.int32()),
            "true_pixels": pa.array([im[4] for im in images], pa.list_(pa.int32())),
        }
    )
    path = os.path.join(out, "media.parquet")
    pq.write_table(table, path)
    return {"media": path, "images": MEDIA_IMAGES}


def decode_inputs(seed: int) -> dict:
    return _cached("decode", seed, _build_decode)


# -- ingest -------------------------------------------------------------


def _build_ingest(out: str, rng: np.random.Generator) -> dict:
    for name in INGEST_TABLES:
        table = pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        n_files = int(rng.integers(1, 5))
        cuts = np.sort(rng.choice(np.arange(1, table.num_rows), n_files - 1, replace=False))
        bounds = [0, *cuts.tolist(), table.num_rows]
        os.makedirs(os.path.join(out, f"{name}.parquet"))
        for k in range(n_files):
            pq.write_table(
                table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                os.path.join(out, f"{name}.parquet", f"part-{k:05d}.parquet"),
            )
    docs = pq.read_metadata(os.path.join(DATA_DIR, "documents.parquet")).num_rows
    return {"sf_dir": out, "documents": docs}


def ingest_inputs(seed: int) -> dict:
    return _cached("ingest", seed, _build_ingest)


INPUTS = {"tree": tree_inputs, "decode": decode_inputs, "ingest": ingest_inputs}
