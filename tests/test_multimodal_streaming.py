"""Multimodal plumbing + Structured Streaming tests.

The multimodal decode is stubbed (no codec libs in the container) but
the Spark-side contract — schema, Arrow batching, partition
inheritance, determinism — is exercised for real. Streaming tests
assert the streaming aggregations equal their batch twins on the same
input (one window-semantics definition, two execution modes).
"""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from decision_tree_stuff_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    decode_media,
    extract_features,
    sample_frames,
    synthesize_media,
)
from decision_tree_stuff_spark.operators.sessionize import sessionize, tumbling_counts
from decision_tree_stuff_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    stream_sessionize,
    stream_tumbling_counts,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return synthesize_media(docs)


def test_media_schema_and_kinds(media):
    assert dict(media.dtypes)["payload"] == "binary"
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    meta = media.select("meta.width", "meta.n_frames").first()
    assert meta["width"] >= 16 and meta["n_frames"] >= 1


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x01", "png")


def test_extract_features_contract(media):
    feats = extract_features(media, n_features=8)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == media.count()
    assert all(len(r["features"]) == 8 for r in rows)
    # payload length survives the Arrow round-trip exactly
    n = media.select(F.length("payload").alias("n"), "media_id").collect()
    nb = {r["media_id"]: r["n"] for r in n}
    assert all(r["n_bytes"] == nb[r["media_id"]] for r in rows)
    # deterministic across runs
    again = extract_features(media, n_features=8).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))
    # narrow stage: no shuffle in the plan
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sample_frames(media):
    frames = sample_frames(media, every_n=4, frame_bytes=16)
    rows = frames.collect()
    assert rows, "expected video rows"
    assert all(r["frame_idx"] % 4 == 0 for r in rows)
    assert all(len(r["frame_payload"]) <= 16 for r in rows)
    # all source rows are videos
    n_videos = media.where(F.col("kind") == "video").count()
    assert frames.select("media_id").distinct().count() == n_videos


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def _batch_events(spark, sf_dir):
    from decision_tree_stuff_spark.queries import _events

    return _events(spark, sf_dir)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_stream_tumbling_equals_batch(spark, sf_dir, events_stream_dir):
    stream = stream_tumbling_counts(read_events_stream(spark, events_stream_dir))
    q = run_stream_to_memory(stream, "tumbling_test", mode="complete")
    got = spark.table("tumbling_test")
    want = tumbling_counts(_batch_events(spark, sf_dir))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)
    q.stop()


def test_stream_sliding_equals_batch(spark, sf_dir, events_stream_dir):
    from decision_tree_stuff_spark.operators.sessionize import sliding_counts
    from decision_tree_stuff_spark.streaming import stream_sliding_counts

    stream = stream_sliding_counts(read_events_stream(spark, events_stream_dir))
    q = run_stream_to_memory(stream, "sliding_test", mode="complete")
    got = spark.table("sliding_test")
    want = sliding_counts(_batch_events(spark, sf_dir))
    cols = ["window_start", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)
    q.stop()


def test_stream_parquet_sink_append_and_exactly_once(
    spark, sf_dir, events_stream_dir, tmp_path
):
    """Durable file sink: watermarked tumbling counts stream into
    parquet (append mode emits only watermark-closed windows → a
    subset of the batch result), and a RESTART on the same checkpoint
    reprocesses nothing — the exactly-once property the checkpoint
    manifest exists for."""
    from decision_tree_stuff_spark.streaming import run_stream_to_parquet

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        stream = stream_tumbling_counts(
            read_events_stream(spark, events_stream_dir)
        )
        q = run_stream_to_parquet(stream, out, ckpt)
        q.stop()

    run()
    got = spark.read.parquet(out)
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    got_rows = _rows(got, cols)
    want_rows = _rows(tumbling_counts(_batch_events(spark, sf_dir)), cols)
    assert 0 < len(got_rows) <= len(want_rows)
    assert set(got_rows) <= set(want_rows), "sink emitted a non-batch row"

    # second run, same checkpoint, same input: nothing new to commit
    run()
    assert _rows(spark.read.parquet(out), cols) == got_rows


def test_stream_sessionize_equals_batch(spark, sf_dir, events_stream_dir):
    stream = stream_sessionize(read_events_stream(spark, events_stream_dir))
    q = run_stream_to_memory(stream, "sessions_test", mode="complete")
    got = spark.table("sessions_test")
    want = sessionize(_batch_events(spark, sf_dir))
    cols = ["user_id", "session_start", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)
    q.stop()


def test_stream_sessionize_merges_across_micro_batches(
    spark, sf_dir, tmp_path_factory
):
    """The stateful path: sessions spanning micro-batch boundaries must
    merge. Four time-ordered file chunks → four micro-batches; result
    must equal batch exactly. (Arrival disorder beyond the watermark
    horizon is dropped by design — that contract is exercised by
    feeding ordered chunks here.)"""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("events_chunks")
    t = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    quarter = t.num_rows // 4
    for i in range(4):
        n = quarter if i < 3 else t.num_rows - 3 * quarter
        pq.write_table(t.slice(i * quarter, n), f"{d}/part{i}.parquet")

    stream = stream_sessionize(read_events_stream(spark, str(d)))
    q = run_stream_to_memory(stream, "sessions_multibatch", mode="complete")
    got = spark.table("sessions_multibatch")
    want = sessionize(_batch_events(spark, sf_dir))
    cols = ["user_id", "session_start", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)
    q.stop()


def test_stream_session_window_under_rocksdb_state_store(
    spark, sf_dir, events_stream_dir
):
    """Same stream≡batch contract with the RocksDB state store — the
    at-scale provider (state on disk, not heap) must be a pure
    execution detail with zero result drift."""
    from decision_tree_stuff_spark.streaming import rocksdb_state_store_confs

    confs = rocksdb_state_store_confs()
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        stream = stream_sessionize(read_events_stream(spark, events_stream_dir))
        q = run_stream_to_memory(stream, "sessions_rocksdb", mode="complete")
        got = spark.table("sessions_rocksdb")
        want = sessionize(_batch_events(spark, sf_dir))
        cols = ["user_id", "session_start", "n_events", "sum_value"]
        assert _rows(got, cols) == _rows(want, cols)
        q.stop()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_image_header_meta_parses_real_png_and_gif(spark):
    """Header metadata decode is REAL (unlike pixel decode): construct
    genuine PNG and GIF byte headers and parse dimensions with pure
    Spark byte expressions."""
    import struct
    import zlib

    from decision_tree_stuff_spark.operators.multimodal import (
        with_image_header_meta,
    )

    def png_bytes(w, h):
        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        chunk += struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        return sig + chunk

    def gif_bytes(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"

    rows = [
        (1, bytearray(png_bytes(640, 480))),
        (2, bytearray(gif_bytes(320, 200))),
        (3, bytearray(b"not an image at all, just bytes")),
        (4, bytearray(b"\x89PN")),  # truncated: too short to parse
    ]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    out = {
        r.media_id: (r.img_format, r.img_width, r.img_height)
        for r in with_image_header_meta(df).collect()
    }
    assert out[1] == ("png", 640, 480)
    assert out[2] == ("gif", 320, 200)
    assert out[3] == (None, None, None)
    assert out[4] == (None, None, None)
    # no UDF anywhere: the parse is a codegen'd projection
    plan = (
        with_image_header_meta(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_audio_header_meta_parses_real_wav(spark):
    """WAV header decode is real: construct a genuine canonical RIFF
    header and parse rate/channels/bits with byte expressions."""
    import struct

    from decision_tree_stuff_spark.operators.multimodal import (
        with_audio_header_meta,
    )

    def wav_bytes(rate, channels, bits):
        byte_rate = rate * channels * bits // 8
        block_align = channels * bits // 8
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, byte_rate, block_align, bits
        )
        data = b"\x00" * 8
        riff_size = 4 + 8 + len(fmt) + 8 + len(data)
        return (
            b"RIFF" + struct.pack("<I", riff_size) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    rows = [
        (1, bytearray(wav_bytes(16000, 1, 16))),
        (2, bytearray(wav_bytes(44100, 2, 24))),
        (3, bytearray(b"definitely not RIFF data here........")),
        # rate fields at and past the int range: the LE32 read must
        # widen before it multiplies, or the whole job overflows
        (4, bytearray(wav_bytes(3_000_000_000, 1, 8))),
        (5, bytearray(wav_bytes(2**31 - 1, 1, 8))),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    out = {
        r.media_id: (
            r.audio_format, r.sample_rate_hz, r.n_channels, r.bits_per_sample
        )
        for r in with_audio_header_meta(df).collect()
    }
    assert out[1] == ("wav", 16000, 1, 16)
    assert out[2] == ("wav", 44100, 2, 24)
    assert out[3] == (None, None, None, None)
    assert out[4] == ("wav", None, 1, 8)
    assert out[5] == ("wav", 2147483647, 1, 8)


def test_image_header_meta_parses_real_jpeg(spark):
    """JPEG dims live in an SOF segment at a VARIABLE offset — the
    bounded aggregate-fold segment walk must find them behind
    arbitrary APPn/COM/DQT segments, with no UDF; malformed streams
    (bad marker byte, missing SOF, truncation) yield nulls with
    format still detected from the FFD8 signature."""
    import struct

    from decision_tree_stuff_spark.operators.multimodal import (
        with_image_header_meta,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def sof(w, h, marker=0xC0):
        #  precision, height, width, n_components (+ dummy per-comp)
        return seg(marker, struct.pack(">BHHB", 8, h, w, 3) + b"\x00" * 9)

    jfif = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    exif = seg(0xE1, b"Exif\x00\x00" + b"\x00" * 40)
    dqt = seg(0xDB, b"\x00" + b"\x01" * 64)

    soi = b"\xff\xd8"
    rows = [
        (1, bytearray(soi + jfif + sof(640, 480))),                  # typical
        (2, bytearray(soi + jfif + exif + dqt + sof(1024, 768, 0xC2))),  # progressive, deep
        (3, bytearray(soi + jfif + dqt)),                            # no SOF
        (4, bytearray(soi + b"\x00\x37" + b"junk")),                 # bad marker byte
        (5, bytearray(soi + jfif + sof(99, 77)[:5])),                # truncated SOF
        (6, bytearray(b"plain text payload")),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    out = {
        r.media_id: (r.img_format, r.img_width, r.img_height)
        for r in with_image_header_meta(df).collect()
    }
    assert out[1] == ("jpeg", 640, 480)
    assert out[2] == ("jpeg", 1024, 768)
    assert out[3] == ("jpeg", None, None)
    assert out[4] == ("jpeg", None, None)
    assert out[5] == ("jpeg", None, None)
    assert out[6] == (None, None, None)
    plan = (
        with_image_header_meta(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_synthesized_header_media_parses_independently(spark):
    """r11: the synthesized JPEG/PNG/GIF header streams must parse
    with an INDEPENDENT Python reader (struct/re, not the Spark
    walk), so the oracle roundtrip can't be satisfied by a mirrored
    encode/parse bug."""
    import struct

    from decision_tree_stuff_spark.operators.multimodal import (
        synthesize_header_media,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 19)], "doc_id bigint"
    )
    rows = synthesize_header_media(docs).collect()
    assert len(rows) == 18
    for r in rows:
        mid, p = r["media_id"], bytes(r["payload"])
        ew, eh = mid % 500 + 16, mid % 300 + 16
        if mid % 3 == 0:  # jpeg: walk segments to SOF0
            assert p[:2] == b"\xff\xd8"
            o = 2
            w = h = None
            for _ in range(8):
                assert p[o] == 0xFF
                marker = p[o + 1]
                seglen = struct.unpack_from(">H", p, o + 2)[0]
                if marker == 0xC0:
                    h, w = struct.unpack_from(">HH", p, o + 5)
                    break
                o += 2 + seglen
            assert (w, h) == (ew, eh), mid
            assert p.endswith(b"\xff\xd9")
        elif mid % 3 == 1:  # png
            assert p[:8] == b"\x89PNG\r\n\x1a\n"
            assert p[12:16] == b"IHDR"
            w, h = struct.unpack_from(">II", p, 16)
            assert (w, h) == (ew, eh), mid
        else:  # gif
            assert p[:6] in (b"GIF87a", b"GIF89a")
            w, h = struct.unpack_from("<HH", p, 6)
            assert (w, h) == (ew, eh), mid
