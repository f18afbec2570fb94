"""Logistic-regression gate (operators/classifier.py): one-iteration
hand math vs a pure-Python replica, held-out discrimination on a
separable corpus, partitioning-independence of the rounding contract,
and null/empty handling.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from decision_tree_stuff_spark.operators.classifier import (
    BIAS_BUCKET,
    _round_away,
    lr_classify,
    lr_fit,
)


def _py_bucket(gram: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % n_buckets


def _py_feats(text: str, n_buckets: int):
    toks = [t for t in text.lower().split() if t]
    grams = toks + [
        f"{a}\x01{b}" for a, b in zip(toks, toks[1:])
    ]
    out = {}
    for g in grams:
        b = _py_bucket(g, n_buckets)
        out[b] = out.get(b, 0) + 1
    return out


def test_lr_one_iteration_hand_math(spark):
    """Replicate one GD step in pure Python — weights must agree to
    the last rounded digit."""
    rows = [(0, "aa bb", 1), (1, "cc dd", 0), (2, "aa cc", 1)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, y int")
    B, lr = 16, 0.5
    got = dict(lr_fit(docs, "y", n_buckets=B, iters=1, lr=lr))

    n = len(rows)
    # iteration 0: all weights 0 -> z = 0 -> p = 0.5 for every doc
    grads = {}
    gb = 0.0
    for _, text, y in rows:
        r = y - 0.5
        gb += r
        for b, c in _py_feats(text, B).items():
            grads[b] = grads.get(b, 0.0) + c * r
    expect = {
        b: _round_away(lr * g / n) for b, g in grads.items()
    }
    for b in range(B):
        assert got[b] == expect.get(b, 0.0), b
    assert got[BIAS_BUCKET] == _round_away(lr * gb / n)


def test_lr_discriminates_separable_labels(spark):
    """Two disjoint vocabularies -> held-out accuracy must be
    perfect."""
    rows = []
    for i in range(40):
        rows.append((2 * i, "law court ruling appeal clause", 1))
        rows.append((2 * i + 1, "oven salt recipe dish pan", 0))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, y int")
    w = lr_fit(
        docs.where("doc_id < 60"), "y", n_buckets=128, iters=6, lr=1.0
    )
    held = lr_classify(docs.where("doc_id >= 60"), w).join(
        docs.select("doc_id", "y"), "doc_id"
    )
    acc = held.agg(
        F.avg((F.col("pred") == (F.col("y") == 1)).cast("double"))
    ).first()[0]
    assert acc == 1.0, acc


def test_lr_rounding_contract_is_partitioning_independent(spark):
    """The 6dp rounding on z/σ/weights must make the trajectory
    identical under different partitionings — the property the
    cross-engine oracle relies on."""
    rows = [
        (i, f"tok{i % 7} tok{(i * 3) % 7} tok{(i * 5) % 11}", i % 2)
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, y int")
    w1 = lr_fit(docs.coalesce(1), "y", n_buckets=32, iters=3, lr=0.3)
    w8 = lr_fit(docs.repartition(8), "y", n_buckets=32, iters=3, lr=0.3)
    assert w1 == w8


def test_lr_empty_docs_train_bias_only(spark):
    """Token-less docs contribute to N and the bias gradient but to no
    bucket; classification gives them score σ(bias)."""
    docs = spark.createDataFrame(
        [(0, "aa bb", 1), (1, "", 1), (2, None, 0)],
        "doc_id bigint, text string, y int",
    )
    w = lr_fit(docs, "y", n_buckets=8, iters=1, lr=0.6)
    bias = dict(w)[BIAS_BUCKET]
    # residual 0.5 + 0.5 - 0.5 over 3 docs
    assert bias == _round_away(0.6 * 0.5 / 3)
    out = {r["doc_id"]: r for r in lr_classify(docs, w).collect()}
    sig = _round_away(1.0 / (1.0 + math.exp(-bias)))
    assert out[1]["score"] == sig and out[2]["score"] == sig


def test_lr_joined_path_matches_dense_bitwise(spark):
    """The _lr_fit_joined fallback (n_buckets > dense_max_buckets)
    claims bit-identical weights to the dense unroll; pin it (r9
    advice — the e4_lr_langid gate only ever exercises the dense
    path, so without this the claim was regression-unprotected)."""
    rows = [
        (i, f"tok{i % 13} tok{(i * 3) % 17} tok{(i * 5) % 11} tok{i % 4}",
         i % 2)
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, y int")
    for n_buckets in (32, 64):
        dense = lr_fit(
            docs, "y", n_buckets=n_buckets, iters=3, lr=0.5,
            dense_max_buckets=512,
        )
        joined = lr_fit(
            docs, "y", n_buckets=n_buckets, iters=3, lr=0.5,
            dense_max_buckets=0,
        )
        assert dense == joined, n_buckets


def test_lr_empty_corpus_raises(spark):
    import pytest

    docs = spark.createDataFrame([], "doc_id bigint, text string, y int")
    with pytest.raises(ValueError, match="empty"):
        lr_fit(docs, "y", n_buckets=8, iters=1)
