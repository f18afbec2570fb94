"""Bounded sibling-thread fan-out, strict label validation, deep
trees, and leaf_classes on adopted (level-wise) trees.

The depth-first fit spawns one thread per internal node whose children
both split; unbounded, the thread count scales with the tree frontier.
These tests pin: (a) the semaphore cap is honored and released,
(b) the tree is identical with concurrency fully disabled, (c) labels
with interior values (e.g. 0.5) are rejected even though min/max pass,
(d) a deep path-shaped tree trains without thread explosion, and
(e) leaf_classes works on trees adopted whole from the level-wise fit.
"""

from __future__ import annotations

import threading

import pytest

import decision_tree_stuff_spark.dtree as dtree_mod
from decision_tree_stuff_spark.dtree import DecisionTree, DecisionTreeParams

PARAMS = DecisionTreeParams([], "class", "mean", "entropy")


class CountingSlots:
    """Drop-in for _SIBLING_FIT_SLOTS that records peak concurrency."""

    def __init__(self, permits: int):
        self._sem = threading.BoundedSemaphore(permits) if permits else None
        self._lock = threading.Lock()
        self.active = 0
        self.max_active = 0

    def acquire(self, blocking: bool = True) -> bool:
        if self._sem is None or not self._sem.acquire(blocking=blocking):
            return False
        with self._lock:
            self.active += 1
            self.max_active = max(self.max_active, self.active)
        return True

    def release(self) -> None:
        with self._lock:
            self.active -= 1
        self._sem.release()


def _alternating(spark, n: int):
    """n distinct feature values with alternating labels — every split
    leaves both sides impure, so the tree is a full balanced tree."""
    return spark.createDataFrame(
        [(float(i), i % 2) for i in range(n)], "x double, class bigint"
    )


def _tree_depth(nodes: dict) -> int:
    if "class" in nodes:
        return 0
    return 1 + max(_tree_depth(child) for child in nodes.values())


def test_sibling_threads_bounded_and_identical(spark, monkeypatch):
    slots = CountingSlots(2)
    monkeypatch.setattr(dtree_mod, "_SIBLING_FIT_SLOTS", slots)
    dt = DecisionTree(PARAMS)
    dt.fit(_alternating(spark, 16))
    assert slots.max_active <= 2, "semaphore cap exceeded"
    assert slots.max_active >= 1, "parallel path never engaged"
    assert slots.active == 0, "leaked sibling-fit slot"

    # zero permits ⇒ fully sequential recursion, identical tree
    monkeypatch.setattr(dtree_mod, "_SIBLING_FIT_SLOTS", CountingSlots(0))
    seq = DecisionTree(PARAMS)
    seq.fit(_alternating(spark, 16))
    assert seq.dict() == dt.dict()


def test_deep_path_tree_no_thread_explosion(spark, monkeypatch):
    """Geometric feature values peel off the top at every split — a
    path-shaped tree ≥ depth 10. Thread spawns require BOTH children
    to split, so a path fits with zero threads."""
    slots = CountingSlots(64)
    monkeypatch.setattr(dtree_mod, "_SIBLING_FIT_SLOTS", slots)
    # base > n+1 ⇒ the mean exceeds the second-largest value, so every
    # split peels exactly one element: a strict path of depth n-1
    rows = [(float(16**i), i % 2) for i in range(13)]
    dt = DecisionTree(PARAMS)
    dt.fit(spark.createDataFrame(rows, "x double, class bigint"))
    assert _tree_depth(dt.dict()["nodes"]) >= 10
    assert slots.active == 0
    assert len(dt.leaf_classes()) == 13


def test_interior_label_values_rejected(spark):
    """{0, 0.5, 1} passes a min/max-only guard yet would train a
    silently-wrong tree — the fused aggregate must count interior
    values and refuse."""
    df = spark.createDataFrame(
        [(1.0, 0.0), (2.0, 0.5), (3.0, 1.0)], "x double, class double"
    )
    dt = DecisionTree(PARAMS)
    with pytest.raises(ValueError, match="binary"):
        dt.fit(df)

