"""Cache-lifecycle pins for the r14 replay caches (r14 advice + r14
verdict task 7).

Four families of claim:

1. Release-on-drop: the ``temperature_sample`` counts cache
   (default-on) and the ``bm25_topk`` tf cache (opt-in) must leave the
   session CacheManager once the result frame is dropped — mirroring
   ``test_minhash_cache_released_when_result_dropped``.
2. Release-on-construction-error: a failure AFTER ``persist()`` but
   BEFORE the ``unpersist_when_dropped`` finalizer is attached must
   not leak the CacheManager registration for the session (the r14
   advice window; both operators now route post-persist construction
   through a helper wrapped in try/except).
3. Plan-shape assertion (verdict task 7): the composed queries that
   pin caches via ``utils.keepalive`` must still show
   ``InMemoryTableScan`` nodes in the EXECUTED plan after a GC pass —
   the silent failure mode keepalive fixes is precisely the caches
   unpersisting before execution, which leaves the output correct but
   replays the subtree. A regression (dropped keepalive, re-wrapped
   result) turns these red.
4. Size-hint fail-safety: ``broadcast_if_small`` must not broadcast a
   checkpoint whose stored size covers only part of its partitions.
"""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from decision_tree_stuff_spark.operators.retrieval import bm25_topk
from decision_tree_stuff_spark.operators.sampling import temperature_sample


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _docs(spark):
    rows = [
        (i, f"tok{i} alpha beta gamma delta common text body", i % 3)
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, grp int")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _imts(df) -> int:
    return _executed_plan(df).count("InMemoryTableScan")


# ---------------------------------------------------------------- 1.


def test_temperature_sample_cache_released_when_result_dropped(spark):
    spark.catalog.clearCache()
    assert _cache_manager_empty(spark)
    out = temperature_sample(
        _docs(spark), "grp", total_n=10, alpha=0.5, key_cols=["doc_id"]
    )
    assert not _cache_manager_empty(spark)  # counts cache is live
    out.collect()
    del out
    gc.collect()
    assert _cache_manager_empty(spark)


def test_bm25_cache_tf_released_when_result_dropped(spark):
    spark.catalog.clearCache()
    assert _cache_manager_empty(spark)
    docs = _docs(spark)
    probes = docs.limit(2).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    out = bm25_topk(docs, probes, k=3, cache_tf=True)
    assert not _cache_manager_empty(spark)  # tf cache is live
    out.collect()
    del out
    gc.collect()
    assert _cache_manager_empty(spark)


# ---------------------------------------------------------------- 2.


def test_temperature_sample_unpersists_on_construction_error(
    spark, monkeypatch
):
    """Failure between persist() and finalizer attachment must not
    leak the CacheManager entry (r14 advice)."""
    import decision_tree_stuff_spark.operators.sampling as sampling_mod

    spark.catalog.clearCache()

    def _boom(*a, **k):
        raise RuntimeError("construction failed post-persist")

    monkeypatch.setattr(sampling_mod, "_temperature_quota_plan", _boom)
    with pytest.raises(RuntimeError, match="post-persist"):
        temperature_sample(
            _docs(spark), "grp", total_n=10, alpha=0.5, key_cols=["doc_id"]
        )
    assert _cache_manager_empty(spark)


def test_bm25_unpersists_on_construction_error(spark, monkeypatch):
    import decision_tree_stuff_spark.operators.retrieval as retrieval_mod

    spark.catalog.clearCache()

    def _boom(*a, **k):
        raise RuntimeError("construction failed post-persist")

    monkeypatch.setattr(retrieval_mod, "_bm25_score", _boom)
    docs = _docs(spark)
    probes = docs.limit(2).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    with pytest.raises(RuntimeError, match="post-persist"):
        bm25_topk(docs, probes, k=3, cache_tf=True)
    assert _cache_manager_empty(spark)


# ---------------------------------------------------------------- 3.


def test_keepalive_accumulates_holders():
    """A second keepalive on the same frame must ADD holders, not
    replace them (r14 advice: overwrite silently dropped the first
    call's pins)."""

    class FrameStub:  # plain attribute carrier, mirrors DataFrame use
        pass

    from decision_tree_stuff_spark.utils import keepalive

    df = FrameStub()
    a, b = object(), object()
    keepalive(df, a)
    keepalive(df, b)
    assert df._dts_keepalive == (a, b)


def test_retrieval_pipeline_executed_plan_keeps_cache_scans(spark, sf_dir):
    """q_e4_retrieval_pipeline pins the fused-RRF persist on the result
    and the bm25 tf cache via keepalive. After a GC pass (which fires
    any prematurely-dropped finalizer), the executed plan must still
    read both caches; losing them replays the full BM25+dense+RRF
    upstream (the r14 plan diff: documents scans 14 -> 6)."""
    from decision_tree_stuff_spark.queries import ALL_QUERIES

    spark.catalog.clearCache()
    out = ALL_QUERIES["e4_retrieval_pipeline"](spark, sf_dir)
    gc.collect()
    assert _imts(out) >= MIN_IMTS_RETRIEVAL
    del out
    gc.collect()
    assert _cache_manager_empty(spark)


def test_jaccard_executed_plan_keeps_cache_scans(spark, sf_dir):
    """e2_jaccard_pairs ships cache_docsets=True: the docsets cache
    feeds 4 consumers (r14 plan diff: 0 -> 8 InMemoryTableScan)."""
    from decision_tree_stuff_spark.queries import ALL_QUERIES

    spark.catalog.clearCache()
    out = ALL_QUERIES["e2_jaccard_pairs"](spark, sf_dir)
    gc.collect()
    assert _imts(out) >= MIN_IMTS_JACCARD
    del out
    gc.collect()
    assert _cache_manager_empty(spark)


def test_e12_executed_plan_keeps_cache_scans(spark, sf_dir):
    """e12_batch_ingest composes the temperature_sample counts cache
    through the ingest stage loop (the keepalive call site that
    motivated the helper: the loop rebinds out = fn(out))."""
    from decision_tree_stuff_spark.queries import ALL_QUERIES

    spark.catalog.clearCache()
    out = ALL_QUERIES["e12_batch_ingest"](spark, sf_dir)
    gc.collect()
    assert _imts(out) >= MIN_IMTS_E12
    del out
    gc.collect()
    assert _cache_manager_empty(spark)


# Lower bounds measured on the shipped tree at sf0.001 / local[4]
# (see OPTIMIZATION_r15.md): with the pins the executed plans read
# 10 / 4 / 8 InMemoryTableScan; with keepalive stubbed out e12 drops
# to 0 (measured) — the regression each bound guards. Bounds sit at
# half the measured value so benign plan drift does not flake them.
MIN_IMTS_RETRIEVAL = 8
MIN_IMTS_JACCARD = 2
MIN_IMTS_E12 = 4


def test_broadcast_if_small_skips_partially_cached_checkpoint(spark):
    """A checkpoint that lost a block has no trustworthy stored size:
    the block manager's byte total no longer describes the frame (on
    Spark 4.1 a removal even ADDS the removed block's bytes again, so
    4 equal blocks of B read 5B). The size must read as unknown and
    the frame must come back without a broadcast hint, even at a
    threshold that the stale byte total fits under."""
    import time

    from decision_tree_stuff_spark.utils import (
        broadcast_if_small,
        materialized_size_bytes,
        release_local_checkpoint,
    )

    df = (
        spark.range(0, 4000, numPartitions=4)
        .select("id", F.repeat(F.lit("x"), 50).alias("pad"))
        .localCheckpoint(eager=True)
    )
    full = materialized_size_bytes(df)
    assert full and full > 0
    jvm = spark.sparkContext._jvm
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()

    def storage_info():
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
            if info.id() == rdd_id:
                return info
        return None

    jvm.org.apache.spark.SparkEnv.get().blockManager().removeBlock(
        jvm.org.apache.spark.storage.RDDBlockId(rdd_id, 0), True
    )
    deadline = time.time() + 30
    while storage_info().numCachedPartitions() == 4 and time.time() < deadline:
        time.sleep(0.1)  # block updates reach the status store async
    info = storage_info()
    assert (info.numCachedPartitions(), info.numPartitions()) == (3, 4)
    stale = int(info.memSize()) + int(info.diskSize())
    assert stale > 0

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(max(stale, full)))
    try:
        assert materialized_size_bytes(df) is None
        assert broadcast_if_small(df) is df
    finally:
        spark.conf.set(key, old)
        release_local_checkpoint(df)
