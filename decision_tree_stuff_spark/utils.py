"""Storage-hygiene helpers shared by the iterative operators.

The trap this module exists for: ``DataFrame.unpersist()`` does NOT
release the blocks behind ``DataFrame.localCheckpoint()``.
``unpersist`` goes through the session CacheManager, which only knows
about ``persist()``/``cache()`` entries; a local checkpoint persists
the *internal RDD* directly (MEMORY_AND_DISK), leaving nothing in the
CacheManager to uncache. The blocks are otherwise reclaimed only when
the JVM garbage-collects the RDD and the ContextCleaner notices —
i.e. at some unbounded later time, and never while the caller's frame
(or a raised traceback) still references the DataFrame. Iterative
algorithms that checkpoint per round therefore accumulate dead blocks
across rounds unless they release them explicitly at the RDD level.

``release_local_checkpoint`` reaches the checkpointed RDD through the
analyzed plan (a checkpointed frame's plan is a single ``LogicalRDD``
node wrapping exactly that RDD) and unpersists it directly — precise,
no id-diffing against ``getPersistentRDDs`` (which would race with
concurrent persists from e.g. parallel sibling tree fits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def unpersist_when_dropped(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Free ``cached``'s storage when the caller drops ``result``.

    For operators that persist an intermediate feeding multiple
    branches of the RETURNED lazy plan: the function cannot unpersist
    before returning (the plan still reads the cache), and leaving the
    entry forever pins it in the session CacheManager (the r2 minhash
    leak). A ``weakref.finalize`` on the returned DataFrame unpersists
    the intermediate as soon as the result object is garbage-collected
    — prompt under CPython refcounting, and SAFE at any time because
    ``unpersist`` (unlike releasing a localCheckpoint's blocks) keeps
    lineage: a derived plan executed after release silently recomputes
    instead of failing. Holds only the java-side DataFrame ref, so the
    Python ``cached`` wrapper itself can die earlier.
    """
    import weakref

    jdf = cached._jdf

    def _release(jdf=jdf):
        try:
            jdf.unpersist(False)
        except Exception:  # JVM already gone at interpreter exit
            pass

    weakref.finalize(result, _release)
    return result


def keepalive(df: DataFrame, *holders) -> DataFrame:
    """Pin ``holders`` (Python DataFrame wrappers) to ``df``'s
    lifetime and return ``df``.

    Counterpart to ``unpersist_when_dropped``: that helper frees a
    persisted intermediate when the RETURNED frame is dropped — but a
    caller that immediately wraps the result (``op(...).select(...)``,
    or a stage-composition loop that rebinds ``out = fn(out)``) drops
    the returned wrapper long before execution, so the weakref fires
    and the cache silently unpersists while the derived plan still
    wants it (unpersist keeps lineage, so the plan recomputes instead
    of failing — correct, but the replay the cache existed to prevent
    comes back; found via plan diffs in the r14 optimization round).
    Attaching the wrapped frames to the final result keeps their
    finalizers — and therefore their caches — alive exactly until the
    consumer drops the result.

    Accumulates: a second ``keepalive`` call on the same frame (query
    composition pinning at two levels) must not drop the first call's
    holders — overwriting the attribute would let those caches
    unpersist before execution, the exact silent regression this
    helper exists to prevent (r14 advice)."""
    df._dts_keepalive = getattr(df, "_dts_keepalive", ()) + tuple(holders)
    return df


def materialized_size_bytes(df: DataFrame):
    """Best-effort stored byte size of a ``localCheckpoint``-ed frame.

    Why it exists (r15, guide §3.1): a checkpointed frame's plan is a
    ``LogicalRDD``, which carries NO size statistics — Catalyst falls
    back to ``spark.sql.defaultSizeInBytes`` (effectively infinite),
    so the planner never auto-broadcasts it and every join against it
    is a full sort-merge/shuffle even when the materialized blocks are
    a few MB. The blocks are already materialized, so their true size
    is sitting in the block manager; read it and let the caller make
    the size-conditional broadcast decision the planner cannot.

    Returns bytes (mem + disk) or None when the frame is not a plain
    checkpoint scan, the storage info is unavailable, or the size is
    not the whole frame's: zero stored bytes, or fewer cached
    partitions than the RDD has (after a lost block the byte total no
    longer describes the frame, and broadcasting a frame of unknown
    size could OOM the driver — unknown size means no broadcast).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        rdd_id = plan.rdd().id()
        for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
            if info.id() == rdd_id:
                size = int(info.memSize()) + int(info.diskSize())
                if size == 0 or info.numCachedPartitions() < info.numPartitions():
                    return None
                return size
    except Exception:  # py4j hiccup — caller falls back to no hint
        return None
    return None


def _broadcast_threshold_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (<=0 means
    broadcasting is disabled and we honor that)."""
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    except Exception:
        return 10 * 1024 * 1024
    s = str(raw).strip().lower()
    mult = 1
    for suf, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                   ("k", 1024), ("m", 1024**2), ("g", 1024**3),
                   ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(float(s)) * mult
    except ValueError:
        return 10 * 1024 * 1024


def broadcast_if_small(df: DataFrame, size_hint_of: DataFrame = None):
    """``F.broadcast(df)`` when the MEASURED materialized size of
    ``size_hint_of`` (default: ``df`` itself) is known and under the
    session's autoBroadcastJoinThreshold; ``df`` unchanged otherwise.

    ``size_hint_of`` covers the common shape where ``df`` is a narrow
    projection/aggregate OF a checkpointed frame (its own plan has no
    storage, but it is bounded above by its checkpointed parent).
    Scale-safe by construction: the hint only fires when the bytes
    are actually small, so a 100 TB edge list keeps its shuffle join.
    """
    from pyspark.sql import functions as F

    src = size_hint_of if size_hint_of is not None else df
    size = materialized_size_bytes(src)
    if size is None:
        return df
    if size <= _broadcast_threshold_bytes(df.sparkSession):
        return F.broadcast(df)
    return df


def release_local_checkpoint(df: DataFrame) -> bool:
    """Eagerly free the storage blocks behind a ``localCheckpoint``-ed
    DataFrame. Returns True if blocks were released, False if the
    frame is not a plain checkpoint scan (best-effort no-op).

    The frame must not be evaluated again afterwards: a local
    checkpoint truncates lineage, so once unpersisted it cannot be
    recomputed.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:  # py4j hiccup — leave it to the ContextCleaner
        return False
