"""Learned text classifier (E-4lr): binary logistic regression over
hashed n-gram counts — the learned-weights member of the
fastText-style quality/language gate family (``textstats.nb_model``
is the counts-only member; this one actually descends a loss).

Training is full-batch gradient descent with a FIXED iteration count
in BIGINT micro-units fixed point (the same recipe as the PageRank
twin — r8 upgrade from the earlier float-with-rounding contract,
whose order-dependent sums could land exactly on a rounding boundary
and flip the 6th decimal between plans):

    zm_i = bias_m + Σ_b c_ib·wm_b              (exact BIGINT dot)
    p_i  = round(σ(zm_i / 1e6), 6)             (the only float op)
    rm_i = round((y_i − p_i)·1e6)              (exact micro residual)
    wm_b += round_half_away(lr · Σ_i c_ib·rm_i / N)   (BIGINT update)

No float ever enters a SUM, so the trajectory is bit-identical under
any partitioning, any summation order, and in the DuckDB twin by
arithmetic. σ's exp differs at most 1 ulp between libm and Java Math,
and a transcendental output landing exactly on a 5·10⁻⁷ boundary is
measure-zero — the one float op is safe where sums were not.

Scale design: features are ``selection.hashed_ngram_features`` (one
projection + explode + grouped count — the only corpus-sized
shuffle), folded ONCE into a cached per-doc ``bucket → count`` map
(≤ n_buckets entries). Each GD iteration is then a single scan of
the cached frame: z is a STATICALLY UNROLLED Σ_b c_b·w_b over the
current weight literals (zero-weight terms elided — iteration 1 is
the bias alone), and the whole gradient is ONE wide global aggregate
of n_buckets+1 sums whose partial combine reduces every partition to
one 65-double row before the (singleton) shuffle. No join, no
per-doc shuffle, no window inside the loop; exactly n_buckets+1
doubles reach the driver per iteration. The static unroll also makes
z bit-deterministic under ANY partitioning (fixed bucket summation
order), strictly stronger than the rounding contract needs.

The dense unroll is bounded by ``dense_max_buckets`` (default 512 —
codegen expression width, not data size); above it the fit falls
back to the broadcast-join formulation (same math, same contract):
per iteration join the cached feature rows against a BROADCAST
(n_buckets+1)-row weight table, aggregate per doc and per bucket.
Inference mirrors the same split: literal-array weight lookup below
the threshold, broadcast join above.
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, functions as F

from decision_tree_stuff_spark.operators.selection import (
    hashed_ngram_features,
)

BIAS_BUCKET = -1  # the bias term's row in the portable weight table


def _round_away(x: float, dp: int = 6) -> float:
    """Half-away-from-zero rounding — the convention Spark's
    ``F.round`` (BigDecimal HALF_UP) and DuckDB's ``round`` share;
    Python's builtin ``round`` is half-even and would diverge on exact
    boundary ties."""
    q = 10**dp
    return math.floor(abs(x) * q + 0.5) / q * (1 if x >= 0 else -1)


def lr_fit(
    docs: DataFrame,
    label_col: str,
    n_buckets: int = 64,
    iters: int = 4,
    lr: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
    cache: bool = True,
    dense_max_buckets: int = 512,
) -> List[Tuple[int, float]]:
    """Train; returns ``[(bucket, weight), ...]`` with the bias at
    ``bucket == BIAS_BUCKET``. ``label_col`` must be 0/1-valued
    (cast to double internally). Documents with no tokens still train
    the bias (their z is the bias alone)."""
    if n_buckets <= dense_max_buckets:
        return _lr_fit_dense_loop(
            docs, label_col, n_buckets, iters, lr, id_col, text_col,
            round_dp, cache,
        )
    return _lr_fit_joined(
        docs, label_col, n_buckets, iters, lr, id_col, text_col,
        round_dp, cache,
    )


def _lr_fit_dense_loop(
    docs: DataFrame,
    label_col: str,
    n_buckets: int,
    iters: int,
    lr: float,
    id_col: str,
    text_col: str,
    round_dp: int,
    cache: bool,
) -> List[Tuple[int, float]]:
    """The dense path: one cached (y, bucket→count map) frame, then
    one scan + one wide global aggregate + one driver collect per
    iteration. All sums are BIGINT micro-units (counts × micro-weights
    / micro-residuals), so the trajectory is EXACT — identical under
    any partitioning, any summation order, and in the DuckDB twin by
    arithmetic, not by rounding luck. A fused single-action form (one
    broadcast-crossJoined state frame, one ``first()``) measured 2×
    slower at sf0.1 in r14 and was deleted."""
    q = 10**round_dp
    labels = docs.select(
        F.col(id_col), F.col(label_col).cast("double").alias("y")
    )
    featmap = (
        hashed_ngram_features(docs, id_col, text_col, n_buckets)
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("c")))
            ).alias("__m")
        )
    )
    # left join: token-less docs keep a null map and train the bias
    prep = labels.join(featmap, id_col, "left").select("y", "__m")
    if cache:
        from pyspark import StorageLevel

        prep = prep.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = prep.count()
        if n == 0:
            raise ValueError("lr_fit: empty corpus")

        def cnt(b: int):
            return F.coalesce(
                F.element_at(F.col("__m"), F.lit(b).cast("bigint")),
                F.lit(0).cast("bigint"),
            )

        wm: Dict[int, int] = {b: 0 for b in range(n_buckets)}
        wm[BIAS_BUCKET] = 0
        keys = F.lit(list(range(n_buckets)))
        for _ in range(iters):
            # z in micro-units: exact BIGINT dot product against the
            # current weight literals, folded with ONE ``aggregate``
            # HOF over the zipped (bucket, weight) literal arrays.
            # Measured alternatives at sf10 (250k docs): a 64-term
            # `+` chain (left-nested OR balanced) blows up
            # superlinearly past ~32 terms — 0.5 s at 16 terms,
            # 1.6 s at 32, 20 s at 64, codegen giving up — while the
            # fold is 1.3 s and linear in n_buckets. Fold order is
            # the fixed bucket order, so z stays bit-deterministic
            # (and exact: integer arithmetic throughout). A broadcast
            # 1-row weight-array variant was also A/B'd and lost
            # (extra BroadcastNestedLoopJoin, no Janino cache hit).
            ws = F.lit([wm[b] for b in range(n_buckets)])
            zm = F.aggregate(
                F.zip_with(
                    keys, ws, lambda k, w: F.struct(k.alias("k"), w.alias("w"))
                ),
                F.lit(wm[BIAS_BUCKET]).cast("bigint"),
                lambda acc, s: acc
                + F.coalesce(
                    F.element_at(F.col("__m"), s["k"].cast("bigint")),
                    F.lit(0).cast("bigint"),
                )
                * s["w"],
            )
            p = F.round(
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(zm.cast("double") / F.lit(float(q))))),
                round_dp,
            )
            rm = F.round((F.col("y") - p) * F.lit(float(q)), 0).cast("bigint")
            scored = prep.select("__m", rm.alias("__rm"))
            row = scored.agg(
                F.sum("__rm").alias("gb"),
                *[
                    F.sum(cnt(b) * F.col("__rm")).alias(f"g{b}")
                    for b in range(n_buckets)
                ],
            ).first()
            wm = {
                b: wm[b]
                + int(
                    _round_away(
                        lr
                        * (row["gb" if b == BIAS_BUCKET else f"g{b}"] or 0)
                        / n,
                        0,
                    )
                )
                for b in wm
            }
        return sorted((b, v / q) for b, v in wm.items())
    finally:
        if cache:
            prep.unpersist()


def _lr_fit_joined(
    docs: DataFrame,
    label_col: str,
    n_buckets: int,
    iters: int,
    lr: float,
    id_col: str,
    text_col: str,
    round_dp: int,
    cache: bool,
) -> List[Tuple[int, float]]:
    """Broadcast-join path for bucket counts beyond the unroll bound —
    the same exact micro-units arithmetic as the dense path (BIGINT
    dot products and gradients), so both paths produce bit-identical
    weights."""
    q = 10**round_dp
    spark = docs.sparkSession
    labels = docs.select(
        F.col(id_col), F.col(label_col).cast("double").alias("y")
    )
    # the bias is a constant feature (bucket BIAS_BUCKET, c=1) on
    # every document — it rides the same join/aggregates as the real
    # buckets, so each GD iteration is exactly ONE action (the
    # per-bucket gradient collect) instead of a separate bias pass,
    # and token-less docs train the bias through the same path.
    feats = hashed_ngram_features(docs, id_col, text_col, n_buckets).union(
        labels.select(
            F.col(id_col),
            F.lit(BIAS_BUCKET).cast("bigint").alias("bucket"),
            F.lit(1).cast("bigint").alias("c"),
        )
    )
    if cache:
        from pyspark import StorageLevel

        feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
        labels = labels.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = labels.count()
        if n == 0:
            raise ValueError("lr_fit: empty corpus")
        wm: Dict[int, int] = {b: 0 for b in range(n_buckets)}
        wm[BIAS_BUCKET] = 0
        for _ in range(iters):
            wdf = spark.createDataFrame(
                list(wm.items()), "bucket bigint, wm bigint"
            )
            zf = (
                feats.join(F.broadcast(wdf), "bucket")
                .groupBy(id_col)
                .agg(F.sum(F.col("c") * F.col("wm")).alias("zm"))
            )
            p = F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.col("zm").cast("double") / F.lit(float(q))))
                ),
                round_dp,
            )
            resid = labels.join(zf, id_col).select(
                F.col(id_col),
                F.round((F.col("y") - p) * F.lit(float(q)), 0)
                .cast("bigint")
                .alias("rm"),
            )
            grows = (
                feats.join(resid, id_col)
                .groupBy("bucket")
                .agg(F.sum(F.col("c") * F.col("rm")).alias("g"))
                .collect()
            )
            g = {r["bucket"]: r["g"] for r in grows}
            wm = {
                b: wm[b] + int(_round_away(lr * g.get(b, 0) / n, 0))
                for b in wm
            }
        return sorted((b, v / q) for b, v in wm.items())
    finally:
        if cache:
            feats.unpersist()
            labels.unpersist()


def lr_classify(
    docs: DataFrame,
    weights: List[Tuple[int, float]],
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
    dense_max_buckets: int = 512,
) -> DataFrame:
    """(id, score, pred) under a trained weight list — the feature
    projection + one per-doc aggregate. Below ``dense_max_buckets``
    the per-feature weight is a literal-array lookup (no join at
    all); above it, ONE broadcast join against the weight table,
    which never exceeds n_buckets+1 rows however large the corpus.
    Weights are interpreted at ``round_dp`` resolution (they come out
    of ``lr_fit`` that way) and the dot product runs in exact BIGINT
    micro-units — the same arithmetic as the fit."""
    q = 10**round_dp
    spark = docs.sparkSession
    wmap = {b: int(_round_away(w * q, 0)) for b, w in weights}
    bias_m = wmap.pop(BIAS_BUCKET, 0)
    n_buckets = (max(wmap) + 1) if wmap else 1
    feats = hashed_ngram_features(docs, id_col, text_col, n_buckets)
    if n_buckets <= dense_max_buckets:
        warr = [wmap.get(b, 0) for b in range(n_buckets)]
        zf = feats.groupBy(id_col).agg(
            F.sum(
                F.col("c")
                * F.element_at(
                    F.lit(warr), (F.col("bucket") + 1).cast("int")
                )
            ).alias("zm")
        )
    else:
        wdf = spark.createDataFrame(
            sorted(wmap.items()), "bucket bigint, wm bigint"
        )
        zf = (
            feats.join(F.broadcast(wdf), "bucket", "left")
            .groupBy(id_col)
            .agg(
                F.sum(
                    F.col("c")
                    * F.coalesce(F.col("wm"), F.lit(0).cast("bigint"))
                ).alias("zm")
            )
        )
    score = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -(
                    (
                        F.coalesce(F.col("zm"), F.lit(0).cast("bigint"))
                        + F.lit(bias_m)
                    ).cast("double")
                    / F.lit(float(q))
                )
            )
        ),
        round_dp,
    )
    return (
        docs.select(id_col)
        .join(zf, id_col, "left")
        .select(
            F.col(id_col),
            score.alias("score"),
            (score >= F.lit(threshold)).alias("pred"),
        )
    )
