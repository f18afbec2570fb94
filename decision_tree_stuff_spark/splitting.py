"""Split search as Catalyst expressions + one DataFrame program.

Re-expresses the reference split-search dataflow
(/root/reference/decision_tree_stuff/splitting.py:100-169) Spark-first:

* Impurity metrics and threshold strategies are pure
  ``pyspark.sql.Column`` expression builders (reference
  splitting.py:43-97) — they stay inside whole-stage codegen; no UDFs.
* ``compute_all_splits`` is the reference's melt → window-threshold →
  conditional-agg → score → sort program (splitting.py:116-146) as one
  declarative DataFrame plan, oracle-checkable in ANSI SQL.
* ``score_all_splits_wide`` is the split search of ``fit``, called
  once per node of the depth-first recursion: two shuffle-free
  wide-aggregation passes (k features → one row of 4k aggregates)
  instead of exploding rows×k through an unpivot + window.
  At 100 TB the unpivot path shuffles rows×features rows and hashes
  them into k heavily-skewed window partitions; the wide-agg path is
  two map-side-combined scans with a single-row result.

Semantic quirks preserved (SURVEY.md §2.4): unweighted impurity sum
(Q-1), empty-side p1 imputed 0.0 (Q-2), and — deliberately fixed —
deterministic tie-breaks by (metric, variable) (Q-3).
"""

from __future__ import annotations

import abc
import math
from dataclasses import dataclass
from typing import Any, Dict, List, Optional, Type, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MetricOrStr = Union[Type["SplitMetric"], str]
MethodOrStr = Union[Type["SplittingMethod"], str]


@dataclass
class SplitParams:
    """A single split condition ``attribute <= threshold``.

    Mirrors reference splitting.py:8-22. ``split`` is the core O-1
    predicate filter-split: two filters over one parent frame; on
    Spark both halves share the parent's (cached) scan and the
    predicates push down to the source.
    """

    attribute: str
    threshold: float

    def split(self, samples: DataFrame) -> tuple[DataFrame, DataFrame]:
        return (
            samples.filter(F.col(self.attribute) <= F.lit(self.threshold)),
            samples.filter(F.col(self.attribute) > F.lit(self.threshold)),
        )

    def to_debug_string(self) -> str:
        return "{ " + f'"{self.attribute}" <= {self.threshold}' + " }"


class SplittingMethod(abc.ABC):
    """Candidate-threshold strategy: one threshold per feature.

    Mirrors reference splitting.py:25-58. ``threshold_expr`` returns an
    aggregate Column usable both as a plain aggregate and as a window
    function over ``variable`` partitions.
    """

    name: str

    @classmethod
    @abc.abstractmethod
    def threshold_expr(cls, expr: Column) -> Column: ...

    @classmethod
    def threshold_window_expr(cls, expr: Column, w: Any) -> Column:
        """Threshold as a window function over ``w``. Composite
        expressions must apply ``.over`` per aggregate (Catalyst
        rejects ``((min+max)/2).over``), so composites override."""
        return cls.threshold_expr(expr).over(w)

    @classmethod
    def compute_params(cls, samples: DataFrame, splitting_key: str) -> SplitParams:
        row = samples.agg(
            cls.threshold_expr(F.col(splitting_key)).alias("threshold")
        ).first()
        return SplitParams(splitting_key, row["threshold"])

    @classmethod
    def split(cls, samples: DataFrame, by: str) -> tuple[DataFrame, DataFrame]:
        return cls.compute_params(samples, by).split(samples)


class MidpointSplitter(SplittingMethod):
    """(min + max) / 2 — reference splitting.py:43-46."""

    name = "midpoint"

    @classmethod
    def threshold_expr(cls, expr: Column) -> Column:
        return (F.min(expr) + F.max(expr)) / 2.0

    @classmethod
    def threshold_window_expr(cls, expr: Column, w: Any) -> Column:
        return (F.min(expr).over(w) + F.max(expr).over(w)) / 2.0


class MedianSplitter(SplittingMethod):
    """Exact median — reference splitting.py:49-52.

    Exact ``percentile`` (interpolating), NOT ``percentile_approx``:
    the approximate sketch would silently diverge from the reference
    and from the DuckDB oracle. Exact percentile materializes each
    window partition — acceptable at test scale; the wide-agg fit path
    computes it as a plain aggregate (sort-based, spillable) instead.
    """

    name = "median"

    @classmethod
    def threshold_expr(cls, expr: Column) -> Column:
        return F.percentile(expr, F.lit(0.5))


class MeanSplitter(SplittingMethod):
    """Arithmetic mean — reference splitting.py:55-58."""

    name = "mean"

    @classmethod
    def threshold_expr(cls, expr: Column) -> Column:
        return F.avg(expr)


class SplitMetric(abc.ABC):
    """Impurity metric over the class-1 probability p1.

    Mirrors reference splitting.py:61-85. ``eval_from_p1_expr`` builds
    a Column; ``eval_py`` is the same math for driver-side scoring in
    the wide-agg fit path (identical IEEE-754 double arithmetic).
    """

    seek_minimum: bool
    name: str

    @classmethod
    @abc.abstractmethod
    def eval_from_p1_expr(cls, p1_expr: Column) -> Column: ...

    @classmethod
    @abc.abstractmethod
    def eval_py(cls, p1: float) -> float: ...


class EntropySplitMetric(SplitMetric):
    """H(p1) = -p0*log2(p0) - p1*log2(p1), NaN→0 (splitting.py:70-76).

    Polars yields 0*log2(0) = 0*(-inf) = NaN then fills 0.0; Spark's
    ``log2`` returns NULL for non-positive input, so the degenerate
    p1∈{0,1} case surfaces as NULL — coalesce reproduces the 0.0.
    """

    seek_minimum = True
    name = "entropy"

    @classmethod
    def eval_from_p1_expr(cls, p1_expr: Column) -> Column:
        p0 = 1.0 - p1_expr
        h = -p0 * F.log2(p0) - p1_expr * F.log2(p1_expr)
        return F.coalesce(F.nanvl(h, F.lit(0.0)), F.lit(0.0))

    @classmethod
    def eval_py(cls, p1: float) -> float:
        if p1 is None or p1 <= 0.0 or p1 >= 1.0:
            return 0.0
        p0 = 1.0 - p1
        return -p0 * math.log2(p0) - p1 * math.log2(p1)


class GiniImpuritySplitMetric(SplitMetric):
    """Gini = 1 - p0^2 - p1^2 (splitting.py:79-85)."""

    seek_minimum = True
    name = "gini"

    @classmethod
    def eval_from_p1_expr(cls, p1_expr: Column) -> Column:
        p0 = 1.0 - p1_expr
        return 1.0 - F.pow(p0, 2) - F.pow(p1_expr, 2)

    @classmethod
    def eval_py(cls, p1: float) -> float:
        if p1 is None:
            p1 = 0.0
        p0 = 1.0 - p1
        return 1.0 - p0**2 - p1**2


SPLIT_METRIC_LOOKUP: Dict[str, Type[SplitMetric]] = {
    "entropy": EntropySplitMetric,
    "gini": GiniImpuritySplitMetric,
}

SPLIT_METHOD_LOOKUP: Dict[str, Type[SplittingMethod]] = {
    "midpoint": MidpointSplitter,
    "median": MedianSplitter,
    "mean": MeanSplitter,
}


def resolve_metric(metric: MetricOrStr) -> Type[SplitMetric]:
    if isinstance(metric, str):
        if metric not in SPLIT_METRIC_LOOKUP:
            raise ValueError(
                f"unknown split metric {metric!r}; "
                f"valid: {sorted(SPLIT_METRIC_LOOKUP)}"
            )
        return SPLIT_METRIC_LOOKUP[metric]
    return metric


def resolve_method(method: MethodOrStr) -> Type[SplittingMethod]:
    if isinstance(method, str):
        if method not in SPLIT_METHOD_LOOKUP:
            raise ValueError(
                f"unknown splitting method {method!r}; "
                f"valid: {sorted(SPLIT_METHOD_LOOKUP)}"
            )
        return SPLIT_METHOD_LOOKUP[method]
    return method


_NUMERIC_PREFIXES = (
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
    "decimal",
)


def splittable_attributes(
    samples: DataFrame,
    class_column: str,
    feature_columns: Optional[List[str]] = None,
) -> List[str]:
    """Split-candidate columns, sorted for deterministic order.

    Default (``feature_columns=None``) preserves reference quirk Q-5
    (splitting.py:112): the configured ``feature_columns`` are NOT
    consulted — every numeric non-class column is a candidate. Two
    deliberate deviations: (a) the reference's unordered ``set``
    becomes a sort, so tie-breaks are deterministic under Spark
    partition order (Q-3); (b) non-numeric columns are excluded — the
    reference errors on them anyway (Polars ``mean`` on Utf8), and
    skipping them lets fit run directly on mixed-schema tables like
    ``documents`` instead of dying in ``avg(string)`` cast errors.

    Passing a non-empty ``feature_columns`` (the documented strict
    opt-in, SURVEY §1.3 — reached via
    ``DecisionTreeParams(strict_feature_columns=True)``) restricts
    candidates to exactly those columns, erroring loudly on names that
    are absent, non-numeric, or the class column — a silent fallback
    here would reintroduce Q-5 under a flag that promises otherwise.
    """
    numeric = {
        f.name
        for f in samples.schema.fields
        if f.dataType.simpleString().startswith(_NUMERIC_PREFIXES)
    }
    if feature_columns:
        bad = [
            c
            for c in feature_columns
            if c not in numeric or c == class_column
        ]
        if bad:
            raise ValueError(
                f"strict feature_columns {bad} are not numeric non-class "
                f"columns of the dataset (numeric: {sorted(numeric)})"
            )
        return sorted(set(feature_columns))
    attrs = sorted((set(samples.columns) & numeric) - {class_column})
    assert len(attrs) > 0, "No splittable attrs"
    return attrs


def compute_all_splits(
    samples: DataFrame,
    class_column: str,
    metric: MetricOrStr,
    method: MethodOrStr,
) -> DataFrame:
    """Score every (feature, threshold) candidate — reference dataflow.

    One declarative plan mirroring splitting.py:116-146:
    unpivot (O-2) → per-variable window threshold (O-3) → side tag
    (O-4) → conditional group-agg (O-5) → impurity score (O-6) →
    deterministic sort (O-7). Returns columns
    (variable, threshold, left_p1, right_p1, metric).

    Scale note: this is the parity/oracle form. ``fit`` uses
    ``score_all_splits_wide`` which computes the same table without
    the rows×k unpivot or the k-partition window shuffle.
    """
    metric_cls = resolve_metric(metric)
    method_cls = resolve_method(method)
    attrs = splittable_attributes(samples, class_column)

    melted = samples.unpivot(
        ids=[class_column],
        values=attrs,
        variableColumnName="variable",
        valueColumnName="value",
    )
    w = Window.partitionBy("variable")
    cls_col = F.col(class_column)
    scored = (
        melted.withColumn(
            "threshold", method_cls.threshold_window_expr(F.col("value"), w)
        )
        .withColumn("left", F.col("value") <= F.col("threshold"))
        .groupBy("variable", "threshold")
        .agg(
            F.coalesce(F.avg(F.when(F.col("left"), cls_col)), F.lit(0.0)).alias(
                "left_p1"
            ),
            F.coalesce(F.avg(F.when(~F.col("left"), cls_col)), F.lit(0.0)).alias(
                "right_p1"
            ),
        )
        .withColumn(
            "metric",
            F.coalesce(
                F.nanvl(
                    metric_cls.eval_from_p1_expr(F.col("left_p1"))
                    + metric_cls.eval_from_p1_expr(F.col("right_p1")),
                    F.lit(0.0),
                ),
                F.lit(0.0),
            ),
        )
        .orderBy(
            F.col("metric").asc() if metric_cls.seek_minimum else F.col("metric").desc(),
            F.col("variable").asc(),
        )
    )
    return scored


# Max aggregate expressions per job for the wide-agg paths. One giant
# agg past a few thousand expressions trips the 64KB JVM method limit:
# whole-stage codegen bails to interpreted evaluation (correct, ~5-10x
# slower) and very wide rows stress the driver's plan serialization.
# Chunking bounds every job at a codegen-friendly width; ≤ the cap the
# plan is byte-identical to the unchunked one (single job). The fit
# paths cache the input frame, so extra chunk jobs re-scan memory, not
# parquet.
AGG_CHUNK_COLUMNS = 1024


def chunked_agg_row(
    df: DataFrame, aggs: List[Column], chunk: Optional[int] = None
) -> Dict[str, Any]:
    """``df.agg(*aggs).first()`` as ⌈len/chunk⌉ jobs, merged into one
    dict — the >1000-feature path for ``score_all_splits_wide``.
    ``chunk=None`` reads the module's ``AGG_CHUNK_COLUMNS`` at call
    time (monkeypatch-able in tests)."""
    chunk = chunk or AGG_CHUNK_COLUMNS
    out: Dict[str, Any] = {}
    for i in range(0, len(aggs), chunk):
        out.update(df.agg(*aggs[i : i + chunk]).first().asDict())
    return out


def score_all_splits_wide(
    samples: DataFrame,
    class_column: str,
    metric: MetricOrStr,
    method: MethodOrStr,
    attrs: List[str] | None = None,
    agg_chunk_columns: Optional[int] = None,
) -> List[Dict[str, Any]]:
    """Same candidate table as ``compute_all_splits``, shuffle-free.

    Pass 1: one wide aggregate row computes every feature's candidate
    threshold (map-side partial aggregation; no unpivot explosion, no
    skewed window partitions). Pass 2: one wide aggregate row computes,
    per feature, conditional (avg(class), count) for each side against
    the literal thresholds. Impurity is then scored on the driver over
    k candidate rows (k = feature count — trivially small).

    Returns candidates sorted by (metric, variable) — best first —
    each dict carrying variable/threshold/left_p1/right_p1/left_n/
    right_n/metric so ``fit`` can derive child stats with zero extra
    jobs.

    Width note: the conditional pass emits 6 aggregates per feature in
    one row. Past ``agg_chunk_columns`` expressions the pass is split
    into several jobs (``chunked_agg_row``) so each stays inside
    whole-stage codegen (64KB JVM method limit) — identical results,
    and identical single-job plans at normal widths.
    """
    metric_cls = resolve_metric(metric)
    method_cls = resolve_method(method)
    if attrs is None:
        attrs = splittable_attributes(samples, class_column)

    thr_row = chunked_agg_row(
        samples,
        [
            method_cls.threshold_expr(F.col(a)).alias(f"t{i}")
            for i, a in enumerate(attrs)
        ],
        agg_chunk_columns,
    )
    thresholds = {a: thr_row[f"t{i}"] for i, a in enumerate(attrs)}

    cls_col = F.col(class_column)
    aggs: List[Column] = []
    live_attrs = [a for a in attrs if thresholds[a] is not None]
    for i, a in enumerate(live_attrs):
        left = F.col(a) <= F.lit(thresholds[a])
        aggs.append(F.avg(F.when(left, cls_col)).alias(f"lp{i}"))
        aggs.append(F.avg(F.when(~left, cls_col)).alias(f"rp{i}"))
        aggs.append(F.count(F.when(left, F.lit(1))).alias(f"ln{i}"))
        aggs.append(F.count(F.when(~left, F.lit(1))).alias(f"rn{i}"))
        aggs.append(F.sum(F.when(left, cls_col)).alias(f"ls{i}"))
        aggs.append(F.sum(F.when(~left, cls_col)).alias(f"rs{i}"))
    if not live_attrs:
        return []
    row = chunked_agg_row(samples, aggs, agg_chunk_columns)

    candidates: List[Dict[str, Any]] = []
    for i, a in enumerate(live_attrs):
        left_p1 = row[f"lp{i}"] if row[f"lp{i}"] is not None else 0.0
        right_p1 = row[f"rp{i}"] if row[f"rp{i}"] is not None else 0.0
        score = metric_cls.eval_py(left_p1) + metric_cls.eval_py(right_p1)
        if math.isnan(score):
            score = 0.0
        candidates.append(
            {
                "variable": a,
                "threshold": thresholds[a],
                "left_p1": left_p1,
                "right_p1": right_p1,
                "left_n": row[f"ln{i}"],
                "right_n": row[f"rn{i}"],
                "left_s": row[f"ls{i}"] if row[f"ls{i}"] is not None else 0,
                "right_s": row[f"rs{i}"] if row[f"rs{i}"] is not None else 0,
                "metric": score,
            }
        )
    sign = 1.0 if metric_cls.seek_minimum else -1.0
    candidates.sort(key=lambda c: (sign * c["metric"], c["variable"]))
    return candidates


def find_best_split(
    samples: DataFrame,
    class_column: str,
    metric: MetricOrStr,
    method: MethodOrStr,
) -> SplitParams:
    """Best (feature, threshold) — reference splitting.py:152-169.

    Uses the shuffle-free wide scoring; pick happens on the driver over
    k candidates. Tie-break: (metric, variable) ascending — Q-3 made
    deterministic.
    """
    candidates = score_all_splits_wide(samples, class_column, metric, method)
    assert candidates, "No splittable attrs with non-null threshold"
    best = candidates[0]
    return SplitParams(best["variable"], best["threshold"])
