"""Binary decision-tree classifier as a PySpark DataFrame program.

Re-expresses /root/reference/decision_tree_stuff/dtree.py (296 LoC,
Polars) Spark-first:

* The model is a driver-side object graph (``TreeNode`` →
  ``LeafNode``/``DecisionNode``, wrapped by ``DecisionTree``) exactly
  like the reference (dtree.py:24-197) — the tree never leaves the
  driver during training.
* **Inference is a single Catalyst expression**: the tree compiles to
  one nested ``CASE WHEN`` column (``to_expr``), so ``classify`` /
  ``transform`` are a pure narrow projection — one codegen'd stage,
  zero shuffles, zero mid-plan collects. The reference instead splits,
  recurses and re-sorts per node (dtree.py:102-137, its O-10
  reassembly); that collect cascade is an artifact of eager engines
  and is deliberately NOT ported (SURVEY.md §3.2).
* **Training is a driver recursion issuing two Spark jobs per split
  node** (threshold pass + conditional-stat pass, both map-side
  combined wide aggregates — see splitting.score_all_splits_wide).
  Child (row-count, class-sum) stats come back exactly from the split
  search, so pure/stopped children fit with ZERO additional jobs; the
  reference runs three extra scalar passes per node
  (dtree.py:206,211-213,219). This is the only fit plan: a PLANET-style
  level-wise plan (one pass per depth, fewer jobs) re-scanned and
  re-routed every row at every level and fit 2x slower on the
  ``perfbench`` ``tree`` workload, so it was deleted (ROADMAP item 2).

Semantic quirks preserved (SURVEY.md §2.4): Q-1 unweighted impurity,
Q-2 empty-side optimism, Q-4 entropy-gated stops regardless of split
metric, Q-5 feature_columns ignored at fit, Q-6 stop order and
``depth != max_depth``, Q-7 post-order prune, Q-8 byte-identical JSON
serde, Q-9 rootless classify → zeros, Q-10 missing child raises.
Q-3 tie-breaks are made deterministic: best split by (metric,
variable) asc; majority ties resolve to the smaller label.

Class labels must be binary {0, 1} — load-bearing, exactly as in the
reference (probability of class 1 is mean(class), dtree.py:212).
"""

from __future__ import annotations

import abc
import json
import threading
from typing import Any, Dict, List, NamedTuple, Optional, Type, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from decision_tree_stuff_spark.splitting import (
    EntropySplitMetric,
    MeanSplitter,
    SplitMetric,
    SplitParams,
    SplittingMethod,
    resolve_method,
    resolve_metric,
    score_all_splits_wide,
    splittable_attributes,
)

PREDICTION_TYPE = "tinyint"  # reference emits pl.UInt8 (dtree.py:65,134);
# Spark has no unsigned ints — TINYINT is the documented mapping
# (SURVEY.md §1.2; values are only 0/1 so signedness is immaterial).


# Cap on concurrently-running sibling-subtree fit threads (the
# depth-first fit spawns one thread per internal node whose children
# both split — unbounded, that scales with the tree frontier and
# floods a shared cluster's scheduler). Slots are taken NON-blocking:
# when the cap is reached recursion simply proceeds sequentially, so
# no fit ever waits on the semaphore and deadlock is impossible.
# 64 ≈ 2× this box's cores; tune per driver.
_SIBLING_FIT_SLOTS: threading.BoundedSemaphore = threading.BoundedSemaphore(64)


def get_majority(classes: DataFrame, class_column: Optional[str] = None) -> int:
    """Modal value of a class column — reference dtree.py:20-22.

    Distributed mode: groupBy-count + ordered take-1 (Catalyst plans a
    TakeOrderedAndProject; partial aggregation map-side, k distinct
    labels shuffled). Tie-break: smaller label wins (deterministic,
    unlike Polars ``mode()[0]`` — SURVEY.md §2.4 Q-3).
    """
    col = class_column if class_column is not None else classes.columns[0]
    row = (
        classes.groupBy(col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col(col).asc())
        .first()
    )
    assert row is not None, "Cannot get majority for empty classes"
    return row[col]


def _majority_from_stats(n: int, n1: int) -> int:
    """Majority for binary {0,1} labels from (count, sum) — tie → 0."""
    return 1 if 2 * n1 > n else 0


class TreeNode(abc.ABC):
    """Reference dtree.py:24-36."""

    @abc.abstractmethod
    def to_expr(self) -> Column:
        """Compile this subtree to a single Catalyst expression."""

    def classify(self, samples: DataFrame) -> DataFrame:
        """Prediction as a one-column DataFrame (reference returns a
        Series, dtree.py:26 — Spark's equivalent is a derived column;
        SURVEY.md §1.1)."""
        return samples.select(
            self.to_expr().cast(PREDICTION_TYPE).alias("prediction")
        )

    @classmethod
    @abc.abstractmethod
    def from_dict(cls, dict_repr: dict) -> "TreeNode": ...

    @abc.abstractmethod
    def dict(self) -> Dict[str, Any]: ...


class LeafNode(TreeNode):
    """Constant-label leaf — reference dtree.py:39-65.

    ``to_expr`` is ``lit(label)``: the reference's O-9
    ``extend_constant`` column generation is just a literal branch in
    the fused inference expression.
    """

    def __init__(self, label: int, class_name: str = "class"):
        self._label = int(label)
        self._class_name = class_name

    @classmethod
    def from_majority_class(
        cls, classes: DataFrame, class_column: Optional[str] = None
    ) -> "LeafNode":
        col = class_column if class_column is not None else classes.columns[0]
        return cls(get_majority(classes, col), class_name=col)

    @classmethod
    def from_dict(cls, dict_repr: dict, class_name: str = None) -> "LeafNode":  # type: ignore[assignment]
        assert class_name in dict_repr.keys()
        return LeafNode(dict_repr[class_name], class_name)

    def dict(self) -> Dict[str, Any]:
        return {self._class_name: self.label}

    @property
    def label(self) -> int:
        return self._label

    def to_expr(self) -> Column:
        return F.lit(self._label)


class DecisionNode(TreeNode):
    """Internal split node — reference dtree.py:68-172.

    ``to_expr`` recursively builds
    ``CASE WHEN attr <= thr THEN <left> ELSE <right> END`` — replacing
    the reference's split → recurse → concat/merge_sorted reassembly
    (dtree.py:102-137) with a pure projection: no row index, no union,
    no sort, no shuffle (SURVEY.md §2.1 O-10/O-11).
    """

    def __init__(self, attribute: str, threshold: float):
        self._attribute = attribute
        self._threshold = threshold
        self._left: Optional[TreeNode] = None
        self._right: Optional[TreeNode] = None

    @property
    def attribute(self) -> str:
        return self._attribute

    @property
    def threshold(self) -> float:
        return self._threshold

    @property
    def left(self) -> Optional[TreeNode]:
        return self._left

    @left.setter
    def left(self, left_node: TreeNode):
        self._left = left_node

    @property
    def right(self) -> Optional[TreeNode]:
        return self._right

    @right.setter
    def right(self, right_node: TreeNode):
        self._right = right_node

    def to_params(self) -> SplitParams:
        return SplitParams(self.attribute, self.threshold)

    def to_expr(self) -> Column:
        if self._left is None or self._right is None:
            # Q-10: reference raises at classify time (dtree.py:120-121)
            raise Exception("Decision node missing one or more child.")
        return F.when(
            F.col(self._attribute) <= F.lit(self._threshold),
            self._left.to_expr(),
        ).otherwise(self._right.to_expr())

    def condition_str(self, lt: bool = True) -> str:
        # Q-8: exact reference format (dtree.py:139-141) — float repr
        # via f-string, identical in CPython both sides.
        _cmp_str = "<=" if lt else ">"
        return f"{self.attribute} {_cmp_str} {self.threshold}"

    @classmethod
    def from_condition_str(cls, condition_str: str, lt: bool = True) -> "DecisionNode":
        attr, str_thresh = condition_str.split("<=" if lt else ">")
        return cls(attr.strip(), float(str_thresh.strip()))

    @classmethod
    def from_dict(cls, dict_repr: dict) -> "DecisionNode":
        lt_key = next(filter(lambda k: "<=" in k, dict_repr.keys()), None)
        gt_key = next(filter(lambda k: ">" in k, dict_repr.keys()), None)
        assert lt_key is not None
        assert gt_key is not None
        slf = cls.from_condition_str(lt_key)

        if any("<=" in k for k in dict_repr[lt_key].keys()):
            slf.left = DecisionNode.from_dict(dict_repr[lt_key])
        else:
            slf.left = LeafNode.from_dict(
                dict_repr[lt_key], list(dict_repr[lt_key].keys())[0]
            )

        if any("<=" in k for k in dict_repr[gt_key].keys()):
            slf.right = DecisionNode.from_dict(dict_repr[gt_key])
        else:
            slf.right = LeafNode.from_dict(
                dict_repr[gt_key], list(dict_repr[gt_key].keys())[0]
            )

        return slf

    def dict(self) -> Dict[str, Any]:
        return {
            self.condition_str(lt=True): self.left.dict()
            if self.left is not None
            else None,
            self.condition_str(lt=False): self.right.dict()
            if self.right is not None
            else None,
        }


class DecisionTreeParams(NamedTuple):
    """Hyperparameters — reference dtree.py:175-182 (same defaults).

    Q-5: by default ``feature_columns`` is carried and serialized but
    NOT consulted during fit — every non-class column is a candidate.
    ``strict_feature_columns=True`` (opt-in beyond the reference,
    SURVEY §1.3) makes fit honor a non-empty ``feature_columns``
    exactly, erroring on unknown/non-numeric names. The flag is
    serialized only when True, so default models' JSON stays
    byte-identical to the reference format.
    """

    feature_columns: List[str]
    class_column: str = "class"
    splitting_method: Union[Type[SplittingMethod], str] = MeanSplitter
    split_metric: Union[Type[SplitMetric], str] = EntropySplitMetric
    min_split_samples: int = 0
    min_split_entropy: float = 0.0
    max_depth: int = -1
    strict_feature_columns: bool = False

    def fit_feature_columns(self) -> Optional[List[str]]:
        """The attrs override for fit: the configured columns under
        strict mode, else None (Q-5 behavior)."""
        if not self.strict_feature_columns:
            return None
        if not self.feature_columns:
            raise ValueError(
                "strict_feature_columns=True requires a non-empty "
                "feature_columns list"
            )
        return list(self.feature_columns)


class DecisionTree:
    """Binary decision tree over Spark DataFrames — reference
    dtree.py:185-297, one class of frame (Spark is always lazy;
    SURVEY.md §1.3)."""

    def __init__(
        self,
        params: DecisionTreeParams,
        __root: Optional[TreeNode] = None,
        __depth: int = 0,
    ):
        self._params = params
        self._root: Optional[TreeNode] = __root
        self._depth: int = max(__depth, 0)
        self._entropy: float = -float("inf")
        self._left_subtree: Optional["DecisionTree"] = None
        self._right_subtree: Optional["DecisionTree"] = None

    @property
    def learned_tree(self) -> Optional[TreeNode]:
        return self._root

    # -- training ------------------------------------------------------

    def fit(self, dataset: DataFrame, prune: bool = False) -> None:
        """Train — reference dtree.py:203-254 semantics.

        One fused aggregate computes (row-count, class-sum) — the
        reference's three separate scalar passes (classes collect,
        entropy query, height; dtree.py:206,211-213,219) in a single
        job; entropy and majority derive from those two numbers on the
        driver (labels are binary {0,1}).
        """
        class_name = self._params.class_column
        # min/max ride along in the same job to validate the binary
        # {0,1} label assumption loudly — non-binary labels would
        # otherwise train a silently-wrong tree (mean(class) is only a
        # probability for 0/1 labels; the reference has the same
        # assumption but fails silently, SURVEY.md §1.2)
        row = dataset.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(class_name)).alias("n1"),
            F.min(F.col(class_name)).alias("lo"),
            F.max(F.col(class_name)).alias("hi"),
            # interior values ({0, 0.5, 1}) pass a min/max-only guard
            # yet silently train a wrong tree — count them explicitly
            F.count(
                F.when(~F.col(class_name).isin(0, 1), F.lit(1))
            ).alias("bad"),
        ).first()
        n = row["n"]
        n1 = row["n1"] if row["n1"] is not None else 0
        if n > 0 and (
            row["bad"] > 0 or not (row["lo"] in (0, 1) and row["hi"] in (0, 1))
        ):
            raise ValueError(
                f"class column {class_name!r} must be binary {{0,1}}; "
                f"found {row['bad']} non-{{0,1}} values in "
                f"[{row['lo']}, {row['hi']}]"
            )
        self._fit_with_stats(dataset, int(n), int(n1), prune=prune)

    def _fit_with_stats(
        self, dataset: DataFrame, n: int, n1: int, prune: bool
    ) -> None:
        """Recursive fit given this node's (count, class-sum).

        Stats flow down from the parent's split search, so a child that
        stops (pure / gated) costs ZERO Spark jobs; an internal node
        costs exactly two (SURVEY.md §3.1 Spark trace).
        """
        assert n > 0, "Cannot get majority for empty classes"
        class_name = self._params.class_column
        majority = _majority_from_stats(n, n1)

        if self._root is None:
            self._root = LeafNode(majority, class_name)

        # Q-4: gate entropy is ALWAYS EntropySplitMetric regardless of
        # the configured split metric (reference dtree.py:211-213).
        p1 = n1 / n
        root_entropy = EntropySplitMetric.eval_py(p1)
        self._entropy = root_entropy

        if root_entropy == 0.0:
            return

        # Q-6 stop order: entropy gate, sample gate, depth `!=` gate
        # (max_depth=-1 ⇒ unlimited) — reference dtree.py:221-224.
        if (
            root_entropy >= self._params.min_split_entropy
            and n >= self._params.min_split_samples
            and self._depth != self._params.max_depth
        ):
            # Both wide-agg passes and (if we recurse) the children's
            # scans hit this frame — keep it hot across the ≥2 jobs.
            cached_here = False
            if dataset.storageLevel == StorageLevel.NONE:
                dataset.persist(StorageLevel.MEMORY_AND_DISK)
                cached_here = True
            try:
                strict_cols = self._params.fit_feature_columns()
                candidates = score_all_splits_wide(
                    dataset,
                    class_name,
                    self._params.split_metric,
                    self._params.splitting_method,
                    attrs=splittable_attributes(
                        dataset, class_name, strict_cols
                    )
                    if strict_cols
                    else None,
                )
                if not candidates:
                    return
                best = candidates[0]

                # Q-2 empty-side guard: degenerate split ⇒ keep the
                # majority leaf (reference dtree.py:233-234) — known
                # from stats, no extra count jobs.
                if min(best["left_n"], best["right_n"]) == 0:
                    return

                split = SplitParams(best["variable"], best["threshold"])
                left_df, right_df = split.split(dataset)

                self._root = DecisionNode(split.attribute, split.threshold)
                self._left_subtree = DecisionTree(
                    self._params, self._root.left, self._depth + 1
                )
                self._right_subtree = DecisionTree(
                    self._params, self._root.right, self._depth + 1
                )

                # Sibling subtrees are independent — fit them on two
                # threads so their Spark jobs interleave (the scheduler
                # handles concurrent jobs; wall time ≈ 2·depth·latency
                # instead of 2·nodes·latency on balanced trees). Each
                # thread touches only its own subtree; results are
                # identical to sequential recursion.
                left_stats = (int(best["left_n"]), int(best["left_s"]))
                right_stats = (int(best["right_n"]), int(best["right_s"]))
                both_split = (
                    EntropySplitMetric.eval_py(left_stats[1] / left_stats[0]) != 0.0
                    and EntropySplitMetric.eval_py(right_stats[1] / right_stats[0])
                    != 0.0
                )
                if both_split and _SIBLING_FIT_SLOTS.acquire(blocking=False):
                    errs: list = []

                    def run(subtree, frame, stats, slot: bool):
                        try:
                            subtree._fit_with_stats(frame, *stats, prune)
                        except BaseException as exc:  # propagate to caller
                            errs.append(exc)
                        finally:
                            if slot:
                                _SIBLING_FIT_SLOTS.release()

                    t = threading.Thread(
                        target=run,
                        args=(self._left_subtree, left_df, left_stats, True),
                    )
                    t.start()
                    run(self._right_subtree, right_df, right_stats, False)
                    t.join()
                    if errs:
                        raise errs[0]
                else:
                    self._left_subtree._fit_with_stats(
                        left_df, *left_stats, prune
                    )
                    self._right_subtree._fit_with_stats(
                        right_df, *right_stats, prune
                    )
            finally:
                if cached_here:
                    dataset.unpersist()

            # Q-7 post-order prune (reference dtree.py:246-250).
            if prune and len(set(self.leaf_classes())) == 1:
                del self._left_subtree
                del self._right_subtree
                self._left_subtree = None
                self._right_subtree = None
                self._root = LeafNode(majority, class_name)
                return

            assert isinstance(self._root, DecisionNode)
            self._root.left = self._left_subtree.learned_tree  # type: ignore[union-attr]
            self._root.right = self._right_subtree.learned_tree  # type: ignore[union-attr]

    def leaf_classes(self) -> List[int]:
        """Reference dtree.py:256-260. Trees adopted whole
        (``from_dict``) carry the full structure in ``_root`` without
        subtree wrappers — walk the node graph directly then,
        same left-to-right order as the wrapper recursion."""
        if isinstance(self._root, LeafNode):
            return [self._root.label]
        if self._left_subtree is None and self._right_subtree is None:
            assert isinstance(self._root, DecisionNode)

            def walk(node: TreeNode) -> List[int]:
                if isinstance(node, LeafNode):
                    return [node.label]
                assert isinstance(node, DecisionNode)
                return walk(node.left) + walk(node.right)

            return walk(self._root)
        assert self._left_subtree is not None and self._right_subtree is not None
        return self._left_subtree.leaf_classes() + self._right_subtree.leaf_classes()

    # -- inference ------------------------------------------------------

    def prediction_expr(self) -> Column:
        """The whole tree as ONE Catalyst expression (nested CASE
        WHEN) — codegen'd, shuffle-free, embarrassingly parallel at any
        scale (SURVEY.md §2.1 O-11). Q-9: rootless tree predicts 0.

        Expression-size note: verified fine to 4,095 internal nodes
        (~24 s plan compile at depth 12); compile time grows
        superlinearly, so for truly giant trees (10^5+ nodes, beyond
        anything this algorithm produces) switch to a leaf-table
        broadcast join on leaf-path predicates instead of one
        expression."""
        if self._root is not None:
            inner = self._root.to_expr()
        else:
            inner = F.lit(0)
        return inner.cast(PREDICTION_TYPE).alias("prediction")

    def classify(self, samples: DataFrame) -> DataFrame:
        """Prediction column — reference dtree.py:262-267 returns a
        Series; the Spark equivalent is a one-column projection."""
        return samples.select(self.prediction_expr())

    def leaf_id_expr(self) -> Column:
        """Leaf index (DFS pre-order over the learned tree) as ONE
        nested-CASE expression — same compile/codegen/shuffle story as
        ``prediction_expr``. A rootless or leaf-only tree maps every
        row to leaf 0. Leaf ids are stable for a given tree shape, so
        they key per-leaf statistics."""

        def build(node, next_id: int):
            if not isinstance(node, DecisionNode):
                return F.lit(next_id), next_id + 1
            left_expr, after_left = build(node.left, next_id)
            right_expr, after_right = build(node.right, after_left)
            return (
                F.when(
                    F.col(node.attribute) <= F.lit(node.threshold),
                    left_expr,
                ).otherwise(right_expr),
                after_right,
            )

        expr, _ = build(self._root, 0)
        return expr.cast("int").alias("leaf_id")

    def p1_expr(self, stats_from: DataFrame) -> Column:
        """Empirical P[class=1] of the row's leaf as ONE column
        expression. Runs a single bounded aggregation over
        ``stats_from`` now (groupBy(leaf_id) — at most one row per
        leaf, map-side combined), then compiles the per-leaf values
        into a single tree-shaped CASE by mirroring ``to_expr``'s
        recursion with ``lit(p1)`` at each leaf — the expression is
        LINEAR in node count (one predicate per internal node, same
        size class as ``prediction_expr``; pinned by
        tests/test_dtree.py::test_p1_expr_size_linear_in_leaves).
        Leaves with no support in ``stats_from`` — or whose class
        values there are all null — fall back to their hard label.
        Scoring with the returned column is a shuffle-free projection.

        Raises ``ValueError`` when ``stats_from`` lacks the class
        column: leaf probabilities are MEASURED, so they need a
        labeled frame (score unlabeled data via
        ``transform_proba(dataset, stats_from=<labeled frame>)``)."""
        cls = self._params.class_column
        if cls not in stats_from.columns:
            raise ValueError(
                f"p1_expr needs the class column {cls!r} in stats_from "
                "to measure per-leaf probabilities; pass a labeled "
                "frame via transform_proba(dataset, stats_from=...)"
            )
        leaf_rows = (
            stats_from.groupBy(self.leaf_id_expr())
            .agg(F.round(F.avg(F.col(cls).cast("double")), 6).alias("p1"))
            .collect()
        )
        p1_by_leaf = {r["leaf_id"]: r["p1"] for r in leaf_rows}

        def build(node, next_id: int):
            if not isinstance(node, DecisionNode):
                # leaf ids follow leaf_id_expr's DFS pre-order, so the
                # collected stats key directly; None covers both a
                # missing row and a null avg (all-null classes)
                fallback = float(node.label) if isinstance(node, LeafNode) else 0.0
                p = p1_by_leaf.get(next_id)
                return F.lit(fallback if p is None else float(p)), next_id + 1
            left_expr, after_left = build(node.left, next_id)
            right_expr, after_right = build(node.right, after_left)
            return (
                F.when(
                    F.col(node.attribute) <= F.lit(node.threshold), left_expr
                ).otherwise(right_expr),
                after_right,
            )

        expr, _ = build(self._root, 0)
        return expr.cast("double")

    def transform_proba(
        self, dataset: DataFrame, stats_from: Optional[DataFrame] = None
    ) -> DataFrame:
        """Input + ``prediction`` + ``p1`` (empirical P[class=1] of the
        row's leaf) — the calibrated-probability surface the reference
        lacks (its leaves store only a label).

        The per-leaf distribution is NOT fit-time state (the JSON
        serde stays byte-identical, Q-8): ``p1_expr`` measures it over
        ``stats_from`` (default: ``dataset`` — which must then carry
        the class column; scoring an unlabeled frame requires an
        explicit labeled ``stats_from``, enforced with a clear
        ``ValueError``) and re-attaches it as one tree-shaped literal
        CASE (leaf tables are tiny; no join). Two jobs total
        regardless of data size; the scoring projection itself stays
        shuffle-free.
        """
        src = dataset if stats_from is None else stats_from
        return dataset.withColumn(
            "prediction", self.prediction_expr()
        ).withColumn("p1", self.p1_expr(src))

    def transform(self, dataset: DataFrame) -> DataFrame:
        """Input + prediction column — reference dtree.py:269-270."""
        return dataset.withColumn("prediction", self.prediction_expr())

    def feature_importances(self, weighting: str = "count") -> Dict[str, float]:
        """Split-based feature importance, normalized to sum 1.

        ``weighting='count'`` = split frequency (XGBoost's 'weight'
        importance); ``'depth'`` weights each split by 1/2^depth, so
        features chosen near the root — which route exponentially more
        rows — dominate. Impurity-GAIN importance is deliberately not
        offered: the reference's byte-identical JSON serde (Q-8)
        stores no per-node impurity or sample counts, and these
        importances must be computable from any (de)serialized tree.
        Driver-side tree walk, zero Spark jobs; a leafless/leaf-only
        tree returns {}.
        """
        if weighting not in ("count", "depth"):
            raise ValueError(
                f"weighting must be 'count' or 'depth', got {weighting!r}"
            )
        scores: Dict[str, float] = {}

        def walk(node, depth: int) -> None:
            if not isinstance(node, DecisionNode):
                return
            w = 1.0 if weighting == "count" else 0.5 ** depth
            scores[node.attribute] = scores.get(node.attribute, 0.0) + w
            walk(node.left, depth + 1)
            walk(node.right, depth + 1)

        walk(self._root, 0)
        total = sum(scores.values())
        if total == 0:
            return {}
        return {k: v / total for k, v in sorted(scores.items())}

    # -- serde (Q-8: byte-identical JSON; reference dtree.py:272-297) ---

    @classmethod
    def from_dict(cls, dict_repr: Dict[str, Any]) -> "DecisionTree":
        params = DecisionTreeParams(**dict_repr["params"])
        depth = dict_repr["depth"]
        if any("<=" in k for k in dict_repr["nodes"].keys()):
            root: TreeNode = DecisionNode.from_dict(dict_repr["nodes"])
        else:
            root = LeafNode.from_dict(
                dict_repr["nodes"], list(dict_repr["nodes"].keys())[0]
            )
        return cls(params, root, depth)

    def dict(self) -> Dict[str, Any]:
        params = dict(zip(self._params._fields, self._params))
        # serialize the strict flag only when set: default models keep
        # the reference's exact JSON key set (golden-dict parity);
        # from_dict round-trips either form (NamedTuple default)
        if not params.get("strict_feature_columns"):
            params.pop("strict_feature_columns", None)
        nodes = self._root.dict() if self._root is not None else None
        return {"params": params, "depth": self._depth, "nodes": nodes}

    def save_json(self, filepath: str) -> None:
        with open(filepath, "w") as f:
            f.write(self.json(indent=4))

    @classmethod
    def load_json(cls, filepath: str) -> "DecisionTree":
        with open(filepath, "r") as f:
            return cls.from_dict(json.loads(f.read()))

    def json(self, indent: Optional[int] = None) -> str:
        return json.dumps(self.dict(), indent=indent)
