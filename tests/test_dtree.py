"""Port of the reference's full test corpus to the Spark engine.

Every golden value is engine-independent math and holds verbatim
(/root/reference/tests/test.py, 154 LoC; values pinned in
/root/repo/FIXTURES.md). The reference's eager/lazy dual-mode pairs
collapse to a single Spark path (SURVEY.md §1.3).
"""

from __future__ import annotations

import json
import math
import tempfile

import pytest

from pyspark.sql import functions as F

from decision_tree_stuff_spark import DecisionTree, DecisionTreeParams
from decision_tree_stuff_spark.dtree import DecisionNode, LeafNode, get_majority
from decision_tree_stuff_spark.splitting import (
    EntropySplitMetric,
    GiniImpuritySplitMetric,
    SplitParams,
    compute_all_splits,
    find_best_split,
    score_all_splits_wide,
)


def predictions(node_or_tree, df) -> list:
    """Collect the prediction column in input-row order (tiny frames)."""
    return [r["prediction"] for r in node_or_tree.classify(df).collect()]


def rows(df) -> set:
    return {tuple(r) for r in df.collect()}


# -- reference tests/test.py:25-31 -------------------------------------
def test_leaf_node_classify(smalldf):
    leaf = LeafNode(1, "class")
    assert predictions(leaf, smalldf) == [1, 1, 1, 1, 1]

    leaf = LeafNode(0, "class")
    assert predictions(leaf, smalldf) == [0, 0, 0, 0, 0]


# -- reference tests/test.py:33-36 -------------------------------------
def test_leaf_node_from_majority(smalldf):
    leaf = LeafNode.from_majority_class(smalldf.select("class"))
    assert leaf.label == 0


def test_get_majority_tie_breaks_to_smaller_label(spark):
    df = spark.createDataFrame([(0,), (1,), (0,), (1,)], "class bigint")
    assert get_majority(df) == 0


# -- reference tests/test.py:38-48 -------------------------------------
def test_decision_node_classify(smalldf):
    dec = DecisionNode("feature_2", 0.0)
    dec.left = LeafNode(0, "class")
    dec.right = LeafNode(1, "class")
    assert predictions(dec, smalldf) == [0, 0, 0, 0, 1]

    dec = DecisionNode("feature_1", 2)
    dec.left = LeafNode(0, "class")
    dec.right = LeafNode(1, "class")
    assert predictions(dec, smalldf) == [0, 0, 1, 1, 1]


def test_decision_node_missing_child_raises(smalldf):
    dec = DecisionNode("feature_1", 2.0)
    dec.left = LeafNode(0, "class")
    try:
        dec.classify(smalldf)
        assert False, "expected Exception for missing child (Q-10)"
    except Exception as e:
        assert "missing" in str(e)


# -- reference tests/test.py:50-52 -------------------------------------
def test_entropy(smalldf):
    value = smalldf.agg(
        EntropySplitMetric.eval_from_p1_expr(F.avg(F.col("class"))).alias("h")
    ).first()["h"]
    assert math.isclose(value, 0.9709505944546686)
    # driver-side scoring must match the Catalyst expression bit-for-bit
    assert math.isclose(EntropySplitMetric.eval_py(2 / 5), value)
    # degenerate p1 → 0.0, both paths (Q-2/NaN handling)
    pure = smalldf.agg(
        EntropySplitMetric.eval_from_p1_expr(F.lit(0.0)).alias("h")
    ).first()["h"]
    assert pure == 0.0
    assert EntropySplitMetric.eval_py(0.0) == 0.0
    assert EntropySplitMetric.eval_py(1.0) == 0.0


def test_gini(smalldf):
    value = smalldf.agg(
        GiniImpuritySplitMetric.eval_from_p1_expr(F.avg(F.col("class"))).alias("g")
    ).first()["g"]
    assert math.isclose(value, 1.0 - 0.6**2 - 0.4**2)
    assert math.isclose(GiniImpuritySplitMetric.eval_py(0.4), value)


# -- reference tests/test.py:54-82 -------------------------------------
def test_split_params(smalldf):
    left, right = SplitParams("feature_1", 2.0).split(smalldf)
    assert rows(left) == {(1.0, 0.0, 1), (2.0, 0.0, 0)}
    assert rows(right) == {(3.0, 0.0, 0), (4.0, 0.0, 1), (5.0, 1.0, 0)}


# -- reference tests/test.py:94-97 -------------------------------------
def test_find_best_split(heterodf):
    assert find_best_split(heterodf, "color", "entropy", "midpoint") == SplitParams(
        "x_coord", 1.0
    )


def test_compute_all_splits_matches_wide_path(heterodf):
    """The oracle-form DataFrame program and the shuffle-free wide-agg
    path must produce identical candidate tables."""
    narrow = {
        (r["variable"], r["threshold"]): (r["left_p1"], r["right_p1"], r["metric"])
        for r in compute_all_splits(heterodf, "color", "entropy", "midpoint").collect()
    }
    wide = {
        (c["variable"], c["threshold"]): (c["left_p1"], c["right_p1"], c["metric"])
        for c in score_all_splits_wide(heterodf, "color", "entropy", "midpoint")
    }
    assert narrow.keys() == wide.keys()
    for k in narrow:
        for a, b in zip(narrow[k], wide[k]):
            assert math.isclose(a, b, abs_tol=1e-12), (k, narrow[k], wide[k])


# -- reference tests/test.py:99-143 ------------------------------------
GOLDEN_DICT = {
    "params": {
        "feature_columns": ["x_coord", "y_coord"],
        "class_column": "color",
        "max_depth": -1,
        "min_split_entropy": 0.0,
        "min_split_samples": 0,
        "split_metric": "entropy",
        "splitting_method": "midpoint",
    },
    "depth": 0,
    "nodes": {"x_coord <= 1.0": {"color": 0}, "x_coord > 1.0": {"color": 1}},
}


def test_decision_tree(heterodf):
    dt = DecisionTree(
        DecisionTreeParams(["x_coord", "y_coord"], "color", "midpoint", "entropy")
    )
    dt.fit(heterodf)

    assert isinstance(dt.learned_tree, DecisionNode)
    assert dt.learned_tree.to_params() == SplitParams("x_coord", 1.0)
    assert isinstance(dt.learned_tree.left, LeafNode) and dt.learned_tree.left.label == 0
    assert (
        isinstance(dt.learned_tree.right, LeafNode) and dt.learned_tree.right.label == 1
    )

    assert dt.dict() == GOLDEN_DICT
    assert json.loads(dt.json(indent=4)) == dt.dict()

    # inference: separable by x_coord > 1 → predictions == color column
    out = dt.transform(heterodf).collect()
    assert all(r["prediction"] == r["color"] for r in out)
    assert dict(dt.transform(heterodf).dtypes)["prediction"] == "tinyint"


# -- reference tests/test.py:145-154 -----------------------------------
def test_save_and_load_json(heterodf):
    dt = DecisionTree(
        DecisionTreeParams(["x_coord", "y_coord"], "color", "midpoint", "entropy")
    )
    dt.fit(heterodf)

    tmpf = tempfile.mktemp()
    dt.save_json(tmpf)
    dt2 = DecisionTree.load_json(tmpf)

    assert dt.dict() == dt2.dict()


# -- beyond the reference corpus ----------------------------------------
def test_max_depth_zero_gives_majority_leaf(heterodf):
    dt = DecisionTree(
        DecisionTreeParams([], "color", "midpoint", "entropy", max_depth=0)
    )
    dt.fit(heterodf)
    assert isinstance(dt.learned_tree, LeafNode)
    assert dt.learned_tree.label == 0  # 5 zeros vs 2 ones


def test_rootless_classify_predicts_zero(smalldf):
    dt = DecisionTree(DecisionTreeParams([]))
    assert predictions(dt, smalldf) == [0, 0, 0, 0, 0]  # Q-9


def test_prune_collapses_uniform_subtree(spark):
    # All-same-class data: fit(prune=True) must stay a single leaf
    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 0)], "f double, class bigint"
    )
    dt = DecisionTree(DecisionTreeParams(["f"]))
    dt.fit(df, prune=True)
    assert isinstance(dt.learned_tree, LeafNode) and dt.learned_tree.label == 0


def test_fit_on_parquet_scale(spark, sf_dir):
    """End-to-end fit/transform on the driver's lineitem table with a
    derived binary label (FIXTURES.md F-4)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        (F.col("l_discount") > 0.05).cast("bigint").alias("class"),
    )
    dt = DecisionTree(
        DecisionTreeParams([], "class", "mean", "entropy", max_depth=3)
    )
    dt.fit(li)
    out = dt.transform(li)
    assert out.count() == li.count()
    got = {r["prediction"] for r in out.select("prediction").distinct().collect()}
    assert got <= {0, 1}
    # the label is exactly l_discount > 0.05: a depth-3 tree splitting on
    # means should recover it near-perfectly
    acc = out.agg(
        F.avg((F.col("prediction") == F.col("class")).cast("double"))
    ).first()[0]
    assert acc > 0.95


def test_strict_feature_columns_restricts_fit(heterodf):
    """strict_feature_columns=True honors the configured list: with
    only y_coord allowed, the tree cannot use the perfectly-separating
    x_coord (Q-5 default would pick it)."""
    dt = DecisionTree(
        DecisionTreeParams(
            ["y_coord"], "color", "midpoint", "entropy",
            strict_feature_columns=True,
        )
    )
    dt.fit(heterodf)

    def attrs_used(node, acc):
        if isinstance(node, DecisionNode):
            acc.add(node.attribute)
            attrs_used(node.left, acc)
            attrs_used(node.right, acc)
        return acc

    used = attrs_used(dt.learned_tree, set())
    assert used <= {"y_coord"}, used


def test_strict_feature_columns_validates_names(heterodf):
    for bad in (["nope"], ["color"], []):
        dt = DecisionTree(
            DecisionTreeParams(
                bad, "color", "midpoint", "entropy",
                strict_feature_columns=True,
            )
        )
        with pytest.raises(ValueError):
            dt.fit(heterodf)


def test_strict_flag_serde_roundtrip_and_default_json_unchanged(heterodf):
    """The strict flag serializes only when True; default models keep
    the reference's exact params key set."""
    default = DecisionTree(
        DecisionTreeParams(["x_coord", "y_coord"], "color", "midpoint", "entropy")
    )
    default.fit(heterodf)
    assert "strict_feature_columns" not in default.dict()["params"]

    strict = DecisionTree(
        DecisionTreeParams(
            ["y_coord"], "color", "midpoint", "entropy",
            strict_feature_columns=True,
        )
    )
    strict.fit(heterodf)
    assert strict.dict()["params"]["strict_feature_columns"] is True
    again = DecisionTree.from_dict(json.loads(strict.json()))
    assert again.dict() == strict.dict()
    assert again._params.strict_feature_columns is True


def test_feature_importances_boundary_tree(spark):
    """A tree that learns the l_discount boundary puts ALL importance
    on that feature; the result is computable from a deserialized tree
    (no fit-time state) and sums to 1."""
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        (F.col("l_discount") > 0.05).cast("bigint").alias("class"),
    )
    dt = DecisionTree(
        DecisionTreeParams([], "class", "mean", "entropy", max_depth=4)
    )
    dt.fit(li)
    for weighting in ("count", "depth"):
        imp = dt.feature_importances(weighting)
        assert imp == {"l_discount": 1.0}
    rt = DecisionTree.from_dict(dt.dict())
    assert rt.feature_importances() == {"l_discount": 1.0}


def test_feature_importances_depth_weighting_and_empty(spark):
    from decision_tree_stuff_spark.dtree import DecisionNode, LeafNode

    root = DecisionNode("a", 1.0)
    root.left = DecisionNode("b", 2.0)
    root.right = LeafNode(1)
    root.left.left = LeafNode(0)
    root.left.right = LeafNode(1)
    dt = DecisionTree(
        DecisionTreeParams([], "class", "mean", "entropy"), root, 2
    )
    assert dt.feature_importances("count") == {"a": 0.5, "b": 0.5}
    # depth: a=1 at depth 0, b=0.5 at depth 1 -> 2/3, 1/3
    imp = dt.feature_importances("depth")
    assert abs(imp["a"] - 2 / 3) < 1e-12 and abs(imp["b"] - 1 / 3) < 1e-12
    leafy = DecisionTree(
        DecisionTreeParams([], "class", "mean", "entropy"), LeafNode(1), 0
    )
    assert leafy.feature_importances() == {}
    try:
        dt.feature_importances("gain")
        assert False
    except ValueError as e:
        assert "weighting" in str(e)


def test_transform_proba_empirical_leaf_probabilities(spark):
    """p1 is the EMPIRICAL class-1 share of the row's leaf: a depth-1
    tree over noisy data yields fractional probabilities that equal a
    direct groupBy over the leaf routing; pure leaves give exact 0/1;
    the scoring projection stays shuffle-free."""
    rows = [(float(i), int((i >= 50) != (i % 10 == 0))) for i in range(100)]
    df = spark.createDataFrame(rows, "x double, class bigint")
    dt = DecisionTree(
        DecisionTreeParams([], "class", "mean", "entropy", max_depth=1)
    )
    dt.fit(df)
    out = dt.transform_proba(df)
    got = {
        (r["x"] ,): (r["prediction"], r["p1"]) for r in out.collect()
    }
    # oracle: group rows by the tree's own routing and average
    routed = df.withColumn("leaf", dt.leaf_id_expr())
    want = {
        r["leaf"]: r["p"]
        for r in routed.groupBy("leaf")
        .agg(F.round(F.avg("class"), 6).alias("p"))
        .collect()
    }
    leaf_of = {
        r["x"]: r["leaf_id"]
        for r in df.select("x", dt.leaf_id_expr()).collect()
    }
    for (x,), (_, p1) in got.items():
        assert p1 == want[leaf_of[x]]
    # noisy halves -> strictly fractional probabilities
    assert all(0.0 < p < 1.0 for p in want.values())


def test_transform_proba_heldout_stats_and_fallback(spark):
    """stats_from decouples probability calibration from the scored
    frame; a leaf with no support in stats_from falls back to its hard
    label."""
    train = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (10.0, 1), (11.0, 1)], "x double, class bigint"
    )
    dt = DecisionTree(
        DecisionTreeParams([], "class", "mean", "entropy", max_depth=2)
    )
    dt.fit(train)
    # calibration set that only ever reaches the left side
    calib = spark.createDataFrame(
        [(1.0, 0), (2.0, 1)], "x double, class bigint"
    )
    score = spark.createDataFrame([(1.5,), (10.5,)], "x double")
    out = {r["x"]: r["p1"] for r in
           dt.transform_proba(score, stats_from=calib).collect()}
    assert out[1.5] == 0.5          # measured on calib
    assert out[10.5] == 1.0         # no calib support -> hard label


def test_transform_proba_unlabeled_requires_stats(spark):
    """Scoring an UNLABELED frame without an explicit stats_from must
    fail loudly (the default stats_from=dataset cannot measure leaf
    probabilities without the class column) — not with an unresolved-
    column AnalysisException deep in the agg."""
    train = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (10.0, 1), (11.0, 1)], "x double, class bigint"
    )
    dt = DecisionTree(
        DecisionTreeParams([], "class", "mean", "entropy", max_depth=1)
    )
    dt.fit(train)
    unlabeled = spark.createDataFrame([(1.5,), (10.5,)], "x double")
    with pytest.raises(ValueError, match="class"):
        dt.transform_proba(unlabeled)
    # the documented remedy works
    out = {r["x"]: r["p1"] for r in
           dt.transform_proba(unlabeled, stats_from=train).collect()}
    assert out == {1.5: 0.0, 10.5: 1.0}


def test_transform_proba_null_class_leaf_falls_back(spark):
    """A leaf whose stats_from rows are all NULL-classed yields the
    hard label, same as a leaf with no support — never a null p1."""
    train = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (10.0, 1), (11.0, 1)], "x double, class bigint"
    )
    dt = DecisionTree(
        DecisionTreeParams([], "class", "mean", "entropy", max_depth=1)
    )
    dt.fit(train)
    calib = spark.createDataFrame(
        [(1.0, None), (2.0, None), (10.0, 1)], "x double, class bigint"
    )
    score = spark.createDataFrame([(1.5,), (10.5,)], "x double")
    out = {r["x"]: r["p1"] for r in
           dt.transform_proba(score, stats_from=calib).collect()}
    assert out[1.5] == 0.0          # all-null calib leaf -> hard label
    assert out[10.5] == 1.0


def test_p1_expr_size_linear_in_leaves(spark):
    """The p1 expression mirrors to_expr's recursion (lit(p1) at each
    leaf), so its size is LINEAR in node count. The previous
    formulation chained when(leaf_id_expr == leaf, ...) per leaf —
    re-embedding the full tree-sized leaf_id CASE once per leaf,
    O(leaves x tree) — which made a depth-12 proba plan uncompilable.
    Doubling the leaves must roughly double (not quadruple) the
    compiled expression string."""

    def complete(depth: int) -> "DecisionNode":
        if depth == 0:
            return LeafNode(0)
        n = DecisionNode("x", float(depth))
        n.left = complete(depth - 1)
        n.right = complete(depth - 1)
        return n

    stats = spark.createDataFrame(
        [(1.0, 0), (2.0, 1)], "x double, class bigint"
    )
    sizes = {}
    for depth in (8, 9, 10):
        dt = DecisionTree(
            DecisionTreeParams([], "class", "mean", "entropy"),
            complete(depth),
            depth,
        )
        sizes[depth] = len(str(dt.p1_expr(stats)))
    # linear -> ~2x per extra level; the old quadratic form gives ~4x
    assert sizes[9] / sizes[8] < 3.0, sizes
    assert sizes[10] / sizes[9] < 3.0, sizes
