"""MLlib-style Estimator/Model facade (SURVEY.md §1.1, §2.2: optional
wrapper so the engine slots into ``pyspark.ml`` Pipelines).

Note MLlib's own ``DecisionTreeClassifier`` can NOT reproduce the
reference's trees — it weights child impurities by size, the reference
does not (SURVEY.md §2.4 Q-1) — hence this wrapper around our own
trainer rather than a delegation.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame

from decision_tree_stuff_spark.dtree import DecisionTree, DecisionTreeParams
from decision_tree_stuff_spark.forest import DecisionForest, ForestParams


class _HasTreeParams(Params):
    classCol = Param(
        Params._dummy(), "classCol", "binary {0,1} label column",
        typeConverter=TypeConverters.toString,
    )
    splittingMethod = Param(
        Params._dummy(), "splittingMethod", "mean | median | midpoint",
        typeConverter=TypeConverters.toString,
    )
    splitMetric = Param(
        Params._dummy(), "splitMetric", "entropy | gini",
        typeConverter=TypeConverters.toString,
    )
    minSplitSamples = Param(
        Params._dummy(), "minSplitSamples", "minimum rows to split",
        typeConverter=TypeConverters.toInt,
    )
    minSplitEntropy = Param(
        Params._dummy(), "minSplitEntropy", "minimum node entropy to split",
        typeConverter=TypeConverters.toFloat,
    )
    maxDepth = Param(
        Params._dummy(), "maxDepth", "max depth; -1 = unlimited",
        typeConverter=TypeConverters.toInt,
    )
    prune = Param(
        Params._dummy(), "prune", "collapse uniform subtrees after fit",
        typeConverter=TypeConverters.toBoolean,
    )


class DecisionTreeStuffClassifier(Estimator, _HasTreeParams):
    """``Estimator`` facade: every numeric non-label column is a
    feature (reference quirk Q-5 — no VectorAssembler needed)."""

    @keyword_only
    def __init__(
        self,
        classCol: str = "class",
        splittingMethod: str = "mean",
        splitMetric: str = "entropy",
        minSplitSamples: int = 0,
        minSplitEntropy: float = 0.0,
        maxDepth: int = -1,
        prune: bool = False,
    ):
        super().__init__()
        self._setDefault(
            classCol="class",
            splittingMethod="mean",
            splitMetric="entropy",
            minSplitSamples=0,
            minSplitEntropy=0.0,
            maxDepth=-1,
            prune=False,
        )
        self._set(**self._input_kwargs)

    def _fit(self, dataset: DataFrame) -> "DecisionTreeStuffModel":
        params = DecisionTreeParams(
            feature_columns=[],
            class_column=self.getOrDefault("classCol"),
            splitting_method=self.getOrDefault("splittingMethod"),
            split_metric=self.getOrDefault("splitMetric"),
            min_split_samples=self.getOrDefault("minSplitSamples"),
            min_split_entropy=self.getOrDefault("minSplitEntropy"),
            max_depth=self.getOrDefault("maxDepth"),
        )
        tree = DecisionTree(params)
        tree.fit(dataset, prune=self.getOrDefault("prune"))
        return DecisionTreeStuffModel(tree)


class DecisionTreeStuffModel(Model):
    """Fitted model: ``transform`` adds the TINYINT ``prediction``
    column via the compiled tree expression (one projection)."""

    def __init__(self, tree: DecisionTree):
        super().__init__()
        self.tree = tree

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return self.tree.transform(dataset)

    def save_json(self, path: str) -> None:
        self.tree.save_json(path)

    @classmethod
    def load_json(cls, path: str) -> "DecisionTreeStuffModel":
        return cls(DecisionTree.load_json(path))


class DecisionForestClassifier(Estimator, _HasTreeParams):
    """``Estimator`` facade for the bagged forest (r6) — the ensemble
    counterpart of ``DecisionTreeStuffClassifier``, same no-assembler
    column convention. ``keyCols`` feeds the deterministic hash
    bagger (default: every non-label column)."""

    nTrees = Param(
        Params._dummy(), "nTrees", "ensemble size",
        typeConverter=TypeConverters.toInt,
    )
    sampleRate = Param(
        Params._dummy(), "sampleRate", "bagging keep-rate per tree",
        typeConverter=TypeConverters.toFloat,
    )
    seed = Param(
        Params._dummy(), "seed", "bagging seed string",
        typeConverter=TypeConverters.toString,
    )
    keyCols = Param(
        Params._dummy(), "keyCols",
        "row-identity columns for the hash bagger ([] = all features)",
        typeConverter=TypeConverters.toListString,
    )

    @keyword_only
    def __init__(
        self,
        classCol: str = "class",
        splittingMethod: str = "mean",
        splitMetric: str = "entropy",
        minSplitSamples: int = 0,
        minSplitEntropy: float = 0.0,
        maxDepth: int = -1,
        nTrees: int = 5,
        sampleRate: float = 0.7,
        seed: str = "forest",
        keyCols: list = None,
    ):
        super().__init__()
        self._setDefault(
            classCol="class",
            splittingMethod="mean",
            splitMetric="entropy",
            minSplitSamples=0,
            minSplitEntropy=0.0,
            maxDepth=-1,
            nTrees=5,
            sampleRate=0.7,
            seed="forest",
            keyCols=[],
        )
        kwargs = self._input_kwargs
        if kwargs.get("keyCols") is None:
            kwargs.pop("keyCols", None)
        self._set(**kwargs)

    def _fit(self, dataset: DataFrame) -> "DecisionForestModel":
        tree_params = DecisionTreeParams(
            feature_columns=[],
            class_column=self.getOrDefault("classCol"),
            splitting_method=self.getOrDefault("splittingMethod"),
            split_metric=self.getOrDefault("splitMetric"),
            min_split_samples=self.getOrDefault("minSplitSamples"),
            min_split_entropy=self.getOrDefault("minSplitEntropy"),
            max_depth=self.getOrDefault("maxDepth"),
        )
        forest = DecisionForest(
            ForestParams(
                tree_params=tree_params,
                n_trees=self.getOrDefault("nTrees"),
                sample_rate=self.getOrDefault("sampleRate"),
                seed=self.getOrDefault("seed"),
            )
        )
        keys = self.getOrDefault("keyCols") or None
        forest.fit(dataset, key_cols=keys)
        return DecisionForestModel(forest)


class DecisionForestModel(Model):
    """Fitted forest: ``transform`` adds the majority-vote TINYINT
    ``prediction`` in one fused projection."""

    def __init__(self, forest: DecisionForest):
        super().__init__()
        self.forest = forest

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return self.forest.transform(dataset)

    def save_json(self, path: str) -> None:
        self.forest.save_json(path)

    @classmethod
    def load_json(cls, path: str) -> "DecisionForestModel":
        return cls(DecisionForest.load_json(path))


class _HasRegressionParams(Params):
    targetCol = Param(
        Params._dummy(), "targetCol", "numeric regression target",
        typeConverter=TypeConverters.toString,
    )
    featureCols = Param(
        Params._dummy(), "featureCols",
        "feature columns ([] = every numeric non-target column)",
        typeConverter=TypeConverters.toListString,
    )
    rSplittingMethod = Param(
        Params._dummy(), "rSplittingMethod", "mean | median | midpoint",
        typeConverter=TypeConverters.toString,
    )
    rMaxDepth = Param(
        Params._dummy(), "rMaxDepth", "max tree depth",
        typeConverter=TypeConverters.toInt,
    )
    rMinSamples = Param(
        Params._dummy(), "rMinSamples", "minimum rows to split",
        typeConverter=TypeConverters.toInt,
    )


class RegressionTreeRegressor(Estimator, _HasRegressionParams):
    """``Estimator`` facade for the CART regression tree (r7) — same
    no-VectorAssembler column convention as the classifier facades."""

    @keyword_only
    def __init__(
        self,
        targetCol: str = "y",
        featureCols: list = None,
        rSplittingMethod: str = "mean",
        rMaxDepth: int = 3,
        rMinSamples: int = 2,
    ):
        super().__init__()
        self._setDefault(
            targetCol="y",
            featureCols=[],
            rSplittingMethod="mean",
            rMaxDepth=3,
            rMinSamples=2,
        )
        kwargs = self._input_kwargs
        if kwargs.get("featureCols") is None:
            kwargs.pop("featureCols", None)
        self._set(**kwargs)

    def _fit(self, dataset: DataFrame) -> "RegressionTreeModel":
        from decision_tree_stuff_spark.operators.regression_tree import (
            RegressionTree,
        )

        tree = RegressionTree(
            self.getOrDefault("targetCol"),
            features=self.getOrDefault("featureCols") or None,
            method=self.getOrDefault("rSplittingMethod"),
            max_depth=self.getOrDefault("rMaxDepth"),
            min_samples=self.getOrDefault("rMinSamples"),
        ).fit(dataset)
        return RegressionTreeModel(tree)


class RegressionTreeModel(Model):
    """Fitted regression tree: ``transform`` adds the DOUBLE
    ``prediction`` column in one projection."""

    def __init__(self, tree):
        super().__init__()
        self.tree = tree

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return self.tree.transform(dataset)


class GBTStuffRegressor(Estimator, _HasRegressionParams):
    """``Estimator`` facade for squared-error gradient boosting
    (r7)."""

    nStages = Param(
        Params._dummy(), "nStages", "boosting stages",
        typeConverter=TypeConverters.toInt,
    )
    learningRate = Param(
        Params._dummy(), "learningRate",
        "stage shrinkage (use an exactly-representable value)",
        typeConverter=TypeConverters.toFloat,
    )

    @keyword_only
    def __init__(
        self,
        targetCol: str = "y",
        featureCols: list = None,
        rSplittingMethod: str = "mean",
        rMaxDepth: int = 2,
        rMinSamples: int = 2,
        nStages: int = 3,
        learningRate: float = 0.5,
    ):
        super().__init__()
        self._setDefault(
            targetCol="y",
            featureCols=[],
            rSplittingMethod="mean",
            rMaxDepth=2,
            rMinSamples=2,
            nStages=3,
            learningRate=0.5,
        )
        kwargs = self._input_kwargs
        if kwargs.get("featureCols") is None:
            kwargs.pop("featureCols", None)
        self._set(**kwargs)

    def _fit(self, dataset: DataFrame) -> "GBTStuffModel":
        from decision_tree_stuff_spark.operators.regression_tree import (
            GradientBoostedTrees,
        )

        gbt = GradientBoostedTrees(
            self.getOrDefault("targetCol"),
            features=self.getOrDefault("featureCols") or None,
            n_trees=self.getOrDefault("nStages"),
            learning_rate=self.getOrDefault("learningRate"),
            max_depth=self.getOrDefault("rMaxDepth"),
            min_samples=self.getOrDefault("rMinSamples"),
            method=self.getOrDefault("rSplittingMethod"),
        ).fit(dataset)
        return GBTStuffModel(gbt)


class GBTStuffModel(Model):
    """Fitted boosted ensemble: ``transform`` adds the DOUBLE
    ``prediction`` in one fused projection."""

    def __init__(self, gbt):
        super().__init__()
        self.gbt = gbt

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return self.gbt.transform(dataset)
