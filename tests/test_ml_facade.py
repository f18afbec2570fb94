"""MLlib facade wiring tests."""

from __future__ import annotations

from pyspark.ml import Pipeline

from decision_tree_stuff_spark.ml import (
    DecisionTreeStuffClassifier,
    DecisionTreeStuffModel,
)


def test_estimator_in_pipeline(heterodf, tmp_path):
    est = DecisionTreeStuffClassifier(
        classCol="color", splittingMethod="midpoint", splitMetric="entropy"
    )
    model = Pipeline(stages=[est]).fit(heterodf).stages[0]
    out = model.transform(heterodf)
    assert all(r["prediction"] == r["color"] for r in out.collect())

    p = str(tmp_path / "model.json")
    model.save_json(p)
    again = DecisionTreeStuffModel.load_json(p)
    assert again.tree.dict()["nodes"] == model.tree.dict()["nodes"]


def test_forest_estimator_in_pipeline(heterodf, tmp_path):
    """Forest facade (r6): fits in a pyspark.ml Pipeline, votes
    correctly on separable data, JSON round-trips, and the fit is
    deterministic (hash bagging, no RNG state)."""
    from decision_tree_stuff_spark.ml import (
        DecisionForestClassifier,
        DecisionForestModel,
    )

    est = DecisionForestClassifier(
        classCol="color", splittingMethod="midpoint", nTrees=3,
        sampleRate=0.8, seed="t",
    )
    model = Pipeline(stages=[est]).fit(heterodf).stages[0]
    out = model.transform(heterodf)
    assert all(r["prediction"] == r["color"] for r in out.collect())

    p = str(tmp_path / "forest.json")
    model.save_json(p)
    again = DecisionForestModel.load_json(p)
    assert again.forest.dict() == model.forest.dict()

    model2 = est.fit(heterodf)
    assert model2.forest.dict() == model.forest.dict()


def test_regression_facades_in_pipeline(spark):
    """RegressionTreeRegressor and GBTStuffRegressor (r7) fit inside a
    pyspark.ml Pipeline; the tree recovers a step function exactly and
    boosting's training loss is no worse than the single stage's."""
    from pyspark.sql import functions as F

    from decision_tree_stuff_spark.ml import (
        GBTStuffRegressor,
        RegressionTreeRegressor,
    )

    df = spark.createDataFrame(
        [(float(i), 10.0 if i < 50 else 20.0) for i in range(100)],
        "x double, y double",
    )
    rt = Pipeline(
        stages=[RegressionTreeRegressor(targetCol="y", rMaxDepth=1)]
    ).fit(df).stages[0]
    out = rt.transform(df)
    assert all(r["prediction"] == r["y"] for r in out.collect())

    def sse(model):
        return (
            model.transform(df)
            .agg(F.sum(F.pow(F.col("y") - F.col("prediction"), 2)))
            .first()[0]
        )

    gbt1 = GBTStuffRegressor(targetCol="y", nStages=1, rMaxDepth=1).fit(df)
    gbt3 = GBTStuffRegressor(targetCol="y", nStages=3, rMaxDepth=1).fit(df)
    assert sse(gbt3) <= sse(gbt1) + 1e-9
