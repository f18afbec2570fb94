"""Wide-feature (>AGG_CHUNK_COLUMNS aggregate expressions) training:
the chunked aggregation path must be invisible — identical candidate
tables and identical trees when the wide aggregates are forced to
split across many small jobs."""

from __future__ import annotations

import random

import pytest

from decision_tree_stuff_spark import splitting
from decision_tree_stuff_spark.dtree import DecisionTree, DecisionTreeParams
from decision_tree_stuff_spark.splitting import score_all_splits_wide

N_FEATURES = 24


@pytest.fixture(scope="module")
def widedf(spark):
    rng = random.Random(7)
    cols = [f"f{i}" for i in range(N_FEATURES)]
    rows = []
    for _ in range(300):
        vals = [round(rng.uniform(0, 10), 3) for _ in cols]
        # label depends on two features so several levels split
        label = 1 if vals[3] + vals[17] > 10 else 0
        rows.append(tuple(vals) + (label,))
    schema = ", ".join(f"{c} double" for c in cols) + ", class bigint"
    return spark.createDataFrame(rows, schema).persist()


def test_chunked_scoring_identical(widedf):
    whole = score_all_splits_wide(widedf, "class", "entropy", "mean")
    # 5 columns per chunk → the 6 per-feature aggregates straddle
    # chunk boundaries, the worst alignment case
    chunked = score_all_splits_wide(
        widedf, "class", "entropy", "mean", agg_chunk_columns=5
    )
    assert chunked == whole
    assert len(whole) == N_FEATURES


def test_chunked_fit_identical(widedf, monkeypatch):
    params = DecisionTreeParams([], "class", "mean", "entropy", max_depth=3)
    baseline = DecisionTree(params)
    baseline.fit(widedf)

    monkeypatch.setattr(splitting, "AGG_CHUNK_COLUMNS", 7)
    chunked_df = DecisionTree(params)
    chunked_df.fit(widedf)
    assert chunked_df.dict() == baseline.dict()
