"""Anti-pattern sweep over every registered query's physical plan
(sf0.01 by default): counts BatchEvalPython (row-at-a-time Python),
CartesianProduct, ArrowEvalPython/MapInPandas/MapInArrow occurrences,
plus an
exchange/join inventory for queries named in PROFILE_QUERIES.

Plans are built (analyzed+optimized+physical), not executed — except
that iterative operators (connected components, tree fit, k-means,
LR) run their driver-side build jobs eagerly by design; that is the
cost of sweeping them and is bounded at sf0.01.

Usage: python scripts/plan_sweep.py [sf_dir] > sweep.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

PROFILE_QUERIES = [
    q
    for q in os.environ.get("PLAN_SWEEP_PROFILE", "").split(",")
    if q
]


def main() -> None:
    from pyspark.sql import SparkSession

    from decision_tree_stuff_spark.queries import ALL_QUERIES

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("plan-sweep")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {"sf_dir": SF_DIR, "n_queries": 0, "hits": {}, "profile": {}}
    markers = ("BatchEvalPython", "CartesianProduct", "ArrowEvalPython",
               "MapInPandas", "MapInArrow")
    for name, fn in ALL_QUERIES.items():
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — sweep records, not raises
            out["hits"][name] = {"error": str(e)[:200]}
            continue
        out["n_queries"] += 1
        found = {m: plan.count(m) for m in markers if plan.count(m)}
        if found:
            out["hits"][name] = found
        if name in PROFILE_QUERIES:
            out["profile"][name] = {
                "hash_exchange": plan.count("Exchange hashpartitioning"),
                "single_exchange": plan.count("Exchange SinglePartition"),
                "broadcast_hash_join": plan.count("BroadcastHashJoin"),
                "sort_merge_join": plan.count("SortMergeJoin"),
                "window_group_limit": plan.count("WindowGroupLimit"),
                "take_ordered": plan.count("TakeOrderedAndProject"),
            }
        print(f"{name}: ok", file=sys.stderr, flush=True)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
