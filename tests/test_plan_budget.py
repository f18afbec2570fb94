"""Analyzer/plan-build budget for the media decode plans (r13, r12
verdict task 7; tightened r14 per the r13 verdict): construct +
analyze + plan of each PNG/GIF registry row must stay inside a
per-row pin. The pins date from when these plans were built from
Catalyst expression codecs; the rows now build a small Arrow-stage
plan, so the pins only catch a return to plan-cost blow-ups (the
analyzer-never-finishes failure mode this test was born from). Each
row is timed after a WARMUP build that pays the session's one-time
JVM class-loading, so the first row measured isn't the cold one."""

from __future__ import annotations

import time

# name -> budget over (construct + analyze + plan), seconds.
# ~2x the measured warm floor, rounded up through the noise band.
BUILD_PLUS_PLAN_BUDGET_SEC = {
    "e6_png_decode": 14.0,
    "e6_png_fixed_decode": 22.0,
    "e6_png_dyn_decode": 28.0,
    "e6_png_rgb_decode": 30.0,
    "e6_png_filtered_decode": 30.0,
    "e6_png_palette_decode": 40.0,
    "e6_gif_decode": 8.0,
    "e6_png_16bit_decode": 42.0,
}


# A row's FIRST build in a process is dominated by py4j/JIT state
# that varies 3x+ BETWEEN machines, so per-row absolute pins time the
# warm REBUILD (construct + full re-analysis + planning — exactly
# what the bench's warm run pays); the first-build pass keeps only a
# catastrophic pin.
FIRST_BUILD_CATASTROPHIC_SEC = 150.0


def test_png_plan_build_within_budget(spark, sf_dir):
    from decision_tree_stuff_spark.queries import ALL_QUERIES

    # warmup: pay the session's one-time JVM/py4j cost outside the
    # measured window (any PNG row works; use the cheapest)
    warm = ALL_QUERIES["e6_png_decode"](spark, sf_dir)
    warm._jdf.queryExecution().executedPlan()

    # pass 1 — first build per row, untimed except the
    # catastrophic pin (analyzer-OOM guard)
    for name in BUILD_PLUS_PLAN_BUDGET_SEC:
        t0 = time.time()
        df = ALL_QUERIES[name](spark, sf_dir)
        df._jdf.queryExecution().executedPlan()
        elapsed = time.time() - t0
        assert elapsed < FIRST_BUILD_CATASTROPHIC_SEC, (
            "first build", name, elapsed, FIRST_BUILD_CATASTROPHIC_SEC,
        )

    # pass 2 — warm rebuild per row against the per-row pins:
    # analysis + physical planning run in full (they are not cached
    # across builds), so a plan-cost regression still fails here
    for name, budget in BUILD_PLUS_PLAN_BUDGET_SEC.items():
        t0 = time.time()
        df = ALL_QUERIES[name](spark, sf_dir)
        df._jdf.queryExecution().executedPlan()
        elapsed = time.time() - t0
        assert elapsed < budget, (name, elapsed, budget)
