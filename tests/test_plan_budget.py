"""Analyzer/plan-build budget for the heavy media plans (r13, r12
verdict task 7; tightened r14 per the r13 verdict): the PNG rows'
bench floor is almost entirely ONE-TIME driver-side cost, not per-row
compute. Measured breakdown (SCALING_r13.md §1, re-measured r14 warm
after the encoder _let staging — SCALING_r14.md §4):

* construct (py4j expression building, data-independent):
  decode ~4.4 s, fixed ~8.2 s, dyn ~10.7 s, rgb ~10.4 s,
  filtered ~10.9 s
* JVM analysis + physical planning: 1.0-3.4 s per row

The r13 45 s blanket budget had 6x headroom — enough to catch the
analyzer-OOM failure mode (the pre-``_let`` fixed-Huffman walk never
finished analysis) but not a 3x plan-cost regression. r14 pins each
row at ~2x its measured warm floor (+ the ±50% box-noise band), after
a WARMUP build that pays the session's one-time JVM class-loading so
the first row measured isn't the cold one (measured: first-build
penalty ~3x on this box)."""

from __future__ import annotations

import time

# name -> budget over (construct + analyze + plan), seconds.
# ~2x the measured warm floor, rounded up through the noise band.
BUILD_PLUS_PLAN_BUDGET_SEC = {
    "e6_png_decode": 14.0,
    "e6_png_fixed_decode": 22.0,
    "e6_png_dyn_decode": 28.0,
    "e6_png_rgb_decode": 30.0,
    "e6_png_filtered_decode": 30.0,  # r14: the _let-staged encoders —
    #   the UNstaged form measured 52 s here (SCALING_r14.md §4), so
    #   this pin fails if the staging regresses
    "e6_png_palette_decode": 40.0,  # r14: warm floor ~20 s (the
    #   palette branch rides every byte-read in all three envelope
    #   decoders, plus the PLTE walk stage and the index-bounds fold)
    "e6_gif_decode": 8.0,  # r14: warm floor ~3.3 s — the LZW walk is
    #   ONE fold (no per-envelope duplication), so the whole GIF plan
    #   is an order of magnitude cheaper than the PNG full-flag plans
    "e6_png_16bit_decode": 42.0,  # r14: warm floor ~20 s (the palette
    #   row's cost class: full-flag program + the depth16 stride
    #   branches in all three envelope decoders)
}


# A row's FIRST build in a process is a construction-memo MISS
# and first-build cost is dominated by py4j/JIT state
# that varies 3x+ BETWEEN box instances (measured on a fresh VM:
# e6_png_fixed_decode 57.9 s first build vs 9.3 s rebuild, same
# session, idle box — while the prior box's first builds sat under
# every pin). Per-row absolute pins on memo-miss builds are therefore
# unfalsifiable-noise across boxes; the warm REBUILD (memo-hit
# construct + full re-analysis + planning — exactly what the bench's
# warm run pays) is stable, so that is what the per-row pins time.
# The memo-miss pass keeps only a catastrophic pin for the
# analyzer-never-finishes failure mode this test was born from.
FIRST_BUILD_CATASTROPHIC_SEC = 150.0


def test_png_plan_build_within_budget(spark, sf_dir):
    from decision_tree_stuff_spark.queries import ALL_QUERIES

    # warmup: pay the session's one-time JVM/py4j cost outside the
    # measured window (any PNG row works; use the cheapest)
    warm = ALL_QUERIES["e6_png_decode"](spark, sf_dir)
    warm._jdf.queryExecution().executedPlan()

    # pass 1 — memo-miss build per row, untimed except the
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
    # construction comes from the memo, analysis + physical planning
    # run in full (they are not cached across builds), so a plan-cost
    # regression in the analyzed tree still fails here
    for name, budget in BUILD_PLUS_PLAN_BUDGET_SEC.items():
        t0 = time.time()
        df = ALL_QUERIES[name](spark, sf_dir)
        df._jdf.queryExecution().executedPlan()
        elapsed = time.time() - t0
        assert elapsed < budget, (name, elapsed, budget)
