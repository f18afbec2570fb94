"""The composed batch ingest (queries/ingest.py): run_with_audit
funnel accounting over the SAME stage callables must equal
independently-computed per-stage counts (one action, zero extra
passes), counts must be monotone non-increasing, benchmark members
must never survive decontamination, and the packed layout must be a
gap-free token stream.
"""

from __future__ import annotations

import os

from decision_tree_stuff_spark.operators.audit import (
    audit_counts,
    run_with_audit,
)
from decision_tree_stuff_spark.queries import _docs
from decision_tree_stuff_spark.queries._shared import PACK_SEQ_LEN
from decision_tree_stuff_spark.queries.ingest import (
    ingest_stages,
    q_e12_batch_ingest,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_funnel_audit_matches_independent_counts(spark):
    stages = ingest_stages(spark, SF_DIR)
    out, obs = run_with_audit(_docs(spark, SF_DIR), stages)
    out.write.format("noop").mode("overwrite").save()  # ONE action
    funnel = {r["stage"]: r["rows"] for r in audit_counts(obs)}

    # independent recomputation: materialize each stage separately
    df = _docs(spark, SF_DIR)
    expect = {"input": df.count()}
    for name, fn in stages:
        df = fn(df)
        expect[name] = df.count()
    assert funnel == expect, (funnel, expect)
    # the funnel only ever narrows
    order = ["input"] + [n for n, _ in stages]
    for a, b in zip(order, order[1:]):
        assert funnel[b] <= funnel[a], (a, b, funnel)
    # every stage is exercised on this corpus: the pipeline must not
    # degenerate to a no-op end to end
    assert funnel[order[-1]] < funnel["input"]


def test_bench_members_never_survive(spark):
    rows = q_e12_batch_ingest(spark, SF_DIR).collect()
    assert rows, "pipeline must keep something at test sf"
    assert all(r["doc_id"] % 7 != 0 for r in rows)


def test_reliable_checkpoint_mode_identical_manifest(spark, tmp_path):
    """r10 (r9 verdict task 4): the barriers are a durability knob,
    not a semantics knob — 'reliable' (checkpoint dir) must produce
    the exact manifest 'local' does."""
    import pytest

    with pytest.raises(ValueError, match="checkpoint_mode"):
        ingest_stages(spark, SF_DIR, checkpoint_mode="banana")

    sc = spark.sparkContext
    had_dir = sc._jsc.sc().getCheckpointDir().isDefined()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        local = _docs(spark, SF_DIR)
        for _, fn in ingest_stages(spark, SF_DIR, checkpoint_mode="local"):
            local = fn(local)
        reliable = _docs(spark, SF_DIR)
        for _, fn in ingest_stages(
            spark, SF_DIR, checkpoint_mode="reliable"
        ):
            reliable = fn(reliable)
        cols = ["doc_id", "lang", "n_tokens", "pack_id", "pack_offset"]
        a = sorted(map(tuple, local.select(*cols).collect()))
        b = sorted(map(tuple, reliable.select(*cols).collect()))
        assert a == b and a
    finally:
        if not had_dir:
            sc._jsc.sc().setCheckpointDir(None)


def test_packed_layout_is_gap_free(spark):
    rows = sorted(
        q_e12_batch_ingest(spark, SF_DIR).collect(),
        key=lambda r: (r["pack_id"], r["pack_offset"]),
    )
    pos = 0
    for r in rows:
        assert 0 <= r["pack_offset"] < PACK_SEQ_LEN, r
        assert r["pack_id"] * PACK_SEQ_LEN + r["pack_offset"] == pos, r
        pos += r["n_tokens"]
