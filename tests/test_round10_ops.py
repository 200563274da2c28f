"""Round-10 tests (VERDICT r9 item 1 + residual 1): the registered
production-width graph-ANN build and the winnowing census single-kernel
pin."""

from __future__ import annotations


# --- VERDICT r9 item 1: the wide graph-ANN width is driver-provable ---------


def test_graph_ann_wide_is_the_scaled_form_at_bits7(spark, sf_dir):
    """The registered `sim_ann_graph_topk_blocked_wide` IS the
    parameterized scale variant at bits=7, row-for-row — the law that
    ties the driver-graded EXACT row to the knob the slope harness
    measures. And the wide walk still returns a full top-k (thin
    fixture buckets never break the beam)."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        QUERIES as SQ,
        sim_ann_graph_topk_blocked_scaled,
    )

    wide = [
        tuple(r)
        for r in SQ["sim_ann_graph_topk_blocked_wide"](spark, sf_dir).collect()
    ]
    scaled = [
        tuple(r)
        for r in sim_ann_graph_topk_blocked_scaled(spark, sf_dir, 7).collect()
    ]
    assert wide == scaled
    reg = SQ["sim_ann_graph_topk_blocked"](spark, sf_dir).collect()
    assert len(wide) == len(reg)  # full top-k at both widths


def test_graph_ann_wide_oracle_inlines_its_own_planes():
    """The wide oracle must carry MORE plane literals than the 4-bit one
    (14 vs 8 distinct planes), each derived from the shared deterministic
    sha parity — the same inline-the-planes discipline as
    `sim_ann_lsh_topk` (VERDICT r9 item 1's 'mirroring' requirement)."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        ORACLES,
        _planes,
    )

    wide_sql = ORACLES["sim_ann_graph_topk_blocked_wide"]
    base_sql = ORACLES["sim_ann_graph_topk_blocked"]
    planes = _planes(14)
    lits = ["[" + ", ".join(str(x) for x in p) + "]" for p in planes]
    assert all(lit in wide_sql for lit in lits)
    # the 4-bit oracle stops at 8 planes; the wide one genuinely differs
    assert lits[13] not in base_sql
    assert wide_sql != base_sql


# --- VERDICT r9 residual 1: q24 runs its kernel once -------------------------


def test_winnowing_census_single_kernel_pass(spark, sf_dir):
    """The winnowing census references the kernel output twice (df census
    + per-doc join); unpinned, the lazy plan ran the corpus-hashing
    kernel TWICE (two MapInPandas subtrees — VERDICT r9 residual 1).
    Pinned, the final plan scans the materialized id/fp set and carries
    ZERO MapInPandas subtrees — the kernel ran exactly once, at pin
    time."""
    from dataflow_pubsub_message_encryption_spark.operators.dedup import (
        QUERIES as DQ,
    )
    from dataflow_pubsub_message_encryption_spark.plans import formatted_plan

    df = DQ["dedup_winnowing_fingerprints"](spark, sf_dir)
    assert "MapInPandas" not in formatted_plan(df)
    assert df.count() > 0
