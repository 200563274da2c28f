"""Round-13 tests (VERDICT r12 item 5 + ADVICE r12 item 3): the DSIR
importance-resampling self-consistency law, the sliced-prefix band-join
equivalence, and the plan audit's tree-header consumer resolution
(left-subtree-terminal exchanges)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)


# --- DSIR importance resampling ----------------------------------------------


def test_dsir_identity_target_is_zero(spark, sf_dir):
    """With target = the whole raw corpus, P_target ≡ P_raw bucket for
    bucket, so every document's log importance weight is EXACTLY 0.0 —
    not approximately: each bucket's term is ln(x) - ln(x) on identical
    doubles. Pins the estimator's self-consistency independent of the
    frozen-oracle path."""
    from dataflow_pubsub_message_encryption_spark.operators.curation import (
        corpus_dsir_importance_topk,
    )

    rows = corpus_dsir_importance_topk(spark, sf_dir, target="*").collect()
    assert len(rows) == 100
    assert all(r.dsir_logweight == 0.0 for r in rows)
    # identical weights -> the deterministic tie-break is doc_id order
    assert [r.doc_id for r in rows] == sorted(r.doc_id for r in rows)


def test_dsir_topk_shape(spark, sf_dir):
    """Ranked output: weights non-increasing, doc_id breaks ties, no
    duplicate docs, and the weight column is the round-6 canonical form."""
    from dataflow_pubsub_message_encryption_spark.operators.curation import (
        corpus_dsir_importance_topk,
    )

    rows = corpus_dsir_importance_topk(spark, sf_dir).collect()
    assert len(rows) == 100
    assert len({r.doc_id for r in rows}) == 100
    ws = [r.dsir_logweight for r in rows]
    assert ws == sorted(ws, reverse=True)
    for a, b in zip(rows, rows[1:]):
        if a.dsir_logweight == b.dsir_logweight:
            assert a.doc_id < b.doc_id
    assert all(round(w, 6) == w for w in ws)


# --- sliced-prefix band join (VERDICT r12 item 5) -----------------------------


def test_lsh_auto_still_matches_fixed_key(spark, sf_dir):
    """The carried-width trim may not change a single emitted pair: at
    tau=0.9 the derived 2x8 banding must still reproduce the fixed
    production key bit for bit (the law VERDICT r12 item 5 requires to
    keep holding)."""
    from dataflow_pubsub_message_encryption_spark.operators.dedup import (
        dedup_minhash_lsh_pairs,
        dedup_minhash_lsh_pairs_auto,
    )

    fixed = {
        (r.doc_a, r.doc_b, r.jac)
        for r in dedup_minhash_lsh_pairs(spark, sf_dir).collect()
    }
    auto = {
        (r.doc_a, r.doc_b, r.jac)
        for r in dedup_minhash_lsh_pairs_auto(spark, sf_dir).collect()
    }
    assert fixed == auto and fixed


def test_lsh_candidates_emit_once_no_duplicates(spark, sf_dir):
    """The generalized 4-band join's candidate set must stay disjoint by
    construction after the prefix-slice rewrite: no (doc_a, doc_b) pair
    may be emitted by two bands."""
    from dataflow_pubsub_message_encryption_spark.operators.dedup import (
        dedup_minhash_lsh_pairs_auto,
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh_pairs_auto(spark, sf_dir, tau=0.7).collect()
    ]
    assert len(pairs) == len(set(pairs)) and pairs


# --- plan audit: consumer by tree header (ADVICE r12 item 3) ------------------

_LEFT_TERMINAL_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- BroadcastNestedLoopJoin Inner (8)
   :- HashAggregate (4)
   :  +- Exchange (3)
   :     +- HashAggregate (2)
   :        +- Scan parquet  (1)
   +- BroadcastExchange (7)
      +- Project (6)
         +- Scan parquet  (5)


(1) Scan parquet
Output [1]: [x#1]

(2) HashAggregate
Keys: []
Functions [1]: [partial_count(1)]

(3) Exchange
Input [1]: [count#10L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]

(5) Scan parquet
Output [1]: [y#2]

(6) Project
Output [1]: [y#2]

(7) BroadcastExchange
Input [1]: [y#2]

(4) HashAggregate
Keys: []
Functions [1]: [count(1)]

(8) BroadcastNestedLoopJoin
Join condition: None

(9) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""


def test_audit_left_subtree_terminal_exchange():
    """When a SinglePartition Exchange ends a join's left subtree, the
    NEXT detail block is the right subtree's leaf — positional adjacency
    would flag a benign keyless-agg merge as NEEDS REVIEW (ADVICE r12
    item 3). The tree-header parent map must resolve the true consumer."""
    from explain_all import _parent_map, audit_single_partition

    parents = _parent_map(_LEFT_TERMINAL_PLAN)
    assert parents[3] == 4  # Exchange -> its aggregate, not block order
    assert parents[7] == 8 and parents[4] == 8
    total, benign, review = audit_single_partition(_LEFT_TERMINAL_PLAN)
    assert (total, benign, review) == (1, 1, [])


def test_parent_map_ignores_detail_noise():
    """Detail-block lines (colon-bearing attributes, bracketed lists)
    must not register as tree nodes even when they end in (N)."""
    from explain_all import _parent_map

    plan = """== Physical Plan ==
HashAggregate (2)
+- Scan parquet  (1)


(1) Scan parquet
Location: InMemoryFileIndex [file:/tmp/x (1)]
Arguments: stuff (2)

(2) HashAggregate
Keys: []
"""
    assert _parent_map(plan) == {1: 2}


# --- DSIR selection: the above-mean acceptance rule ---------------------------


def test_dsir_mix_shift_consistency(spark, sf_dir):
    """The mix-shift report must agree with an independent recompute of
    the acceptance rule from the shared weights builder: survivors are
    exactly the docs whose micro-unit integer weight strictly exceeds
    the corpus mean (wi * n > sum(wi)), per source; the shares are
    integer-DIV ppm of structurally consistent denominators."""
    from dataflow_pubsub_message_encryption_spark.operators.curation import (
        _DSIR_TARGET_SRC,
        _dsir_weights,
        corpus_dsir_resample_mix_shift,
    )

    rows = corpus_dsir_resample_mix_shift(spark, sf_dir).collect()
    w = _dsir_weights(spark, sf_dir, _DSIR_TARGET_SRC).collect()

    wi = {r.doc_id: round(r.dsir_logweight * 1_000_000) for r in w}
    n, s = len(wi), sum(wi.values())
    sel_by_src: dict[str, int] = {}
    for r in w:
        if wi[r.doc_id] * n > s:
            sel_by_src[r.source] = sel_by_src.get(r.source, 0) + 1

    assert sum(r.n_docs for r in rows) == n
    ns = sum(r.n_selected for r in rows)
    assert ns == sum(sel_by_src.values()) and 0 < ns < n
    for r in rows:
        assert r.n_selected == sel_by_src.get(r.source, 0)
        assert r.share_before_ppm == r.n_docs * 1_000_000 // n
        assert r.share_after_ppm == r.n_selected * 1_000_000 // ns
        assert r.keep_rate_ppm == r.n_selected * 1_000_000 // r.n_docs
    # the selector must tilt the mix TOWARD the target source
    tgt = next(r for r in rows if r.source == _DSIR_TARGET_SRC)
    assert tgt.share_after_ppm >= tgt.share_before_ppm


# --- embedding-LSH auto width (the round-13 slope-census finding) -------------


def test_emb_lsh_auto_equals_fixed_at_fixture(spark, sf_dir):
    """At fixture n the sizing rule clamps to the fixed key's 4 bits, so
    the auto key must reproduce it row for row (the derivation is what
    the driver grade then proves end to end)."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        dedup_embedding_lsh,
        dedup_embedding_lsh_auto,
    )

    fixed = {tuple(r) for r in dedup_embedding_lsh(spark, sf_dir).collect()}
    auto = {tuple(r) for r in dedup_embedding_lsh_auto(spark, sf_dir).collect()}
    assert fixed == auto and fixed


def test_emb_lsh_wider_prefix_refines(spark, sf_dir):
    """Planes are index-derived, so a wider prefix REFINES the bucketing:
    the pair set at bits=6 must be a strict-or-equal subset of bits=4,
    and every surviving pair's cos_sim must be unchanged (the blocking
    key never touches the verify arithmetic)."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _emb_lsh_pairs_body,
    )

    p4 = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in _emb_lsh_pairs_body(spark, sf_dir, 4).collect()
    }
    p6 = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in _emb_lsh_pairs_body(spark, sf_dir, 6).collect()
    }
    assert set(p6) <= set(p4) and p6
    assert all(p4[k] == v for k, v in p6.items())


def test_emb_lsh_auto_bits_rule_points():
    """The auto key shares the graph family's proven sizing rule: the
    fixture clamps to 4, the sf2.5 stress scale derives 9."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _BLOCK_BITS,
        _grb_auto_bits,
    )

    assert _grb_auto_bits(500) == _BLOCK_BITS == 4
    assert _grb_auto_bits(50_000) == 9
