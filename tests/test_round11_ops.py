"""Round-11 tests (VERDICT r10 item 1): the auto-derived graph-ANN
table width and the auto-sized IVF k-means."""

from __future__ import annotations


# --- VERDICT r10 item 1: auto-derived graph-ANN table width ------------------


def test_grb_auto_bits_rule():
    """The width rule bits = clamp(ceil(log2(n/160)), 4, 16) reproduces
    every measured calibration point: fixture n (clamp floor 4 == the
    registered blocked key), the sf1 slope point (7 == the registered
    wide key), and the sf2.5 stress point (9 — the width a direct run
    measured 1.7x faster than the under-width 7, BASELINE.md r10)."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _grb_auto_bits,
    )

    assert _grb_auto_bits(499) == 4  # both graded fixtures (sf0.001/sf0.01)
    assert _grb_auto_bits(1999) == 4  # sf0.1 bench fixture: still floored
    assert _grb_auto_bits(19999) == 7  # sf1 slope point -> the wide key
    assert _grb_auto_bits(49999) == 9  # sf2.5 stress point (measured win)
    assert _grb_auto_bits(1) == 4  # degenerate corpus: clamp floor holds
    assert _grb_auto_bits(10**12) == 16  # plane-count ceiling
    # monotone non-decreasing in n (a width knob must never shrink with
    # more data): spot the decade ladder
    widths = [_grb_auto_bits(10**k) for k in range(1, 13)]
    assert widths == sorted(widths)


def test_graph_ann_auto_equals_fixed_keys_where_rule_lands(spark, sf_dir):
    """THE law of VERDICT r10 item 1: auto(n) is the SAME query as the
    registered fixed-width keys wherever the rule lands on their widths —
    row-for-row at bits=4 (the counted fixture n) and bits=7 (the sf1
    slope n, injected via n_override so the law is checkable on the
    graded fixture). The fixed keys stay the driver proofs; this law
    transfers them to the auto form."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        QUERIES as SQ,
        sim_ann_graph_topk_blocked_auto,
    )

    base = [
        tuple(r)
        for r in SQ["sim_ann_graph_topk_blocked"](spark, sf_dir).collect()
    ]
    wide = [
        tuple(r)
        for r in SQ["sim_ann_graph_topk_blocked_wide"](spark, sf_dir).collect()
    ]
    got4 = [
        tuple(r)
        for r in SQ["sim_ann_graph_topk_blocked_auto"](spark, sf_dir).collect()
    ]
    got7 = [
        tuple(r)
        for r in sim_ann_graph_topk_blocked_auto(
            spark, sf_dir, n_override=19999
        ).collect()
    ]
    assert got4 == base, "counted fixture n must derive bits=4 == blocked"
    assert got7 == wide, "n at the sf1 slope point must derive bits=7 == wide"


def test_km_auto_sizing_rule():
    """The IVF sizing rule k = clamp(round(√n), 4, 4096), nprobe =
    max(1, round(√k)): fixture n=500 derives k=22/nprobe=5 (the values
    the registered oracle unrolls its Lloyd chain at), the √-ladder is
    monotone, and both clamps hold."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _km_auto_k,
        _km_auto_nprobe,
    )

    assert _km_auto_k(500) == 22 and _km_auto_nprobe(22) == 5  # fixtures
    assert _km_auto_k(2000) == 45 and _km_auto_nprobe(45) == 7  # sf0.1
    assert _km_auto_k(1) == 4  # floor: a degenerate corpus still trains
    assert _km_auto_k(10**9) == 4096  # ceiling: broadcastable centroids
    assert _km_auto_nprobe(1) == 1
    ks = [_km_auto_k(10**i) for i in range(1, 10)]
    assert ks == sorted(ks)


def test_kmeans_ivf_auto_equals_explicit_body(spark, sf_dir):
    """The registered auto key IS the shared body at the derived (k=22,
    nprobe=5) row-for-row, and the body at a different derived point
    (n_override -> k=45, nprobe=7) still serves a full exact-ranked
    top-k — the law that the derivation, not a hidden constant, drives
    the build."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        QUERIES as SQ,
        _km_ivf_auto_body,
        sim_ann_kmeans_ivf_topk_auto,
    )

    auto = [
        tuple(r)
        for r in SQ["sim_ann_kmeans_ivf_topk_auto"](spark, sf_dir).collect()
    ]
    body = [
        tuple(r) for r in _km_ivf_auto_body(spark, sf_dir, 22, 5).collect()
    ]
    assert auto == body and len(auto) == 10
    wider = sim_ann_kmeans_ivf_topk_auto(
        spark, sf_dir, n_override=2000
    ).collect()
    assert len(wider) == 10
    assert all(0 <= r.cell < 45 for r in wider), "cells must be the derived k"
    sims = [r.cos_sim for r in wider]
    assert sims == sorted(sims, reverse=True)
