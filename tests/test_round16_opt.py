"""Round-16 OPTIMIZATION-pass law tests.

The optimization round changes HOW hot bodies compute, never WHAT they
compute; these laws are the equivalence proofs:

- Graph-ANN walk (distance-carrying edges): the r16 walk — probe
  distances computed ONCE (`_gr_probe_dists`), attached to the pinned
  edge tables, hops = union→distinct→top-beam with no node join / probe
  crossJoin / per-row fold — must return exactly the r15 walk's top-k.
  The r15 form is reconstructed here as the law twin (per-hop
  frontier ⋈ nodes ⋈ probe scoring over pd-less edges).
- The attached pd on every fused edge equals the `_il2` distance
  recomputed directly from the dst node's quantized vector and the
  probe (the attach join maps the right value to the right endpoint).
- The triu pair kernel (emit i<j once + JVM mirror) is covered by the
  existing round-15 law `test_grb_scored_pairs_arrow_equals_join`,
  which compares the full ordered pair set against the join twin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

FIXTURES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _blocked_build(spark, fixture):
    """nodes/probe/scored exactly as `_gr_blocked` builds them (default
    fixture-tuned tables)."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, fixture, "embeddings")
    nodes = S._gr_nodes(e.filter(F.col("vec_id") != S._PROBE_ID)).localCheckpoint()
    probe = (
        e.filter(F.col("vec_id") == S._PROBE_ID)
        .select(
            F.transform(
                S.as_double("embedding"),
                lambda x: F.round(x * S._CENT_SCALE).cast("long"),
            ).alias("pq")
        )
        .localCheckpoint()
    )
    scored = S._grb_scored_pairs_arrow(nodes).localCheckpoint()
    return S, nodes, probe, scored


def _r15_walk(S, nodes, probe, edges_plain):
    """The round-15 walk form, kept verbatim as the law twin: per-hop
    frontier ⋈ edges, union, distinct, re-join the node table for qe,
    crossJoin the broadcast probe, interpreted `_il2` fold, top-beam;
    final 2-hop rerank re-joins nodes + probe the same way."""
    cur = nodes.orderBy(F.desc("lvl"), "vec_id").limit(1).select("vec_id")
    for l in S._GR_LEVELS:
        for _ in range(S._GR_HOPS):
            e = edges_plain[l]
            nb = cur.join(e, cur["vec_id"] == e["src"]).select(
                F.col("dst").alias("vec_id")
            )
            frontier = cur.select("vec_id").union(nb).distinct()
            scored = (
                frontier.join(nodes, "vec_id")
                .crossJoin(F.broadcast(probe))
                .select(
                    "vec_id", S._il2(F.col("qe"), F.col("pq")).alias("d")
                )
            )
            cur = (
                scored.orderBy("d", "vec_id")
                .limit(S._GR_BEAM)
                .select("vec_id")
                .localCheckpoint()
            )
    e0 = edges_plain[0]
    hop1 = cur.join(e0, cur["vec_id"] == e0["src"]).select(
        F.col("dst").alias("vec_id")
    )
    ea, eb = e0.alias("ea"), e0.alias("eb")
    hop2 = (
        cur.join(ea, cur["vec_id"] == F.col("ea.src"))
        .join(eb, F.col("ea.dst") == F.col("eb.src"))
        .select(F.col("eb.dst").alias("vec_id"))
    )
    cand = cur.select("vec_id").union(hop1).union(hop2).distinct()
    return (
        cand.join(nodes.select("vec_id", "qe"), "vec_id")
        .crossJoin(F.broadcast(probe))
        .select("vec_id", S._il2(F.col("qe"), F.col("pq")).alias("idist"))
        .orderBy("idist", "vec_id")
        .limit(S._TOPK)
    )


@pytest.mark.parametrize("fixture", FIXTURES)
def test_gr_walk_dcarry_equals_r15_form(spark, fixture):
    """The distance-carrying walk must return the r15 walk's top-k rows
    in order — same ids, same exact int64 distances. This is the law
    that lets the blocked/wide/auto graph-ANN oracles (which replay the
    hop-by-hop trajectory) call the walk restructure exact."""
    S, nodes, probe, scored = _blocked_build(spark, fixture)
    nd = S._gr_probe_dists(nodes, probe)
    edges = S._grb_edges_all(scored, nd)
    new = [
        (r.vec_id, r.idist) for r in S._gr_search(nd, edges).collect()
    ]
    edges_plain = {
        l: edges[l].select("src", "dst").localCheckpoint()
        for l in S._GR_LEVELS
    }
    old = [
        (r.vec_id, r.idist)
        for r in _r15_walk(S, nodes, probe, edges_plain).collect()
    ]
    assert new, "fixture admits no walk result — law would be vacuous"
    assert new == old


@pytest.mark.parametrize("fixture", FIXTURES)
def test_gr_edges_pd_equals_recomputed_distance(spark, fixture):
    """Every fused edge's attached pd must equal the `_il2` probe
    distance recomputed directly from the dst node's quantized vector —
    the attach join maps the right distance to the right endpoint."""
    S, nodes, probe, scored = _blocked_build(spark, fixture)
    nd = S._gr_probe_dists(nodes, probe)
    edges = S._grb_edges_all(scored, nd)
    truth = {
        r.vec_id: r.pd
        for r in nodes.crossJoin(F.broadcast(probe))
        .select(
            "vec_id", S._il2(F.col("qe"), F.col("pq")).alias("pd")
        )
        .collect()
    }
    checked = 0
    for l in S._GR_LEVELS:
        for r in edges[l].collect():
            assert truth[r.dst] == r.pd, (l, r.src, r.dst, r.pd)
            checked += 1
    assert checked, "fixture admits no edges — law would be vacuous"


def test_grb_pair_kernel_occupancy_cap_raises(spark, sf_dir, monkeypatch):
    """An over-cap bucket fails the registered blocked graph-ANN query
    with the knob-naming cap message. The guard is a ValueError, not an
    assert, so it also holds under ``python -O``."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    assert S._GRB_OCC_CAP == 16384
    # the pair kernel is pickled by value, so the patched cap reaches the
    # Python workers; any bucket of two or more rows is now over the cap
    monkeypatch.setattr(S, "_GRB_OCC_CAP", 1)
    with pytest.raises(Exception, match="exceeds the pair-kernel cap 1;"):
        S.QUERIES["sim_ann_graph_topk_blocked"](spark, sf_dir).collect()
