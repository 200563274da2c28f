"""Round-15 OPTIMIZATION-pass law tests.

The optimization round changes HOW three hot bodies compute, never WHAT
they compute; these laws are the equivalence proofs:

- SemDeDup within-cell pair pass: the Arrow per-cell matmul kernel
  (`_sd_pairs_arrow`) ≡ the interpreted self-join fold it replaced
  (`_sd_pairs_fold`) on every (cell, id_a, id_b, cs_a, cs_b, cos_sim)
  row at BOTH graded fixtures — the `_km_assign_arrow` discipline
  applied to the pair stage.
- Graph-ANN edge build: the fused single-window `_grb_edges_all` (one
  tagged window + one pin for ALL walk levels) ≡ the per-level
  `_grb_edges` it replaced, edge set for edge set, on the full blocked
  build at the graded fixture. (The literal-beam walk rewrite was
  measured, REJECTED — Janino codegen cache misses on every hop — and
  reverted; `_gr_search` docstring carries the numbers, so no walk twin
  is needed here.)
- Graph-ANN candidate stage (second optimization session): the
  per-bucket Arrow pair kernel (`_grb_scored_pairs_arrow`) ≡ the
  bucket-join + vector-rejoin + pandas-UDF form it replaced
  (`_grb_scored_pairs`) on every (src, dst, src_lvl, dst_lvl, d) row at
  BOTH graded fixtures.
- The embedding-LSH broadcast regime keeps its broadcast join after the
  round-robin scan spread (the repartition must parallelize the scan,
  not displace the join strategy the round-14 measurements picked).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

FIXTURES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _sd_base(spark, fixture):
    """The pinned (vec_id, cell, de, cs_cent) base exactly as `_sd_body`
    builds it (train chain included), exposed for the pair-pass law."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, fixture, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    n = e.count()
    k = S._sd_auto_k(n)
    stride = S._km_auto_stride(n, k)
    e_q = S._km_quantized(e)
    cents = e_q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("qe").alias("cq")
    )
    train = e_q if stride <= 1 else e_q.filter(
        F.col("vec_id") % stride == 0
    ).localCheckpoint(eager=True)
    for _ in range(S._KM_ITERS):
        cents = S._km_update(
            S._km_assign_arrow(train, cents), train
        ).localCheckpoint(eager=True)
    assign = S._km_assign_arrow(e_q, cents)
    cd = F.transform("cq", lambda q: q.cast("double") / S._CENT_SCALE)
    return (
        assign.alias("a")
        .join(e_q.alias("v"), F.col("a.vec_id") == F.col("v.vec_id"))
        .join(F.broadcast(cents.select("cell", cd.alias("cd"))), "cell")
        .select(
            F.col("a.vec_id").alias("vec_id"),
            "cell",
            F.col("v.de").alias("de"),
            F.round(S.cosine(F.col("v.de"), F.col("cd")), 6).alias("cs_cent"),
        )
        .localCheckpoint(eager=True)
    )


@pytest.mark.parametrize("fixture", FIXTURES)
def test_sd_pairs_arrow_equals_fold(spark, fixture):
    """Row-identical pair sets: the Arrow matmul pair kernel must emit
    exactly the fold's rows — same orientation (id_a < id_b), same
    carried cs_cent endpoints, same 6dp-rounded cosine — at both graded
    fixtures. This is the law that lets `_sd_body` (and through it the
    semdedup report, recall eval and curation report oracles) call the
    swap exact."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    base = _sd_base(spark, fixture)

    def rows(df):
        return sorted(
            (r.cell, r.id_a, r.id_b, r.cs_a, r.cs_b, r.cos_sim)
            for r in df.collect()
        )

    fold = rows(S._sd_pairs_fold(base))
    arrow = rows(S._sd_pairs_arrow(base))
    assert fold, "fixture admits no within-cell pairs — law would be vacuous"
    assert fold == arrow


@pytest.mark.parametrize("fixture", FIXTURES)
def test_grb_edges_all_equals_per_level(spark, fixture):
    """The fused single-window edge build must emit, at every walk level,
    exactly the per-level `_grb_edges` edge set (same (src, dst) rows —
    the rank-and-keep-M rule partitioned by (walk_lvl, src) must reduce
    to the per-level rule partitioned by src). This is the law that lets
    `_gr_blocked` (and through it the blocked/wide/auto graph-ANN
    oracles) call the 3-pins→1-pin swap exact."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, fixture, "embeddings")
    nodes = S._gr_nodes(e.filter(F.col("vec_id") != S._PROBE_ID)).localCheckpoint()
    scored = S._grb_scored_pairs(nodes).localCheckpoint()

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
    fused = S._grb_edges_all(scored, S._gr_probe_dists(nodes, probe))
    any_nonempty = False
    for l in S._GR_LEVELS:
        per_level = sorted(
            (r.src, r.dst) for r in S._grb_edges(nodes, l, scored).collect()
        )
        got = sorted((r.src, r.dst) for r in fused[l].collect())
        assert got == per_level, f"level {l} edge sets differ"
        any_nonempty = any_nonempty or bool(per_level)
    assert any_nonempty, "fixture admits no edges — law would be vacuous"


@pytest.mark.parametrize("fixture", FIXTURES)
def test_grb_scored_pairs_arrow_equals_join(spark, fixture):
    """Row-set-identical scored candidate sets: the per-bucket Arrow pair
    kernel (`_grb_scored_pairs_arrow` — the engine path since the r15
    optimization pass) must emit exactly the join form's rows — same
    ordered (src, dst) orientation, same carried levels, same exact int64
    squared-L2 — at both graded fixtures. This is the law that lets
    `_gr_blocked` (and through it the blocked/wide/auto graph-ANN
    oracles) call the candidate-stage swap exact; it also proves the
    float64-BLAS norm-expansion arithmetic agrees with the join form's
    int64 fold on every pair (all intermediates are integers < 2^53)."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, fixture, "embeddings")
    nodes = S._gr_nodes(e.filter(F.col("vec_id") != S._PROBE_ID)).localCheckpoint()

    def rows(df):
        return sorted(
            (r.src, r.dst, r.src_lvl, r.dst_lvl, r.d) for r in df.collect()
        )

    join_form = rows(S._grb_scored_pairs(nodes))
    arrow = rows(S._grb_scored_pairs_arrow(nodes))
    assert join_form, "fixture admits no candidate pairs — law would be vacuous"
    assert join_form == arrow


def test_grb_scored_pairs_arrow_plan_shape(spark, sf_dir):
    """The Arrow candidate stage must plan as per-bucket
    FlatMapGroupsInPandas feeding one distinct — with NO join anywhere
    (the two shuffle_hash vector re-joins and the ArrowEvalPython
    per-pair scorer are exactly what the rewrite removed)."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S
    from dataflow_pubsub_message_encryption_spark.plans import formatted_plan
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, sf_dir, "embeddings")
    nodes = S._gr_nodes(e.filter(F.col("vec_id") != S._PROBE_ID)).localCheckpoint()
    plan = formatted_plan(S._grb_scored_pairs_arrow(nodes))
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan
    # the pair kernel runs once per LSH table: the mirror reads its output
    # once (a union with a swapped copy would plan the kernel twice)
    kernels = re.findall(r"^\(\d+\) FlatMapGroupsInPandas", plan, re.MULTILINE)
    assert len(kernels) == len(S._GRB_TABLES), plan


@pytest.mark.parametrize("fixture", FIXTURES)
def test_global_adjacent_pairs_equals_rank_join(spark, fixture):
    """The rank-free adjacency (`_global_adjacent_pairs`: lead() inside
    the ranking window + bounded boundary stitching) must emit exactly
    the pair set of the `_global_rank` → rk ↔ rk+1 self-join idiom it
    replaced in the suffix-array family — every (left row, right row)
    pair, on the exact sfx frame dedup_span_suffix_array builds. This is
    the law that lets the suffix keys' oracle rows re-prove the swap."""
    from dataflow_pubsub_message_encryption_spark.operators.dedup import (
        _SFX_CAP,
        _parallel,
    )
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        _global_adjacent_pairs,
        _global_rank,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    docs = _parallel(spark, load(spark, fixture, "documents"))
    sfx = docs.select(
        "doc_id",
        "text",
        F.explode(F.expr("sequence(1, length(text))")).alias("pos"),
    ).select(
        "doc_id", "pos", F.expr(f"substr(text, pos, {_SFX_CAP})").alias("suf")
    )
    order = ("suf", "doc_id", "pos")
    ranked, _ = _global_rank(sfx, *order)
    a = ranked.select(
        F.col("doc_id").alias("d_l"), F.col("pos").alias("p_l"), "rk"
    )
    b = ranked.select(
        F.col("doc_id").alias("d_r"),
        F.col("pos").alias("p_r"),
        (F.col("rk") - 1).alias("rk"),
    )
    old = sorted(
        (r.d_l, r.p_l, r.d_r, r.p_r)
        for r in a.join(b.hint("merge"), "rk").collect()
    )
    new = sorted(
        (r.doc_id_l, r.pos_l, r.doc_id_r, r.pos_r)
        for r in _global_adjacent_pairs(sfx, order, ("doc_id", "pos")).collect()
    )
    assert old, "fixture admits no adjacent pairs — law would be vacuous"
    assert old == new


@pytest.mark.parametrize("fixture", FIXTURES)
def test_km_train_local_equals_distributed(spark, fixture):
    """The driver-local sampled-Lloyd train (`_km_train`, stride > 1 —
    the engine path since the r15 optimization's second session) must
    produce the BIT-IDENTICAL centroid table of the distributed
    assign/update/pin loop it replaced, for BOTH sizing rules (the IVF
    √n rule and the SemDeDup occupancy rule), at both graded fixtures.
    This is the law that lets every stride-sampled consumer (sampled
    IVF, batch serve, SemDeDup report/recall/curation) keep its
    unrolled-trajectory oracle unchanged."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, fixture, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    n = e.count()
    e_q = S._km_quantized(e)
    for k in (S._km_auto_k(n), S._sd_auto_k(n)):
        stride = S._km_auto_stride(n, k)
        assert stride > 1, "fixture fell into the full-train regime — law vacuous"
        # the distributed loop, verbatim as shipped before the swap
        cents = e_q.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cell"), F.col("qe").alias("cq")
        )
        train = e_q.filter(F.col("vec_id") % stride == 0).localCheckpoint(
            eager=True
        )
        for _ in range(S._KM_ITERS):
            cents = S._km_update(
                S._km_assign_arrow(train, cents), train
            ).localCheckpoint(eager=True)
        dist = sorted((r.cell, tuple(r.cq)) for r in cents.collect())
        local = sorted(
            (r.cell, tuple(r.cq))
            for r in S._km_train(
                spark, e_q, S._km_vecid_seeds(e_q, k), stride
            ).collect()
        )
        assert dist, "no centroids trained — law would be vacuous"
        assert dist == local, f"centroids differ at k={k} stride={stride}"


def _pq_tied_vectors(spark):
    """Synthetic quantized vectors whose subvectors sit at equal distance
    from two codewords. Codeword k (vec_id k < _PQ_K) is the constant
    10·k; each later vector is built from per-subspace constants, where
    10·k + 5 ties codewords k and k + 1, and 10·k is an exact match."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    rows = [(k, [10 * k] * 64) for k in range(S._PQ_K)]
    subspace_values = [
        (5, 15, 25, 35),
        (45, 55, 65, 5),
        (5, 30, 65, 3),
        (70, 0, 15, 45),
    ]
    for i, vals in enumerate(subspace_values):
        rows.append(
            (S._PQ_K + i, [v for v in vals for _ in range(S._PQ_SUB)])
        )
    return spark.createDataFrame(rows, "vec_id long, qe array<long>")


@pytest.mark.parametrize(
    "fixture,residual",
    [pytest.param(f, True, id=f) for f in FIXTURES]
    + [pytest.param(f, False, id=f"plain:{f}") for f in FIXTURES]
    + [pytest.param(None, False, id="planted-ties")],
)
def test_pq_assign_min_by_equals_window(spark, fixture, residual):
    """The PQ codeword assignment's min_by reduction (`_pq_assign`, the
    one assign every PQ key runs) must pick, for every (vec_id, m)
    subvector, exactly the codeword a row_number window picks — same
    (dist, k) ordering, k unique within a group. Runs the engine's own
    `_pq_subvectors` and `_pq_assign` on both inputs they serve: the
    IVF residuals keyed (vec_id, cell) of sim_ivf_pq_topk, and the plain
    quantized vectors keyed vec_id of sim_pq_adc_topk and
    emb_pq_code_balance; compares both assign forms row for row at both
    graded fixtures. Neither fixture has a subvector equidistant from
    two codewords, so a third input plants such ties: it pins the
    tie-break to the lower k."""
    from pyspark.sql import Window

    from dataflow_pubsub_message_encryption_spark.operators import similarity as S
    from dataflow_pubsub_message_encryption_spark.sources import load

    if fixture is None:
        e_q = _pq_tied_vectors(spark)
    else:
        e_q = (
            load(spark, fixture, "embeddings")
            .select(
                "vec_id",
                "label",
                S._quantize(S.as_double("embedding")).alias("qe"),
            )
            .localCheckpoint(eager=True)
        )
    if residual:
        cint = (
            e_q.select("label", F.posexplode("qe").alias("pos", "q"))
            .groupBy("label", "pos")
            .agg(
                F.floor(F.sum("q").cast("double") / F.count("*"))
                .cast("long")
                .alias("cq")
            )
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cq"))).alias("p"))
            .select(
                F.col("label").alias("cell"),
                F.transform("p", lambda s: s.getField("cq")).alias("cq"),
            )
        )
        res = e_q.join(F.broadcast(cint), e_q.label == cint.cell).select(
            "vec_id",
            "cell",
            F.zip_with("qe", "cq", lambda a, b: a - b).alias("re"),
        )
        keys = ["vec_id", "cell"]
        subs = S._pq_subvectors(res, "re", keys)
    else:
        keys = ["vec_id"]
        subs = S._pq_subvectors(e_q, "qe", keys)

    cb0 = subs.filter(F.col("vec_id") < S._PQ_K).select(
        "m", F.col("vec_id").alias("k"), F.col("sv").alias("cw")
    )
    scored = subs.join(F.broadcast(cb0), "m").select(
        *keys, "m", "k", S._il2(F.col("sv"), F.col("cw")).alias("dist")
    )
    w = Window.partitionBy("vec_id", "m").orderBy("dist", "k")
    window_form = sorted(
        tuple(r)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*keys, "m", "k")
        .collect()
    )
    min_by_form = sorted(
        tuple(r) for r in S._pq_assign(subs, cb0, keys).collect()
    )
    assert window_form, "fixture admits no PQ assignments — law vacuous"
    assert window_form == min_by_form


def test_emb_lsh_broadcast_regime_still_broadcasts(spark, sf_dir):
    """The round-15 scan-spread repartition in the LSH broadcast regime
    must not displace the measured-best join strategy: the bucket
    self-join still plans as a BroadcastHashJoin (no bucket exchange),
    with the repartition living BELOW the scan-side projections."""
    from dataflow_pubsub_message_encryption_spark.operators import registry
    from dataflow_pubsub_message_encryption_spark.plans import formatted_plan

    queries, _ = registry()
    plan = formatted_plan(queries["dedup_embedding_lsh"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "REPARTITION_BY_COL" not in plan


@pytest.mark.parametrize("fixture", FIXTURES)
def test_dsir_weights_fused_census_equals_split(spark, fixture):
    """The fused one-pass DSIR census (engine path since the r15
    optimization's close-out session) must produce the BIT-IDENTICAL
    per-document weights table of the split three-aggregate form it
    replaced (raw per-bucket census + filtered target census + global
    count/count_if totals, each a separate token-grain pass).
    Reconstructs the split form verbatim and compares
    (doc_id, source, dsir_logweight) row for row at both graded
    fixtures — exact integer census counts feed the same float lr
    expression, so equality is exact, not approximate."""
    from dataflow_pubsub_message_encryption_spark.operators import (
        curation as C,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    target = C._DSIR_TARGET_SRC
    is_target = F.col("source") == target
    docs = load(spark, fixture, "documents")
    bk = docs.select(
        "doc_id", "source", F.explode(C.tokens("text")).alias("t")
    ).select(
        "doc_id",
        "source",
        F.substring(F.sha2(F.col("t"), 256), 1, 2).alias("b"),
    )
    # the split form, verbatim as shipped before the fuse
    raw = bk.groupBy("b").agg(F.count("*").alias("nr"))
    tgt = bk.filter(is_target).groupBy("b").agg(F.count("*").alias("nt"))
    tot = bk.agg(
        F.count("*").alias("tr"), F.count_if(is_target).alias("tt")
    )
    nb = F.lit(float(C._DSIR_BUCKETS))
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.coalesce("nt", F.lit(0)) + 1) / (F.col("tt") + nb))
                - F.log((F.col("nr") + 1) / (F.col("tr") + nb))
            ).alias("lr"),
        )
    )
    db = bk.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    w = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("c") * F.col("lr")), 6).alias(
                "dsir_logweight"
            )
        )
    )
    split = sorted(
        (r.doc_id, r.source, r.dsir_logweight)
        for r in w.join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "dsir_logweight")
        .collect()
    )
    fused = sorted(
        (r.doc_id, r.source, r.dsir_logweight)
        for r in C._dsir_weights(spark, fixture, target).collect()
    )
    assert split, "fixture yields no DSIR weights — law vacuous"
    assert split == fused


@pytest.mark.parametrize("fixture", FIXTURES)
def test_heldout_nv_from_uc_equals_direct(spark, fixture):
    """The held-out perplexity's (N_tr, V_tr) scalars (engine path since
    the r15 optimization's close-out session: derived from the unigram
    count table) must equal the direct count/count_distinct over the
    exploded training tokens they replaced — N == sum of per-term
    counts, V == the count table's row count, at both graded fixtures."""
    from dataflow_pubsub_message_encryption_spark.functions.textfns import (
        tokens,
    )
    from dataflow_pubsub_message_encryption_spark.operators.sampling import (
        _KFOLD,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    docs = load(spark, fixture, "documents")
    nib = lambda i: (  # noqa: E731 — mirrors the engine body
        F.instr(
            F.lit("0123456789abcdef"), F.substring(F.sha2("text", 256), i, 1)
        )
        - 1
    )
    fold = ((nib(1) * 16 + nib(2)) % _KFOLD).cast("int")
    trtok = (
        docs.select("text", fold.alias("fold"))
        .filter(F.col("fold") != 0)
        .select(F.explode(tokens("text")).alias("term"))
    )
    uc = trtok.groupBy("term").agg(F.count("*").alias("ucnt"))
    direct = trtok.agg(
        F.count("*").alias("n"), F.count_distinct("term").alias("v")
    ).collect()[0]
    derived = uc.agg(
        F.sum("ucnt").alias("n"), F.count("*").alias("v")
    ).collect()[0]
    assert direct.n > 0, "fixture has no training tokens — law vacuous"
    assert (direct.n, direct.v) == (derived.n, derived.v)


@pytest.mark.parametrize("fixture", FIXTURES)
def test_tfidf_nd_df_from_tf_equals_direct(spark, fixture):
    """The TF-IDF keyword extractor's census scalars (engine path since
    the r15 optimization's close-out session: derived from the (doc,
    term) frequency table) must equal the direct distinct aggregates
    over the exploded token stream they replaced — nd == distinct docs
    in tf, and per-term df == tf's row count per term (tf rows are
    unique per (doc_id, term)), at both graded fixtures."""
    from dataflow_pubsub_message_encryption_spark.functions.textfns import (
        tokens,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    d = load(spark, fixture, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = d.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    nd_direct = d.agg(F.count_distinct("doc_id").alias("nd")).collect()[0].nd
    nd_derived = (
        tf.agg(F.count_distinct("doc_id").alias("nd")).collect()[0].nd
    )
    assert nd_direct > 0, "fixture has no tokens — law vacuous"
    assert nd_direct == nd_derived
    df_direct = sorted(
        (r.term, r.df)
        for r in d.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .collect()
    )
    df_derived = sorted(
        (r.term, r.df)
        for r in tf.groupBy("term").agg(F.count("*").alias("df")).collect()
    )
    assert df_direct == df_derived


# --- session-6 optimization laws -------------------------------------


@pytest.mark.parametrize("fixture", FIXTURES)
def test_rfm_threaded_scores_equal_sequential(spark, fixture):
    """q17's three quintile passes are now submitted from a 3-thread
    pool (guide §2.6 — the eager rank jobs overlap instead of
    serializing); the law re-composes the SAME score() machinery
    sequentially and asserts row-identical output at both graded
    fixtures, plus run-to-run determinism of the threaded form (the
    overlap must not introduce scheduling-order sensitivity)."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES,
        _global_rank,
        _ntile_from_rank,
        dec4,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    threaded = sorted(
        map(tuple, QUERIES["rfm_segmentation_scalable"](spark, fixture).collect())
    )
    threaded2 = sorted(
        map(tuple, QUERIES["rfm_segmentation_scalable"](spark, fixture).collect())
    )
    assert threaded == threaded2  # deterministic under the thread pool

    per_cust = (
        load(spark, fixture, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(dec4("o_totalprice")).alias("monetary"),
        )
        .localCheckpoint()
    )

    def score(order_col, name):
        ranked, n = _global_rank(
            per_cust.select("o_custkey", order_col.alias("_k")),
            F.desc("_k"),
            F.col("o_custkey"),
        )
        return ranked.select(
            "o_custkey", _ntile_from_rank(F.col("rk"), n, 5).alias(name)
        )

    seq = (
        per_cust.select("o_custkey")
        .join(score(F.col("last_order"), "r_score"), "o_custkey")
        .join(score(F.col("frequency"), "f_score"), "o_custkey")
        .join(score(F.col("monetary"), "m_score"), "o_custkey")
    )
    seq_scores = sorted(map(tuple, seq.collect()))
    got_scores = sorted((t[0], t[3], t[4], t[5]) for t in threaded)
    assert seq_scores == got_scores


@pytest.mark.parametrize("fixture", FIXTURES)
def test_cc_labels_cover_every_pair_endpoint(spark, fixture):
    """Regression guard for the unpinned `nodes` table (round-15 opt:
    the once-consumed pin was dropped): `nodes` must keep reading the
    INITIAL edge set — if a later edit accidentally rebuilt it from the
    loop's contracted final iterate, documents whose component collapsed
    to a star interior would vanish from the labels. The law: q12's
    doc_id set == the exact endpoint set of the verified duplicate
    pairs, and every cluster_id is a member doc (the component min)."""
    from dataflow_pubsub_message_encryption_spark.operators.dedup import (
        QUERIES as DQ,
    )
    from dataflow_pubsub_message_encryption_spark.operators.graph import (
        QUERIES as GQ,
    )

    pairs = DQ["dedup_minhash_lsh_pairs"](spark, fixture).select(
        "doc_a", "doc_b"
    )
    endpoints = {
        r.d
        for r in pairs.select(F.col("doc_a").alias("d"))
        .union(pairs.select("doc_b"))
        .distinct()
        .collect()
    }
    out = GQ["dedup_cluster_components"](spark, fixture).collect()
    got_docs = {r.doc_id for r in out}
    assert got_docs == endpoints
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    for cid, members in by_cluster.items():
        assert cid == min(members)  # canonical id is the member minimum
