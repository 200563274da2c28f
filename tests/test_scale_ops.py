"""Scale-pattern operator tests: salted == unsalted law, z-curve locality,
grouped-map referee, interpolation laws, MAD referee — plus plan
assertions that the mitigations actually take the intended physical shape
(broadcast dim replicate, no Python in the bit-arithmetic path)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dataflow_pubsub_message_encryption_spark.operators.behavior import (
    QUERIES as BEHAVIOR_QUERIES,
)
from dataflow_pubsub_message_encryption_spark.operators.scale import (
    QUERIES as SCALE_QUERIES,
)
from dataflow_pubsub_message_encryption_spark.operators.text import (
    QUERIES as TEXT_QUERIES,
)
from dataflow_pubsub_message_encryption_spark.sources import load, load_events


def test_salted_equals_unsalted(spark, sf_dir):
    """The salting must be invisible in the result: same rows as the
    naive one-stage aggregation."""
    got = {
        (r.category, r.event_type): (r.n_events, r.total_value)
        for r in SCALE_QUERIES["join_skew_salted"](spark, sf_dir).collect()
    }
    naive = (
        load_events(spark, sf_dir)
        .groupBy(
            F.substring("event_type", 1, 1).alias("category"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("tv"),
        )
        .collect()
    )
    assert got == {(r.category, r.event_type): (r.n, r.tv) for r in naive}


def test_salted_join_broadcasts_dim(spark, sf_dir):
    plan = SCALE_QUERIES["join_skew_salted"](
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_zorder_locality_beats_linear(spark, sf_dir):
    """The point of the z-curve: rows within one z-bucket span at most
    1/16 of the curve (z_max - z_min <= 15), i.e. both dimensions are
    simultaneously bounded — a linear (user-only or hour-only) sort
    cannot bound the other dimension."""
    rows = SCALE_QUERIES["zorder_cluster"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 16
    for r in rows:
        assert r.z_bucket == r.z_min >> 4 == r.z_max >> 4
        assert 0 <= r.z_max - r.z_min <= 15


def test_zorder_is_pure_jvm(spark, sf_dir):
    plan = SCALE_QUERIES["zorder_cluster"](
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_grouped_map_scale_referee(spark, sf_dir):
    docs = {
        r.doc_id: (r.lang, r.n_chars)
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .collect()
    }
    lo: dict[str, int] = {}
    hi: dict[str, int] = {}
    for lang, n in docs.values():
        lo[lang] = min(lo.get(lang, n), n)
        hi[lang] = max(hi.get(lang, n), n)
    got = SCALE_QUERIES["grouped_map_scale"](spark, sf_dir).collect()
    assert len(got) == len(docs)
    for r in got:
        lang, n = docs[r.doc_id]
        rng = hi[lang] - lo[lang]
        want = 0.0 if rng == 0 else (n - lo[lang]) / rng
        assert r.lang == lang
        assert math.isclose(r.scaled, round(want, 6), abs_tol=1e-9)
        assert 0.0 <= r.scaled <= 1.0


def test_vocab_ids_are_contiguous_and_ranked(spark, sf_dir):
    rows = sorted(
        TEXT_QUERIES["text_vocab_build"](spark, sf_dir).collect(),
        key=lambda r: r.token_id,
    )
    assert [r.token_id for r in rows] == list(range(1, len(rows) + 1))
    # ranked by count desc, token asc
    for a, b in zip(rows, rows[1:]):
        assert (-a.cnt, a.token) < (-b.cnt, b.token)


def test_bigram_counts_referee(spark, sf_dir):
    from collections import Counter

    c: Counter = Counter()
    for r in load(spark, sf_dir, "documents").select("text").collect():
        t = r.text.split(" ")
        c.update(f"{a} {b}" for a, b in zip(t, t[1:]))
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    got = sorted(
        TEXT_QUERIES["text_bigram_colloc"](spark, sf_dir).collect(),
        key=lambda r: r.rk,
    )
    assert [(r.bigram, r.cnt) for r in got] == want


def test_gapfill_interp_laws(spark, sf_dir):
    rows = sorted(
        BEHAVIOR_QUERIES["window_gapfill_interp"](spark, sf_dir).collect(),
        key=lambda r: r.window_start,
    )
    known = [(i, r.cnt_raw) for i, r in enumerate(rows) if r.cnt_raw >= 0]
    assert known, "fixture must have at least one non-empty hour"
    for i, r in enumerate(rows):
        if r.cnt_raw >= 0:
            assert r.cnt_filled == float(r.cnt_raw)
        else:
            # interpolated values sit within the [prev, next] envelope
            prev = max(((j, v) for j, v in known if j < i), default=None)
            nxt = min(((j, v) for j, v in known if j > i), default=None)
            if prev is None:
                assert r.cnt_filled == float(nxt[1])
            elif nxt is None:
                assert r.cnt_filled == float(prev[1])
            else:
                lo = min(prev[1], nxt[1])
                hi = max(prev[1], nxt[1])
                assert lo <= r.cnt_filled <= hi
                want = prev[1] + (nxt[1] - prev[1]) * (i - prev[0]) / (
                    nxt[0] - prev[0]
                )
                assert math.isclose(r.cnt_filled, round(want, 6), abs_tol=1e-9)


def test_mad_outliers_referee(spark, sf_dir):
    import statistics

    vals: dict[str, list[float]] = {}
    for r in load_events(spark, sf_dir).select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    got = {
        r.event_type: r
        for r in BEHAVIOR_QUERIES["anomaly_mad_outliers"](spark, sf_dir).collect()
    }
    assert set(got) == set(vals)
    for t, xs in vals.items():
        med = statistics.median(xs)
        mad = statistics.median(abs(x - med) for x in xs)
        n_out = sum(1 for x in xs if abs(x - med) > 3 * mad)
        assert math.isclose(got[t].med, round(med, 6), abs_tol=1e-9)
        assert math.isclose(got[t].mad, round(mad, 6), abs_tol=1e-9)
        assert got[t].n_outliers == n_out


def test_sessionize_referee(spark, sf_dir):
    """Python referee over the raw events: same session partitioning."""
    rows = (
        load_events(spark, sf_dir)
        .select("user_id", "ts", "event_id")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id))
    want = {}
    for uid, evs in by_user.items():
        evs.sort()
        idx, start, last, n = 0, None, None, 0
        for ts, _ in evs:
            if last is None or (ts - last).total_seconds() > 1800:
                if start is not None:
                    want[(uid, idx)] = (n, start)
                idx, start, n = idx + 1, ts, 0
            n += 1
            last = ts
        want[(uid, idx)] = (n, start)
    got = BEHAVIOR_QUERIES["sessionize_gap_sql"](spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        n, start = want[(r.user_id, r.session_idx)]
        assert r.n_events == n
        assert r.session_start == start.strftime("%Y-%m-%d %H:%M:%S.%f")
        assert r.duration_us >= 0


def test_histogram_total_and_bounds(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    total = ev.count()
    rows = BEHAVIOR_QUERIES["agg_value_histogram"](spark, sf_dir).collect()
    assert sum(r.n for r in rows) == total
    for r in rows:
        assert r.bucket_lo == r.bucket * 25.0
        assert r.bucket >= 0


def test_market_basket_pairs_canonical_and_supported(spark, sf_dir):
    rows = BEHAVIOR_QUERIES["market_basket_pairs"](spark, sf_dir).collect()
    for r in rows:
        assert r.part_a < r.part_b
        assert r.n_orders >= 2
    # spot referee: recount one pair from raw lineitem
    if rows:
        r0 = max(rows, key=lambda r: r.n_orders)
        li = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        a = li.filter(F.col("l_partkey") == r0.part_a).select("l_orderkey")
        b = li.filter(F.col("l_partkey") == r0.part_b).select("l_orderkey")
        assert a.intersect(b).count() == r0.n_orders


def test_embedding_lsh_dedup_subset_of_brute(spark, sf_dir):
    """Every LSH-blocked pair must appear in the brute-force pair set at
    the same threshold (blocking only PRUNES, never invents), and recall
    must be non-trivial on the fixture."""
    from dataflow_pubsub_message_encryption_spark.functions.vectors import (
        as_double,
        cosine,
    )
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _DEDUP_TAU,
        QUERIES as SIM_QUERIES,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    a, b = e.alias("a"), e.alias("b")
    brute = {
        (r.va, r.vb)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.round(cosine(F.col("a.emb"), F.col("b.emb")), 6).alias("cs"),
        )
        .filter(F.col("cs") >= _DEDUP_TAU)
        .collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in SIM_QUERIES["dedup_embedding_lsh"](spark, sf_dir).collect()
    }
    assert got <= brute
    if brute:
        recall = len(got) / len(brute)
        assert recall > 0.05, f"LSH recall collapsed: {recall}"


def test_multires_rollup_cascade_law(spark, sf_dir):
    """Day rows must equal re-aggregated hour rows (the cascade the day
    grain admits) — single-scan GROUPING SETS can't disagree with itself."""
    rows = BEHAVIOR_QUERIES["window_rollup_multires"](spark, sf_dir).collect()
    hours = [r for r in rows if r.resolution == "hour"]
    days = {(r.window_start[:10], r.event_type): r for r in rows if r.resolution == "day"}
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0.0])
    for r in hours:
        k = (r.window_start[:10], r.event_type)
        agg[k][0] += r.n_events
        agg[k][1] += r.total_value
    assert set(agg) == set(days)
    for k, (n, tv) in agg.items():
        assert days[k].n_events == n
        assert abs(days[k].total_value - tv) < 1e-6


def test_range_binned_equals_naive_theta(spark, sf_dir):
    """The binned rewrite must equal the naive |diff|<=1h theta join."""
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "ts")
    c = ev.filter(F.col("event_type") == "click").selectExpr(
        "event_id c_id", "ts c_ts"
    )
    e = ev.filter(F.col("event_type") == "error").selectExpr("ts e_ts")
    naive = (
        c.join(
            e,
            F.expr(
                "e_ts BETWEEN c_ts - INTERVAL 1 HOUR"
                " AND c_ts + INTERVAL 1 HOUR"
            ),
        )
        .groupBy(F.date_trunc("hour", "c_ts").alias("h"))
        .agg(F.count("*").alias("np"), F.count_distinct("c_id").alias("nc"))
        .collect()
    )
    want = {r.h.strftime("%Y-%m-%d %H:%M:%S.%f"): (r.np, r.nc) for r in naive}
    got = {
        r.click_hour: (r.n_pairs, r.n_clicks)
        for r in SCALE_QUERIES["join_range_binned"](spark, sf_dir).collect()
    }
    assert got == want


def test_rfm_scores_and_segments(spark, sf_dir):
    from dataflow_pubsub_message_encryption_spark.operators.relational import (
        QUERIES as REL_QUERIES,
    )

    rows = REL_QUERIES["rfm_segmentation"](spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    valid = {"champion", "loyal", "at_risk_big_spender", "dormant", "regular"}
    for r in rows:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
        assert r.segment in valid
        assert r.frequency >= 1 and r.monetary > 0
    # ntile(5) law: every quintile holds floor(n/5) or ceil(n/5) customers
    from collections import Counter

    for field in ("r_score", "f_score", "m_score"):
        c = Counter(getattr(r, field) for r in rows)
        assert set(c) == {1, 2, 3, 4, 5}
        assert max(c.values()) - min(c.values()) <= 1


def test_hll_union_within_bound_and_merge(spark, sf_dir):
    rows = SCALE_QUERIES["agg_hll_partitioned_union"](spark, sf_dir).collect()
    per = {r.event_type: r for r in rows}
    assert "ALL" in per and len(per) >= 2
    for r in rows:
        assert r.hll_ok  # sketch (and its merge) within 5% of exact
    # merged-global exact >= any per-group exact
    assert per["ALL"].exact_users >= max(
        r.exact_users for k, r in per.items() if k != "ALL"
    )


def test_pareto_abc_partitions_customers_and_shares(spark, sf_dir):
    """orders_pareto_abc laws: the classes partition the customer base,
    revenue shares sum to 1, and concentration is monotone (A's average
    customer value >= B's >= C's by construction of the cumulative cut)."""
    from dataflow_pubsub_message_encryption_spark.operators.relational import (
        QUERIES as REL_QUERIES,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    rows = {r.cls: r for r in REL_QUERIES["orders_pareto_abc"](spark, sf_dir).collect()}
    assert set(rows) <= {"A", "B", "C"} and "A" in rows
    n_cust = (
        load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows.values()) == n_cust
    assert abs(sum(r.revenue_share for r in rows.values()) - 1.0) < 1e-4
    if "B" in rows and "C" in rows:
        avg = {k: r.revenue / r.n_customers for k, r in rows.items()}
        assert avg["A"] >= avg["B"] >= avg["C"]
        # the A-cut lands at 80% (within one customer's worth of revenue)
        assert rows["A"].revenue_share <= 0.80 + avg["A"] / sum(
            r.revenue for r in rows.values()
        )


def test_fast_bloom_no_false_negatives(spark):
    """join_bloom_prefilter_fast's law: EVERY inserted key passes the
    xxhash64 bloom (membership is sound), and the pass-set over a wider
    probe domain is a superset of the inserted keys (est >= truth)."""
    from pyspark.sql import functions as F

    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        _BLOOM_BITS,
        _BLOOM_K,
    )

    keys = spark.range(1, 301).select(F.col("id").alias("l_suppkey"))
    dimpos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("l_suppkey", F.lit(j)), F.lit(_BLOOM_BITS))
                    for j in range(_BLOOM_K)
                ]
            )
        ).alias("pos")
    )
    words = (
        dimpos.select(
            F.expr("pos DIV 62").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 62 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bm"))
    )
    packed = words.agg(F.collect_list(F.struct("w", "bm")).alias("ws")).collect()  # test-side
    arr = [0] * (-(-_BLOOM_BITS // 62))
    for s in packed[0]["ws"]:
        arr[s["w"]] = s["bm"]

    def bit_test(j):
        p = f"pmod(xxhash64(l_suppkey, {j}), {_BLOOM_BITS})"
        return (
            f"((shiftright(element_at(bw, CAST({p} DIV 62 AS INT) + 1),"
            f" CAST({p} % 62 AS INT)) & 1) = 1)"
        )

    hit = " AND ".join(bit_test(j) for j in range(_BLOOM_K))
    probe = spark.range(1, 1001).select(
        F.col("id").alias("l_suppkey"),
        F.array(*[F.lit(x) for x in arr]).alias("bw"),
    ).withColumn("hit", F.expr(hit))
    n_members_passing = probe.filter("l_suppkey <= 300 AND hit").count()
    assert n_members_passing == 300, "false negative: an inserted key missed"
    n_pass = probe.filter("hit").count()
    assert n_pass >= 300, "pass-set must contain every inserted key"


def test_reliable_pin_paths_match_default(spark, sf_dir, tmp_path):
    """The 100 TB durability recipe is executable (VERDICT r7 item 8):
    with a checkpoint dir set, materialize.pin is Spark's reliable
    checkpoint(), and it must produce the SAME _global_rank/_global_cumsum
    results as the default localCheckpoint path. The session-scoped
    session leaves without a checkpoint dir, so every later test's pins
    stay local."""
    from pyspark.sql import functions as F

    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        _global_cumsum,
        _global_rank,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    base = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")

    def ranks():
        ranked, n = _global_rank(base, "c_acctbal", "c_custkey")
        return n, sorted(
            (r.c_custkey, r.rk) for r in ranked.select("c_custkey", "rk").collect()
        )

    def cums():
        c = _global_cumsum(
            base.select("c_custkey", F.lit(1).alias("one")),
            "one",
            F.col("c_custkey"),
        )
        return sorted((r.c_custkey, r.cum) for r in c.collect())

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    want_rank, want_cum = ranks(), cums()

    # checkpoint dir set -> Spark reliable checkpoint()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        assert ranks() == want_rank
        assert cums() == want_cum
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    # setCheckpointDir makes <dir>/<uuid>/; checkpoint() writes rdd-<id>/
    assert any((tmp_path / "ckpt").glob("*/rdd-*")), "reliable checkpoint never wrote"
