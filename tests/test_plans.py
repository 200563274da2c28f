"""Physical-plan assertions: the 100 TB design contract (SURVEY §4)."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from dataflow_pubsub_message_encryption_spark.operators.relational import QUERIES
from dataflow_pubsub_message_encryption_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from dataflow_pubsub_message_encryption_spark.sources import load


def test_dim_join_broadcasts(spark, sf_dir):
    df = QUERIES["join_broadcast"](spark, sf_dir)
    assert has_broadcast_join(df)
    # broadcast means the fact side never shuffles for the join
    assert count_exchanges(df) == 0


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["filt_pred"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed and "l_returnflag" in pushed


def test_projection_prunes_read_schema(spark, sf_dir):
    df = QUERIES["proj_expr"](spark, sf_dir)
    [cols] = read_schema_columns(df)
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
    }, "scan must read exactly the 4 referenced columns"


def test_agg_is_partial_plus_final(spark, sf_dir):
    plan = formatted_plan(QUERIES["agg_hash_groupby"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, "map-side partial agg missing"
    assert count_exchanges(QUERIES["agg_hash_groupby"](spark, sf_dir)) == 1


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = formatted_plan(QUERIES["sort_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "global sort would not scale"


def test_whole_stage_codegen_covers_scan_filter_project(spark, sf_dir):
    # formatted mode marks codegen'd operators with a '*' prefix
    plan = formatted_plan(QUERIES["filt_pred"](spark, sf_dir))
    assert "* Filter" in plan and "* Project" in plan


def test_probe_broadcast_in_cosine_topk(spark, sf_dir):
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        QUERIES as SIMQ,
    )

    df = SIMQ["sim_cosine_topk"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_decrypt_pipeline_fact_path_is_narrow(spark, sf_dir):
    """The DecryptDoFn equivalent must keep the fact-row path narrow: the
    only fact-side shuffle is the windowed groupBy's. The broadcast unwrap
    adds one hash exchange on the key-population-sized distinct (4 rows)
    plus the broadcast itself — both O(keys), not O(rows)."""
    from dataflow_pubsub_message_encryption_spark.operators.ref_pipeline import (
        QUERIES as REFQ,
    )

    df = REFQ["pipeline_end_to_end"](spark, sf_dir)
    assert has_broadcast_join(df), "DEK map must broadcast, not shuffle facts"
    # rebalance repartition (narrow rows, unlocks parallel crypto on the
    # single-row-group fixture; appears once per lineage branch — AQE
    # reuses it at runtime) x2 + key-distinct (tiny) + window agg
    assert count_exchanges(df) == 4


_PKG = pathlib.Path(__file__).parent.parent / "dataflow_pubsub_message_encryption_spark"


def _method_calls(names):
    """Every ``<expr>.<name>(...)`` call in the package whose method name
    is in ``names``, as (path, call node, the source lines it spans) — an
    ``ast`` walk, so a call wrapped over several lines is one call."""
    for py in sorted(_PKG.rglob("*.py")):
        src = py.read_text()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in names
            ):
                yield py, node, lines[node.lineno - 1 : node.end_lineno]


def _chain_calls(call, method):
    """Whether the receiver chain of ``call`` calls ``.<method>(...)``."""
    node = call.func.value
    while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute) and node.func.attr == method:
                return True
            node = node.func
        else:
            node = node.value
    return False


def test_no_collect_in_engine_code():
    """Engine code must never materialize distributed data on the driver
    (SURVEY §4: 'no collect() anywhere in engine code')."""
    offenders = []
    for py, call, span in _method_calls({"collect", "toPandas"}):
        # two sanctioned exceptions, both explicitly marked anywhere in
        # the call's lines: a single-scalar aggregate fetched for an
        # iterative fixed-point convergence check (# driver-scalar, on an
        # .agg( chain), and a table bounded by construction
        # (# driver-bounded — e.g. the <=4096-row centroid matrix the
        # Arrow assignment stage broadcasts, round 15). Anything unmarked
        # is an offender.
        text = "\n".join(span)
        if "# driver-scalar" in text and _chain_calls(call, "agg"):
            continue
        if "# driver-bounded" in text:
            continue
        offenders.append(f"{py}:{call.lineno}: {span[0].strip()}")
    assert not offenders, f"driver-side materialization in: {offenders}"


def test_lineage_cuts_only_in_materialize():
    """``materialize.pin`` is the package's one way to cut lineage (it
    picks durable ``checkpoint()`` or ``localCheckpoint()`` from the
    session's checkpoint dir); a direct call elsewhere would bypass that
    rule."""
    offenders = [
        f"{py}:{call.lineno}: {span[0].strip()}"
        for py, call, span in _method_calls({"localCheckpoint", "checkpoint", "persist"})
        if py != _PKG / "materialize.py"
    ]
    assert not offenders, f"lineage cut outside materialize.pin: {offenders}"


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """join_bucketed_colocated: once both tables are bucketed on the join
    key, the join itself must read co-located buckets — zero exchanges
    feeding the SortMergeJoin; the only shuffle in the full query is the
    final per-status aggregate."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
    )

    # running the operator (re)creates the bucketed tables and returns the
    # aggregated result: exactly one exchange total (the group-by)
    full = SCQ["join_bucketed_colocated"](spark, sf_dir)
    assert count_exchanges(full) == 1
    # the bare join over the bucketed tables plans with NO exchange at all;
    # hint("merge") pins SortMergeJoin (at fixture scale Spark would
    # otherwise broadcast the small side, which hides the bucket story)
    o = spark.table("sg_bucket_orders").hint("merge")
    li = spark.table("sg_bucket_lineitem")
    j = o.join(li, o.o_orderkey == li.l_orderkey).select("o_orderstatus")
    assert count_exchanges(j) == 0
    assert "SortMergeJoin" in formatted_plan(j)


def test_knn_join_broadcasts_queries_not_corpus(spark, sf_dir):
    """sim_knn_join: the query set is the broadcast side; the corpus scan
    must not shuffle for the scoring join (only the top-k ranking window
    exchanges, on the tiny (q_id, k) survivor set)."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        QUERIES as SIMQ,
    )

    df = SIMQ["sim_knn_join"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Broadcast" in plan  # non-equi join -> BroadcastNestedLoopJoin
    assert "BroadcastExchange" in plan


def test_manifest_quality_filter_pushes_to_scan(spark, sf_dir):
    """corpus_training_manifest's quality floor predicate depends on a
    computed token count (can't push), but the scan must still prune to
    exactly the three referenced document columns — at 100 TB the
    difference between reading text+lang+id and the whole table."""
    from dataflow_pubsub_message_encryption_spark.operators.curation import (
        QUERIES as CQ,
    )

    df = CQ["corpus_training_manifest"](spark, sf_dir)
    for cols in read_schema_columns(df):
        assert set(cols) <= {"doc_id", "lang", "text"}, cols
    assert has_broadcast_join(df), "rate dimension must broadcast"


def test_batch_topk_probes_broadcast(spark, sf_dir):
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        QUERIES as SIMQ,
    )

    df = SIMQ["sim_search_batch_topk"](spark, sf_dir)
    assert has_broadcast_join(df), "probe batch must broadcast"


def test_bpe_training_never_sorts_the_corpus(spark, sf_dir):
    """BPE training may window-sort WITHIN words (tiny partitions) and
    rank the pair table, but must never contain a corpus-wide global
    Sort: no Exchange rangepartitioning over the word table beyond the
    single-partition 1-row argmax."""
    from dataflow_pubsub_message_encryption_spark.operators.text import (
        QUERIES as TQ,
    )

    plan = formatted_plan(TQ["text_bpe_merges"](spark, sf_dir))
    # TakeOrdered handles every argmax; a rangepartitioning exchange
    # would mean a global sort slipped in
    assert "rangepartitioning" not in plan.lower(), plan[:2000]


def test_dpp_join_prunes_fact_partitions(spark, sf_dir):
    """join_partition_pruned_dpp: the partitioned fact scan must carry a
    dynamic-pruning (or at minimum a partition-filter) expression on
    event_type so the non-selected partition directories are never
    read."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
    )

    df = SCQ["join_partition_pruned_dpp"](spark, sf_dir)
    plan = formatted_plan(df).lower()
    assert "dynamicpruning" in plan or "partitionfilters: [" in plan.replace(
        "partitionfilters: []", ""
    ), plan


def test_bitmap_distinct_matches_count_distinct(spark, sf_dir):
    """agg_bitmap_distinct: the bitmap popcount total must equal the
    engine's own count(DISTINCT) per group — lossless by construction."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load_events

    got = {
        r["event_type"]: r["distinct_users"]
        for r in SCQ["agg_bitmap_distinct"](spark, sf_dir).collect()
    }
    want = {
        r["event_type"]: r["d"]
        for r in load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    assert got == want


def test_cms_estimate_never_undercounts(spark, sf_dir):
    """agg_heavy_hitters_cms: the CMS structural guarantee — every point
    estimate >= the true count (collisions only ADD)."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
    )

    rows = SCQ["agg_heavy_hitters_cms"](spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["overestimate"] >= 0 for r in rows)
    assert all(r["cms_est"] >= r["exact_cnt"] for r in rows)


def test_bloom_prefilter_probes_via_broadcast_only(spark, sf_dir):
    """join_bloom_prefilter: the fact side must never shuffle for the
    filter — all three word lookups AND the exact-verify semi-join plan
    as broadcast joins (the filter is KB-scale by construction)."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
    )

    plan = formatted_plan(SCQ["join_bloom_prefilter"](spark, sf_dir))
    # one exploded word lookup + bloom-pass membership + exact verify
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_scalable_segmentation_has_no_single_partition_window(spark, sf_dir):
    """The _global_rank twins must plan with ZERO single-partition
    exchanges at data grain — the whole point of the machinery (their
    ntile originals warn 'No Partition Defined for Window')."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
    )

    from dataflow_pubsub_message_encryption_spark.operators import registry

    Q, _ = registry()
    for key in (
        "customer_value_quartiles_scalable",
        "rfm_segmentation_scalable",
        "win_ntile_scalable",
        "corpus_perplexity_buckets_scalable",
        # the legacy keys delegate to the same machinery since round 7 —
        # a user calling them must get the distributed plan too
        "customer_value_quartiles",
        "rfm_segmentation",
        "win_ntile",
        "corpus_perplexity_buckets",
    ):
        plan = formatted_plan((SCQ.get(key) or Q[key])(spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, key
        assert "Window" in plan, f"{key}: rank window missing entirely"


def test_pit_join_is_equi_not_nested_loop(spark, sf_dir):
    """join_point_in_time_scd2: the interval-containment predicate must
    ride as a residual on the user_id EQUI-join — a BroadcastNestedLoopJoin
    here would be the classic accidental-cross-join scale bug."""
    from dataflow_pubsub_message_encryption_spark.operators.cdc import (
        QUERIES as CQ,
    )

    plan = formatted_plan(CQ["join_point_in_time_scd2"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_blocked_graph_ann_build_has_no_nested_loop(spark, sf_dir):
    """_grb_edges (the LSH-blocked graph-index build, VERDICT r6 item 3):
    candidate generation must be equi-joins on the bucket keys + id
    re-joins — nothing quadratic in |V|. A lvl>=l/!= theta self-join
    would plan as a nested-loop join, which is exactly what must NOT
    appear here."""
    from pyspark.sql import functions as F

    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _PROBE_ID,
        _gr_nodes,
        _grb_edges,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    e = load(spark, sf_dir, "embeddings")
    nodes = _gr_nodes(e.filter(F.col("vec_id") != _PROBE_ID))
    plan = formatted_plan(_grb_edges(nodes, 0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # since round 10 the build joins are hinted shuffle_hash (pinned-side
    # broadcast hazard — see test_pinned_side_joins_never_broadcast)
    assert (
        "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_radius_search_has_no_sort(spark, sf_dir):
    """sim_radius_search: a radius query is a pushed filter over the scan —
    any Sort/TakeOrdered in the plan means someone re-introduced a top-k."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        QUERIES as SQ,
    )

    plan = formatted_plan(SQ["sim_radius_search"](spark, sf_dir))
    assert "TakeOrdered" not in plan
    assert "Sort" not in plan.replace("SortMergeJoin", "")


def test_decontam_span_broadcasts_benchmark_side(spark, sf_dir):
    """decontam_span_max: the benchmark (test-split) side must broadcast —
    the 100 TB train corpus never shuffles its shingles."""
    from dataflow_pubsub_message_encryption_spark.operators.curation import (
        QUERIES as CUQ,
    )

    assert has_broadcast_join(CUQ["decontam_span_max"](spark, sf_dir))


def test_parquet_aggregate_pushdown_reaches_footer(spark, sf_dir):
    """scan_agg_pushdown_stats' claim, asserted on a live plan: with the
    v2 parquet source + aggregatePushdown, COUNT/MIN/MAX appear as
    PushedAggregation on the scan (footer-stats answering), and the op
    itself restores both confs afterwards (no session leak)."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
    )

    before = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.parquet.aggregatePushdown",
            "spark.sql.sources.useV1SourceList",
        )
    }
    assert SCQ["scan_agg_pushdown_stats"](spark, sf_dir).count() == 1
    after = {k: spark.conf.get(k, None) for k in before}
    assert after == before, "op leaked session confs"

    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        agg = spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
            F.count("*"), F.min("l_quantity"), F.max("l_quantity")
        )
        assert "PushedAggregation: [COUNT(*)" in formatted_plan(agg)
    finally:
        spark.conf.unset("spark.sql.parquet.aggregatePushdown")
        spark.conf.unset("spark.sql.sources.useV1SourceList")


def test_span_dedup_aggregates_partially(spark, sf_dir):
    """dedup_span_exact: the span census must partial-aggregate map-side
    (HashAggregate pairs) and plan hash joins only — an accidental
    cartesian or sort on the span column would be the scale bug."""
    from dataflow_pubsub_message_encryption_spark.operators.dedup import (
        QUERIES as DQ,
    )

    plan = formatted_plan(DQ["dedup_span_exact"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, "map-side partial agg missing"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fertility_broadcasts_vocab_dimension(spark, sf_dir):
    """tokenizer_fertility_by_lang: the word->token-count table is the
    broadcast dimension; the corpus side must never shuffle on words."""
    from dataflow_pubsub_message_encryption_spark.operators.text import (
        QUERIES as TQ,
    )

    assert has_broadcast_join(TQ["tokenizer_fertility_by_lang"](spark, sf_dir))


def test_rank_fusion_has_no_single_partition_window(spark, sf_dir):
    """corpus_quality_rank_fusion: its three global ranks must run on the
    distributed rank machinery — zero Exchange SinglePartition at doc
    grain (the top-N at the end is TakeOrdered, not a global sort)."""
    from dataflow_pubsub_message_encryption_spark.operators.curation import (
        QUERIES as CUQ,
    )

    plan = formatted_plan(CUQ["corpus_quality_rank_fusion"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "TakeOrdered" in plan


def test_span_ladder_has_no_pair_join(spark, sf_dir):
    """dedup_span_suffix_ladder: sharedness comes from a distinct-carrier
    census, never a doc-pair join — the plan must carry no cartesian or
    nested-loop join, and its gram aggregation must partial-aggregate
    (partial_count before the exchange)."""
    from dataflow_pubsub_message_encryption_spark.operators.dedup import (
        QUERIES as DQ,
    )

    plan = formatted_plan(DQ["dedup_span_suffix_ladder"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_psi_drift_is_one_scan_partial_agg(spark, sf_dir):
    """dq_distribution_drift_psi: the monitor must cost ONE scan of the
    fact table (the grid partial-aggregates map-side; everything after
    runs on <= types x bands rows) — one FileScan of events, no join of
    fact-grain data, partial aggregation present."""
    from dataflow_pubsub_message_encryption_spark.operators.curation import (
        QUERIES as CUQ,
    )

    plan = formatted_plan(CUQ["dq_distribution_drift_psi"](spark, sf_dir))
    assert plan.count("Scan parquet") + plan.count("FileScan") >= 1
    # events is the only table; it must be scanned exactly once
    assert plan.count("events.parquet") == 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_global_cumsum_has_no_single_partition_window(spark, sf_dir):
    """_global_cumsum (orders_pareto_class's machinery): the distributed
    prefix sum must never plan the bare SUM() OVER (ORDER BY) single
    partition exchange — its window is partitioned by the pinned range
    partition id."""
    from dataflow_pubsub_message_encryption_spark.functions.normalize import dec4
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
        _global_cumsum,
    )

    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec4("o_totalprice")).alias("r"))
    )
    df = _global_cumsum(rev, "r", F.desc("r"), F.col("o_custkey"))
    plan = formatted_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan
    full = formatted_plan(SCQ["orders_pareto_class"](spark, sf_dir))
    assert "Exchange SinglePartition" not in full


def test_fuzzy_editdist_join_is_banded_equi(spark, sf_dir):
    """join_fuzzy_name_editdist: the length-band blocking must plan as an
    EQUI-join on the bin key (the levenshtein verify riding as a filter) —
    a BroadcastNestedLoopJoin/CartesianProduct here would be the all-pairs
    anti-pattern the band exists to kill."""
    from dataflow_pubsub_message_encryption_spark.operators.relational import (
        QUERIES as RQ,
    )

    plan = formatted_plan(RQ["join_fuzzy_name_editdist"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_no_global_window_in_build_side_jobs(spark, sf_dir, capfd):
    """Round-9 audit class: the returned-plan sweep (test_oracle_parity)
    cannot see a single-partition WindowExec inside a BUILD-side job —
    a window whose result a driver-scalar collect consumes during query
    construction (the two-pass percentile family hid three of them until
    the WindowExec warning scan caught it). Build EVERY registered query
    and assert the JVM never logs the global-window warning. The JVM
    shares this process's stderr, so one capture over the whole build
    loop sees every executor-side plan the builds ran."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, _ = registry()
    capfd.readouterr()  # drop anything earlier tests left buffered
    failures = []
    for name, fn in queries.items():
        fn(spark, sf_dir)
        err = capfd.readouterr().err
        if "No Partition Defined for Window operation" in err:
            failures.append(name)
    assert not failures, (
        f"build-side single-partition window in: {failures}"
    )


def test_pq_serving_rank_is_takeordered_bounded(spark, sf_dir):
    """The PQ serving ops rank candidates with an UNPARTITIONED
    row_number <= k — safe only because Catalyst rewrites it to a
    distributed TakeOrderedAndProject (+ WindowGroupLimit pushdown), so
    the single-partition WindowExec only ever sees <= k rows (the
    'No Partition Defined' planning warning these ops log is this
    bounded form, not a scale killer). Pin the rewrite: the final
    Window must sit DIRECTLY above a TakeOrderedAndProject in both
    plans — if a Spark upgrade or a query edit ever breaks the
    pushdown, the global sort this would silently become must fail
    here, not in a 100 TB run."""
    import re

    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        QUERIES as SQ,
    )

    for key in ("sim_pq_adc_topk", "sim_ivf_pq_topk"):
        plan = formatted_plan(SQ[key](spark, sf_dir))
        m = re.search(
            r"Window \(\d+\)\s*\n\s*\+- TakeOrderedAndProject", plan
        )
        assert m, f"{key}: top-k window not TakeOrdered-bounded\n{plan[:2000]}"


def test_pinned_side_joins_never_broadcast(spark, sf_dir):
    """Round-10 hazard class (materialize.py module doc): a pinned
    frame's logical plan carries the PRE-pin size estimate, and a
    broadcast built straight from a checkpointed RDD has no shuffle
    stage for AQE to re-measure — at 25× fixture scale the planner
    'broadcast' a multi-GB suffix table to the driver and aborted on
    maxResultSize. The data-grain-by-construction joins now pin their
    strategy (merge / shuffle_hash); assert no BroadcastHashJoin
    survives in the suffix adjacency chain or the graph-ANN build."""
    from dataflow_pubsub_message_encryption_spark.operators.dedup import (
        QUERIES as DQ,
    )
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _gr_nodes,
        _grb_scored_pairs,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load

    def broadcasts_a_pinned_side(plan: str) -> bool:
        # tree walk over the formatted plan: a BroadcastExchange whose
        # subtree contains a pinned-RDD scan is the hazard shape (its
        # size estimate is pre-pin and AQE cannot revoke the broadcast)
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "BroadcastExchange" not in line:
                continue
            indent = len(line) - len(line.lstrip(" :+-"))
            for sub in lines[i + 1 :]:
                if not sub.strip() or sub.lstrip().startswith(("(", "=")):
                    break
                sub_indent = len(sub) - len(sub.lstrip(" :+-"))
                if sub_indent <= indent:
                    break
                if "Scan ExistingRDD" in sub:
                    return True
        return False

    for key in ("dedup_span_suffix_array", "dedup_span_suffix_doubling"):
        plan = formatted_plan(DQ[key](spark, sf_dir))
        # the rank-adjacency / doubling joins must be SortMergeJoin; the
        # docs text-fetch and report joins may broadcast (their build
        # sides are parquet scans with honest stats)
        assert "SortMergeJoin" in plan, key
        assert not broadcasts_a_pinned_side(plan), (
            f"{key}: a pinned side is planned as broadcast\n{plan[:1500]}"
        )

    nodes = _gr_nodes(load(spark, sf_dir, "embeddings")).localCheckpoint()
    plan = formatted_plan(_grb_scored_pairs(nodes))
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
