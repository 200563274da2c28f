"""Iterative graph operator: connected components for duplicate clustering.

Pairwise near-dup detection (dedup.py) emits EDGES; a cleaning pipeline
needs GROUPS — "these 17 documents are all one thing, keep one". That is
connected components over the duplicate-pair graph, the step MinHash
pipelines (Spark MLlib's LSH, text-dedup toolchains) run after candidate
verification. It is also this engine's representative *iterative*
algorithm: a fixed-point loop the DataFrame API drives from plain joins.

Algorithm: alternating large-star / small-star contraction (the
MapReduce-round-optimal connected-components construction published as
"Connected Components in MapReduce and Beyond", Kiveris et al., SOCC 2014
— see PAPERS.md). Each round rewires edges toward component minima:

- **large-star** at node u: every neighbor v > u is re-pointed at
  m = min(neighbors(u) ∪ {u});
- **small-star** at node u (edges oriented big→small): every smaller
  neighbor, and u itself, is re-pointed at m.

Both steps preserve connectivity; the fixed point is a star forest whose
roots are the component minima (the canonical representative —
deterministic, no tie-breaking needed). Convergence needs O(log n) rounds
on adversarial graphs (e.g. long paths) where plain min-label propagation
needs O(diameter) — the upgrade SCALING.md §5 calls for; a 512-node path
converges within the ceil(log2 n)+3 bound tests/test_graph.py pins. The
star-forest membership test (no edge target is another edge's source AND
every source has fan-out 1) detects the fixed point the round it happens —
no confirming round, unlike a changed-signature compare.

Scale notes (100 TB):
- Each round is two shuffle join+groupBy-min pairs — partial-aggregating,
  ids-only payloads (16 bytes/row). No step materializes anything wider
  than an edge.
- Lineage is truncated with an eager pin (``materialize.pin``) per
  round — without it the plan doubles every iteration and Catalyst
  re-optimizes the whole history. The pin is ``localCheckpoint`` unless
  the session has a checkpoint dir set, which makes every round's pin a
  durable ``checkpoint()`` (the cluster form; see ``materialize``).
- The ONLY driver-side data transfer is the 1-scalar star-forest
  violation count per round (from the per-node census the large-star
  step computes anyway). The edge table itself never leaves the
  executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..materialize import pin
from ..sources import load
from .base import make_registry
from .dedup import ORACLES as _DEDUP_ORACLES
from .dedup import QUERIES as _DEDUP_QUERIES

QUERIES, ORACLES, query = make_registry()

_MAX_ROUNDS = 25


def connected_components(pairs: DataFrame, max_rounds: int = _MAX_ROUNDS):
    """Alternating star contraction over an undirected edge list.

    ``pairs``: DataFrame with two integer id columns (an edge per row).
    Returns ``(labels, rounds)`` — labels is (node, lbl) with lbl = the
    minimum id of the node's component, rounds the number of
    large-star+small-star rounds executed to reach the fixed point.
    """
    a, b = pairs.columns[0], pairs.columns[1]
    # canonical big→small orientation, self-loops dropped
    edges = pin(
        pairs.select(F.col(a).cast("long").alias("x"), F.col(b).cast("long").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
    )
    # NOT pinned (round-15 opt): nodes is consumed exactly once — by the
    # final labels join after the loop — and its lineage is one
    # select/union/distinct over the PINNED initial edges, so an eager pin
    # here is a pure extra job + block write per execution (measured
    # interleaved A/B at sf0.1: q12 med 5.43 → 4.99 single-file /
    # 5.38 → 4.74 multifile with labels identical at all three SFs).
    # Fusing the per-round stats pin with the violations count (persist
    # + count-as-materializer) was measured in the same A/B and
    # REJECTED: it gives the win back (med 5.42/5.10).
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select("v"))
        .distinct()
    )
    rounds = 0
    for _ in range(max_rounds):
        # Per-node census over the symmetric neighborhoods, computed ONCE
        # per round and used twice: (1) the star-forest fixed-point test,
        # (2) the large-star minima. The iterate is a star forest (every
        # component one star, rooted at its minimum) exactly when (a) no
        # node is both a source and a target AND (b) no source has
        # fan-out > 1. Checking only (a) is unsound: a node can point at
        # two DISTINCT roots while neither root is a source — e.g. edges
        # {(7,3),(8,3),(0,5),(0,8),(2,4),(2,6),(4,7)} leave 3 pointing at
        # both 0 and 2 after round 1 — and stopping there splits one
        # component in two (tests/test_graph.py pins the counter-example
        # and a random-graph union-find sweep). Fusing the test into the
        # census the large-star step needs anyway makes it one broadcast-
        # size filter + one driver scalar — no extra shuffle. ``edges``
        # is distinct, so the source count equals distinct-target fan-out.
        sym = edges.select(
            "u", "v", F.lit(1).alias("s"), F.lit(0).alias("t")
        ).unionByName(
            edges.select(
                F.col("v").alias("u"),
                F.col("u").alias("v"),
                F.lit(0).alias("s"),
                F.lit(1).alias("t"),
            )
        )
        stats = pin(
            sym.groupBy("u").agg(
                F.min("v").alias("mn"),
                F.sum("s").alias("sc"),
                F.sum("t").alias("tc"),
            )
        )
        violations = stats.filter(
            (F.col("sc") > 1) | ((F.col("sc") >= 1) & (F.col("tc") >= 1))
        ).agg(F.count("*")).collect()[0][0]  # driver-scalar
        if violations == 0:
            break
        rounds += 1
        # large-star: re-point every bigger neighbor v > u at
        # m(u) = min(N(u) ∪ {u}). Each undirected edge is processed from
        # its smaller endpoint, so the edge count is preserved and every
        # output edge already satisfies u > v.
        mins = stats.select("u", F.least("u", "mn").alias("m"))
        large = (
            sym.select("u", "v")
            .join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # NO distinct on large: min() below is duplicate-insensitive and
        # the end-of-round distinct dedups the edge set anyway. Skipping it
        # removes two exchanges per round (the (u,v) hash partition for the
        # distinct, then the re-partition back to u for the groupBy) — on a
        # dense 766k-edge/2.9k-node duplicate graph at sf0.1 this cut the
        # 4-round loop from 5.6 s to 3.4 s with identical labels.
        # small-star on the big→small orientation: all neighbors are < u,
        # so m = min(N(u)); re-point each of them, and u itself, at m.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("n"), "m")
            .unionByName(mins2.select(F.col("u").alias("n"), "m"))
        )
        edges = pin(
            small.filter(F.col("n") != F.col("m"))
            .select(F.greatest("n", "m").alias("u"), F.least("n", "m").alias("v"))
            .distinct()
        )
    # fixed point = star forest rooted at component minima
    labels = nodes.join(
        edges.groupBy("u").agg(F.min("v").alias("lbl")),
        nodes.node == F.col("u"),
        "left",
    ).select("node", F.coalesce("lbl", "node").alias("lbl"))
    return labels, rounds


@query(
    "dedup_cluster_components",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_DEDUP_ORACLES["dedup_minhash_lsh_pairs"]})
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
      SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM comp
    """,
)
def dedup_cluster_components(spark, sf_dir):
    """Connected components over the MinHash-LSH verified duplicate-pair
    graph: each document that appears in any near-dup pair is assigned its
    component's canonical id (the component's minimum doc_id) plus the
    component size — the keep-one-per-group decision a corpus cleaner
    executes. Alternating large-star/small-star contraction (O(log n)
    rounds; see module docstring) with a per-round eager pin.
    The EXACT oracle recomputes the same components in DuckDB via a
    recursive CTE — the full iterative fixed point is value-checked
    cross-engine, not just row counts."""
    pairs = _DEDUP_QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    labels, _ = connected_components(pairs)
    comp = labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return comp.join(F.broadcast(sizes), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


_PR_ITERS = 3
_PR_SCALE = 1_000_000  # rank fixed-point scale: 1.0 == 1e6


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
      SELECT g.node,
             CAST(150000 + (85 * COALESCE(x.contrib, 0)) // 100 AS BIGINT)
               AS rank
      FROM deg g LEFT JOIN (
        SELECT e.d AS node, sum(r.rank // dg.deg) AS contrib
        FROM edges e
        JOIN {prev} r ON r.node = e.s
        JOIN deg dg ON dg.node = e.s
        GROUP BY e.d) x ON x.node = g.node)"""


@query(
    "graph_pagerank_int",
    f"""
    WITH pairs AS (
      SELECT doc_a, doc_b FROM ({_DEDUP_ORACLES["dedup_minhash_lsh_pairs"]})
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT s AS node, count(*) AS deg FROM edges GROUP BY s),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT node AS doc_id, CAST(deg AS BIGINT) AS degree, rank AS pr_scaled
    FROM r3 JOIN deg USING (node)
    """,
)
def graph_pagerank_int(spark, sf_dir):
    """PageRank over the MinHash-LSH duplicate graph (3 fixed
    iterations, damping 0.85) — centrality as dedup triage: in a
    near-dup cluster the highest-rank node is the best canonical pick
    (most-corroborated copy), and PageRank is this engine's second
    representative iterative algorithm after connected components.

    The numerics are the interesting part: floating-point PageRank can
    NEVER be exact cross-engine (sum order differs), so ranks are
    fixed-point BIGINTs (scale 1e6) and every step is integer
    arithmetic — contribution = rank div deg, damping = (85·sum) div
    100. Integer addition commutes, so the result is bit-identical in
    any engine at any parallelism: determinism by construction, not by
    rounding. The oracle unrolls all 3 iterations as chained
    CTEs over the SAME LSH pair SQL — the full iterative computation is
    value-checked, like the recursive-CTE check for components.

    Scale notes (100 TB): each iteration is one join on the edge list
    (partitioned by source) + one partial-aggregating groupBy(dest) —
    ids and two longs per row. Deeper loops pin per round; 3 rounds
    keeps the plan shallow enough without. Skewed celebrity nodes (huge
    deg) cost nothing here — contributions DIVIDE by deg; the skew risk
    is on the RECEIVING side (sum at a hub dest), the documented
    salting/AQE case."""
    pairs = _DEDUP_QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    edges = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionByName(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
    deg = edges.groupBy("s").agg(F.count("*").alias("deg")).withColumnRenamed(
        "s", "node"
    )
    edges = pin(edges)
    deg = pin(deg)
    rank = deg.select("node", F.lit(_PR_SCALE).cast("long").alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                deg.withColumnRenamed("node", "s").join(
                    rank.withColumnRenamed("node", "s"), "s"
                ),
                "s",
            )
            .select(F.col("d").alias("node"), F.expr("rank div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        rank = deg.select("node").join(contrib, "node", "left").select(
            "node",
            (
                F.lit(150000)
                + F.expr("(85 * coalesce(contrib, 0L)) div 100")
            ).cast("long").alias("rank"),
        )
    return rank.join(deg, "node").select(
        F.col("node").alias("doc_id"),
        F.col("deg").cast("long").alias("degree"),
        F.col("rank").alias("pr_scaled"),
    )


@query(
    "graph_triangle_count",
    f"""
    WITH pairs AS (
      SELECT doc_a, doc_b FROM ({_DEDUP_ORACLES["dedup_minhash_lsh_pairs"]})
    ),
    e AS (
      SELECT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
      FROM pairs WHERE doc_a <> doc_b GROUP BY 1, 2
    )
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Triangle count over the duplicate-pair graph — the cohesion
    statistic that separates genuine near-dup clusters (triangle-dense:
    copies of one document all pair with each other) from chained false
    positives (triangle-free paths from borderline LSH collisions).

    The Spark plan is the DEGREE-ORDERED orientation (the MapReduce
    triangle-counting construction, Suri & Vassilvitskii WWW 2011):
    orient every edge from its lower-(degree, id) endpoint, build wedges
    at each source, and close them against the oriented edge set. Every
    wedge source is a LOW-degree endpoint, so per-node wedge fan-out is
    bounded by the h-index of the degree sequence rather than max degree
    — the difference between O(d_max²) and feasible at 100 TB on a
    power-law graph. The oracle counts the same triangles with the naive
    ordered triple join (id order), which is result-identical because
    each triangle has exactly one representation under either
    orientation."""
    pairs = _DEDUP_QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    und = pin(
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionByName(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lower_first, F.col("da")).otherwise(F.col("db")).alias("rs"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("rd"),
    )
    oriented = pin(oriented)
    # wedges at each (low-rank) source: unordered dst pair, canonically
    # oriented by (deg, id) so the closing edge lookup is a single probe
    e1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("rd").alias("rv")
    )
    e2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("rd").alias("rw")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("rv") < F.col("rw"))
        | ((F.col("rv") == F.col("rw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    return F.broadcast(n_edges).crossJoin(n_tri).select(  # 1 row x 1 row
        "n_edges", "n_triangles"
    )


@query(
    "dedup_cluster_summary",
    f"""
    WITH cc AS ({ORACLES["dedup_cluster_components"]})
    SELECT cc.cluster_id,
           CAST(max(cc.cluster_size) AS BIGINT) AS cluster_size,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
           CAST(SUM(d.n_chars) - max(CASE WHEN cc.is_canonical
                                          THEN d.n_chars END) AS BIGINT)
             AS chars_removed
    FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    GROUP BY cc.cluster_id
    """,
)
def dedup_cluster_summary(spark, sf_dir):
    """The human-readable dedup report — per duplicate cluster: size,
    total bytes, how many sources the copies span (cross-source
    duplication is the interesting kind), and the bytes a keep-one
    policy actually removes (total minus the canonical's). This is the
    artifact a corpus team reviews before committing a dedup pass:
    components (the iterative operator) joined back to document
    metadata, one |clusters|-sized aggregate. The oracle recomputes the
    full recursive-CTE components and the same join — the entire
    pairs → components → report chain is value-checked."""
    cc = QUERIES["dedup_cluster_components"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        cc.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max("cluster_size").alias("cluster_size"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("source").alias("n_sources"),
            (
                F.sum("n_chars")
                - F.max(F.when(F.col("is_canonical"), F.col("n_chars")))
            ).alias("chars_removed"),
        )
    )


@query(
    "corpus_dedup_priority_keep",
    f"""
    WITH cc AS ({ORACLES["dedup_cluster_components"]}),
    j AS (
      SELECT cc.cluster_id, cc.cluster_size, cc.doc_id, d.n_chars
      FROM cc JOIN documents d USING (doc_id)
    ),
    k AS (
      SELECT cluster_id, doc_id AS keep_doc, n_chars AS keep_chars FROM (
        SELECT cluster_id, doc_id, n_chars,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM j
      ) WHERE rn = 1
    )
    SELECT j.cluster_id,
           CAST(max(j.cluster_size) AS BIGINT) AS cluster_size,
           CAST(max(k.keep_doc) AS BIGINT) AS keep_doc,
           CAST(max(k.keep_chars) AS BIGINT) AS keep_chars,
           CAST(SUM(j.n_chars) - max(k.keep_chars) AS BIGINT)
             AS chars_removed,
           max(k.keep_doc) != j.cluster_id AS policy_differs
    FROM j JOIN k USING (cluster_id)
    GROUP BY j.cluster_id
    """,
)
def corpus_dedup_priority_keep(spark, sf_dir):
    """Quality-priority keep policy over the duplicate clusters — the
    production refinement of ``dedup_cluster_summary``'s keep-one report:
    instead of the canonical min-id, each cluster keeps its BEST copy
    (here: longest n_chars, doc_id tie-break — swap in any deterministic
    quality score), and the report shows which clusters the policy
    actually changes versus the naive canonical (``policy_differs``).
    This is the decision table a corpus team ships: per cluster, the
    survivor, the bytes removed under the better policy, and how often
    quality-keep disagrees with id-keep. Shape: the components result
    joined once to metadata, one per-cluster ranking window over cluster
    members (clusters are small by construction), one |clusters|-sized
    aggregate — the oracle recomputes the whole pairs → components →
    policy chain."""
    cc = QUERIES["dedup_cluster_components"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from pyspark.sql import Window

    j = cc.join(docs, "doc_id")
    wk = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), "doc_id"
    )
    k = (
        j.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc"),
            F.col("n_chars").alias("keep_chars"),
        )
    )
    return (
        j.join(k, "cluster_id")
        .groupBy("cluster_id")
        .agg(
            F.max("cluster_size").alias("cluster_size"),
            F.max("keep_doc").alias("keep_doc"),
            F.max("keep_chars").alias("keep_chars"),
            (F.sum("n_chars") - F.max("keep_chars")).alias("chars_removed"),
            (F.max("keep_doc") != F.col("cluster_id")).alias("policy_differs"),
        )
    )


_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_round_sql(prev_e: str, cur_e: str) -> str:
    """One peel round: degrees under ``prev_e``, survivors with degree
    >= k, edges restricted to surviving endpoints as ``cur_e``."""
    return f"""deg_{cur_e} AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM {prev_e}
        UNION ALL SELECT v FROM {prev_e}
      ) GROUP BY node
    ),
    keep_{cur_e} AS MATERIALIZED (SELECT node FROM deg_{cur_e} WHERE d >= {_KCORE_K}),
    {cur_e} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev_e} e
      JOIN keep_{cur_e} a ON a.node = e.u
      JOIN keep_{cur_e} b ON b.node = e.v
    )"""


@query(
    "graph_kcore_membership",
    f"""
    WITH pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_DEDUP_ORACLES["dedup_minhash_lsh_pairs"]})
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT greatest(doc_a, doc_b) AS u, least(doc_a, doc_b) AS v
      FROM pairs WHERE doc_a != doc_b
    ),
    {", ".join(_kcore_round_sql(f"e{i}", f"e{i + 1}") for i in range(_KCORE_ROUNDS))},
    fdeg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e{_KCORE_ROUNDS}
        UNION ALL SELECT v FROM e{_KCORE_ROUNDS}
      ) GROUP BY node
    ),
    conv AS (
      SELECT CAST(count(*) AS BIGINT) = 0 AS converged
      FROM fdeg WHERE d < {_KCORE_K}
    )
    SELECT fdeg.node AS doc_id, CAST(fdeg.d AS INTEGER) AS core_degree,
           conv.converged
    FROM fdeg, conv
    """,
)
def graph_kcore_membership(spark, sf_dir):
    """{_KCORE_K}-core of the duplicate-pair graph — the iterative PEEL
    fixed point (repeatedly remove nodes with degree < k) that completes
    the graph family next to components (contract), PageRank (propagate)
    and triangles (orient): core members are docs embedded in densely
    interlinked duplicate neighborhoods — template farms and mirror
    clusters — where a single near-dup pair (degree 1) is often just two
    legitimate revisions. Bounded-round determinism pattern: BOTH engines
    peel exactly {_KCORE_ROUNDS} rounds (peeling past convergence is a
    no-op, so the bound loses nothing once converged — the emitted
    ``converged`` flag says so and the suite asserts it on fixtures; the
    oracle unrolls every round as CTEs). Scale: each round is one
    ids-only degree count (map-side partial agg) + two semi-join
    restrictions; the edge set only shrinks; per-round eager checkpoints
    keep the plan shallow — the components-loop recipe."""
    pairs = _DEDUP_QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    edges = pin(
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .distinct()
    )

    def degrees(e):
        return (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )

    for _ in range(_KCORE_ROUNDS):
        keep = degrees(edges).filter(F.col("d") >= _KCORE_K).select("node")
        edges = pin(
            edges.join(keep.withColumnRenamed("node", "u"), "u")
            .join(keep.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
        )
    fdeg = degrees(edges)
    conv = fdeg.agg(
        (
            F.count(F.when(F.col("d") < _KCORE_K, 1)) == 0
        ).alias("converged")
    )
    return fdeg.crossJoin(F.broadcast(conv)).select(
        F.col("node").alias("doc_id"),
        F.col("d").cast("int").alias("core_degree"),
        "converged",
    )


_LPA_ROUNDS = 3


def _lpa_round_sql(r: int) -> str:
    return f"""n{r} AS MATERIALIZED (
      SELECT e.dst AS node, l.lab AS lab, count(*) AS c
      FROM bedges e JOIN l{r - 1} l ON l.node = e.src
      GROUP BY 1, 2
    ),
    l{r} AS MATERIALIZED (
      SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM n{r}
      ) WHERE rn = 1
    )"""


@query(
    "graph_label_propagation",
    f"""
    WITH pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_DEDUP_ORACLES["dedup_minhash_lsh_pairs"]})
    ),
    bedges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE doc_a <> doc_b
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE doc_a <> doc_b
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT dst AS node, dst AS lab FROM bedges
    ),
    {', '.join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))}
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(lab AS BIGINT) AS community
    FROM l{_LPA_ROUNDS}
    """,
)
def graph_label_propagation(spark, sf_dir):
    """Label-propagation communities (Raghavan et al. 2007) over the
    verified near-duplicate graph — the community-detection sibling of
    ``dedup_cluster_components``: components answer 'which docs are
    transitively duplicates', LPA answers 'which docs form DENSE
    duplicate neighborhoods' (a long weak chain splits into its hubs,
    which is what corpus triage wants when a component is too coarse to
    keep-one-drop-rest).

    Determinism: synchronous updates, a FIXED ``_LPA_ROUNDS`` rounds
    (asynchronous/converged LPA is famously order-dependent — the
    bounded synchronous unroll is the oracle-able form), and the
    most-frequent-neighbor-label argmax fully tie-broken by (count DESC,
    label ASC). Each round = one edges⋈labels equi-join + a per-(node,
    label) partial-aggregating count + a per-node argmax window
    (PARTITIONED — parallel), ids only, with per-round eager
    pin exactly like the components loop. At 100 TB: rounds
    are O(|E|) shuffles; label skew (a giant community) concentrates in
    the count aggregate, which partial-aggregates map-side — the same
    reason the components loop survives."""
    pairs = _DEDUP_QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    return label_propagation(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("lab").cast("long").alias("community"),
    )


def label_propagation(pairs: DataFrame, rounds: int = _LPA_ROUNDS) -> DataFrame:
    """Synchronous LPA over an undirected pair list (columns doc_a, doc_b)
    -> (node, lab). DataFrame-in form behind ``graph_label_propagation``;
    crafted-graph semantics (communities split where components cannot)
    are pinned in tests/test_graph.py."""
    e1 = pairs.filter(F.col("doc_a") != F.col("doc_b")).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    bedges = pin(
        e1.union(e1.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    labels = bedges.select(F.col("dst").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    from pyspark.sql import Window

    for _ in range(rounds):
        counted = (
            bedges.join(labels, bedges["src"] == labels["node"])
            .select("dst", "lab")
            .groupBy("dst", "lab")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("dst").orderBy(F.desc("c"), "lab")
        labels = pin(
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), "lab")
        )
    return labels


@query(
    "graph_partition_modularity",
    """
    WITH lsh_pairs AS MATERIALIZED ({pairs}),
    comp AS ({components}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM lsh_pairs),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY v
    ),
    l AS (SELECT count(*) AS m FROM e),
    intra AS (
      SELECT ca.cluster_id, count(*) AS lc
      FROM e JOIN comp ca ON ca.doc_id = e.a
             JOIN comp cb ON cb.doc_id = e.b
      WHERE ca.cluster_id = cb.cluster_id
      GROUP BY ca.cluster_id
    ),
    dsum AS (
      SELECT comp.cluster_id, CAST(SUM(deg.d) AS BIGINT) AS dc
      FROM comp JOIN deg ON deg.v = comp.doc_id
      GROUP BY comp.cluster_id
    ),
    terms AS (
      SELECT d.cluster_id,
             4 * (SELECT m FROM l) * COALESCE(i.lc, 0) - d.dc * d.dc AS t
      FROM dsum d LEFT JOIN intra i USING (cluster_id)
    )
    SELECT CAST((SELECT count(*) FROM dsum) AS BIGINT) AS n_communities,
           CAST((SELECT m FROM l) AS BIGINT) AS n_edges,
           round(CAST(SUM(t) AS DOUBLE)
                 / (4.0 * (SELECT m FROM l) * (SELECT m FROM l)), 6)
             AS modularity
    FROM terms
    """,
)
def graph_partition_modularity(spark, sf_dir):
    """Newman modularity of the duplicate-cluster partition — the ONE
    number that says whether the connected-components clustering carves
    the near-dup graph at its joints (Q near the 0.3-0.7 'strong
    community structure' band) or merely chains everything together
    through weak links (Q → 0, the transitive-closure over-merge
    failure mode every MinHash-dedup pipeline must watch for).
    Q = Σ_c [L_c/L − (d_c/2L)²] is computed as the exact integer
    Σ_c (4·L·L_c − d_c²) over 4L² — one double division at the end —
    so the score is cross-engine exact; for a components partition every
    edge is intra-cluster by construction (L_c sums to L), which the
    oracle verifies implicitly by value. Scale shape: degrees and
    intra-edge counts are hash-grouped aggregates on the id-only edge
    list; the cluster chain (LSH pairs → star-contraction components)
    remains the only corpus-sized work. The oracle embeds BOTH upstream
    oracles as MATERIALIZED CTEs — the full composed lineage is
    value-checked."""
    pairs = _DEDUP_QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    # materialize BOTH shared inputs once: the components chain feeds two
    # consumers (intra-edge count and degree sum) and would re-execute its
    # whole star-contraction lineage per consumer otherwise (the round-7
    # advisory — this op was the slowest new query purely from recompute)
    comp = pin(
        QUERIES["dedup_cluster_components"](spark, sf_dir)
        .select("doc_id", "cluster_id")
    )
    e = pin(pairs)
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    m = e.count()  # driver-scalar (bounded: one aggregate count)
    ca = comp.select(F.col("doc_id").alias("a"), F.col("cluster_id").alias("cida"))
    cb = comp.select(F.col("doc_id").alias("b"), F.col("cluster_id").alias("cidb"))
    intra = (
        e.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("cida") == F.col("cidb"))
        .groupBy(F.col("cida").alias("cluster_id"))
        .agg(F.count("*").alias("lc"))
    )
    dsum = (
        comp.join(deg, comp.doc_id == deg.v)
        .groupBy("cluster_id")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    terms = dsum.join(intra, "cluster_id", "left").select(
        (
            F.lit(4 * m) * F.coalesce("lc", F.lit(0))
            - F.col("dc") * F.col("dc")
        ).alias("t")
    )
    # n_communities = |terms| (one row per cluster): counting inside the
    # single final aggregate replaces the extra dsum.count() driver action
    # that re-ran the degree-sum lineage
    return terms.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.lit(m).cast("long").alias("n_edges"),
        F.round(
            F.sum("t").cast("double") / (4.0 * m * m), 6
        ).alias("modularity"),
    )


ORACLES["graph_partition_modularity"] = ORACLES[
    "graph_partition_modularity"
].format(
    pairs=_DEDUP_ORACLES["dedup_minhash_lsh_pairs"],
    components=ORACLES["dedup_cluster_components"],
)


@query(
    "graph_community_conductance",
    """
    WITH cd_pairs AS MATERIALIZED (
      SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
      FROM ({pairs}) WHERE doc_a != doc_b GROUP BY 1, 2
    ),
    cd_lab AS MATERIALIZED (
      SELECT doc_id, community FROM ({lpa})
    ),
    cd_deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM cd_pairs UNION ALL SELECT b FROM cd_pairs
      ) GROUP BY v
    ),
    cd_vol AS (
      SELECT l.community, CAST(count(*) AS BIGINT) AS n_members,
             CAST(SUM(g.d) AS BIGINT) AS volume
      FROM cd_lab l JOIN cd_deg g ON g.v = l.doc_id
      GROUP BY l.community
    ),
    cd_e AS (
      SELECT la.community AS ca, lb.community AS cb
      FROM cd_pairs p
      JOIN cd_lab la ON la.doc_id = p.a
      JOIN cd_lab lb ON lb.doc_id = p.b
    ),
    cd_int AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS internal_edges
               FROM cd_e WHERE ca = cb GROUP BY 1),
    cd_cut AS (
      SELECT community, CAST(count(*) AS BIGINT) AS cut_edges FROM (
        SELECT ca AS community FROM cd_e WHERE ca != cb
        UNION ALL
        SELECT cb FROM cd_e WHERE ca != cb
      ) GROUP BY 1
    ),
    cd_tot AS (SELECT CAST(2 * count(*) AS BIGINT) AS vol2 FROM cd_pairs)
    SELECT v.community, v.n_members, v.volume,
           COALESCE(i.internal_edges, 0) AS internal_edges,
           COALESCE(c.cut_edges, 0) AS cut_edges,
           CASE WHEN least(v.volume, t.vol2 - v.volume) = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round(CAST(COALESCE(c.cut_edges, 0) AS DOUBLE)
                           / least(v.volume, t.vol2 - v.volume), 6)
           END AS conductance
    FROM cd_vol v
    LEFT JOIN cd_int i USING (community)
    LEFT JOIN cd_cut c USING (community), cd_tot t
    """,
)
def graph_community_conductance(spark, sf_dir):
    """Per-community conductance over the LPA partition — the
    community-quality complement of `graph_partition_modularity`
    (modularity is a one-number global score; conductance φ(C) =
    cut(C) / min(vol(C), vol(V∖C)) names WHICH communities leak, the
    bottleneck/expansion number spectral partitioning bounds). Uses the
    LPA communities rather than connected components because components
    have zero cut by construction (vacuous φ); LPA's dense-neighborhood
    labels genuinely split components (fixture-probed: 26 communities,
    ~6.3k cut endpoints). All counts are integers off the id-only edge
    list (degree, volume, internal, cut — sanity law 2·internal + cut =
    volume pinned in tests); one guarded double division per community
    row. The oracle embeds BOTH upstream oracles (LSH pairs, unrolled
    LPA rounds) as MATERIALIZED CTEs — the full composed lineage is
    value-checked. Scale shape: everything is hash-grouped aggregation
    and joins at edge/node grain with ids only; the LPA chain remains
    the only corpus-sized work."""
    pairs = _DEDUP_QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    und = pin(
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .distinct()
    )
    lab = pin(graph_label_propagation(spark, sf_dir))
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    vol = (
        lab.join(deg, lab.doc_id == deg.v)
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("d").cast("long").alias("volume"),
        )
    )
    la = lab.select(F.col("doc_id").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("doc_id").alias("b"), F.col("community").alias("cb"))
    e = und.join(la, "a").join(lb, "b")
    internal = (
        e.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("long").alias("internal_edges"))
    )
    cut = (
        e.filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("community"))
        .unionByName(
            e.filter(F.col("ca") != F.col("cb")).select(
                F.col("cb").alias("community")
            )
        )
        .groupBy("community")
        .agg(F.count("*").cast("long").alias("cut_edges"))
    )
    tot = und.agg((2 * F.count("*")).cast("long").alias("vol2"))
    mn = F.least(F.col("volume"), F.col("vol2") - F.col("volume"))
    return (
        vol.join(internal, "community", "left")
        .join(cut, "community", "left")
        .crossJoin(F.broadcast(tot))  # |communities| x 1 row
        .select(
            "community",
            "n_members",
            "volume",
            F.coalesce("internal_edges", F.lit(0)).cast("long").alias(
                "internal_edges"
            ),
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
            F.when(mn == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.coalesce("cut_edges", F.lit(0)).cast("double") / mn, 6
                )
            )
            .alias("conductance"),
        )
    )


ORACLES["graph_community_conductance"] = ORACLES[
    "graph_community_conductance"
].format(
    pairs=_DEDUP_ORACLES["dedup_minhash_lsh_pairs"],
    lpa=ORACLES["graph_label_propagation"],
)


_DH_CAP = 12  # dyadic buckets: 1, 2, 3-4, 5-8, ..., 1025-2048, 2049+


def _dh_case_sql(col: str) -> str:
    arms = [f"WHEN {col} <= 1 THEN 0"] + [
        f"WHEN {col} <= {1 << k} THEN {k}" for k in range(1, _DH_CAP)
    ]
    return "CASE " + " ".join(arms) + f" ELSE {_DH_CAP} END"


@query(
    "graph_degree_histogram",
    f"""
    WITH dh_pairs AS MATERIALIZED (
      SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
      FROM ({{pairs}}) WHERE doc_a != doc_b GROUP BY 1, 2
    ),
    dh_deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM dh_pairs UNION ALL SELECT b FROM dh_pairs
      ) GROUP BY v
    ),
    dh_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dh_deg)
    SELECT CAST({_dh_case_sql("d")} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(d) AS BIGINT) AS min_deg,
           CAST(max(d) AS BIGINT) AS max_deg,
           CAST(count(*) * 1000000 // dh_tot.n AS BIGINT) AS share_ppm
    FROM dh_deg, dh_tot
    GROUP BY bucket, dh_tot.n
    """,
)
def graph_degree_histogram(spark, sf_dir):
    """Dyadic degree histogram of the duplicate graph — the one-page
    graph-health readout that decides which machinery applies: a heavy
    tail (nodes in the top buckets) is the signal to salt the band joins
    (`join_skew_salted`), bound beam fan-out in the graph-ANN build, and
    expect star-contraction rather than label-propagation to converge
    fast. Buckets are powers of two (1, 2, 3-4, …, 1025-2048, 2049+)
    assigned by a pure integer CASE ladder — no log2() float call whose
    floor could disagree cross-engine at exact powers of two. share_ppm
    is integer floor-division. Scale shape: degrees are one partial-agg
    pass over the id-only edge list; the histogram is a ≤13-row
    aggregate; the node total is a 1-row broadcast. The oracle embeds
    the LSH-pairs oracle so the composed lineage is value-checked."""
    pairs = _DEDUP_QUERIES["dedup_minhash_lsh_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    # pin the id-only edge list like every other und consumer in this
    # module: without it the degree union (2×) times the tot/bucket
    # double-read re-instantiated the WHOLE upstream LSH pipeline 4× —
    # 16 documents scans in the audited plan, 4 with the pin (r15-opt
    # full-registry scan census; this body was the one und site missing
    # the module's standard pin).
    und = pin(
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    bucket = F.when(F.col("d") <= 1, 0)
    for k in range(1, _DH_CAP):
        bucket = bucket.when(F.col("d") <= (1 << k), k)
    bucket = bucket.otherwise(_DH_CAP)
    tot = deg.agg(F.count("*").cast("long").alias("n"))
    return (
        deg.select(bucket.cast("long").alias("bucket"), "d")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("d").cast("long").alias("min_deg"),
            F.max("d").cast("long").alias("max_deg"),
        )
        .crossJoin(F.broadcast(tot))  # <=13 rows x 1 row
        .select(
            "bucket",
            "n_nodes",
            "min_deg",
            "max_deg",
            F.expr("CAST(n_nodes * 1000000 DIV n AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


ORACLES["graph_degree_histogram"] = ORACLES["graph_degree_histogram"].format(
    pairs=_DEDUP_ORACLES["dedup_minhash_lsh_pairs"]
)


@query(
    "corpus_dedup_savings_report",
    """
    WITH RECURSIVE sv_pairs AS (
      SELECT doc_a, doc_b FROM ({pairs})
    ),
    sv_edges AS (
      SELECT doc_a AS s, doc_b AS d FROM sv_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM sv_pairs
    ),
    sv_reach(node, lbl) AS (
      SELECT s, s FROM sv_edges
      UNION
      SELECT e.d, r.lbl FROM sv_reach r JOIN sv_edges e ON e.s = r.node
    ),
    sv_comp AS (
      SELECT node AS doc_id, min(lbl) AS cluster_id FROM sv_reach GROUP BY node
    ),
    sv_s1 AS MATERIALIZED (
      SELECT d.doc_id, d.n_chars
      FROM documents d
      JOIN (SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY sha256(text)) k ON k.doc_id = d.doc_id
    ),
    sv_cmin AS (
      SELECT c.cluster_id, min(d.doc_id) AS keep_id
      FROM sv_s1 d JOIN sv_comp c ON c.doc_id = d.doc_id
      GROUP BY c.cluster_id
    ),
    sv_keep AS (
      SELECT d.doc_id, d.n_chars
      FROM sv_s1 d
      LEFT JOIN sv_comp c ON c.doc_id = d.doc_id
      LEFT JOIN sv_cmin m ON m.cluster_id = c.cluster_id
      WHERE m.keep_id IS NULL OR d.doc_id = m.keep_id
    ),
    sv_stages AS (
      SELECT 0 AS stage_idx, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_bytes
      FROM documents
      UNION ALL
      SELECT 1, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(SUM(n_chars) AS BIGINT) FROM sv_s1
      UNION ALL
      SELECT 2, 'near_dedup', CAST(count(*) AS BIGINT),
             CAST(SUM(n_chars) AS BIGINT) FROM sv_keep
    ),
    sv_raw AS (SELECT n_bytes AS raw_bytes FROM sv_stages WHERE stage_idx = 0)
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_docs, n_bytes,
           CAST((raw_bytes - n_bytes) * 1000000 // raw_bytes AS BIGINT)
             AS savings_ppm
    FROM sv_stages, sv_raw
    """,
)
def corpus_dedup_savings_report(spark, sf_dir):
    """Pipeline-economics rollup of the dedup cascade — the number a
    corpus owner actually budgets with: documents and bytes surviving
    each stage (raw → exact dedup → near-dup dedup) and the cumulative
    savings. Stage 1 keeps the min-doc_id per exact content hash; stage 2
    keeps, per near-dup component (`dedup_cluster_components`' star-
    contraction fixed point), the minimum SURVIVING doc — a component
    whose canonical doc was already removed as an exact duplicate keeps
    its next member, so the stages compose correctly rather than
    assuming stage independence. The oracle embeds the LSH-pairs oracle
    AND the recursive-CTE components inside one chain (sv_-prefixed CTEs
    — the embed-recursive collision trap), so the full composed lineage
    is value-checked. Exactness: doc counts, byte sums, and the
    floor-div savings are integers. Scale shape: the exact stage is one
    hash-groupBy; the near stage reuses the O(log n) contraction labels
    (ids-only); the keep rule is one per-cluster min + a broadcast-sized
    join; output is 3 rows."""
    docs = load(spark, sf_dir, "documents")
    s1 = (
        docs.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "n_chars")
    )
    comp = QUERIES["dedup_cluster_components"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    s1c = s1.join(comp, "doc_id", "left")
    cmin = (
        s1c.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    keep = s1c.join(F.broadcast(cmin), "cluster_id", "left").filter(
        F.col("keep_id").isNull() | (F.col("doc_id") == F.col("keep_id"))
    )

    def census(df, idx, name):
        return df.agg(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_bytes"),
        )

    stages = (
        census(docs.select("n_chars"), 0, "raw")
        .unionByName(census(s1, 1, "exact_dedup"))
        .unionByName(census(keep, 2, "near_dedup"))
    )
    raw = docs.agg(F.sum("n_chars").cast("long").alias("raw_bytes"))
    return stages.crossJoin(F.broadcast(raw)).select(
        "stage_idx",
        "stage",
        "n_docs",
        "n_bytes",
        F.expr(
            "CAST((raw_bytes - n_bytes) * 1000000 DIV raw_bytes AS BIGINT)"
        ).alias("savings_ppm"),
    )


ORACLES["corpus_dedup_savings_report"] = ORACLES[
    "corpus_dedup_savings_report"
].format(pairs=_DEDUP_ORACLES["dedup_minhash_lsh_pairs"])
