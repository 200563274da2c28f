"""EXT group — similarity search over embedding columns (SURVEY §2.3
X5/X6/X8 + ANN variants for the 100 TB path).

Embeddings are plain ``array<float>`` columns (not ML VectorUDT) so the
DuckDB oracle stays expressible. Cosine is composed from zip_with/aggregate
(JVM codegen, no Python); arrays are cast to double first so both engines
sum 64 doubles in index order — bit-identical accumulation.

Scale design: brute-force top-k is one narrow map + TakeOrderedAndProject
(embarrassingly parallel, probe broadcast as a literal). The ANN variants
show the two standard prune shapes: IVF (coarse quantizer -> search one
cell) and random-hyperplane LSH (sign-bucket equi-match). Both turn the
scan into a bucket-pruned scan; at 100 TB the bucket id becomes a partition
key so only matching partitions are read at all.
"""

from __future__ import annotations

import hashlib
import math
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine
from ..materialize import pin
from ..sources import load
from .base import make_registry

QUERIES, ORACLES, query = make_registry()

_TOPK = 10
_PROBE_ID = 0
_N_PLANES = 8

# Fixed-point centroid scale: component -> round(x * 1e6) as int64. Integer
# sums commute, so per-label centroids are accumulation-order-independent —
# the trick that upgrades the centroid family from ROWS-only to EXACT
# (probed round 2: double avg AND decimal-cast sums both diverge
# cross-engine; integer quantization is the determinism-by-construction
# escape, same reasoning as graph_pagerank_int).
_CENT_SCALE = 1_000_000

_CENT_SQL = f"""cent AS (
      SELECT label AS c_label, list(cq ORDER BY pos) AS centroid
      FROM (
        SELECT label, pos, CAST(SUM(q) AS DOUBLE) / COUNT(*) AS cq
        FROM (
          SELECT label, i AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE) * {_CENT_SCALE})
                      AS BIGINT) AS q
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
        ) GROUP BY label, pos
      ) GROUP BY label
    )"""


def _quantize(col):
    """Fixed-point quantize a double array (see _CENT_SCALE) to BIGINTs —
    the Spark twin of the oracles' ``CAST(round(x * _CENT_SCALE) AS BIGINT)``."""
    return F.transform(col, lambda x: F.round(x * _CENT_SCALE).cast("long"))


def _dequantize():
    """The fixed-point centroid column ``cq`` back as doubles — the Spark
    twin of the oracles' ``list_transform(cq, q -> CAST(q AS DOUBLE) /
    _CENT_SCALE)``."""
    return F.transform("cq", lambda q: q.cast("double") / _CENT_SCALE)


_KM_FIXTURE_N = 500  # both graded fixtures (sf0.001/sf0.01) carry 500 vectors


def _graded_n(e, sf_dir: str, n_override: int = None) -> int:
    """Embedding count ``n`` for the derived-width keys: ``n_override``
    (law tests) or ``e.count()``. The oracles of those keys are frozen at
    values derived from _KM_FIXTURE_N, while the Spark path derives them
    from the live count, so a regenerated graded fixture with another
    count fails HERE with the real cause instead of as what looks like an
    operator bug at the driver gate (ADVICE r11)."""
    if n_override is not None:
        return n_override
    n = e.count()
    if sf_dir.rstrip("/").endswith(("sf0.001", "sf0.01")) and n != _KM_FIXTURE_N:
        raise ValueError(
            f"graded fixture {sf_dir} has {n} embeddings but the oracle SQL "
            f"is frozen at _KM_FIXTURE_N={_KM_FIXTURE_N} (similarity.py) — "
            "update the constant and the oracles derived from it to match "
            "the regenerated fixture"
        )
    return n


def _int_centroids(e):
    """Per-label centroids from fixed-point component sums (see
    _CENT_SCALE): quantize -> integer sum -> one double division, then
    re-assemble position-sorted centroid arrays."""
    q = F.round(F.col("x") * _CENT_SCALE).cast("long")
    return (
        e.select("label", F.posexplode(as_double("embedding")).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg((F.sum(q).cast("double") / F.count("*")).alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pairs"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pairs", lambda p: p.getField("cx")).alias("centroid"),
        )
    )


@query(
    "sim_cosine_topk",
    f"""
    SELECT vec_id, label, cos_sim FROM (
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                    WHERE vec_id = {_PROBE_ID})), 6) AS cos_sim
      FROM embeddings e WHERE e.vec_id != {_PROBE_ID}
    ) ORDER BY cos_sim DESC, vec_id LIMIT {_TOPK}
    """,
)
def sim_cosine_topk(spark, sf_dir):
    """X5 — brute-force cosine top-10 against probe vec_id=0. The probe row
    is joined via broadcast (1-row dimension); the similarity map is
    codegen'd; the global top-k is TakeOrderedAndProject (per-partition
    heaps, no global sort)."""
    return (
        _probe_cosines(spark, sf_dir)
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(_TOPK)
    )


def _probe_cosines(spark, sf_dir):
    """(vec_id, label, cos_sim) of every non-probe vector against the
    probe vec_id=0: the probe row joins as a 1-row broadcast and the
    6dp-rounded cosine is one codegen'd map."""
    e = load(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == _PROBE_ID).select(
        as_double("embedding").alias("probe_emb")
    )
    return (
        e.filter(F.col("vec_id") != _PROBE_ID)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.round(
                cosine(as_double("embedding"), F.col("probe_emb")), 6
            ).alias("cos_sim"),
        )
    )


@query(
    "sim_knn_label_centroid",
    f"""
    WITH {_CENT_SQL},
    scored AS (
      SELECT e.vec_id, e.label, c.c_label,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          c.centroid), 6) AS cs
      FROM embeddings e, cent c
    ),
    best AS (
      SELECT vec_id, label, c_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, c_label) AS rn
      FROM scored
    )
    SELECT label, c_label AS assigned_label, count(*) AS n
    FROM best WHERE rn = 1 GROUP BY label, c_label
    """,
)
def sim_knn_label_centroid(spark, sf_dir):
    """X6 — per-label centroids then nearest-centroid assignment: the
    confusion census (label, assigned_label, n). posexplode -> fixed-point
    sum per (label, position) -> re-assemble centroid arrays -> cross join
    (10 centroids, broadcast) -> argmin by cosine.

    EXACT-oracle-checked (round 4; previously ROWS-only): float-avg
    centroids are accumulation-order-dependent — and the decimal-cast
    escape is closed too (probed round 2: Spark float32->DECIMAL keeps
    different trailing digits than DuckDB) — but integer-quantized
    component sums commute, so ``_int_centroids`` is deterministic in both
    engines; the assignment then ranks by the 6dp-ROUNDED similarity with
    a label tie-break so last-ulp libm drift can't flip an argmin."""
    e = load(spark, sf_dir, "embeddings")
    cent = _int_centroids(e)
    scored = (
        e.select("vec_id", "label", as_double("embedding").alias("emb"))
        .join(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "c_label",
            F.round(cosine("emb", F.col("centroid")), 6).alias("cs"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cs"), "c_label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label", F.col("c_label").alias("assigned_label"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "multimodal_columns",
    """
    SELECT d.doc_id, d.lang, CAST(len(e.embedding) AS INTEGER) AS emb_dim
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE len(e.embedding) = 64
    """,
)
def multimodal_columns(spark, sf_dir):
    """X8 — array/struct columns flow through join/filter/project
    unharmed: embeddings joined to documents by id, dimension invariant
    checked in-plan (no float values hashed — lengths and ids only)."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .filter(F.size("embedding") == 64)
        .select("doc_id", "lang", F.size("embedding").alias("emb_dim"))
    )


def _planes(n: int = _N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: ±1 entries derived from
    sha256(plane,index) parity. Generated driver-side, shipped as literals
    (and inlined into the oracle SQL) — no RNG state anywhere. ``n``
    defaults to the fixture-tuned plane count; the scale-slope variant of
    the blocked graph build asks for more (bits ∝ log n — see
    :func:`sim_ann_graph_topk_blocked_scaled`)."""
    planes = []
    for p in range(n):
        row = []
        for i in range(64):
            h = hashlib.sha256(f"plane{p}|{i}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _lsh_bucket_sql(col: str, n_planes: int | None = None, start: int = 0) -> str:
    """``start`` selects a DISJOINT plane range [start, start+n) — the
    banded keys' OR-amplification uses band b = planes [b*bits, (b+1)*bits)
    so no band shares a plane with another (independent blocking trials)."""
    n = _N_PLANES if n_planes is None else n_planes
    parts = []
    for plane in _planes(start + n)[start : start + n]:
        lit = "[" + ", ".join(str(x) for x in plane) + "]"
        parts.append(
            f"CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), {lit}) > 0 "
            "THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(parts) + ")"


@query(
    "sim_ann_lsh_topk",
    f"""
    WITH b AS (
      SELECT vec_id, label, embedding,
             {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    probe AS (SELECT bucket, CAST(embedding AS DOUBLE[]) AS pe
              FROM b WHERE vec_id = {_PROBE_ID})
    SELECT vec_id, bucket, cos_sim FROM (
      SELECT b.vec_id, b.bucket,
             round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), probe.pe), 6)
               AS cos_sim
      FROM b, probe WHERE b.bucket = probe.bucket AND b.vec_id != {_PROBE_ID}
    ) ORDER BY cos_sim DESC, vec_id LIMIT {_TOPK}
    """,
)
def sim_ann_lsh_topk(spark, sf_dir):
    """ANN via random-hyperplane LSH: 8 sign bits -> bucket string; search
    only the probe's bucket. EXACT-oracle-checked including the bucketing
    (planes are deterministic sha-derived literals inlined into both
    engines). At scale, bucket is the partition key: partition pruning
    turns top-k into a single-bucket scan; multi-probe (hamming-1 buckets)
    is the recall knob."""
    return _lsh_probe_topk(spark, sf_dir, F.col("bucket"))


def _lsh_probe_topk(spark, sf_dir, p_bucket):
    """Hyperplane-LSH top-k: every vector's ``_N_PLANES``-bit sign bucket,
    then the exact cosine top-k among the vectors whose bucket is one the
    probe searches. ``p_bucket`` is evaluated on the probe row (its
    ``bucket`` column in scope) and yields the searched buckets; they
    join as a broadcast."""
    planes = _planes()
    e = load(spark, sf_dir, "embeddings")
    emb = as_double("embedding")
    bits = [
        F.when(cosine_free_dot(emb, plane) > 0, "1").otherwise("0")
        for plane in planes
    ]
    b = e.select(
        "vec_id", "label", "embedding", F.concat(*bits).alias("bucket")
    )
    probe = b.filter(F.col("vec_id") == _PROBE_ID).select(
        p_bucket.alias("p_bucket"), as_double("embedding").alias("pe")
    )
    return (
        b.join(F.broadcast(probe), F.col("bucket") == F.col("p_bucket"))
        .filter(F.col("vec_id") != _PROBE_ID)
        .select(
            "vec_id",
            "bucket",
            F.round(cosine(as_double("embedding"), F.col("pe")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(_TOPK)
    )


def cosine_free_dot(emb, plane: list[float]):
    """dot(emb, literal plane) via zip_with/aggregate (plane as array lit)."""
    lit = F.array(*[F.lit(x) for x in plane])
    return F.aggregate(
        F.zip_with(emb, lit, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )


@query(
    "sim_ann_multiprobe_topk",
    f"""
    WITH b AS (
      SELECT vec_id, label, embedding,
             {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    probe AS (SELECT bucket, CAST(embedding AS DOUBLE[]) AS pe
              FROM b WHERE vec_id = {_PROBE_ID}),
    probe_buckets AS (
      SELECT DISTINCT CASE WHEN i = 0 THEN bucket
             ELSE substr(bucket, 1, i - 1)
                  || (CASE substr(bucket, i, 1) WHEN '1' THEN '0' ELSE '1' END)
                  || substr(bucket, i + 1)
             END AS pb
      FROM probe, (SELECT unnest(generate_series(0, {_N_PLANES})) AS i)
    )
    SELECT vec_id, bucket, cos_sim FROM (
      SELECT b.vec_id, b.bucket,
             round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), probe.pe), 6)
               AS cos_sim
      FROM b JOIN probe_buckets ON b.bucket = probe_buckets.pb, probe
      WHERE b.vec_id != {_PROBE_ID}
    ) ORDER BY cos_sim DESC, vec_id LIMIT {_TOPK}
    """,
)
def sim_ann_multiprobe_topk(spark, sf_dir):
    """Multi-probe LSH — the recall knob ``sim_ann_lsh_topk``'s docstring
    names: search the probe's own bucket PLUS every hamming-1 bucket (flip
    one of the 8 sign bits -> 9 buckets total). A vector whose true
    neighbors straddle one hyperplane is the common LSH failure; probing
    the adjacent buckets recovers exactly those neighbors at 9x the
    candidate volume — still a vanishing fraction of the corpus (9/256 of
    buckets at 8 planes) versus brute force. EXACT-oracle-checked: the
    bit-flip expansion is inlined into the DuckDB SQL too. At scale the
    bucket stays the partition key — multi-probe reads nprobe partitions
    instead of one, no shuffle-shape change; candidates from the 9
    bucket-joins share one TakeOrderedAndProject."""
    flips = [F.col("bucket")]
    for i in range(1, _N_PLANES + 1):
        flips.append(
            F.concat(
                F.substring("bucket", 1, i - 1),
                F.when(F.substring("bucket", i, 1) == "1", "0").otherwise("1"),
                F.substring("bucket", i + 1, _N_PLANES),
            )
        )
    return _lsh_probe_topk(
        spark, sf_dir, F.explode(F.array_distinct(F.array(*flips)))
    )


@query(
    "sim_ann_ivf_topk",
    f"""
    WITH {_CENT_SQL},
    probe AS (SELECT CAST(embedding AS DOUBLE[]) AS pe FROM embeddings
              WHERE vec_id = {_PROBE_ID}),
    best_cell AS (
      SELECT c_label AS cell FROM cent, probe
      ORDER BY round(list_cosine_similarity(centroid, pe), 6) DESC, c_label
      LIMIT 3
    )
    SELECT vec_id, label, cos_sim FROM (
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          probe.pe), 6) AS cos_sim
      FROM embeddings e JOIN best_cell ON e.label = best_cell.cell, probe
      WHERE e.vec_id != {_PROBE_ID}
    ) ORDER BY cos_sim DESC, vec_id LIMIT {_TOPK}
    """,
)
def sim_ann_ivf_topk(spark, sf_dir):
    """ANN via IVF (inverted-file): coarse cells = per-label centroids
    (stand-in for k-means at fixture scale), probe assigned to its nprobe=3
    nearest cells, exhaustive search inside those cells only.
    EXACT-oracle-checked (round 4; previously ROWS-only): cells come from
    the fixed-point ``_int_centroids`` (deterministic cross-engine) and
    cell selection orders by the 6dp-rounded similarity with a cell
    tie-break, so the pruned cell set — and therefore the exhaustive
    in-cell top-k — is value-checked end to end. The recall-vs-brute unit
    test still guards search quality. At 100 TB: cells are
    list-partitioned on cell id, nprobe controls the recall/latency trade
    (3/10 cells here because the synthetic labels cluster weakly)."""
    e = load(spark, sf_dir, "embeddings")
    cent = _int_centroids(e).select(
        F.col("c_label").alias("cell"), "centroid"
    )
    probe = e.filter(F.col("vec_id") == _PROBE_ID).select(
        as_double("embedding").alias("pe")
    )
    # nprobe=3 nearest cells for the probe (10 cells, stays a DF op)
    best_cell = (
        cent.join(F.broadcast(probe))
        .select(
            "cell", F.round(cosine(F.col("centroid"), F.col("pe")), 6).alias("cs")
        )
        .orderBy(F.desc("cs"), "cell")
        .limit(3)
        .select("cell")
    )
    return (
        e.join(F.broadcast(best_cell), e.label == F.col("cell"))
        .filter(F.col("vec_id") != _PROBE_ID)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.round(cosine(as_double("embedding"), F.col("pe")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(_TOPK)
    )


# ---- learned IVF: Lloyd's k-means with fixed-point integer centroids ----
#
# Cross-engine exact iterative clustering needs every round's state to be
# bit-identical in Spark and DuckDB. Three disciplines make it so:
#   1. centroid components are INT64 (scale 1e6) — integer sums commute;
#   2. the update step is floor(SUM(q)::DOUBLE / COUNT(*)) — the same two
#      double ops in both engines (sums stay < 2^53, so the cast is exact);
#   3. assignment orders by 6dp-rounded cosine with a cell tie-break.
# The oracle unrolls all iterations as chained CTEs (the
# graph_pagerank_int pattern), so the full iterative computation is
# value-checked, not just the final shape.
_KM_ITERS = 2
_KM_NPROBE = 3


def _km_iter_sql(prev_c: str, a: str, cur_c: str, src: str = "qv") -> str:
    """One Lloyd round as two CTEs: assignment under ``prev_c`` and the
    fixed-point centroid update producing ``cur_c``. ``src`` is the
    vector CTE the round trains on — ``qv`` (full corpus) by default,
    the stride-sampled ``sv`` for the sample-capped train."""
    return f"""{a} AS (
      SELECT vec_id, cell FROM (
        SELECT {src}.vec_id, c.cell,
               row_number() OVER (PARTITION BY {src}.vec_id
                 ORDER BY round(list_cosine_similarity({src}.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM {src}, {prev_c} c
      ) WHERE rn = 1
    ),
    {cur_c} AS (
      SELECT cell, list(cq1 ORDER BY pos) AS cq FROM (
        SELECT a.cell, i AS pos,
               CAST(floor(CAST(SUM({src}.qe[i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cq1
        FROM {a} a JOIN {src} USING (vec_id),
             (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY a.cell, i
      ) GROUP BY cell
    )"""


def _km_assign(e_q, cents):
    """Nearest-centroid assignment: broadcast the (tiny) centroid table,
    score every vector against every cell, keep the per-vector argmax
    (6dp-rounded cosine, cell tie-break: max cs, then smallest cell —
    ``max_by`` over an orderable struct, where -cell makes the
    lexicographic max pick the smallest cell id on cs ties).

    Shape (round 12): ``max_by`` is a partial-aggregable reduction, so
    the n*k scored rows collapse map-side to one row per vector before
    the exchange — the previous row_number window shuffled and SORTED all
    n*k rows per assign, the dominant train cost once k grows as sqrt(n)
    (the auto key at sf2.5: 50k vectors x 224 cells = 11M rows per
    assign, 3 assigns per train).

    Round 15: the ENGINE now assigns through `_km_assign_arrow` (the
    r14 100x census measured this interpreted fold at 91% of the
    sampled-IVF build's cost); this fold is kept as the law-test twin —
    tests pin fold ≡ Arrow on every (vec_id, cell) at both graded
    fixtures, which is what lets the Arrow stage claim exactness."""
    cd = _dequantize()
    return (
        e_q.join(F.broadcast(cents))
        .select(
            "vec_id", "cell", F.round(cosine(F.col("de"), cd), 6).alias("cs")
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cell", F.struct(F.col("cs"), (-F.col("cell")).alias("nc"))
            ).alias("cell")
        )
        .select("vec_id", "cell")
    )


def _km_assign_arrow(e_q, cents):
    """Exact Arrow twin of `_km_assign` — the same 6dp-rounded-cosine
    argmax with the same tie discipline (max cs, then lowest cell id),
    computed as one vectorized numpy matmul per Arrow batch instead of
    an interpreted per-(vector, cell) expression fold.

    Why it exists (round 15, VERDICT r14 item 1): the r14 100x census
    measured the interpreted broadcast-centroid fold at 91% of the
    sampled-IVF query's cost at 200k vectors (86-96 s of ~95 s) — the
    fold evaluates a 64-element zip_with/aggregate expression tree n*k
    times in the interpreter. The prototyped replacement read 1.5-5.5 s
    vs 73 s — up to 48x — at 200,000/200,000 cell agreement. Hierarchical
    two-level assignment was prototyped too and LOSES (17.9% agreement:
    near-isotropic 64-dim embeddings don't cluster hierarchically);
    this is the exact fix, not an approximation.

    Shape: the trained centroid table is a bounded driver scalar
    (k <= _KM_AUTO_MAX_K = 4096 rows x 64 components, <= 2 MB) —
    collected once (driver-scalar, the two-pass idiom) and broadcast
    as a dense float64 matrix; assignment is then ONE `mapInPandas`
    pass over the corpus: per Arrow batch a (rows x 64) @ (64 x k)
    BLAS matmul over the same operands the fold sees (de, and the
    exactly-representable dequantized centroids cq / _CENT_SCALE, in
    the same dot/(norm*norm) form), rounded to 6dp; cells are laid out
    ascending so numpy's first-maximum argmax IS the lowest-cell-id
    tie-break. No shuffle at all — the fold's map-side max_by exchange
    disappears; at 100 TB this is an embarrassingly parallel scan with
    a KB-scale broadcast, the cheapest shape an index-build assignment
    can have. Law tests pin Arrow ≡ fold bit-identically on every cell
    at both graded fixtures (tests/test_round15_ops.py), and the
    unrolled-trajectory oracles of all six consumer keys re-prove the
    whole training chain cross-engine through the driver gate."""
    spark = e_q.sparkSession
    # bounded by construction: k <= 4096 centroid rows (clamped by
    # _km_auto_k / the label count), ~64 int64 components each — <=2 MB.
    rows = cents.select("cell", "cq").collect()  # driver-bounded: k<=4096
    crows = sorted(rows, key=lambda r: r.cell)
    cell_ids = np.array([r.cell for r in crows], dtype=np.int64)
    C = np.array([r.cq for r in crows], dtype=np.float64) / _CENT_SCALE
    c_norm = np.sqrt((C * C).sum(axis=1))
    bc = spark.sparkContext.broadcast((cell_ids, C.T.copy(), c_norm))

    def assign_batches(it):
        return _km_assign_kernel(it, bc.value)

    out = e_q.select("vec_id", "de").mapInPandas(
        assign_batches, "vec_id long, cell long"
    )
    # restore the incoming cell dtype (label-seeded trainers carry int32
    # cells; vec_id-seeded trainers carry int64) so downstream schemas
    # are byte-identical to the interpreted fold's.
    return out.select(
        F.col("vec_id").cast(e_q.schema["vec_id"].dataType),
        F.col("cell").cast(cents.schema["cell"].dataType),
    )


def _km_assign_kernel(it, centroids):
    """The ``mapInPandas`` kernel of :func:`_km_assign_arrow` over the
    broadcast (cell ids, C.T, centroid norms). Module level, so a Python
    worker unpickles it by reference and imports this package (see
    ``functions.crypto.make_hmac_udf``)."""
    ids, CT, cn = centroids
    for pdf in it:
        if len(pdf) == 0:
            continue
        V = np.array(pdf["de"].tolist(), dtype=np.float64)
        vn = np.sqrt((V * V).sum(axis=1))
        sims = np.round((V @ CT) / np.outer(vn, cn), 6)
        best = sims.argmax(axis=1)  # first max = lowest cell id
        yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": ids[best]})


def _km_update(assign, e_q):
    """Fixed-point centroid update: per-(cell, pos) integer sums, one
    floored double division, re-assembled as position-sorted arrays."""
    return (
        assign.alias("a")
        .join(e_q.alias("v"), F.col("a.vec_id") == F.col("v.vec_id"))
        .select("a.cell", F.posexplode("v.qe").alias("pos", "q"))
        .groupBy("cell", "pos")
        .agg(
            F.floor(F.sum("q").cast("double") / F.count("*"))
            .cast("long")
            .alias("cq1")
        )
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cq1"))).alias("p"))
        .select("cell", F.transform("p", lambda s: s.getField("cq1")).alias("cq"))
    )


def _km_train(spark, e_q, k: int, stride: int):
    """Sampled-Lloyd coarse-quantizer train, shared by the IVF-auto,
    batch-serve and SemDeDup bodies: returns the trained (cell, cq)
    centroid table after ``_KM_ITERS`` Lloyd rounds, vec_id-seeded with
    the k smallest ids as singleton cells.

    ``stride > 1`` (the production sample-capped regime) trains
    DRIVER-LOCAL (round-15 optimization session 2, guide §1.2 step 1):
    the stride rule ``max(1, n // (_KM_SAMPLE_FACTOR·k))`` bounds the
    train sample at ~2·_KM_SAMPLE_FACTOR·k ≤ ~65k rows by construction
    (k ≤ _KM_AUTO_MAX_K = 4096), i.e. a bounded table in the
    `# driver-bounded` collect class — and single-node training of the
    coarse quantizer on the sample is the standard production shape
    (ANN libraries train the quantizer on tens of samples per centroid,
    never distributed). The distributed loop paid, PER ITERATION, one
    centroid collect + one Arrow assignment pass + one (cell, pos)
    shuffle + one pin over a few-hundred-row sample — measured 2.4-3.7 s
    of pure job overhead per train at sf0.001-sf0.1 vs 0.3-0.4 s local.
    The arithmetic is the engine's EXACTLY: the `_km_assign_arrow` 6dp-rounded-cosine
    first-max argmax (cells ascending) and the `_km_update` floored
    integer mean (int64 sums ≤ 65k·2e6 ≈ 1.3e11 — exact in float64
    division); centroid sets are law-pinned bit-identical to the
    distributed loop at both graded fixtures AND were verified at sf0.1
    for both sizing rules (proto log). Corpus-grain work (the final
    full-corpus assignment, serving) stays distributed.

    ``stride <= 1`` (the full-corpus-train contrast regime,
    `sim_ann_kmeans_ivf_topk_auto`) keeps the distributed loop verbatim
    — there the train set IS the corpus and must never hit the driver."""
    cents = e_q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("qe").alias("cq")
    )
    if stride <= 1:
        for _ in range(_KM_ITERS):
            cents = pin(_km_update(_km_assign_arrow(e_q, cents), e_q))
        return cents
    seeds = sorted(
        cents.collect(),  # driver-bounded: k <= _KM_AUTO_MAX_K rows
        key=lambda r: r.cell,
    )
    trows = (
        e_q.filter(F.col("vec_id") % stride == 0)
        .select("vec_id", "de", "qe")
        .collect()  # driver-bounded: stride-capped sample (<= ~2·8·k rows)
    )
    V = np.array([r.de for r in trows], dtype=np.float64)
    Q = np.array([r.qe for r in trows], dtype=np.int64)
    vn = np.sqrt((V * V).sum(axis=1))
    cells = np.array([r.cell for r in seeds], dtype=np.int64)
    C = np.array([r.cq for r in seeds], dtype=np.int64)
    for _ in range(_KM_ITERS):
        Cd = C.astype(np.float64) / _CENT_SCALE
        cn = np.sqrt((Cd * Cd).sum(axis=1))
        sims = np.round((V @ Cd.T) / np.outer(vn, cn), 6)
        best = sims.argmax(axis=1)  # first max = lowest cell id (cells asc)
        new_cells, new_C = [], []
        for ci in range(len(cells)):
            mask = best == ci
            cnt = int(mask.sum())
            if cnt == 0:
                continue  # emptied cell drops, as the groupBy's does
            s = Q[mask].sum(axis=0)  # int64 — exact
            new_cells.append(cells[ci])
            new_C.append(np.floor(s.astype(np.float64) / cnt).astype(np.int64))
        cells = np.array(new_cells, dtype=np.int64)
        C = np.array(new_C, dtype=np.int64)
    return spark.createDataFrame(
        [(int(c), [int(x) for x in row]) for c, row in zip(cells, C)],
        "cell long, cq array<bigint>",
    )


def _km_ivf_serve(e_q, cents, nprobe: int):
    """Learned-IVF serve over trained ``cents`` (cell, cq): assign every
    vector of ``e_q`` (vec_id, de, qe) to its cell, rank the cells by
    cosine to the probe, keep the ``nprobe`` best, and rerank the vectors
    in those cells exactly — the top-_TOPK (vec_id, cell, cos_sim)."""
    final_assign = _km_assign_arrow(e_q, cents)
    probe = e_q.filter(F.col("vec_id") == _PROBE_ID).select(
        F.col("de").alias("pe")
    )
    cd = _dequantize()
    best_cell = (
        cents.join(F.broadcast(probe))
        .select("cell", F.round(cosine(cd, F.col("pe")), 6).alias("cs"))
        .orderBy(F.desc("cs"), "cell")
        .limit(nprobe)
        .select("cell")
    )
    return (
        final_assign.join(F.broadcast(best_cell), "cell")
        .alias("a")
        .join(e_q.alias("v"), F.col("a.vec_id") == F.col("v.vec_id"))
        .filter(F.col("a.vec_id") != _PROBE_ID)
        .join(F.broadcast(probe))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("a.cell").alias("cell"),
            F.round(cosine(F.col("v.de"), F.col("pe")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(_TOPK)
    )


@query(
    "sim_ann_kmeans_ivf_topk",
    f"""
    WITH qv AS (
      SELECT vec_id, label,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    seeds AS (SELECT label AS cell, min(vec_id) AS sid
              FROM embeddings GROUP BY label),
    c0 AS (SELECT s.cell, qv.qe AS cq
           FROM seeds s JOIN qv ON qv.vec_id = s.sid),
    {_km_iter_sql("c0", "a1", "c1")},
    {_km_iter_sql("c1", "a2", "c2")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    probe AS (SELECT de AS pe FROM qv WHERE vec_id = {_PROBE_ID}),
    best_cell AS (
      SELECT cell FROM c{_KM_ITERS}, probe
      ORDER BY round(list_cosine_similarity(
                 list_transform(cq, q -> CAST(q AS DOUBLE) / {_CENT_SCALE}),
                 pe), 6) DESC, cell
      LIMIT {_KM_NPROBE}
    )
    SELECT vec_id, cell, cos_sim FROM (
      SELECT qv.vec_id, a.cell,
             round(list_cosine_similarity(qv.de, probe.pe), 6) AS cos_sim
      FROM afin a JOIN qv USING (vec_id)
      JOIN best_cell USING (cell), probe
      WHERE qv.vec_id != {_PROBE_ID}
    ) ORDER BY cos_sim DESC, vec_id LIMIT {_TOPK}
    """,
)
def sim_ann_kmeans_ivf_topk(spark, sf_dir):
    """Learned IVF: coarse cells trained by {_KM_ITERS} Lloyd's k-means
    iterations (seeded with each label's min-vec_id vector), then the
    standard IVF search — probe assigned to its nprobe nearest LEARNED
    cells, exhaustive cosine inside those cells only. Completes the ANN
    story past ``sim_ann_ivf_topk``'s label-defined cells: the cells here
    come from the data, not the metadata.

    Every Lloyd round is assignment (broadcast K centroids, argmax of
    6dp-rounded cosine, cell tie-break — since round 15 the exact
    Arrow-matmul stage `_km_assign_arrow`, law-pinned bit-identical to
    the interpreted fold) + update (integer component sums, one floored
    double division — see the fixed-point block comment). The oracle
    unrolls all rounds as chained CTEs, so the entire training
    trajectory is value-checked cross-engine. At 100 TB: K centroids are
    a broadcast dimension (KB-scale); each round is one embarrassingly
    parallel Arrow scan + one partial-aggregating shuffle keyed by
    (cell, pos); assignment state never leaves the executors; the
    trained cell id becomes the partition key so a probe reads nprobe/K
    of the data."""
    e = load(spark, sf_dir, "embeddings")
    e_q = pin(
        e.select(
            "vec_id",
            "label",
            as_double("embedding").alias("de"),
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    seeds = e.groupBy("label").agg(F.min("vec_id").alias("sid"))
    cents = (
        seeds.alias("s")
        .join(e_q.alias("v"), F.col("s.sid") == F.col("v.vec_id"))
        .select(F.col("s.label").alias("cell"), F.col("v.qe").alias("cq"))
    )
    for _ in range(_KM_ITERS):
        # eager checkpoint per round: K rows, keeps the plan shallow and
        # lets the trained table's three consumers (final assignment,
        # probe cell ranking, search join) reuse it instead of re-running
        # the whole training lineage.
        cents = pin(_km_update(_km_assign_arrow(e_q, cents), e_q))
    return _km_ivf_serve(e_q, cents, _KM_NPROBE)


@query(
    "emb_quantize_int8",
    """
    SELECT vec_id,
           CAST(list_aggregate(
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 127 + 0.5) AS INTEGER)),
             'sum') AS BIGINT) AS q_checksum,
           CAST(list_aggregate(
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(abs(CAST(floor(x * 127 + 0.5) AS INTEGER))
                                      AS INTEGER)),
             'max') AS INTEGER) AS q_max_abs
    FROM embeddings
    """,
)
def emb_quantize_int8(spark, sf_dir):
    """Embedding int8 quantization (x -> floor(x*127 + 0.5)): the standard
    4x compression for ANN indexes. The explicit floor(+0.5) formula runs
    the identical double ops in both engines (builtin round() half-mode
    differs), making the quantized values — summarized here as checksum +
    max-abs per vector — EXACT-checkable. Narrow map, no shuffle."""
    emb = as_double("embedding")
    q = F.transform(emb, lambda x: F.floor(x * 127 + 0.5).cast("int"))
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_checksum"
        ),
        F.array_max(F.transform(q, lambda x: F.abs(x))).alias("q_max_abs"),
    )


@query(
    "emb_norm_stats",
    """
    SELECT label, count(*) AS n_vecs,
           round(CAST(SUM(CAST(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                     CAST(embedding AS DOUBLE[])))
                          AS DECIMAL(18,10))) AS DOUBLE) / count(*), 6)
             AS avg_l2_norm
    FROM embeddings GROUP BY label
    """,
)
def emb_norm_stats(spark, sf_dir):
    """Per-label embedding-norm QA (catches unnormalized or degenerate
    vectors before they poison cosine search). Each row's L2 norm is
    bit-identical cross-engine (same double ops in index order); the group
    average goes through an exact DECIMAL sum so accumulation order can't
    shift the rounded result."""
    from ..functions.vectors import norm

    n = norm(as_double("embedding"))
    return (
        load(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(
                F.sum(n.cast("decimal(18,10)")).cast("double") / F.count("*"), 6
            ).alias("avg_l2_norm"),
        )
    )


_KNN_K = 3
_KNN_STRIDE = 100  # query set = every 100th vector


@query(
    "sim_knn_join",
    f"""
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT q.vec_id AS q_id, e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])), 6)
               AS cos_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])), 6) DESC, e.vec_id)
               AS rn
      FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      WHERE q.vec_id % {_KNN_STRIDE} = 0
    ) WHERE rn <= {_KNN_K}
    """,
)
def sim_knn_join(spark, sf_dir):
    """Batch k-NN JOIN — top-k corpus neighbors for EVERY query vector at
    once (the retrieval/labeling workload shape), not a single probe like
    sim_cosine_topk: every 100th vector is a query
    (:func:`_batch_probe_topk`). At 100 TB: same plan, query batch capped
    to keep the broadcast under the executor budget."""
    return _batch_probe_topk(
        spark, sf_dir, F.col("vec_id") % _KNN_STRIDE == 0, _KNN_K
    ).select(F.col("pid").alias("q_id"), "vec_id", "cos_sim")


def _batch_probe_topk(spark, sf_dir, probe_filter, k: int):
    """Top-``k`` corpus neighbors of every probe in a batch: the vectors
    passing ``probe_filter`` broadcast (the small side by construction);
    each corpus partition scores all probes locally — an embarrassingly
    parallel nested loop with NO shuffle of the corpus — and a
    ``row_number`` window partitioned by probe keeps the first ``k``
    (pid, vec_id, rk, cos_sim) per probe, a vector never its own
    neighbor. Only the per-(probe, corpus-partition) top-k rows reach
    the window's shuffle, sized |probes| × k × partitions, independent
    of corpus width. Ranking orders by the ROUNDED similarity with vec_id
    tie-break in both engines, so the selected set is deterministic.
    Scale note: with FEW probes the ranking window skews (one partition
    per probe); the fix is the two-level top-K of
    ``topk_per_group_twolevel`` — per-(probe, salt) pre-top-K then merge
    — proven result-identical there; with realistic probe batches
    (millions) the window partitioning is already uniform."""
    e = load(spark, sf_dir, "embeddings")
    probes = e.filter(probe_filter).select(
        F.col("vec_id").alias("pid"), as_double("embedding").alias("pe")
    )
    w = Window.partitionBy("pid").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        e.join(F.broadcast(probes), F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "vec_id",
            F.round(cosine(as_double("embedding"), F.col("pe")), 6).alias(
                "cos_sim"
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


@query(
    "emb_dim_census",
    """
    SELECT CAST(pos - 1 AS INTEGER) AS dim, count(*) AS n,
           CAST(min(val) AS DOUBLE) AS minv,
           CAST(max(val) AS DOUBLE) AS maxv,
           CAST(SUM(CASE WHEN val > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
    FROM (
      SELECT unnest(generate_series(1, len(embedding))) AS pos,
             unnest(embedding) AS val
      FROM embeddings
    )
    GROUP BY 1
    """,
)
def emb_dim_census(spark, sf_dir):
    """Per-dimension corpus census (count / min / max / positive-count) —
    the QA pass an ANN index build runs first (dead dimensions, range
    drift, sign balance). posexplode is a narrow map; the 64-key group-by
    partial-aggregates map-side, so the shuffle carries 64 rows per task.
    Only order-independent statistics are emitted (min/max/counts —
    float32 widened exactly to double in both engines); means/variances
    over floats are accumulation-order-dependent and belong to the
    decimal-moment pattern (emb_norm_stats)."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select(F.posexplode("embedding").alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.min("val").cast("double").alias("minv"),
            F.max("val").cast("double").alias("maxv"),
            F.sum(F.when(F.col("val") > 0, 1).otherwise(0)).alias("n_pos"),
        )
    )


_DEDUP_TAU = 0.3
_BLOCK_BITS = 4  # 16 buckets: wide enough to exercise the pair stage at sf


def _bucket_bits(emb, n_planes, start: int = 0):
    # plane p is generated purely from its index, so _planes(n) for any n
    # shares the _planes(m) prefix (m < n) — widths beyond the default
    # _N_PLANES set (the auto-width key's scale path) just extend it.
    # ``start`` selects a disjoint range for the banded keys (band b =
    # planes [b*bits, (b+1)*bits)), mirroring _lsh_bucket_sql.
    n = _N_PLANES if n_planes is None else n_planes
    bits = [
        F.when(cosine_free_dot(emb, plane) > 0, "1").otherwise("0")
        for plane in _planes(start + n)[start : start + n]
    ]
    return F.concat(*bits)


@query(
    "dedup_embedding_lsh",
    f"""
    SELECT vec_a, vec_b, bucket, cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_sim
      FROM (SELECT vec_id, embedding,
                   {_lsh_bucket_sql("embedding", _BLOCK_BITS)} AS bucket
            FROM embeddings) a
      JOIN (SELECT vec_id, embedding,
                   {_lsh_bucket_sql("embedding", _BLOCK_BITS)} AS bucket
            FROM embeddings) b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= {_DEDUP_TAU}
    """,
)
def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup with LSH-BUCKET blocking — the 100 TB shape
    that `dedup_embedding_cosine` (label-blocked exactness baseline)
    documents as its production alternative: the blocking key is derived
    from the vectors themselves (hyperplane sign prefix), so no trusted
    label is needed and the pairwise stage is bounded per bucket. The
    whole pipeline INCLUDING the bucketing is EXACT-oracle-checked
    (planes inlined into both engines). Candidate volume is Σ b_i² over
    bucket sizes — the prefix length is the knob (longer prefix = fewer
    false candidates, lower recall; multi-band OR-amplification as in
    dedup_embedding_lsh_banded / dedup_minhash_lsh_pairs recovers it).
    The equi-self-join shuffles ids+raw-float vectors ONCE on the bucket
    key (a single ReusedExchange — measured). A verify-stage vector
    re-join by id (the minhash op's shape) was measured and REJECTED for
    this op: with per-bucket occupancy the candidate set is a multiple of
    the corpus (15.6× at sf0.01, ~80× at the auto occupancy target), so
    shuffling pairs costs 11.6× the bytes of carrying the vectors — see
    ``_emb_lsh_pairs_body`` for the numbers.

    Per-pair cost note: higher-order array functions (zip_with/aggregate)
    evaluate interpreted, not codegen'd, so the pair stage pays per
    element touched. Norms are therefore precomputed per VECTOR before
    the join (2 folds x n rows) and the pair stage does one dot fold
    (identical arithmetic: dot/(norm_a*norm_b), same value both ways) —
    3 folds/pair -> 1.

    PRODUCTION BUILD: use `dedup_embedding_lsh_auto` — this key's FIXED
    4-bit prefix has bucket occupancy ∝ n, so candidate pairs grow
    ∝ n²/2⁴ (measured at 25×: exponent 1.60, 0.73 s → 127.8 s — the
    round-13 census finding, the same disease the fixed-width graph-ANN
    build had). The auto twin derives the prefix from a corpus count and
    measured exponent 0.31 (3.80 s, 33× faster) at the same span; this
    key stays registered as the fixture-width contrast row (the
    graph-ANN family's convention)."""
    return _emb_lsh_pairs_body(spark, sf_dir, _BLOCK_BITS)


# Below this corpus size the bucket self-join BROADCASTS (n vectors ≈
# 300 B/row ⇒ ~6 MB at the boundary): there is no bucket exchange at all,
# and forcing one (an explicit repartition) was measured to COST ~1.2 s of
# pure overhead at sf0.1 (two REPARTITION_BY_COL shuffles + the broadcast
# it still does — the explain showed the worst of both). Above it, the
# join shuffles, and the hybrid below wins. The knob derives from the
# same bounded count() that sizes the prefix.
_EMB_BCAST_MAX = 20_000


def _emb_lsh_pairs_body(spark, sf_dir, bits: int, n: int | None = None):
    """Shared body of the embedding-LSH near-dup keys: hyperplane sign
    prefix of ``bits`` planes as the blocking key, one bucket equi-self-
    join, per-vector norms precomputed so the pair stage does one fold.

    Shuffle economics (VERDICT r13 item 1 — every alternative measured
    before acting):

    - The re-join-vectors-by-id shape the fixed key's docstring used to
      promise was implemented and REJECTED: it
      shuffles the CANDIDATE pairs (Σb²/2 ≈ occupancy/2 × corpus —
      7,781 pairs = 15.6× the 500 corpus rows at sf0.01, ~80× at the
      auto rule's occupancy target) twice plus the vector table for the
      verify joins — 1.59 MB vs 137 KB per execution (11.6×, identical
      output). Carrying the vectors through the bucket exchange wins at
      every scale.
    - The carried WIDTH is the real lever: the raw ``array<float>``
      rides the shuffle (4 B/elem), measured 404.2 → 274.9 compressed
      B/row (−32%), one ReusedExchange
      before and after.
    - WHERE the float→double cast happens is regime-dependent
      (float→double is exact, identical accumulation
      either way, so all three variants are oracle-identical). Casting
      per ELEMENT inside the pair fold re-pays it per candidate pair —
      20% slower at 25× (4.18 s vs 3.49 s). Casting once per row above
      an explicit ``repartition(bucket)`` is fastest when the join
      SHUFFLES (3.11 s at 25×) but pure loss when it BROADCASTS: at
      fixture/bench scale Catalyst picks a broadcast join with NO bucket
      exchange at all, and the forced repartition added ~1.2 s of
      overhead (two REPARTITION_BY_COL stages + the broadcast it still
      does). So the body picks its strategy from the same bounded corpus
      count that sizes the prefix: ≤ ``_EMB_BCAST_MAX`` (or n unknown —
      the fixed fixture-width key) → declarative plain body, Catalyst
      broadcasts, pre-cast doubles ride the broadcast; above → explicit
      bucket repartition anchoring ONE narrow float32 exchange and a
      single per-row cast above it. Results are law-pinned identical."""
    e, shuffle_regime = _emb_lsh_source(spark, sf_dir, n)
    return _emb_band_pairs(e, bits, 0, shuffle_regime)


def _emb_lsh_source(spark, sf_dir, n: int | None):
    """The embeddings scan and its regime for ``_emb_band_pairs``: the
    shuffle regime above ``_EMB_BCAST_MAX`` vectors; otherwise (or n
    unknown) the broadcast regime, with the scan round-robin
    repartitioned ONCE for every band.

    Round-15 opt: in the BROADCAST regime there is no exchange at all, so
    the whole query — the interpreted per-row derivations (4+ plane
    dots, norm, cast) AND the per-candidate pair folds — inherits the
    SCAN partitioning, which on the single-row-group fixture is ONE task
    (measured: q11 2.71 s single-file vs 0.66 s on the 32-file twin).
    The dedup.py `_parallel` idiom: a round-robin repartition of the
    ≤_EMB_BCAST_MAX-row corpus (≤6 MB) spreads both stages; on an
    already-partitioned real corpus it degrades to a cheap balanced
    shuffle. This is NOT the keyed repartition ``_emb_lsh_pairs_body``
    rejects — that one added two REPARTITION_BY_COL stages on top of the
    broadcast; this one replaces the 1-task scan with the parallelism the
    broadcast join preserves."""
    e = load(spark, sf_dir, "embeddings")
    shuffle_regime = n is not None and n > _EMB_BCAST_MAX
    if not shuffle_regime:
        e = e.repartition(spark.sparkContext.defaultParallelism)
    return e, shuffle_regime


def _emb_band_pairs(e, bits: int, start: int, shuffle_regime: bool):
    """One LSH band: bucketize every vector on the ``bits`` hyperplanes
    from plane ``start`` on, self-join on the bucket, and verify each
    candidate pair's cosine against ``_DEDUP_TAU`` — (vec_a, vec_b,
    bucket, cos_sim). Per-vector norms are precomputed so the pair stage
    does one dot fold. In the shuffle regime the raw float32 vector
    rides ONE explicit bucket exchange and is cast once per row above
    it; in the broadcast regime the pre-cast doubles ride the broadcast
    (see ``_emb_lsh_pairs_body``)."""
    from ..functions.vectors import dot, norm

    bucket = _bucket_bits(as_double("embedding"), bits, start).alias("bucket")
    nrm = norm(as_double("embedding")).alias("nrm")
    if shuffle_regime:
        bd = (
            e.select("vec_id", F.col("embedding").alias("emb32"), nrm, bucket)
            .repartition(F.col("bucket"))
            .withColumn("emb", as_double("emb32"))
            .drop("emb32")
        )
    else:
        bd = e.select("vec_id", as_double("embedding").alias("emb"), nrm, bucket)
    x, y = bd.alias("x"), bd.alias("y")
    cs = F.round(
        dot(F.col("x.emb"), F.col("y.emb"))
        / (F.col("x.nrm") * F.col("y.nrm")),
        6,
    )
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.col("x.bucket").alias("bucket"),
            cs.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _DEDUP_TAU)
    )


@query("dedup_embedding_lsh_auto", ORACLES["dedup_embedding_lsh"])
def dedup_embedding_lsh_auto(spark, sf_dir, n_override: int = None):
    """Embedding-LSH near-dup with the blocking prefix DERIVED AT BUILD
    TIME from a corpus count — the fix for the round-13 slope-census
    finding that the fixed 4-bit `dedup_embedding_lsh` is superlinear
    (exponent 1.60 at 25×: bucket occupancy ∝ n ⇒ candidate pairs
    ∝ n²/2^bits, the same disease VERDICT r9 item 1 found in the
    fixed-width graph-ANN build). One bounded driver scalar (`count()`,
    the house two-pass idiom) feeds the SAME sizing rule the graph
    family proved — bits = clamp(ceil(log2(n/160)), 4, 16)
    (:func:`_grb_auto_bits`) — so per-bucket occupancy stays ~constant
    and the pair stage stays linear in n. Hyperplanes are index-derived,
    so every width shares the narrower widths' prefix: the bucketing
    REFINES as n grows, and the emitted pair set at any wider width is a
    subset of the fixture width's (the blocking/recall trade the fixed
    key's docstring names; multi-band OR-amplification recovers recall
    where a policy needs it). At fixture n (500) the rule clamps to 4 —
    this key's EXACT oracle IS the 4-bit SQL and the driver grade proves
    the derivation end to end; law tests pin auto ≡ fixed there plus the
    subset/refinement law at a wider width. Measured at 25×: exponent
    0.31 vs the fixed key's 1.60 (127.8 s → 3.80 s at sf2.5, a 33×
    speedup). ``n_override``
    exists for the law tests.

    Scale shape: identical to the fixed key at any derived width — one
    bucket equi-self-join, per-vector norms precomputed — plus the one
    extra corpus count every self-tuning key in this engine pays."""
    e = load(spark, sf_dir, "embeddings")
    n = _graded_n(e, sf_dir, n_override)
    bits = _grb_auto_bits(n)
    return _emb_lsh_pairs_body(spark, sf_dir, bits, n=n)


def _emb_band_sql(band: int, bits: int) -> str:
    """DuckDB: verified near-dup pairs surfaced by ONE band (disjoint
    plane range [band*bits, (band+1)*bits))."""
    bsql = _lsh_bucket_sql("embedding", bits, band * bits)
    return f"""
      SELECT vec_a, vec_b, cos_sim FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6)
                 AS cos_sim
        FROM (SELECT vec_id, embedding, {bsql} AS bucket FROM embeddings) a
        JOIN (SELECT vec_id, embedding, {bsql} AS bucket FROM embeddings) b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      ) WHERE cos_sim >= {_DEDUP_TAU}"""


_N_EMB_BANDS = 2

# Per-bit hyperplane collision probability for a pair AT the verify
# threshold, in ppm: P[sign agrees] = 1 - acos(tau)/pi (the random-
# hyperplane LSH collision integral), frozen at round(1e6 * (1 -
# acos(0.3)/pi)) so NO acos/pi float ever crosses the engine boundary —
# both the Spark rule and the DuckDB re-derivation start from this one
# integer (the bloom auto's fixed-point discipline). tau > threshold
# pairs collide MORE often, so every band-count this derives is a
# worst-case (threshold-boundary) recall bound.
_EMB_P_PPM = 596987
assert _EMB_P_PPM == int(
    math.floor((1.0 - math.acos(_DEDUP_TAU) / math.pi) * 1e6 + 0.5)
)
_EMB_TARGET_RECALL_PPM = 200_000  # R_target = 0.20 at the tau boundary
_EMB_MAX_BANDS = 4  # candidate-volume ceiling: total verify cost is
# n_bands x the single-band candidate volume (each band is an
# independent full blocking trial), so the derived count is capped at
# 4x the single-band budget — past the cap the honest fix is more bits
# at more bands (re-budget), not an unbounded recall chase.


def _emb_auto_bands(bits: int) -> tuple[int, int, int]:
    """Band count DERIVED from the target recall (VERDICT r14 item 3 —
    the embedding family's last hand-set amplification knob): the r14
    measurement matched the closed form recall(b) = 1 - (1 - r_band)^b
    (measured 0.236 vs 0.229 at b=2), so invert it:
    n_bands = ceil(ln(1 - R) / ln(1 - r_band)), r_band = p^bits from
    the per-bit collision integral. All engine-boundary values are
    integer fixed-point (ppm / milli, half-up at each single rounding
    site) so the oracle re-derives them exactly; returns
    (r_band_ppm, ratio_milli, n_bands)."""
    r_band_ppm = int(math.floor((_EMB_P_PPM / 1e6) ** bits * 1e6 + 0.5))
    ratio = math.log(1.0 - _EMB_TARGET_RECALL_PPM / 1e6) / math.log(
        1.0 - r_band_ppm / 1e6
    )
    ratio_milli = int(math.floor(ratio * 1000 + 0.5))
    n_bands = max(1, min(_EMB_MAX_BANDS, (ratio_milli + 999) // 1000))
    return r_band_ppm, ratio_milli, n_bands


def _emb_deriv_sql(bits: int) -> str:
    """DuckDB re-derivation of (r_band_ppm, ratio_milli, n_bands_derived)
    from the same frozen integers — graded result columns, so a drifted
    rule fails the driver gate (the `join_bloom_prefilter_auto`
    pattern). Verified identical to the Python rule at every clamp-range
    bits value (tests/test_round15_ops.py)."""
    return f"""
      SELECT r_band_ppm, ratio_milli,
             CAST(LEAST({_EMB_MAX_BANDS}, GREATEST(1,
                        (ratio_milli + 999) // 1000)) AS BIGINT)
               AS n_bands_derived
      FROM (
        SELECT r_band_ppm,
               CAST(floor(ln(1.0 - {_EMB_TARGET_RECALL_PPM}.0/1000000)
                          / ln(1.0 - CAST(r_band_ppm AS DOUBLE)/1000000)
                          * 1000 + 0.5) AS BIGINT) AS ratio_milli
        FROM (SELECT CAST(floor(pow({_EMB_P_PPM}.0/1000000, {bits})
                                * 1000000 + 0.5) AS BIGINT) AS r_band_ppm)
      )"""


def _emb_lsh_banded_body(
    spark, sf_dir, bits: int, n_bands: int = _N_EMB_BANDS, n: int | None = None
):
    """OR-amplified embedding-LSH: each band runs ``_emb_band_pairs`` on
    a DISJOINT hyperplane range (band b = planes [b*bits, (b+1)*bits)),
    and the verified per-band pair sets are unioned and grouped to one
    row per pair with a band-hit census. Per-band verification beats
    dedupe-then-verify here for the same reason the carry beats the
    re-join (see ``_emb_lsh_pairs_body``): grouping candidates first
    would strip the vectors and force a verify-stage re-join over the
    candidate multiple of the corpus."""
    e, shuffle_regime = _emb_lsh_source(spark, sf_dir, n)
    u = None
    for band in range(n_bands):
        d = _emb_band_pairs(e, bits, band * bits, shuffle_regime).drop("bucket")
        u = d if u is None else u.unionAll(d)
    return u.groupBy("vec_a", "vec_b").agg(
        F.count("*").cast("long").alias("n_bands"),
        F.max("cos_sim").alias("cos_sim"),
    )


@query(
    "dedup_embedding_lsh_banded",
    f"""
    SELECT vec_a, vec_b, CAST(count(*) AS BIGINT) AS n_bands,
           max(cos_sim) AS cos_sim
    FROM ({_emb_band_sql(0, _BLOCK_BITS)} UNION ALL {_emb_band_sql(1, _BLOCK_BITS)})
    GROUP BY 1, 2
    """,
)
def dedup_embedding_lsh_banded(spark, sf_dir, n_override: int = None):
    """OR-amplified embedding-LSH near-dup (VERDICT r13 item 4): TWO
    bands over DISJOINT hyperplane ranges — a pair is surfaced if it
    collides in EITHER band, recovering the recall a single longer
    prefix gives up (P[miss] = Π_b (1 - s^bits) for match prob s per
    bit: two independent 4-bit trials miss ~squared as rarely as one).
    Per-band blocking reuses the auto-width rule (clamps to
    {_BLOCK_BITS} at the graded fixtures — the frozen oracle IS the
    2x{_BLOCK_BITS}-bit SQL, drift-guarded like the single-band auto
    key), and each band runs the measured one-ReusedExchange float32-
    carry shape. The per-pair band census (`n_bands`) rides out in the
    result — the OR-amplification's overlap audit for free. Verified
    sets are unioned POST-verification and grouped to one row per pair:
    each band's pairs are already τ-verified, so `max(cos_sim)` merges
    identical values and the group-by shuffles only (ids, cos) — never
    vectors. Recall vs exact truth is measured, not claimed:
    `dedup_embedding_lsh_recall_eval` reports recall(1 band) vs
    recall(2 bands) with the candidate-volume census, and the law test
    pins superset-ness (2-band ⊇ 1-band) plus recall monotonicity.

    Scale shape (100 TB): n_bands× the single-band cost — 2 bucket
    exchanges (one per band, each the measured 274.9 B/row carry), 2
    linear candidate stages at occupancy-constant width, one ids-only
    pair group-by. The bands knob buys recall linearly in cost, the
    width knob buys precision exponentially — the standard LSH
    trade."""
    e = load(spark, sf_dir, "embeddings")
    n = _graded_n(e, sf_dir, n_override)
    bits = _grb_auto_bits(n)
    return _emb_lsh_banded_body(spark, sf_dir, bits, n=n)


@query(
    "dedup_embedding_lsh_banded_auto",
    f"""
    WITH deriv AS ({_emb_deriv_sql(_BLOCK_BITS)}),
    pairs AS (
      SELECT vec_a, vec_b, CAST(count(*) AS BIGINT) AS n_band_hits,
             max(cos_sim) AS cos_sim
      FROM ({_emb_band_sql(0, _BLOCK_BITS)}
            UNION ALL {_emb_band_sql(1, _BLOCK_BITS)})
      GROUP BY 1, 2
    )
    SELECT p.vec_a, p.vec_b, p.n_band_hits, p.cos_sim,
           d.r_band_ppm, d.ratio_milli, d.n_bands_derived
    FROM pairs p, deriv d
    """,
)
def dedup_embedding_lsh_banded_auto(spark, sf_dir, n_override: int = None):
    """OR-amplified embedding-LSH with the band count DERIVED from a
    target recall (VERDICT r14 item 3) — closing the embedding family's
    last hand-set amplification knob. The fixed key pins n_bands=2 by
    fiat; the minhash family already derives (b, r) from tau. Here the
    r14 recall eval's measurement (0.236 observed vs 0.229 closed-form
    at 2 bands) justifies inverting the closed form: n_bands =
    ceil(ln(1-R)/ln(1-r_band)) with r_band = p^bits from the per-bit
    collision integral p = 1 - acos(tau)/pi, clamped by the
    {_EMB_MAX_BANDS}-band candidate-volume ceiling (cost is linear in
    bands). Every engine-boundary value is integer fixed-point
    (_EMB_P_PPM ppm -> r_band_ppm ppm -> ratio_milli milli -> ceil-div,
    all positive so Spark DIV ≡ DuckDB //), and the oracle RE-DERIVES
    all three as graded result columns — a drifted rule fails the
    driver gate, not just a census (the `join_bloom_prefilter_auto`
    pattern). At fixture bits={_BLOCK_BITS} the rule derives r_band_ppm
    127016, ratio 1.643, n_bands 2, so the pair oracle IS the frozen
    2x{_BLOCK_BITS}-bit SQL (drift-guarded below) and the law test pins
    auto ≡ the fixed 2-band key on every pair. Pair census column is
    `n_band_hits` (which bands surfaced the pair) to keep it distinct
    from the derived count.

    Scale shape: identical to `dedup_embedding_lsh_banded` at the
    derived count — n_bands x the measured single-band cost (one
    274.9 B/row float32-carry exchange per band, ids+cos-only merge).
    As the width rule grows bits with n (occupancy-constant), per-band
    recall falls and the derivation walks the band count up until the
    volume ceiling binds — the recall/cost trade is now a POLICY
    (R_target, ceiling) instead of two per-scale hand tunings."""
    e = load(spark, sf_dir, "embeddings")
    n = _graded_n(e, sf_dir, n_override)
    bits = _grb_auto_bits(n)
    r_band_ppm, ratio_milli, n_bands = _emb_auto_bands(bits)
    return _emb_lsh_banded_body(
        spark, sf_dir, bits, n_bands=n_bands, n=n
    ).select(
        "vec_a",
        "vec_b",
        F.col("n_bands").alias("n_band_hits"),
        "cos_sim",
        F.lit(r_band_ppm).cast("long").alias("r_band_ppm"),
        F.lit(ratio_milli).cast("long").alias("ratio_milli"),
        F.lit(n_bands).cast("long").alias("n_bands_derived"),
    )


@query(
    "dedup_embedding_lsh_recall_eval",
    f"""
    WITH truth AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6)
            >= {_DEDUP_TAU}
    ),
    cand0 AS (
      SELECT count(*) AS c FROM
        (SELECT vec_id, {_lsh_bucket_sql("embedding", _BLOCK_BITS, 0)} AS bucket
         FROM embeddings) a
        JOIN
        (SELECT vec_id, {_lsh_bucket_sql("embedding", _BLOCK_BITS, 0)} AS bucket
         FROM embeddings) b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    cand1 AS (
      SELECT count(*) AS c FROM
        (SELECT vec_id, {_lsh_bucket_sql("embedding", _BLOCK_BITS, _BLOCK_BITS)}
                AS bucket FROM embeddings) a
        JOIN
        (SELECT vec_id, {_lsh_bucket_sql("embedding", _BLOCK_BITS, _BLOCK_BITS)}
                AS bucket FROM embeddings) b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    p1 AS (SELECT count(*) AS c FROM ({_emb_band_sql(0, _BLOCK_BITS)})),
    p2 AS (SELECT count(*) AS c FROM (
             SELECT DISTINCT vec_a, vec_b
             FROM ({_emb_band_sql(0, _BLOCK_BITS)}
                   UNION ALL {_emb_band_sql(1, _BLOCK_BITS)}))),
    deriv AS ({_emb_deriv_sql(_BLOCK_BITS)})
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT c FROM cand0) AS BIGINT) AS n_cand_1band,
           CAST((SELECT c FROM cand0) + (SELECT c FROM cand1) AS BIGINT)
             AS n_cand_2band,
           CAST((SELECT c FROM p1) AS BIGINT) AS n_pairs_1band,
           CAST((SELECT c FROM p2) AS BIGINT) AS n_pairs_2band,
           round(CAST((SELECT c FROM p1) AS DOUBLE)
                 / GREATEST((SELECT count(*) FROM truth), 1), 6)
             AS recall_1band,
           round(CAST((SELECT c FROM p2) AS DOUBLE)
                 / GREATEST((SELECT count(*) FROM truth), 1), 6)
             AS recall_2band,
           d.n_bands_derived,
           CAST(CASE WHEN d.n_bands_derived = 1 THEN (SELECT c FROM p1)
                     ELSE (SELECT c FROM p2) END AS BIGINT)
             AS n_pairs_derived,
           round(CAST(CASE WHEN d.n_bands_derived = 1
                           THEN (SELECT c FROM p1)
                           ELSE (SELECT c FROM p2) END AS DOUBLE)
                 / GREATEST((SELECT count(*) FROM truth), 1), 6)
             AS recall_derived
    FROM deriv d
    """,
)
def dedup_embedding_lsh_recall_eval(spark, sf_dir):
    """Embedding-LSH quality evaluation — the measurement that justifies
    the banded scale path (VERDICT r13 item 4): exact all-pairs cosine
    near-dups at τ={_DEDUP_TAU} as ground truth vs what 1 band and 2
    bands actually surface-and-verify, plus the CANDIDATE-volume census
    (bucket-collision pairs each configuration pays to verify — the
    cost axis of the recall/cost trade; n_cand_2band is the SUM of the
    band volumes because each band verifies independently). Verified
    pairs are provably a subset of truth (same cosine, same τ), so
    recall = pairs/truth exactly and 1 − recall is the banding miss
    rate. The ground-truth side is the O(n²) brute pass — an EVALUATION
    op, run on a sample at 100 TB by design; the measured pipeline
    stays the banded cascade (the minhash family's convention,
    `dedup_lsh_recall_eval`). Degenerate-sample semantics (ADVICE r14):
    a sample with ZERO true pairs reports recall = 0.0 in both engines
    (GREATEST(n_true, 1) guards the division; verified ⊆ truth forces
    the numerators to 0) instead of erroring the whole report.

    Round 15: the eval also GRADES THE DERIVED POINT — it re-derives
    the target-recall band count (`_emb_auto_bands` at this eval's
    frozen width; the oracle re-derives it in SQL from the same frozen
    integers) and reports (n_bands_derived, n_pairs_derived,
    recall_derived), so the driver gate proves the derivation lands on
    a measured point and what recall that policy actually buys
    (fixture: 2 bands, recall 0.236 vs the 0.229 closed form the rule
    inverts)."""
    from ..functions.vectors import dot32, norm

    e = load(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.col("embedding").alias("emb32"),
        norm(as_double("embedding")).alias("nrm"),
    )
    a, b = v.alias("a"), v.alias("b")
    cs = F.round(
        dot32(F.col("a.emb32"), F.col("b.emb32"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    truth = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).filter(
        cs >= _DEDUP_TAU
    )

    def cand(band: int):
        bk = e.select(
            "vec_id",
            _bucket_bits(as_double("embedding"), _BLOCK_BITS, band * _BLOCK_BITS
                         ).alias("bucket"),
        )
        return bk.alias("x").join(
            bk.alias("y"),
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )

    one = _emb_lsh_pairs_body(spark, sf_dir, _BLOCK_BITS)
    two = _emb_lsh_banded_body(spark, sf_dir, _BLOCK_BITS)
    # the derived point, at this eval's frozen width: pure constants
    # (no corpus count crosses the derivation), so nb is deterministic
    # and the measured 1-/2-band sets already cover it.
    _, _, nb = _emb_auto_bands(_BLOCK_BITS)
    if nb > 2:
        raise ValueError(
            f"derivation constants drifted: _emb_auto_bands({_BLOCK_BITS}) "
            f"= {nb} bands but this eval measures 1- and 2-band points — "
            "extend the measured set to cover the derived point"
        )
    n_true = truth.agg(F.count("*").alias("n_true"))
    c0 = cand(0).agg(F.count("*").alias("n_cand_1band"))
    c1 = cand(1).agg(F.count("*").alias("c1"))
    p1 = one.agg(F.count("*").alias("n_pairs_1band"))
    p2 = two.agg(F.count("*").alias("n_pairs_2band"))
    return (
        n_true.crossJoin(F.broadcast(c0))  # 1 row x 1 row
        .crossJoin(F.broadcast(c1))  # 1 row x 1 row
        .crossJoin(F.broadcast(p1))  # 1 row x 1 row
        .crossJoin(F.broadcast(p2))  # 1 row x 1 row
        .select(
            "n_true",
            "n_cand_1band",
            (F.col("n_cand_1band") + F.col("c1")).alias("n_cand_2band"),
            "n_pairs_1band",
            "n_pairs_2band",
            # GREATEST(n_true, 1) in BOTH engines (ADVICE r14): at 100 TB
            # this eval runs on a sample, and a sample with zero true
            # pairs must read recall = 0.0 (verified ⊆ truth forces the
            # numerator to 0 too), not error or null the report row.
            F.round(
                F.col("n_pairs_1band").cast("double")
                / F.greatest(F.col("n_true"), F.lit(1)),
                6,
            ).alias("recall_1band"),
            F.round(
                F.col("n_pairs_2band").cast("double")
                / F.greatest(F.col("n_true"), F.lit(1)),
                6,
            ).alias("recall_2band"),
            F.lit(nb).cast("long").alias("n_bands_derived"),
            F.col(
                "n_pairs_1band" if nb == 1 else "n_pairs_2band"
            ).alias("n_pairs_derived"),
            F.round(
                F.col(
                    "n_pairs_1band" if nb == 1 else "n_pairs_2band"
                ).cast("double")
                / F.greatest(F.col("n_true"), F.lit(1)),
                6,
            ).alias("recall_derived"),
        )
    )


_N_PROBES = 10
_BATCH_K = 5


@query(
    "sim_search_batch_topk",
    f"""
    SELECT probe_id, vec_id, CAST(rk AS INTEGER) AS rk, cos_sim FROM (
      SELECT p.vec_id AS probe_id, e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(p.embedding AS DOUBLE[])), 6)
               AS cos_sim,
             row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY round(list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(p.embedding AS DOUBLE[])), 6) DESC,
                        e.vec_id) AS rk
      FROM embeddings e, embeddings p
      WHERE p.vec_id < {_N_PROBES} AND e.vec_id != p.vec_id
    ) WHERE rk <= {_BATCH_K}
    """,
)
def sim_search_batch_topk(spark, sf_dir):
    """Batch similarity serving: top-{_BATCH_K} neighbors for a BATCH of
    {_N_PROBES} probe vectors in one pass — the offline-retrieval /
    hard-negative-mining shape (one probe per training example, not one
    query at a time); :func:`_batch_probe_topk` with the rank
    reported."""
    return _batch_probe_topk(
        spark, sf_dir, F.col("vec_id") < _N_PROBES, _BATCH_K
    ).select(
        F.col("pid").alias("probe_id"),
        "vec_id",
        F.col("rk").cast("int").alias("rk"),
        "cos_sim",
    )


# ---- PCA power iteration (fixed-point linear algebra) --------------------
_PI_SCALE = 1000  # embedding quantization AND iterate magnitude scale
_PI_ITERS = 3


def _pi_iter_sql(prev: str, r: int) -> str:
    return f"""w{r} AS (
      SELECT M.i AS pos, SUM(M.m * v.v) AS w
      FROM M JOIN {prev} v ON v.pos = M.j GROUP BY M.i
    ),
    mx{r} AS (SELECT max(abs(w)) AS mx FROM w{r}),
    v{r} AS (
      SELECT pos,
             CAST(floor(CAST(w * {_PI_SCALE} AS DOUBLE) / mx) AS BIGINT) AS v
      FROM w{r}, mx{r}
    )"""


@query(
    "emb_pca_power_iteration",
    f"""
    WITH q AS (
      SELECT vec_id, i AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * {_PI_SCALE} + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    M AS (
      SELECT a.pos AS i, b.pos AS j, SUM(a.qv * b.qv) AS m
      FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2
    ),
    v0 AS (SELECT unnest(generate_series(1, 64)) AS pos,
                  CAST({_PI_SCALE} AS BIGINT) AS v),
    {_pi_iter_sql("v0", 1)},
    {_pi_iter_sql("v1", 2)},
    {_pi_iter_sql("v2", 3)}
    SELECT CAST(pos AS INTEGER) AS pos, v AS v_scaled FROM v{_PI_ITERS}
    """,
)
def emb_pca_power_iteration(spark, sf_dir):
    """The {_PI_ITERS}-step power iterate of the embedding second-moment
    matrix — declarative distributed linear algebra, the PCA/whitening
    preconditioner an ANN index or an embedding-drift monitor computes.
    (It converges to the dominant eigenvector exactly when the spectrum
    has a gap; tests pin bit-exactness against a scalar reference on the
    near-isotropic fixture AND >=0.99 eigenvector alignment on a gapped
    synthetic corpus.) Everything is fixed-point INT64:
    embeddings quantize with the explicit floor(x*S + 0.5) formula (the
    builtin round() half-mode differs between engines), the Gram matrix
    is exact integer outer-product sums (commutative — the groupBy(i,j)
    partial-aggregates map-side, so the corpus-sized stage shuffles 64x64
    cells per partition, not rows), and each iterate renormalizes to
    max-abs = S with a floored double division (identical op sequence in
    both engines; magnitudes stay < 2^63 by construction: |M| <= n*S^2,
    |w| <= 64*|M|*S). The oracle unrolls all iterations as chained CTEs —
    the same trajectory-checking pattern as pagerank/k-means/BPE. At
    100 TB the Gram stage is the only corpus pass; iterations run on a
    4096-row matrix and a 64-row vector (broadcast-sized)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.posexplode(as_double("embedding")).alias("p0", "x"),
    ).select(
        "vec_id",
        (F.col("p0") + 1).alias("pos"),
        F.floor(F.col("x") * _PI_SCALE + 0.5).cast("long").alias("qv"),
    )
    m = pin(
        q.alias("a")
        .join(q.alias("b"), F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(
            F.col("a.pos").alias("i"), F.col("b.pos").alias("j")
        )
        .agg(F.sum(F.col("a.qv") * F.col("b.qv")).alias("m"))
    )
    v = spark.range(1, 65).select(
        F.col("id").alias("pos"), F.lit(_PI_SCALE).cast("long").alias("v")
    )
    for _ in range(_PI_ITERS):
        w = (
            m.join(v.withColumnRenamed("pos", "j"), "j")
            .groupBy(F.col("i").alias("pos"))
            .agg(F.sum(F.col("m") * F.col("v")).alias("w"))
        )
        mx = w.agg(F.max(F.abs(F.col("w"))).alias("mx"))
        v = pin(
            w.crossJoin(F.broadcast(mx)).select(  # 64 rows x 1 row
                "pos",
                F.floor(
                    (F.col("w") * _PI_SCALE).cast("double") / F.col("mx")
                ).cast("long").alias("v"),
            )
        )
    return v.select(F.col("pos").cast("int").alias("pos"), F.col("v").alias("v_scaled"))


@query(
    "embedding_index_pipeline",
    f"""
    WITH qv AS (
      SELECT vec_id, label,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    seeds AS (SELECT label AS cell, min(vec_id) AS sid
              FROM embeddings GROUP BY label),
    c0 AS (SELECT s.cell, qv.qe AS cq
           FROM seeds s JOIN qv ON qv.vec_id = s.sid),
    {_km_iter_sql("c0", "a1", "c1")},
    {_km_iter_sql("c1", "a2", "c2")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    q8 AS (
      SELECT vec_id,
             CAST(list_aggregate(
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 127 + 0.5) AS INTEGER)),
               'sum') AS BIGINT) AS q_checksum
      FROM embeddings
    )
    SELECT a.cell,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(SUM(q8.q_checksum) AS BIGINT) AS sum_q_checksum
    FROM afin a JOIN q8 USING (vec_id)
    GROUP BY a.cell
    """,
)
def embedding_index_pipeline(spark, sf_dir):
    """The composed ANN index build — what a vector-index job materializes
    before serving: int8-quantize every vector (4x memory), train the
    coarse cells with the fixed-point Lloyd loop, assign every vector to
    its learned cell, and emit the per-cell index manifest (vector count +
    quantized checksum — the partition-size/ content-fingerprint pair an
    index loader validates). Three proven operators composed in one DAG
    (emb_quantize_int8 + sim_ann_kmeans_ivf_topk's trainer + a census);
    the oracle chains the full training trajectory plus the quantization
    — the ANN counterpart of corpus_training_manifest. At 100 TB the
    manifest IS the partition layout: vectors land in cell-keyed
    partitions sized by n_vecs."""
    e = load(spark, sf_dir, "embeddings")
    e_q = pin(
        e.select(
            "vec_id",
            "label",
            as_double("embedding").alias("de"),
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    seeds = e.groupBy("label").agg(F.min("vec_id").alias("sid"))
    cents = (
        seeds.alias("s")
        .join(e_q.alias("v"), F.col("s.sid") == F.col("v.vec_id"))
        .select(F.col("s.label").alias("cell"), F.col("v.qe").alias("cq"))
    )
    for _ in range(_KM_ITERS):
        cents = pin(_km_update(_km_assign_arrow(e_q, cents), e_q))
    assign = _km_assign_arrow(e_q, cents)
    q = F.transform(as_double("embedding"), lambda x: F.floor(x * 127 + 0.5).cast("int"))
    q8 = e.select(
        "vec_id",
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_checksum"
        ),
    )
    return (
        assign.alias("a")
        .join(q8.alias("q"), F.col("a.vec_id") == F.col("q.vec_id"))
        .groupBy("a.cell")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("q_checksum").alias("sum_q_checksum"),
        )
        .select(F.col("cell"), "n_vecs", "sum_q_checksum")
    )


@query(
    "sim_ann_recall_eval",
    f"""
    WITH truth AS ({ORACLES["sim_search_batch_topk"]}),
    b AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql("embedding")} AS bucket
      FROM embeddings
    ),
    pr AS (
      SELECT vec_id AS probe_id, bucket, CAST(embedding AS DOUBLE[]) AS pe
      FROM b WHERE vec_id < {_N_PROBES}
    ),
    ann AS (
      SELECT probe_id, vec_id FROM (
        SELECT pr.probe_id, b.vec_id,
               row_number() OVER (
                 PARTITION BY pr.probe_id
                 ORDER BY round(list_cosine_similarity(
                            CAST(b.embedding AS DOUBLE[]), pr.pe), 6) DESC,
                          b.vec_id) AS rk
        FROM b JOIN pr ON b.bucket = pr.bucket AND b.vec_id != pr.probe_id
      ) WHERE rk <= {_BATCH_K}
    ),
    anncnt AS (SELECT probe_id, count(*) AS n_ann FROM ann GROUP BY 1),
    hits AS (
      SELECT t.probe_id, count(*) AS n_hit
      FROM truth t JOIN ann a
        ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
      GROUP BY 1
    )
    SELECT p.probe_id,
           CAST({_BATCH_K} AS BIGINT) AS n_truth,
           CAST(COALESCE(anncnt.n_ann, 0) AS BIGINT) AS n_ann,
           CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
           round(COALESCE(hits.n_hit, 0) / {_BATCH_K}.0, 6) AS recall_at_k
    FROM (SELECT DISTINCT probe_id FROM pr) p
    LEFT JOIN anncnt USING (probe_id) LEFT JOIN hits USING (probe_id)
    """,
)
def sim_ann_recall_eval(spark, sf_dir):
    """ANN quality measurement for the SEARCH path — the retrieval twin
    of ``dedup_lsh_recall_eval``: for {_N_PROBES} probes, single-bucket
    {_N_PLANES}-plane LSH top-{_BATCH_K} is scored against the
    brute-force top-{_BATCH_K} truth (the ``sim_search_batch_topk``
    result, whose oracle is inlined as this oracle's truth CTE).
    Per probe: truth size, candidates found, hits, recall@{_BATCH_K}.
    1 − recall IS the single-bucket miss rate — the number multi-probe
    exists to buy back (its test pins the ≥ relation); running the eval
    as a first-class query makes the recall/cost trade measurable in
    production, where it's monitored per index build, not assumed.
    Scale: brute truth runs on a SAMPLE of probes by design (the eval
    measures a rate, not every query); both sides broadcast the probe
    set and the candidate join is bucket-pruned."""
    e = load(spark, sf_dir, "embeddings")
    truth = QUERIES["sim_search_batch_topk"](spark, sf_dir).select(
        "probe_id", "vec_id"
    )
    emb = as_double("embedding")
    b = e.select("vec_id", "embedding", _bucket_bits(emb, None).alias("bucket"))
    pr = b.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("bucket").alias("p_bucket"),
        as_double("embedding").alias("pe"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    ann = (
        b.join(F.broadcast(pr), F.col("bucket") == F.col("p_bucket"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine(as_double("embedding"), F.col("pe")), 6).alias(
                "cos_sim"
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BATCH_K)
        .select("probe_id", "vec_id")
    )
    anncnt = ann.groupBy("probe_id").agg(F.count("*").alias("n_ann"))
    hits = truth.join(ann, ["probe_id", "vec_id"]).groupBy("probe_id").agg(
        F.count("*").alias("n_hit")
    )
    return (
        pr.select("probe_id")
        .join(F.broadcast(anncnt), "probe_id", "left")
        .join(F.broadcast(hits), "probe_id", "left")
        .select(
            "probe_id",
            F.lit(_BATCH_K).cast("long").alias("n_truth"),
            F.coalesce("n_ann", F.lit(0)).cast("long").alias("n_ann"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / float(_BATCH_K), 6
            ).alias("recall_at_k"),
        )
    )


_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace (4 x 16 = 64)
_PQ_K = 8  # codewords per subspace


def _il2_sql(a: str, b: str, n: int) -> str:
    """DuckDB: integer squared-L2 between two int64 lists of length n."""
    return (
        f"list_aggregate(list_transform(generate_series(1, {n}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )


def _il2(a, b):
    """Spark: integer squared-L2 between two int64 arrays (exact int64
    arithmetic — the same accumulation the oracles' list sums perform)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_subvectors(df, vec: str, keys: list[str]):
    """Split the 64-dim int64 column ``vec`` into its ``_PQ_M``
    subvectors: one (keys..., m, sv) row per subspace."""
    return df.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(vec, m * _PQ_SUB + 1, _PQ_SUB).alias("sv"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("ms"),
    ).select(*keys, "ms.m", "ms.sv")


def _pq_assign(subs, codebook, keys: list[str]):
    """Nearest codeword per subvector: (keys..., m, k) by integer
    squared-L2, ties to the lower k. The argmin is a min_by reduction —
    partial-aggregable, so the n·M·K scored rows collapse map-side to one
    row per subvector before the exchange, where a row_number window
    would shuffle and sort them all. min of the (dist, k) struct is the
    window's (dist, k) ordering and k is unique within a group, so both
    forms pick the same row (law-tested)."""
    return (
        subs.join(F.broadcast(codebook), "m")
        .select(*keys, "m", "k", _il2(F.col("sv"), F.col("cw")).alias("dist"))
        .groupBy(*keys, "m")
        .agg(F.min_by("k", F.struct("dist", "k")).alias("k"))
        .select(*keys, "m", "k")
    )


def _pq_train_encode(subs, keys: list[str]):
    """PQ training and encoding over ``_pq_subvectors`` rows: codebooks
    seeded with the subvectors of vec_id < ``_PQ_K``, one Lloyd round
    (assign + floored integer mean per (m, k, pos)), then every
    subvector's final code. Returns (codebook (m, k, cw), codes
    (keys..., m, k)); the M x K-row codebook is pinned because every
    caller reads it again after the encode."""
    cb0 = subs.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("k"), F.col("sv").alias("cw")
    )
    cb1 = pin(
        _pq_assign(subs, cb0, keys)
        .join(subs, ["vec_id", "m"])
        .select("m", "k", F.posexplode("sv").alias("pos", "q"))
        .groupBy("m", "k", "pos")
        .agg(
            F.floor(F.sum("q").cast("double") / F.count("*"))
            .cast("long")
            .alias("cp")
        )
        .groupBy("m", "k")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cp"))).alias("p"))
        .select("m", "k", F.transform("p", lambda s: s.getField("cp")).alias("cw"))
    )
    return cb1, _pq_assign(subs, cb1, keys)


@query(
    "sim_pq_adc_topk",
    f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT))
               AS qe
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, mm.m,
             qe[mm.m * {_PQ_SUB} + 1 : mm.m * {_PQ_SUB} + {_PQ_SUB}] AS sv
      FROM qv, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m) mm
    ),
    cb0 AS (
      SELECT m, vec_id AS k, sv AS cw FROM subs WHERE vec_id < {_PQ_K}
    ),
    a0 AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_il2_sql('s.sv', 'c.cw', _PQ_SUB)}, c.k) AS rn
        FROM subs s JOIN cb0 c ON c.m = s.m
      ) WHERE rn = 1
    ),
    cb1 AS (
      SELECT m, k, list(cp ORDER BY pos) AS cw FROM (
        SELECT a0.m, a0.k, i AS pos,
               CAST(floor(CAST(SUM(s.sv[i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cp
        FROM a0 JOIN subs s ON s.vec_id = a0.vec_id AND s.m = a0.m,
             (SELECT unnest(generate_series(1, {_PQ_SUB})) AS i)
        GROUP BY a0.m, a0.k, i
      ) GROUP BY m, k
    ),
    enc AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_il2_sql('s.sv', 'c.cw', _PQ_SUB)}, c.k) AS rn
        FROM subs s JOIN cb1 c ON c.m = s.m
      ) WHERE rn = 1
    ),
    probe AS (SELECT m, sv FROM subs WHERE vec_id = {_PROBE_ID}),
    ptab AS (
      SELECT c.m, c.k, {_il2_sql('p.sv', 'c.cw', _PQ_SUB)} AS pd
      FROM cb1 c JOIN probe p ON p.m = c.m
    ),
    adc AS (
      SELECT e.vec_id, SUM(pt.pd) AS approx_dist
      FROM enc e JOIN ptab pt ON pt.m = e.m AND pt.k = e.k
      WHERE e.vec_id != {_PROBE_ID}
      GROUP BY e.vec_id
    )
    SELECT vec_id, CAST(approx_dist AS BIGINT) AS approx_dist,
           CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT vec_id, approx_dist,
             row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
      FROM adc
    ) WHERE rk <= {_TOPK}
    """,
)
def sim_pq_adc_topk(spark, sf_dir):
    """Product quantization + asymmetric distance (the FAISS PQ/ADC
    family): the 64-dim space splits into {_PQ_M} subspaces of {_PQ_SUB}
    dims; each subspace trains a {_PQ_K}-codeword codebook (seeded with
    vec_id 0..{_PQ_K - 1}'s subvectors, one Lloyd round of
    integer-squared-L2 assignment + floored-mean update); every vector
    compresses to {_PQ_M} one-byte codes (512x smaller than the raw
    floats); a probe precomputes its {_PQ_M}x{_PQ_K} distance TABLE once
    and scores the whole corpus by {_PQ_M} table lookups + an integer
    add per vector — no per-pair float math at query time. Every
    distance here is integer squared-L2 over the fixed-point embeddings,
    so training, encoding, the distance table, and the ADC ranking are
    ALL cross-engine exact (no cosine rounding anywhere); the oracle
    unrolls the full train -> encode -> table -> rank chain. At 100 TB:
    codebooks are a KB-scale broadcast; training/encoding shuffle
    (cell, pos) integer partials like the IVF trainer; the serving scan
    reads codes (4 B/vector), not embeddings — that compression IS the
    point of PQ. Recall-vs-exact is pinned in tests (like the IVF and
    multiprobe ops); composes with IVF cells for the full IVF-PQ index."""
    e_q = pin(
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    subs = _pq_subvectors(e_q, "qe", ["vec_id"])
    cb1, enc = _pq_train_encode(subs, ["vec_id"])
    probe = subs.filter(F.col("vec_id") == _PROBE_ID).select(
        "m", F.col("sv").alias("pv")
    )
    ptab = cb1.join(F.broadcast(probe), "m").select(
        "m", "k", _il2(F.col("pv"), F.col("cw")).alias("pd")
    )
    adc = (
        enc.filter(F.col("vec_id") != _PROBE_ID)
        .join(F.broadcast(ptab), ["m", "k"])
        .groupBy("vec_id")
        .agg(F.sum("pd").alias("approx_dist"))
    )
    w = Window.orderBy("approx_dist", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _TOPK)
        .select("vec_id", F.col("approx_dist").cast("long").alias("approx_dist"), "rk")
    )


_IVFPQ_NPROBE = 3  # coarse cells searched (of the 10 label cells)


@query(
    "sim_ivf_pq_topk",
    f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT))
               AS qe
      FROM embeddings
    ),
    cint AS MATERIALIZED (
      SELECT label AS cell, list(cq ORDER BY pos) AS cq FROM (
        SELECT label, i AS pos,
               CAST(floor(CAST(SUM(qe[i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS cq
        FROM qv, (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY label, i
      ) GROUP BY label
    ),
    res AS MATERIALIZED (
      SELECT q.vec_id, q.label AS cell,
             list_transform(generate_series(1, 64),
                            i -> q.qe[i] - c.cq[i]) AS re
      FROM qv q JOIN cint c ON c.cell = q.label
    ),
    subs AS MATERIALIZED (
      SELECT vec_id, cell, mm.m,
             re[mm.m * {_PQ_SUB} + 1 : mm.m * {_PQ_SUB} + {_PQ_SUB}] AS sv
      FROM res, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m) mm
    ),
    cb0 AS (
      SELECT m, vec_id AS k, sv AS cw FROM subs WHERE vec_id < {_PQ_K}
    ),
    a0 AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_il2_sql('s.sv', 'c.cw', _PQ_SUB)}, c.k) AS rn
        FROM subs s JOIN cb0 c ON c.m = s.m
      ) WHERE rn = 1
    ),
    cb1 AS MATERIALIZED (
      SELECT m, k, list(cp ORDER BY pos) AS cw FROM (
        SELECT a0.m, a0.k, i AS pos,
               CAST(floor(CAST(SUM(s.sv[i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cp
        FROM a0 JOIN subs s ON s.vec_id = a0.vec_id AND s.m = a0.m,
             (SELECT unnest(generate_series(1, {_PQ_SUB})) AS i)
        GROUP BY a0.m, a0.k, i
      ) GROUP BY m, k
    ),
    enc AS MATERIALIZED (
      SELECT vec_id, cell, m, k FROM (
        SELECT s.vec_id, s.cell, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_il2_sql('s.sv', 'c.cw', _PQ_SUB)}, c.k) AS rn
        FROM subs s JOIN cb1 c ON c.m = s.m
      ) WHERE rn = 1
    ),
    pv AS MATERIALIZED (SELECT qe AS pq FROM qv WHERE vec_id = {_PROBE_ID}),
    pcell AS MATERIALIZED (
      SELECT cell FROM cint, pv
      ORDER BY {_il2_sql('cint.cq', 'pv.pq', 64)}, cell
      LIMIT {_IVFPQ_NPROBE}
    ),
    pres AS (
      SELECT c.cell,
             list_transform(generate_series(1, 64),
                            i -> pv.pq[i] - c.cq[i]) AS re
      FROM cint c JOIN pcell USING (cell), pv
    ),
    psubs AS (
      SELECT cell, mm.m,
             re[mm.m * {_PQ_SUB} + 1 : mm.m * {_PQ_SUB} + {_PQ_SUB}] AS sv
      FROM pres, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m) mm
    ),
    ptab AS (
      SELECT ps.cell, c.m, c.k, {_il2_sql('ps.sv', 'c.cw', _PQ_SUB)} AS pd
      FROM cb1 c JOIN psubs ps ON ps.m = c.m
    ),
    adc AS (
      SELECT e.vec_id, SUM(pt.pd) AS approx_dist
      FROM enc e JOIN ptab pt
        ON pt.cell = e.cell AND pt.m = e.m AND pt.k = e.k
      WHERE e.vec_id != {_PROBE_ID}
      GROUP BY e.vec_id
    )
    SELECT vec_id, CAST(approx_dist AS BIGINT) AS approx_dist,
           CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT vec_id, approx_dist,
             row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
      FROM adc
    ) WHERE rk <= {_TOPK}
    """,
)
def sim_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ — the composed billion-scale serving index (FAISS IVFPQ)
    the PQ op's docstring promises: coarse IVF cells (the per-label
    integer centroids) partition the corpus; every vector PQ-encodes its
    RESIDUAL (vector − cell centroid — residual energy is much lower
    than raw vectors, which is why real IVFPQ quantizes residuals); the
    probe selects its {_IVFPQ_NPROBE} nearest cells by integer L2 and
    precomputes one distance TABLE PER PROBED CELL from its per-cell
    residual, then scores only vectors in probed cells by {_PQ_M} table
    lookups + an integer add. All arithmetic is fixed-point integer
    (floor-mean centroids, integer residuals, integer squared-L2), so
    the full train → residual-encode → per-cell table → rank chain is
    cross-engine exact and the oracle replays it end to end.

    Scale shape: the coarse centroids and codebooks are KB-scale
    broadcasts; encoding shuffles (cell, pos) integer partials; the
    serving scan reads {_PQ_M} one-byte codes per vector AND touches only
    nprobe/|cells| of the corpus — IVF's pruning multiplied by PQ's
    512× compression, which is exactly why this composition is the
    standard billion-vector index."""
    e_q = pin(
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    cint = pin(
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
    )  # 10 rows; 3 consumers below
    res = e_q.join(F.broadcast(cint), e_q.label == cint.cell).select(
        "vec_id",
        "cell",
        F.zip_with("qe", "cq", lambda a, b: a - b).alias("re"),
    )
    subs = _pq_subvectors(res, "re", ["vec_id", "cell"])
    cb1, enc = _pq_train_encode(subs, ["vec_id", "cell"])
    pv = e_q.filter(F.col("vec_id") == _PROBE_ID).select(
        F.col("qe").alias("pq")
    )
    pcell = (
        cint.crossJoin(F.broadcast(pv))
        .select("cell", _il2(F.col("cq"), F.col("pq")).alias("d"))
        .orderBy("d", "cell")
        .limit(_IVFPQ_NPROBE)
        .select("cell")
    )
    pres = (
        cint.join(F.broadcast(pcell), "cell")
        .crossJoin(F.broadcast(pv))
        .select(
            "cell", F.zip_with("pq", "cq", lambda a, b: a - b).alias("re")
        )
    )
    psubs = _pq_subvectors(pres, "re", ["cell"])
    ptab = cb1.join(F.broadcast(psubs), "m").select(
        "cell", "m", "k", _il2(F.col("sv"), F.col("cw")).alias("pd")
    )
    adc = (
        enc.filter(F.col("vec_id") != _PROBE_ID)
        .join(F.broadcast(ptab), ["cell", "m", "k"])
        .groupBy("vec_id")
        .agg(F.sum("pd").alias("approx_dist"))
    )
    w = Window.orderBy("approx_dist", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _TOPK)
        .select(
            "vec_id",
            F.col("approx_dist").cast("long").alias("approx_dist"),
            "rk",
        )
    )


@query(
    "emb_pca_project",
    f"""
    WITH pca AS MATERIALIZED ({ORACLES["emb_pca_power_iteration"]}),
    q AS (
      SELECT vec_id, label, i AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * {_PI_SCALE} + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    proj AS (
      SELECT q.vec_id, q.label, SUM(q.qv * pca.v_scaled) AS score
      FROM q JOIN pca ON pca.pos = q.pos
      GROUP BY q.vec_id, q.label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(score) AS BIGINT) AS proj_min,
           CAST(max(score) AS BIGINT) AS proj_max,
           CAST(SUM(score) AS BIGINT) AS proj_sum
    FROM proj GROUP BY label
    """,
)
def emb_pca_project(spark, sf_dir):
    """Apply the learned principal direction — the train→apply round
    trip for ``emb_pca_power_iteration`` (the PCA analog of
    text_bpe_encode following text_bpe_merges): every embedding is
    projected onto the converged iterate and the per-label projection
    census (count / min / max / sum, all exact integers since both the
    quantized components and the iterate are fixed-point) shows how the
    top direction separates the labels — the sanity table read before
    committing to PCA whitening or a 1-D quantization split. Scale: the
    64-row eigenvector broadcasts; the projection is one narrow
    map-side dot product per vector (shuffle only for the |labels|-sized
    census); the oracle recomputes the whole training trajectory
    (MATERIALIZED so the unrolled rounds evaluate once) and the same
    projection."""
    v = QUERIES["emb_pca_power_iteration"](spark, sf_dir)
    q = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode(
                F.transform(
                    as_double("embedding"),
                    lambda x: F.floor(x * _PI_SCALE + 0.5).cast("long"),
                )
            ).alias("pos0", "qv"),
        )
        .select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "qv")
    )
    proj = (
        q.join(F.broadcast(v), "pos")
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("qv") * F.col("v_scaled")).alias("score"))
    )
    return proj.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.min("score").alias("proj_min"),
        F.max("score").alias("proj_max"),
        F.sum("score").alias("proj_sum"),
    )


@query(
    "emb_centroid_drift",
    f"""
    WITH q AS (
      SELECT vec_id, label, (vec_id % 2 = 0) AS half_a, i AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * {_CENT_SCALE})
                  AS BIGINT) AS qv
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    c AS (
      SELECT label, half_a, pos,
             CAST(floor(CAST(SUM(qv) AS DOUBLE) / count(DISTINCT vec_id))
                  AS BIGINT) AS cq,
             count(DISTINCT vec_id) AS n
      FROM q GROUP BY 1, 2, 3
    ),
    d AS (
      SELECT a.label, a.pos, a.cq - b.cq AS diff,
             max(a.n) OVER (PARTITION BY a.label) AS n_a,
             max(b.n) OVER (PARTITION BY b.label) AS n_b
      FROM (SELECT * FROM c WHERE half_a) a
      JOIN (SELECT * FROM c WHERE NOT half_a) b
        ON b.label = a.label AND b.pos = a.pos
    )
    SELECT label,
           CAST(max(n_a) AS BIGINT) AS n_half_a,
           CAST(max(n_b) AS BIGINT) AS n_half_b,
           CAST(SUM(diff * diff) AS BIGINT) AS drift_sq,
           CAST(max(abs(diff)) AS BIGINT) AS max_dim_drift
    FROM d GROUP BY label
    """,
)
def emb_centroid_drift(spark, sf_dir):
    """Per-label centroid DRIFT between two cohorts (even vs odd vec_id —
    standing in for 'last index build' vs 'current data'): the staleness
    monitor that tells an ANN operator when to retrain the IVF/PQ
    codebooks — if the class centroids moved, the learned cells are
    routing against stale geometry. All fixed-point: cohort centroids
    are floored integer component means (the Lloyd update arithmetic),
    drift is the exact integer squared-L2 between them plus the hottest
    single dimension. Shapes: one (label, cohort, pos) partial
    aggregate off the vector scan; everything downstream is
    |labels|×64-sized."""
    q = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            (F.col("vec_id") % 2 == 0).alias("half_a"),
            F.posexplode(_quantize(as_double("embedding"))).alias("pos0", "qv"),
        )
        .select("vec_id", "label", "half_a", (F.col("pos0") + 1).alias("pos"), "qv")
    )
    c = q.groupBy("label", "half_a", "pos").agg(
        F.floor(
            F.sum("qv").cast("double") / F.count_distinct("vec_id")
        )
        .cast("long")
        .alias("cq"),
        F.count_distinct("vec_id").alias("n"),
    )
    a = c.filter(F.col("half_a")).select(
        "label", "pos", F.col("cq").alias("ca"), F.col("n").alias("n_a")
    )
    b = c.filter(~F.col("half_a")).select(
        "label", "pos", F.col("cq").alias("cb"), F.col("n").alias("n_b")
    )
    d = a.join(b, ["label", "pos"]).select(
        "label", "n_a", "n_b", (F.col("ca") - F.col("cb")).alias("diff")
    )
    return d.groupBy("label").agg(
        F.max("n_a").cast("long").alias("n_half_a"),
        F.max("n_b").cast("long").alias("n_half_b"),
        F.sum(F.col("diff") * F.col("diff")).cast("long").alias("drift_sq"),
        F.max(F.abs("diff")).cast("long").alias("max_dim_drift"),
    )


@query(
    "emb_duplicate_vectors_exact",
    f"""
    WITH q AS (
      SELECT vec_id, label,
             sha256(array_to_string(
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(CAST(round(x * {_CENT_SCALE}) AS BIGINT)
                           AS VARCHAR)), ',')) AS vh
      FROM embeddings
    ),
    g AS (
      SELECT vh, count(*) AS copies, min(vec_id) AS keep_vec,
             count(DISTINCT label) AS n_labels
      FROM q GROUP BY vh
    )
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_vectors,
           CAST(SUM(copies) AS BIGINT) AS n_vectors,
           CAST(SUM(copies - 1) AS BIGINT) AS n_redundant,
           CAST(SUM(CASE WHEN copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups,
           CAST(SUM(CASE WHEN copies >= 2 AND n_labels >= 2
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_label_conflicts
    FROM g
    """,
)
def emb_duplicate_vectors_exact(spark, sf_dir):
    """Exact duplicate-vector census — the FAISS-prep dedup every index
    build runs first: byte-identical embeddings (at fixed-point
    precision) inflate k-means cells, bias ANN recall measurements, and
    — the worst case counted here separately — the SAME vector under
    DIFFERENT labels is a labeling conflict no classifier can fix.
    Fingerprint = sha256 of the comma-joined fixed-point components
    (the engine's portable content-hash idiom), so the census is
    cross-engine exact. Shapes: one narrow map + one hash-keyed partial
    aggregate (hashes shuffle, vectors don't) + a 1-row census — the
    dedup_exact_hash plan applied to the vector table."""
    q = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.sha2(
            F.array_join(
                F.transform(
                    _quantize(as_double("embedding")), lambda q: q.cast("string")
                ),
                ",",
            ),
            256,
        ).alias("vh"),
    )
    g = q.groupBy("vh").agg(
        F.count("*").alias("copies"),
        F.min("vec_id").alias("keep_vec"),
        F.count_distinct("label").alias("n_labels"),
    )
    dup = F.when(F.col("copies") >= 2, 1).otherwise(0)
    return g.agg(
        F.count("*").alias("n_distinct_vectors"),
        F.sum("copies").cast("long").alias("n_vectors"),
        F.sum(F.col("copies") - 1).cast("long").alias("n_redundant"),
        F.sum(dup).cast("long").alias("n_dup_groups"),
        F.sum(
            F.when((F.col("copies") >= 2) & (F.col("n_labels") >= 2), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_label_conflicts"),
    )


# ---------------------------------------------------------------------------
# HNSW-class graph ANN (VERDICT r5 item 7: completes the family
# LSH / multiprobe / IVF / learned-IVF / PQ / graph)

_GR_M = 10  # neighbors per node per level (HNSW's M)
_GR_BEAM = 8  # search beam width (HNSW's ef-search), swept: B=8 dominates
_GR_HOPS = 3  # beam hops per level, unrolled (bounded walk = oracle-able)
_GR_LEVELS = (2, 1, 0)  # sparse top layer -> dense base layer
# (M, beam, hops) swept in DuckDB over both fixtures before pinning:
# M=6/B=1 greedy stalls at recall@10 0.0-0.3; M=10/B=8/h=3 reads 1.0 (sf0.001)
# and 0.9 (sf0.01) — pinned exactly in tests/test_ext_ops.py


def _gr_isq_sql(a: str, b: str) -> str:
    """DuckDB: integer squared-L2 between two fixed-point vectors."""
    return (
        f"CAST(list_sum(list_transform(range(1, 65),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


# LSH-blocked graph build (VERDICT r6 item 3): two independent 4-bit
# hyperplane hash tables over the 8 deterministic planes — candidate edges
# come from bucket-mates in EITHER table (OR-amplified, the multiprobe
# family's recall recovery), never from the all-pairs self-join.
_GRB_TABLES = ((0, 4), (4, 8))

# pair-kernel occupancy cap, sized from a per-Python-worker memory budget:
# the kernel's float64 distance block is occupancy² × 8 B, so the cap of
# 16,384 rows keeps it at 2 GiB — far past any bucket the bits ≈ log2(n/B)
# sizing rule admits (target mean occupancy B=160). A bucket over the cap
# indicates a mis-sized table, and the kernel raises a ValueError naming
# the knob instead of OOMing the Python worker.
_GRB_OCC_CAP = 16384


def _lsh_slice_sql(col: str, lo: int, hi: int) -> str:
    """DuckDB: hyperplane sign bits for planes [lo, hi) — the slice analog
    of ``_lsh_bucket_sql`` (prefix-only) for multi-table blocking. ``hi``
    may exceed the fixture-tuned ``_N_PLANES`` (the wide-table oracle
    inlines planes 0..13)."""
    parts = []
    for plane in _planes(hi)[lo:hi]:
        lit = "[" + ", ".join(str(x) for x in plane) + "]"
        parts.append(
            f"CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), {lit}) > 0 "
            "THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(parts) + ")"


def _grb_edges_sql(l: int) -> str:
    """Level-l M-NN edges restricted to LSH-bucket-mates: each source
    keeps its _GR_M nearest by (integer distance, dst id), over the pairs
    agreeing in table 1 OR table 2 (identical to the union-distinct of
    the two equi-joins the Spark side runs)."""
    return f"""e{l} AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY {_gr_isq_sql('a.qe', 'b.qe')}, b.vec_id) AS rk
        FROM lv a JOIN lv b
          ON a.lvl >= {l} AND b.lvl >= {l} AND a.vec_id != b.vec_id
         AND (a.b1 = b.b1 OR a.b2 = b.b2)
      ) WHERE rk <= {_GR_M}
    )"""


def _gr_step_sql(t: int, l: int) -> str:
    return f"""c{t} AS MATERIALIZED (
      SELECT n0.vec_id FROM (
        SELECT vec_id FROM c{t - 1}
        UNION
        SELECT e.dst AS vec_id FROM e{l} e JOIN c{t - 1} c ON e.src = c.vec_id
      ) f
      JOIN lv n0 ON n0.vec_id = f.vec_id
      CROSS JOIN probe p
      ORDER BY {_gr_isq_sql('n0.qe', 'p.pq')}, n0.vec_id
      LIMIT {_GR_BEAM}
    )"""


def _gr_sql(tables=None) -> str:
    steps, t = [], 0
    for l in _GR_LEVELS:
        for _ in range(_GR_HOPS):
            t += 1
            steps.append(_gr_step_sql(t, l))
    final = t
    (lo1, hi1), (lo2, hi2) = tables if tables is not None else _GRB_TABLES
    bcols = (
        f", {_lsh_slice_sql('embedding', lo1, hi1)} AS b1"
        f", {_lsh_slice_sql('embedding', lo2, hi2)} AS b2"
    )
    return f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
             {bcols}
      FROM embeddings
    ),
    lv AS MATERIALIZED (
      SELECT vec_id, qe, b1, b2,
             CASE WHEN hv % 16 = 0 THEN 2
                  WHEN hv % 4 = 0 THEN 1
                  ELSE 0 END AS lvl
      FROM (
        SELECT vec_id, qe, b1, b2,
               (instr('0123456789abcdef',
                      substr(sha256(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 16
               + (instr('0123456789abcdef',
                        substr(sha256(CAST(vec_id AS VARCHAR)), 2, 1)) - 1)
                 AS hv
        FROM qv WHERE vec_id != {_PROBE_ID}
      )
    ),
    probe AS MATERIALIZED (
      SELECT qe AS pq FROM qv WHERE vec_id = {_PROBE_ID}
    ),
    {', '.join(_grb_edges_sql(l) for l in _GR_LEVELS)},
    c0 AS MATERIALIZED (
      SELECT vec_id FROM lv ORDER BY lvl DESC, vec_id LIMIT 1
    ),
    {', '.join(steps)},
    cand AS MATERIALIZED (
      SELECT DISTINCT vec_id FROM (
        SELECT vec_id FROM c{final}
        UNION ALL
        SELECT e.dst AS vec_id
        FROM e0 e JOIN c{final} c ON e.src = c.vec_id
        UNION ALL
        SELECT eb.dst AS vec_id
        FROM e0 ea JOIN c{final} c ON ea.src = c.vec_id
        JOIN e0 eb ON eb.src = ea.dst
      )
    )
    SELECT vec_id, idist FROM (
      SELECT n.vec_id, {_gr_isq_sql('n.qe', 'p.pq')} AS idist
      FROM cand f JOIN lv n ON n.vec_id = f.vec_id CROSS JOIN probe p
    ) ORDER BY idist, vec_id LIMIT {_TOPK}
    """


def _gr_nodes(e, tables=None):
    """Quantize + seeded level assignment (sha-nibble of the vec_id: the
    deterministic stand-in for HNSW's geometric level draw — P(lvl>=1)=1/4,
    P(lvl=2)=1/16, the 'exponentially decaying layer population'). Each
    node also carries its LSH table keys b1, b2 (the blocked build's
    candidate-generation columns); ``tables`` overrides the fixture-tuned
    ``_GRB_TABLES`` plane slices (the scale knob)."""
    h = F.sha2(F.col("vec_id").cast("string"), 256)

    def nib(i):
        return F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1

    hv = nib(1) * 16 + nib(2)
    qe = _quantize(as_double("embedding"))
    cols = [
        F.col("vec_id"),
        qe.alias("qe"),
        F.when(hv % 16 == 0, 2).when(hv % 4 == 0, 1).otherwise(0).alias("lvl"),
    ]
    tabs = tables if tables is not None else _GRB_TABLES
    planes = _planes(max(hi for _, hi in tabs))
    for i, (lo, hi) in enumerate(tabs, start=1):
        bits = [
            F.when(cosine_free_dot(as_double("embedding"), p) > 0, "1")
            .otherwise("0")
            for p in planes[lo:hi]
        ]
        cols.append(F.concat(*bits).alias(f"b{i}"))
    return e.select(*cols)


def _grb_scored_pairs(nodes):
    """[LAW-TEST TWIN since round 15 — the engine path is
    :func:`_grb_scored_pairs_arrow`, row-set-identical by law test; this
    join form is kept to anchor that exactness claim and the plan
    assertions on the join shape.]

    All LSH-blocked candidate pairs, scored once for every level:
    candidates are bucket-mates
    in either of two 4-bit hyperplane tables (equi-joins on the bucket
    key, union-distinct = the oracle's OR), ids only through the shuffle;
    quantized vectors re-join by id for the distance score. No all-pairs
    self-join anywhere — tests/test_plans.py asserts the plan carries no
    nested-loop/cartesian join. Cost is Σ bucket² per table instead of
    |V|²; the bit-width is the knob (more planes → smaller buckets).

    Bucket membership does not depend on the node's level, so level-l
    candidates are exactly the level-0 candidates restricted to lvl ≥ l
    endpoints — computing (and scoring) the pair set ONCE and filtering
    per level replaces 3 bucket joins + 3 distinct shuffles + 3 distance
    passes with 1 of each. Measured ~neutral at fixture scale (the upper
    levels hold 1/4 and 1/16 of the nodes, so the joins it removes were
    small); kept because the shuffle/score work removed grows with the
    level-population ratio, and the phase profile (warm, sf0.1: nodes
    1.3 s, scored pairs 2.7 s, per-level rank 1.1 s, 9-hop search 3.0 s)
    shows the remaining floor is the interpreted distance fold over ~0.5M
    candidate pairs plus the walk's 9 sequential bounded jobs — a serving
    system amortizes the BUILD across queries; this op rebuilds per call
    because the oracle replays the whole chain. Each side carries its lvl
    so the per-level filter is a narrow map over the scored pairs."""
    # shuffle_hash hints on every build join: all sides are projections
    # of the PINNED node table, and a pin carries pre-pin size estimates
    # (the sf2.5 suffix-family probe showed the planner broadcasting a
    # multi-GB pinned side to the driver on exactly this pattern). The
    # bucket self-join and the vector rejoins are |V|-grain by
    # construction — broadcast is categorically wrong at scale; shuffled
    # hash keeps them distributed without a sort, and bucket-key skew is
    # exactly what the table-width knob bounds.
    pairs = None
    for i in range(1, len(_GRB_TABLES) + 1):
        a = nodes.select(F.col("vec_id").alias("src"), F.col(f"b{i}").alias("k"))
        b = nodes.select(F.col("vec_id").alias("dst"), F.col(f"b{i}").alias("k"))
        p = (
            a.join(b.hint("shuffle_hash"), "k")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        pairs = p if pairs is None else pairs.union(p)
    qa = nodes.select(
        F.col("vec_id").alias("src"),
        F.col("qe").alias("qa"),
        F.col("lvl").alias("src_lvl"),
    )
    qb = nodes.select(
        F.col("vec_id").alias("dst"),
        F.col("qe").alias("qb"),
        F.col("lvl").alias("dst_lvl"),
    )

    # the candidate-pair distance is the build's arithmetic hot loop
    # (~0.5M pairs × 64 dims at sf0.1): Catalyst's higher-order fold
    # evaluates interpreted per element, so the score runs as an
    # Arrow-batched numpy kernel instead — identical exact int64
    # arithmetic (diff² sum ≤ 64·(2·10⁶)² ≪ 2⁶³), same values (the
    # simhash op's SWAR-UDF precedent). Measured 2.7 → 2.3 s on the
    # fixture phase profile: the remaining floor is the qa/qb ARRAY
    # shuffle feeding the pair join (0.5M × 64 int64s), not the
    # arithmetic — the asymptotic win belongs to the kernel, the
    # fixture-scale win to neither
    il2_pd = F.pandas_udf(_il2_kernel, "long")
    return (
        pairs.distinct()
        .join(qa.hint("shuffle_hash"), "src")
        .join(qb.hint("shuffle_hash"), "dst")
        .select(
            "src",
            "dst",
            "src_lvl",
            "dst_lvl",
            il2_pd(F.col("qa"), F.col("qb")).alias("d"),
        )
    )


def _il2_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact int64 squared L2 distance of two quantized-vector columns.
    Module level, so a Python worker imports this package (see
    ``_grb_pair_kernel``)."""
    if len(a) == 0:
        return pd.Series([], dtype="int64")
    aa = np.array(a.tolist(), dtype=np.int64)
    bb = np.array(b.tolist(), dtype=np.int64)
    d = aa - bb
    return pd.Series((d * d).sum(axis=1))


def _grb_pair_kernel(pdf: pd.DataFrame, cap: int) -> pd.DataFrame:
    """Every unordered bucket-mate pair of ``pdf`` once (upper triangle,
    src < dst after the id sort), with its exact squared L2 distance.
    Module level, so a Python worker unpickles it by reference and so
    imports this package (see ``make_hmac_udf``)."""
    n = len(pdf)
    if n < 2:
        return pd.DataFrame(
            {
                "src": pd.Series([], dtype="int64"),
                "dst": pd.Series([], dtype="int64"),
                "src_lvl": pd.Series([], dtype="int32"),
                "dst_lvl": pd.Series([], dtype="int32"),
                "d": pd.Series([], dtype="int64"),
            }
        )
    if n > cap:
        raise ValueError(
            f"bucket occupancy {n} exceeds the pair-kernel cap "
            f"{cap}; widen the tables (bits ≈ log2(n/B))"
        )
    order = np.argsort(pdf["vec_id"].to_numpy())
    ids = pdf["vec_id"].to_numpy()[order]
    lvl = pdf["lvl"].to_numpy()[order]
    Qf = np.array(pdf["qe"].tolist(), dtype=np.int64)[order].astype(
        np.float64
    )
    sq = (Qf * Qf).sum(axis=1)
    D = (sq[:, None] + sq[None, :] - 2.0 * (Qf @ Qf.T)).astype(np.int64)
    i, j = np.triu_indices(n, k=1)
    return pd.DataFrame(
        {
            "src": ids[i],
            "dst": ids[j],
            "src_lvl": lvl[i].astype("int32"),
            "dst_lvl": lvl[j].astype("int32"),
            "d": D[i, j],
        }
    )


def _grb_scored_pairs_arrow(nodes):
    """Within-bucket pair generation + scoring as ONE numpy kernel per
    bucket — the `_sd_pairs_arrow` / `_km_assign_arrow` treatment applied
    to the blocked build's candidate stage (round-15 optimization, guide
    §4.2), law-pinned row-set-identical to the join form
    (:func:`_grb_scored_pairs`, kept as the twin) at both graded fixtures
    AND at sf0.1 (488,486 pairs).

    Why: the join form distincts the id pairs and then re-joins the
    quantized vectors by id TWICE (qa by src, qb by dst), shipping two
    64-long arrays across the Python boundary PER CANDIDATE PAIR into the
    scoring pandas UDF (~0.5M pairs × 2 × 512 B at sf0.1 — the measured
    stage floor, see `_grb_scored_pairs`'s own note). Here nodes hash by
    bucket key once per table (|V| rows × ~530 B) into `applyInPandas`,
    the kernel emits the bucket-mate pairs with their exact distance,
    and only (src, dst, lvls, d) rows reach the distinct —
    vectors cross the Python boundary once per node per table instead of
    twice per pair (~250× less Arrow traffic), and both shuffle_hash
    vector re-joins disappear. Measured 2.4 → 0.9 s warm on the stage at
    sf0.1 (same-box A/B).

    Exactness: distances use the norm expansion |a|²+|b|²−2a·b over the
    int64 quantized vectors in float64 BLAS — every intermediate is an
    integer ≤ ~10¹⁵ < 2⁵³, so the arithmetic is exact regardless of BLAS
    summation order; the law test re-proves value identity against the
    join form's int64 fold at both fixtures. Per-bucket memory is
    occupancy², the same Σ n_c² budget that bounds the join form's
    output — a skewed cell costs both forms alike, and the table-width
    knob (`bits ≈ log2(n/B)`) bounds occupancy in both; the explicit
    `_GRB_OCC_CAP` guard turns a pathological bucket into a fast,
    knob-naming failure instead of a Python-worker OOM (VERDICT r15
    item 7).

    Round-16 optimization (VERDICT r15 item 7): the kernel emits each
    unordered pair ONCE (upper triangle, src < dst by the in-kernel id
    sort) and a JVM ``explode`` over a two-element array emits both
    orientations before the distinct — half the kernel output rows and
    Arrow return traffic. The mirror reads the kernel output once, so the
    kernel runs once per LSH table (a ``unionByName`` of the output with
    its swapped projection would run it twice). Pair set law-pinned
    identical (same law test)."""

    cap = _GRB_OCC_CAP  # read on the driver; the closure ships it by value

    def pair_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return _grb_pair_kernel(pdf, cap)

    out = None
    for i in range(1, len(_GRB_TABLES) + 1):
        per = (
            nodes.select("vec_id", "qe", "lvl", F.col(f"b{i}").alias("k"))
            .groupBy("k")
            .applyInPandas(
                pair_bucket,
                "src long, dst long, src_lvl int, dst_lvl int, d long",
            )
        )
        out = per if out is None else out.unionByName(per)
    both = F.explode(
        F.array(
            F.struct("src", "dst", "src_lvl", "dst_lvl", "d"),
            F.struct(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col("dst_lvl").alias("src_lvl"),
                F.col("src_lvl").alias("dst_lvl"),
                "d",
            ),
        )
    )
    return out.select(both.alias("p")).select("p.*").distinct()


def _grb_edges(nodes, l: int, scored=None):
    """Level-l M-NN edges from the shared scored pair set (see
    :func:`_grb_scored_pairs`): each source keeps its _GR_M nearest by
    (d, dst)."""
    if scored is None:
        scored = _grb_scored_pairs(nodes)
    sub = scored.filter((F.col("src_lvl") >= l) & (F.col("dst_lvl") >= l))
    w = Window.partitionBy("src").orderBy("d", "dst")
    return (
        sub.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _GR_M)
        .select("src", "dst")
    )


def _gr_probe_dists(nodes, probe):
    """Per-node probe distance table ``nd = (vec_id, lvl, pd)`` — the
    round-16 walk optimization's key observation: a node's distance to
    the probe is EXECUTION-INVARIANT, yet the r15 walk re-derived it
    inside every hop (frontier ⋈ nodes, crossJoin probe, interpreted
    64-element fold). Computed once here (same exact int64 `_il2`
    arithmetic, same values) and attached to the pinned edge tables so
    the hops never touch vectors again. Left UNPINNED: its two consumers
    (the entry-point job and the edge-pin attach join) re-run one narrow
    map over the pinned node table — cheaper than a third eager pin."""
    return nodes.crossJoin(F.broadcast(probe)).select(
        "vec_id", "lvl", _il2(F.col("qe"), F.col("pq")).alias("pd")
    )


def _with_probe_dist(edges, nd):
    """Attach the dst endpoint's probe distance to an (src, dst) edge
    frame. shuffle_hash per the module's pinned-side join discipline
    (edges and nd are |V|-grain by construction — broadcast is
    categorically wrong at scale, and pinned lineage carries pre-pin
    size estimates)."""
    ndd = nd.select(F.col("vec_id").alias("dst"), F.col("pd"))
    return edges.join(ndd.hint("shuffle_hash"), "dst").select(
        *edges.columns, "pd"
    )


def _grb_edges_all(scored, nd):
    """All `_GR_LEVELS` walk levels' M-NN edges in ONE tagged window pass
    (round-15 optimization): level l's candidates are the scored pairs
    with both endpoints at lvl ≥ l, so the three per-level
    rank-and-keep-M windows collapse into a single window PARTITIONED BY
    (walk_lvl, src) over the level-filtered copies of the pinned scored
    table, pinned ONCE — 3 exchanges + 3 window sorts + 3 pin jobs → 1
    of each (the union is wider by the sparse upper levels only: +~30%
    rows at fixture occupancy, each a 4-int row). Edge sets are
    law-pinned identical to the per-level `_grb_edges` at the graded
    fixture (tests/test_round16_opt.py); same (d, dst) rank rule, same
    _GR_M keep.

    Round-16: each edge additionally carries ``pd`` — the dst endpoint's
    probe distance (see `_gr_probe_dists`) — attached INSIDE the one pin
    job, so the beam walk consumes (src, dst, pd) and never joins the
    node table or re-evaluates the distance fold per hop. Returns
    {level: (src, dst, pd)}; each level is a narrow filter over the one
    pinned table."""
    tagged = None
    for l in _GR_LEVELS:
        sub = scored.filter(
            (F.col("src_lvl") >= l) & (F.col("dst_lvl") >= l)
        ).select(F.lit(l).alias("walk_lvl"), "src", "dst", "d")
        tagged = sub if tagged is None else tagged.unionByName(sub)
    w = Window.partitionBy("walk_lvl", "src").orderBy("d", "dst")
    ranked = (
        tagged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _GR_M)
        .select("walk_lvl", "src", "dst")
    )
    allr = pin(_with_probe_dist(ranked, nd))
    return {
        l: allr.filter(F.col("walk_lvl") == l).select("src", "dst", "pd")
        for l in _GR_LEVELS
    }


def _gr_step(cur, edges):
    """One beam hop (HNSW ef-search analog): frontier = beam ∪ N(beam);
    keep the _GR_BEAM frontier nodes nearest the probe (ties by id). The
    beam is what rescues greedy descent from local optima — swept: beam=1
    reads recall 0.0-0.3, beam=8 reads 0.9-1.0 on the fixtures.

    Round-16 shape: ``cur`` carries (vec_id, pd) and ``edges`` carries
    the dst's pd, so the hop is neighbor-join ∪ distinct → top-beam by
    (pd, vec_id) — no node-table join, no probe crossJoin, no per-row
    distance fold (all removed; the distance is the same `_il2`
    int64, computed once in `_gr_probe_dists`). The rename-projection
    (`_cv`) keeps the frontier⋈edges join free of dataset-qualified
    self-join ambiguity (cur's lineage now derives from the same edge
    frame it joins)."""
    curk = cur.select(F.col("vec_id").alias("_cv"))
    nb = edges.join(curk, F.col("src") == F.col("_cv")).select(
        F.col("dst").alias("vec_id"), F.col("pd")
    )
    frontier = cur.select("vec_id", "pd").union(nb).distinct()
    return frontier.orderBy("pd", "vec_id").limit(_GR_BEAM)


@query("sim_ann_graph_topk", _gr_sql())
def sim_ann_graph_topk(spark, sf_dir):
    """Graph-index ANN (HNSW/NSW class), primary key. Delegates to the
    LSH-blocked build (VERDICT r7 item 6 — the same re-pointing the ntile
    family got): a user calling the family's primary key must never get
    the all-pairs self-join index build, so the registered semantics ARE
    the blocked semantics (oracle = the blocked SQL, edge-for-edge)."""
    return sim_ann_graph_topk_blocked(spark, sf_dir)


def _gr_search(nd, edges):
    """Beam descent + 2-hop base-layer rerank, shared by every blocked
    build width (the index changes; the walk does not).

    Round-16 optimization (VERDICT r15 item 3): the walk consumes the
    probe-distance table ``nd`` (see `_gr_probe_dists`) and
    distance-carrying edges (src, dst, pd) instead of (nodes, probe) —
    each of the 9 hops drops its node-table join, its probe crossJoin
    and its interpreted 64-element distance fold (5 operators → 3), and
    the final 2-hop rerank drops its candidates⋈nodes join the same
    way. Same `_il2` int64 arithmetic computed once per node, same
    (distance, id) rank rule, so every beam and the final top-k are
    row-identical — proven by collect-compare at all three SFs for
    blocked/wide/auto and law-pinned end-to-end in
    tests/test_round16_opt.py. Interleaved sf0.1 A/B: blocked 4.43 → 4.32 med (4/5 pairwise), wide
    4.71 → 4.55 (4/5), auto 4.46 → 4.30 (4/5).

    Round-15 optimization note — the driver-fed literal-beam walk was
    IMPLEMENTED, MEASURED, AND REJECTED: feeding each hop's ≤_GR_BEAM ids
    back as `isin` literals embeds new literal values in every hop's
    generated code, so Janino's codegen cache misses on all 9 hops of
    every execution (the pinned-frontier form compiles each hop shape
    ONCE — identical source, new checkpointed RDD). Measured on quiet
    same-box A/B at sf0.1: blocked 6.73 → 9.25 s, wide 5.78 → 7.15,
    auto 7.25 → 10.0. The per-hop pin is 1
    job either way; the collect saved nothing and paid recompilation.
    Kept: the DataFrame frontier + per-hop eager pin.

    ALSO MEASURED AND REJECTED (round-15 opt session 4): pinning every
    2nd or 3rd hop instead of every hop (halving/thirding the pin-job
    count; the unpinned hop's subtree is referenced twice by its
    successor, so the saved job is paid with duplicated tiny-subtree
    execution + a deeper plan per compile). Interleaved 5-rep A/B on the
    full walk at sf0.1, outputs identical at both graded fixtures:
    per-hop med 2.30 s, every-2 2.52, every-3 2.60. The per-hop pin is
    the walk's measured floor.

    ALSO MEASURED AND REJECTED (round-15 opt session 6): the probe as a
    64-literal constant array instead of the 1-row pin +
    crossJoin(broadcast) per hop — unlike the beam literals the probe is
    execution-invariant so codegen caching is safe, but quiet-box
    interleaved 7-rep A/Bs read blocked med 5.27 → 5.19 (noise), auto
    4.85 → 5.17 (the literal form loses 6/7 pairwise; outputs identical
    at all three SFs): the saved pin job is repaid per row — the
    literal array is re-constructed per _il2 evaluation where the
    broadcast side references one materialized ArrayData. The
    probe-distance table is different in
    kind from both: the pd computation stays a DataFrame map over the
    pinned nodes (no literals in generated code — codegen cache safe)
    and is evaluated once per BUILD, not once per hop."""
    cur = (
        nd.orderBy(F.desc("lvl"), "vec_id").limit(1).select("vec_id", "pd")
    )
    for l in _GR_LEVELS:
        for _ in range(_GR_HOPS):
            cur = pin(_gr_step(cur, edges[l]))
    e0 = edges[0]
    curk = cur.select(F.col("vec_id").alias("_cv"))
    hop1 = e0.join(curk, F.col("src") == F.col("_cv")).select(
        F.col("dst").alias("vec_id"), F.col("pd")
    )
    ea = e0.select(F.col("src").alias("s1"), F.col("dst").alias("d1"))
    eb = e0.select(
        F.col("src").alias("s2"), F.col("dst").alias("d2"), F.col("pd")
    )
    hop2 = (
        curk.join(ea, F.col("_cv") == F.col("s1"))
        .join(eb, F.col("d1") == F.col("s2"))
        .select(F.col("d2").alias("vec_id"), F.col("pd"))
    )
    cand = cur.select("vec_id", "pd").union(hop1).union(hop2).distinct()
    return (
        cand.orderBy("pd", "vec_id")
        .limit(_TOPK)
        .select("vec_id", F.col("pd").alias("idist"))
    )


@query("sim_ann_graph_topk_blocked", _gr_sql())
def sim_ann_graph_topk_blocked(spark, sf_dir):
    """Graph ANN with the SCALE-SAFE index build (VERDICT r6 item 3): the
    per-level M-NN graph is built from LSH-bucketed candidates — two
    independent 4-bit hyperplane tables (planes 0-3 / 4-7, the same
    deterministic ±1 planes the LSH/multiprobe ops inline), candidate
    pairs = bucket-mates in EITHER table — instead of an all-pairs
    self-join. The build shuffles ids on equi bucket keys and
    re-joins quantized vectors by id; nothing in the plan is quadratic in
    |V| (plan-asserted nested-loop-free in tests/test_plans.py). The walk
    (`_gr_search`), beam, hops, levels, and rerank are byte-identical to
    `sim_ann_graph_topk`; the oracle replays the blocked build edge for
    edge (the OR of the two table keys ≡ the union-distinct of the two
    equi-joins), so the EXACT gate grades the blocked semantics.
    Recall@10 vs the brute-force truth is pinned exactly in
    tests/test_ext_ops.py.

    NOTE: the 4-bit width here is FIXTURE-TUNED and superlinear at scale
    (bucket occupancy grows with n at fixed width — measured exponent
    ~1.08). Production
    use is `sim_ann_graph_topk_blocked_auto`, which derives the width
    from a corpus count (bits ≈ log2(n/160)) and measured 0.39-0.40 at
    3x/10x/25x."""
    return _gr_blocked(spark, sf_dir)


def _gr_blocked(spark, sf_dir, tables=None):
    """Shared blocked-build body: registered op (default fixture-tuned
    4-bit tables) and the scale variant (wider tables) differ ONLY in the
    block-key slices."""
    # Round-15 optimization note — a `_parallel`-style repartition before
    # the node derivation was IMPLEMENTED, MEASURED, AND REJECTED here:
    # it does spread the plane-dot map (the 1-task single-row-group scan),
    # but the pin then freezes nodes at defaultParallelism partitions and
    # the walk's 9 sequential tiny per-hop jobs each re-scan the node
    # table — ~300 near-empty task launches per execution ate more than
    # the build saved (quiet same-box A/B at sf0.1: blocked 6.73 → 8.54 s,
    # auto 7.25 → 8.60). On a real multi-file
    # corpus the scan arrives parallel WITHOUT the repartition, so the
    # fixture-only win wasn't there to buy either. The build's wide
    # stages get their parallelism from their own exchanges regardless.
    e = load(spark, sf_dir, "embeddings")

    # Round-15 opt session 6: the nodes and probe pins are INDEPENDENT
    # (both read only the embeddings scan), so their two eager jobs are
    # submitted from a 2-thread pool instead of back-to-back (guide
    # §2.6; the q17 rank-pass precedent). Outputs identical at all three
    # SFs for blocked/wide/auto; timing mildly positive on a jittery box
    # (blocked multifile med 5.49 → 4.78, auto 4.38 → 4.30 single-file /
    # 13.40 → 9.86 multifile) — the saved wait is
    # the smaller (probe) pin job. The probe-as-literal-array variant
    # was measured here too and REJECTED (see `_gr_search`'s docstring).
    def _mk_nodes():
        return pin(_gr_nodes(e.filter(F.col("vec_id") != _PROBE_ID), tables=tables))

    def _mk_probe():
        return pin(
            e.filter(F.col("vec_id") == _PROBE_ID)
            .select(_quantize(as_double("embedding")).alias("pq"))
        )

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fn, _fp = _pool.submit(_mk_nodes), _pool.submit(_mk_probe)
        nodes, probe = _fn.result(), _fp.result()
    # round-15 opt: per-bucket Arrow pair kernel (was: bucket self-joins +
    # id-pair distinct + two shuffle_hash vector re-joins + per-pair
    # pandas-UDF scoring) — see `_grb_scored_pairs_arrow`; the join form
    # is kept as the law-test twin.
    scored = pin(_grb_scored_pairs_arrow(nodes))
    # round-16 opt: probe distances computed once and attached to the
    # pinned edges — the walk never touches vectors (see `_gr_search`).
    nd = _gr_probe_dists(nodes, probe)
    # round-15 opt: one tagged window pass + one pin for all levels
    # (was one window + pin per level) — see `_grb_edges_all`.
    edges = _grb_edges_all(scored, nd)
    return _gr_search(nd, edges)


def sim_ann_graph_topk_blocked_scaled(spark, sf_dir, bits: int):
    """UNREGISTERED scale variant of the blocked graph-ANN build: two
    hyperplane tables of ``bits`` planes each (the registered op's
    fixture-tuned width is 4). THE superlinearity fix the round-9
    scale-slope run demanded: with the table width FIXED, bucket
    occupancy grows ∝ n, so bucket-mate candidate pairs grow ∝ n²/2^bits
    — measured 15× build+walk time at 10× vectors (exponent 1.18, the
    one superlinear op in the slope table). The production knob is
    bits ≈ log2(n/B) for a target mean occupancy B: every +1 bit halves
    occupancy, so growing bits with log n holds per-bucket pair work
    CONSTANT and the total pair count ∝ n — measured: 10× vectors with
    bits 4→7 reads near-linear (BASELINE.md). The parameterized form stays unregistered
    (one EXACT oracle inlines one fixed plane set); it is driver-proven
    at TWO widths instead — bits=4 ≡ the registered
    `sim_ann_graph_topk_blocked` row-for-row (law,
    tests/test_round9_ops.py), and bits=7 IS the registered
    `sim_ann_graph_topk_blocked_wide` (its own oracle inlines planes
    0..13 — VERDICT r9 item 1)."""
    return _gr_blocked(spark, sf_dir, tables=((0, bits), (bits, 2 * bits)))


_GRB_WIDE_BITS = 7  # log2(n/B) at the sf1 slope point (n≈50k, B≈400)
_GRB_WIDE_TABLES = ((0, _GRB_WIDE_BITS), (_GRB_WIDE_BITS, 2 * _GRB_WIDE_BITS))


@query(
    "sim_ann_graph_topk_blocked_wide",
    _gr_sql(tables=_GRB_WIDE_TABLES),
)
def sim_ann_graph_topk_blocked_wide(spark, sf_dir):
    """Graph ANN, blocked build at the PRODUCTION table width (bits=7 —
    the knob setting the round-9 scale-slope run proved restores linear
    build cost at the 10× fixture decade; VERDICT r9 item 1: the scaled
    form must be driver-proven, not just law-pinned). Identical machinery
    to `sim_ann_graph_topk_blocked` — same walk, beam, levels, rerank —
    with two independent 7-bit hyperplane tables (planes 0-6 / 7-13)
    generating the candidate edges; the EXACT oracle inlines its own 14
    plane literals and replays the wide build edge for edge, exactly as
    the 4-bit oracle does. At fixture n the wide buckets are sparse
    (mean occupancy ~4 vs ~31), so this row also pins that the walk's
    recall machinery tolerates a thin candidate graph."""
    return _gr_blocked(spark, sf_dir, tables=_GRB_WIDE_TABLES)


# auto-width rule (VERDICT r10 item 1 — the last hand-set scale knob):
# bits = clamp(ceil(log2(n / B)), 4, 16) for target mean bucket occupancy
# B. B=160 reproduces every measured calibration point: fixture n=499 ->
# clamped to 4 (== the registered sim_ann_graph_topk_blocked), the sf1
# slope point n=20k -> 7 (== the registered ..._blocked_wide), and the
# sf2.5 stress point n=50k -> 9 (the width a direct run measured 1.7x
# faster than the under-width 7 — BASELINE.md r10 row). The clamp floor
# keeps thin-fixture builds off degenerate 1-2 bit tables; the ceiling
# bounds plane count (2*bits planes) far below any useful width.
_GRB_AUTO_B = 160
_GRB_AUTO_MIN_BITS = 4
_GRB_AUTO_MAX_BITS = 16


def _grb_auto_bits(n: int) -> int:
    """Table width for a corpus of ``n`` vectors (see _GRB_AUTO_B)."""
    raw = math.ceil(math.log2(max(1, n) / _GRB_AUTO_B))
    return max(_GRB_AUTO_MIN_BITS, min(_GRB_AUTO_MAX_BITS, raw))


@query("sim_ann_graph_topk_blocked_auto", _gr_sql())
def sim_ann_graph_topk_blocked_auto(spark, sf_dir, n_override: int = None):
    """Graph ANN, blocked build with the table width DERIVED AT BUILD
    TIME from a corpus count — closing the last hand-set scale knob
    (VERDICT r10 item 1): `sim_ann_graph_topk_blocked` pins bits=4 and
    `..._blocked_wide` pins bits=7, both fixture-tuned constants a user
    had to re-pick per scale (the sf2.5 stress run caught the registered
    7-bit key half a decade under-width: a direct bits=9 run was 1.7x
    faster). Here one bounded driver scalar (`count()` of the vector
    corpus — the house two-pass idiom, scale.py precedent) feeds
    bits = clamp(ceil(log2(n/{B})), {lo}, {hi}), and the build proceeds
    exactly as `_gr_blocked` with two `bits`-plane tables. At fixture n
    (499) the rule clamps to 4, so this key's EXACT oracle IS the 4-bit
    blocked SQL and the driver grade proves the derivation end to end;
    the law tests pin auto(n) == the fixed 4/7-bit keys where the rule
    lands there (tests/test_round11_ops.py). ``n_override`` exists for
    the law tests only — it substitutes the counted n, never the data.

    Scale shape: identical to the fixed-width build (ids-only bucket
    shuffles, shuffle_hash-hinted rejoins, nothing quadratic in |V|) plus
    one extra full-scan count — two passes over the corpus instead of
    one, the standard price of a data-dependent plan parameter (AQE makes
    the same trade per shuffle stage)."""
    e = load(spark, sf_dir, "embeddings")
    n = (
        n_override
        if n_override is not None
        else e.filter(F.col("vec_id") != _PROBE_ID).count()
    )  # bounded driver scalar: one int64
    bits = _grb_auto_bits(n)
    return _gr_blocked(spark, sf_dir, tables=((0, bits), (bits, 2 * bits)))


sim_ann_graph_topk_blocked_auto.__doc__ = (
    sim_ann_graph_topk_blocked_auto.__doc__.format(
        B=_GRB_AUTO_B, lo=_GRB_AUTO_MIN_BITS, hi=_GRB_AUTO_MAX_BITS
    )
)


# IVF auto-sizing (round 11, the second self-tuning knob): the standard
# IVF heuristic k ≈ √n cells with nprobe ≈ √k probed — per-cell occupancy
# and probed-cell count both grow as √n, so probe cost is O(√n · √n) = O(n)
# work split √n ways, and the centroid table stays a broadcastable
# dimension (√(10¹⁰) = 10⁵ rows at 10B vectors). Clamps: floor 4 (a
# degenerate corpus still trains a real quantizer), ceiling 4096 cells
# (64-dim int64 centroids ≈ 2 MB — safely broadcastable; beyond that a
# deployment shards the coarse quantizer, a different design).
_KM_AUTO_MIN_K = 4
_KM_AUTO_MAX_K = 4096


def _km_auto_k(n: int) -> int:
    """Cell count for a corpus of ``n`` vectors: clamp(round(√n), 4, 4096)."""
    return max(_KM_AUTO_MIN_K, min(_KM_AUTO_MAX_K, round(math.sqrt(max(1, n)))))


def _km_auto_nprobe(k: int) -> int:
    """Probed-cell count for ``k`` cells: max(1, round(√k))."""
    return max(1, round(math.sqrt(k)))


def _km_ivf_auto_body(spark, sf_dir, k: int, nprobe: int, stride: int = 1):
    """Learned-IVF train + search at an explicit (k, nprobe) — the shared
    body `sim_ann_kmeans_ivf_topk_auto` derives its parameters for, and
    the law tests call directly. Identical Lloyd machinery to
    `sim_ann_kmeans_ivf_topk` (same fixed-point determinism disciplines);
    the only differences are the seeding (the k smallest vec_ids as
    singleton cells, cell id = vec_id — the `emb_kmeans_elbow_curve`
    idiom, metadata-free) and the derived nprobe.

    ``stride`` > 1 caps the TRAIN set at the deterministic stride sample
    ``vec_id % stride == 0`` (the `sim_ann_kmeans_ivf_topk_auto_sampled`
    key derives it): the Lloyd iterations see only ~n/stride vectors, the
    final assignment and serving stay full-corpus — the standard
    sample-capped quantizer train, stride=1 degenerates to the full
    train bit for bit.

    The post-scan rebalance below is the dedup.py ``_parallel`` idiom
    (VERDICT r11 item 3): the fixture files are single-row-group parquet,
    so without it the projected+checkpointed ``e_q`` inherits ONE
    partition and every Lloyd assign/update of the train runs on one
    task — measured 6.97 s single-file vs 2.50 s on the 32-file twin at
    sf0.1 (r11 artifact). A real multi-file corpus arrives partitioned
    and the repartition degrades to a balanced shuffle of the vectors the
    train would shuffle anyway."""
    e = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    e_q = pin(
        e.select(
            "vec_id",
            as_double("embedding").alias("de"),
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    # round-15 opt session 2: the stride-sampled train runs driver-local
    # on the bounded sample; the stride=1 contrast regime keeps the
    # distributed loop — see `_km_train`.
    cents = _km_train(spark, e_q, k, stride)
    return _km_ivf_serve(e_q, cents, nprobe)


@query(
    "sim_ann_kmeans_ivf_topk_auto",
    f"""
    WITH qv AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cell, qe AS cq FROM qv
           WHERE vec_id < {_km_auto_k(_KM_FIXTURE_N)}),
    {_km_iter_sql("c0", "a1", "c1")},
    {_km_iter_sql("c1", "a2", "c2")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    probe AS (SELECT de AS pe FROM qv WHERE vec_id = {_PROBE_ID}),
    best_cell AS (
      SELECT cell FROM c{_KM_ITERS}, probe
      ORDER BY round(list_cosine_similarity(
                 list_transform(cq, q -> CAST(q AS DOUBLE) / {_CENT_SCALE}),
                 pe), 6) DESC, cell
      LIMIT {_km_auto_nprobe(_km_auto_k(_KM_FIXTURE_N))}
    )
    SELECT vec_id, cell, cos_sim FROM (
      SELECT qv.vec_id, a.cell,
             round(list_cosine_similarity(qv.de, probe.pe), 6) AS cos_sim
      FROM afin a JOIN qv USING (vec_id)
      JOIN best_cell USING (cell), probe
      WHERE qv.vec_id != {_PROBE_ID}
    ) ORDER BY cos_sim DESC, vec_id LIMIT {_TOPK}
    """,
)
def sim_ann_kmeans_ivf_topk_auto(spark, sf_dir, n_override: int = None):
    """Learned IVF with BOTH serving knobs derived at build time — the
    clustering twin of `sim_ann_graph_topk_blocked_auto` (round 11):
    `sim_ann_kmeans_ivf_topk` fixes k to the label count and nprobe=3 by
    fiat, and the tuning ops (`emb_kmeans_elbow_curve`,
    `sim_ann_ivf_nprobe_curve`) report the curves a human would read to
    pick them. Here one bounded driver scalar (`count()`) feeds the
    standard IVF sizing k = clamp(round(√n), 4, 4096) cells and
    nprobe = max(1, round(√k)) — occupancy and probed-cell count both
    grow as √n, so probe-time work is O(n) split across √n cells and the
    centroid table stays a broadcastable dimension at any n the clamp
    admits. At fixture n (500) the rule derives k=22, nprobe=5; the EXACT
    oracle unrolls the full 2-round Lloyd chain at those derived values
    (seeded with the 22 smallest vec_ids as singleton cells), so the
    driver grade proves the derivation + training trajectory end to end.
    ``n_override`` exists for the law tests only.

    Scale shape: identical to `sim_ann_kmeans_ivf_topk` — per round one
    broadcast-centroid Arrow-matmul assignment (round 15) + one
    (cell, pos)-keyed partial-agg shuffle; plus the one extra corpus
    count (the two-pass idiom).

    PRODUCTION BUILD: use `sim_ann_kmeans_ivf_topk_auto_sampled` — its
    stride-sampled Lloyd train is O(n) where this full-corpus train is
    O(n·k) = O(n^1.5) at k=√n (measured at 25×: exponent 0.46 vs 0.72,
    11.96 s vs 25.89 s). This key stays registered as the contrast row
    proving what the sample cap buys, the same convention the graph-ANN
    family uses (`sim_ann_graph_topk_blocked` vs `_wide`/`_auto`)."""
    e = load(spark, sf_dir, "embeddings")
    n = _graded_n(e, sf_dir, n_override)
    k = _km_auto_k(n)
    return _km_ivf_auto_body(spark, sf_dir, k, _km_auto_nprobe(k))


_KM_SAMPLE_FACTOR = 8  # train-sample budget per cell: the Lloyd train sees
# ~8k vectors (stride = n // 8k), the standard sample-capped quantizer
# train (production ANN libraries train coarse quantizers on tens-to-
# hundreds of samples per centroid, not the corpus); final assignment and
# serving stay full-corpus.


def _km_auto_stride(n: int, k: int) -> int:
    """Deterministic train-sample stride: keep ~_KM_SAMPLE_FACTOR·k train
    vectors via ``vec_id % stride == 0`` — oracle-expressible, no RNG."""
    return max(1, n // (_KM_SAMPLE_FACTOR * k))


_KM_SAMP_K = _km_auto_k(_KM_FIXTURE_N)
_KM_SAMP_S = _km_auto_stride(_KM_FIXTURE_N, _KM_SAMP_K)


@query(
    "sim_ann_kmeans_ivf_topk_auto_sampled",
    f"""
    WITH qv AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    sv AS (SELECT * FROM qv WHERE vec_id % {_KM_SAMP_S} = 0),
    c0 AS (SELECT vec_id AS cell, qe AS cq FROM qv
           WHERE vec_id < {_KM_SAMP_K}),
    {_km_iter_sql("c0", "a1", "c1", src="sv")},
    {_km_iter_sql("c1", "a2", "c2", src="sv")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    probe AS (SELECT de AS pe FROM qv WHERE vec_id = {_PROBE_ID}),
    best_cell AS (
      SELECT cell FROM c{_KM_ITERS}, probe
      ORDER BY round(list_cosine_similarity(
                 list_transform(cq, q -> CAST(q AS DOUBLE) / {_CENT_SCALE}),
                 pe), 6) DESC, cell
      LIMIT {_km_auto_nprobe(_KM_SAMP_K)}
    )
    SELECT vec_id, cell, cos_sim FROM (
      SELECT qv.vec_id, a.cell,
             round(list_cosine_similarity(qv.de, probe.pe), 6) AS cos_sim
      FROM afin a JOIN qv USING (vec_id)
      JOIN best_cell USING (cell), probe
      WHERE qv.vec_id != {_PROBE_ID}
    ) ORDER BY cos_sim DESC, vec_id LIMIT {_TOPK}
    """,
)
def sim_ann_kmeans_ivf_topk_auto_sampled(spark, sf_dir, n_override: int = None):
    """Auto-sized learned IVF with a SAMPLE-CAPPED Lloyd train — the
    scale completion of `sim_ann_kmeans_ivf_topk_auto`: at k = √n cells
    a full-corpus train costs O(n·k) = O(n^1.5) per round (the measured
    25x exponent 0.72 shows the parallel assign amortizing below that
    asymptote at 50k vectors, but the asymptote is real), while the
    standard practice every production ANN library follows is to train
    the coarse quantizer on a bounded sample and only ASSIGN the full
    corpus once. Here the train set is the deterministic stride sample
    ``vec_id % s == 0`` with s = max(1, n // (8k)) — ~8 train vectors
    per centroid — derived from the same bounded `count()` as k and
    nprobe; the final assignment, probe, and rerank are full-corpus and
    byte-identical to the unsampled key. Train cost per round drops from
    O(n·k) to O(8k²) = O(n): the whole build is now linear in n. At
    fixture n (500) the rule derives k=22, nprobe=5, s=2 (the train sees
    the 250 even vec_ids), and the EXACT oracle unrolls the full sampled
    2-round Lloyd chain at those derived values — the driver grade
    proves derivation + sampled trajectory + full-corpus serving end to
    end. Law tests pin stride=1 ≡ the unsampled auto body bit for bit
    and measure the sampled-vs-full index agreement at fixture
    (tests/test_round12_ops.py). ``n_override`` exists for law tests.

    Scale shape: the train iterations shuffle only the ~8k-row sample;
    the one full-corpus stage per build is the final broadcast-centroid
    assignment — since round 15 the exact Arrow-matmul stage
    (`_km_assign_arrow`): the r14 100x census measured the previous
    interpreted max_by fold at 91% of this query's cost at 200k vectors
    (SCALING.md §19-20), and the swap removes that term at 100%
    agreement. Exactly the index-build pass a 100 TB deployment pays
    anyway, now one embarrassingly parallel Arrow scan. THIS is the
    production IVF build; `sim_ann_kmeans_ivf_topk_auto` is kept as the
    full-train contrast row (VERDICT r12 item 3)."""
    e = load(spark, sf_dir, "embeddings")
    n = _graded_n(e, sf_dir, n_override)
    k = _km_auto_k(n)
    return _km_ivf_auto_body(
        spark, sf_dir, k, _km_auto_nprobe(k), stride=_km_auto_stride(n, k)
    )


@query(
    "sim_ann_kmeans_ivf_batch_topk",
    f"""
    WITH qv AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    sv AS (SELECT * FROM qv WHERE vec_id % {_KM_SAMP_S} = 0),
    c0 AS (SELECT vec_id AS cell, qe AS cq FROM qv
           WHERE vec_id < {_KM_SAMP_K}),
    {_km_iter_sql("c0", "a1", "c1", src="sv")},
    {_km_iter_sql("c1", "a2", "c2", src="sv")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    probes AS (SELECT vec_id AS probe_id, de AS pe FROM qv
               WHERE vec_id < {_N_PROBES}),
    crank AS (
      SELECT probe_id, cell FROM (
        SELECT p.probe_id, c.cell,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY round(list_cosine_similarity(
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE}), p.pe), 6) DESC,
                 c.cell) AS cr
        FROM c{_KM_ITERS} c, probes p
      ) WHERE cr <= {_km_auto_nprobe(_KM_SAMP_K)}
    ),
    cand AS (
      SELECT p.probe_id, a.vec_id, a.cell,
             round(list_cosine_similarity(qv.de, p.pe), 6) AS cos_sim
      FROM afin a
      JOIN crank ck ON a.cell = ck.cell
      JOIN probes p ON p.probe_id = ck.probe_id
      JOIN qv ON qv.vec_id = a.vec_id
      WHERE a.vec_id != p.probe_id
    )
    SELECT probe_id, vec_id, cell, cos_sim FROM (
      SELECT cand.*, row_number() OVER (PARTITION BY probe_id
               ORDER BY cos_sim DESC, vec_id) AS rk
      FROM cand
    ) WHERE rk <= {_BATCH_K}
    """,
)
def sim_ann_kmeans_ivf_batch_topk(spark, sf_dir, n_override: int = None):
    """BATCH serving over the LEARNED index — the query shape a deployed
    ANN service actually runs: train ONCE (the production sampled-train
    auto-sized build, identical derivations and Lloyd machinery to
    `sim_ann_kmeans_ivf_topk_auto_sampled`, assignment through the
    round-15 Arrow-matmul stage), then answer {_N_PROBES} probes in one
    DAG — each probe ranks the broadcast centroid table, searches its
    nprobe best cells exhaustively, and returns its top-{_BATCH_K}. The
    batch shapes that existed before ran over label-defined cells
    (`sim_ann_ivf_nprobe_curve`) or brute force (`sim_search_batch_topk`);
    this closes the gap: learned cells + batch probes + per-probe top-k,
    the index `sim_ann_kmeans_ivf_topk_auto_sampled` builds, served.

    Scale shape: train as the sampled key (O(n) build, ~8k-row sample
    shuffles, one Arrow assignment pass); serving joins the narrow
    (vec_id, cell) assignment against a BROADCAST (probe, cell) plan of
    nprobe·|probes| rows, so each probe touches ~nprobe/k of the corpus
    and the only per-candidate work is one codegen'd cosine; the
    per-probe top-k window partitions by probe_id (|probes| concurrent
    heaps, never a global sort). At 100 TB with cell-partitioned
    vectors this is literally partition-pruned scan + rerank per probe.
    The EXACT oracle unrolls the full sampled Lloyd chain at the
    derived (k, nprobe, stride) plus the batch ranking, so derivation +
    training + serving grade end to end; law tests pin probe 0's rows ≡
    the single-probe production key's top-{_BATCH_K} (same index, same
    tie discipline) and exactly {_BATCH_K} rows per probe.
    ``n_override`` exists for the law tests."""
    e = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    n = _graded_n(e, sf_dir, n_override)
    k = _km_auto_k(n)
    nprobe = _km_auto_nprobe(k)
    stride = _km_auto_stride(n, k)
    e_q = pin(
        e.select(
            "vec_id",
            as_double("embedding").alias("de"),
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    # round-15 opt session 2: the stride-sampled train runs driver-local
    # on the bounded sample; the stride=1 contrast regime keeps the
    # distributed loop — see `_km_train`.
    cents = _km_train(spark, e_q, k, stride)
    final_assign = _km_assign_arrow(e_q, cents)
    probes = e_q.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("de").alias("pe")
    )
    cd = _dequantize()
    wrank = Window.partitionBy("probe_id").orderBy(F.desc("ccs"), "cell")
    crank = (
        cents.join(F.broadcast(probes))  # k x |probes| rows — broadcast grain
        .select(
            "probe_id", "cell", F.round(cosine(cd, F.col("pe")), 6).alias("ccs")
        )
        .withColumn("cr", F.row_number().over(wrank))
        .filter(F.col("cr") <= nprobe)
        .select("probe_id", "cell")
    )
    wtop = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        final_assign.join(F.broadcast(crank), "cell")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .join(e_q.select("vec_id", "de"), "vec_id")
        .join(F.broadcast(probes), "probe_id")
        .select(
            "probe_id",
            "vec_id",
            "cell",
            F.round(cosine(F.col("de"), F.col("pe")), 6).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= _BATCH_K)
        .select("probe_id", "vec_id", "cell", "cos_sim")
    )


# --- SemDeDup: semantic dedup inside learned k-means cells -----------------
# [P: Abbas et al., 2023 — SemDeDup, arXiv:2303.09540] cluster the corpus
# embeddings, then search for semantic duplicates ONLY within each cluster
# and keep one representative per duplicate neighborhood. The cell count is
# derived from a bounded OCCUPANCY budget (k = ceil(n / B)), NOT the serving
# index's k = √n: within-cell pair work is Σ n_c²/2 ≈ n·B/2 — linear in n by
# construction, where √n cells would make it O(n^1.5). B = 50 reproduces the
# paper's working regime (tens of candidates per comparison set) and at
# fixture n=500 derives k=10 (avg cell 50, 12.5k pair cosines — measured
# before freezing: 236 / 273 dup pairs at τ=0.3 on the two graded fixtures).
_SD_CELL_B = 50
_SD_TAU = 0.3  # the embedding family's near-dup threshold (recall eval, LSH)


def _sd_auto_k(n: int) -> int:
    """SemDeDup cell count: clamp(ceil(n / _SD_CELL_B), 4, 4096) — a
    cell-OCCUPANCY budget, and the MEASURED wall-time minimizer, not
    just a heuristic. This session also implemented and measured the
    naive "balanced" alternative k = round(√(n/2)) (equal RAW dot
    counts between the n·k assignment and n²/2k pair terms, the
    textbook n^1.5 split) and it lost 3–5× at every scale (25×: 22.2 s
    vs 7.1; 50×: 44.1 s vs 9.0): the two
    terms' CONSTANTS differ by ~3500× (codegen'd per-pair cosine fold
    ≈ 1.75 µs/pair, measured; Arrow-BLAS assignment dot ≈ 0.5 ns), so
    the cost-weighted balance point √(c_p/c_a · n/2) ≈ 42√n sits ABOVE
    the 4096 clamp for all n ≥ ~10k — max cells within the clamp IS
    the minimizer, i.e. exactly this rule. The honest residual: the
    50×→100× segment reads ~1.9 (the n·k assignment term's sims-matrix
    memory traffic at k = 4000 — still 3× cheaper than shifting work
    into interpreted pair cosines); the named next lever is
    Arrow-izing the within-cell pair pass itself (the `_km_assign_arrow`
    precedent — would cut c_p ~100× and move the optimum), left for a
    future round with its prototype cost model recorded in SCALING.md
    §21. Integer ceil-div on positive operands: Spark DIV ≡ DuckDB //.
    Past the clamp (n > 204.8k) occupancy grows with n — at true 100 TB
    grain the exact method is sharded or handed to the linear LSH path
    (`dedup_embedding_lsh_auto`, exponent 0.31), the standard SemDeDup
    quality-vs-cost trade."""
    return max(_KM_AUTO_MIN_K, min(_KM_AUTO_MAX_K, -(-max(1, n) // _SD_CELL_B)))


_SD_K = _sd_auto_k(_KM_FIXTURE_N)
_SD_S = _km_auto_stride(_KM_FIXTURE_N, _SD_K)


def _sd_pairs_fold(base):
    """Within-cell pair pass, interpreted-fold form: self-join the
    (vec_id, cell, de, cs_cent) base on cell with id_a < id_b, score each
    pair with the codegen'd cosine fold. Kept as the law-test twin of
    `_sd_pairs_arrow` (tests pin fold ≡ Arrow on every pair at both
    graded fixtures — the same discipline that let `_km_assign_arrow`
    claim exactness)."""
    return (
        base.alias("pa")
        .join(
            base.alias("pb"),
            (F.col("pa.cell") == F.col("pb.cell"))
            & (F.col("pa.vec_id") < F.col("pb.vec_id")),
        )
        .select(
            F.col("pa.cell").alias("cell"),
            F.col("pa.vec_id").alias("id_a"),
            F.col("pb.vec_id").alias("id_b"),
            F.col("pa.cs_cent").alias("cs_a"),
            F.col("pb.cs_cent").alias("cs_b"),
            F.round(cosine(F.col("pa.de"), F.col("pb.de")), 6).alias("cos_sim"),
        )
    )


def _sd_pair_cells(pdf: pd.DataFrame) -> pd.DataFrame:
    """The grouped-map kernel of the SemDeDup Arrow pair pass: one cell's
    upper-triangle cosine block. Module level, so a Python worker imports
    this package (see ``_grb_pair_kernel``)."""
    n = len(pdf)
    if n < 2:
        return pd.DataFrame(
            {
                "cell": pd.Series([], dtype="int64"),
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cs_a": pd.Series([], dtype="float64"),
                "cs_b": pd.Series([], dtype="float64"),
                "cos_raw": pd.Series([], dtype="float64"),
            }
        )
    order = np.argsort(pdf["vec_id"].to_numpy())
    ids = pdf["vec_id"].to_numpy()[order]
    cs = pdf["cs_cent"].to_numpy()[order]
    V = np.array(pdf["de"].tolist(), dtype=np.float64)[order]
    nrm = np.sqrt((V * V).sum(axis=1))
    sims = (V @ V.T) / np.outer(nrm, nrm)
    iu = np.triu_indices(n, k=1)
    return pd.DataFrame(
        {
            "cell": np.full(len(iu[0]), pdf["cell"].iloc[0], dtype=np.int64),
            "id_a": ids[iu[0]],
            "id_b": ids[iu[1]],
            "cs_a": cs[iu[0]],
            "cs_b": cs[iu[1]],
            "cos_raw": sims[iu],
        }
    )


def _sd_pairs_arrow(base):
    """Within-cell pair pass as ONE numpy matmul per cell — the
    `_km_assign_arrow` treatment applied to the pair stage (round-15
    optimization; guide §4.2). The r15 sizing work measured the
    interpreted per-pair cosine fold at ~1.75 µs/pair vs ~0.5 ns per
    BLAS dot (~3500×), and a prototype read 2× at shipped grain
    (occupancy 50) with EXACT round-6 agreement on both graded fixtures'
    full pair sets and identical 25× checksums (1.25M pairs) — the
    advantage grows with occupancy, so the asymptotic story improves
    with the same values.

    Shape: group the pinned base by cell (`applyInPandas` — the pair set
    of one cell is computed where the fold's equi-self-join would have
    hashed it anyway), compute the cell's pairwise cosine block as one
    V @ V.T, emit the RAW double, and round SPARK-SIDE (F.round half-up,
    the fold/oracle discipline — numpy rounds banker's). ids are sorted
    ascending inside the kernel so the emitted (id_a < id_b) orientation
    and the carried cs_cent endpoints match the fold row for row.
    Per-cell memory is occupancy², bounded by the same Σ n_c² budget
    that bounds the fold's join output — a skewed cell costs both forms
    alike."""

    raw = base.groupBy("cell").applyInPandas(
        _sd_pair_cells,
        "cell long, id_a long, id_b long, cs_a double, cs_b double, "
        "cos_raw double",
    )
    return raw.select(
        "cell",
        "id_a",
        "id_b",
        "cs_a",
        "cs_b",
        F.round("cos_raw", 6).alias("cos_sim"),
    )


def _sd_body(spark, sf_dir, k: int, stride: int, tau: float, emit: str = "report"):
    """SemDeDup body at explicit (k, stride, τ) — the law tests call this
    directly (τ overrides; ``emit='pairs'`` exposes the dup-pair set so
    the keep-rule laws are assertable end to end, ``emit='cand'`` the
    pre-τ within-cell pair set the recall eval counts as its volume
    axis).

    Train = the family's sampled Lloyd machinery verbatim (vec_id-seeded
    singleton cells, fixed-point updates, round-15 Arrow-matmul
    assignment); then ONE within-cell pair pass over the
    (vec_id, cell, de, cs_cent) base — since the round-15 optimization
    pass an Arrow per-cell matmul kernel (`_sd_pairs_arrow`, law-pinned
    ≡ the `_sd_pairs_fold` self-join it replaced), keeping pairs with
    6dp-rounded cosine ≥ τ. Keep-rule (the paper's): within a dup
    pair the vector FARTHER from its centroid is the keeper — remove the
    endpoint with the GREATER (cs_cent, vec_id); a vector is removed iff
    ANY neighbor beats it, so the kept set is pair-free (no surviving dup
    pair retains both endpoints — law-tested) without an iterative
    components pass. cs_cent rides the same codegen'd cosine+round path
    as the elbow key's inertia re-join (numpy-rounded cs would race
    Spark's half-up rounding at midpoints).

    Scale: base is pinned once (assignment runs ONCE);
    the Arrow pair pass hashes the base by cell into `applyInPandas` —
    ONE exchange of the base rows (the fold's self-join reused a single
    identical exchange, measured at 25× with broadcast disabled,
    SCALING.md §21 — the Arrow form keeps that byte count and removes
    the per-pair interpreted fold on top); the float32-carry trim (−32%
    in the LSH body) remains the known lever if that one exchange ever
    dominates a slope point. The report shuffles only (cell, counts) —
    never vectors."""
    e = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    e_q = pin(
        e.select(
            "vec_id",
            as_double("embedding").alias("de"),
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    # round-15 opt session 2: driver-local sampled train (see `_km_train`
    # — SemDeDup's occupancy sizing keeps stride > 1 at every n).
    cents = _km_train(spark, e_q, k, stride)
    assign = _km_assign_arrow(e_q, cents)
    cd = _dequantize()
    base = pin(
        assign.alias("a")
        .join(e_q.alias("v"), F.col("a.vec_id") == F.col("v.vec_id"))
        .join(F.broadcast(cents.select("cell", cd.alias("cd"))), "cell")
        .select(
            F.col("a.vec_id").alias("vec_id"),
            "cell",
            F.col("v.de").alias("de"),
            F.round(cosine(F.col("v.de"), F.col("cd")), 6).alias("cs_cent"),
        )
    )
    # round-15 opt: the pair pass runs as the Arrow matmul kernel (2× at
    # shipped grain, exact — see `_sd_pairs_arrow`; `_sd_pairs_fold` is
    # the law-pinned twin).
    pairs_all = _sd_pairs_arrow(base)
    if emit == "cand":
        # the recall eval's candidate-volume axis: every within-cell pair,
        # BEFORE the τ cut (counted once — no pin, no second consumer)
        return pairs_all
    pairs = pin(
        pairs_all.filter(F.col("cos_sim") >= F.lit(tau))
    )  # narrow (ids+scalars); read twice below
    if emit == "pairs":
        return pairs
    # id_a < id_b by construction, so on a cs_cent tie the loser is id_b
    # (keep the lowest id) — CASE WHEN cs_a > cs_b THEN id_a ELSE id_b.
    loser = F.when(F.col("cs_a") > F.col("cs_b"), F.col("id_a")).otherwise(
        F.col("id_b")
    )
    nv = base.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    dp = pairs.groupBy("cell").agg(F.count("*").alias("dup_pairs"))
    rm = (
        pairs.select("cell", loser.alias("loser"))
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("removed"))
    )
    return (
        nv.join(dp, "cell", "left")
        .join(rm, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce("dup_pairs", F.lit(0)).alias("dup_pairs"),
            F.coalesce("removed", F.lit(0)).alias("removed"),
            (F.col("n_vecs") - F.coalesce("removed", F.lit(0))).alias("kept"),
        )
        .orderBy("cell")
    )


@query(
    "dedup_semdedup_cells",
    f"""
    WITH qv AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    sv AS (SELECT * FROM qv WHERE vec_id % {_SD_S} = 0),
    c0 AS (SELECT vec_id AS cell, qe AS cq FROM qv
           WHERE vec_id < {_SD_K}),
    {_km_iter_sql("c0", "a1", "c1", src="sv")},
    {_km_iter_sql("c1", "a2", "c2", src="sv")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    base AS MATERIALIZED (
      SELECT a.vec_id, a.cell, qv.de,
             round(list_cosine_similarity(qv.de,
               list_transform(c.cq,
                 q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) AS cs_cent
      FROM afin a JOIN qv USING (vec_id)
      JOIN c{_KM_ITERS} c ON c.cell = a.cell
    ),
    pairs AS MATERIALIZED (
      SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
             a.cs_cent AS cs_a, b.cs_cent AS cs_b
      FROM base a JOIN base b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.de, b.de), 6) >= {_SD_TAU}
    ),
    losers AS (
      SELECT cell, CASE WHEN cs_a > cs_b THEN id_a ELSE id_b END AS loser
      FROM pairs
    )
    SELECT v.cell, v.n_vecs,
           COALESCE(p.dup_pairs, 0) AS dup_pairs,
           COALESCE(r.removed, 0) AS removed,
           v.n_vecs - COALESCE(r.removed, 0) AS kept
    FROM (SELECT cell, count(*) AS n_vecs FROM base GROUP BY cell) v
    LEFT JOIN (SELECT cell, count(*) AS dup_pairs FROM pairs
               GROUP BY cell) p USING (cell)
    LEFT JOIN (SELECT cell, count(DISTINCT loser) AS removed FROM losers
               GROUP BY cell) r USING (cell)
    ORDER BY cell
    """,
)
def dedup_semdedup_cells(spark, sf_dir, n_override: int = None, tau: float = None):
    """SemDeDup [P: Abbas et al., 2023, arXiv:2303.09540] — semantic
    dedup the way the paper runs it at web scale: k-means-cluster the
    embedding corpus, then look for duplicate pairs ONLY within each
    cluster (cos ≥ τ = {_SD_TAU}, the embedding family's near-dup
    threshold) and keep, per duplicate neighborhood, the example FARTHEST
    from its centroid (lowest 6dp centroid-cosine; vec_id tie-break).
    Per-cell report: n_vecs, dup_pairs, removed, kept — the curation
    decision table (bounded at k ≤ 4096 rows).

    The missing middle of the dedup ladder: exact (`dedup_exact_hash`),
    lexical near-dup (MinHash/LSH), embedding near-dup by random
    hyperplanes (`dedup_embedding_lsh_*`) — SemDeDup is the LEARNED-
    partition variant those families bracket: data-adaptive cells
    instead of data-oblivious planes, the published method for pruning
    LLM pretraining corpora (the paper reports ~50% of LAION prunable).

    Sizing is the key scale decision (docstring-derivation, not hand-set):
    cells come from a bounded OCCUPANCY budget k = clamp(ceil(n/{_SD_CELL_B}),
    4, 4096), so within-cell pair work is Σ n_c²/2 ≈ n·{_SD_CELL_B}/2 —
    LINEAR in n, where the serving index's k = √n would cost O(n^1.5);
    train is the sampled Lloyd chain (stride s = max(1, n // 8k), the
    production O(n) build, Arrow-matmul assignment). At fixture n=500 the
    rules derive k={_SD_K}, s={_SD_S}, and the EXACT oracle unrolls the
    full sampled 2-round trajectory at those frozen values (the family's
    fixture-drift guard raises if a regenerated fixture changes n). Law
    tests pin the keep-rule semantics (kept set is pair-free; every
    removed id justifies itself with ≥1 pair) and the τ extremes
    (τ=-1 ⇒ kept=1 per cell, τ>1 ⇒ removed=0); ``n_override``/``tau``
    exist for those tests.

    Measured at 25× and 100×:
    25× exponent **0.087** (5.4 → 7.1 s), 100× **0.425** (33.1 s at
    200k vectors, k=4000 cells — one notch under the 4096 clamp);
    nothing curves past linear — the occupancy budget holds."""
    e = load(spark, sf_dir, "embeddings")
    n = _graded_n(e, sf_dir, n_override)
    k = _sd_auto_k(n)
    return _sd_body(
        spark,
        sf_dir,
        k,
        _km_auto_stride(n, k),
        _SD_TAU if tau is None else tau,
    )


dedup_semdedup_cells.__doc__ = dedup_semdedup_cells.__doc__.format(
    _SD_TAU=_SD_TAU, _SD_CELL_B=_SD_CELL_B, _SD_K=_SD_K, _SD_S=_SD_S
)


# --- Embedding-space decontamination ---------------------------------------
_DC_EVERY_MIN = 50  # floor of the held-out modulus (10 eval rows at fixture)
_DC_EVAL_TARGET = 10  # eval-set size the modulus derivation targets
_DC_TAU = 0.3  # contamination threshold = the family's near-dup τ


def _dc_auto_every(n: int) -> int:
    """Held-out modulus: max(50, n // 10) — the eval set (ids ≡ 0 mod
    every) stays ~10 rows at ANY corpus size instead of growing with n
    (a fixed modulus would make the pair grid n²/50 — quadratic).
    Positive integer floor-div: Spark DIV ≡ DuckDB //, and the oracle
    re-derives it as a scalar subquery and grades it as a result column
    (the bloom-auto pattern)."""
    return max(_DC_EVERY_MIN, n // _DC_EVAL_TARGET)


@query(
    "decontam_embedding_cosine",
    f"""
    WITH params AS (
      SELECT GREATEST({_DC_EVERY_MIN}, count(*) // {_DC_EVAL_TARGET}) AS ev
      FROM embeddings
    ),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings
    ),
    scored AS MATERIALIZED (
      SELECT t.vec_id AS test_id, r.vec_id AS train_id,
             round(list_cosine_similarity(r.de, t.de), 6) AS cos_sim
      FROM v r, v t, params p
      WHERE t.vec_id % p.ev = 0 AND r.vec_id % p.ev != 0
    ),
    near AS (
      SELECT test_id, train_id AS nearest_train_id FROM (
        SELECT test_id, train_id,
               row_number() OVER (PARTITION BY test_id
                 ORDER BY cos_sim DESC, train_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT a.test_id, a.n_contaminated, a.max_cos, n.nearest_train_id,
           (SELECT ev FROM params) AS eval_every
    FROM (
      SELECT test_id,
             count(*) FILTER (cos_sim >= {_DC_TAU}) AS n_contaminated,
             max(cos_sim) AS max_cos
      FROM scored GROUP BY test_id
    ) a JOIN near n USING (test_id)
    ORDER BY test_id
    """,
)
def decontam_embedding_cosine(spark, sf_dir, tau: float = None):
    """SEMANTIC decontamination — the embedding-space completion of the
    n-gram decontam pair (`decontam_ngram_overlap` / `decontam_span_max`,
    curation.py): lexical overlap misses paraphrased/translated eval
    leakage, so production pipelines ALSO flag training examples whose
    embedding sits within cos ≥ τ of any held-out eval example. The
    held-out rule is SELF-TUNING: vec_id ≡ 0 mod every, with
    every = max({_DC_EVERY_MIN}, n // {_DC_EVAL_TARGET}) derived from one
    bounded corpus count — the eval set stays ~{_DC_EVAL_TARGET} vectors
    at ANY corpus size (a fixed modulus would grow the eval set with n
    and turn the pair grid quadratic; the real eval suite a deployment
    decontaminates against is bounded by construction). The oracle
    RE-DERIVES the modulus in SQL and grades it as the `eval_every`
    column, so a drifted rule fails the driver gate. Per eval vector:
    how many train vectors breach τ = {_DC_TAU} (the family's near-dup
    threshold), the max cosine seen, and the nearest train example (6dp
    cosine, lowest-id tie-break — `max_by` over an orderable struct,
    the partial-aggregable argmax idiom).

    Scale shape: the eval set broadcasts (~{_DC_EVAL_TARGET} rows at any
    n), the corpus is read ONCE with one codegen'd cosine per
    (train, eval) pair against the broadcast side — no shuffle of
    vectors at all; the group-by collapses map-side to |eval| rows. At
    100 TB this is the cheapest possible shape: an embarrassingly
    parallel scan emitting a bounded report (plus the one derivation
    count — the two-pass idiom every self-tuning key pays). Laws pin
    the τ extremes (τ=-1 ⇒ every train vector flagged for every eval
    row; τ>1 ⇒ zero), the modulus rule points, and tie test_id 0's
    (nearest_train_id, max_cos) to the driver-proven `sim_cosine_topk`
    brute top-k (same probe, eval ids filtered); ``tau`` exists for the
    law tests.

    Measured at 25× and 100×:
    25× exponent **0.20** (0.71 → 1.35 s), 100× **0.674** (14.8 s at
    200k vectors — the derived modulus walks 50 → 20000, the eval set
    stays 10 rows, and the scan stays the only corpus-sized term)."""
    t = _DC_TAU if tau is None else tau
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("de")
    )
    every = _dc_auto_every(v.count())  # bounded driver scalar (two-pass)
    test = v.filter(F.col("vec_id") % every == 0).select(
        F.col("vec_id").alias("test_id"), F.col("de").alias("te")
    )
    # round-15 opt: the brute probe scan (≈_DC_EVAL_TARGET interpreted
    # cosine folds per train row) inherits the 1-task single-row-group
    # scan otherwise — the dedup.py `_parallel` idiom (measured: 0.85 s
    # single-file vs 0.61 s on the 32-file twin).
    train = v.filter(F.col("vec_id") % every != 0).repartition(
        spark.sparkContext.defaultParallelism
    )
    scored = train.join(F.broadcast(test)).select(
        "test_id",
        F.col("vec_id").alias("train_id"),
        F.round(cosine(F.col("de"), F.col("te")), 6).alias("cos_sim"),
    )
    return (
        scored.groupBy("test_id")
        .agg(
            F.sum(
                F.when(F.col("cos_sim") >= F.lit(t), 1).otherwise(0)
            ).alias("n_contaminated"),
            F.max("cos_sim").alias("max_cos"),
            F.max_by(
                "train_id",
                F.struct(F.col("cos_sim"), (-F.col("train_id")).alias("nt")),
            ).alias("nearest_train_id"),
        )
        .withColumn("eval_every", F.lit(every).cast("long"))
        .orderBy("test_id")
    )


decontam_embedding_cosine.__doc__ = decontam_embedding_cosine.__doc__.format(
    _DC_EVERY_MIN=_DC_EVERY_MIN, _DC_EVAL_TARGET=_DC_EVAL_TARGET, _DC_TAU=_DC_TAU
)


@query(
    "dedup_semdedup_recall_eval",
    f"""
    WITH qv AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    sv AS (SELECT * FROM qv WHERE vec_id % {_SD_S} = 0),
    c0 AS (SELECT vec_id AS cell, qe AS cq FROM qv
           WHERE vec_id < {_SD_K}),
    {_km_iter_sql("c0", "a1", "c1", src="sv")},
    {_km_iter_sql("c1", "a2", "c2", src="sv")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    base AS MATERIALIZED (
      SELECT a.vec_id, a.cell, qv.de
      FROM afin a JOIN qv USING (vec_id)
    ),
    cand AS MATERIALIZED (
      SELECT round(list_cosine_similarity(a.de, b.de), 6) AS cs
      FROM base a JOIN base b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    truth AS (
      SELECT count(*) AS c
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6)
            >= {_SD_TAU}
    ),
    agg AS (
      SELECT CAST((SELECT c FROM truth) AS BIGINT) AS n_true,
             CAST(count(*) AS BIGINT) AS n_cand,
             CAST(count(*) FILTER (cs >= {_SD_TAU}) AS BIGINT) AS n_pairs
      FROM cand
    )
    SELECT n_true, n_cand, n_pairs,
           round(CAST(n_pairs AS DOUBLE) / GREATEST(n_true, 1), 6) AS recall,
           round(CAST(n_pairs AS DOUBLE) / GREATEST(n_cand, 1), 6)
             AS cand_hit_rate
    FROM agg
    """,
)
def dedup_semdedup_recall_eval(spark, sf_dir):
    """The measurement that grades SemDeDup's partition quality — the
    family convention every blocking scheme here follows
    (`dedup_lsh_recall_eval`, `dedup_embedding_lsh_recall_eval`): exact
    all-pairs cosine near-dups at τ=0.3 as ground truth vs what the
    learned cells actually surface, plus the candidate-volume census
    (within-cell pairs the keep-rule pays to score — the cost axis) and
    the candidate hit rate (the precision the learned partition buys
    over data-oblivious blocking). Surfaced pairs are provably a subset
    of truth (same cosine, same τ), so recall = n_pairs/n_true exactly;
    the ground-truth side is the O(n²) brute pass — an EVALUATION op,
    run on a sample at 100 TB by design. Degenerate-sample semantics
    (ADVICE r14): GREATEST(n_true, 1) / GREATEST(n_cand, 1) guard both
    divisions in both engines, so a zero-true (or zero-candidate)
    sample reads 0.0 instead of erroring the report.

    Because cells are DATA-ADAPTIVE, the comparison against the
    hyperplane eval at the same τ is apples-to-apples: the same truth
    set, measured candidate volumes on both sides (fixture: SemDeDup
    surfaces its pairs from ~12.5k within-cell candidates where the
    1-band hyperplane census pays a comparable volume for a different
    recall — the numbers land in the driver artifact, not prose). Law
    tests pin n_pairs ≡ the report key's Σ dup_pairs and n_true ≡ the
    LSH eval's n_true (identical truth definition, both driver-proven).

    Scale shape: the candidate side is the production semdedup pair
    pass (occupancy-budget cells, linear in n); the one extra corpus
    stage vs the report key is the truth count, sampled at scale by the
    eval convention."""
    from ..functions.vectors import dot32, norm

    e = load(spark, sf_dir, "embeddings")
    n = _graded_n(e, sf_dir)
    k = _sd_auto_k(n)
    cand = _sd_body(
        spark, sf_dir, k, _km_auto_stride(n, k), _SD_TAU, emit="cand"
    )
    v = e.select(
        "vec_id",
        F.col("embedding").alias("emb32"),
        norm(as_double("embedding")).alias("nrm"),
    )
    cs = F.round(
        dot32(F.col("a.emb32"), F.col("b.emb32"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    truth = (
        v.alias("a")
        .join(v.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cs >= _SD_TAU)
    )
    n_true = truth.agg(F.count("*").alias("n_true"))
    counts = cand.agg(
        F.count("*").alias("n_cand"),
        F.sum(
            F.when(F.col("cos_sim") >= F.lit(_SD_TAU), 1).otherwise(0)
        ).alias("n_pairs"),
    )
    return n_true.crossJoin(F.broadcast(counts)).select(  # 1 row x 1 row
        "n_true",
        "n_cand",
        "n_pairs",
        F.round(
            F.col("n_pairs").cast("double")
            / F.greatest(F.col("n_true"), F.lit(1)),
            6,
        ).alias("recall"),
        F.round(
            F.col("n_pairs").cast("double")
            / F.greatest(F.col("n_cand"), F.lit(1)),
            6,
        ).alias("cand_hit_rate"),
    )


@query(
    "corpus_semantic_curation_report",
    f"""
    WITH qv AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    sv AS (SELECT * FROM qv WHERE vec_id % {_SD_S} = 0),
    c0 AS (SELECT vec_id AS cell, qe AS cq FROM qv
           WHERE vec_id < {_SD_K}),
    {_km_iter_sql("c0", "a1", "c1", src="sv")},
    {_km_iter_sql("c1", "a2", "c2", src="sv")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    base AS MATERIALIZED (
      SELECT a.vec_id, a.cell, qv.de,
             round(list_cosine_similarity(qv.de,
               list_transform(c.cq,
                 q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) AS cs_cent
      FROM afin a JOIN qv USING (vec_id)
      JOIN c{_KM_ITERS} c ON c.cell = a.cell
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.cs_cent AS cs_a, b.cs_cent AS cs_b
      FROM base a JOIN base b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.de, b.de), 6) >= {_SD_TAU}
    ),
    losers AS (
      SELECT DISTINCT CASE WHEN cs_a > cs_b THEN id_a ELSE id_b END AS vec_id
      FROM pairs
    ),
    params AS (
      SELECT GREATEST({_DC_EVERY_MIN}, count(*) // {_DC_EVAL_TARGET}) AS ev
      FROM embeddings
    ),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings
    ),
    flagged AS (
      SELECT DISTINCT r.vec_id
      FROM v r, v t, params p
      WHERE t.vec_id % p.ev = 0 AND r.vec_id % p.ev != 0
        AND round(list_cosine_similarity(r.de, t.de), 6) >= {_DC_TAU}
    ),
    cls AS (
      SELECT d.source,
             CASE WHEN e.vec_id % (SELECT ev FROM params) = 0
                  THEN 1 ELSE 0 END AS is_eval,
             CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
             CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_contam
      FROM documents d
      JOIN embeddings e ON e.vec_id = d.doc_id
      LEFT JOIN losers l ON l.vec_id = e.vec_id
      LEFT JOIN flagged f ON f.vec_id = e.vec_id
    )
    SELECT source, n_docs, n_eval, n_dup, n_contam, n_kept,
           CAST(n_kept * 1000000 // n_docs AS BIGINT) AS kept_ppm
    FROM (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(is_eval) AS BIGINT) AS n_eval,
             CAST(SUM(is_dup) AS BIGINT) AS n_dup,
             CAST(SUM(is_contam) AS BIGINT) AS n_contam,
             CAST(SUM(CASE WHEN is_eval = 0 AND is_dup = 0 AND is_contam = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM cls GROUP BY source
    ) ORDER BY source
    """,
)
def corpus_semantic_curation_report(spark, sf_dir):
    """The SEMANTIC curation decision table — the composite a modern
    pretraining pipeline actually acts on, per source: how many
    documents are held out for eval, how many the SemDeDup pass removes
    as semantic duplicates, how many embedding-decontamination flags as
    eval-contaminated, and what survives into training (count + DIV-ppm
    share). The selection-ACTION + audit pattern
    `corpus_dsir_resample_mix_shift` established, applied to the two
    embedding-space curation passes this session added: the three flag
    sets are raw memberships (a document can be both a semantic dup and
    contaminated — the columns are deliberately non-additive) and
    kept = docs − (eval ∪ dup ∪ contam), the exact set-union
    complement. Documents link to embeddings by the repo's established
    doc_id = vec_id convention (`dedup_semantic_lexical_agreement`);
    the report covers documents WITH embeddings (inner join — at 100 TB
    the un-embedded tail is a separate census).

    All outputs are integers (counts and DIV-ppm): zero float-sum order
    sensitivity in either engine. The oracle unrolls the FULL stack —
    sampled Lloyd chain at the frozen fixture derivation, within-cell
    pair pass, keep-rule losers, the re-derived decontam modulus, the
    flag joins and the per-source rollup — so the driver grade proves
    the whole composite end to end, not just its pieces.

    Scale shape: the semdedup and decontam passes are the measured
    linear bodies (25×/100× exponents 0.087/0.425 and 0.20/0.674);
    on top of them this report adds only id-grain left joins (losers
    and flags are id sets — never vectors) and a ≤|sources|-row
    partial-agg rollup. Laws pin the column arithmetic against the
    standalone keys: Σ n_dup over sources = |distinct losers|,
    Σ n_eval = the decontam row count, and per-source
    n_kept ≤ n_docs − max(n_eval, n_dup, n_contam)."""
    e = load(spark, sf_dir, "embeddings")
    n = _graded_n(e, sf_dir)
    k = _sd_auto_k(n)
    pairs = _sd_body(
        spark, sf_dir, k, _km_auto_stride(n, k), _SD_TAU, emit="pairs"
    )
    losers = (
        pairs.select(
            F.when(F.col("cs_a") > F.col("cs_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    every = _dc_auto_every(n)
    v = e.select("vec_id", as_double("embedding").alias("de"))
    test = v.filter(F.col("vec_id") % every == 0).select(
        F.col("de").alias("te")
    )
    flagged = (
        v.filter(F.col("vec_id") % every != 0)
        # same 1-task-scan spread as decontam_embedding_cosine (round-15 opt)
        .repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(test))
        .filter(F.round(cosine(F.col("de"), F.col("te")), 6) >= _DC_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    cls = (
        docs.join(
            e.select("vec_id"), docs.doc_id == F.col("vec_id")
        )
        # losers/flagged are corpus-FRACTION id sets: no broadcast hint —
        # Catalyst broadcasts at fixture grain, id-grain shuffle at scale
        .join(losers, "vec_id", "left")
        .join(flagged, "vec_id", "left")
        .select(
            "source",
            F.when(F.col("vec_id") % every == 0, 1).otherwise(0).alias(
                "is_eval"
            ),
            F.coalesce("is_dup", F.lit(0)).alias("is_dup"),
            F.coalesce("is_contam", F.lit(0)).alias("is_contam"),
        )
    )
    return (
        cls.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_eval").alias("n_eval"),
            F.sum("is_dup").alias("n_dup"),
            F.sum("is_contam").alias("n_contam"),
            F.sum(
                F.when(
                    (F.col("is_eval") == 0)
                    & (F.col("is_dup") == 0)
                    & (F.col("is_contam") == 0),
                    1,
                ).otherwise(0)
            ).alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_eval",
            "n_dup",
            "n_contam",
            "n_kept",
            F.expr("CAST(n_kept * 1000000 DIV n_docs AS BIGINT)").alias(
                "kept_ppm"
            ),
        )
        .orderBy("source")
    )


_RADIUS_TAU = 0.2  # cosine radius (probed: 28-33 fixture rows pass — the
# top-k ops' _COS_TAU=0.3 admits only 3-4, too thin to exercise the shape)


@query(
    "sim_radius_search",
    f"""
    SELECT vec_id, label, cos_sim FROM (
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                    WHERE vec_id = {_PROBE_ID})), 6) AS cos_sim
      FROM embeddings e WHERE e.vec_id != {_PROBE_ID}
    ) WHERE cos_sim >= {_RADIUS_TAU}
    """,
)
def sim_radius_search(spark, sf_dir):
    """Radius (range) similarity search — the OTHER vector-query shape:
    top-k answers 'the k nearest', radius answers 'EVERYTHING within
    cos ≥ τ' (dedup sweeps, recommendation candidate pools, abuse-cluster
    expansion all want the full ball, not a fixed k). Brute form: one
    broadcast of the probe, a codegen'd cosine map, and a pushed filter —
    no TakeOrdered, no sort at all, so the scan parallelizes perfectly
    and output size is data-driven. At 100 TB the radius query is BETTER
    suited to bucket pruning than top-k (a ball maps to a fixed set of
    IVF cells / LSH buckets with a provable cell-boundary bound, whereas
    top-k's k-th distance is unknown a priori); the pruned variants reuse
    ``sim_ann_*``'s bucket machinery unchanged with τ as the verify
    filter."""
    return _probe_cosines(spark, sf_dir).filter(F.col("cos_sim") >= _RADIUS_TAU)


_TRUNC_D = 16  # truncated prefix dimensionality (64 -> 16, MRL-style)


@query(
    "emb_truncation_fidelity",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id % {_KNN_STRIDE} = 0
    ),
    full_rank AS (
      SELECT q.qid, e.vec_id,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]), q.qe), 6) DESC, e.vec_id) AS rn
      FROM embeddings e, q WHERE e.vec_id <> q.qid
    ),
    trunc_rank AS (
      SELECT q.qid, e.vec_id,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_cosine_similarity(
                 list_slice(CAST(e.embedding AS DOUBLE[]), 1, {_TRUNC_D}),
                 list_slice(q.qe, 1, {_TRUNC_D})), 6) DESC, e.vec_id) AS rn
      FROM embeddings e, q WHERE e.vec_id <> q.qid
    ),
    ov AS (
      SELECT f.qid, count(*) AS n_common
      FROM (SELECT qid, vec_id FROM full_rank WHERE rn <= {_TOPK}) f
      JOIN (SELECT qid, vec_id FROM trunc_rank WHERE rn <= {_TOPK}) t
        USING (qid, vec_id)
      GROUP BY f.qid
    )
    SELECT q.qid AS q_vec,
           CAST(COALESCE(ov.n_common, 0) AS BIGINT) AS n_common,
           round(CAST(COALESCE(ov.n_common, 0) AS DOUBLE) / {_TOPK}, 6)
             AS recall_at_k
    FROM q LEFT JOIN ov ON ov.qid = q.qid
    """,
)
def emb_truncation_fidelity(spark, sf_dir):
    """Truncated-embedding retrieval fidelity — the Matryoshka (MRL)
    evaluation every embedding-serving stack runs before cutting storage
    4×: for each query vector, how much of the full-64-dim cosine top-k
    survives when BOTH sides are truncated to their first {_TRUNC_D}
    components (prefix truncation is the MRL contract; for non-MRL
    embeddings this measures how front-loaded the variance is, cf. the
    PCA ops). Per-query recall@k of the truncated index against the
    full-dim truth — the number that decides whether the cheap index
    serves tier-1 traffic or only candidate generation.

    Shapes: the query set (every {_KNN_STRIDE}th vector) is broadcast;
    both rankings are per-query windows (PARTITIONED by query — parallel;
    6dp-rounded sims, id tie-breaks make both engines rank identically);
    overlap is an id equi-join of two top-k sets. At 100 TB each ranking
    is the brute scan the ANN ops replace — the eval runs on a sampled
    query set by design, so cost is |queries| × scan, embarrassingly
    parallel."""
    e = load(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") % _KNN_STRIDE == 0)
        .select(
            F.col("vec_id").alias("qid"), as_double("embedding").alias("qe")
        )
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(cosine(as_double("embedding"), F.col("qe")), 6).alias("cs_full"),
        F.round(
            cosine(
                F.slice(as_double("embedding"), 1, _TRUNC_D),
                F.slice(F.col("qe"), 1, _TRUNC_D),
            ),
            6,
        ).alias("cs_trunc"),
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("cs_full"), "vec_id")
    wt = Window.partitionBy("qid").orderBy(F.desc("cs_trunc"), "vec_id")
    ranked = pairs.select(
        "qid",
        "vec_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    ov = (
        ranked.filter((F.col("rf") <= _TOPK) & (F.col("rt") <= _TOPK))
        .groupBy("qid")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        q.select("qid")
        .join(ov, "qid", "left")
        .select(
            F.col("qid").alias("q_vec"),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias(
                "n_common"
            ),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / _TOPK,
                6,
            ).alias("recall_at_k"),
        )
    )


@query(
    "emb_covariance_isotropy",
    f"""
    WITH q AS (
      SELECT vec_id, i.i AS pos,
             CAST(round(CAST(embedding[i.i] AS DOUBLE) * {_CENT_SCALE})
                  AS BIGINT) AS q
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
    ),
    m AS (
      SELECT pos,
             CAST(floor(CAST(SUM(q) AS DOUBLE) / count(*)) AS BIGINT) AS mu
      FROM q GROUP BY pos
    ),
    c AS (
      SELECT q.vec_id, q.pos, q.q - m.mu AS c FROM q JOIN m USING (pos)
    ),
    cov AS (
      SELECT a.pos AS i, b.pos AS j, SUM(a.c * b.c) AS s
      FROM c a JOIN c b USING (vec_id)
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN i = j THEN s ELSE 0 END) AS BIGINT) AS trace_q,
             CAST(SUM(CASE WHEN i <> j THEN abs(s) ELSE 0 END) AS BIGINT)
               AS offdiag_abs_q
      FROM cov
    ),
    top AS (
      SELECT i, j, s FROM (
        SELECT i, j, s,
               row_number() OVER (ORDER BY abs(s) DESC, i, j) AS rn
        FROM cov WHERE i < j
      ) WHERE rn = 1
    )
    SELECT (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) FROM q) AS n_vecs,
           a.trace_q, a.offdiag_abs_q,
           round(CAST(a.trace_q AS DOUBLE)
                 / (a.trace_q + a.offdiag_abs_q), 6) AS isotropy,
           CAST(t.i AS INTEGER) AS top_i,
           CAST(t.j AS INTEGER) AS top_j,
           CAST(t.s AS BIGINT) AS top_cov_q
    FROM agg a, top t
    """,
)
def emb_covariance_isotropy(spark, sf_dir):
    """Embedding-space isotropy / whitening report: the centered
    covariance's diagonal mass (trace) against its off-diagonal absolute
    mass, plus the single strongest cross-dimension correlation — the
    numbers that decide whether an index needs a whitening/OPQ rotation
    before product quantization (correlated dimensions waste PQ codebook
    capacity) and whether cosine is drifting toward a dominant direction
    (the anisotropy problem in contextual embeddings).

    Determinism: components quantized to int64 (``_CENT_SCALE``), means
    floored from an exact-in-double integer division, every covariance
    entry an INTEGER sum of integer products — no float accumulation;
    two divisions rounded once at the end. Shapes: the per-vector outer
    product explodes to |V|·64² rows but partial-aggregates map-side
    into the 64×64 grid — at 100 TB this is the one-pass Gram-matrix
    job (same shuffle budget as ``emb_pca_power_iteration``'s Gram
    step); everything downstream is 4096 rows."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.posexplode(_quantize(as_double("embedding"))).alias("pos0", "q"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "q")
    m = q.groupBy("pos").agg(
        F.floor(F.sum("q").cast("double") / F.count("*"))
        .cast("long")
        .alias("mu")
    )
    c = q.join(F.broadcast(m), "pos").select(
        "vec_id", "pos", (F.col("q") - F.col("mu")).alias("c")
    )
    a, b = c.alias("a"), c.alias("b")
    cov = (
        a.join(b, "vec_id")
        .select(
            F.col("a.pos").alias("i"),
            F.col("b.pos").alias("j"),
            (F.col("a.c") * F.col("b.c")).alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
    )
    agg = cov.agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("s")).otherwise(0))
        .cast("long")
        .alias("trace_q"),
        F.sum(F.when(F.col("i") != F.col("j"), F.abs("s")).otherwise(0))
        .cast("long")
        .alias("offdiag_abs_q"),
    )
    wtop = Window.orderBy(F.desc(F.abs("s")), "i", "j")
    top = (
        cov.filter(F.col("i") < F.col("j"))
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            F.col("i").cast("int").alias("top_i"),
            F.col("j").cast("int").alias("top_j"),
            F.col("s").cast("long").alias("top_cov_q"),
        )
    )
    n = e.agg(F.count("*").cast("long").alias("n_vecs"))
    return (
        n.crossJoin(F.broadcast(agg))  # 1 row x 1 row
        .crossJoin(F.broadcast(top))
        .select(
            "n_vecs",
            "trace_q",
            "offdiag_abs_q",
            F.round(
                F.col("trace_q").cast("double")
                / (F.col("trace_q") + F.col("offdiag_abs_q")),
                6,
            ).alias("isotropy"),
            "top_i",
            "top_j",
            "top_cov_q",
        )
    )


@query(
    "sim_ann_index_agreement",
    f"""
    WITH a AS ({{lsh}}),
    b AS ({{ivf}}),
    ov AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common
      FROM (SELECT vec_id FROM a) x JOIN (SELECT vec_id FROM b) y
        USING (vec_id)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_lsh,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_ivf,
           ov.n_common,
           round(CAST(ov.n_common AS DOUBLE)
                 / ((SELECT count(*) FROM a) + (SELECT count(*) FROM b)
                    - ov.n_common), 6) AS jaccard
    FROM ov
    """,
)
def sim_ann_index_agreement(spark, sf_dir):
    """ANN index shadow evaluation: result-set agreement between two live
    index families answering the SAME query (hyperplane-LSH vs IVF
    single-cell) — the side-by-side an index migration runs before
    cutover ('would the replacement index return what the current one
    does, and where do they differ'). Reports both result sizes, the id
    overlap, and Jaccard agreement; read together with their individual
    recall ops (``sim_ann_recall_eval``) this separates 'both indexes
    miss the same truth' from 'the indexes disagree with each other'.
    Composition: both operand queries run as-is (this op adds one
    id-level join over two ≤k-row results — free); the oracle nests
    both operands' full oracles as CTEs, so the agreement number is
    EXACT-gated end to end through two complete index pipelines."""
    a = QUERIES["sim_ann_lsh_topk"](spark, sf_dir).select("vec_id")
    b = QUERIES["sim_ann_ivf_topk"](spark, sf_dir).select("vec_id")
    ov = a.join(b, "vec_id").agg(F.count("*").cast("long").alias("n_common"))
    na = a.agg(F.count("*").cast("long").alias("n_lsh"))
    nb = b.agg(F.count("*").cast("long").alias("n_ivf"))
    return (
        na.crossJoin(F.broadcast(nb))  # 1 row x 1 row
        .crossJoin(F.broadcast(ov))
        .select(
            "n_lsh",
            "n_ivf",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_lsh") + F.col("n_ivf") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


ORACLES["sim_ann_index_agreement"] = ORACLES["sim_ann_index_agreement"].format(
    lsh=ORACLES["sim_ann_lsh_topk"], ivf=ORACLES["sim_ann_ivf_topk"]
)


@query(
    "emb_quantization_error",
    """
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(abs(x - CAST(floor(x * 127 + 0.5) AS INTEGER)
                                       / 127.0) * 1000000000000) AS BIGINT))
               AS err_q
      FROM embeddings
    )
    SELECT vec_id,
           round(CAST(list_aggregate(err_q, 'max') AS DOUBLE)
                 / 1000000000000, 6) AS max_abs_err,
           round(CAST(list_aggregate(err_q, 'sum') AS DOUBLE)
                 / 1000000000000 / len(err_q), 6) AS mean_abs_err
    FROM e
    """,
)
def emb_quantization_error(spark, sf_dir):
    """Int8 quantization error budget — the companion table
    ``emb_quantize_int8`` needs before anyone serves from the compressed
    index: per-vector max and mean absolute reconstruction error of
    x̂ = q/127 against the original components. The theoretical bound is
    1/254 ≈ 0.003937 per component for in-range values; vectors whose
    max_abs_err exceeds it have components outside [-1, 1] (clipping
    candidates) — exactly what the serving tier must know. Per-element
    errors are computed in doubles from exact inputs, quantized to int64
    at 1e12, and folded with integer max/sum (the per-cell quantize
    idiom — a double SUM would be accumulation-order-dependent across
    64 elements in list order vs aggregate order). Narrow map, no
    shuffle; 2 numbers per vector out."""
    emb = as_double("embedding")
    err_q = F.transform(
        emb,
        lambda x: F.round(
            F.abs(x - F.floor(x * 127 + 0.5).cast("int") / 127.0)
            * 1_000_000_000_000
        ).cast("long"),
    )
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.round(
            F.array_max(err_q).cast("double") / 1_000_000_000_000, 6
        ).alias("max_abs_err"),
        F.round(
            F.aggregate(err_q, F.lit(0).cast("long"), lambda a, x: a + x)
            .cast("double")
            / 1_000_000_000_000
            / F.size(err_q),
            6,
        ).alias("mean_abs_err"),
    )


@query(
    "sim_ann_graph_recall_eval",
    f"""
    WITH g AS ({{graph}}),
    bq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    bp AS (SELECT qe AS pq FROM bq WHERE vec_id = {_PROBE_ID}),
    brute AS (
      SELECT vec_id FROM bq CROSS JOIN bp
      WHERE vec_id != {_PROBE_ID}
      ORDER BY {_gr_isq_sql('qe', 'pq')}, vec_id
      LIMIT {_TOPK}
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_ann,
           (SELECT CAST(count(*) AS BIGINT) FROM brute) AS n_brute,
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT vec_id FROM g) a
            JOIN (SELECT vec_id FROM brute) b USING (vec_id)) AS n_common,
           round((SELECT CAST(count(*) AS DOUBLE)
                  FROM (SELECT vec_id FROM g) a
                  JOIN (SELECT vec_id FROM brute) b USING (vec_id))
                 / {_TOPK}, 6) AS recall_at_k
    """,
)
def sim_ann_graph_recall_eval(spark, sf_dir):
    """Driver-gated recall for the graph index: ``sim_ann_graph_topk``'s
    result set against the brute-force integer-L2 truth over the same
    node universe — the same self-measurement contract as
    ``sim_ann_recall_eval`` gives the LSH family, so the graph family's
    quality number rides the EXACT oracle gate (the pytest pin checks the
    same law in-process; this row makes it a driver-graded artifact).
    Since the primary key's r8 re-pointing to the LSH-blocked build, the
    measured index is the blocked one: 0.8 at sf0.001, 0.7 at sf0.01
    (pinned in tests/test_ext_ops.py too). The oracle nests the COMPLETE unrolled
    graph-search oracle as a CTE next to the brute ranking — two full
    pipelines, one agreement row."""
    ann = QUERIES["sim_ann_graph_topk"](spark, sf_dir).select("vec_id")
    e = load(spark, sf_dir, "embeddings")
    qe = _quantize(as_double("embedding"))
    probe = e.filter(F.col("vec_id") == _PROBE_ID).select(qe.alias("pq"))
    brute = (
        e.filter(F.col("vec_id") != _PROBE_ID)
        .select("vec_id", qe.alias("qe"))
        .join(F.broadcast(probe))
        .select("vec_id", _il2(F.col("qe"), F.col("pq")).alias("d"))
        .orderBy("d", "vec_id")
        .limit(_TOPK)
        .select("vec_id")
    )
    common = ann.join(brute, "vec_id").agg(
        F.count("*").cast("long").alias("n_common")
    )
    na = ann.agg(F.count("*").cast("long").alias("n_ann"))
    nb = brute.agg(F.count("*").cast("long").alias("n_brute"))
    return (
        na.crossJoin(F.broadcast(nb))  # 1 row x 1 row
        .crossJoin(F.broadcast(common))
        .select(
            "n_ann",
            "n_brute",
            "n_common",
            F.round(F.col("n_common").cast("double") / _TOPK, 6).alias(
                "recall_at_k"
            ),
        )
    )


ORACLES["sim_ann_graph_recall_eval"] = ORACLES[
    "sim_ann_graph_recall_eval"
].format(graph=ORACLES["sim_ann_graph_topk"])


@query(
    "emb_label_separation_report",
    f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT))
               AS qe
      FROM embeddings
    ),
    cint AS MATERIALIZED (
      SELECT label AS cell, list(cq ORDER BY pos) AS cq FROM (
        SELECT label, i AS pos,
               CAST(floor(CAST(SUM(qe[i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS cq
        FROM qv, (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY label, i
      ) GROUP BY label
    ),
    wd AS (
      SELECT q.label, count(*) AS n,
             CAST(SUM({_il2_sql('q.qe', 'c.cq', 64)}) AS BIGINT) AS sw
      FROM qv q JOIN cint c ON c.cell = q.label GROUP BY q.label
    ),
    cd AS (
      SELECT a.cell AS label, b.cell AS other,
             {_il2_sql('a.cq', 'b.cq', 64)} AS d
      FROM cint a JOIN cint b ON a.cell != b.cell
    ),
    nn AS (
      SELECT label, other, d FROM (
        SELECT label, other, d,
               row_number() OVER (PARTITION BY label ORDER BY d, other) AS rn
        FROM cd
      ) WHERE rn = 1
    )
    SELECT wd.label,
           CAST(wd.n AS BIGINT) AS n_vectors,
           CAST(wd.sw // wd.n AS BIGINT) AS mean_within_isq,
           CAST(nn.other AS INTEGER) AS nearest_label,
           CAST(nn.d AS BIGINT) AS nearest_centroid_isq,
           round(CAST(nn.d AS DOUBLE) / (wd.sw // wd.n), 6)
             AS separation_ratio
    FROM wd JOIN nn USING (label)
    """,
)
def emb_label_separation_report(spark, sf_dir):
    """Cluster-separation QA for the labeled embedding space — the
    silhouette-flavored report an index designer reads before trusting
    labels as IVF cells (the IVF ops' docstrings assume "labels cluster
    weakly"; this op MEASURES it): per label, the mean integer
    squared-L2 from members to their centroid (cohesion), the nearest
    OTHER centroid with its distance (separation), and their ratio — a
    ratio ≲ 1 means the nearest foreign centroid sits inside the
    cluster's own radius, i.e. label cells will leak neighbors and
    nprobe must rise. All arithmetic integer until one final division
    (floor-mean centroids, int64 distance sums, floor mean-within; ties
    on the nearest centroid broken by label), so the full report is
    cross-engine exact. Scale: one narrow pass scores each vector
    against its own (broadcast) centroid; the centroid-pair table is
    |labels|² — trivial at any corpus size."""
    e = load(spark, sf_dir, "embeddings")
    qe = _quantize(as_double("embedding"))
    qv = e.select("vec_id", "label", qe.alias("qe"))
    cint = pin(
        qv.select("label", F.posexplode("qe").alias("pos", "q"))
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
    )  # |labels| rows; 3 consumers
    wd = (
        qv.join(F.broadcast(cint), qv.label == cint.cell)
        .select("label", _il2(F.col("qe"), F.col("cq")).alias("d"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.sum("d").alias("sw"))
    )
    a = cint.select(F.col("cell").alias("label"), F.col("cq").alias("ca"))
    b = cint.select(F.col("cell").alias("other"), F.col("cq").alias("cb"))
    w = Window.partitionBy("label").orderBy("d", "other")
    nn = (
        a.join(b, F.col("label") != F.col("other"))
        .select(
            "label", "other", _il2(F.col("ca"), F.col("cb")).alias("d")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", "other", "d")
    )
    mean_within = F.expr("sw DIV n")
    return (
        wd.join(nn, "label")
        .select(
            "label",
            F.col("n").cast("long").alias("n_vectors"),
            mean_within.cast("long").alias("mean_within_isq"),
            F.col("other").cast("int").alias("nearest_label"),
            F.col("d").cast("long").alias("nearest_centroid_isq"),
            F.round(F.col("d").cast("double") / mean_within, 6).alias(
                "separation_ratio"
            ),
        )
    )


_JL_K = 16  # projected dimensions (64 -> 16, 4x reduction)


def _jl_planes() -> list[list[int]]:
    """Deterministic ±1 projection matrix (sha-parity seeded, the
    `_planes()` recipe with its own namespace so the LSH planes and the
    JL planes stay independent)."""
    planes = []
    for p in range(_JL_K):
        row = []
        for i in range(64):
            h = hashlib.sha256(f"jl{p}|{i}".encode()).digest()[0]
            row.append(1 if h % 2 == 0 else -1)
        planes.append(row)
    return planes


def _jl_proj_sql() -> str:
    """DuckDB: the 16-long list of integer plane dot products."""
    exprs = []
    for plane in _jl_planes():
        lit = "[" + ", ".join(str(x) for x in plane) + "]"
        exprs.append(
            f"CAST(list_aggregate(list_transform(generate_series(1, 64),"
            f" i -> qe[i] * ({lit}[i])), 'sum') AS BIGINT)"
        )
    return "[" + ", ".join(exprs) + "]"


@query(
    "emb_random_projection_distortion",
    f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT))
               AS qe
      FROM embeddings
    ),
    pr AS MATERIALIZED (
      SELECT vec_id, qe, {_jl_proj_sql()} AS pe FROM qv
    ),
    pairs AS (
      SELECT a.vec_id,
             {_il2_sql('a.qe', 'b.qe', 64)} AS od,
             {_il2_sql('a.pe', 'b.pe', _JL_K)} AS pd
      FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1
    ),
    rt AS (
      SELECT CAST(round(CAST(pd AS DOUBLE) / ({_JL_K} * CAST(od AS DOUBLE))
                        * 1000000000) AS BIGINT) AS r
      FROM pairs WHERE od > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(r) AS DOUBLE) / count(*) / 1000000000, 6)
             AS mean_ratio,
           round(CAST(min(r) AS DOUBLE) / 1000000000, 6) AS min_ratio,
           round(CAST(max(r) AS DOUBLE) / 1000000000, 6) AS max_ratio
    FROM rt
    """,
)
def emb_random_projection_distortion(spark, sf_dir):
    """Johnson-Lindenstrauss dimension reduction WITH its acceptance
    test: project 64-dim embeddings to {_JL_K} dims through a
    deterministic ±1 matrix (the database-friendly JL construction —
    Achlioptas: random signs do as well as Gaussians) and report the
    pairwise-distance distortion over the deterministic consecutive-id
    pair sample: ratio = ||Ra−Rb||² / ({_JL_K}·||a−b||²), whose
    expectation is 1 under JL. The report (mean/min/max ratio) is what
    decides whether the reduced space is safe to run the ANN family on
    at a quarter of the vector bytes. Determinism: integer projections
    (±1 dots of int64 components), integer distances in BOTH spaces, one
    double division per pair quantized at 1e9 before the aggregate
    (order-free mean; min/max exact); zero-distance pairs (exact
    duplicate embeddings exist in the fixture) are excluded in both
    engines. Scale: the projection is a narrow 16-fold map (matrix
    broadcast as literals, the LSH-plane discipline); the pair sample
    joins on an id shift — O(n), no quadratic anywhere."""
    pl = _jl_planes()
    qe = _quantize(as_double("embedding"))

    def dotp(plane):
        lit = F.array(*[F.lit(x).cast("long") for x in plane])
        return F.aggregate(
            F.zip_with(F.col("qe"), lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    pr = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", qe.alias("qe"))
        .select("vec_id", "qe", F.array(*[dotp(p) for p in pl]).alias("pe"))
    )
    a = pr.alias("a")
    b = pr.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("qe").alias("qb"),
        F.col("pe").alias("pb"),
    ).alias("b")
    pairs = a.join(b, "vec_id").select(
        _il2(F.col("a.qe"), F.col("qb")).alias("od"),
        _il2(F.col("a.pe"), F.col("pb")).alias("pd"),
    )
    r = F.round(
        F.col("pd").cast("double")
        / (F.lit(_JL_K) * F.col("od").cast("double"))
        * 1_000_000_000
    ).cast("long")
    rt = pairs.filter(F.col("od") > 0).select(r.alias("r"))
    return rt.agg(
        F.count("*").alias("n_pairs"),
        F.round(
            F.sum("r").cast("double") / F.count("*") / 1_000_000_000, 6
        ).alias("mean_ratio"),
        F.round(F.min("r").cast("double") / 1_000_000_000, 6).alias(
            "min_ratio"
        ),
        F.round(F.max("r").cast("double") / 1_000_000_000, 6).alias(
            "max_ratio"
        ),
    )


_MMR_C = 30  # relevance-ranked candidate pool fed to the greedy stage
_MMR_K = 5  # diversified results returned
_MMR_NUM = 7  # λ = 7/10 (rational: score = 7·rel_dist − 3·min_dist_to_S)


def _mmr_sql() -> str:
    steps = []
    for t in range(2, _MMR_K + 1):
        steps.append(f"""sc{t} AS MATERIALIZED (
      SELECT vec_id, odp,
             {_MMR_NUM} * odp - {10 - _MMR_NUM} * mind AS score
      FROM (
        SELECT c.vec_id, c.odp,
               min({_il2_sql('c.qe', 'p.qe', 64)}) AS mind
        FROM cand c
        JOIN cand p ON p.vec_id IN (SELECT vec_id FROM sel{t - 1})
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
        GROUP BY c.vec_id, c.odp
      )
    ),
    sel{t} AS MATERIALIZED (
      SELECT vec_id FROM sel{t - 1}
      UNION ALL
      SELECT vec_id FROM (
        SELECT vec_id FROM sc{t} ORDER BY score, vec_id LIMIT 1
      )
    )""")
    return f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT))
               AS qe
      FROM embeddings
    ),
    pv AS (SELECT qe AS pq FROM qv WHERE vec_id = {_PROBE_ID}),
    cand AS MATERIALIZED (
      SELECT vec_id, qe, odp FROM (
        SELECT q.vec_id, q.qe, {_il2_sql('q.qe', 'pv.pq', 64)} AS odp
        FROM qv q, pv WHERE q.vec_id != {_PROBE_ID}
      ) ORDER BY odp, vec_id LIMIT {_MMR_C}
    ),
    sel1 AS MATERIALIZED (
      SELECT vec_id FROM cand ORDER BY odp, vec_id LIMIT 1
    ),
    {', '.join(steps)}
    SELECT CAST(row_number() OVER (ORDER BY sel_order) AS INTEGER) AS rk,
           vec_id, CAST(odp AS BIGINT) AS rel_dist
    FROM (
      SELECT s.vec_id, c.odp,
             row_number() OVER (ORDER BY c.odp, s.vec_id) AS sel_order
      FROM sel{_MMR_K} s JOIN cand c ON c.vec_id = s.vec_id
    )
    """


@query("sim_mmr_diversified_topk", _mmr_sql())
def sim_mmr_diversified_topk(spark, sf_dir):
    """Maximal-Marginal-Relevance diversified retrieval — the re-rank a
    search/RAG stack runs so the top-k isn't five copies of the same
    near-duplicate passage: from the {_MMR_C} most relevant candidates,
    greedily pick {_MMR_K} results minimizing λ·dist(probe) −
    (1−λ)·min_dist(already-picked) with λ = {_MMR_NUM}/10 kept RATIONAL,
    so each step's score is the exact integer 7·d_rel − 3·d_div and
    every greedy choice (ties by id) replays identically in the unrolled
    MATERIALIZED-CTE oracle. NB the ORDER of selection is itself the
    diversity signal; the output ranks by relevance among the selected
    set (deterministic either way).

    Scale shape: the candidate pool is a TakeOrdered top-{_MMR_C} over
    the corpus (or any ANN op in this family feeding it); the greedy
    stage then touches only {_MMR_C} rows per step — {_MMR_K − 1} tiny
    joins, eager pin per step (the iterative-lineage
    discipline), never a corpus-sized operation. MMR's sequential
    dependency is irreducible (each pick conditions the next), which is
    why bounding it to a small candidate pool is the standard production
    shape."""
    e = load(spark, sf_dir, "embeddings")
    qe = _quantize(as_double("embedding"))
    qv = e.select("vec_id", qe.alias("qe"))
    pv = qv.filter(F.col("vec_id") == _PROBE_ID).select(
        F.col("qe").alias("pq")
    )
    cand = pin(
        qv.filter(F.col("vec_id") != _PROBE_ID)
        .crossJoin(F.broadcast(pv))
        .select("vec_id", "qe", _il2(F.col("qe"), F.col("pq")).alias("odp"))
        .orderBy("odp", "vec_id")
        .limit(_MMR_C)
    )
    sel = pin(cand.orderBy("odp", "vec_id").limit(1).select("vec_id"))
    for _ in range(_MMR_K - 1):
        picked = cand.join(sel, "vec_id").select(
            F.col("vec_id").alias("p_id"), F.col("qe").alias("pqe")
        )
        remaining = cand.join(sel, "vec_id", "left_anti")
        scored = (
            remaining.crossJoin(F.broadcast(picked))
            .select(
                "vec_id",
                "odp",
                _il2(F.col("qe"), F.col("pqe")).alias("dd"),
            )
            .groupBy("vec_id", "odp")
            .agg(F.min("dd").alias("mind"))
            .select(
                "vec_id",
                (
                    F.lit(_MMR_NUM) * F.col("odp")
                    - F.lit(10 - _MMR_NUM) * F.col("mind")
                ).alias("score"),
            )
        )
        pick = scored.orderBy("score", "vec_id").limit(1).select("vec_id")
        sel = pin(sel.union(pick))
    w = Window.orderBy("odp", "vec_id")
    return (
        sel.join(cand, "vec_id")
        .select("vec_id", "odp")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .select("rk", "vec_id", F.col("odp").cast("long").alias("rel_dist"))
    )


# --- hybrid lexical + vector retrieval (round 8) ---------------------------

_RRF_POOL = 30  # per-modality candidate list depth
_RRF_C = 60  # the standard RRF dampening constant


@query(
    "sim_hybrid_rrf_retrieval",
    f"""
    WITH {{bm25}},
    vsim AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                    WHERE vec_id = {{probe}})), 6) AS cs
      FROM embeddings e WHERE e.vec_id != {{probe}}
    ),
    vtop AS (
      SELECT vec_id, rv FROM (
        SELECT vec_id, row_number() OVER (ORDER BY cs DESC, vec_id) AS rv
        FROM vsim
      ) WHERE rv <= {_RRF_POOL}
    ),
    ltop AS (
      SELECT doc_id, rl FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rl
        FROM bm WHERE doc_id != {{probe}}
      ) WHERE rl <= {_RRF_POOL}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
             COALESCE(l.rl, 0) AS lex_rank,
             COALESCE(v.rv, 0) AS vec_rank,
             COALESCE(CAST(round(1000000000000.0 / ({_RRF_C} + l.rl))
                           AS BIGINT), 0)
             + COALESCE(CAST(round(1000000000000.0 / ({_RRF_C} + v.rv))
                             AS BIGINT), 0) AS fs
      FROM ltop l FULL OUTER JOIN vtop v ON v.vec_id = l.doc_id
    )
    SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
           CAST(vec_rank AS INTEGER) AS vec_rank,
           CAST(fs AS BIGINT) AS rrf_e12,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY fs DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= {_TOPK}
    """,
)
def sim_hybrid_rrf_retrieval(spark, sf_dir):
    """Hybrid retrieval — the RAG-stack headline: a lexical BM25 list and
    a vector cosine list answering the SAME query (doc 0's terms + doc
    0's embedding; the probe doc is excluded from both lists), fused by
    Reciprocal Rank Fusion Σ 1/(60+rank) over the top-30 of each
    modality. RRF needs no score calibration between BM25 and cosine —
    exactly why production stacks default to it — and is exactly
    determinizable: ranks are integers, each 1/(60+r) term is quantized
    to int64 at 1e12, the fusion is a two-term integer sum, absent-list
    membership is rank 0. Scale shape: each list is a
    TakeOrderedAndProject + K-row rerank over its modality's aggregate
    (inverted-index tf/df for BM25, narrow cosine map for vectors); the
    fuse is a 30∪30-row full outer join — at 100 TB retrieval cost lives
    entirely in the two modality scans, which the ANN/index ops already
    bound."""
    from .scale import _topk_ranked
    from .text import _bm25_doc_scores

    e = load(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == _PROBE_ID).select(
        as_double("embedding").alias("probe_emb")
    )
    vsim = (
        e.filter(F.col("vec_id") != _PROBE_ID)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(cosine(as_double("embedding"), F.col("probe_emb")), 6).alias(
                "cs"
            ),
        )
    )
    vtop = _topk_ranked(vsim, _RRF_POOL, F.desc("cs"), F.col("vec_id")).select(
        "vec_id", F.col("rk").alias("rv")
    )
    ltop = _topk_ranked(
        _bm25_doc_scores(spark, sf_dir).filter(F.col("doc_id") != _PROBE_ID),
        _RRF_POOL,
        F.desc("s"),
        F.col("doc_id"),
    ).select("doc_id", F.col("rk").alias("rl"))
    rrf = lambda r: F.round(  # noqa: E731
        F.lit(1_000_000_000_000.0) / (F.lit(_RRF_C) + F.col(r))
    ).cast("long")
    fused = (
        ltop.join(vtop, ltop.doc_id == vtop.vec_id, "full")
        .select(
            F.coalesce(ltop.doc_id, vtop.vec_id).alias("doc_id"),
            F.coalesce("rl", F.lit(0)).cast("int").alias("lex_rank"),
            F.coalesce("rv", F.lit(0)).cast("int").alias("vec_rank"),
            (
                F.coalesce(rrf("rl"), F.lit(0)) + F.coalesce(rrf("rv"), F.lit(0))
            ).alias("fs"),
        )
    )
    return _topk_ranked(fused, _TOPK, F.desc("fs"), F.col("doc_id")).select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.col("fs").cast("long").alias("rrf_e12"),
        F.col("rk").cast("int").alias("rk"),
    )


from .text import _BM25_AGG_SQL as _BM25_SQL  # noqa: E402 — no cycle: text imports nothing from here

ORACLES["sim_hybrid_rrf_retrieval"] = ORACLES["sim_hybrid_rrf_retrieval"].format(
    bm25=_BM25_SQL, probe=_PROBE_ID
)


# --- hard-negative mining (round 8) ----------------------------------------

_HN_K = 3


@query(
    "emb_hard_negative_mining",
    f"""
    WITH hn AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT))
               AS qe,
             {{b1}} AS b1, {{b2}} AS b2
      FROM embeddings
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label,
           CAST(hn_rank AS INTEGER) AS hn_rank, idist
    FROM (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS neg_id, b.label AS neg_label,
             {_gr_isq_sql('a.qe', 'b.qe')} AS idist,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {_gr_isq_sql('a.qe', 'b.qe')}, b.vec_id) AS hn_rank
      FROM hn a JOIN hn b
        ON a.vec_id != b.vec_id AND a.label != b.label
       AND (a.b1 = b.b1 OR a.b2 = b.b2)
    ) WHERE hn_rank <= {_HN_K}
    """,
)
def emb_hard_negative_mining(spark, sf_dir):
    """Hard-negative mining — the contrastive-training data op (DPR /
    sentence-transformers / CLIP curricula): for EVERY anchor vector,
    the K=3 nearest neighbors carrying a DIFFERENT label (nearest
    wrong answers = the gradient-rich negatives; random negatives are
    too easy to teach anything). Candidates come from the same two 4-bit
    LSH hyperplane tables the blocked graph-ANN build uses — bucket-mates
    in EITHER table, union-distinct of two equi-joins — so the pair set
    is collision-bounded, never the |V|² cross of anchors × corpus; the
    per-anchor top-K is a window PARTITIONED by anchor (parallel
    across anchors, no global sort). Integer squared-L2 on 1e6
    fixed-point vectors + id tie-breaks keep mining fully deterministic;
    anchors whose buckets hold no wrong-label mate simply emit fewer
    rows (at production scale the multiprobe expansion is the recall
    knob, same as serving). Shuffle payload is ids + bucket keys;
    quantized vectors re-join by id for scoring."""
    e = load(spark, sf_dir, "embeddings")
    nodes = pin(_gr_nodes(e))
    lab = e.select("vec_id", "label")
    nodes = nodes.join(lab, "vec_id")
    pairs = None
    for i in range(1, len(_GRB_TABLES) + 1):
        a = nodes.select(
            F.col("vec_id").alias("anchor_id"), F.col(f"b{i}").alias("k")
        )
        b = nodes.select(F.col("vec_id").alias("neg_id"), F.col(f"b{i}").alias("k"))
        p = (
            a.join(b, "k")
            .filter(F.col("anchor_id") != F.col("neg_id"))
            .select("anchor_id", "neg_id")
        )
        pairs = p if pairs is None else pairs.union(p)
    qa = nodes.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("qe").alias("qa"),
        F.col("label").alias("anchor_label"),
    )
    qb = nodes.select(
        F.col("vec_id").alias("neg_id"),
        F.col("qe").alias("qb"),
        F.col("label").alias("neg_label"),
    )
    scored = (
        pairs.distinct()
        .join(qa, "anchor_id")
        .join(qb, "neg_id")
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            _il2(F.col("qa"), F.col("qb")).alias("idist"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("idist", "neg_id")
    return (
        scored.withColumn("hn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("hn_rank") <= _HN_K)
        .select(
            "anchor_id", "anchor_label", "neg_id", "neg_label", "hn_rank", "idist"
        )
    )


ORACLES["emb_hard_negative_mining"] = ORACLES["emb_hard_negative_mining"].format(
    b1=_lsh_slice_sql("embedding", *_GRB_TABLES[0]),
    b2=_lsh_slice_sql("embedding", *_GRB_TABLES[1]),
)


@query(
    "emb_ivf_cell_balance",
    f"""
    WITH qv AS (
      SELECT vec_id, label,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    seeds AS (SELECT label AS cell, min(vec_id) AS sid
              FROM embeddings GROUP BY label),
    c0 AS (SELECT s.cell, qv.qe AS cq
           FROM seeds s JOIN qv ON qv.vec_id = s.sid),
    {_km_iter_sql("c0", "a1", "c1")},
    {_km_iter_sql("c1", "a2", "c2")},
    afin AS (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, c{_KM_ITERS} c
      ) WHERE rn = 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT cell) AS BIGINT) AS k
            FROM afin),
    dom AS (
      SELECT cell, label AS dom_label, c AS dom_c FROM (
        SELECT a.cell, qv.label, count(*) AS c,
               row_number() OVER (PARTITION BY a.cell
                 ORDER BY count(*) DESC, qv.label) AS rn
        FROM afin a JOIN qv USING (vec_id)
        GROUP BY a.cell, qv.label
      ) WHERE rn = 1
    )
    SELECT s.cell, s.n_vectors,
           round(CAST(s.n_vectors AS DOUBLE) * tot.k / tot.n, 6)
             AS balance_factor,
           CAST(dom.dom_label AS INTEGER) AS dominant_label,
           round(CAST(dom.dom_c AS DOUBLE) / s.n_vectors, 6) AS label_purity
    FROM (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
          FROM afin GROUP BY cell) s
    JOIN dom USING (cell), tot
    """,
)
def emb_ivf_cell_balance(spark, sf_dir):
    """IVF index-health census — the go/no-go a serving index gets before
    cutover: per learned cell (the same 2-round fixed-point Lloyd
    training `sim_ann_kmeans_ivf_topk` runs, trajectory value-checked by
    the unrolled oracle), its population, balance factor (n·K/total:
    1.0 = perfectly balanced; a hot cell means nprobe scans blow their
    latency budget — the IVF analog of `profile_key_skew`), and the
    dominant data label with its purity (do learned cells recover the
    metadata structure the label-defined IVF assumes). Scale shape:
    training as documented on the kmeans op (K-row broadcast centroids,
    partial-aggregating update shuffles); the census itself is two
    hash-grouped aggregates over the |V|-row assignment plus a
    per-cell argmax window PARTITIONED by cell."""
    e = load(spark, sf_dir, "embeddings")
    e_q = pin(
        e.select(
            "vec_id",
            "label",
            as_double("embedding").alias("de"),
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    seeds = e.groupBy("label").agg(F.min("vec_id").alias("sid"))
    cents = (
        seeds.alias("s")
        .join(e_q.alias("v"), F.col("s.sid") == F.col("v.vec_id"))
        .select(F.col("s.label").alias("cell"), F.col("v.qe").alias("cq"))
    )
    for _ in range(_KM_ITERS):
        cents = pin(_km_update(_km_assign_arrow(e_q, cents), e_q))
    # shared by 3 consumers
    afin = pin(_km_assign_arrow(e_q, cents))
    tot = afin.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("cell").cast("long").alias("k"),
    )
    sizes = afin.groupBy("cell").agg(F.count("*").cast("long").alias("n_vectors"))
    wdom = Window.partitionBy("cell").orderBy(F.desc("c"), "label")
    dom = (
        afin.join(e_q.select("vec_id", "label"), "vec_id")
        .groupBy("cell", "label")
        .agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(wdom))
        .filter(F.col("rn") == 1)
        .select("cell", F.col("label").alias("dom_label"), F.col("c").alias("dom_c"))
    )
    return (
        sizes.join(dom, "cell")
        .crossJoin(F.broadcast(tot))  # |cells| x 1 row
        .select(
            "cell",
            "n_vectors",
            F.round(
                F.col("n_vectors").cast("double") * F.col("k") / F.col("n"), 6
            ).alias("balance_factor"),
            F.col("dom_label").cast("int").alias("dominant_label"),
            F.round(
                F.col("dom_c").cast("double") / F.col("n_vectors"), 6
            ).alias("label_purity"),
        )
    )


@query(
    "sim_ann_ivf_nprobe_curve",
    f"""
    WITH {_CENT_SQL},
    nct AS ({ORACLES["sim_search_batch_topk"]}),
    npr AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
      FROM embeddings WHERE vec_id < {_N_PROBES}
    ),
    ncrank AS (
      SELECT probe_id, c_label AS cell,
             row_number() OVER (
               PARTITION BY probe_id
               ORDER BY round(list_cosine_similarity(centroid, pe), 6) DESC,
                        c_label) AS cr
      FROM cent, npr
    ),
    nvals AS (SELECT unnest([1, 2, 3, 5]) AS nprobe),
    ncand AS (
      SELECT pr.probe_id, nv.nprobe, e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          pr.pe), 6) AS cs
      FROM embeddings e
      JOIN ncrank ck ON e.label = ck.cell
      JOIN npr pr ON pr.probe_id = ck.probe_id
      JOIN nvals nv ON ck.cr <= nv.nprobe
      WHERE e.vec_id != pr.probe_id
    ),
    ntopk AS (
      SELECT probe_id, nprobe, vec_id FROM (
        SELECT probe_id, nprobe, vec_id,
               row_number() OVER (PARTITION BY probe_id, nprobe
                                  ORDER BY cs DESC, vec_id) AS rk
        FROM ncand
      ) WHERE rk <= {_BATCH_K}
    ),
    nhits AS (
      SELECT t.nprobe, CAST(count(*) AS BIGINT) AS n_hit
      FROM ntopk t
      JOIN nct ON nct.probe_id = t.probe_id AND nct.vec_id = t.vec_id
      GROUP BY 1
    ),
    ncnt AS (
      SELECT nprobe, CAST(count(*) AS BIGINT) AS n_cand
      FROM ncand GROUP BY 1
    )
    SELECT CAST(nv.nprobe AS BIGINT) AS nprobe,
           CAST({_N_PROBES} AS BIGINT) AS n_probes,
           ncnt.n_cand,
           COALESCE(nhits.n_hit, 0) AS n_hit,
           round(COALESCE(nhits.n_hit, 0) / {_N_PROBES * _BATCH_K}.0, 6)
             AS recall_at_k
    FROM nvals nv
    JOIN ncnt ON ncnt.nprobe = nv.nprobe
    LEFT JOIN nhits ON nhits.nprobe = nv.nprobe
    """,
)
def sim_ann_ivf_nprobe_curve(spark, sf_dir):
    """The IVF tuning curve: recall@{_BATCH_K} AND candidate volume as a
    function of nprobe ∈ {{1, 2, 3, 5}}, measured over the same
    {_N_PROBES}-probe batch and brute-force truth as
    ``sim_ann_recall_eval``. This is the knob-setting artifact an IVF
    deployment actually needs — `sim_ann_ivf_topk` fixes nprobe=3 by fiat;
    this query SHOWS the recall/cost frontier that justifies (or moves)
    that choice: n_cand is the exact number of vectors scanned (the cost
    axis), recall_at_k the quality axis, and the curve's knee is the
    operating point. Monotonicity (recall and cost both non-decreasing in
    nprobe) falls out of candidate-set nesting — tests/test_similarity.py
    pins it. Exactness: cell assignment and ranking use the house
    6dp-round + id tie-break discipline end to end, so candidate sets are
    value-identical cross-engine; counts are exact BIGINTs; the only
    division is the final recall ratio against the constant
    {_N_PROBES}×{_BATCH_K} denominator. Scale shape: the centroid table
    broadcasts (|cells| rows), each nprobe slice is cell-pruned at the
    scan (list-partitioned by cell id at 100 TB), the per-(probe, nprobe)
    rank is a bounded window over candidates, and the curve aggregate is
    4 rows. The ×4 nprobe fan-out is the eval's cost, not the serving
    path's — production runs this on a probe SAMPLE per index build."""
    e = load(spark, sf_dir, "embeddings")
    cent = _int_centroids(e).select(F.col("c_label").alias("cell"), "centroid")
    pr = e.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), as_double("embedding").alias("pe")
    )
    wcell = Window.partitionBy("probe_id").orderBy(F.desc("ccs"), "cell")
    crank = (
        cent.join(F.broadcast(pr))
        .select(
            "probe_id",
            "cell",
            F.round(cosine(F.col("centroid"), F.col("pe")), 6).alias("ccs"),
        )
        .withColumn("cr", F.row_number().over(wcell))
        .select("probe_id", "cell", "cr")
    )
    nvals = spark.range(0, 4).select(
        F.element_at(F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(5)),
                     (F.col("id") + 1).cast("int")).alias("nprobe")
    )
    cand = (
        e.join(F.broadcast(crank), e.label == F.col("cell"))
        .join(F.broadcast(pr), "probe_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .join(F.broadcast(nvals), F.col("cr") <= F.col("nprobe"))
        .select(
            "probe_id",
            "nprobe",
            "vec_id",
            F.round(cosine(as_double("embedding"), F.col("pe")), 6).alias("cs"),
        )
    )
    wk = Window.partitionBy("probe_id", "nprobe").orderBy(F.desc("cs"), "vec_id")
    topk = (
        cand.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _BATCH_K)
        .select("probe_id", "nprobe", "vec_id")
    )
    truth = QUERIES["sim_search_batch_topk"](spark, sf_dir).select(
        "probe_id", "vec_id"
    )
    hits = (
        topk.join(truth, ["probe_id", "vec_id"])
        .groupBy("nprobe")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    cnt = cand.groupBy("nprobe").agg(F.count("*").cast("long").alias("n_cand"))
    return (
        nvals.join(cnt, "nprobe")
        .join(hits, "nprobe", "left")
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            F.lit(_N_PROBES).cast("long").alias("n_probes"),
            "n_cand",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0))
                / float(_N_PROBES * _BATCH_K),
                6,
            ).alias("recall_at_k"),
        )
    )


_ELBOW_KS = (2, 4, 8)


def _eb_iter_sql(prev_c: str, a: str, cur_c: str) -> str:
    """One Lloyd round for the elbow sweep — the `_km_iter_sql` body with
    both CTEs marked MATERIALIZED (the sweep instantiates 3 chains in one
    oracle; without materialization DuckDB re-evaluates each round per
    downstream reference)."""
    return f"""{a} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT qv.vec_id, c.cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, {prev_c} c
      ) WHERE rn = 1
    ),
    {cur_c} AS MATERIALIZED (
      SELECT cell, list(cq1 ORDER BY pos) AS cq FROM (
        SELECT a.cell, i AS pos,
               CAST(floor(CAST(SUM(qv.qe[i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cq1
        FROM {a} a JOIN qv USING (vec_id),
             (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY a.cell, i
      ) GROUP BY cell
    )"""


def _eb_chain_sql(k: int) -> str:
    """The per-k CTE chain: seeded c0, two Lloyd rounds, final scored
    assignment."""
    return f"""ek{k}c0 AS MATERIALIZED (
      SELECT vec_id AS cell, qe AS cq FROM qv WHERE vec_id < {k}
    ),
    {_eb_iter_sql(f"ek{k}c0", f"ek{k}a1", f"ek{k}c1")},
    {_eb_iter_sql(f"ek{k}c1", f"ek{k}a2", f"ek{k}c2")},
    ek{k}fin AS MATERIALIZED (
      SELECT vec_id, cs FROM (
        SELECT qv.vec_id,
               round(list_cosine_similarity(qv.de,
                 list_transform(c.cq,
                   q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) AS cs,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY round(list_cosine_similarity(qv.de,
                   list_transform(c.cq,
                     q -> CAST(q AS DOUBLE) / {_CENT_SCALE})), 6) DESC,
                 c.cell) AS rn
        FROM qv, ek{k}c2 c
      ) WHERE rn = 1
    ),
    ek{k}row AS (
      SELECT CAST({k} AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(SUM(1000000 - CAST(round(cs * 1000000) AS BIGINT))
                  AS BIGINT) AS inertia_ppm
      FROM ek{k}fin
    )"""


@query(
    "emb_kmeans_elbow_curve",
    f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS de,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT)) AS qe
      FROM embeddings
    ),
    {",".join(_eb_chain_sql(k) for k in _ELBOW_KS)}
    SELECT k, n_vecs, inertia_ppm,
           round(CAST(inertia_ppm AS DOUBLE) / (n_vecs * 1000000.0), 6)
             AS avg_dissim
    FROM ({" UNION ALL ".join(f"SELECT * FROM ek{k}row" for k in _ELBOW_KS)})
    """,
)
def emb_kmeans_elbow_curve(spark, sf_dir):
    """The k-selection elbow curve — the clustering twin of
    `sim_ann_ivf_nprobe_curve`'s serving knob: run the SAME fixed-point
    Lloyd machinery as `sim_ann_kmeans_ivf_topk` (2 rounds, integer
    centroids, 6dp-round + cell tie-break assignment) at k ∈ {_ELBOW_KS},
    seeded with the k smallest vec_ids, and report each run's inertia
    (total cosine dissimilarity to the assigned centroid, in exact ppm
    units: Σ (10⁶ − round(cs·10⁶))). The inertia-vs-k knee is how an IVF
    deployment picks its cell count before `sim_ann_ivf_nprobe_curve`
    picks its probe count. The oracle unrolls all THREE training chains
    as MATERIALIZED CTEs, so every Lloyd round of every k is
    value-checked cross-engine. Scale shape: per k, each round is one
    broadcast-centroid Arrow-matmul assignment (round 15) + one
    (cell, pos)-keyed partial-agg shuffle; the inertia term is an O(n)
    per-vector cosine re-join against the assigned centroid instead of
    the old O(n·k) scored fold; the sweep is 3 independent chains
    (embarrassingly parallel across k at cluster scale); the output is
    3 rows. Cost scales with k·rounds, not k²."""
    e = load(spark, sf_dir, "embeddings")
    e_q = pin(
        e.select(
            "vec_id",
            as_double("embedding").alias("de"),
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    rows = None
    for k in _ELBOW_KS:
        cents = e_q.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cell"), F.col("qe").alias("cq")
        )
        for _ in range(_KM_ITERS):
            cents = pin(_km_update(_km_assign_arrow(e_q, cents), e_q))
        # Arrow argmax picks the cell; the inertia term cs is then ONE
        # JVM-side cosine per vector against the assigned centroid
        # (broadcast k-row join) — O(n) cosine evaluations instead of
        # the old O(n*k) scored-fold, and the emitted value goes through
        # the exact same codegen'd cosine + F.round the oracle mirrors.
        cd = _dequantize()
        fin = (
            _km_assign_arrow(e_q, cents)
            .join(e_q.select("vec_id", "de"), "vec_id")
            .join(F.broadcast(cents), "cell")
            .select(
                "vec_id",
                "cell",
                F.round(cosine(F.col("de"), cd), 6).alias("cs"),
            )
        )
        row = fin.agg(
            F.lit(k).cast("long").alias("k"),
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(
                F.lit(1000000)
                - F.round(F.col("cs") * 1000000, 0).cast("long")
            )
            .cast("long")
            .alias("inertia_ppm"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.select(
        "k",
        "n_vecs",
        "inertia_ppm",
        F.round(
            F.col("inertia_ppm").cast("double")
            / (F.col("n_vecs") * F.lit(1000000.0)),
            6,
        ).alias("avg_dissim"),
    )


@query(
    "emb_pq_code_balance",
    f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_CENT_SCALE}) AS BIGINT))
               AS qe
      FROM embeddings
    ),
    subs AS MATERIALIZED (
      SELECT vec_id, mm.m,
             qe[mm.m * {_PQ_SUB} + 1 : mm.m * {_PQ_SUB} + {_PQ_SUB}] AS sv
      FROM qv, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m) mm
    ),
    cb0 AS (
      SELECT m, vec_id AS k, sv AS cw FROM subs WHERE vec_id < {_PQ_K}
    ),
    a0 AS MATERIALIZED (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_il2_sql('s.sv', 'c.cw', _PQ_SUB)}, c.k) AS rn
        FROM subs s JOIN cb0 c ON c.m = s.m
      ) WHERE rn = 1
    ),
    cb1 AS MATERIALIZED (
      SELECT m, k, list(cp ORDER BY pos) AS cw FROM (
        SELECT a0.m, a0.k, i AS pos,
               CAST(floor(CAST(SUM(s.sv[i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cp
        FROM a0 JOIN subs s ON s.vec_id = a0.vec_id AND s.m = a0.m,
             (SELECT unnest(generate_series(1, {_PQ_SUB})) AS i)
        GROUP BY a0.m, a0.k, i
      ) GROUP BY m, k
    ),
    enc AS MATERIALIZED (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_il2_sql('s.sv', 'c.cw', _PQ_SUB)}, c.k) AS rn
        FROM subs s JOIN cb1 c ON c.m = s.m
      ) WHERE rn = 1
    ),
    bt AS (SELECT m, CAST(count(*) AS BIGINT) AS tot FROM enc GROUP BY m),
    bc AS (SELECT m, k, CAST(count(*) AS BIGINT) AS n_vecs
           FROM enc GROUP BY m, k)
    SELECT CAST(c.m AS BIGINT) AS m, CAST(c.k AS BIGINT) AS k,
           COALESCE(bc.n_vecs, 0) AS n_vecs,
           CAST(COALESCE(bc.n_vecs, 0) * 1000000 // bt.tot AS BIGINT)
             AS share_ppm
    FROM cb1 c
    LEFT JOIN bc ON bc.m = c.m AND bc.k = c.k
    JOIN bt ON bt.m = c.m
    """,
)
def emb_pq_code_balance(spark, sf_dir):
    """Codebook-utilization report for the PQ index — the PQ sibling of
    `emb_ivf_cell_balance`: after the SAME train→encode chain as
    `sim_pq_adc_topk` (`_pq_train_encode`: seeded codebooks, one Lloyd
    round of integer squared-L2 assignment + floored-mean update), count
    how many vectors each of the {_PQ_M}×
    {_PQ_K} codewords actually encodes. Dead codewords (n_vecs = 0 —
    kept via the LEFT join from the codebook side) waste code space and
    signal bad seeding; a dominant codeword means the subspace carries
    little information and ADC distances degrade — this is the
    index-health check FAISS users run as `codebook imbalance`.
    Exactness: assignment uses the integer-L2 + codeword tie-break
    discipline, counts and floor-div shares are exact. Scale shape:
    training/encoding shuffle (vec, subspace)-grain integer subvectors;
    the report is an {_PQ_M}×{_PQ_K}-row aggregate; codebooks stay a
    KB-scale broadcast."""
    e_q = pin(
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            _quantize(as_double("embedding")).alias("qe"),
        )
    )
    subs = _pq_subvectors(e_q, "qe", ["vec_id"])
    cb1, enc = _pq_train_encode(subs, ["vec_id"])
    bt = enc.groupBy("m").agg(F.count("*").cast("long").alias("tot"))
    bc = enc.groupBy("m", "k").agg(F.count("*").cast("long").alias("n_vecs"))
    return (
        cb1.select("m", "k")
        .join(bc, ["m", "k"], "left")
        .join(F.broadcast(bt), "m")
        .select(
            F.col("m").cast("long").alias("m"),
            F.col("k").cast("long").alias("k"),
            F.coalesce("n_vecs", F.lit(0)).cast("long").alias("n_vecs"),
            F.expr(
                "CAST(coalesce(n_vecs, 0) * 1000000 DIV tot AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


@query(
    "sim_reciprocal_nn",
    f"""
    WITH rb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             {_lsh_bucket_sql("embedding", _BLOCK_BITS)} AS bucket
      FROM embeddings
    ),
    rnn AS (
      SELECT vec_id, nb_id, cos_sim FROM (
        SELECT a.vec_id, c.vec_id AS nb_id,
               round(list_cosine_similarity(a.e, c.e), 6) AS cos_sim,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.e, c.e), 6) DESC,
                          c.vec_id) AS rn
        FROM rb a JOIN rb c ON c.bucket = a.bucket AND c.vec_id <> a.vec_id
      ) WHERE rn = 1
    )
    SELECT p.vec_id AS vec_a, p.nb_id AS vec_b, p.cos_sim
    FROM rnn p JOIN rnn q ON q.vec_id = p.nb_id AND q.nb_id = p.vec_id
    WHERE p.vec_id < p.nb_id
    """,
)
def sim_reciprocal_nn(spark, sf_dir):
    """Mutual-nearest-neighbor pairs — the high-precision pairing rule a
    dedup/alignment pass runs when one-directional NN is too loose: keep
    (a, b) only when b is a's top-1 AND a is b's top-1 (cosine, rounded,
    vec_id tie-break). NN is defined WITHIN the 4-bit hyperplane LSH
    block (same deterministic inlined planes as `dedup_embedding_lsh`),
    so the semantics are EXACT-oracle-checked end to end including the
    blocking; singleton-bucket vectors have no candidate and drop out in
    both engines. Scale shape: candidate generation is the bucket
    equi-self-join (cost = sum of squared bucket sizes — the prefix
    length is the knob); top-1 selection is a rank window PARTITIONED BY
    vec_id (high-cardinality key, no single-partition exchange); the
    mutuality test re-joins the |V|-row NN table against an id-only
    renamed copy (disambiguated per the round-7 self-join advisory). At
    100 TB each unordered pair would be scored once and mirrored instead
    of scored in both directions — a constant-factor swap the fixture
    scale doesn't need."""
    from ..functions.vectors import dot, norm

    e = load(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        as_double("embedding").alias("emb"),
        norm(as_double("embedding")).alias("nrm"),
        _bucket_bits(as_double("embedding"), _BLOCK_BITS).alias("bucket"),
    )
    x, y = b.alias("x"), b.alias("y")
    cs = F.round(
        dot(F.col("x.emb"), F.col("y.emb")) / (F.col("x.nrm") * F.col("y.nrm")),
        6,
    )
    scored = x.join(
        y,
        (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.vec_id") != F.col("y.vec_id")),
    ).select(
        F.col("x.vec_id").alias("vec_id"),
        F.col("y.vec_id").alias("nb_id"),
        cs.alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "nb_id")
    nn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    m = nn.select(F.col("vec_id").alias("q_id"), F.col("nb_id").alias("q_nb"))
    return (
        nn.join(
            m,
            (F.col("q_id") == F.col("nb_id")) & (F.col("q_nb") == F.col("vec_id")),
        )
        .filter(F.col("vec_id") < F.col("nb_id"))
        .select(
            F.col("vec_id").alias("vec_a"),
            F.col("nb_id").alias("vec_b"),
            "cos_sim",
        )
    )


@query(
    "emb_knn_loo_accuracy",
    f"""
    WITH lb AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             {_lsh_bucket_sql("embedding", _BLOCK_BITS)} AS bucket
      FROM embeddings
    ),
    lnn AS (
      SELECT vec_id, label, nb_label FROM (
        SELECT a.vec_id, a.label, c.label AS nb_label,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.e, c.e), 6) DESC,
                          c.vec_id) AS rn
        FROM lb a JOIN lb c ON c.bucket = a.bucket AND c.vec_id <> a.vec_id
      ) WHERE rn = 1
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN nb_label = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN nb_label = label THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS acc_ppm
    FROM lnn GROUP BY label
    """,
)
def emb_knn_loo_accuracy(spark, sf_dir):
    """Leave-one-out 1-NN label accuracy — the standard embedding-quality
    eval (does nearest-neighbor structure respect labels?) run the way a
    100 TB shop must: each vector's neighbor comes from ITS 4-bit
    hyperplane LSH block (the candidate generation every ANN op here
    shares), not an all-pairs scan, and the blocking is part of the
    oracle-checked semantics. Complements `emb_label_separation_report`
    (centroid geometry) with an instance-level retrieval view; a label
    whose accuracy craters while separation holds marks multi-modal
    classes. Scale shape: bucket equi-self-join for candidates, top-1 by
    rank window PARTITIONED BY vec_id, then a |labels|-row census —
    ids+labels ride the shuffle, vectors stay bucket-local. Singleton-
    bucket vectors have no candidate and drop from the eval in both
    engines (reported n_eval makes the denominator honest)."""
    e = load(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        "label",
        as_double("embedding").alias("emb"),
        _bucket_bits(as_double("embedding"), _BLOCK_BITS).alias("bucket"),
    )
    x, y = b.alias("x"), b.alias("y")
    cs = F.round(cosine(F.col("x.emb"), F.col("y.emb")), 6)
    scored = x.join(
        y,
        (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.vec_id") != F.col("y.vec_id")),
    ).select(
        F.col("x.vec_id").alias("vec_id"),
        F.col("x.label").alias("label"),
        F.col("y.label").alias("nb_label"),
        cs.alias("cos_sim"),
        F.col("y.vec_id").alias("nb_id"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "nb_id")
    nn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    hit = F.sum(F.when(F.col("nb_label") == F.col("label"), 1).otherwise(0))
    return nn.groupBy("label").agg(
        F.count("*").alias("n_eval"),
        hit.cast("long").alias("n_correct"),
        F.expr(
            "CAST(SUM(CASE WHEN nb_label = label THEN 1 ELSE 0 END)"
            " * 1000000 DIV count(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )
