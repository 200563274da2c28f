"""Round-15 law tests.

The headline change this round is shipping the exact Arrow-matmul
assignment stage (`similarity._km_assign_arrow`) that the r14 100x
census motivated (the interpreted broadcast-centroid fold was 91% of
the sampled-IVF build's cost at 200k vectors; the committed prototype
read up to 48x at 200,000/200,000 agreement). These tests are the law
that lets the engine call the swap EXACT:

- fold ≡ Arrow on every (vec_id, cell) at BOTH graded fixtures, for
  both centroid-seeding shapes the engine uses (vec_id-seeded int64
  cells and label-seeded int32 cells), at seed centroids AND after a
  trained round;
- the full 2-round Lloyd trajectory (integer centroid tables) is
  bit-identical whether training assigns through the fold or Arrow;
- output schema (cell dtype) is preserved, so every downstream oracle
  schema comparison is unchanged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

FIXTURES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _e_q(spark, fixture, with_label=False):
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S
    from dataflow_pubsub_message_encryption_spark.sources import load

    return S._km_quantized(load(spark, fixture, "embeddings"), with_label)


def _seed_cents_vecid(spark, e_q):
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    n = e_q.count()
    k = S._km_auto_k(n)
    return e_q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("qe").alias("cq")
    )


def _seed_cents_label(spark, e_q):
    seeds = e_q.groupBy("label").agg(F.min("vec_id").alias("sid"))
    return (
        seeds.alias("s")
        .join(e_q.alias("v"), F.col("s.sid") == F.col("v.vec_id"))
        .select(F.col("s.label").alias("cell"), F.col("v.qe").alias("cq"))
    )


def _assignments(df):
    return sorted((r.vec_id, r.cell) for r in df.collect())


@pytest.mark.parametrize("fixture", FIXTURES)
@pytest.mark.parametrize("seeding", ["vecid", "label"])
def test_km_assign_arrow_equals_fold(spark, fixture, seeding):
    """Bit-identical cells: Arrow matmul argmax ≡ interpreted fold on
    every vector, at seed centroids and after one trained round."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    e_q = _e_q(spark, fixture, with_label=(seeding == "label"))
    cents = (
        _seed_cents_label(spark, e_q)
        if seeding == "label"
        else _seed_cents_vecid(spark, e_q)
    ).localCheckpoint(eager=True)

    for round_name in ("seed", "trained"):
        fold = S._km_assign(e_q, cents)
        arrow = S._km_assign_arrow(e_q, cents)
        assert _assignments(fold) == _assignments(arrow), (
            f"{seeding} seeding, {round_name} centroids: Arrow assignment "
            "diverged from the interpreted fold"
        )
        # schema preserved (label-seeded cells stay int32, vec_id int64)
        assert arrow.schema["cell"].dataType == fold.schema["cell"].dataType
        assert arrow.schema["vec_id"].dataType == fold.schema["vec_id"].dataType
        cents = S._km_update(fold, e_q).localCheckpoint(eager=True)


@pytest.mark.parametrize(
    "fixture,seeding",
    [pytest.param(f, "vecid", id=f) for f in FIXTURES]
    + [pytest.param(f, "label", id=f"label-{f}") for f in FIXTURES],
)
def test_km_trained_trajectory_identical(spark, fixture, seeding):
    """The full _KM_ITERS Lloyd trajectory is bit-identical whether the
    per-round assignment runs through the fold or the Arrow stage —
    the property that makes the engine-wide swap (train loops included)
    safe: identical per-vector cells => identical integer centroid sums
    => identical next-round centroids, inductively. The Arrow side is
    the engine's own full-corpus train (`_km_train`, stride 1), for both
    seedings; label-seeded cells must keep their int32 dtype."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    e_q = _e_q(spark, fixture, with_label=(seeding == "label"))
    seed = (
        _seed_cents_label(spark, e_q)
        if seeding == "label"
        else _seed_cents_vecid(spark, e_q)
    ).localCheckpoint(eager=True)

    def train(assign_fn):
        cents = seed
        for _ in range(S._KM_ITERS):
            cents = S._km_update(assign_fn(e_q, cents), e_q).localCheckpoint(
                eager=True
            )
        return sorted((r.cell, tuple(r.cq)) for r in cents.collect())

    trained = S._km_train(spark, e_q, seed, stride=1)
    assert train(S._km_assign) == sorted(
        (r.cell, tuple(r.cq)) for r in trained.collect()
    )
    assert trained.schema["cell"].dataType == seed.schema["cell"].dataType


# --- target-recall band derivation (VERDICT r14 item 3) ---


def test_emb_auto_bands_rule_points():
    """Fixed points of the derivation: fixture width lands exactly on
    the r14-measured configuration; the candidate-volume ceiling binds
    once per-band recall collapses with width."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    # fixture width: r_band 0.127016, ratio 1.643 -> 2 bands (the
    # measured 0.236-recall point the closed form predicted at 0.229)
    assert S._emb_auto_bands(4) == (127016, 1643, 2)
    assert S._emb_auto_bands(5)[2] == 3
    # ceiling: bits=6 derives 5 bands, clamped to _EMB_MAX_BANDS
    assert S._emb_auto_bands(6)[2] == S._EMB_MAX_BANDS == 4
    assert S._emb_auto_bands(16)[2] == 4
    # derived count never drops below one full blocking trial
    for bits in range(4, 17):
        assert 1 <= S._emb_auto_bands(bits)[2] <= S._EMB_MAX_BANDS


def test_emb_deriv_sql_matches_python():
    """The oracle's SQL re-derivation is integer-identical to the
    engine rule at EVERY width the clamp admits — the property that
    makes (r_band_ppm, ratio_milli, n_bands_derived) safe to grade as
    result columns."""
    import duckdb

    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    con = duckdb.connect()
    for bits in range(4, 17):
        row = con.execute(S._emb_deriv_sql(bits)).fetchone()
        assert tuple(row[:2]) + (row[2],) == S._emb_auto_bands(bits), bits


def test_emb_banded_auto_equals_fixed(spark, sf_dir):
    """auto(R_target at fixture) ≡ the fixed 2-band key on every pair,
    with the derived-parameter columns constant at the rule's fixture
    point."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, _ = registry()
    fixed = {
        (r.vec_a, r.vec_b, r.n_bands, r.cos_sim)
        for r in queries["dedup_embedding_lsh_banded"](spark, sf_dir).collect()
    }
    auto_rows = queries["dedup_embedding_lsh_banded_auto"](
        spark, sf_dir
    ).collect()
    auto = {
        (r.vec_a, r.vec_b, r.n_band_hits, r.cos_sim) for r in auto_rows
    }
    assert auto == fixed
    assert {
        (r.r_band_ppm, r.ratio_milli, r.n_bands_derived) for r in auto_rows
    } == {(127016, 1643, 2)}


def test_emb_recall_eval_grades_derived_point(spark, sf_dir):
    """The extended recall eval's derived point is the 2-band
    measurement: n_pairs_derived/recall_derived equal the 2-band
    columns and n_bands_derived matches the rule."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, _ = registry()
    row = queries["dedup_embedding_lsh_recall_eval"](spark, sf_dir).collect()[0]
    assert row.n_bands_derived == 2
    assert row.n_pairs_derived == row.n_pairs_2band
    assert row.recall_derived == row.recall_2band
    assert row.recall_2band >= row.recall_1band


# --- VERDICT r14 item 5: the mid-pin failure drill, suffix family ---

_SUFFIX_PIN_DRILL = r"""
import json, os, sys

sys.path.insert(0, os.getcwd())  # repo root (the runner's cwd)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# local[6, 2]: task retries enabled — see the r14 drill's rationale.
spark = (
    SparkSession.builder.master("local[6, 2]")
    .appName("suffix-pin-drill")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
MARKER = sys.argv[2]
SF_DIR = sys.argv[3]


def fail_first_attempt(x):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is not None and ctx.partitionId() == 3 and ctx.attemptNumber() == 0:
        with open(MARKER, "a") as fh:
            fh.write("fired\n")
        raise RuntimeError("injected task loss (attempt 0, partition 3)")
    return x


poison = F.udf(fail_first_attempt, LongType())

from dataflow_pubsub_message_encryption_spark.operators import dedup as D

real_load = D.load


def poisoned_load(spark_, sf_dir_, table):
    # 8 scan partitions so the poisoned partition 3 exists, then the
    # poison column rides the documents table through the WHOLE
    # doubling ladder: every job that re-evaluates the scan (the base
    # pin, the per-round pair pins, the adjacency text joins) re-fires
    # the first-attempt failure mid-materialization.
    df = real_load(spark_, sf_dir_, table)
    if table == "documents":
        rest = [c for c in df.columns if c != "doc_id"]
        df = df.repartition(8).select(
            poison("doc_id").alias("doc_id"), *rest
        )
    return df


out = {}
for mode in ("clean0", "drill0", "clean1", "drill1"):
    if mode == "clean1":  # from here on every pin is a durable checkpoint()
        spark.sparkContext.setCheckpointDir(sys.argv[1])
    D.load = poisoned_load if mode.startswith("drill") else real_load
    rows = sorted(
        tuple(r) for r in D.dedup_span_suffix_doubling(spark, SF_DIR).collect()
    )
    out[mode] = {"n": len(rows), "digest": hash(tuple(rows)), "head": rows[:3]}
D.load = real_load
print(json.dumps(out))
spark.stop()
"""


def test_suffix_ladder_survives_injected_task_failure(tmp_path):
    """VERDICT r14 item 5: the r14 drill proved generic pin + the
    components loop; this parameterizes the SAME injected-first-attempt
    failure over the most pin-heavy operator — the suffix-doubling
    ladder (a pin per doubling round, and the merge-hinted joins that
    were the r10 broadcast-hazard's original site) — under both pin
    modes, asserting results identical to the clean runs."""
    import json
    import os
    import subprocess
    import sys

    script = tmp_path / "suffix_drill.py"
    script.write_text(_SUFFIX_PIN_DRILL)
    marker = tmp_path / "injections.log"
    r = subprocess.run(
        [
            sys.executable,
            str(script),
            str(tmp_path / "ckpt"),
            str(marker),
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["clean0"]["n"] == 500  # every fixture doc reported
    assert out["drill0"] == out["clean0"], "default pin: drill diverged"
    assert out["drill1"] == out["clean1"], "reliable pin: drill diverged"
    assert out["clean1"] == out["clean0"], "pin modes disagree"
    fired = marker.read_text().count("fired") if marker.exists() else 0
    assert fired >= 2, (
        f"injection fired {fired} times — expected >= 1 per drilled mode; "
        "the drill proved nothing"
    )


@pytest.mark.parametrize("shape", ["multibatch", "skewed_empty"])
def test_km_assign_arrow_multibatch_and_empty_partitions(spark, shape):
    """The fixtures exercise ONE Arrow batch; the scale path is many
    batches across many partitions (and mapInPandas can hand the UDF
    empty iterators on empty partitions). Pin fold ≡ Arrow on a
    synthetic corpus large enough for multiple Arrow batches per task
    quota (30k vectors, 64 partitions) and on a 3-key skew repartition
    that leaves 61 of 64 partitions EMPTY."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    n = 30_000 if shape == "multibatch" else 3_000
    base = spark.range(0, n, 1, 64).select(
        F.col("id").alias("vec_id"),
        # (id + 1) keeps every vector nonzero: sin of a nonzero integer
        # is never exactly 0, so norms stay positive for the fold's
        # division
        F.expr(
            "transform(sequence(1, 16), j -> cast(sin((id + 1) * j) as double))"
        ).alias("de"),
    )
    if shape == "skewed_empty":
        base = base.repartition(64, F.col("vec_id") % 3)
    e_q = base.select(
        "vec_id",
        "de",
        F.transform(
            "de", lambda x: F.round(x * S._CENT_SCALE).cast("long")
        ).alias("qe"),
    ).localCheckpoint(eager=True)
    cents = e_q.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("cell"), F.col("qe").alias("cq")
    ).localCheckpoint(eager=True)

    fold = sorted(
        (r.vec_id, r.cell) for r in S._km_assign(e_q, cents).collect()
    )
    arrow = sorted(
        (r.vec_id, r.cell) for r in S._km_assign_arrow(e_q, cents).collect()
    )
    assert len(fold) == n
    assert fold == arrow


# --- the round's own machinery drilled: Arrow-assignment IVF build ---

_KMEANS_PIN_DRILL = r"""
import json, os, sys

sys.path.insert(0, os.getcwd())  # repo root (the runner's cwd)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

spark = (
    SparkSession.builder.master("local[6, 2]")
    .appName("kmeans-pin-drill")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
MARKER = sys.argv[2]
SF_DIR = sys.argv[3]


def fail_first_attempt(x):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is not None and ctx.partitionId() == 3 and ctx.attemptNumber() == 0:
        with open(MARKER, "a") as fh:
            fh.write("fired\n")
        raise RuntimeError("injected task loss (attempt 0, partition 3)")
    return x


poison = F.udf(fail_first_attempt, LongType())

from dataflow_pubsub_message_encryption_spark.operators import similarity as S

real_load = S.load


def poisoned_load(spark_, sf_dir_, table):
    # the poisoned vec_id rides the corpus through the count(), the
    # eager e_q/train checkpoints (mid-pin), the centroid driver
    # collects, and the Arrow mapInPandas assignment stage — every job
    # that re-evaluates the scan re-fires the first-attempt failure.
    df = real_load(spark_, sf_dir_, table)
    if table == "embeddings":
        # 8 partitions BEFORE the poison select: the fixture parquet is
        # one file = one scan partition, and a poison stage with no
        # partition 3 never fires (the suffix drill's lesson).
        rest = [c for c in df.columns if c != "vec_id"]
        df = df.repartition(8).select(poison("vec_id").alias("vec_id"), *rest)
    return df


out = {}
for mode in ("clean0", "drill0", "clean1", "drill1"):
    if mode == "clean1":  # from here on every pin is a durable checkpoint()
        spark.sparkContext.setCheckpointDir(sys.argv[1])
    S.load = poisoned_load if mode.startswith("drill") else real_load
    rows = sorted(
        tuple(r)
        for r in S.sim_ann_kmeans_ivf_topk_auto_sampled(spark, SF_DIR).collect()
    )
    out[mode] = {"n": len(rows), "digest": hash(tuple(rows)), "head": rows[:2]}
S.load = real_load
print(json.dumps(out))
spark.stop()
"""


def test_arrow_ivf_build_survives_injected_task_failure(tmp_path):
    """The round-15 machinery gets the same drill as the pin-heavy
    families: the sampled-IVF build (eager train pins, centroid driver
    collects, the Arrow mapInPandas assignment) under an injected
    first-attempt task failure, both pin modes, results identical to
    the clean runs."""
    import json
    import os
    import subprocess
    import sys

    script = tmp_path / "kmeans_drill.py"
    script.write_text(_KMEANS_PIN_DRILL)
    marker = tmp_path / "injections.log"
    r = subprocess.run(
        [
            sys.executable,
            str(script),
            str(tmp_path / "ckpt"),
            str(marker),
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["clean0"]["n"] == 10  # top-k result
    assert out["drill0"] == out["clean0"], "default pin: drill diverged"
    assert out["drill1"] == out["clean1"], "reliable pin: drill diverged"
    assert out["clean1"] == out["clean0"], "pin modes disagree"
    # Spark makes <dir>/<uuid>/ at setCheckpointDir; a reliable
    # checkpoint() writes rdd-<id>/ under it
    assert any((tmp_path / "ckpt").glob("*/rdd-*")), "durable pin never wrote"
    fired = marker.read_text().count("fired") if marker.exists() else 0
    assert fired >= 2, (
        f"injection fired {fired} times — expected >= 1 per drilled mode"
    )


# --- batch serving over the learned index ---


def test_batch_ivf_probe0_equals_single_probe_key(spark, sf_dir):
    """The batch key serves the SAME index the single-probe production
    key builds: probe 0's top-5 must equal the first 5 rows of
    `sim_ann_kmeans_ivf_topk_auto_sampled` under the shared
    (cos_sim DESC, vec_id) tie discipline."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, _ = registry()
    single = queries["sim_ann_kmeans_ivf_topk_auto_sampled"](spark, sf_dir)
    want = [
        (r.vec_id, r.cell, r.cos_sim)
        for r in single.collect()[:5]  # already ordered by the key
    ]
    batch = queries["sim_ann_kmeans_ivf_batch_topk"](spark, sf_dir)
    probe0 = [r for r in batch.collect() if r.probe_id == 0]
    got = [
        (r.vec_id, r.cell, r.cos_sim)
        for r in sorted(probe0, key=lambda r: (-r.cos_sim, r.vec_id))
    ]
    assert got == want


def test_batch_ivf_exactly_k_rows_per_probe(spark, sf_dir):
    from dataflow_pubsub_message_encryption_spark.operators import registry
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    queries, _ = registry()
    rows = queries["sim_ann_kmeans_ivf_batch_topk"](spark, sf_dir).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert sorted(by_probe) == list(range(S._N_PROBES))
    assert all(len(v) == S._BATCH_K for v in by_probe.values())
    # a probe never returns itself
    assert all(r.vec_id != r.probe_id for r in rows)


# --- Session-2 additions: SemDeDup + embedding decontamination laws ---


def test_sd_auto_k_rule_points():
    """The occupancy-budget cell rule at its boundary points: floor clamp,
    the fixture point (500 -> 10), ceil-div behavior, and the 4096
    ceiling (reached at n > 4096 * B = 204800). The rule is the
    MEASURED minimizer — the balanced sqrt(n/2) alternative was
    implemented and lost 3-5x at every scale (see _sd_auto_k's
    docstring and SCALING.md §21)."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    assert S._sd_auto_k(1) == 4
    assert S._sd_auto_k(200) == 4
    assert S._sd_auto_k(201) == 5
    assert S._sd_auto_k(500) == 10 == S._SD_K
    assert S._sd_auto_k(501) == 11
    assert S._sd_auto_k(204800) == 4096
    assert S._sd_auto_k(10**9) == 4096


def test_semdedup_tau_extremes(spark, sf_dir):
    """tau = -1 makes every within-cell pair a dup: the keep-rule must
    retain EXACTLY one vector per cell (the neighborhood minimum) and
    count all C(n_vecs, 2) pairs; tau > 1 removes nothing."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, _ = registry()
    all_dups = queries["dedup_semdedup_cells"](spark, sf_dir, tau=-1.0).collect()
    assert sum(r.n_vecs for r in all_dups) == 500
    for r in all_dups:
        assert r.dup_pairs == r.n_vecs * (r.n_vecs - 1) // 2
        assert r.kept == 1
        assert r.removed == r.n_vecs - 1
    no_dups = queries["dedup_semdedup_cells"](spark, sf_dir, tau=1.01).collect()
    for r in no_dups:
        assert r.dup_pairs == 0 and r.removed == 0 and r.kept == r.n_vecs


def test_semdedup_keep_rule_laws(spark, sf_dir):
    """At the production tau, recompute the keep-rule in Python from the
    engine's own dup-pair set and hold the report to it: removed =
    distinct per-pair losers (greater (cs_cent, id)), the kept set is
    PAIR-FREE (no surviving dup pair keeps both endpoints), and every
    removed id justifies itself with at least one dup pair."""
    from dataflow_pubsub_message_encryption_spark.operators import registry
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    queries, _ = registry()
    n = 500
    k = S._sd_auto_k(n)
    stride = S._km_auto_stride(n, k)
    pairs = S._sd_body(spark, sf_dir, k, stride, S._SD_TAU, emit="pairs").collect()
    assert pairs, "fixture tau admits no dup pairs — laws would be vacuous"
    removed: dict[int, set[int]] = {}
    dup_counts: dict[int, int] = {}
    for p in pairs:
        # id_a < id_b: on a cs_cent tie the LOWER id is kept
        loser = p.id_a if p.cs_a > p.cs_b else p.id_b
        removed.setdefault(p.cell, set()).add(loser)
        dup_counts[p.cell] = dup_counts.get(p.cell, 0) + 1
    report = queries["dedup_semdedup_cells"](spark, sf_dir).collect()
    for r in report:
        assert r.dup_pairs == dup_counts.get(r.cell, 0)
        assert r.removed == len(removed.get(r.cell, set()))
        assert r.kept == r.n_vecs - r.removed
    removed_all = set().union(*removed.values())
    for p in pairs:  # kept set is pair-free
        assert p.id_a in removed_all or p.id_b in removed_all
    justified = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    assert removed_all <= justified


def test_dc_auto_every_rule_points():
    """The held-out modulus at its boundary points: the floor (50) binds
    up to n = 500, n // 10 beyond — the eval set caps at ~10 rows at
    any corpus size."""
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    assert S._dc_auto_every(1) == 50
    assert S._dc_auto_every(500) == 50
    assert S._dc_auto_every(509) == 50
    assert S._dc_auto_every(510) == 51
    assert S._dc_auto_every(50_000) == 5_000
    assert S._dc_auto_every(10**9) == 10**8


def test_decontam_tau_extremes(spark, sf_dir):
    """tau = -1 flags every train vector for every eval row (490 each at
    the fixture); tau > 1 flags none. Row count = the 10 eval ids, and
    the derived modulus rides out as the graded eval_every column."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, _ = registry()
    rows = queries["decontam_embedding_cosine"](spark, sf_dir, tau=-1.0).collect()
    assert [r.test_id for r in rows] == list(range(0, 500, 50))
    assert all(r.n_contaminated == 490 for r in rows)
    assert all(r.eval_every == 50 for r in rows)
    rows = queries["decontam_embedding_cosine"](spark, sf_dir, tau=1.01).collect()
    assert all(r.n_contaminated == 0 for r in rows)


def test_decontam_nearest_ties_brute_topk(spark, sf_dir):
    """Eval id 0 is also `sim_cosine_topk`'s probe: the driver-proven
    brute top-k, with eval ids filtered out, must lead with exactly
    decontam's (nearest_train_id, max_cos) for test_id 0 — the two keys
    share the 6dp cosine + lowest-id tie discipline."""
    from dataflow_pubsub_message_encryption_spark.operators import registry
    from dataflow_pubsub_message_encryption_spark.operators import similarity as S

    queries, _ = registry()
    brute = [
        r
        for r in queries["sim_cosine_topk"](spark, sf_dir).collect()
        if r.vec_id % S._dc_auto_every(500) != 0
    ]
    assert brute, "top-k contained only eval ids — law needs a wider k"
    row0 = queries["decontam_embedding_cosine"](spark, sf_dir).collect()[0]
    assert row0.test_id == 0
    assert row0.nearest_train_id == brute[0].vec_id
    assert row0.max_cos == brute[0].cos_sim


def test_semdedup_recall_eval_ties_report_and_lsh_truth(spark, sf_dir):
    """Cross-key laws: the eval's n_pairs is EXACTLY the report key's
    Σ dup_pairs (same partition, same τ), and its truth count equals
    the hyperplane eval's n_true (identical truth definition) — so the
    two blocking schemes are graded against the same ground truth."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, _ = registry()
    ev = queries["dedup_semdedup_recall_eval"](spark, sf_dir).collect()[0]
    report = queries["dedup_semdedup_cells"](spark, sf_dir).collect()
    assert ev.n_pairs == sum(r.dup_pairs for r in report)
    assert ev.n_cand == sum(r.n_vecs * (r.n_vecs - 1) // 2 for r in report)
    lsh = queries["dedup_embedding_lsh_recall_eval"](spark, sf_dir).collect()[0]
    assert ev.n_true == lsh.n_true
    assert 0.0 <= ev.recall <= 1.0
    assert 0.0 <= ev.cand_hit_rate <= 1.0


def test_semantic_curation_report_ties_standalone_keys(spark, sf_dir):
    """The composite's columns against the standalone keys it composes:
    Σ n_dup = the SemDeDup report's Σ removed (losers are unique per
    cell, so per-cell distinct sums to the global distinct), Σ n_eval =
    the decontam key's row count, Σ n_docs = the full linked corpus,
    and per source the union bound brackets n_kept."""
    from dataflow_pubsub_message_encryption_spark.operators import registry

    queries, _ = registry()
    rows = queries["corpus_semantic_curation_report"](spark, sf_dir).collect()
    sd = queries["dedup_semdedup_cells"](spark, sf_dir).collect()
    dc = queries["decontam_embedding_cosine"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == 500
    assert sum(r.n_dup for r in rows) == sum(c.removed for c in sd)
    assert sum(r.n_eval for r in rows) == len(dc)
    for r in rows:
        lo = r.n_docs - (r.n_eval + r.n_dup + r.n_contam)  # union bound
        hi = r.n_docs - max(r.n_eval, r.n_dup, r.n_contam)
        assert lo <= r.n_kept <= hi
        assert r.kept_ppm == r.n_kept * 1_000_000 // r.n_docs


# --- the session-2 machinery drilled: SemDeDup build ---

_SEMDEDUP_PIN_DRILL = r"""
import json, os, sys

sys.path.insert(0, os.getcwd())  # repo root (the runner's cwd)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

spark = (
    SparkSession.builder.master("local[6, 2]")
    .appName("semdedup-pin-drill")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
MARKER = sys.argv[2]
SF_DIR = sys.argv[3]


def fail_first_attempt(x):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is not None and ctx.partitionId() == 3 and ctx.attemptNumber() == 0:
        with open(MARKER, "a") as fh:
            fh.write("fired\n")
        raise RuntimeError("injected task loss (attempt 0, partition 3)")
    return x


poison = F.udf(fail_first_attempt, LongType())

from dataflow_pubsub_message_encryption_spark.operators import similarity as S

real_load = S.load


def poisoned_load(spark_, sf_dir_, table):
    # the poisoned vec_id rides through the count(), the e_q/train/cents
    # pins, the Arrow assignment, the cs_cent re-join, the base pin, the
    # cell self-join pair pass and the pairs pin — every re-evaluating
    # job re-fires the first-attempt failure.
    df = real_load(spark_, sf_dir_, table)
    if table == "embeddings":
        rest = [c for c in df.columns if c != "vec_id"]
        df = df.repartition(8).select(poison("vec_id").alias("vec_id"), *rest)
    return df


out = {}
for mode in ("clean0", "drill0", "clean1", "drill1"):
    if mode == "clean1":  # from here on every pin is a durable checkpoint()
        spark.sparkContext.setCheckpointDir(sys.argv[1])
    S.load = poisoned_load if mode.startswith("drill") else real_load
    rows = sorted(
        tuple(r) for r in S.dedup_semdedup_cells(spark, SF_DIR).collect()
    )
    out[mode] = {"n": len(rows), "digest": hash(tuple(rows)), "head": rows[:2]}
S.load = real_load
print(json.dumps(out))
spark.stop()
"""


def test_semdedup_build_survives_injected_task_failure(tmp_path):
    """The session-2 machinery gets the standing drill: the SemDeDup
    build (train pins, Arrow assignment, cs_cent re-join, base and
    pairs pins, the reused-exchange pair pass) under an injected
    first-attempt task failure, both pin modes, per-cell report
    identical to the clean runs."""
    import json
    import os
    import subprocess
    import sys

    script = tmp_path / "semdedup_drill.py"
    script.write_text(_SEMDEDUP_PIN_DRILL)
    marker = tmp_path / "injections.log"
    r = subprocess.run(
        [
            sys.executable,
            str(script),
            str(tmp_path / "ckpt"),
            str(marker),
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["clean0"]["n"] == 10  # one row per nonempty cell
    assert out["drill0"] == out["clean0"], "default pin: drill diverged"
    assert out["drill1"] == out["clean1"], "reliable pin: drill diverged"
    assert out["clean1"] == out["clean0"], "pin modes disagree"
    # Spark makes <dir>/<uuid>/ at setCheckpointDir; a reliable
    # checkpoint() writes rdd-<id>/ under it
    assert any((tmp_path / "ckpt").glob("*/rdd-*")), "durable pin never wrote"
    fired = marker.read_text().count("fired") if marker.exists() else 0
    assert fired >= 2, (
        f"injection fired {fired} times — expected >= 1 per drilled mode"
    )
