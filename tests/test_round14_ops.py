"""Round-14 regression tests: the DSIR acceptance boundary's DECIMAL
overflow-proofing (ADVICE r13 item 1), the explain_all
unresolved-consumer NEEDS REVIEW rule (ADVICE r13 item 3), and the
round's new operators' laws (bloom auto-sizing, banded embedding-LSH).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- ADVICE r13 item 1: the above-mean test cannot overflow ------------------

_WI_POINTS = [
    # (label, list of micro-unit weights) — four-point matrix: small/large
    # magnitude x positive/negative sum. The "large" rows are chosen so
    # wi * na exceeds int64 range (|wi * 3| > 9.22e18): a raw BIGINT
    # product wraps silently under non-ANSI mode and flips the boundary.
    ("small_mixed", [10, -5, 2]),
    ("small_negative_sum", [-(10**6), -3, 10**5]),
    ("overflow_positive", [4 * 10**18, 4 * 10**18, -(4 * 10**18)]),
    ("overflow_negative_sum", [-(4 * 10**18), -(4 * 10**18), 4 * 10**18]),
]


@pytest.mark.parametrize("label,wis", _WI_POINTS, ids=[p[0] for p in _WI_POINTS])
def test_dsir_acceptance_decimal_never_overflows(spark, label, wis):
    """The exact filter expression `corpus_dsir_resample_mix_shift` ships
    (DECIMAL(19,0) x DECIMAL(19,0) > DECIMAL(38,0)) must agree with
    arbitrary-precision Python integers on every point — including rows
    where the BIGINT product would wrap. Both factors are BIGINT-bounded
    (<= 19 digits), so the 38-digit product cannot overflow by
    construction; this pins that the engine evaluates it that way."""
    from pyspark.sql import functions as F

    na, s = len(wis), sum(wis)
    truth = {i for i, wi in enumerate(wis) if wi * na > s}
    df = spark.createDataFrame(
        [(i, wi) for i, wi in enumerate(wis)], "i INT, wi LONG"
    ).crossJoin(
        spark.createDataFrame([(na, s)], "na LONG, s LONG")
    )
    got = {
        r.i
        for r in df.filter(
            F.col("wi").cast("decimal(19,0)") * F.col("na").cast("decimal(19,0)")
            > F.col("s").cast("decimal(38,0)")
        ).collect()
    }
    assert got == truth, f"{label}: {got} != {truth}"
    # the oracle engine must agree on the identical expression
    import duckdb

    rows = duckdb.sql(
        "SELECT i FROM (SELECT unnest(range(%d)) AS i, "
        "unnest(%s::BIGINT[]) AS wi) "
        "WHERE CAST(wi AS DECIMAL(19,0)) * CAST(%d AS DECIMAL(19,0)) "
        "      > CAST(%d AS DECIMAL(38,0))" % (na, list(wis), na, s)
    ).fetchall()
    assert {r[0] for r in rows} == truth, f"{label}: duckdb disagrees"


# --- VERDICT r13 item 3: the self-tuning bloom width --------------------------


def test_bloom_auto_params_rule_points():
    """Pin the integer fixed-point sizing at hand-computed points: the
    standard rules give m ~= 9.585 n (rounded up to 62-bit words) and
    k ~= 0.693 m/n (half-up, clamped to [1, 32])."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        _bloom_auto_params,
    )

    assert _bloom_auto_params(0) == (1, 62, 32)  # n=0 guarded to 1; k caps
    assert _bloom_auto_params(1) == (1, 62, 32)
    assert _bloom_auto_params(28) == (28, 310, 8)  # the sf0.01 fixture point
    n0, m, k = _bloom_auto_params(10**6)
    assert 9.585 <= m / n0 < 9.586 + 62 / n0  # word-rounding slack only
    assert k == round(0.693 * m / n0)


def test_bloom_auto_verify_equals_fixed(spark, sf_dir):
    """auto == fixed on every hash-INDEPENDENT column (fact rows, true
    matches, revenue): the bloom is a pure prefilter at ANY width, so the
    exact-verify outputs must be identical; only the pass census may
    differ between widths."""
    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        join_bloom_prefilter,
        join_bloom_prefilter_auto,
    )

    fixed = join_bloom_prefilter(spark, sf_dir).collect()[0]
    auto = join_bloom_prefilter_auto(spark, sf_dir).collect()[0]
    for c in ("n_fact_rows", "n_true_match", "revenue"):
        assert auto[c] == fixed[c], c
    # no false negatives, and the pass set is bounded below by truth
    assert auto.n_bloom_pass >= auto.n_true_match
    assert auto.n_false_positives == auto.n_bloom_pass - auto.n_true_match


# --- VERDICT r13 item 4: OR-amplified embedding-LSH ---------------------------


def test_emb_lsh_banded_superset_of_single(spark, sf_dir):
    """Adding a band can only ADD pairs: the 2-band verified set must be
    a superset of the single-band set, with identical cos_sim on the
    shared pairs, and the band census must stay in {1, 2}."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        dedup_embedding_lsh_auto,
        dedup_embedding_lsh_banded,
    )

    single = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_embedding_lsh_auto(spark, sf_dir).collect()
    }
    banded = {
        (r.vec_a, r.vec_b): (r.cos_sim, r.n_bands)
        for r in dedup_embedding_lsh_banded(spark, sf_dir).collect()
    }
    assert set(single) <= set(banded)
    assert all(banded[p][0] == c for p, c in single.items())
    assert {nb for _, nb in banded.values()} <= {1, 2}
    # band 0 IS the single-band blocking, so every single-band pair's
    # census counts at least that hit
    assert all(banded[p][1] >= 1 for p in single)


def test_emb_lsh_banded_one_band_equals_single(spark, sf_dir):
    """The banded body degenerates to the single-band body at
    n_bands=1 (same pairs, same cos, census all-1) — ties the new
    machinery to the driver-proven q32 key."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _BLOCK_BITS,
        _emb_lsh_banded_body,
        _emb_lsh_pairs_body,
    )

    single = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in _emb_lsh_pairs_body(spark, sf_dir, _BLOCK_BITS).collect()
    }
    one = _emb_lsh_banded_body(spark, sf_dir, _BLOCK_BITS, n_bands=1).collect()
    assert {(r.vec_a, r.vec_b): r.cos_sim for r in one} == single
    assert all(r.n_bands == 1 for r in one)


def test_emb_lsh_regime_bodies_identical(spark, sf_dir):
    """The pair body's two execution regimes — declarative broadcast
    (n <= _EMB_BCAST_MAX / n unknown) and explicit-repartition narrow
    float32 exchange (above) — must produce identical rows; the regime
    knob trades plan shape only, never values (float->double is exact,
    same accumulation order). Forcing the shuffle regime at fixture n
    pins it where both can run."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        _BLOCK_BITS,
        _emb_lsh_banded_body,
        _emb_lsh_pairs_body,
    )

    plain = {
        tuple(r) for r in _emb_lsh_pairs_body(spark, sf_dir, _BLOCK_BITS).collect()
    }
    forced = {
        tuple(r)
        for r in _emb_lsh_pairs_body(
            spark, sf_dir, _BLOCK_BITS, n=10**9
        ).collect()
    }
    assert plain == forced and plain
    bplain = {
        tuple(r)
        for r in _emb_lsh_banded_body(spark, sf_dir, _BLOCK_BITS).collect()
    }
    bforced = {
        tuple(r)
        for r in _emb_lsh_banded_body(
            spark, sf_dir, _BLOCK_BITS, n=10**9
        ).collect()
    }
    assert bplain == bforced and bplain


def test_emb_lsh_recall_eval_monotone(spark, sf_dir):
    """recall(2 bands) >= recall(1 band), counts consistent with the
    pair keys, and the candidate census adds up."""
    from dataflow_pubsub_message_encryption_spark.operators.similarity import (
        dedup_embedding_lsh_auto,
        dedup_embedding_lsh_banded,
        dedup_embedding_lsh_recall_eval,
    )

    r = dedup_embedding_lsh_recall_eval(spark, sf_dir).collect()[0]
    assert r.recall_2band >= r.recall_1band
    assert r.n_pairs_2band >= r.n_pairs_1band
    assert r.n_cand_2band >= r.n_cand_1band
    assert r.n_pairs_1band == dedup_embedding_lsh_auto(spark, sf_dir).count()
    assert r.n_pairs_2band == dedup_embedding_lsh_banded(spark, sf_dir).count()
    assert 0.0 <= r.recall_1band <= r.recall_2band <= 1.0


# --- VERDICT r13 item 6: task failure injected MID-PIN -------------------------

_PIN_DRILL = r"""
import json, os, sys

sys.path.insert(0, os.getcwd())  # repo root (the runner's cwd)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# local[6, 2]: 6 threads, spark.task.maxFailures=2 — the bracketed retry
# form; a plain local[N] treats the FIRST task failure as fatal, so no
# drill is possible there.
spark = (
    SparkSession.builder.master("local[6, 2]")
    .appName("pin-drill")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from pyspark.sql.types import LongType


MARKER = sys.argv[2]


def fail_first_attempt(x):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    # partition 3's FIRST attempt dies mid-materialization; the retry
    # (attempt 1) succeeds — the injected "lost work" the drill needs.
    # The marker file proves to the asserting parent that the injection
    # actually FIRED (a drill that never injects proves nothing).
    if ctx is not None and ctx.partitionId() == 3 and ctx.attemptNumber() == 0:
        with open(MARKER, "a") as fh:
            fh.write("fired\n")
        raise RuntimeError("injected task loss (attempt 0, partition 3)")
    return x


poison = F.udf(fail_first_attempt, LongType())

from dataflow_pubsub_message_encryption_spark.operators.graph import (
    connected_components,
)
from dataflow_pubsub_message_encryption_spark.operators.scale import _global_rank

out = {}
for mode in ("clean0", "drill0", "clean1", "drill1"):
    if mode == "clean1":  # from here on every pin is a durable checkpoint()
        spark.sparkContext.setCheckpointDir(sys.argv[1])
    drilled = mode.startswith("drill")
    df = spark.range(0, 1000, 1, 8).select(
        F.col("id"), (F.col("id") % 37).alias("v")
    )
    if drilled:
        df = df.select(poison("id").alias("id"), "v")
    ranked, n = _global_rank(df, "v", "id")
    rows = sorted((r.id, r.rk) for r in ranked.select("id", "rk").collect())
    out[mode] = {"n": n, "digest": hash(tuple(rows)), "head": rows[:3]}

    # second pin-heavy family: the components fixed-point loop (pins
    # edges/nodes/stats per round) over chain clusters of 5: node i is
    # linked to i+1 unless i ends a cluster — 200 components of size 5
    e = spark.range(0, 999, 1, 8).filter((F.col("id") % 5) != 4)
    pairs = e.select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    if drilled:
        pairs = pairs.select(poison("doc_a").alias("doc_a"), "doc_b")
    comp, _rounds = connected_components(pairs)
    crows = sorted(tuple(r) for r in comp.collect())
    out[mode + "_cc"] = {
        "n": len(crows),
        "digest": hash(tuple(crows)),
        "head": crows[:3],
    }
print(json.dumps(out))
spark.stop()
"""


def test_reliable_pin_survives_injected_task_failure(tmp_path):
    """VERDICT r13 item 6: the pin-heavy machinery's durability recipe,
    drilled instead of documented — a task-level exception on the first
    attempt of one partition DURING the pinned materialization, under
    both pin modes, must complete (task retry) with results identical to
    the clean run. (A true executor LOSS cannot happen in one JVM; the
    injected-first-attempt failure is the closest drillable event, and
    the reliable mode additionally proves the durable checkpoint path
    end to end under a mid-pin failure.)"""
    import json
    import subprocess

    script = tmp_path / "drill.py"
    script.write_text(_PIN_DRILL)
    marker = tmp_path / "injections.log"
    r = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "ckpt"), str(marker)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["drill0"] == out["clean0"], "default pin: drilled run diverged"
    assert out["drill1"] == out["clean1"], "reliable pin: drilled run diverged"
    assert out["clean0"]["n"] == 1000
    assert out["drill0_cc"] == out["clean0_cc"], "components: drill diverged"
    assert out["drill1_cc"] == out["clean1_cc"], "components: drill diverged"
    fired = marker.read_text().count("fired") if marker.exists() else 0
    assert fired >= 4, (
        f"injection fired {fired} times — expected >= 4 (once per drilled "
        "machinery per mode); the drill proved nothing"
    )


# --- ADVICE r13 item 3: unresolved consumer => NEEDS REVIEW, not adjacency ---


def test_explain_audit_unresolved_consumer_flags_review():
    """An Exchange whose parent id has no detail block must be flagged
    NEEDS REVIEW — never silently classified by positional adjacency
    (the next block here is a benign-looking keyless agg that adjacency
    would wrongly bless)."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from explain_all import audit_single_partition

    plan = """== Physical Plan ==
Sort (3)
+- Exchange (1)
   +- Scan parquet (2)

(1) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS

(2) HashAggregate
Keys: []
"""
    total, benign, review = audit_single_partition(plan)
    assert total == 1 and benign == 0
    assert len(review) == 1 and "NEEDS REVIEW" in review[0]


def test_explain_audit_resolved_consumer_still_benign():
    """Control: the same shapes WITH a parsable tree header and a keyless
    aggregate consumer classify benign (the r13 behavior, unchanged)."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from explain_all import audit_single_partition

    plan = """== Physical Plan ==
HashAggregate (3)
+- Exchange (2)
   +- Scan parquet (1)

(2) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS

(3) HashAggregate
Keys: []
"""
    total, benign, review = audit_single_partition(plan)
    assert (total, benign, review) == (1, 1, [])
