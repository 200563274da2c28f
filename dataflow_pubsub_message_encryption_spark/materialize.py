"""Eager materialization: the one place the package truncates lineage.

The iterative/two-pass operators (``_global_rank`` / ``_global_cumsum``'s
partition-id pinning, the graph fixed-point loops, the corpus builds that
feed one table to several consumers) must truncate lineage eagerly per
step: each step references its predecessor more than once, so lazy
lineage doubles per round (plans stop COMPILING around 9 rounds), and the
rank machinery additionally needs the sampled range partitioning frozen
across its two passes.

One rule, read from the session: ``pin`` returns Spark's reliable
``checkpoint()`` when the SparkContext has a checkpoint dir set (the
deployment recipe: point it at durable storage, and a pinned table
survives a lost executor), else ``localCheckpoint()`` (executor block
storage: cheapest, but an executor lost between passes FAILS the job
instead of recomputing). Spark's default session has no checkpoint dir,
so the default is ``localCheckpoint``. Both are eager.

**Join-planning hazard (round-10 finding)**: a pinned frame's logical
plan carries the PRE-pin size estimate, and a broadcast built directly
from a checkpointed RDD has no shuffle stage for AQE to re-measure — so
a join against a pinned side can be planned as a broadcast the runtime
cannot revoke. An explode-undersized estimate did exactly that at 25×
fixture scale (multi-GB "broadcast" → driver maxResultSize abort).
Joins whose pinned side is data-grain BY CONSTRUCTION must pin the
strategy too: ``.hint("merge")`` / ``.hint("shuffle_hash")`` (suffix
family, graph-ANN build); bounded pinned sides (≤beam frontiers,
≤_N_RANGE scalars) may broadcast freely.
"""

from __future__ import annotations


def pin(df):
    """Materialize ``df`` NOW and truncate its lineage; see module doc."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


def release_pins(spark) -> int:
    """Unpersist EVERY persistent RDD — the localCheckpoint blocks pins
    leave behind (they are never auto-released; a long session running
    many pinned operators accumulates one cached RDD per pin site per
    call). Call ONLY at a point where no live DataFrame still depends on
    a pinned lineage: a released localCheckpoint is unrecoverable by
    design (truncated lineage — Spark raises CHECKPOINT_RDD_BLOCK_ID_NOT
    _FOUND, it does not recompute). bench.py calls this between fully
    materialized queries; returns the number of RDDs released."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())
    for r in rdds:
        r.unpersist(False)
    return len(rdds)
