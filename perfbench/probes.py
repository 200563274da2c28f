"""Layer probes for the traced run.

The benchmark's output contract asks every traced run for every
per-layer metric. The layers a workload drives itself are measured from
its own run (``stream.run``, ``batch.run``); this module measures the
rest on the run's own inputs, as listed below. A probe figure for a
layer the workload does not drive does not describe that workload; the
report line lists the probe-measured keys under ``probe_layers``.

- ``sources.wire`` and ``functions.crypto``: successively longer plan
  prefixes over the published topic, each written to the noop sink
  (scan; scan + unwrap of the staged wrapped-DEK column; full decode),
  and the HMAC tag over the events payload column;
- ``streaming`` (batch workload): a short paced run of the stream
  pipeline over copies of the batch workload's published topic;
- ``operators`` / ``materialize`` / ``spark`` (stream workload): one pass
  of the batch query list over small generated tables;
- a drain of one backlog on a 1-core session, the single-threaded
  baseline; it runs last because it replaces the session.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import batch
import stream
from common import start_session

REPS = 3


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _median_s(make) -> float:
    return statistics.median(_noop_s(make()) for _ in range(REPS))


def wire_crypto(spark, topic: str, data: str, work: str, tr) -> dict:
    from pyspark.sql import functions as F

    from dataflow_pubsub_message_encryption_spark.functions import crypto
    from dataflow_pubsub_message_encryption_spark.sources import wire
    from dataflow_pubsub_message_encryption_spark.sources.fixtures import load_events

    wrapped = os.path.join(work, "probe-wrapped")
    (wire.read_topic_batch(spark, topic)
     .select(F.filter("headers", lambda h: h["key"] == "wrapped_dek")[0]["value"]
             .cast("string").alias("w"))
     .write.mode("overwrite").parquet(wrapped))
    with tr.span("sources.wire.scan"):
        scan = _median_s(lambda: wire.read_topic_batch(spark, topic))
    with tr.span("functions.crypto.unwrap"):
        w_scan = _median_s(lambda: spark.read.parquet(wrapped))
        w_udf = _median_s(lambda: spark.read.parquet(wrapped).select(
            crypto.unwrap_dek_udf(F.col("w")).alias("dek")))
    with tr.span("sources.wire.decode"):
        decode = _median_s(lambda: wire.decode_wire(wire.read_topic_batch(spark, topic)))
    with tr.span("functions.crypto.hmac"):
        props = _median_s(lambda: load_events(spark, data).select("props"))
        hmac = _median_s(lambda: load_events(spark, data).select(
            crypto.hmac_col(F.col("props")).alias("mac")))
    unwrap = max(0.0, w_udf - w_scan)
    return {
        "sources.wire.scan_s": scan,
        "sources.wire.decode_s": decode,
        "functions.crypto.unwrap_s": unwrap,
        "functions.crypto.decrypt_verify_s": max(0.0, decode - scan - unwrap),
        "functions.crypto.hmac_s": max(0.0, hmac - props),
    }


def stream_probe(spark, topic: str, work: str, seed: int) -> dict:
    """Paced run of the stream pipeline over two shifted copies of a
    published topic: the first copy warms, the second is measured."""
    copies = stream.stage_copies(topic, os.path.join(work, "probe-staged"), 2)
    rs = stream.StreamRun(spark, work, "probe")
    rng = np.random.default_rng([seed, 2])
    try:
        for label, paths in (("warm", copies[0]), ("paced", copies[1])):
            sched, _ = stream.paced_schedule(paths, stream.PACED_INTERVAL_S, rng, 0.0, 1, label)
            rs.phase(sched, label)
        done, progress = rs.consumed_at(), rs.progress()
    finally:
        rs.stop()
    paced = [d for d in rs.gen.deliveries if d["phase"] == "paced"]
    consumed = rs.consumed()
    st = [stream.progress_stats(progress[q], {c[d["name"]] for d in paced if d["name"] in c})
          for q, c in consumed.items() if q == rs.qv]
    allst = [stream.progress_stats(p, {b["batchId"] for b in p}) for p in progress.values()]
    return {
        "streaming.batches": sum(s["batches"] for s in st),
        "streaming.overhead_ms": st[0]["overhead_ms"],
        "streaming.add_batch_ms": st[0]["add_batch_ms"],
        "streaming.state_rows": sum(s["state_rows"] for s in allst),
        "streaming.state_bytes": sum(s["state_bytes"] for s in allst),
        "streaming.late_rows": sum(s["late_rows"] for s in allst),
        "streaming.backlog_max_segments": stream.backlog_max(paced, done),
        "generator.late_max_s": rs.gen.late_max_s(),
    }


def operators_probe(spark, work: str, seed: int, tr) -> dict:
    """One pass of the batch query list over small generated tables."""
    import datagen

    data = os.path.join(work, "probe-data")
    n_events = datagen.generate(data, seed, datagen.Sizes.for_sf(batch.BATCH_SF))["events"]
    # its own directory, so its publish leaves the run's topic alone
    client = batch.Client(spark, data, os.path.join(work, "probe-ops"), tr, n_events)
    client.one_pass()
    out = batch.pass_layers(tr, client, 1)
    del out["sources.wire.publish_s"]  # the workload's own publish stands
    return out


def one_core_drain(ctx, spark, topic: str, tampered: bool):
    """Drain one staged backlog on a 1-core session (after a warm-up
    backlog); returns (verified events per second, the new session).
    In a ``tampered`` topic only even event ids verify."""
    import pyarrow.parquet as pq

    spark.stop()
    spark, _ = start_session("perfbench-1core", 1, ctx.driver_mem, ctx.local_dir)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    copies = stream.stage_copies(topic, os.path.join(ctx.work, "onecore-staged"), 2)
    ids = [stream.segment_ids(pq.read_table(p)) for p in copies[1]]
    verified = sum(int(np.count_nonzero(i % 2 == 0)) if tampered else len(i) for i in ids)
    rs = stream.StreamRun(spark, ctx.work, "onecore")
    try:
        rs.phase(stream.burst_schedule(copies[0], "warm"), "warm")
        rs.phase(stream.burst_schedule(copies[1], "drain"), "drain")
        eps = stream.drain_eps(rs, "drain", verified)
    finally:
        rs.stop()
    return eps, spark


def fill_layers(ctx, res: dict) -> list[str]:
    """Measure the per-layer metrics ``res['layers']`` still lacks; return
    their names."""
    tr, layers, spark = ctx.tracer, res["layers"], res["spark"]
    own = set(layers)
    layers.update(wire_crypto(spark, res["topic"], res["data"], ctx.work, tr))
    if "streaming.batches" not in layers:
        with tr.span("probe.streaming"):
            layers.update(stream_probe(spark, res["topic"], ctx.work, ctx.seed))
    if "operators.graph.build_s" not in layers:
        with tr.span("probe.operators"):
            layers.update(operators_probe(spark, ctx.work, ctx.seed, tr))
    with tr.span("probe.one_core"):
        eps, res["spark"] = one_core_drain(ctx, spark, res["topic"], res["tampered"])
    layers["streaming.drain_eps_1core"] = eps
    return sorted(set(layers) - own)
