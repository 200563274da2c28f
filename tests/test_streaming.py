"""Streaming mirror tests (SURVEY §5.4): batch ≡ stream on the windowed
counts (prefix consistency), watermark late-data handling, stateful dedup,
and the exactly-once parquet sink."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dataflow_pubsub_message_encryption_spark import streaming as st
from dataflow_pubsub_message_encryption_spark.operators.ref_pipeline import (
    QUERIES as REFQ,
)
from dataflow_pubsub_message_encryption_spark.sources import load_events


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sparkgraft-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream_to_memory(spark, sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # availableNow terminates on its own once the backlog drains; the cap
    # only bounds a hang. 120 s proved too tight once on a loaded box
    # (Python-UDF worker spin-up under contention -> zero batches
    # committed -> empty memory table); fail loudly instead of returning
    # partial state.
    drained = q.awaitTermination(300)
    assert drained, f"stream {name} still active after 300s"
    return spark.table(name)


def test_stream_windowed_counts_equal_batch(spark, sf_dir, tmpdir):
    """Replaying the events table through a file stream must yield the
    exact batch R8 result once the stream drains.

    Complete mode is the deterministic drain: availableNow never runs the
    no-data micro-batch that would flush watermark-closed windows in append
    mode (probed on 4.1.2 — append emits nothing for a fully-drained replay),
    while complete mode's final trigger holds the entire result table, which
    must equal batch EXACTLY (a stronger assertion than the append prefix).
    Append-mode watermark emission/drop semantics are covered separately by
    test_watermark_drops_late_rows."""
    # stage the parquet into a stream-source dir
    import glob
    import shutil as sh

    src = glob.glob(f"{sf_dir}/events.parquet")[0]
    sh.copy(src, f"{tmpdir}/events.parquet")

    stream = st.events_file_stream(spark, tmpdir)
    counts = st.windowed_counts_stream(stream, watermark="10 minutes")
    got = _run_stream_to_memory(spark, counts, "stream_counts", mode="complete")

    batch = REFQ["window_tumbling_counts"](spark, sf_dir)
    g = {
        (r.window_start.strftime("%Y-%m-%d %H:%M:%S.%f"), r.event_type): r.cnt
        for r in got.collect()
    }
    b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
    assert g == b


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmpdir):
    """The watermarked stream-stream attribution join, drained over the
    full replay, must produce exactly the batch interval-join result."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.events_file_stream(spark, tmpdir)
    got = _run_stream_to_memory(
        spark, st.attribution_join_stream(stream), "stream_ssjoin"
    ).collect()

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = (
        clicks.join(
            purchases,
            F.expr(
                "c_user = p_user AND click_ts <= purchase_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
            ),
        )
        .select("click_id", "purchase_id")
        .collect()
    )
    assert len(batch) > 0
    assert {(r.click_id, r.purchase_id) for r in got} == {
        (r.click_id, r.purchase_id) for r in batch
    }


def test_stream_stream_left_outer_join_matches_batch_matches(spark, sf_dir, tmpdir):
    """LEFT OUTER stream-stream interval join: matched rows emit on match
    (same as inner); null-padded unmatched clicks emit only once the
    watermark proves no purchase can still arrive. Multi-file replay
    advances the watermark between micro-batches, so early unmatched
    clicks DO flush; the drained output's matched set must equal batch,
    emitted null rows must be truly unmatched, and no click may appear
    both matched and null-padded."""
    import glob
    import shutil as sh

    import pyarrow.parquet as pq

    # split events into 4 files so the watermark advances across batches
    tbl = pq.read_table(glob.glob(f"{sf_dir}/events.parquet")[0])
    n = tbl.num_rows
    idx = tbl["ts"].to_pandas().sort_values().index
    for i in range(4):
        pq.write_table(tbl.take(sorted(idx[i * n // 4 : (i + 1) * n // 4])),
                       f"{tmpdir}/part{i}.parquet")

    stream = st.events_file_stream(spark, tmpdir)
    # the join itself is the registered pipeline stage (one source of
    # truth — this test used to inline a copy of it)
    joined = st.attribution_join_stream_outer(stream).select(
        "click_id", "purchase_id"
    )
    got = _run_stream_to_memory(spark, joined, "stream_ssjoin_outer").collect()

    ev = load_events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch_matched = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            F.expr(
                "c_user = p_user AND click_ts <= purchase_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
            ),
        ).collect()
    }
    got_matched = {(r.click_id, r.purchase_id) for r in got if r.purchase_id is not None}
    got_null = {r.click_id for r in got if r.purchase_id is None}
    assert got_matched == batch_matched
    matched_clicks = {cid for cid, _ in batch_matched}
    assert not (got_null & matched_clicks), "null-padded click also matched"
    # most clicks are unmatched on this fixture; the watermark must have
    # flushed the bulk of them (only the trailing horizon may be held)
    n_clicks = c.count()
    assert len(got_null) >= (n_clicks - len(matched_clicks)) * 0.8


def test_stream_static_enrichment_join(spark, sf_dir, tmpdir):
    """Stream-static join: the unbounded event stream enriched against a
    static (batch) dimension — no watermark needed on the static side;
    Spark re-plans the static relation per micro-batch. The drained
    stream must equal the batch join."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    ev_batch = load_events(spark, sf_dir)
    dim = (
        ev_batch.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    stream = st.events_file_stream(spark, tmpdir)
    got = _run_stream_to_memory(
        spark,
        stream.join(dim, "user_id").select("event_id", "tier"),
        "stream_static_join",
    ).collect()
    batch = ev_batch.join(dim, "user_id").select("event_id", "tier").collect()
    assert {(r.event_id, r.tier) for r in got} == {
        (r.event_id, r.tier) for r in batch
    }
    assert len(got) == ev_batch.count()  # dim covers every user: no drops


def test_stream_decrypt_matches_batch(spark, sf_dir, tmpdir):
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.decrypted_stream(st.events_file_stream(spark, tmpdir), tamper=True)
    got = _run_stream_to_memory(
        spark, stream.select("event_id", "props_decrypted"), "stream_decrypt"
    )
    rows = got.collect()
    n = load_events(spark, sf_dir).count()
    assert len(rows) == n // 2  # tampered odd ids dropped in-flight
    assert all(r.event_id % 2 == 0 for r in rows)


def test_watermark_drops_late_rows(spark, tmpdir):
    """Two micro-batches: batch 2 carries an event 2 hours older than the
    advanced watermark -> its window is already closed and the row is
    dropped from the append-mode output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(batch_id, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),  # ns
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(['{"k": 1}'] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{tmpdir}/b{batch_id}.parquet")

    H = 3_600_000_000_000  # 1h in ns
    base = 1_700_000_000_000_000_000
    write(0, [(0, base + 0 * H), (1, base + 4 * H)])  # watermark -> 4h - 10m
    # late event in hour-0 window: watermark (3h50m) >> window end (1h) -> drop
    write(1, [(2, base + 1), (3, base + 5 * H)])

    stream = st.events_file_stream(spark, tmpdir, max_files_per_trigger=1)
    counts = st.windowed_counts_stream(stream, watermark="10 minutes")
    got = _run_stream_to_memory(spark, counts, "late_counts")
    total = got.agg(F.sum("cnt")).collect()[0][0]
    assert total == 3, "late row must be dropped, open windows not emitted"


def test_stateful_dedup_within_watermark(spark, tmpdir):
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000_000_000_000
    tbl = pa.table(
        {
            "event_id": pa.array([1, 1, 2, 2, 3], pa.int64()),
            "ts": pa.array([base, base + 1000, base, base + 5000, base], pa.int64()),
            "user_id": pa.array([1] * 5, pa.int64()),
            "event_type": pa.array(["click"] * 5),
            "value": pa.array([1.0] * 5),
            "props": pa.array(['{"k": 1}'] * 5),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/dups.parquet")
    stream = st.stateful_dedup_stream(st.events_file_stream(spark, tmpdir))
    got = _run_stream_to_memory(spark, stream.select("event_id"), "dedup_stream")
    assert sorted(r.event_id for r in got.collect()) == [1, 2, 3]


def test_parquet_sink_checkpointed(spark, sf_dir, tmpdir):
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    out, ckpt = f"{tmpdir}/out", f"{tmpdir}/ckpt"
    stream = st.decrypted_stream(st.events_file_stream(spark, tmpdir))
    q = (
        st.write_parquet_sink(
            stream.select("event_id", "props_decrypted"), out, ckpt
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = load_events(spark, sf_dir).count()
    assert spark.read.parquet(out).count() == n
    import os

    assert os.path.isdir(ckpt), "checkpoint log must exist (exactly-once)"


def test_text_sink_writes_decrypted_lines(spark, sf_dir, tmpdir):
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    out, ckpt = f"{tmpdir}/txt", f"{tmpdir}/txt_ckpt"
    stream = st.decrypted_stream(st.events_file_stream(spark, tmpdir))
    q = (
        st.write_text_sink(stream, out, ckpt, col="props_decrypted")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    lines = spark.read.text(out)
    assert lines.count() == load_events(spark, sf_dir).count()
    assert lines.filter(F.col("value").startswith('{"k":')).count() == lines.count()


def test_sliding_stream_equals_batch(spark, sf_dir, tmpdir):
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.sliding_counts_stream(st.events_file_stream(spark, tmpdir))
    got = _run_stream_to_memory(spark, stream, "sliding_counts", mode="complete")
    batch = REFQ["window_sliding_counts"](spark, sf_dir)
    g = {
        (r.window_start.strftime("%Y-%m-%d %H:%M:%S.%f"), r.event_type): r.cnt
        for r in got.collect()
    }
    b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
    # complete-mode drain (see test_stream_windowed_counts_equal_batch):
    # every pane, including the trailing open ones, must equal batch.
    assert g == b


def test_session_window_stream_prefix_of_batch(spark, sf_dir, tmpdir):
    """session_window under a watermark in streaming mode: the drained
    stream's sessions must equal the batch gaps-and-islands result.
    Complete-mode drain (see test_stream_windowed_counts_equal_batch) —
    session merging across micro-batches still exercises the streaming
    session-state machinery, and the final table must match batch EXACTLY."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.events_file_stream(spark, tmpdir)
    sess = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    got = _run_stream_to_memory(spark, sess, "stream_sessions", mode="complete")
    batch = REFQ["window_session_stats"](spark, sf_dir)
    g = {
        (r.user_id, r.session_start.strftime("%Y-%m-%d %H:%M:%S.%f")): r.n_events
        for r in got.collect()
    }
    b = {(r.user_id, r.session_start): r.n_events for r in batch.collect()}
    assert g == b


def test_rate_source_through_decrypt_pipeline(spark):
    """Unbounded non-file source: the rate source synthesizes messages on
    the fly; the same envelope+decrypt transformations apply unchanged —
    source-agnostic pipeline, the Structured Streaming design point."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()  # (timestamp, value)
    )
    events = rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 7).alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.concat(F.lit('{"k": '), (F.col("value") % 100), F.lit("}")).alias("props"),
    )
    dec = st.decrypted_stream(events)
    q = (
        dec.select("event_id", "props_decrypted")
        .writeStream.format("memory")
        .queryName("rate_decrypt")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.table("rate_decrypt").count()
            if n >= 100:
                break
            time.sleep(1)
        assert n >= 100, f"only {n} rows decrypted from rate source"
        sample = spark.table("rate_decrypt").limit(5).collect()
        assert all(r.props_decrypted.startswith('{"k": ') for r in sample)
    finally:
        q.stop()


def test_foreach_batch_sink_custom_logic(spark, sf_dir, tmpdir):
    """R9 variant: foreachBatch — arbitrary batch-DataFrame logic per
    micro-batch (the escape hatch for sinks Spark lacks, e.g. upserts).
    Here each batch appends its per-type counts with the batch id."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    out = f"{tmpdir}/batch_counts"

    def sink(batch_df, batch_id):
        (
            batch_df.groupBy("event_type")
            .count()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(out)
        )

    stream = st.events_file_stream(spark, tmpdir)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmpdir}/fb_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    total = got.agg(F.sum("count")).collect()[0][0]
    from dataflow_pubsub_message_encryption_spark.sources import load_events as le

    assert total == le(spark, sf_dir).count()


def test_checkpoint_resume_is_exactly_once(spark, sf_dir, tmpdir):
    """Stop-and-resume against the same checkpoint must process new files
    only — every event reaches the sink exactly once across restarts."""
    import glob
    import shutil as sh

    src, out, ckpt = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ckpt"
    import os

    os.makedirs(src)
    events_file = glob.glob(f"{sf_dir}/events.parquet")[0]
    sh.copy(events_file, f"{src}/batch1.parquet")

    def run_once():
        stream = st.events_file_stream(spark, src)
        q = (
            st.write_parquet_sink(stream.select("event_id"), out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    # second batch arrives (same rows, different file name), query restarts
    sh.copy(events_file, f"{src}/batch2.parquet")
    run_once()
    got = spark.read.parquet(out)
    n_events = load_events(spark, sf_dir).count()
    assert n1 == n_events
    assert got.count() == 2 * n_events  # batch1 NOT reprocessed on resume
    # each event id appears exactly twice (once per source file), never more
    over = got.groupBy("event_id").count().filter("count != 2").count()
    assert over == 0


def test_observe_metrics_on_decrypt_stream(spark, sf_dir, tmpdir):
    """The observe() API: in-flight metrics (rows, MAC failures survive as
    row-count delta) without a second pass over the stream."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.decrypted_stream(
        st.events_file_stream(spark, tmpdir), tamper=True
    ).observe("decrypt_metrics", F.count(F.lit(1)).alias("rows_out"))
    captured = {}

    from pyspark.sql.streaming import StreamingQueryListener

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            om = e.progress.observedMetrics
            if "decrypt_metrics" in om:
                captured["rows_out"] = captured.get("rows_out", 0) + om[
                    "decrypt_metrics"
                ]["rows_out"]

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    listener = L()
    spark.streams.addListener(listener)
    try:
        q = (
            stream.writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmpdir}/obs_ckpt")
            .start()
        )
        q.awaitTermination(120)
        import time

        time.sleep(2)  # listener delivery is async
        n = load_events(spark, sf_dir).count()
        assert captured.get("rows_out") == n // 2  # tampered half dropped
    finally:
        spark.streams.removeListener(listener)


def test_rocksdb_state_store_provider(spark, sf_dir, tmpdir):
    """The claimed 100 TB state backend: the same windowed aggregation
    runs on the RocksDB state store provider (off-heap state, the large-
    key-space configuration) and produces identical results."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = st.events_file_stream(spark, tmpdir)
        counts = st.windowed_counts_stream(stream, watermark="10 minutes")
        got = _run_stream_to_memory(spark, counts, "rocksdb_counts", mode="complete")
        batch = REFQ["window_tumbling_counts"](spark, sf_dir)
        g = {
            (r.window_start.strftime("%Y-%m-%d %H:%M:%S.%f"), r.event_type): r.cnt
            for r in got.collect()
        }
        b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
        assert g == b and len(g) > 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --- Kafka-wire topic: publisher + streaming consumer -----------------------


def test_wire_topic_publish_and_stream_decrypt(spark, sf_dir, tmpdir):
    """Publisher/pipeline split over the Kafka wire layout: publish an
    encrypted topic (value BINARY + headers, tampered), consume it as an
    unbounded stream, decrypt + verify in flight; the decrypted stream must
    equal the batch decode of the same topic, and survivors are exactly
    the untampered (even event_id) messages."""
    from dataflow_pubsub_message_encryption_spark.sources import wire

    n = wire.publish_topic(spark, sf_dir, tmpdir, tamper=True, n_files=4)
    assert n == load_events(spark, sf_dir).count()

    stream = wire.read_topic_stream(spark, tmpdir, max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, wire.decode_wire(stream), "wire_decrypted"
    ).select("event_id", "props_decrypted")

    batch = wire.decode_wire(wire.read_topic_batch(spark, tmpdir)).select(
        "event_id", "props_decrypted"
    )
    g = {(r.event_id, r.props_decrypted) for r in got.collect()}
    b = {(r.event_id, r.props_decrypted) for r in batch.collect()}
    assert g == b and len(g) == n // 2
    assert all(eid % 2 == 0 for eid, _ in g)


def test_wire_topic_windowed_counts_stream_equals_batch(spark, sf_dir, tmpdir):
    """Full reference pipeline over the wire: encrypted topic -> streaming
    decrypt -> watermarked tumbling counts == the same aggregation computed
    in batch over the same topic."""
    from dataflow_pubsub_message_encryption_spark.sources import wire

    wire.publish_topic(spark, sf_dir, tmpdir, n_files=4)

    stream = wire.decode_wire(wire.read_topic_stream(spark, tmpdir))
    counts = st.windowed_counts_stream(stream, watermark="10 minutes")
    got = _run_stream_to_memory(spark, counts, "wire_counts")

    batch = (
        wire.decode_wire(wire.read_topic_batch(spark, tmpdir))
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "event_type", "cnt")
    )
    g = {(r.window_start, r.event_type): r.cnt for r in got.collect()}
    b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
    # append mode withholds windows the watermark never closed
    assert g and all(b[k] == v for k, v in g.items())


def test_wire_topic_hmac_mode(spark, sf_dir, tmpdir):
    """Wire topic signed with true HMAC-SHA256 decrypts + verifies."""
    from dataflow_pubsub_message_encryption_spark.sources import wire

    n = wire.publish_topic(
        spark, sf_dir, tmpdir, tamper=True, mac_mode="hmac", n_files=2
    )
    out = wire.decode_wire(
        wire.read_topic_batch(spark, tmpdir), mac_mode="hmac"
    )
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == n // 2 and all(i % 2 == 0 for i in ids)


def test_wire_schema_matches_kafka_source_contract(spark, sf_dir, tmpdir):
    """The published topic's schema is byte-for-byte Spark's Kafka source
    schema — the documented drop-in seam."""
    from dataflow_pubsub_message_encryption_spark.sources import wire

    wire.publish_topic(spark, sf_dir, tmpdir, n_files=2)
    got = spark.read.parquet(tmpdir).schema.simpleString()
    want = (
        "struct<key:binary,value:binary,topic:string,partition:int,"
        "offset:bigint,timestamp:timestamp,timestampType:int,"
        "headers:array<struct<key:string,value:binary>>>"
    )
    assert got == want


def test_wire_topic_redelivery_and_restart_is_effectively_once(
    spark, sf_dir, tmpdir
):
    """At-least-once -> effectively-once over the wire path: after a first
    drain, two already-delivered segments arrive again under new names
    (later mtimes, as a redelivering subscription would hand them over)
    and the consumer restarts on the same checkpoint. The watermarked
    dedup, its watermark and state restored from the checkpoint, must
    leave every verified message in the sink exactly once: the batch
    decode's distinct ids, the n/2 untampered messages."""
    import glob
    import os
    import shutil as sh

    import pandas as pd
    import pyarrow.parquet as pq

    from dataflow_pubsub_message_encryption_spark.sources import wire

    topic, out, ckpt = (os.path.join(tmpdir, d) for d in ("topic", "out", "ckpt"))
    n = wire.publish_topic(spark, sf_dir, topic, tamper=True, n_files=4)
    want = {
        r.event_id
        for r in wire.decode_wire(wire.read_topic_batch(spark, topic))
        .select("event_id")
        .collect()
    }
    assert len(want) == n // 2

    def drain() -> int:
        stream = st.stateful_dedup_stream(
            wire.decode_wire(wire.read_topic_stream(spark, topic)),
            watermark="10 days",
        )
        q = (
            st.write_parquet_sink(stream.select("event_id", "ts"), out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream still active after 300s"
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert drain() == n

    segs = sorted(glob.glob(f"{topic}/part-*.parquet"), key=os.path.getmtime)
    ts = [
        pq.read_table(s, columns=["timestamp"])["timestamp"].to_pandas()
        for s in segs
    ]
    horizon = max(t.max() for t in ts) - pd.Timedelta(days=10)
    # the first segment lies wholly behind the restored watermark (its
    # redelivery is dropped as late), the last wholly ahead of it (its
    # redelivery must be caught by the restored dedup state)
    assert ts[0].max() < horizon <= ts[-1].min()
    stamp = int(os.path.getmtime(segs[-1]))
    for i, seg in enumerate((segs[0], segs[-1]), start=1):
        copy = f"{topic}/redelivered-{i}.parquet"
        sh.copy(seg, copy)
        os.utime(copy, (stamp + i, stamp + i))

    assert drain() == len(ts[0]) + len(ts[-1])
    ids = [r.event_id for r in spark.read.parquet(out).select("event_id").collect()]
    assert len(ids) == len(set(ids)), "a redelivered message reached the sink twice"
    assert set(ids) == want


def test_session_window_stream_equals_batch_sessions(spark, sf_dir, tmpdir):
    """The streaming session_window aggregation, drained in complete mode
    over the full replay, must produce exactly the batch
    sessionize_gap_sql session set (same user, start, event count)."""
    import glob
    import shutil as sh

    from dataflow_pubsub_message_encryption_spark.operators.behavior import (
        QUERIES as BQ,
    )

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.session_counts_stream(st.events_file_stream(spark, tmpdir))
    got = _run_stream_to_memory(spark, stream, "session_stream", mode="complete")
    g = {
        (r.user_id, r.session_start.strftime("%Y-%m-%d %H:%M:%S.%f")): r.n_events
        for r in got.collect()
    }
    b = {
        (r.user_id, r.session_start): r.n_events
        for r in BQ["sessionize_gap_sql"](spark, sf_dir).collect()
    }
    assert g == b


def test_watermark_progress_metrics_reported(spark, tmpdir):
    """Operational observability: StreamingQueryProgress must expose the
    signals an SRE alerts on — the event-time watermark advancing
    monotonically past the stream's frontier, and state eviction
    (numRowsRemoved) once windows close. (Probed 4.1.2:
    numRowsDroppedByWatermark stays 0 for this aggregation shape — the
    late row is filtered plan-side before the state operator; the DROP
    itself is asserted by row content in test_watermark_drops_late_rows,
    this test pins the metrics surface.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(batch_id, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(['{"k": 1}'] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{tmpdir}/b{batch_id}.parquet")

    H = 3_600_000_000_000
    base = 1_700_000_000_000_000_000
    write(0, [(0, base), (1, base + 4 * H)])
    write(1, [(2, base + 1), (3, base + 5 * H)])  # event 2 is hours late

    stream = st.windowed_counts_stream(
        st.events_file_stream(spark, tmpdir, max_files_per_trigger=1),
        watermark="10 minutes",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    marks = [
        p["eventTime"]["watermark"]
        for p in q.recentProgress
        if p.get("eventTime", {}).get("watermark")
    ]
    assert marks == sorted(marks), "watermark must be monotone"
    assert marks and marks[-1] >= "2023-11-14T14", (
        f"watermark must pass the 4h frontier minus delay: {marks}"
    )
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed >= 1, "closed windows must be evicted from state"


def test_observe_metrics_on_decrypt_pipeline(spark, sf_dir, tmpdir):
    """Dataset.observe: in-flight accumulator metrics (rows seen, MAC
    failures surface as seen-minus-emitted) collected DURING the pass —
    no second scan. The observability primitive a production pipeline
    attaches to the decrypt stage."""
    import glob
    import shutil as sh

    from pyspark.sql import Observation

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    ev = load_events(spark, tmpdir)
    from dataflow_pubsub_message_encryption_spark.sources import with_envelope
    from dataflow_pubsub_message_encryption_spark.functions import crypto

    env = with_envelope(ev, tamper=True)
    obs = Observation("wire")
    observed = env.observe(obs, F.count(F.lit(1)).alias("n_wire"))
    out = crypto.decrypt_verify(observed)
    n_out = out.count()
    n_wire = obs.get["n_wire"]
    n_total = ev.count()
    assert n_wire == n_total, "observe must count every wire row in-flight"
    # tamper=True corrupts odd event_ids: survivors are exactly the evens
    assert n_out == n_total - ev.filter(F.col("event_id") % 2 == 1).count()


