"""Streaming mirror tests (SURVEY §5.4): batch ≡ stream on the windowed
counts (prefix consistency), watermark late-data handling, stateful dedup,
and the exactly-once parquet sink. Every encrypted stream is the wire
topic: ``read_topic_stream`` -> ``decode_wire``."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dataflow_pubsub_message_encryption_spark import streaming as st
from dataflow_pubsub_message_encryption_spark.operators.ref_pipeline import (
    QUERIES as REFQ,
)
from dataflow_pubsub_message_encryption_spark.session import configure
from dataflow_pubsub_message_encryption_spark.sources import load_events, wire


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sparkgraft-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _topic(spark, sf_dir, tamper):
    d = tempfile.mkdtemp(prefix="sparkgraft-topic-")
    n = wire.publish_topic(spark, sf_dir, d, tamper=tamper, n_files=4)
    return d, n


@pytest.fixture(scope="module")
def clean_topic(spark, sf_dir):
    """The events table published once as an untampered 4-segment topic
    (time-range segments, so the replay advances the watermark in
    order); tests only read it."""
    d, _ = _topic(spark, sf_dir, tamper=False)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def tampered_topic(spark, sf_dir):
    """The same 4-segment topic with every odd event_id's MAC corrupted;
    yields (topic dir, messages published)."""
    d, n = _topic(spark, sf_dir, tamper=True)
    yield d, n
    shutil.rmtree(d, ignore_errors=True)


def _decoded(spark, topic):
    return wire.decode_wire(wire.read_topic_stream(spark, topic))


#: hand-built event files: ts as a UTC instant, read as Spark TIMESTAMP
_EVENTS_DDL = "event_id BIGINT, ts TIMESTAMP, event_type STRING"


def _write_events(path, rows):
    """(event_id, ts micros since epoch) rows as one click-event file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "event_type": pa.array(["click"] * len(rows)),
        }
    )
    pq.write_table(tbl, path)


def _events_stream(spark, src):
    return (
        spark.readStream.schema(_EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


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


def test_stream_windowed_counts_equal_batch(spark, sf_dir, clean_topic):
    """Replaying the encrypted topic through the streaming decode must
    yield the exact batch R8 result once the stream drains.

    Complete mode is the deterministic drain: availableNow never runs the
    no-data micro-batch that would flush watermark-closed windows in append
    mode (probed on 4.1.2 — append emits nothing for a fully-drained replay),
    while complete mode's final trigger holds the entire result table, which
    must equal batch EXACTLY (a stronger assertion than the append prefix).
    Append-mode watermark emission/drop semantics are covered separately by
    test_watermark_drops_late_rows."""
    stream = _decoded(spark, clean_topic)
    counts = st.windowed_counts_stream(stream, watermark="10 minutes")
    got = _run_stream_to_memory(spark, counts, "stream_counts", mode="complete")

    batch = REFQ["window_tumbling_counts"](spark, sf_dir)
    g = {
        (r.window_start.strftime("%Y-%m-%d %H:%M:%S.%f"), r.event_type): r.cnt
        for r in got.collect()
    }
    b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
    assert g == b


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, clean_topic):
    """The watermarked stream-stream attribution join, drained over the
    full replay, must produce exactly the batch interval-join result."""
    stream = _decoded(spark, clean_topic)
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


def test_stream_stream_left_outer_join_matches_batch_matches(
    spark, sf_dir, clean_topic
):
    """LEFT OUTER stream-stream interval join: matched rows emit on match
    (same as inner); null-padded unmatched clicks emit only once the
    watermark proves no purchase can still arrive. The topic's four
    time-range segments advance the watermark between micro-batches, so
    early unmatched clicks DO flush; the drained output's matched set must
    equal batch, emitted null rows must be truly unmatched, and no click
    may appear both matched and null-padded."""
    stream = _decoded(spark, clean_topic)
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


def test_stream_static_enrichment_join(spark, sf_dir, clean_topic):
    """Stream-static join: the unbounded event stream enriched against a
    static (batch) dimension — no watermark needed on the static side;
    Spark re-plans the static relation per micro-batch. The drained
    stream must equal the batch join."""
    ev_batch = load_events(spark, sf_dir)
    dim = (
        ev_batch.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    stream = _decoded(spark, clean_topic)
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


def test_watermark_drops_late_rows(spark, tmpdir):
    """Two micro-batches: batch 2 carries an event 2 hours older than the
    advanced watermark -> its window is already closed and the row is
    dropped from the append-mode output."""
    H = 3_600_000_000  # 1h in micros
    base = 1_700_000_000_000_000
    _write_events(f"{tmpdir}/b0.parquet", [(0, base + 0 * H), (1, base + 4 * H)])
    # watermark -> 4h - 10m; late event in hour-0 window: watermark (3h50m)
    # >> window end (1h) -> drop
    _write_events(f"{tmpdir}/b1.parquet", [(2, base + 1), (3, base + 5 * H)])

    counts = st.windowed_counts_stream(
        _events_stream(spark, tmpdir), watermark="10 minutes"
    )
    got = _run_stream_to_memory(spark, counts, "late_counts")
    total = got.agg(F.sum("cnt")).collect()[0][0]
    assert total == 3, "late row must be dropped, open windows not emitted"


def test_stateful_dedup_within_watermark(spark, tmpdir):
    base = 1_700_000_000_000_000
    _write_events(
        f"{tmpdir}/dups.parquet",
        [(1, base), (1, base + 1), (2, base), (2, base + 5), (3, base)],
    )
    stream = st.stateful_dedup_stream(_events_stream(spark, tmpdir))
    got = _run_stream_to_memory(spark, stream.select("event_id"), "dedup_stream")
    assert sorted(r.event_id for r in got.collect()) == [1, 2, 3]


def test_parquet_sink_checkpointed(spark, sf_dir, clean_topic, tmpdir):
    out, ckpt = f"{tmpdir}/out", f"{tmpdir}/ckpt"
    stream = _decoded(spark, clean_topic)
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
    assert os.path.isdir(ckpt), "checkpoint log must exist (exactly-once)"


def test_text_sink_writes_decrypted_lines(spark, sf_dir, clean_topic, tmpdir):
    out, ckpt = f"{tmpdir}/txt", f"{tmpdir}/txt_ckpt"
    stream = _decoded(spark, clean_topic)
    q = (
        st.write_text_sink(stream, out, ckpt, col="props_decrypted")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    lines = spark.read.text(out)
    assert lines.count() == load_events(spark, sf_dir).count()
    assert lines.filter(F.col("value").startswith('{"k":')).count() == lines.count()


def test_sliding_stream_equals_batch(spark, sf_dir, clean_topic):
    stream = st.sliding_counts_stream(_decoded(spark, clean_topic))
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


def test_rate_source_through_decrypt_pipeline(spark):
    """Unbounded non-file source: the rate source synthesizes messages on
    the fly; the same envelope+decrypt transformations apply unchanged —
    source-agnostic pipeline, the Structured Streaming design point."""
    from dataflow_pubsub_message_encryption_spark.functions import crypto
    from dataflow_pubsub_message_encryption_spark.sources import with_envelope

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
    dec = crypto.decrypt_verify(with_envelope(events))
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


def test_foreach_batch_sink_custom_logic(spark, sf_dir, clean_topic, tmpdir):
    """R9 variant: foreachBatch — arbitrary batch-DataFrame logic per
    micro-batch (the escape hatch for sinks Spark lacks, e.g. upserts).
    Here each batch appends its per-type counts with the batch id."""
    out = f"{tmpdir}/batch_counts"

    def sink(batch_df, batch_id):
        (
            batch_df.groupBy("event_type")
            .count()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(out)
        )

    stream = _decoded(spark, clean_topic)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmpdir}/fb_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    total = got.agg(F.sum("count")).collect()[0][0]
    assert total == load_events(spark, sf_dir).count()


def test_checkpoint_resume_is_exactly_once(spark, sf_dir, clean_topic, tmpdir):
    """Stop-and-resume against the same checkpoint must process new files
    only — every event reaches the sink exactly once across restarts."""
    import glob

    src, out, ckpt = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ckpt"
    os.makedirs(src)
    segments = glob.glob(f"{clean_topic}/part-*.parquet")

    def deliver(batch):
        for i, seg in enumerate(segments):
            shutil.copy(seg, f"{src}/{batch}-{i}.parquet")

    def run_once():
        stream = _decoded(spark, src)
        q = (
            st.write_parquet_sink(stream.select("event_id"), out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    deliver("batch1")
    run_once()
    n1 = spark.read.parquet(out).count()
    # second delivery arrives (same messages, new file names), query restarts
    deliver("batch2")
    run_once()
    got = spark.read.parquet(out)
    n_events = load_events(spark, sf_dir).count()
    assert n1 == n_events
    assert got.count() == 2 * n_events  # batch1 NOT reprocessed on resume
    # each event id appears exactly twice (once per delivery), never more
    over = got.groupBy("event_id").count().filter("count != 2").count()
    assert over == 0


def test_observe_metrics_on_decrypt_stream(spark, tampered_topic, tmpdir):
    """The observe() API: in-flight metrics (rows, MAC failures survive as
    row-count delta) without a second pass over the stream."""
    topic, n = tampered_topic
    stream = _decoded(spark, topic).observe(
        "decrypt_metrics", F.count(F.lit(1)).alias("rows_out")
    )
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
        assert captured.get("rows_out") == n // 2  # tampered half dropped
    finally:
        spark.streams.removeListener(listener)


def test_rocksdb_state_store_provider(spark, sf_dir, clean_topic):
    """The claimed 100 TB state backend: the same windowed aggregation
    runs on the RocksDB state store provider (off-heap state, the large-
    key-space configuration) and produces identical results."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = _decoded(spark, clean_topic)
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


def test_wire_topic_publish_and_stream_decrypt(spark, sf_dir, tampered_topic):
    """Publisher/pipeline split over the Kafka wire layout: publish an
    encrypted topic (value BINARY + headers, tampered), consume it as an
    unbounded stream, decrypt + verify in flight. The streaming decode
    (per-row cached unwrap) must equal the batch decode of the same topic
    (distinct-key broadcast unwrap), and survivors are exactly the
    untampered (even event_id) messages with their plaintext and user."""
    topic, n = tampered_topic
    events = load_events(spark, sf_dir)
    assert n == events.count()

    cols = ("event_id", "user_id", "props_decrypted")
    got = _run_stream_to_memory(
        spark, _decoded(spark, topic), "wire_decrypted"
    ).select(*cols)
    batch = wire.decode_wire(wire.read_topic_batch(spark, topic)).select(*cols)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) == n // 2
    assert all(eid % 2 == 0 for eid, _, _ in g)
    want = events.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "props"
    )
    assert g == {tuple(r) for r in want.collect()}


def test_wire_topic_windowed_counts_stream_equals_batch(spark, clean_topic):
    """Full reference pipeline over the wire: encrypted topic -> streaming
    decrypt -> watermarked tumbling counts == the same aggregation computed
    in batch over the same topic."""
    stream = _decoded(spark, clean_topic)
    counts = st.windowed_counts_stream(stream, watermark="10 minutes")
    got = _run_stream_to_memory(spark, counts, "wire_counts")

    batch = (
        wire.decode_wire(wire.read_topic_batch(spark, clean_topic))
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
    n = wire.publish_topic(
        spark, sf_dir, tmpdir, tamper=True, mac_mode="hmac", n_files=2
    )
    out = wire.decode_wire(
        wire.read_topic_batch(spark, tmpdir), mac_mode="hmac"
    )
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == n // 2 and all(i % 2 == 0 for i in ids)


def test_backlog_micro_batch_lists_files_on_the_driver(spark, clean_topic, tmpdir):
    """A micro-batch over 40 new segment files lists them on the driver:
    no "Listing leaf files" job (above 32 paths Spark's default lists them
    with a 100-task job), and the decode equals the batch decode."""
    import collections
    import glob

    for i, seg in enumerate(sorted(glob.glob(f"{clean_topic}/part-*.parquet")) * 10):
        shutil.copy(seg, f"{tmpdir}/seg-{i:02d}.parquet")
    assert len(os.listdir(tmpdir)) == 40
    store = spark.sparkContext._jsc.sc().statusStore()

    def jobs():  # job id -> "name | description" from the status store
        seq, out = store.jobsList(None), {}
        for i in range(seq.size()):
            j = seq.apply(i)
            desc = j.description().get() if j.description().isDefined() else ""
            out[j.jobId()] = f"{j.name()} | {desc}"
        return out

    before = set(jobs())
    cols = ("event_id", "user_id", "props_decrypted")
    stream = wire.decode_wire(
        wire.read_topic_stream(spark, tmpdir, max_files_per_trigger=40)
    )
    got = _run_stream_to_memory(spark, stream, "wire_backlog").select(*cols)
    new = {k: v for k, v in jobs().items() if k not in before}
    assert new, "the micro-batch ran no job"
    assert not [v for v in new.values() if "Listing leaf files" in v], new
    batch = wire.decode_wire(wire.read_topic_batch(spark, tmpdir)).select(*cols)
    g = collections.Counter(tuple(r) for r in got.collect())
    assert g == collections.Counter(tuple(r) for r in batch.collect())
    assert sum(g.values()) == 10 * spark.read.parquet(clean_topic).count()


def test_wire_schema_matches_kafka_source_contract(spark, clean_topic):
    """The published topic's schema is byte-for-byte Spark's Kafka source
    schema — the documented drop-in seam."""
    got = spark.read.parquet(clean_topic).schema.simpleString()
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


# --- checkpoint file manager ------------------------------------------------

_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark, path):
    """Simple name of the CheckpointFileManager Spark builds for ``path``
    from the session's Hadoop conf, the conf every checkpoint writer gets."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    mgr = checkpointing.CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(path), hconf)
    return mgr.getClass().getSimpleName()


def test_local_checkpoints_use_the_filesystem_manager(spark, tmpdir):
    """A local checkpoint is written through Hadoop's FileSystem API, both
    in the session ``get_session`` builds and once ``configure`` has set up
    a session where the key was unset (Spark's default is the FileContext
    manager, whose local rename forks ``readlink`` processes)."""
    assert _checkpoint_manager(spark, tmpdir) == "FileSystemBasedCheckpointFileManager"
    spark.conf.unset(_CKPT_MANAGER_KEY)
    try:
        assert _checkpoint_manager(spark, tmpdir) == "FileContextBasedCheckpointFileManager"
        configure(spark)
        assert _checkpoint_manager(spark, tmpdir) == "FileSystemBasedCheckpointFileManager"
    finally:
        configure(spark)


def test_filecontext_checkpoint_resumes_under_filesystem_manager(spark, sf_dir, tmpdir):
    """Upgrade path: a dedup -> parquet-sink query checkpointed by Spark's
    default FileContext manager restarts on the same checkpoint under the
    engine's FileSystem manager. New segments and a redelivered one arrive
    in between; the restored offsets, watermark and dedup state must leave
    every verified message in the sink exactly once, the batch decode's
    set."""
    import glob

    import pyarrow.parquet as pq

    topic, src, out, ckpt = (
        os.path.join(tmpdir, d) for d in ("topic", "src", "out", "ckpt")
    )
    n = wire.publish_topic(spark, sf_dir, topic, tamper=True, n_files=4)
    want = {
        r.event_id
        for r in wire.decode_wire(wire.read_topic_batch(spark, topic))
        .select("event_id")
        .collect()
    }
    assert len(want) == n // 2
    segs = sorted(glob.glob(f"{topic}/part-*.parquet"), key=os.path.getmtime)
    rows = [pq.ParquetFile(s).metadata.num_rows for s in segs]
    assert len(segs) == 4
    stamp = int(os.path.getmtime(segs[-1]))
    os.makedirs(src)

    def deliver(seg, name, i):  # mtime order is the source's batch order
        path = os.path.join(src, name)
        shutil.copy(seg, path)
        os.utime(path, (stamp + i, stamp + i))

    def drain() -> int:
        stream = st.stateful_dedup_stream(
            wire.decode_wire(wire.read_topic_stream(spark, src)), watermark="10 days"
        )
        q = (
            st.write_parquet_sink(stream.select("event_id"), out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream still active after 300s"
        return sum(p["numInputRows"] for p in q.recentProgress)

    deliver(segs[0], "seg-0.parquet", 1)
    deliver(segs[1], "seg-1.parquet", 2)
    spark.conf.set(
        _CKPT_MANAGER_KEY,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    )
    try:
        assert _checkpoint_manager(spark, ckpt) == "FileContextBasedCheckpointFileManager"
        assert drain() == rows[0] + rows[1]
    finally:
        configure(spark)
    assert _checkpoint_manager(spark, ckpt) == "FileSystemBasedCheckpointFileManager"

    # the redelivered segment is handed over first, so it meets the restored
    # watermark and dedup state; its newest rows lie ahead of that watermark
    deliver(segs[1], "redelivered-1.parquet", 3)
    deliver(segs[2], "seg-2.parquet", 4)
    deliver(segs[3], "seg-3.parquet", 5)
    # the first run's segments are not read again on resume
    assert drain() == rows[1] + rows[2] + rows[3]
    ids = [r.event_id for r in spark.read.parquet(out).select("event_id").collect()]
    assert len(ids) == len(set(ids)), "a message reached the sink twice"
    assert set(ids) == want


def test_session_window_stream_prefix_of_batch(spark, sf_dir, clean_topic):
    """session_window under a watermark in streaming mode: the drained
    stream's sessions must equal the batch session_window query
    (window_session_stats). Complete-mode drain (see
    test_stream_windowed_counts_equal_batch) — session merging across
    micro-batches still exercises the streaming session-state machinery,
    and the final table must match batch EXACTLY."""
    sess = (
        _decoded(spark, clean_topic)
        .withWatermark("ts", "10 minutes")
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


def test_session_window_stream_equals_batch_sessions(spark, sf_dir, clean_topic):
    """The streaming session_window aggregation, drained in complete mode
    over the full replay, must produce exactly the batch
    sessionize_gap_sql session set (same user, start, event count)."""
    from dataflow_pubsub_message_encryption_spark.operators.behavior import (
        QUERIES as BQ,
    )

    stream = st.session_counts_stream(_decoded(spark, clean_topic))
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
    H = 3_600_000_000
    base = 1_700_000_000_000_000
    _write_events(f"{tmpdir}/b0.parquet", [(0, base), (1, base + 4 * H)])
    # event 2 is hours late
    _write_events(f"{tmpdir}/b1.parquet", [(2, base + 1), (3, base + 5 * H)])

    stream = st.windowed_counts_stream(
        _events_stream(spark, tmpdir), watermark="10 minutes"
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


