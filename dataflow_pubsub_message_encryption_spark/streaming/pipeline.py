"""Structured Streaming mirror of the reference pipeline (SURVEY §2.1
R1/R8–R11 streaming build items).

The reference [U/H] is an *unbounded* Beam pipeline: ReadFromPubSub ->
DecryptDoFn -> FixedWindows+Count -> sink, with the runner's watermark
handling late data and Pub/Sub's at-least-once delivery handled by
consumer-side dedup. Structured Streaming's unified model means every
transformation here is THE SAME code the batch operators use (windowed
groupBy, session windows, interval joins) applied to a ``readStream``
DataFrame — one definition, two execution modes, which is the design
point (Structured Streaming, SIGMOD 2018).

Source (no Pub/Sub in this environment): the encrypted Kafka-wire topic,
``sources.wire.read_topic_stream`` -> ``decode_wire``, which yields
``event_id``, ``ts``, ``user_id``, ``event_type`` and the decrypted,
MAC-verified payload. The operators below take that frame. Tests assert
stream≡batch on the windowed counts, sessions and joins, and that the
watermark drops late rows.

Scale notes: stateful ops (windowed counts, dropDuplicatesWithinWatermark)
keep per-key state in the state store — bound it with watermarks (done
here); for 100 TB/day streams configure the RocksDB state store provider
(spark.sql.streaming.stateStore.providerClass) so state spills off-heap.
Checkpoint logs and state files go through Hadoop's FileSystem API
(session.RUNTIME_CONFS): without libhadoop Spark's default FileContext
manager forks four ``readlink`` processes per local rename; an object-store
checkpoint needs the manager its store requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts_stream(
    events: DataFrame, watermark: str = "10 minutes", window: str = "1 hour"
) -> DataFrame:
    """R8+R10 streaming — watermarked tumbling counts. Append mode emits a
    window only once the watermark passes its end; late rows beyond the
    delay are dropped (the reference's allowed-lateness discard policy)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "cnt",
        )
    )


def sliding_counts_stream(
    events: DataFrame,
    watermark: str = "10 minutes",
    window: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Sliding-window variant (each event lands in window/slide panes)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "event_type", "cnt")
    )


def session_counts_stream(
    events: DataFrame, watermark: str = "10 minutes", gap: str = "30 minutes"
) -> DataFrame:
    """Session-window sessionization on the unbounded stream — the
    streaming twin of the batch ``sessionize_gap_sql`` lag-then-cumsum
    (same 30-minute inactivity gap). ``session_window`` keeps per-key
    open-session state that the watermark closes and evicts; the drained
    replay must produce the batch session set exactly
    (tests/test_streaming.py asserts it). State ∝ open sessions per user,
    bounded by the watermark — the mergeable-session shape Beam expresses
    with Sessions windows [U/M]."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def stateful_dedup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """R11 streaming — at-least-once -> effectively-once by consumer-side
    dedup on the message id, with state bounded by the watermark (the
    batch twin is the deterministic ``dedup_exact`` operator)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _interval_join(
    events: DataFrame, watermark: str, horizon_minutes: int, how: str
) -> DataFrame:
    """Each ``click`` joined to the same user's ``purchase`` events within
    ``horizon_minutes`` after it, both sides watermarked."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user
            AND click_ts <= purchase_ts
            AND purchase_ts <= click_ts + INTERVAL {horizon_minutes} MINUTES
            """
        ),
        how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


def attribution_join_stream(
    events: DataFrame,
    watermark: str = "10 minutes",
    horizon_minutes: int = 30,
) -> DataFrame:
    """Stream-stream interval join: attribute each ``purchase`` to the same
    user's ``click`` events in the preceding ``horizon_minutes`` — the
    canonical funnel-attribution shape. Both sides carry watermarks and
    the join predicate bounds event-time distance; together they give the
    engine a provable state-expiry horizon (a click older than
    watermark + horizon can never match again and its state is evicted).
    This is the stream-processor capability Beam expresses with
    CoGroupByKey over windowed PCollections [U/M]; here it is one
    declarative join. At scale state is partitioned by the equi-key
    (user_id) and bounded by the horizon — state size ∝ click rate ×
    horizon, independent of stream length."""
    return _interval_join(events, watermark, horizon_minutes, "inner")


def attribution_join_stream_outer(
    events: DataFrame,
    watermark: str = "10 minutes",
    horizon_minutes: int = 30,
) -> DataFrame:
    """LEFT OUTER stream-stream interval join (VERDICT r8 item 3) — the
    attribution join's other half: every click is emitted, with NULL
    purchase columns for clicks that never converted inside the horizon.
    The never-matched rows are what a funnel/attrition report actually
    consumes, and they can only be emitted once the engine PROVES no
    match can still arrive: a click row is held in state until the
    purchase-side watermark passes click_ts + horizon, then released
    with NULLs — so the outer join's completeness guarantee is exactly
    the state-expiry horizon the inner join uses for eviction. Spark
    requires the watermark + interval condition for outer interval
    joins for precisely this reason (an unbounded outer side could
    never emit).

    Stream≡batch (tests/test_streaming.py): the drained replay equals
    the batch left join with the same predicate — matched rows
    identical to the inner twin, unmatched rows = the batch anti-join's
    click set. At scale: state ∝ click rate × horizon per user_id
    partition, same as the inner form; the NULL-emission adds no state,
    only a deferred flush at watermark advance."""
    return _interval_join(events, watermark, horizon_minutes, "left_outer")


def write_parquet_sink(
    df: DataFrame, out_dir: str, checkpoint_dir: str, mode: str = "append"
):
    """R9 streaming — durable sink with exactly-once via the checkpoint
    log (offsets + commits journaled; the Beam/Dataflow equivalent is the
    runner's own checkpointing)."""
    return (
        df.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )


def write_text_sink(df: DataFrame, out_dir: str, checkpoint_dir: str, col: str):
    """TextIO-style sink [U/M: the reference logs / writes decrypted
    payloads as text]: one line per record, streaming, checkpointed."""
    return (
        df.select(F.col(col).cast("string").alias("value"))
        .writeStream.format("text")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
