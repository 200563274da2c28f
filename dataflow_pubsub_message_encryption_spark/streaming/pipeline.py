"""Structured Streaming mirror of the reference pipeline (SURVEY §2.1
R1/R8–R11 streaming build items).

The reference [U/H] is an *unbounded* Beam pipeline: ReadFromPubSub ->
DecryptDoFn -> FixedWindows+Count -> sink, with the runner's watermark
handling late data and Pub/Sub's at-least-once delivery handled by
consumer-side dedup. Structured Streaming's unified model means every
transformation here is THE SAME code the batch operators use
(``with_envelope`` / ``decrypt_verify`` / windowed groupBy) applied to a
``readStream`` DataFrame — one definition, two execution modes, which is
the design point (Structured Streaming, SIGMOD 2018).

Source stand-ins (no Pub/Sub in this environment): a file-stream over the
events parquet replays the topic deterministically. Tests assert
stream≡batch on the windowed counts (prefix-consistency) and that the
watermark drops late rows.

Scale notes: stateful ops (windowed counts, dropDuplicatesWithinWatermark)
keep per-key state in the state store — bound it with watermarks (done
here); for 100 TB/day streams configure the RocksDB state store provider
(spark.sql.streaming.stateStore.providerClass) so state spills off-heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import crypto
from ..sources.fixtures import _NS_TO_TS, with_envelope

EVENTS_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _ts_divisor_from_footer(sf_dir: str) -> int:
    """Driver-side, one-footer peek: decide how the streaming scan's BIGINT
    ``ts`` column maps to micros-since-epoch by reading the parquet LOGICAL
    TYPE — never by value magnitude (a magnitude heuristic silently
    misreads nanosecond stamps between 1970 and ~1973-03, and any
    small-magnitude pre-epoch nanos, as micros).

    Probed on Spark 4.1.2: a parquet TIMESTAMP(NANOS/MICROS) column read
    through an explicit BIGINT schema is coerced to MICROS-since-epoch
    (divisor 1); a plain INT64 physical column passes through raw, and the
    fixture convention for raw INT64 event stamps is NANOS (divisor 1000).
    TIMESTAMP(MILLIS) is unprobed and refused rather than guessed."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{sf_dir}/*.parquet")) or sorted(
        glob.glob(f"{sf_dir}/**/*.parquet", recursive=True)
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {sf_dir}")
    t = pq.read_schema(files[0]).field("ts").type
    if pa.types.is_timestamp(t):
        if t.unit in ("ns", "us"):
            return 1
        raise ValueError(
            f"unsupported parquet timestamp unit {t.unit!r} for ts; "
            "probed coercion rules cover only ns/us"
        )
    if pa.types.is_integer(t):
        return 1000
    raise ValueError(f"unsupported parquet type {t!r} for ts")


def events_file_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """R1 streaming — file-stream replay of the events topic. The explicit
    schema keeps the ns-timestamp column readable (as raw nanos) without
    inference; ``maxFilesPerTrigger`` paces micro-batches."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(f"{sf_dir}")
    )
    # watermarks require TIMESTAMP (with local tz), not NTZ — the batch side
    # uses NTZ for oracle portability, streaming uses the instant type.
    # The micros divisor comes from the parquet footer's logical type (see
    # _ts_divisor_from_footer), fixed at stream-definition time — every file
    # of one topic replay shares one writer schema.
    div = _ts_divisor_from_footer(sf_dir)
    return raw.withColumn("ts", F.expr(f"timestamp_micros(ts div {div})"))


def decrypted_stream(events: DataFrame, tamper: bool = False) -> DataFrame:
    """R5–R7 streaming — the DecryptDoFn equivalent on an unbounded
    DataFrame: envelope synthesis + cached unwrap + AES decrypt + MAC
    verify-and-drop. Identical code path to batch (crypto.decrypt_verify);
    the DEK cache lives in each executor's Python worker exactly like the
    reference's per-worker cache."""
    return crypto.decrypt_verify(with_envelope(events, tamper=tamper))


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
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


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
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


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
