"""Kafka/Pub-Sub wire-shaped topic: publisher + streaming consumer.

Reference parity [U/H, SURVEY §3]: the reference is TWO binaries — a
publisher that encrypts payloads and ships wrapped-DEK + MAC as message
*attributes*, and a Beam pipeline that consumes the subscription and
decrypts in flight. This module mirrors that split for Spark:

- :func:`publish_topic` is the publisher: it writes a parquet "topic"
  whose rows carry **exactly the schema of Spark's Kafka source**
  (``key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT,
  timestamp TIMESTAMP, timestampType INT,
  headers ARRAY<STRUCT<key STRING, value BINARY>>``), with the ciphertext
  in ``value`` and the wrapped DEK / MAC / payload metadata as Kafka-style
  headers. A pipeline written against this layout is a drop-in for
  ``spark.readStream.format("kafka")`` — swap the file source for the
  kafka source and nothing downstream changes (no real broker exists in
  this environment; SURVEY §7 scope ruling).
- :func:`read_topic_stream` consumes the topic as an unbounded file
  stream, one file (= "partition segment") per micro-batch.
- :func:`decode_wire` is the DecryptDoFn equivalent over the wire layout:
  headers -> attribute map -> DEK unwrap -> AES decrypt -> MAC
  verify-and-drop. Works identically on the batch and streaming frames,
  and is the engine's only encrypted stream source.

Scale notes: the publisher writes ``n_files`` segments so the stream
replays as real micro-batches and a batch consumer scans in parallel;
at 100 TB the same job shape is "encrypt + write partitioned by
(topic, partition)" and the consumer's decode is a narrow map — no
shuffle anywhere until the windowed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import crypto
from .fixtures import load_events, with_envelope

#: Spark Kafka-source schema (the wire contract this module emulates).
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP, timestampType INT, "
    "headers ARRAY<STRUCT<key: STRING, value: BINARY>>"
)


def _header(name: str, col) -> F.Column:
    return F.struct(F.lit(name).alias("key"), col.cast("binary").alias("value"))


def publish_topic(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    topic: str = "events.encrypted",
    tamper: bool = False,
    mac_mode: str = "sha2",
    n_files: int = 8,
) -> int:
    """Encrypt the events table and write it as a Kafka-wire parquet topic.

    Returns the number of messages published. ``partition`` is assigned by
    ``user_id % n_files`` (key-hash partitioning, like a keyed Kafka
    producer) and ``offset`` is the per-partition arrival rank — both
    computed shuffle-free relative to the envelope map (one window over the
    partition column, which the write would have clustered anyway).
    """
    env = with_envelope(load_events(spark, sf_dir), tamper=tamper, mac_mode=mac_mode)
    part = (F.col("user_id") % n_files).cast("int")
    from pyspark.sql import Window

    offset = (
        F.row_number().over(
            Window.partitionBy("partition").orderBy("ts", "event_id")
        )
        - 1
    ).cast("long")
    wire = (
        env.withColumn("partition", part)
        .withColumn("offset", offset)
        .select(
            F.col("user_id").cast("string").cast("binary").alias("key"),
            F.col("ciphertext").alias("value"),
            F.lit(topic).alias("topic"),
            "partition",
            "offset",
            F.col("ts").cast("timestamp").alias("timestamp"),
            F.lit(0).alias("timestampType"),  # CreateTime, as Kafka does
            F.array(
                _header("wrapped_dek", F.col("wrapped_dek")),
                _header("mac", F.col("mac")),
                _header("event_id", F.col("event_id").cast("string")),
                _header("event_type", F.col("event_type")),
            ).alias("headers"),
        )
    )
    # Segment files are TIME-RANGE slices (each holding every Kafka
    # partition's rows for its slice) — the layout a topic-to-archive dump
    # actually lands in, and the property that makes a multi-batch
    # file-stream replay watermark-sound: a live Kafka consumer advances
    # all partitions through time in lockstep, so event time never runs
    # BACKWARD across micro-batches. The previous layout (one file per
    # key-hash partition, each spanning the whole topic lifetime) had no
    # such guarantee: whichever files landed in the first micro-batch
    # advanced the watermark past the remaining files' rows, silently
    # dropping them as late — observed as a batching-timing-dependent
    # flake in the windowed-counts parity test.
    wire.repartitionByRange(n_files, "timestamp", "partition", "offset").write.mode(
        "overwrite"
    ).parquet(out_dir)
    # FileStreamSource batches files OLDEST-MODIFICATION-FIRST, and a
    # parallel write leaves all segments with effectively equal mtimes
    # (tie order arbitrary — probed: a later-range segment consumed first
    # drops every older row as late). Stamp mtimes in range order
    # (driver-side, parquet-footer min(timestamp) stat, metadata only) so
    # replay consumption order IS time order, deterministically.
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    files = _glob.glob(f"{out_dir}/part-*.parquet")

    def _min_ts(path: str):
        # read the one column rather than footer stats: nested columns
        # (headers) make leaf-column stat indexing fragile
        col = _pq.read_table(path, columns=["timestamp"])["timestamp"]
        return col.cast("int64").to_pandas().min() if len(col) else 0

    base = int(_os.stat(out_dir).st_mtime)
    for i, path in enumerate(sorted(files, key=_min_ts)):
        _os.utime(path, (base + i, base + i))
    return spark.read.parquet(out_dir).count()


def read_topic_stream(
    spark: SparkSession, topic_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Unbounded consumer over a published topic — one segment file per
    micro-batch. Drop-in seam for ``spark.readStream.format("kafka")``."""
    return (
        spark.readStream.schema(KAFKA_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(topic_dir)
    )


def read_topic_batch(spark: SparkSession, topic_dir: str) -> DataFrame:
    """Bounded scan of the same topic (stream/batch parity testing)."""
    return spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(topic_dir)


def decode_wire(wire: DataFrame, mac_mode: str = "sha2") -> DataFrame:
    """DecryptDoFn over the Kafka wire layout: headers array -> attribute
    map -> DEK unwrap -> AES decrypt -> MAC verify-and-drop. Returns
    ``event_id``, ``ts`` (the message timestamp), ``user_id`` (the message
    key), ``event_type``, the envelope columns ``ciphertext``,
    ``wrapped_dek`` and ``mac``, and ``props_decrypted``. Identical code on
    batch and streaming frames (unified model); ``decrypt_verify`` picks
    the unwrap shape for each."""
    attrs = F.map_from_entries(
        F.transform(
            "headers",
            lambda h: F.struct(
                h["key"].alias("key"), h["value"].cast("string").alias("value")
            ),
        )
    )
    unpacked = wire.select(
        F.element_at(attrs, "event_id").cast("long").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.col("key").cast("string").cast("long").alias("user_id"),
        F.element_at(attrs, "event_type").alias("event_type"),
        F.col("value").alias("ciphertext"),
        F.element_at(attrs, "wrapped_dek").alias("wrapped_dek"),
        F.element_at(attrs, "mac").alias("mac"),
    )
    return crypto.decrypt_verify(unpacked, mac_mode=mac_mode)
