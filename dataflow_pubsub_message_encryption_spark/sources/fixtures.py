"""Batch sources: the driver-generated parquet fixtures.

Reference parity [U/H, SURVEY §2 R1]: the reference's source is
``ReadFromPubSub(subscription, with_attributes=True)`` — an unbounded stream
of (opaque payload bytes, string->string attributes, message id, publish
time). The batch stand-in here is the ``events`` table, and
:func:`with_envelope` synthesizes the encrypted wire shape (ciphertext +
wrapped-DEK / MAC attributes) from it deterministically, so the DuckDB
oracle stays expressible (decrypt∘encrypt = identity; FIXTURES.md).

Scale note (100 TB): everything is a plain ``spark.read.parquet`` scan —
column pruning and predicate pushdown reach the scan via Catalyst; no
driver-side materialization anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark's parquet
# reader rejects outright (PARQUET_TYPE_ILLEGAL, probed on 4.1.2). With
# spark.sql.legacy.parquet.nanosAsLong the column reads as raw nanos; the
# conversion below uses *integer* division (`div`) — float division at 1e18
# magnitude would lose precision (double mantissa is 53 bits) — and
# timestampadd over an NTZ epoch base so the result is timezone-independent
# and matches DuckDB's own ns->us truncation of the same file.
_NS_TO_TS = "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = f"{sf_dir}/events.parquet"
    try:
        df = spark.read.parquet(path)
    except Exception:
        return _load_events_arrow(spark, path)
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr(_NS_TO_TS))
    return df


def _load_events_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Fallback if the session rejects the nanosAsLong conf: read through
    pyarrow and truncate ns->us there. Fine at fixture scale; the conf path
    is the scale path."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    idx = tbl.schema.get_field_index("ts")
    # ns -> us truncation must be explicit (safe casts refuse to drop
    # sub-microsecond digits); positive epochs make truncation == floor,
    # matching both the primary loader's `div` and DuckDB's own read.
    ts_us = pc.cast(
        tbl.column("ts"), pa.timestamp("us"), safe=False
    )
    tbl = tbl.set_column(idx, pa.field("ts", pa.timestamp("us")), ts_us)
    return spark.createDataFrame(tbl.to_pandas())


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. ``events`` gets the ns-timestamp treatment."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def with_envelope(
    events: DataFrame, tamper: bool = False, mac_mode: str = "sha2"
) -> DataFrame:
    """Synthesize the reference's encrypted wire format from ``events``.

    Reference parity [U/H, SURVEY §2 R5/R6 + §3 entry point 1]: the
    publisher AES-encrypts the payload under a DEK, wraps the DEK with the
    KMS KEK, HMACs the payload, and ships wrapped key + MAC as message
    attributes beside the ciphertext. Here:

    - ``key_id``      : DEK rotation — events are spread over
                        ``crypto.N_KEYS`` DEKs (by ``user_id % N_KEYS``) so
                        the unwrap cache has a real key population to cache.
    - ``wrapped_dek`` : base64 mock-KMS-wrapped DEK (attribute).
    - ``ciphertext``  : ``aes_encrypt(props, dek)`` — AES-256-GCM, random
                        IV, hence nondeterministic: never hashed or
                        compared, only the decrypt round-trip is.
    - ``mac``         : integrity tag, lowercase hex (attribute):
                        ``mac_mode="sha2"`` -> ``sha2(MAC_KEY || props)``
                        (oracle-expressible model), ``"hmac"`` -> true
                        HMAC-SHA256(MAC_KEY, props) like the reference
                        publisher. With ``tamper=True`` the MAC of every
                        odd ``event_id`` is corrupted deterministically so
                        both engines agree on the surviving row set.

    All of this is JVM-side codegen (aes_encrypt / sha2 are native Spark
    expressions) — no Python in the encrypt path.

    A batch frame is repartitioned to the session's default parallelism
    before the crypto map: the fixture tables are single-row-group files,
    so the scan is one task and, without a shuffle first, ALL downstream
    AES/MAC work would run on one core (measured 3x slowdown at sf0.1). A
    real multi-file source already arrives partitioned — the repartition
    is then a cheap no-op-sized shuffle.
    """
    from ..functions import crypto

    if not events.isStreaming:
        events = events.repartition(
            events.sparkSession.sparkContext.defaultParallelism
        )

    n_keys = crypto.N_KEYS
    key_id = (F.col("user_id") % F.lit(n_keys)).cast("int")
    dek_map = F.create_map(
        *[x for i in range(n_keys) for x in (F.lit(i), F.lit(crypto.dek(i)))]
    )
    wrapped_map = F.create_map(
        *[
            x
            for i in range(n_keys)
            for x in (F.lit(i), F.lit(crypto.wrap_dek(crypto.dek(i))))
        ]
    )
    df = (
        events.withColumn("key_id", key_id)
        .withColumn(
            "ciphertext",
            F.aes_encrypt(F.col("props").cast("binary"), dek_map[F.col("key_id")]),
        )
        .withColumn("wrapped_dek", wrapped_map[F.col("key_id")])
        .withColumn("mac", crypto.mac_tag(F.col("props"), mac_mode))
    )
    if tamper:
        df = df.withColumn(
            "mac",
            F.when(F.col("event_id") % 2 == 1, F.lit("0" * 64)).otherwise(
                F.col("mac")
            ),
        )
    return df.drop("key_id")
