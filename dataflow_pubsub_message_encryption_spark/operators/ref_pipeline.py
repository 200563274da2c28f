"""REF group — the reference pipeline surface, stage by stage (SURVEY §2.1).

The reference [U/H] is a Beam/Dataflow streaming pipeline: read Pub/Sub
messages with attributes -> per-message DoFn (unwrap DEK via cached KMS
call, AES-decrypt payload, verify HMAC) -> windowed counts -> sink. Each
stage is re-expressed here as a declarative DataFrame query over the
``events`` fixture (the batch replay of the stream; the streaming mirror of
the same transformations lives in ``streaming/``).

Encryption fixtures are synthesized in-query (FIXTURES.md "Derived"):
decrypt∘encrypt = identity keeps every oracle expressible in DuckDB without
DuckDB ever performing AES.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import crypto
from ..functions.normalize import dec4, duck_ts, money, ts_str
from ..sources import load, load_events, with_envelope
from .base import make_registry

QUERIES, ORACLES, query = make_registry()

_WRAPPED = [crypto.wrap_dek(crypto.dek(i)) for i in range(crypto.N_KEYS)]


@query(
    "src_scan_events",
    f"""
    SELECT event_id, {duck_ts('ts')} AS ts, user_id, event_type,
           CAST(round(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS value, props
    FROM events
    """,
)
def src_scan_events(spark, sf_dir):
    """R1 — unbounded-source scan, batch replay [U/H: ReadFromPubSub(...,
    with_attributes=True)]. Plain parquet scan; the ns->us timestamp
    normalization happens at load."""
    return load_events(spark, sf_dir).select(
        "event_id",
        ts_str("ts").alias("ts"),
        "user_id",
        "event_type",
        money(dec4("value")).alias("value"),
        "props",
    )


@query(
    "proj_attrs",
    f"""
    SELECT event_id, {duck_ts('ts')} AS ts, event_type, user_id FROM events
    """,
)
def proj_attrs(spark, sf_dir):
    """R2 — envelope/attribute extraction (message id, publish time,
    attribute values) [U/H: DoFn body]. Column pruning reaches the scan."""
    return load_events(spark, sf_dir).select(
        "event_id", ts_str("ts").alias("ts"), "event_type", "user_id"
    )


@query(
    "filt_type",
    """
    SELECT event_id, user_id,
           CAST(round(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS value
    FROM events
    WHERE event_type = 'purchase' AND value > 100
    """,
)
def filt_type(spark, sf_dir):
    """R3 — predicate on extracted fields (process only relevant messages)
    [U/H: DoFn body]. Both predicates push down to the parquet scan."""
    return (
        load_events(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 100))
        .select("event_id", "user_id", money(dec4("value")).alias("value"))
    )


@query(
    "json_parse_props",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def json_parse_props(spark, sf_dir):
    """R4 — parse the (decrypted) payload as JSON into typed fields [U/H:
    ad-hoc json parse inside the DoFn]."""
    return load_events(spark, sf_dir).select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("k"),
    )


@query(
    "envelope_roundtrip",
    "SELECT event_id, props AS props_decrypted FROM events",
)
def envelope_roundtrip(spark, sf_dir):
    """R5 — THE core op: envelope decrypt. Synthesize wire form (AES-GCM
    ciphertext + wrapped-DEK attribute), then unwrap the DEKs and
    AES-decrypt with Spark's native expression [U/H: DecryptDoFn].
    Oracle: decrypt∘encrypt = identity, so DuckDB just projects the
    plaintext — the AES never needs to match cross-engine."""
    env = with_envelope(load_events(spark, sf_dir))
    return crypto.decrypt_verify(env).select("event_id", "props_decrypted")


_MK = crypto.MAC_KEY


@query(
    "mac_verify_filter",
    f"""
    SELECT event_id, sha256(concat('{_MK}', props)) AS mac
    FROM events
    WHERE event_id % 2 = 0
    """,
)
def mac_verify_filter(spark, sf_dir):
    """R6 — MAC verify + drop-tampered [U/H: publisher signs, DoFn verifies
    and rejects]. Tamper is injected deterministically on odd event_ids so
    both engines agree on the surviving set; the MAC itself is
    sha2(key||payload), identical in DuckDB as sha256(key||payload)."""
    env = with_envelope(load_events(spark, sf_dir), tamper=True)
    return crypto.decrypt_verify(env).select("event_id", "mac")


@query(
    "mac_hmac_verify_filter",
    """
    SELECT event_id, props AS props_decrypted FROM events
    WHERE event_id % 2 = 0
    """,
)
def mac_hmac_verify_filter(spark, sf_dir):
    """R6b — MAC verify + drop-tampered with TRUE HMAC-SHA256, the
    reference's actual signing algorithm [U/H: publisher HMACs the payload,
    DoFn verifies and rejects]. Sign and verify both run the vectorized
    hmac UDF (functions/crypto.py make_hmac_udf, RFC 4231-pinned in
    tests/test_crypto.py); tamper is injected deterministically on odd
    event_ids, so the surviving row set — even ids with their decrypted
    payloads — is oracle-checkable without DuckDB ever computing an HMAC.
    The sha2-model twin (mac_verify_filter) keeps the tag value itself
    cross-engine-checked."""
    env = with_envelope(load_events(spark, sf_dir), tamper=True, mac_mode="hmac")
    return crypto.decrypt_verify(env, mac_mode="hmac").select(
        "event_id", "props_decrypted"
    )


def _dek_cache_oracle() -> str:
    whens = "\n      ".join(
        f"WHEN {i} THEN '{_WRAPPED[i]}'" for i in range(crypto.N_KEYS)
    )
    return f"""
    SELECT CASE CAST(user_id % {crypto.N_KEYS} AS INTEGER)
      {whens}
      END AS wrapped_dek,
      count(*) AS n_msgs
    FROM events
    GROUP BY 1
    """


@query("dek_cache", _dek_cache_oracle())
def dek_cache(spark, sf_dir):
    """R7 — DEK rotation across the message stream: events spread over
    ``crypto.N_KEYS`` wrapped DEKs, each unwrapped once per key, not per
    message — the reference's raison d'être [U/H]; on this batch frame
    ``decrypt_verify`` unwraps the distinct keys and broadcasts them. The
    per-key message census below proves every key took the decrypt path;
    the executor-local cache's amortization on the per-row (streaming)
    path is asserted by the unit-test call counter (tests/test_crypto.py)."""
    env = with_envelope(load_events(spark, sf_dir))
    return (
        crypto.decrypt_verify(env)
        .groupBy("wrapped_dek")
        .agg(F.count("*").alias("n_msgs"))
    )


@query(
    "window_tumbling_counts",
    f"""
    SELECT {duck_ts("date_trunc('hour', ts)")} AS window_start,
           event_type, count(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling_counts(spark, sf_dir):
    """R8 — fixed (tumbling) windows + per-window count [U/H: Beam
    FixedWindows + Count/CombinePerKey]. Batch form of the streaming
    windowed aggregation (streaming/ runs the same groupBy under
    readStream with a watermark); partial aggregation is map-side."""
    return (
        load_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            ts_str(F.col("window.start")).alias("window_start"),
            "event_type",
            "cnt",
        )
    )


@query(
    "pipeline_end_to_end",
    f"""
    SELECT {duck_ts("date_trunc('hour', ts)")} AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k
    FROM events
    WHERE event_id % 2 = 0
    GROUP BY 1, 2
    """,
)
def pipeline_end_to_end(spark, sf_dir):
    """Flagship — the whole reference pipeline in one DAG (R1–R8): scan ->
    synthesize envelope (tampered) -> DEK unwrap -> AES-decrypt -> MAC
    verify-and-drop -> JSON-parse the plaintext -> hourly tumbling counts +
    payload aggregation. ``entry()`` runs this at sf0.001."""
    env = with_envelope(load_events(spark, sf_dir), tamper=True)
    plain = crypto.decrypt_verify(env)
    parsed = plain.withColumn(
        "k", F.from_json("props_decrypted", "k INT").getField("k")
    )
    return (
        parsed.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .select(
            ts_str(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_k",
        )
    )


@query(
    "window_sliding_counts",
    f"""
    SELECT {duck_ts('window_start')} AS window_start, event_type, count(*) AS cnt
    FROM (
      SELECT event_type,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS window_start
      FROM events
    )
    GROUP BY 1, 2
    """,
)
def window_sliding_counts(spark, sf_dir):
    """Sliding windows (1h window, 30m hop): each event lands in exactly 2
    panes. Oracle expands the pane membership explicitly via time_bucket +
    unnest. Streaming twin: streaming/pipeline.sliding_counts_stream."""
    return (
        load_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            ts_str(F.col("window.start")).alias("window_start"),
            "event_type",
            "cnt",
        )
    )


@query(
    "window_session_stats",
    f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    grouped AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, {duck_ts('min(ts)')} AS session_start, count(*) AS n_events
    FROM grouped GROUP BY user_id, sid
    """,
)
def window_session_stats(spark, sf_dir):
    """Session windows (30-minute inactivity gap) per user: session start +
    event count. Spark's session_window is the native stateful-merge
    implementation; the oracle derives identical sessions with the
    gaps-and-islands idiom (lag + cumulative sum). Streaming twin uses the
    same session_window under a watermark."""
    return (
        load_events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            ts_str(F.col("session_window.start")).alias("session_start"),
            "n_events",
        )
    )


@query(
    "envelope_map_attrs",
    "SELECT event_id, props AS props_decrypted FROM events",
)
def envelope_map_attrs(spark, sf_dir):
    """R2b — the faithful wire shape: attributes as MAP<STRING,STRING>
    beside the opaque payload (Pub/Sub's attribute map [U/H]). The
    envelope columns are packed into a map, the pipeline extracts them by
    key (element_at) and decrypts — proving MapType flows through the
    whole decrypt DAG. Oracle: identity, as for R5."""
    env = with_envelope(load_events(spark, sf_dir))
    wired = env.select(
        "event_id",
        "ciphertext",
        F.create_map(
            F.lit("wrapped_dek"), F.col("wrapped_dek"), F.lit("mac"), F.col("mac")
        ).alias("attrs"),
    )
    unpacked = wired.select(
        "event_id",
        "ciphertext",
        F.element_at("attrs", "wrapped_dek").alias("wrapped_dek"),
        F.element_at("attrs", "mac").alias("mac"),
    )
    return crypto.decrypt_verify(unpacked).select("event_id", "props_decrypted")


@query(
    "envelope_key_rotation",
    f"""
    SELECT event_id,
           CAST(user_id % {crypto.N_KEYS} AS INTEGER) AS old_key_id,
           CAST(user_id % {crypto.N_KEYS} + 100 AS INTEGER) AS new_key_id,
           sha256(props) AS payload_sha
    FROM events
    """,
)
def envelope_key_rotation(spark, sf_dir):
    """Key rotation — the operational task envelope encryption exists to
    make cheap [U/M: rotating the DEK re-encrypts payloads; rotating the
    KEK only re-wraps keys]: decrypt under the OLD DEKs (the batch
    broadcast unwrap — the per-key, not per-row, KMS path), re-encrypt every payload under
    the rotated DEK (old id + 100) with JVM ``aes_encrypt``, and PROVE
    the rotation by decrypting the new ciphertext in-plan with the new
    key and emitting the payload digest. GCM ciphertext is random-IV
    (nondeterministic), so bytes are never compared; the oracle checks
    the end-to-end invariant
    decrypt_new(encrypt_new(decrypt_old(wire))) = plaintext via the
    digest, plus both key-id ledgers. The whole per-row path —
    decrypt, re-encrypt, verify-decrypt, hash — is native Spark codegen;
    Python appears only in the one-batch-per-distinct-key unwrap."""
    env = with_envelope(load_events(spark, sf_dir))
    plain = crypto.decrypt_verify(env).withColumn(
        "key_id", (F.col("user_id") % crypto.N_KEYS).cast("int")
    )
    new_dek_map = F.create_map(
        *[
            x
            for i in range(crypto.N_KEYS)
            for x in (F.lit(i), F.lit(crypto.dek(100 + i)))
        ]
    )
    rotated = plain.withColumn(
        "new_ciphertext",
        F.aes_encrypt(
            F.col("props_decrypted").cast("binary"),
            new_dek_map[F.col("key_id")],
        ),
    )
    verified = rotated.withColumn(
        "rt",
        F.aes_decrypt(
            F.col("new_ciphertext"), new_dek_map[F.col("key_id")]
        ).cast("string"),
    )
    return verified.select(
        "event_id",
        F.col("key_id").cast("int").alias("old_key_id"),
        (F.col("key_id") + 100).cast("int").alias("new_key_id"),
        F.sha2("rt", 256).alias("payload_sha"),
    )
