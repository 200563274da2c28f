"""Encryption-law and cache-behavior tests (SURVEY §5.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataflow_pubsub_message_encryption_spark.functions import crypto
from dataflow_pubsub_message_encryption_spark.sources import (
    load_events,
    with_envelope,
)


def test_kms_wrap_roundtrip_properties():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(st.binary(min_size=1, max_size=64))
    def roundtrip(plain):
        assert crypto.kms_unwrap(crypto.kms_wrap(plain)) == plain
        # wrapped differs from plain (keystream is not identity)
        assert crypto.kms_wrap(plain) != plain

    roundtrip()


def test_wrap_dek_deterministic_wire_value():
    w1 = crypto.wrap_dek(crypto.dek(0))
    w2 = crypto.wrap_dek(crypto.dek(0))
    assert w1 == w2  # stable attribute value => cacheable key
    assert crypto.unwrap_dek(w1) == crypto.dek(0)


def test_aes_roundtrip_identity(spark):
    """aes_decrypt(aes_encrypt(x, k), k) = x for random payloads."""
    df = spark.range(200).select(
        F.concat(F.lit("payload-"), F.sha2(F.col("id").cast("string"), 256)).alias(
            "x"
        )
    )
    key = crypto.dek(1)
    out = df.withColumn(
        "rt",
        F.aes_decrypt(
            F.aes_encrypt(F.col("x").cast("binary"), F.lit(key)), F.lit(key)
        ).cast("string"),
    )
    assert out.filter(F.col("rt") != F.col("x")).count() == 0


def test_tamper_detection_drops_rows(spark, sf_dir):
    events = load_events(spark, sf_dir)
    n = events.count()
    env = with_envelope(events, tamper=True)
    survivors = crypto.decrypt_verify(env)
    ids = [r.event_id for r in survivors.select("event_id").collect()]
    assert len(ids) == n // 2
    assert all(i % 2 == 0 for i in ids)


def test_wrong_key_decrypt_fails(spark):
    key, wrong = crypto.dek(0), crypto.dek(1)
    out = (
        spark.range(5)
        .select(F.lit("secret").cast("binary").alias("x"))
        .select(
            F.try_aes_decrypt(
                F.aes_encrypt(F.col("x"), F.lit(key)), F.lit(wrong)
            ).alias("bad")
        )
    )
    assert all(r.bad is None for r in out.collect())


def test_dek_cache_amortizes_unwraps():
    """<=1 mock-KMS unwrap per distinct key per process (the reference's
    per-worker cache semantics), regardless of message count."""
    crypto.reset_cache()
    keys = [crypto.wrap_dek(crypto.dek(i)) for i in range(4)]
    for _ in range(1000):
        for w in keys:
            crypto._cached_unwrap(w)
    assert crypto.unwrap_calls() == 4


def test_dek_cache_ttl_expiry():
    crypto.reset_cache()
    w = crypto.wrap_dek(crypto.dek(0))
    crypto._cached_unwrap(w, ttl=0.05)
    crypto._cached_unwrap(w, ttl=0.05)
    assert crypto.unwrap_calls() == 1
    import time

    time.sleep(0.06)
    crypto._cached_unwrap(w, ttl=0.05)
    assert crypto.unwrap_calls() == 2


def test_dek_cache_bounded_under_key_rotation(monkeypatch):
    """Rotating keys: a miss evicts expired entries, so the cache never
    holds more keys than were used within one TTL, while each key still
    costs one unwrap per TTL (a key that comes back after expiry is
    fetched again)."""
    import types

    clock = [0.0]
    monkeypatch.setattr(crypto, "time", types.SimpleNamespace(monotonic=lambda: clock[0]))
    crypto.reset_cache()
    ttl = 1.0
    keys = [crypto.wrap_dek(crypto.dek(i)) for i in range(10)]
    used = []  # (time, key) of every lookup
    # key p is used at p, p+0.3 and p+0.6; key 0 comes back at 10.0
    schedule = [(p + dt, p) for p in range(10) for dt in (0.0, 0.3, 0.6)]
    for now, i in schedule + [(10.0, 0)]:
        clock[0] = now
        assert crypto._cached_unwrap(keys[i], ttl=ttl) == crypto.dek(i)
        used.append((now, keys[i]))
        recent = {k for t, k in used if now - t < ttl}
        assert len(crypto._DEK_CACHE) <= len(recent), (now, len(crypto._DEK_CACHE))
    assert crypto.unwrap_calls() == 11  # one per key, plus key 0 again
    crypto.reset_cache()


def test_mac_matches_duckdb(spark, duck):
    """Spark sha2(key||payload) == DuckDB sha256(key||payload), lowercase hex."""
    payload = "hello-world"
    s = (
        spark.range(1)
        .select(crypto.mac_col(F.lit(payload)).alias("m"))
        .collect()[0]
        .m
    )
    d = duck.execute(
        "SELECT sha256(concat(?, ?))", [crypto.MAC_KEY, payload]
    ).fetchone()[0]
    assert s == d


def _subtree_lines(tree: str, root: str) -> set[int]:
    """Indices of the lines of ``tree`` (a physical-plan ``treeString``)
    that lie under a node whose line contains ``root``."""
    lines = tree.splitlines()

    def depth(line: str) -> int:
        return (len(line) - len(line.lstrip(" :+-"))) // 3

    inside, root_depth = set(), None
    for i, line in enumerate(lines):
        d = depth(line)
        if root_depth is not None and d <= root_depth:
            root_depth = None
        if root_depth is not None:
            inside.add(i)
        elif root in line:
            root_depth = d
    return inside


def test_broadcast_strategy_keeps_row_path_jvm_only(spark, sf_dir, tmp_path):
    """decrypt_verify picks the unwrap shape from ``isStreaming``. On
    batch it must leave no Python eval node on the fact-row side:
    ArrowEvalPython may appear only under the distinct-keys branch that
    feeds the broadcast exchange. On a stream it must unwrap per row
    through the cached UDF, with no broadcast join."""
    from dataflow_pubsub_message_encryption_spark.plans import formatted_plan
    from dataflow_pubsub_message_encryption_spark.sources import wire

    batch = crypto.decrypt_verify(with_envelope(load_events(spark, sf_dir)))
    tree = batch._jdf.queryExecution().executedPlan().treeString()
    lines = tree.splitlines()
    py = {i for i, line in enumerate(lines) if "ArrowEvalPython" in line}
    assert "BroadcastHashJoin" in tree
    assert py, "the unwrap UDF must run on the distinct keys"
    assert py <= _subtree_lines(tree, "BroadcastExchange"), tree

    stream = wire.decode_wire(wire.read_topic_stream(spark, str(tmp_path)))
    plan = formatted_plan(stream)
    assert "ArrowEvalPython" in plan
    assert "Broadcast" not in plan, plan


def test_aes_roundtrip_unicode_payloads(spark):
    """Envelope crypto must round-trip non-ASCII payloads byte-exactly
    (zh documents, emoji, combining chars)."""
    payloads = ["中文文本测试", "héllo wörld", "👍🏽🚀", 'json={"k": "値"}']
    key = crypto.dek(2)
    df = spark.createDataFrame([(p,) for p in payloads], "x STRING")
    out = df.select(
        "x",
        F.aes_decrypt(
            F.aes_encrypt(F.col("x").cast("binary"), F.lit(key)), F.lit(key)
        ).cast("string").alias("rt"),
    )
    assert all(r.x == r.rt for r in out.collect())


def test_hmac_udf_rfc4231_vectors(spark):
    """RFC 4231 HMAC-SHA256 test vectors through the Spark UDF path."""
    vectors = [
        (  # test case 1
            b"\x0b" * 20,
            "Hi There",
            "b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7",
        ),
        (  # test case 2
            b"Jefe",
            "what do ya want for nothing?",
            "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843",
        ),
    ]
    for key, msg, want in vectors:
        udf = crypto.make_hmac_udf(key)
        got = (
            spark.range(1)
            .select(udf(F.lit(msg)).alias("h"))
            .collect()[0]
            .h
        )
        assert got == want, f"RFC 4231 mismatch for key={key!r}"


def test_hmac_udf_matches_stdlib_on_fixture(spark, sf_dir):
    import hmac as _hmac

    rows = (
        load_events(spark, sf_dir)
        .limit(50)
        .select("props", crypto.hmac_col(F.col("props")).alias("h"))
        .collect()
    )
    key = crypto.MAC_KEY.encode()
    for r in rows:
        assert r.h == _hmac.digest(key, r.props.encode(), "sha256").hex()


def test_hmac_differs_from_sha2_model(spark, sf_dir):
    """The two MAC modes must not be interchangeable (hmac != sha2(k||p))."""
    row = (
        load_events(spark, sf_dir)
        .limit(1)
        .select(
            crypto.hmac_col(F.col("props")).alias("h"),
            crypto.mac_col(F.col("props")).alias("s"),
        )
        .collect()[0]
    )
    assert row.h != row.s


def test_hmac_tamper_detection_drops_rows(spark, sf_dir):
    events = load_events(spark, sf_dir)
    n = events.count()
    env = with_envelope(events, tamper=True, mac_mode="hmac")
    survivors = crypto.decrypt_verify(env, mac_mode="hmac")
    ids = [r.event_id for r in survivors.select("event_id").collect()]
    assert len(ids) == n // 2
    assert all(i % 2 == 0 for i in ids)
