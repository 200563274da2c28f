"""Envelope-encryption primitives: mock KMS, cached unwrap UDF, MAC.

Reference parity [U/H, SURVEY §2 R5-R7]: the reference publisher wraps the
AES data-encryption key (DEK) with a Cloud KMS key-encryption key (KEK) and
ships it as a message attribute; the Beam ``DecryptDoFn`` unwraps it via a
KMS ``decrypt`` RPC behind a **per-worker expiring cache keyed by the
wrapped-DEK value** — the repo's central idea, amortizing one RPC per key
per worker instead of one per message.

Spark-first mapping:

- Payload AES is Spark's native ``aes_encrypt`` / ``aes_decrypt``
  (AES-256-GCM) — codegen'd JVM expressions, zero Python in the hot path.
- KMS is mocked (no GCP here) as a deterministic XOR-with-keystream wrap,
  where the keystream derives from the KEK via SHA-256 counter blocks.
  Pure stdlib, so the unwrap UDF runs in Python workers without crypto
  deps; deterministic, so the wrapped value is a stable wire constant.
- The unwrap UDF is a **vectorized pandas UDF** with a module-level TTL
  cache: module scope in a Python UDF worker == executor-process scope,
  exactly the reference's per-worker cache semantics. ``unwrap_calls()``
  exposes the RPC counter the unit tests assert on (SURVEY §5.3).
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import time

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

# --- key material (mock; constants so fixtures are reproducible) -----------

KEK = hashlib.sha256(b"spark-graft-mock-kek-v1").digest()  # 32-byte mock KMS KEK
MAC_KEY = "spark-graft-mac-key-v1"  # HMAC-stand-in secret (see mac_col)

#: cache TTL — mirrors the reference's expiring cache [U/M]
CACHE_TTL_SECONDS = 300.0

#: DEK rotation population: messages spread over this many DEKs
#: (``user_id % N_KEYS``), so the unwrap cache has real keys to cache
N_KEYS = 4


def dek(i: int = 0) -> bytes:
    """The i-th data-encryption key (32 bytes -> AES-256)."""
    return hashlib.sha256(b"spark-graft-dek-%d" % i).digest()


# --- mock KMS ---------------------------------------------------------------


def _keystream(kek: bytes, n: int) -> bytes:
    out = b""
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(kek + counter.to_bytes(8, "big")).digest()
        counter += 1
    return out[:n]


def kms_wrap(plain: bytes, kek: bytes = KEK) -> bytes:
    ks = _keystream(kek, len(plain))
    return bytes(a ^ b for a, b in zip(plain, ks))


kms_unwrap = kms_wrap  # XOR is an involution


def wrap_dek(dek_bytes: bytes, kek: bytes = KEK) -> str:
    """Base64 text form of the wrapped DEK — the wire attribute value."""
    return base64.b64encode(kms_wrap(dek_bytes, kek)).decode("ascii")


def unwrap_dek(wrapped_b64: str, kek: bytes = KEK) -> bytes:
    return kms_unwrap(base64.b64decode(wrapped_b64), kek)


# --- executor-local expiring unwrap cache (the reference's core idea) -------

_DEK_CACHE: dict[str, tuple[float, bytes]] = {}
_UNWRAP_CALLS = 0


def _cached_unwrap(wrapped_b64: str, ttl: float = CACHE_TTL_SECONDS) -> bytes:
    """One mock-KMS unwrap per distinct wrapped key per executor process,
    re-fetched after ``ttl`` seconds — the reference DoFn's cache semantics."""
    global _UNWRAP_CALLS
    now = time.monotonic()
    hit = _DEK_CACHE.get(wrapped_b64)
    if hit is not None and now - hit[0] < ttl:
        return hit[1]
    # a miss evicts every expired entry, so rotated-out keys leave and the
    # cache holds at most the keys fetched within one TTL
    for k in [k for k, (t, _) in _DEK_CACHE.items() if now - t >= ttl]:
        del _DEK_CACHE[k]
    _UNWRAP_CALLS += 1  # stands in for the KMS decrypt RPC
    dek_bytes = unwrap_dek(wrapped_b64)
    _DEK_CACHE[wrapped_b64] = (now, dek_bytes)
    return dek_bytes


def unwrap_calls() -> int:
    """KMS-RPC counter for this process (tests assert <= keys, not rows)."""
    return _UNWRAP_CALLS


def reset_cache() -> None:
    global _UNWRAP_CALLS
    _DEK_CACHE.clear()
    _UNWRAP_CALLS = 0


@F.pandas_udf(BinaryType())
def unwrap_dek_udf(wrapped: pd.Series) -> pd.Series:
    """Vectorized unwrap: Arrow-batched, cache shared across batches within
    the executor's Python worker. Per-batch cost is one dict lookup per row
    plus one real unwrap per *new* key — the per-message KMS RPC the
    reference exists to avoid never happens here either."""
    return wrapped.map(_cached_unwrap)


# --- MAC --------------------------------------------------------------------


def mac_col(payload: Column) -> Column:
    """Integrity tag over the payload, lowercase hex.

    Modeled as ``sha2(key || payload)`` rather than true HMAC because Spark
    has no hmac builtin and DuckDB must compute the identical value for the
    oracle (``sha256(key || payload)``); both emit lowercase hex. The
    security delta (length-extension) is irrelevant to a mock. For the
    reference's actual algorithm see :func:`hmac_col` — the engine carries
    both: sha2 keeps oracles cross-engine-computable, HMAC is the
    wire-faithful mode.
    """
    return F.sha2(F.concat(F.lit(MAC_KEY), payload), 256)


def make_hmac_udf(key: bytes):
    """Build a vectorized HMAC-SHA256 UDF bound to ``key`` (lowercase hex
    output). True RFC 2104 HMAC — the reference signs payloads with
    HMAC-SHA256 [U/H, SURVEY §2 R6], and this is the faithful form of that
    MAC, as opposed to :func:`mac_col`'s oracle-expressible sha2 model.
    Arrow-batched (one Python crossing per batch, not per row); the inner
    ``hmac.digest`` is C-accelerated stdlib. Pinned against RFC 4231 test
    vectors in tests/test_crypto.py.

    The UDF body calls the module-level :func:`_hmac_hex`, which the
    worker unpickles by reference: that imports this package there, and
    with it the per-task import-cache fix (``_zipcache``), even when an
    HMAC job is the first engine code a worker runs."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def hmac_hex(payload: pd.Series) -> pd.Series:
        return _hmac_hex(key, payload)

    return hmac_hex


def _hmac_hex(key: bytes, payload: pd.Series) -> pd.Series:
    return payload.map(lambda p: hmac.digest(key, p.encode("utf-8"), "sha256").hex())


#: engine-default HMAC UDF (MAC_KEY-bound), used by the hmac MAC mode
hmac_hex_udf = make_hmac_udf(MAC_KEY.encode("utf-8"))


def hmac_col(payload: Column) -> Column:
    """HMAC-SHA256(MAC_KEY, payload), lowercase hex — the wire-faithful
    integrity tag (vectorized UDF; see :func:`make_hmac_udf`)."""
    return hmac_hex_udf(payload)


def mac_tag(payload: Column, mac_mode: str = "sha2") -> Column:
    """The integrity tag of ``mac_mode``: ``sha2`` (:func:`mac_col`) or
    ``hmac`` (:func:`hmac_col`)."""
    return {"sha2": mac_col, "hmac": hmac_col}[mac_mode](payload)


def decrypt_verify(df, mac_mode: str = "sha2"):
    """The reference ``DecryptDoFn`` as a DataFrame transformation over the
    envelope columns (``ciphertext``, ``wrapped_dek``, ``mac``): unwrap DEK
    -> AES-decrypt (JVM expression) into ``props_decrypted`` -> recompute
    MAC -> drop rows whose tag does not verify.

    The unwrap shape follows ``df.isStreaming``; both amortize the
    per-message KMS RPC the reference exists to avoid [U/H]:

    - streams: every row passes through the vectorized unwrap UDF backed
      by the executor-local expiring cache — the exact per-worker-cache
      semantics of the reference DoFn (a distinct+join would need state).
    - batch: unwrap only the DISTINCT wrapped keys (a key-population-sized
      DataFrame) and broadcast-join the plaintext DEKs back. The per-row
      path is then 100% JVM codegen — no Python worker round-trip — and
      KMS cost is once per key per *query*, not per key per worker.

    ``mac_mode`` selects the integrity tag recomputed for the verify-drop:
    ``sha2`` (oracle-expressible model, JVM codegen) or ``hmac`` (true
    HMAC-SHA256 like the reference, vectorized UDF).
    """
    if df.isStreaming:
        joined, dek_bin = df, unwrap_dek_udf(F.col("wrapped_dek"))
    else:
        keys = (
            df.select(F.col("wrapped_dek").alias("_w"))
            .distinct()
            .withColumn("_dek", unwrap_dek_udf(F.col("_w")))
        )
        joined = df.join(F.broadcast(keys), F.col("wrapped_dek") == F.col("_w"))
        dek_bin = F.col("_dek")
    plain = F.aes_decrypt(F.col("ciphertext"), dek_bin).cast("string")
    return (
        joined.withColumn("props_decrypted", plain)
        .filter(mac_tag(F.col("props_decrypted"), mac_mode) == F.col("mac"))
        .drop("_w", "_dek")
    )
