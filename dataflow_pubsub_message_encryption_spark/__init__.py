"""PySpark-native encrypted-stream analytics engine.

A brand-new, idiomatic PySpark (DataFrame / SQL / Structured Streaming)
engine with the query and data-processing capabilities of the reference
``salrashid123/dataflow_pubsub_message_encryption`` — a Dataflow/Beam
streaming pipeline that consumes envelope-encrypted Pub/Sub messages
(AES-encrypted payload, KMS-wrapped data key + HMAC carried as message
attributes), unwraps keys through an executor-local expiring cache,
decrypts and verifies payloads in flight, and runs windowed aggregations
over the decrypted stream.

Provenance note (SURVEY.md §0): the local reference snapshot at
``/root/reference/`` is empty, so reference citations in docstrings use the
survey's ``[U/*]`` convention (public knowledge of the upstream repo) rather
than file:line into an empty directory.

Layout
------
- ``sources``    : fixture parquet readers (incl. the ns-timestamp events
                   table) and envelope-column synthesis; streaming sources.
- ``functions``  : crypto (mock-KMS wrap/unwrap + cached unwrap UDF, MAC),
                   text analysis, vector math, output-normalization helpers.
- ``operators``  : the SURVEY §2 operator inventory — each operator is a
                   ``(spark, sf_dir) -> DataFrame`` callable registered with
                   a DuckDB oracle SQL string where expressible.
- ``plans``      : physical-plan inspection helpers (broadcast/pushdown/
                   shuffle assertions used by tests).
- ``streaming``  : Structured Streaming mirror of the reference pipeline
                   (watermarks, tumbling/sliding/session windows, stateful
                   dedup, checkpointed parquet/text sinks). Batch output
                   is plain ``DataFrameWriter``; there is no batch sink
                   module.
"""

from . import _zipcache  # noqa: F401  (installs the zip-directory cache fix)

__version__ = "0.1.0"


def list_queries() -> list[str]:
    """Names of every registered operator query."""
    from .operators import registry

    return sorted(registry()[0])


def run_query(name: str, spark, sf_dir: str):
    """Run a registered operator query against a fixture directory and
    return its DataFrame (lazy — caller chooses the action/sink)."""
    from .operators import registry
    from .session import configure

    configure(spark)
    queries, _ = registry()
    try:
        fn = queries[name]
    except KeyError:
        raise KeyError(
            f"unknown query {name!r}; see list_queries()"
        ) from None
    return fn(spark, sf_dir)
