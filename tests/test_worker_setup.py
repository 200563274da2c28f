"""Per-task Python worker setup: the zip-directory cache fix (``_zipcache``).

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task. Before CPython 3.13 each cached ``zipimporter`` then re-reads its
whole archive directory (``pyspark.zip``, the py4j zip, the Spark jar).
The engine keeps a directory while its archive is unchanged; these laws
pin that it is never stale, that it reaches the workers, and what it buys.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from dataflow_pubsub_message_encryption_spark import _zipcache
from dataflow_pubsub_message_encryption_spark.functions import crypto

needs_backport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ has its own cheap invalidation"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_backport
def test_unchanged_archive_directory_read_once(tmp_path, monkeypatch):
    """Repeated invalidation reads an unchanged archive's directory once;
    a rewritten archive is read again and its new module imports."""
    assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    monkeypatch.syspath_prepend(archive)
    importer = zipimport.zipimporter(archive)
    sys.path_importer_cache[archive] = importer
    try:
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == 1

        _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
        st = os.stat(archive)  # same-second rewrites still move the stamp
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("zc_mod_b").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.modules.pop("zc_mod_a", None)
        sys.modules.pop("zc_mod_b", None)


@pytest.fixture()
def fresh_workers(spark):
    """UDFs built while this fixture is active run in a new Python worker
    pool: Spark keys its worker pools on the functions' environment, which
    PySpark takes from ``SparkContext.environment`` when a UDF is built."""
    env = spark.sparkContext.environment
    env["SPARK_GRAFT_TEST_WORKER_POOL"] = uuid.uuid4().hex
    yield
    del env["SPARK_GRAFT_TEST_WORKER_POOL"]


def _walk(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


@needs_backport
def test_warm_unwrap_job_python_init_time(spark, fresh_workers):
    """On the third run of a 4-partition unwrap job, the Python workers'
    summed init time stays under 200 ms per task. Without the fix each
    task re-reads the zip directories: 1.1-1.7 s summed on a 4-core box,
    against 0.35-0.4 s with it. The metric also counts a reused worker's
    wait for its next task (its clock starts when the previous task
    ends), about 90 ms per task here even when setup takes 0.5 ms, which
    is why the bound is not tighter."""
    unwrap = F.pandas_udf(crypto.unwrap_dek_udf.func, BinaryType())
    keys = [crypto.wrap_dek(crypto.dek(i)) for i in range(crypto.N_KEYS)]
    wrapped = F.element_at(
        F.array(*[F.lit(k) for k in keys]), (F.col("id") % len(keys) + 1).cast("int")
    )
    df = spark.range(0, 16, 1, 4).select(unwrap(wrapped).alias("dek"))
    for _ in range(3):
        assert len(df.collect()) == 16
    init_ms = [
        node.metrics().apply("pythonInitTime").value()
        for node in _walk(df._jdf.queryExecution().executedPlan())
        if node.nodeName() == "ArrowEvalPython"
    ]
    assert len(init_ms) == 1
    assert init_ms[0] < 4 * 200, init_ms


@needs_backport
def test_hmac_only_worker_gets_the_fix(spark, fresh_workers):
    """A new worker that has run only the HMAC kernel has imported the
    engine, so it has the fix: the HMAC UDF calls a module-level function,
    which the worker unpickles by reference."""

    def worker_state(s: pd.Series) -> pd.Series:  # nested: shipped by value
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        pkg = "dataflow_pubsub_message_encryption_spark" in sys.modules
        return s.map(lambda _: f"{fn.__module__} {pkg}")

    hmac_hex = crypto.make_hmac_udf(crypto.MAC_KEY.encode("utf-8"))
    probe = F.pandas_udf(worker_state, "string")
    one = spark.range(0, 1, 1, 1)
    assert one.select(hmac_hex(F.lit("x"))).collect()
    state = one.select(probe(F.lit("x")).alias("s")).first().s
    assert state == "dataflow_pubsub_message_encryption_spark._zipcache True"


@needs_backport
def test_udf_surface_only_worker_gets_the_fix(spark, sf_dir, fresh_workers):
    """A new worker pool that has run only ``udf_surface`` (a vectorized
    and a row-at-a-time UDF) has imported the engine, so it has the fix:
    both UDF kernels are module-level functions."""
    from dataflow_pubsub_message_encryption_spark.operators.relational import (
        udf_surface,
    )

    def worker_state(s: pd.Series) -> pd.Series:  # nested: shipped by value
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        pkg = "dataflow_pubsub_message_encryption_spark" in sys.modules
        return s.map(lambda _: f"{fn.__module__} {pkg}")

    assert udf_surface(spark, sf_dir).collect()
    probe = F.pandas_udf(worker_state, "string")
    state = spark.range(0, 1, 1, 1).select(probe(F.lit("x")).alias("s")).first().s
    assert state == "dataflow_pubsub_message_encryption_spark._zipcache True"
