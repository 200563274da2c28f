"""SparkSession construction tuned for this engine.

The driver hands us its own session for ``queries()`` / ``entry()``; this
builder is for tests and ``bench.py``. Settings chosen for the 100 TB design
point (AQE on, sensible shuffle parallelism) scaled down to local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime SQL confs we also apply to driver-provided sessions (see
# ``configure``): all are dynamic SQLConf entries, safe to set post-start.
RUNTIME_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects; read as raw nanos and convert ourselves (sources/fixtures.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime partition coalescing, skew-join splitting, join re-planning.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / toPandas round-trips (key-unwrap UDF hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # A file-stream micro-batch re-lists the files it was just handed
    # (FileStreamSource.getBatch -> InMemoryFileIndex). Above this many
    # paths (default 32) that listing is a 100-task Spark job; in
    # local[N] those tasks share the driver's JVM and add only launch
    # cost (a 40-file batch's getBatch: 559 -> 70 ms). Keep listing on
    # the driver for any realistic backlog.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
    # Every checkpoint write (offsets and commits logs, file-source and
    # file-sink logs, HDFS-backed and RocksDB state files) goes through
    # Hadoop's FileSystem API. PySpark bundles no libhadoop, so Spark's
    # default FileContext manager forks four `readlink` processes per
    # rename to resolve links; the FileSystem manager's local rename is
    # one File.renameTo (a dedup -> parquet-sink micro-batch on 4 shuffle
    # partitions: 100 -> 25 forks; each created file's `chmod` fork is
    # left). On file:// neither manager makes "check the destination,
    # then rename" atomic; for overwrites this one's POSIX rename replaces
    # the destination atomically, where FileContext deletes it first. A
    # runtime SQL conf, so Spark copies it into the Hadoop conf it hands
    # to executors. Object-store checkpoints need the manager their store
    # requires.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing (possibly driver-owned) session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this session; loaders have fallbacks
    return spark


def get_session(app_name: str = "spark-graft", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            # local mode = one JVM doing driver + all 32 executor threads'
            # work; an 8g heap forces full GCs once a few query plans' shuffle
            # and broadcast state accumulate (measured: q8 steady-state 1.7s
            # solo -> 3.5s after 7 queries on 8g). Size for the host.
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            # Whole-stage-codegen compilation cache (STATIC conf — builder
            # only; `configure` cannot set it on a driver-owned session).
            # The default is 100 entries, and one pass over the 38-query
            # bench mix compiles far more distinct codegen units than
            # that, so the LRU evicts everything every pass and each
            # "warm" execution re-pays Janino compilation + HotSpot
            # re-tiering for every stage — measured at ~30% of the whole
            # mix (same-box back-to-back arms: 90.5/85.0 s per pass at
            # 100 entries vs 63.7/57.6 s at 4096; 37/38 queries faster).
            # Scale-honest: the cache is keyed on generated SOURCE, so
            # its right size tracks workload DIVERSITY (number of
            # distinct plan shapes a long-lived app serves), not data
            # volume or core count; 4096 bounds it at a few hundred MB
            # of compiled classes in the worst case.
            "spark.sql.codegen.cache.maxEntries",
            "4096",
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
