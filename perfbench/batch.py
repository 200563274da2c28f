"""``batch_corpus``: closed-loop passes over registered batch queries.

One client runs a fixed list of registered queries, one after another,
each materialized through the noop sink, plus one ``publish_topic`` write
of ``events`` (the encrypt-and-write use of ``functions.crypto``). The
list covers the reference pipeline, relational and scale operators
(JVM codegen, scans, shuffles, joins, broadcast key unwrap) and the
corpus operators (dedup, graph, similarity, text: pins made while the
query is built, driver-side iteration, Arrow/pandas kernels).

The first pass is untimed: it runs on the cold JVM, through the same noop
sink as the timed passes. After the timed passes, and outside the timing,
each query runs once more and its output, collected with ``toPandas``, is
compared with the query's registered DuckDB oracle (``tools/check.py``'s
``compare``: row count, columns, dtypes, order-insensitive values). Every
publish, timed or not, must report one message per event.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import statistics
import sys
import time

from common import Tracer, peak_memory, reset_peaks, summarize

#: (operator module, registered query); the publish write runs after them
QUERIES = (
    ("ref_pipeline", "pipeline_end_to_end"),
    ("relational", "join_sortmerge"),
    ("scale", "rfm_segmentation_scalable"),
    ("dedup", "dedup_minhash_lsh_pairs"),
    ("graph", "graph_triangle_count"),
    ("similarity", "sim_pq_adc_topk"),
    ("text", "text_bpe_merges"),
)
OPERATOR_MODULES = tuple(dict.fromkeys(m for m, _ in QUERIES))
PUBLISH = "publish_topic"
BATCH_SF = 0.01  # TPC-H-style tables and events at this scale factor
MIN_PASSES = 2


def load_compare(root: str):
    """``compare`` from the repository's oracle checker."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def oracle_check(root: str, data: str, outputs: dict, oracles: dict) -> dict[str, list[str]]:
    """Problems per query (empty list = output matches its oracle)."""
    import duckdb

    import datagen

    compare = load_compare(root)
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        out = {}
        for name, pdf in outputs.items():
            if isinstance(pdf, Exception):
                out[name] = [f"spark error: {pdf}"]
                continue
            try:
                want = con.execute(oracles[name]).fetchdf()
            except duckdb.Error as e:
                out[name] = [f"oracle error: {e}"]
                continue
            out[name] = compare(name, pdf, want)
        return out
    finally:
        con.close()


def account(n_passes: int, n_ops: int, raised: int,
            problems: dict[str, list[str]]) -> tuple[int, int, list[str]]:
    """(attempted, failed, queries with wrong output). An operation fails
    if it raised, or if its output failed the oracle check, which then
    counts once per pass: the engine is deterministic, so a query whose
    output after the timed passes is wrong is taken to have returned it
    in every pass."""
    bad = sorted(n for n, p in problems.items() if p)
    return n_passes * n_ops, min(n_passes * n_ops, raised + n_passes * len(bad)), bad


class Client:
    """Runs the query list against one session and records what each
    call cost. Spans: ``operators.<module>.build`` (the registered call,
    which runs any pins), ``operators.<module>.exec`` (the noop write),
    ``materialize.release`` and ``sources.wire.publish``, each inside the
    span of its pass (``batch.pass`` for a timed pass)."""

    def __init__(self, spark, data: str, work: str, tracer: Tracer, n_events: int):
        from dataflow_pubsub_message_encryption_spark.operators import registry

        self.spark, self.data, self.work, self.tr = spark, data, work, tracer
        self.n_events = n_events
        self.queries, self.oracles = registry()
        self.status: dict[str, list[dict]] = {}
        self._groups = itertools.count()

    def release(self) -> int:
        from dataflow_pubsub_message_encryption_spark.materialize import release_pins

        with self.tr.span("materialize.release"):
            return release_pins(self.spark)

    def collect(self, name: str):
        """The query's output as pandas (its pins released)."""
        try:
            return self.queries[name](self.spark, self.data).toPandas()
        finally:
            self.release()

    def run_query(self, module: str, name: str) -> None:
        sc = self.spark.sparkContext
        group = f"{name}-{next(self._groups)}"
        if self.tr.enabled:
            sc.setJobGroup(group, name)
        with self.tr.span(f"operators.{module}.build"):
            df = self.queries[name](self.spark, self.data)
        with self.tr.span(f"operators.{module}.exec"):
            df.write.format("noop").mode("overwrite").save()
        pins = self.release()
        if self.tr.enabled:
            self.status.setdefault(name, []).append({**_job_status(sc, group), "pins": pins})

    def publish(self) -> int:
        from dataflow_pubsub_message_encryption_spark.sources import wire

        out = os.path.join(self.work, "published")
        if self.tr.enabled:
            self.spark.sparkContext.setJobGroup(PUBLISH, PUBLISH)
        with self.tr.span("sources.wire.publish"):
            return wire.publish_topic(self.spark, self.data, out, n_files=4)

    def one_pass(self, label: str = "batch.pass") -> tuple[float, int]:
        """Run every query and the publish once; (wall seconds, failures)."""
        failed = 0
        t0 = time.perf_counter()
        with self.tr.span(label):
            for module, name in QUERIES:
                try:
                    self.run_query(module, name)
                except Exception as e:  # a failing query counts, the pass goes on
                    print(f"query {name} failed: {e}", file=sys.stderr, flush=True)
                    failed += 1
            try:
                published = self.publish()
                if published != self.n_events:
                    raise RuntimeError(f"published {published} messages, events has {self.n_events}")
            except Exception as e:
                print(f"publish failed: {e}", file=sys.stderr, flush=True)
                failed += 1
        return time.perf_counter() - t0, failed


def _job_status(sc, group: str) -> dict:
    """Jobs, stages run, tasks run and shuffle bytes written for one job
    group, read through ``StatusTracker`` and the status store the UI
    reads. Jobs an operator submits from threads of its own carry no
    group and are not counted."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0}
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            stage = st.getStageInfo(s)
            if stage is None or not stage.numCompletedTasks:
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompletedTasks
            out["shuffle_write_bytes"] += store.lastStageAttempt(s).shuffleWriteBytes()
    return out


def run(ctx) -> dict:
    import datagen
    from common import start_session

    tr: Tracer = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("session.start"):
        spark, jvm = start_session("perfbench-batch", ctx.cpus, ctx.driver_mem, ctx.local_dir)
    data = os.path.join(ctx.work, "data")
    n_events = datagen.generate(data, ctx.seed, datagen.Sizes.for_sf(BATCH_SF))["events"]
    client = Client(spark, data, ctx.work, tr, n_events)
    client.one_pass("batch.cold")
    setup_s = time.perf_counter() - t0
    load_timed = os.getloadavg()[0]
    since = reset_peaks(spark, jvm)

    passes, failed = [], 0
    t_timed = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_timed < ctx.seconds:
        wall, f = client.one_pass()
        passes.append(wall)
        failed += f
    mem = peak_memory(spark, jvm, ctx.gc_log, since)

    outputs: dict = {}
    with tr.span("batch.check"):
        for _, name in QUERIES:
            try:
                outputs[name] = client.collect(name)
            except Exception as e:  # reported by the oracle check
                outputs[name] = e
    problems = oracle_check(ctx.root, data, outputs, client.oracles)
    n_ops = len(QUERIES) + 1
    attempted, failed, bad = account(len(passes), n_ops, failed, problems)
    p = summarize(passes)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (p["median"], "s"),
        "latency_tail_s": (p["tail"], "s"),
        "throughput_per_s": (n_ops / p["median"], "1/s"),
        "peak_rss_mb": (mem["total_mb"], "MB"),
    }
    info = {
        "queries": [n for _, n in QUERIES] + [PUBLISH],
        "pass_s": passes,
        "pass": p,
        "loadavg_timed_start": load_timed,
        "memory": mem,
        "check": {n: p for n, p in problems.items() if p},
        "checked": sorted(problems),
    }
    layers = {}
    if tr.enabled:
        layers = pass_layers(tr, client, len(passes))
        layers["session.start_s"] = tr.durations("session.start")[0]
        layers["trace.latency_p50_s"] = p["median"]
        layers["trace.throughput_per_s"] = n_ops / p["median"]
    return {"spark": spark, "jvm": jvm, "metrics": metrics, "layers": layers,
            "info": info, "attempted": attempted, "failed": failed,
            "correct": failed == 0,
            "topic": os.path.join(ctx.work, "published"), "tampered": False, "data": data}


def pass_layers(tr: Tracer, client: Client, n_passes: int) -> dict:
    """Per-layer figures per pass: sums of the spans inside the timed
    passes divided by their number; pins per pass; Spark counts from the
    last pass."""
    def per_pass(name: str) -> float:
        return sum(tr.durations(name, under="batch.pass")) / n_passes

    out = {}
    for m in OPERATOR_MODULES:
        for k in ("build", "exec"):
            out[f"operators.{m}.{k}_s"] = per_pass(f"operators.{m}.{k}")
    out["materialize.release_s"] = per_pass("materialize.release")
    out["materialize.pins"] = sum(s["pins"] for runs in client.status.values()
                                  for s in runs[-n_passes:]) / n_passes
    out["sources.wire.publish_s"] = statistics.median(
        tr.durations("sources.wire.publish", under="batch.pass"))
    last = [runs[-1] for runs in client.status.values()]
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
        out[f"spark.{k}"] = sum(s[k] for s in last)
    return out
