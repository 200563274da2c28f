"""Benchmark entry point: run one workload against the engine, check its
outputs, print its metrics.

    python3 perfbench/run.py --workload envelope_stream --seed 1 --seconds 16 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed``; the engine receives only those inputs. Everything the run
writes goes under ``.perfbench_work/`` in the checkout and is removed at
the end, apart from the traced run's span dump. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``); the
line before it is a JSON report with sample counts, the tail percentile
used, the output checks, ``error_rate``, nproc and loadavg.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import common  # noqa: E402
import probes  # noqa: E402
import stream  # noqa: E402

WORKLOADS = ("envelope_stream", "batch_corpus")

# A 2 GB driver heap holds both workloads' inputs many times over and
# leaves most of a 15 GB host to the Python workers and the page cache
# (the engine's own default, 24 GB, exceeds such a host).
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.wire.publish_s": "s",
    "sources.wire.scan_s": "s",
    "sources.wire.decode_s": "s",
    "functions.crypto.unwrap_s": "s",
    "functions.crypto.decrypt_verify_s": "s",
    "functions.crypto.hmac_s": "s",
    "streaming.batches": "count",
    "streaming.overhead_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.late_rows": "count",
    "streaming.backlog_max_segments": "count",
    "streaming.drain_eps_1core": "1/s",
    "generator.late_max_s": "s",
    **{f"operators.{m}.{k}": "s" for m in batch.OPERATOR_MODULES for k in ("build_s", "exec_s")},
    "materialize.pins": "count",
    "materialize.release_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "trace.latency_p50_s": "s",
    "trace.throughput_per_s": "1/s",
}


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: int
    tracer: common.Tracer
    cpus: int = field(default_factory=common.host_cpus)
    driver_mem: str = DRIVER_MEM

    @property
    def local_dir(self) -> str:
        return os.path.join(self.work, "spark-local")

    @property
    def gc_log(self) -> str:
        return os.path.join(self.work, "gc.log")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    common.import_engine(root)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tracer = common.Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(root, work, args.seed, args.seconds, tracer)
    # The heap is committed and touched up front (initial = maximum, pre-
    # touched), as a fixed-heap deployment runs it: all of it is then
    # resident, so the JVM's resident memory outside the heap is its
    # VmHWM less the committed heap. The collector's log gives the live
    # heap (common.peak_memory). No perf-data file: the JVM would write
    # it under /tmp.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={os.environ['TMPDIR']} "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Xlog:gc:file={ctx.gc_log}:uptime' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    load_start = os.getloadavg()[0]

    res = None
    try:
        if args.workload == "envelope_stream":
            res = stream.run(ctx)
        else:
            res = batch.run(ctx)
        if tracer.enabled:
            res["info"]["probe_layers"] = probes.fill_layers(ctx, res)
            tracer.dump(os.path.join(root, ".perfbench_work", f"{run_id}.trace.json"))
    finally:
        if res is not None and res.get("spark") is not None:
            stop_spark(res["spark"])
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": ctx.cpus,
        "driver_mem": ctx.driver_mem,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        "error_rate": res["failed"] / res["attempted"],
        **res["info"],
    }
    if args.trace:
        report["self_time_s"] = tracer.self_times()
        missing = [k for k in PER_LAYER if k not in res["layers"]]
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {k: {"value": float(res["layers"][k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res["metrics"][k][0]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
