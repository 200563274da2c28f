"""``envelope_stream``: the reference pipeline as an open-loop stream.

Set-up publishes the generated ``events`` table as an encrypted wire
topic (``sources.wire.publish_topic``, tamper on: odd event ids carry a
bad MAC and must be dropped), cuts it into time-ordered segments and
makes copies with ``event_id`` and event time shifted per copy, so the
topic stays in event-time order. One generator thread delivers segments
on a fixed schedule that does not wait for the engine (``Generator``).
The engine runs ``read_topic_stream`` -> ``decode_wire`` ->
``stateful_dedup_stream`` into a parquet sink, and, after the timed
phases, ``windowed_counts_stream`` over that sink (``StreamRun``).

Phases: warm (untimed: a paced start, then a burst), paced (one fixed
rate below capacity; measures the lag from a segment's scheduled
delivery to the end of the micro-batch that consumed it), bursts (a
fixed backlog delivered at once; measures verified events per second
while draining it), then a flush segment far ahead in event time, so the
watermark closes every window. A seeded few paced segments are delivered
twice (Pub/Sub's at-least-once case).
"""

from __future__ import annotations

import datetime as dt
import glob
import itertools
import json
import os
import shutil
import statistics
import threading
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import Tracer, peak_memory, reset_peaks, summarize

PUBLISH_FILES = 10  # publish_topic writes this many time-range files ...
SLICES = 10  # ... and staging cuts each into this many segments
SEGMENTS_PER_COPY = PUBLISH_FILES * SLICES
PACED_INTERVAL_S = 0.064  # paced phase: one segment every 0.064 s
WARM_PACED = 10  # warm phase: 10 paced segments, then a burst of ...
WARM_N = SEGMENTS_PER_COPY  # ... the rest of the first copy
N_BURSTS = 3  # burst phase: this many whole-copy backlogs, one at a time
REDELIVER_SHARE = 0.03  # share of paced segments delivered a second time
REDELIVER_DELAY = 20  # ... this many intervals after the original
ID_SHIFT = 10_000_000  # event_id offset per copy (even: keeps MAC parity)
TIME_SHIFT_US = 32 * 86_400 * 1_000_000  # event-time offset per copy
DRAIN_TIMEOUT_S = 60.0
STREAM_SF = 0.032  # events rows = 1e6 * STREAM_SF per copy
PACED_SHARE = 0.4  # the paced phase lasts this share of --seconds


# --- staging ---------------------------------------------------------------


def _shift(tbl: pa.Table, k: int) -> pa.Table:
    """Copy ``k`` of a segment: event time + k*TIME_SHIFT, event_id header
    + k*ID_SHIFT. Timestamps are written as UTC microseconds."""
    ts = pc.cast(tbl["timestamp"], pa.timestamp("us")).cast(pa.int64())
    ts = pc.add(ts, k * TIME_SHIFT_US).cast(pa.timestamp("us", tz="UTC"))
    headers = tbl["headers"].combine_chunks()
    flat = headers.flatten()
    keys, vals = flat.field("key"), flat.field("value")
    mask = pc.equal(keys, "event_id")
    ids = pc.cast(pc.cast(vals.filter(mask), pa.string()), pa.int64())
    new_ids = pc.cast(pc.cast(pc.add(ids, k * ID_SHIFT), pa.string()), pa.binary())
    vals = pc.replace_with_mask(vals, mask, new_ids)
    flat = pa.StructArray.from_arrays([keys, vals], fields=list(flat.type))
    headers = pa.ListArray.from_arrays(headers.offsets, flat)
    out = tbl.set_column(tbl.schema.get_field_index("timestamp"), "timestamp", ts)
    return out.set_column(out.schema.get_field_index("headers"), "headers", headers)


def segment_ids(tbl: pa.Table) -> np.ndarray:
    """event_id of every message in a segment (from its headers)."""
    flat = tbl["headers"].combine_chunks().flatten()
    mask = pc.equal(flat.field("key"), "event_id")
    ids = pc.cast(pc.cast(flat.field("value").filter(mask), pa.string()), pa.int64())
    return ids.to_numpy()


def stage_copies(base_dir: str, stage_dir: str, n_copies: int) -> list[list[str]]:
    """Write ``n_copies`` shifted copies of the published topic as
    segments in event-time order: each published file, sorted by event
    time, is cut into ``SLICES`` segments. Returns paths per copy."""
    files = glob.glob(os.path.join(base_dir, "part-*.parquet"))
    tables = [pq.read_table(f) for f in files]
    tables.sort(key=lambda t: pc.min(t["timestamp"]).value)
    segments = []
    for t in tables:
        t = t.sort_by("timestamp")
        bounds = np.linspace(0, t.num_rows, SLICES + 1).astype(int)
        segments += [t.slice(lo, hi - lo) for lo, hi in zip(bounds[:-1], bounds[1:])]
    os.makedirs(stage_dir, exist_ok=True)
    copies = []
    for k in range(n_copies):
        paths = []
        for j, seg in enumerate(segments):
            path = os.path.join(stage_dir, f"c{k:02d}-s{j:03d}.parquet")
            pq.write_table(_shift(seg, k), path)
            paths.append(path)
        copies.append(paths)
    return copies


def flush_segment(src: str, path: str, k: int) -> None:
    """One verified message ``k`` copies ahead in event time: advances the
    watermark past every delivered window so append mode emits them."""
    row = pq.read_table(src)
    ids = segment_ids(row)
    even = int(np.flatnonzero(ids % 2 == 0)[0])
    pq.write_table(_shift(row.slice(even, 1), k), path)


# --- the generator ---------------------------------------------------------


class Generator:
    """Moves staged segment files into the topic on a fixed schedule.

    The topic directory is a symlink to a generation directory. A single
    segment appears by rename inside the current generation. Segments due
    at the same instant (a burst) appear at once: a new generation
    holding hard links to every file so far plus the new ones replaces
    the symlink in one rename, so no listing sees half a burst."""

    def __init__(self, topic_dir: str):
        self.topic_dir = topic_dir
        self.generations = 0
        os.makedirs(self._generation(0))
        os.symlink(self._generation(0), topic_dir)
        self.deliveries: list[dict] = []  # name, src, due, at, phase
        self._thread: threading.Thread | None = None
        self.error: BaseException | None = None

    def _generation(self, i: int) -> str:
        return f"{self.topic_dir}.gen{i}"

    def _deliver(self, items: list[tuple[str, str]]) -> None:
        """Make the staged files ``items`` (src, name) visible together."""
        cur = self._generation(self.generations)
        if len(items) == 1:
            dst = cur
        else:
            dst = self._generation(self.generations + 1)
            os.makedirs(dst)
            for name in os.listdir(cur):
                os.link(os.path.join(cur, name), os.path.join(dst, name))
        now = time.time()
        for src, name in items:
            tmp = os.path.join(dst, "." + name)  # hidden names are not listed
            shutil.copyfile(src, tmp)
            os.utime(tmp, (now, now))
            os.rename(tmp, os.path.join(dst, name))
        if dst != cur:
            link = self.topic_dir + ".next"
            os.symlink(dst, link)
            os.replace(link, self.topic_dir)
            self.generations += 1

    def run(self, schedule: list[tuple[float, str, str]], phase: str) -> None:
        """``schedule``: (seconds after start, staged path, delivered
        name); entries with the same offset are delivered together."""
        t0 = time.time()
        for offset, group in itertools.groupby(schedule, key=lambda e: e[0]):
            items = [(src, name) for _, src, name in group]
            due = t0 + offset
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self._deliver(items)
            at = time.time()
            self.deliveries += [{"name": name, "src": src, "due": due, "at": at,
                                 "phase": phase} for src, name in items]

    def start(self, schedule, phase: str) -> None:
        def body():
            try:
                self.run(schedule, phase)
            except BaseException as e:  # reported by join()
                self.error = e

        self._thread = threading.Thread(target=body, name="segment-generator")
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        if self.error is not None:
            raise self.error

    def late_max_s(self) -> float:
        return max((d["at"] - d["due"] for d in self.deliveries), default=0.0)


def paced_schedule(paths: list[str], interval: float, rng: np.random.Generator,
                   share: float, delay: int, prefix: str):
    """Fixed-rate schedule; a seeded ``share`` of segments is redelivered
    ``delay`` intervals after its original."""
    sched = [(i * interval, p, f"{prefix}-{os.path.basename(p)}") for i, p in enumerate(paths)]
    n_re = int(round(share * len(paths)))
    picks = sorted(rng.choice(len(paths) - delay, n_re, replace=False)) if n_re else []
    for i in picks:
        p = paths[i]
        sched.append(((i + delay) * interval + interval / 2, p,
                      f"{prefix}-redeliver-{os.path.basename(p)}"))
    sched.sort()
    return sched, [paths[i] for i in picks]


# --- reading the engine's progress ----------------------------------------


def _log_entries(log_dir: str) -> dict[int, list[str]]:
    """A Spark metadata log (one file per batch, or ``N.compact``): the
    JSON lines after each file's version line, by log batch id."""
    out: dict[int, list[str]] = {}
    for f in glob.glob(os.path.join(log_dir, "*")):
        base = os.path.basename(f).removesuffix(".compact")
        if not base.isdigit():
            continue
        try:
            with open(f) as fh:
                out[int(base)] = [x for x in fh.read().splitlines()[1:] if x.startswith("{")]
        except FileNotFoundError:
            continue
    return out


def consumed_files(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. The file source
    numbers its own log; the query's offset log says which source log
    entries each micro-batch covered."""
    source_batch: dict[str, int] = {}
    for lines in _log_entries(os.path.join(checkpoint, "sources", "0")).values():
        for x in lines:
            e = json.loads(x)
            source_batch.setdefault(os.path.basename(e["path"]), e["batchId"])
    upto = sorted((json.loads(lines[-1])["logOffset"], b)
                  for b, lines in _log_entries(os.path.join(checkpoint, "offsets")).items()
                  if lines)
    out = {}
    for name, sb in source_batch.items():
        for log_offset, b in upto:
            if log_offset >= sb:
                out[name] = b
                break
    return out


def _epoch(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """batch id -> wall time the micro-batch finished."""
    return {p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
            for p in progress}


def segment_lags(deliveries: list[dict], done: dict[str, float], now: float) -> list[float]:
    """Scheduled delivery -> end of the micro-batch that consumed the
    segment (``done``), per segment. A segment never consumed counts as
    still waiting at ``now``."""
    return [done.get(d["name"], now) - d["due"] for d in deliveries]


# --- the workload ----------------------------------------------------------


def reference(events: pa.Table, delivered_ids) -> tuple[dict[int, int], dict[tuple, int]]:
    """Batch reference over the delivered messages, from the generated
    events table: verified event_id -> event time (UTC microseconds) for
    the untampered (even-id) events, each counted once, and their counts
    per (1 h window start, event type)."""
    import pandas as pd

    ids = np.unique(np.asarray(list(delivered_ids), dtype=np.int64))
    ids = ids[ids % 2 == 0]
    k, base = ids // ID_SHIFT, ids % ID_SHIFT
    ts = pc.cast(events["ts"], pa.timestamp("us")).cast(pa.int64()).to_numpy()[base]
    ts = ts + k * TIME_SHIFT_US
    types = events["event_type"].to_numpy(zero_copy_only=False)[base]
    hour = 3_600_000_000
    counts = pd.DataFrame({"ws": ts // hour * hour, "et": types}).groupby(["ws", "et"]).size()
    return (dict(zip(ids.tolist(), ts.tolist())),
            {(int(w), e): int(n) for (w, e), n in counts.items()})


def sink_files(sink_dir: str) -> dict[int, list[str]]:
    """batch id -> file names a file sink wrote in that micro-batch."""
    return {b: [os.path.basename(json.loads(x)["path"]) for x in lines]
            for b, lines in _log_entries(os.path.join(sink_dir, "_spark_metadata")).items()}


def progress_stats(progress: list[dict], ids: set[int]) -> dict:
    """Per-layer streaming figures over the micro-batches in ``ids``."""
    ps = [p for p in progress if p["batchId"] in ids]
    fixed = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
    overhead = [sum(p["durationMs"].get(k, 0) for k in fixed) for p in ps]
    add = [p["durationMs"].get("addBatch", 0) for p in ps]
    ops = [p.get("stateOperators", []) for p in ps]
    return {
        "batches": len(ps),
        "overhead_ms": statistics.median(overhead) if overhead else 0.0,
        "add_batch_ms": statistics.median(add) if add else 0.0,
        "state_rows": max((sum(o["numRowsTotal"] for o in op) for op in ops), default=0),
        "state_bytes": max((sum(o["memoryUsedBytes"] for o in op) for op in ops), default=0),
        "late_rows": sum(o.get("numRowsDroppedByWatermark", 0) for op in ops for o in op),
    }


def backlog_max(deliveries: list[dict], done: dict[str, float]) -> int:
    """Most segments delivered but not yet consumed, seen at any delivery."""
    ends = [done.get(d["name"], float("inf")) for d in deliveries]
    return max((sum(1 for e, o in zip(ends, deliveries) if o["at"] <= d["at"] < e)
                for d in deliveries), default=0)


class StreamRun:
    """The reference pipeline over one topic directory, fed by one
    generator, as two chained queries:

    - ``<name>_verified``: read_topic_stream -> decode_wire ->
      stateful_dedup_stream, into a parquet sink (write_parquet_sink);
    - ``<name>_windows``: that sink read as a stream ->
      windowed_counts_stream, into a memory sink.

    The engine's two stateful operators each set a watermark, and Spark
    refuses a second watermark in one plan, so the dedup output is handed
    on through the sink, as a deployment would chain two jobs. The
    windows query starts only after the timed phases (``start_windows``)
    and then drains the sink, so it takes no cores from the query being
    timed."""

    def __init__(self, spark, work: str, name: str):
        from dataflow_pubsub_message_encryption_spark.sources import wire
        from dataflow_pubsub_message_encryption_spark.streaming import (
            stateful_dedup_stream,
            write_parquet_sink,
        )

        self.spark, self.work, self.name = spark, work, name
        self.topic = os.path.join(work, f"{name}-topic")
        self.verified_dir = os.path.join(work, f"{name}-verified")
        self.qv, self.qw = f"{name}_verified", f"{name}_windows"
        self.gen = Generator(self.topic)
        # keep one sink log file per micro-batch, so outputs map to batches
        spark.conf.set("spark.sql.streaming.fileSink.log.compactInterval", "1000000")
        ckpt = os.path.join(work, f"{self.qv}-ckpt")
        decoded = wire.decode_wire(
            wire.read_topic_stream(spark, self.topic, max_files_per_trigger=100_000))
        verified = stateful_dedup_stream(decoded).select("event_id", "ts", "event_type")
        query = write_parquet_sink(verified, self.verified_dir, ckpt).queryName(self.qv).start()
        self.queries = {self.qv: (query, ckpt)}

    def start_windows(self) -> None:
        from dataflow_pubsub_message_encryption_spark.streaming import windowed_counts_stream

        ckpt = os.path.join(self.work, f"{self.qw}-ckpt")
        counts = windowed_counts_stream(
            self.spark.readStream.schema("event_id BIGINT, ts TIMESTAMP, event_type STRING")
            .parquet(self.verified_dir))
        query = (counts.writeStream.format("memory").queryName(self.qw)
                 .outputMode("append").option("checkpointLocation", ckpt).start())
        self.queries[self.qw] = (query, ckpt)

    def consumed(self) -> dict[str, dict[str, int]]:
        """query name -> (file name -> batch id)."""
        return {q: consumed_files(ckpt) for q, (_, ckpt) in self.queries.items()}

    def phase(self, schedule, label: str) -> None:
        """Deliver ``schedule``, then wait until the verified query has
        consumed every delivered segment (or the drain timeout passes)."""
        self.gen.start(schedule, label)
        self.gen.join()
        names = [d["name"] for d in self.gen.deliveries if d["phase"] == label]
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            done = self.consumed_at()
            if all(n in done for n in names):
                return
            time.sleep(0.05)

    def progress(self) -> dict[str, list[dict]]:
        return {q: [json.loads(p.json) for p in query.recentProgress]
                for q, (query, _) in self.queries.items()}

    def done_at(self) -> dict[str, float]:
        """Segment name -> when its result was complete: the end of the
        last windows micro-batch that read the dedup output of the
        verified micro-batch that consumed the segment. A segment whose
        events were all duplicates is complete when its verified
        micro-batch ends. Segments not yet through are absent."""
        consumed, prog = self.consumed(), self.progress()
        if self.qw not in prog:
            return {}
        ends_v, ends_w = batch_ends(prog[self.qv]), batch_ends(prog[self.qw])
        outputs = sink_files(self.verified_dir)
        read_by = consumed[self.qw]
        batch_done: dict[int, float] = {}
        for b, end in ends_v.items():
            files = outputs.get(b)
            if files is None:
                continue
            if all(f in read_by and read_by[f] in ends_w for f in files):
                batch_done[b] = max([end] + [ends_w[read_by[f]] for f in files])
        return {n: batch_done[b] for n, b in consumed[self.qv].items() if b in batch_done}

    def consumed_at(self) -> dict[str, float]:
        """Segment name -> end of the topic-reading (verified) micro-batch
        that consumed it: the segment's events are decrypted, verified,
        deduplicated and committed to the dedup sink."""
        ends = batch_ends(self.progress()[self.qv])
        return {n: ends[b] for n, b in self.consumed()[self.qv].items() if b in ends}

    def windows(self) -> dict[tuple, int]:
        if not self.spark.catalog.tableExists(self.qw):
            return {}
        rows = self.spark.sql(
            "SELECT unix_micros(window_start) AS ws, event_type, cnt "
            f"FROM {self.qw}").collect()
        return {(r.ws, r.event_type): r.cnt for r in rows}

    def verified_ids(self) -> list[int]:
        return [r.event_id for r in
                self.spark.read.parquet(self.verified_dir).select("event_id").collect()]

    def stop(self) -> None:
        for q, _ in self.queries.values():
            q.stop()


def burst_schedule(paths: list[str], prefix: str):
    return [(0.0, p, f"{prefix}-{os.path.basename(p)}") for p in paths]


def batch_shapes(run: StreamRun, label: str) -> list[tuple]:
    """(batch id, input rows, trigger ms) of the topic-reading query's
    micro-batches that consumed the phase's segments."""
    files = run.consumed()[run.qv]
    ids = {files[d["name"]] for d in run.gen.deliveries
           if d["phase"] == label and d["name"] in files}
    return [(p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"])
            for p in run.progress()[run.qv] if p["batchId"] in ids]


def drain_eps(run: StreamRun, label: str, verified: int) -> float:
    """Verified events per second from the burst's delivery to the end of
    the last verified micro-batch that consumed part of it (or to now, if
    part of it was never consumed)."""
    done, now = run.consumed_at(), time.time()
    ds = [d for d in run.gen.deliveries if d["phase"] == label]
    return verified / (max(done.get(d["name"], now) for d in ds) - min(d["due"] for d in ds))


def _segment_ranges(paths: list[str]) -> dict[str, tuple[int, int]]:
    """Event-time range (UTC microseconds) of each staged segment."""
    out = {}
    for p in paths:
        ts = pq.read_table(p, columns=["timestamp"])["timestamp"]
        ts = pc.cast(ts, pa.timestamp("us", tz="UTC")).cast(pa.int64())
        out[os.path.basename(p)] = (pc.min(ts).as_py(), pc.max(ts).as_py())
    return out


def judge(names: list[str], done: dict[str, float],
          got_windows: dict[tuple, int], want_windows: dict[tuple, int],
          got_ids: list[int], want_ids: dict[int, int],
          ranges: dict[str, tuple[int, int]], late_dedup: int, late_windows: int,
          late_allowed: int) -> dict:
    """Compare the pipeline's outputs with the batch reference and count
    failed segments:

    - a segment fails if it never came through both queries;
    - a window whose count differs fails the segments covering it;
    - a verified event missing, extra or duplicated fails the segment
      holding it;
    - late rows may come only from redelivered segments: the dedup may
      drop no more rows as late than those segments' verified rows
      (``late_allowed``) and the windowed counts may drop none; if
      either drops more, the redelivered segments fail.

    ``ranges`` maps a staged segment to its event-time range; a delivered
    name is ``<phase>-[redeliver-]<staged name>``."""
    hour = 3_600_000_000

    def covering(lo_us: int, hi_us: int) -> set[str]:
        out = set()
        for n in names:
            lo, hi = ranges[n.split("-", 1)[1].replace("redeliver-", "")]
            if lo < hi_us and hi >= lo_us:
                out.add(n)
        return out

    bad = {n for n in names if n not in done}
    bad_windows = {k for k in set(got_windows) | set(want_windows)
                   if got_windows.get(k) != want_windows.get(k)}
    for ws, _ in bad_windows:
        bad |= covering(ws, ws + hour)
    counts = Counter(got_ids)
    dup = len(got_ids) - len(counts)
    dup_ids = {i for i, c in counts.items() if c > 1}
    for i in (set(got_ids) ^ set(want_ids)) | dup_ids:
        t = want_ids.get(i)
        bad |= covering(t, t + 1) if t is not None else {"<unpublished event>"}
    late_ok = late_dedup <= late_allowed and late_windows == 0
    if not late_ok:
        bad |= {n for n in names if "-redeliver-" in n} or {"<late rows>"}
    return {
        "attempted": len(names),
        "failed": len(bad),
        "correct": not bad,
        "bad_segments": sorted(bad)[:10],
        "bad_windows": len(bad_windows),
        "bad_window_sample": [(k, got_windows.get(k), want_windows.get(k))
                              for k in sorted(bad_windows)[:5]],
        "windows": len(got_windows),
        "verified_events": len(got_ids),
        "expected_verified_events": len(want_ids),
        "duplicate_verified_events": dup,
        "late_rows_dedup": late_dedup,
        "late_rows_windows": late_windows,
        "late_rows_allowed": late_allowed,
    }


def delivered_ids(deliveries: list[dict]) -> set[int]:
    """event_id of every message delivered, flush segment excepted."""
    out: set[int] = set()
    for d in deliveries:
        if d["phase"] != "flush":
            out.update(segment_ids(pq.read_table(d["src"])).tolist())
    return out


def check(run: StreamRun, events: pa.Table, flush: tuple[int, int],
          ranges: dict[str, tuple[int, int]], late: dict[str, int],
          late_allowed: int) -> dict:
    """``judge`` over what the run delivered and what its sinks hold.
    ``flush`` is the flush event's (id, time): verified, but its window
    stays open."""
    names = [d["name"] for d in run.gen.deliveries]
    want_ids, want_windows = reference(events, delivered_ids(run.gen.deliveries))
    want_ids[flush[0]] = flush[1]
    return judge(names, run.done_at(), run.windows(), want_windows,
                 run.verified_ids(), want_ids, ranges,
                 late[run.qv], late[run.qw], late_allowed)


def run(ctx) -> dict:
    import datagen
    from common import start_session
    from dataflow_pubsub_message_encryption_spark.sources import wire

    tr: Tracer = ctx.tracer
    t0 = time.perf_counter()
    timeline: dict[str, float] = {}

    def mark(step: str) -> None:
        timeline[step] = time.perf_counter() - t0

    with tr.span("session.start"):
        spark, jvm = start_session("perfbench-stream", ctx.cpus, ctx.driver_mem, ctx.local_dir)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    mark("session")
    data = os.path.join(ctx.work, "data")
    datagen.generate(data, ctx.seed, datagen.Sizes.for_sf(STREAM_SF), only=("events",))
    events = pq.read_table(os.path.join(data, "events.parquet"))
    verified_per_copy = int(np.count_nonzero(events["event_id"].to_numpy() % 2 == 0))

    base = os.path.join(ctx.work, "published")
    with tr.span("sources.wire.publish"):
        n_msgs = wire.publish_topic(spark, data, base, tamper=True, n_files=PUBLISH_FILES)
    mark("publish")
    paced_n = max(20, int(round(ctx.seconds * PACED_SHARE / PACED_INTERVAL_S)))
    n_paced_copies = -(-paced_n // SEGMENTS_PER_COPY)
    n_copies = 1 + n_paced_copies + N_BURSTS
    stage = os.path.join(ctx.work, "staged")
    with tr.span("stage.copies"):
        copies = stage_copies(base, stage, n_copies)
        flush = os.path.join(stage, f"c{n_copies:02d}-flush.parquet")
        flush_segment(copies[0][-1], flush, n_copies)
        flush_id = int(segment_ids(pq.read_table(flush))[0])
        flush_ts = pq.read_table(flush)["timestamp"].cast(pa.int64())[0].as_py()
        ranges = _segment_ranges([p for c in copies for p in c] + [flush])
    mark("stage")

    rs = StreamRun(spark, ctx.work, "envelope")
    rng = np.random.default_rng([ctx.seed, 1])
    warm = copies[0][:WARM_N]
    sched, _ = paced_schedule(warm[:WARM_PACED], PACED_INTERVAL_S, rng, 0.0, 1, "warm")
    sched += [(WARM_PACED * PACED_INTERVAL_S + 1.0, p, f"warm-{os.path.basename(p)}")
              for p in warm[WARM_PACED:]]
    with tr.span("streaming.warm"):
        rs.phase(sched, "warm")
    mark("warm")
    setup_s = time.perf_counter() - t0
    load_timed = os.getloadavg()[0]
    since = reset_peaks(spark, jvm)

    paced_paths = [p for c in copies[1:1 + n_paced_copies] for p in c][:paced_n]
    sched, redelivered = paced_schedule(paced_paths, PACED_INTERVAL_S, rng,
                                        REDELIVER_SHARE, REDELIVER_DELAY, "paced")
    with tr.span("streaming.paced"):
        rs.phase(sched, "paced")
    mark("paced")
    eps, burst_batches = [], []
    for b in range(N_BURSTS):
        label = f"burst{b}"
        with tr.span("streaming.burst"):
            rs.phase(burst_schedule(copies[1 + n_paced_copies + b], label), label)
        eps.append(drain_eps(rs, label, verified_per_copy))
        burst_batches.append(batch_shapes(rs, label))
    mem = peak_memory(spark, jvm, ctx.gc_log, since)
    mark("bursts")

    want_windows = len(reference(events, delivered_ids(rs.gen.deliveries))[1])
    with tr.span("streaming.flush"):
        rs.phase([(0.0, flush, f"flush-{os.path.basename(flush)}")], "flush")
        rs.start_windows()
        deadline = time.time() + DRAIN_TIMEOUT_S
        while len(rs.windows()) < want_windows and time.time() < deadline:
            time.sleep(0.1)
    consumed_at = rs.consumed_at()
    progress = rs.progress()
    rs.stop()
    mark("flush")

    first = [d for d in rs.gen.deliveries if d["phase"] == "paced" and "redeliver" not in d["name"]]
    lag = summarize(segment_lags(first, consumed_at, time.time()))
    redelivered_verified = sum(int(np.count_nonzero(segment_ids(pq.read_table(p)) % 2 == 0))
                               for p in redelivered)
    stats = {q: progress_stats(p, {b["batchId"] for b in p}) for q, p in progress.items()}
    result = check(rs, events, (flush_id, flush_ts), ranges,
                   {q: s["late_rows"] for q, s in stats.items()}, redelivered_verified)
    mark("check")

    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (lag["median"], "s"),
        "latency_tail_s": (lag["tail"], "s"),
        "throughput_per_s": (statistics.median(eps), "1/s"),
        "peak_rss_mb": (mem["total_mb"], "MB"),
    }
    info = {
        "published_messages": n_msgs,
        "segments_per_copy": SEGMENTS_PER_COPY,
        "paced_rate_msgs_per_s": n_msgs / SEGMENTS_PER_COPY / PACED_INTERVAL_S,
        "redelivered_segments": len(redelivered),
        "lag_s": lag,
        "drain_eps": eps,
        "burst_batches": burst_batches,
        "generator_late_max_s": rs.gen.late_max_s(),
        "loadavg_timed_start": load_timed,
        "memory": mem,
        "check": result,
        "timeline_s": timeline,
    }
    layers = {}
    if tr.enabled:
        # the verified query is the one reading the topic
        read = rs.consumed()[rs.qv]
        paced_st = progress_stats(progress[rs.qv], {read[d["name"]] for d in first})
        burst_st = progress_stats(progress[rs.qv], {
            read[d["name"]] for d in rs.gen.deliveries if d["phase"].startswith("burst")})
        layers.update({
            "session.start_s": tr.durations("session.start")[0],
            "sources.wire.publish_s": tr.durations("sources.wire.publish")[0],
            "streaming.batches": paced_st["batches"] + burst_st["batches"],
            "streaming.overhead_ms": paced_st["overhead_ms"],
            "streaming.add_batch_ms": burst_st["add_batch_ms"],
            "streaming.state_rows": sum(s["state_rows"] for s in stats.values()),
            "streaming.state_bytes": sum(s["state_bytes"] for s in stats.values()),
            "streaming.late_rows": sum(s["late_rows"] for s in stats.values()),
            "streaming.backlog_max_segments": backlog_max(
                [d for d in rs.gen.deliveries if d["phase"] == "paced"], consumed_at),
            "generator.late_max_s": rs.gen.late_max_s(),
            "trace.latency_p50_s": lag["median"],
            "trace.throughput_per_s": statistics.median(eps),
        })
    return {"spark": spark, "jvm": jvm, "metrics": metrics, "layers": layers,
            "info": info, "attempted": result["attempted"], "failed": result["failed"],
            "correct": result["correct"], "topic": base, "tampered": True, "data": data}
