"""Tests of the benchmark's own logic; no Spark session needed.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import batch
import common
import datagen
import stream

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _wire_file(path: str, ids: list[int], start_us: int) -> None:
    """A published-topic file in the Kafka wire layout."""
    n = len(ids)
    headers = [[{"key": "wrapped_dek", "value": b"w"}, {"key": "mac", "value": b"m"},
                {"key": "event_id", "value": str(i).encode()},
                {"key": "event_type", "value": b"click"}] for i in ids]
    pq.write_table(pa.table({
        "key": pa.array([b"k"] * n),
        "value": pa.array([b"v"] * n),
        "topic": pa.array(["t"] * n),
        "partition": pa.array([0] * n, pa.int32()),
        "offset": pa.array(range(n), pa.int64()),
        "timestamp": pa.array([start_us + 60_000_000 * j for j in range(n)][::-1],
                              pa.timestamp("us", tz="UTC")),
        "timestampType": pa.array([0] * n, pa.int32()),
        "headers": pa.array(headers, pa.list_(pa.struct([("key", pa.string()),
                                                         ("value", pa.binary())]))),
    }), path)


@pytest.fixture
def topic(tmp_path):
    d = tmp_path / "published"
    d.mkdir()
    # written out of time order: staging must restore it
    _wire_file(str(d / "part-00001.parquet"), list(range(20, 40)), 1_704_100_000_000_000)
    _wire_file(str(d / "part-00000.parquet"), list(range(0, 20)), 1_704_067_200_000_000)
    return str(d)


def test_same_seed_same_tables(tmp_path):
    sizes = datagen.Sizes.for_sf(0.001)
    a = datagen.generate(str(tmp_path / "a"), 7, sizes)
    datagen.generate(str(tmp_path / "b"), 7, sizes)
    datagen.generate(str(tmp_path / "c"), 8, sizes, only=("events",))
    assert set(a) == set(datagen.TABLES)
    for t in datagen.TABLES:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "events.parquet").equals(
        pq.read_table(tmp_path / "c" / "events.parquet"))


def test_same_seed_same_segments_and_schedule(topic, tmp_path):
    a = stream.stage_copies(topic, str(tmp_path / "a"), 2)
    b = stream.stage_copies(topic, str(tmp_path / "b"), 2)
    assert len(a) == 2 and len(a[0]) == 2 * stream.SLICES
    for pa_, pb in zip(sum(a, []), sum(b, [])):
        assert open(pa_, "rb").read() == open(pb, "rb").read()

    def schedule(seed, paths):
        rng = np.random.default_rng([seed, 1])
        return stream.paced_schedule(paths, 0.1, rng, 0.25, 2, "paced")

    sa, ra = schedule(5, a[1])
    sb, rb = schedule(5, b[1])
    strip = lambda s: [(t, os.path.basename(p), n) for t, p, n in s]  # noqa: E731
    assert strip(sa) == strip(sb) and ra and [os.path.basename(p) for p in ra] == [
        os.path.basename(p) for p in rb]
    assert len(sa) == len(a[1]) + len(ra)
    # a fixed rate: first deliveries one interval apart
    firsts = [t for t, _, n in sa if "redeliver" not in n]
    assert np.allclose(np.diff(firsts), 0.1)


def test_staged_copies_keep_time_order_and_shift(topic, tmp_path):
    copies = stream.stage_copies(topic, str(tmp_path / "s"), 2)
    ranges = stream._segment_ranges(sum(copies, []))
    spans = [ranges[os.path.basename(p)] for p in sum(copies, [])]
    assert all(hi < lo2 for (_, hi), (lo2, _) in zip(spans, spans[1:]))
    ids0 = np.concatenate([stream.segment_ids(pq.read_table(p)) for p in copies[0]])
    ids1 = np.concatenate([stream.segment_ids(pq.read_table(p)) for p in copies[1]])
    assert sorted(ids0) == list(range(40))
    assert sorted(ids1) == [i + stream.ID_SHIFT for i in range(40)]
    lo0 = ranges[os.path.basename(copies[0][0])][0]
    lo1 = ranges[os.path.basename(copies[1][0])][0]
    assert lo1 - lo0 == stream.TIME_SHIFT_US


@pytest.mark.parametrize("n,p", [(5, None), (19, None), (20, 50.0), (39, 50.0),
                                 (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
                                 (1000, 99.0)])
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert common.tail_percentile(n) == p


def test_lag_and_tail_on_synthetic_schedule():
    deliveries = [{"name": f"s{i}", "due": 100.0 + 0.1 * i} for i in range(100)]
    lag = {f"s{i}": 0.5 + 0.01 * i for i in range(100)}  # 0.50 .. 1.49 s
    done = {d["name"]: d["due"] + lag[d["name"]] for d in deliveries}
    lags = stream.segment_lags(deliveries, done, now=1000.0)
    assert np.allclose(lags, [0.5 + 0.01 * i for i in range(100)])
    s = common.summarize(lags)
    assert s["n"] == 100 and s["tail_p"] == 90.0
    assert s["median"] == pytest.approx(0.995)
    assert s["tail"] == pytest.approx(1.39)  # 90th of 100: 10 samples beyond
    del done["s99"]  # never consumed: still waiting at "now"
    assert stream.segment_lags(deliveries, done, now=1000.0)[-1] == pytest.approx(1000.0 - 109.9)
    few = common.summarize(lags[:12])
    assert few["tail_p"] is None and few["tail"] == max(lags[:12])


def test_backlog_counts_delivered_but_unfinished():
    deliveries = [{"name": f"s{i}", "at": float(i)} for i in range(4)]
    done = {"s0": 0.5, "s1": 3.5, "s2": 3.5}  # s3 never finished
    assert stream.backlog_max(deliveries, done) == 3


def test_corrupted_query_output_counts_in_error_rate():
    compare = batch.load_compare(ROOT)
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 0.25, 0.125]})
    good = want.iloc[::-1].reset_index(drop=True)
    corrupt = good.copy()
    corrupt.loc[0, "v"] = 9.0
    problems = {"q_good": compare("q_good", good, want),
                "q_bad": compare("q_bad", corrupt, want)}
    assert problems["q_good"] == [] and problems["q_bad"]
    attempted, failed, bad = batch.account(n_passes=3, n_ops=5, raised=1, problems=problems)
    assert bad == ["q_bad"]
    assert (attempted, failed) == (15, 4)  # one raise + q_bad in each of 3 passes


def _judge(**kw):
    names = ["paced-c00-s000.parquet", "paced-c00-s001.parquet",
             "paced-redeliver-c00-s000.parquet"]
    hour = 3_600_000_000
    ranges = {"c00-s000.parquet": (0, hour - 1), "c00-s001.parquet": (hour, 2 * hour - 1)}
    args = dict(names=names, done={n: 1.0 for n in names},
                got_windows={(0, "click"): 2, (hour, "click"): 1},
                want_windows={(0, "click"): 2, (hour, "click"): 1},
                got_ids=[0, 2, 4], want_ids={0: 10, 2: 20, 4: hour + 5},
                ranges=ranges, late_dedup=2, late_windows=0, late_allowed=2)
    args.update(kw)
    return stream.judge(**args)


def test_stream_judge_passes_a_clean_run():
    r = _judge()
    assert r["correct"] and r["failed"] == 0 and r["attempted"] == 3


def test_segment_never_in_output_counts_in_error_rate():
    r = _judge(done={"paced-c00-s000.parquet": 1.0, "paced-redeliver-c00-s000.parquet": 1.0})
    assert not r["correct"]
    assert r["failed"] == 1 and r["bad_segments"] == ["paced-c00-s001.parquet"]


def test_wrong_window_or_lost_event_fails_its_segments():
    hour = 3_600_000_000
    r = _judge(got_windows={(0, "click"): 2, (hour, "click"): 2})
    assert r["bad_segments"] == ["paced-c00-s001.parquet"] and not r["correct"]
    r = _judge(got_ids=[0, 2])
    assert r["bad_segments"] == ["paced-c00-s001.parquet"]


def test_duplicated_verified_event_fails_its_segment():
    r = _judge(got_ids=[0, 2, 4, 4])
    assert not r["correct"] and r["bad_segments"] == ["paced-c00-s001.parquet"]
    assert r["failed"] == 1 and r["duplicate_verified_events"] == 1


def test_late_rows_only_from_redelivered_segments():
    for kw in ({"late_dedup": 3}, {"late_windows": 1}):
        r = _judge(**kw)
        assert not r["correct"] and r["failed"] == 1
        assert r["bad_segments"] == ["paced-redeliver-c00-s000.parquet"]


def test_live_heap_reads_collections_after_the_reset(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s] Using G1\n"
        "[1.500s] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 900M->700M(2048M) 5.1ms\n"
        "[8.341s] GC(8) Pause Young (Concurrent Start) (Metadata GC Threshold) 156M->52M(2048M) 17.0ms\n"
        "[8.341s] GC(9) Concurrent Mark Cycle\n"
        "[8.388s] GC(9) Pause Remark 56M->56M(2048M) 7.7ms\n"
        "[9.000s] GC(10) Pause Young (Normal) (G1 Evacuation Pause) 1G->400M(2G) 3.0ms\n"
        "[9.100s] GC(11) Pause Young (Normal) (G1 Evacuation Pause) 500M->2048K(2G) 3.0ms\n")
    assert common.live_heap_mb(str(log), 8.0) == (400.0, 4)
    assert common.live_heap_mb(str(log), 0.0) == (700.0, 5)
    assert common.live_heap_mb(str(log), 10.0) == (0.0, 0)


def test_tracer_self_time_subtracts_children():
    tr = common.Tracer("t", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    spans = tr.spans
    outer = spans[0]["end"] - spans[0]["start"]
    inner = sum(s["end"] - s["start"] for s in spans[1:])
    st = tr.self_times()
    assert st["outer"] == pytest.approx(outer - inner)
    assert st["inner"] == pytest.approx(inner)
    assert all(s["run"] == "t" for s in spans) and spans[1]["parent"] == 0
    off = common.Tracer("t", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []
