"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdcgen import (  # noqa: E402
    CdcStream, Event, agg_oracle, heavy_hitter_ok, join_oracle,
    lww_live_rows, scd2_oracle,
)
from cdc_live import FILES_PER_S, checkpoint_batches, visible_latencies  # noqa: E402
from harness import (  # noqa: E402
    Ledger, call_counters, job_time_split, parse_event_log, pct,
)


def ev(seq, key, deleted=False, status="O", price="1.00", cust=None):
    return Event(seq, key, key % 7 if cust is None else cust, status, price,
                 "2024-01-01 00:00:00.000", "1-URGENT", deleted)


# -- LWW oracle --------------------------------------------------------------

def test_lww_latest_sequence_wins_in_any_arrival_order():
    evs = [ev(5, 1, status="F"), ev(2, 1, status="O"), ev(3, 2)]
    rows = lww_live_rows(evs)
    assert {(r[0], r[2], r[-1]) for r in rows} == {(1, "F", 5), (2, "O", 3)}


def test_lww_tombstone_hides_key_and_later_insert_resurrects():
    assert lww_live_rows([ev(1, 1), ev(2, 1, deleted=True)]) == set()
    rows = lww_live_rows([ev(1, 1), ev(2, 1, deleted=True), ev(3, 1, status="P")])
    assert [(r[0], r[2]) for r in rows] == [(1, "P")]


def test_late_lower_sequence_cannot_resurrect_a_deleted_key():
    assert lww_live_rows([ev(9, 4, deleted=True), ev(3, 4)]) == set()


def test_generator_is_deterministic_and_keeps_its_mix():
    a, b = CdcStream(7, 1000), CdcStream(7, 1000)
    assert a.seed_rows() == b.seed_rows()
    wa, wb = a.batch(5000), b.batch(5000)
    assert wa == wb and a.events == b.events
    assert CdcStream(8, 1000).batch(50) != CdcStream(7, 1000).batch(50)
    new = a.events[1000:]
    deletes = sum(e.deleted for e in new) / len(new)
    assert 0.07 < deletes < 0.13
    assert 0.003 < a.malformed / 5000 < 0.02
    # both envelope shapes are on the wire
    shapes = {"payload" in json.loads(v) for _s, v in wa if v.endswith("}")}
    assert shapes == {True, False}


def test_generator_keeps_a_fact_foreign_key_fixed():
    s = CdcStream(3, 200)
    s.seed_rows()
    s.batch(2000)
    by_key = {}
    for e in s.events:
        assert by_key.setdefault(e.key, e.cust) == e.cust


# -- fold oracles ------------------------------------------------------------

def test_scd2_oracle_versions_close_at_the_next_event():
    evs = [ev(1, 1), ev(4, 1), ev(6, 1, deleted=True), ev(8, 1), ev(2, 2)]
    assert scd2_oracle(evs) == {(1, 1, 4), (1, 4, 6), (1, 8, None), (2, 2, None)}


def test_agg_and_join_oracles():
    evs = [ev(1, 1, status="O", price="1.10", cust=3),
           ev(2, 2, status="O", price="2.20", cust=4),
           ev(3, 2, status="F", price="5.00", cust=4, deleted=True)]
    agg = agg_oracle(evs)
    assert agg["O"][0] == 2 and str(agg["O"][1]) == "3.30" and agg["F"][2:] == (2, 2)
    dim = [(3, "A", 10, "false"), (3, "B", 11, "false"), (4, "C", 10, "true")]
    assert join_oracle(evs, dim) == {(1, 3, "B", 1)}
    assert join_oracle(evs[:2], dim) == {(1, 3, "B", 1), (2, 4, None, 2)}


def test_heavy_hitter_bounds():
    evs = [ev(i, i, cust=1) for i in range(5)] + [ev(9, 9, cust=2)]
    assert heavy_hitter_ok([("1", 4, 5, 1, 6)], evs)
    assert not heavy_hitter_ok([("1", 6, 7, 1, 6)], evs)   # over-estimate
    assert not heavy_hitter_ok([("1", 4, 5, 1, 5)], evs)   # lost an event


# -- percentile rule ---------------------------------------------------------

def test_nearest_rank_percentile():
    vals = [5, 1, 4, 2, 3]
    assert pct(vals, 0.5) == 3
    assert pct(vals, 0.9) == 5
    assert pct(list(range(1, 101)), 0.9) == 90
    assert pct([1, 2, 3, 4], 0.5) == 2  # lower middle: an observed sample
    assert pct([7], 0.99) == 7


def test_ledger_counts_failures_by_class():
    led = Ledger()
    led.record("read")
    led.record("read", FileNotFoundError("gone"))
    led.record("merge", ValueError("x"))
    assert led.n_attempted() == 3 and led.n_failed() == 2
    assert led.failed == {"read": {"FileNotFoundError": 1}, "merge": {"ValueError": 1}}


# -- checkpoint join ---------------------------------------------------------

def _write(path, text, mtime=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _entry(name, bid):
    return json.dumps({"path": f"file:///x/src/{name}", "timestamp": 1, "batchId": bid})


def test_checkpoint_join_to_latency(tmp_path):
    ck = str(tmp_path)
    _write(f"{ck}/sources/0/0", "v1\n" + _entry("f0.json", 0) + "\n")
    _write(f"{ck}/sources/0/1", "v1\n" + _entry("f1.json", 1) + "\n" + _entry("f2.json", 1) + "\n")
    # a compacted log repeats earlier entries; the first batch id wins
    _write(f"{ck}/sources/0/2.compact",
           "v1\n" + "\n".join(_entry(f"f{i}.json", b) for i, b in ((0, 0), (1, 1), (2, 1), (3, 2))) + "\n")
    _write(f"{ck}/commits/0", "v1\n{}", mtime=1000.0)
    _write(f"{ck}/commits/1", "v1\n{}", mtime=1003.5)
    _write(f"{ck}/sources/0/.1.crc", "junk")
    files, commits = checkpoint_batches(ck)
    assert files == {"f0.json": 0, "f1.json": 1, "f2.json": 1, "f3.json": 2}
    assert commits == {0: 1000.0, 1: 1003.5}
    lat = visible_latencies(ck, {"f0.json": 999.0, "f2.json": 1001.0,
                                 "f3.json": 1002.0, "f9.json": 1002.0})
    assert lat == {"f0.json": 1.0, "f2.json": 2.5, "f3.json": None, "f9.json": None}


def test_file_schedule_sweeps_the_trigger_period():
    # the live load's file offsets within the 1 s trigger period must not
    # repeat within a window, or the median latency follows the run's phase
    n = 80
    offsets = {round((i / FILES_PER_S) % 1.0, 6) for i in range(n)}
    assert len(offsets) == n
    assert max(b - a for a, b in zip(sorted(offsets), sorted(offsets)[1:])) < 2.5 / n


# -- event-log parser --------------------------------------------------------

CANNED_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.0.0"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100_000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "merge#1"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
     "Properties": {"spark.jobGroup.id": "merge#1"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor CPU Time": 2_000_000_000, "Executor Run Time": 2500,
        "JVM GC Time": 100, "Input Metrics": {"Bytes Read": 10},
        "Output Metrics": {"Bytes Written": 0},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor CPU Time": 1_000_000_000, "Output Metrics": {"Bytes Written": 50}}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 101_000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 101_500,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "merge#1"}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 102_000},
    # a job outside any benchmark group is ignored
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1,
     "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor CPU Time": 5}},
]


def test_event_log_parser_on_canned_log():
    groups = parse_event_log(json.dumps(e) for e in CANNED_LOG)
    assert set(groups) == {"merge#1"}
    g = groups["merge#1"]
    assert g["jobs"] == 2 and g["tasks"] == 2
    assert g["executor_cpu_s"] == 3.0 and g["executor_run_s"] == 2.5
    assert g["jvm_gc_s"] == 0.1 and g["input_b"] == 10 and g["shuffle_b"] == 7
    assert g["spill_b"] == 3 and g["output_b"] == 50
    assert sorted(g["intervals"]) == [(100.0, 101.0), (101.5, 102.0)]

    span = {"name": "merge", "group": "merge#1", "start": 99.5, "end": 102.5, "wall_s": 3.0}
    (call,) = call_counters([span], groups)
    assert call["job_s"] == 1.5 and call["driver_gap_s"] == 1.5
    assert call["job_s"] + call["driver_gap_s"] == span["wall_s"]


def test_job_time_split_merges_overlapping_jobs():
    span = {"start": 0.0, "end": 10.0}
    assert job_time_split(span, [(1, 4), (2, 5), (7, 8)]) == (5.0, 5.0)
    assert job_time_split(span, []) == (0.0, 10.0)
