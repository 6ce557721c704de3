"""Self-tests of the benchmark harness (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(tmp_path, seed: int, tag: str) -> dict[str, dict[str, str]]:
    base = tmp_path / f"{tag}-{seed}"
    gen.write_history(str(base / "history"), 300, seed)
    gen.write_feed(str(base / "feed"), 3, 40, seed)
    gen.write_corpus(str(base / "corpus"), 60, 30, seed)
    return {k: _digest(str(base / k)) for k in ("history", "feed", "corpus")}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _generate(tmp_path, 5, "a")
    b = _generate(tmp_path, 5, "b")
    c = _generate(tmp_path, 6, "c")
    assert a == b
    for kind in a:
        assert a[kind].keys() == c[kind].keys()
        assert a[kind] != c[kind], kind


def test_feed_changesets_advance_with_the_sequence(tmp_path):
    facts = gen.write_feed(str(tmp_path / "feed"), 6, 100, 3)
    first, last = min(facts), max(facts)
    # later sequences open changesets no earlier sequence used, so the
    # upsert table grows through the run
    assert min(facts[last]["changesets"]) > max(facts[first]["changesets"])
    assert all(f["corrupt"] >= 1 for f in facts.values())


def test_cached_generates_once(tmp_path):
    calls = []

    def make(d):
        calls.append(d)
        os.makedirs(d)

    p1, made1 = gen.cached(str(tmp_path), "k", make)
    p2, made2 = gen.cached(str(tmp_path), "k", make)
    assert p1 == p2 and made1 and not made2 and len(calls) == 1


def test_every_printed_metric_is_declared_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert run.E2E_UNITS == e2e
    assert run.per_layer_units() == per_layer
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def test_open_loop_schedule_ignores_the_consumer():
    """Deliveries follow the precomputed due times even when the consumer
    (here: a `send` that blocks on a commit that never comes in time)
    stalls; a late delivery is recorded as lateness, never shifts later
    due times."""
    t0 = time.perf_counter() + 0.05
    due = workloads.schedule(t0, 0.1, [10, 11, 12, 13])
    assert [round(due[s] - t0, 6) for s in (10, 11, 12, 13)] == [0.0, 0.1, 0.2, 0.3]
    sent: dict[int, float] = {}
    committed = threading.Event()

    def send(seq):
        committed.wait(0.15 if seq == 11 else 0.0)  # a stall on one sequence

    worker = threading.Thread(target=workloads.open_loop,
                              args=(due, send, sent, threading.Event()))
    worker.start()
    worker.join(timeout=5)
    assert not worker.is_alive()
    assert workloads.schedule(t0, 0.1, [10, 11, 12, 13]) == due
    assert sent[10] - due[10] < 0.05
    assert sent[12] - due[12] >= 0.0 and sent[13] - due[13] < 0.05


CANNED_EVENT_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "operators.stats"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "3f1c-run-id"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000},
        "Memory Bytes Spilled": 1_000_000, "Disk Bytes Spilled": 0}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor CPU Time": 1_000_000_000, "JVM GC Time": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 2_000_000}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
        "Executor CPU Time": 4_000_000_000, "JVM GC Time": 100}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
        "Executor CPU Time": 9_000_000_000}},
]


def test_event_log_parser_aggregates_per_job_group():
    lines = [json.dumps(e) + "\n" for e in CANNED_EVENT_LOG]
    out = tracing.parse_event_log(lines, {"3f1c-run-id": "streaming.stats_stream"})
    assert set(out) == {"operators.stats", "streaming.stats_stream"}
    s = out["operators.stats"]
    assert s == {"jobs": 1, "tasks": 2, "cpu_s": 3.0, "gc_s": 0.5,
                 "shuffle_mb": 3.0, "spill_mb": 3.0}
    assert out["streaming.stats_stream"]["cpu_s"] == 4.0
    assert out["streaming.stats_stream"]["jobs"] == 1


CANNED_PROGRESS = [
    {"id": "q", "runId": "r", "batchId": 0, "numInputRows": 203,
     "durationMs": {"addBatch": 3000, "queryPlanning": 120, "walCommit": 40,
                    "triggerExecution": 3300},
     "stateOperators": [{"numRowsTotal": 50, "memoryUsedBytes": 2_000_000}]},
    {"id": "q", "runId": "r", "batchId": 1, "numInputRows": 0,
     "durationMs": {"addBatch": 900, "triggerExecution": 1000},
     "stateOperators": [{"numRowsTotal": 0, "memoryUsedBytes": 1_000_000}]},
    {"id": "q", "runId": "r", "batchId": 2, "numInputRows": 201,
     "durationMs": {"addBatch": 2000, "queryPlanning": 80, "walCommit": 20,
                    "triggerExecution": 2200},
     "stateOperators": [{"numRowsTotal": 48, "memoryUsedBytes": 3_000_000}]},
]


def test_progress_parser_medians_over_data_batches():
    p = tracing.parse_progress(CANNED_PROGRESS)
    assert p["batches"] == 3 and p["rows"] == 404
    assert p["busy_s"] == 6.5
    assert p["batch_ms_p50"] == 2750 and p["addbatch_ms_p50"] == 2500
    assert p["planning_ms_p50"] == 100 and p["wal_ms_p50"] == 30
    assert p["state_rows"] == 48 and p["state_mb"] == 3.0


def test_self_time_subtracts_child_spans():
    spans = [
        {"name": "operators.stats", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "operators.geometry", "parent": "operators.stats", "start": 1.0, "end": 4.0},
        {"name": "operators.geocode", "parent": "operators.stats", "start": 4.0, "end": 6.0},
    ]
    st = tracing.self_times(spans)
    assert st == {"operators.stats": 5.0, "operators.geometry": 3.0,
                  "operators.geocode": 2.0}


class _FakeQuery:
    def __init__(self, err=None, active=True):
        self.err, self.isActive = err, active

    def exception(self):
        return self.err


def test_a_dead_stream_query_fails_the_wait_at_once():
    import pytest

    ok = {"stats": _FakeQuery(), "errors": _FakeQuery(),
          "tiles": _FakeQuery(active=False)}  # a drained tile updater has stopped by design
    workloads.raise_if_failed(ok)
    for broken in ({**ok, "errors": _FakeQuery(err="boom")},
                   {**ok, "stats": _FakeQuery(active=False)}):
        with pytest.raises(RuntimeError):
            workloads.raise_if_failed(broken)
