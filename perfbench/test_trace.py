"""Tests of the benchmark's pure helpers, on tiny synthetic inputs.

    python3 -m pytest perfbench/test_trace.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import trace

# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    vals = list(range(1, 101))  # p90 at rank 90 leaves exactly 10 above
    assert trace.percentile(vals, 90) == 90
    assert trace.percentile(vals[:99], 90) is None  # rank 90 of 99 leaves 9
    assert trace.percentile(vals, 99) is None
    assert trace.percentile(list(range(1000)), 99) == 989


def test_median_is_always_reported():
    assert trace.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert trace.percentile([], 50) is None


def test_half_trend_compares_second_half_with_first():
    assert trace.half_trend([10, 10, 8, 8]) == pytest.approx(-0.2)
    assert trace.half_trend([5]) is None


# ---------------------------------------------------------------------------
# Checkpoint logs -> per-event latency
# ---------------------------------------------------------------------------


def _write_log(path, entries):
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("v1\n")
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def _entry(name, batch):
    return {"path": f"file:///in/{name}", "timestamp": 0, "batchId": batch}


@pytest.fixture
def checkpoint(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    (tmp_path / "commits").mkdir()
    # batches 0-1 folded into a compact file, batch 2 on its own
    _write_log(src / "1.compact", [_entry("a.json", 0), _entry("b.json", 1), _entry("c.json", 1)])
    _write_log(src / "2", [_entry("d.json", 2)])
    for batch, t_ms in ((0, 10_000), (1, 12_000)):  # batch 2 never committed
        f = tmp_path / "commits" / str(batch)
        f.write_text("v1\n{}\n")
        os.utime(f, ns=(t_ms * 1_000_000, t_ms * 1_000_000))
    (tmp_path / "commits" / ".1.crc").write_text("")
    return str(tmp_path)


def test_file_batches_reads_compact_and_plain_logs(checkpoint):
    assert trace.file_batches(checkpoint) == {
        "a.json": 0, "b.json": 1, "c.json": 1, "d.json": 2,
    }


def test_latency_runs_from_due_time_to_batch_commit(checkpoint):
    files = [("a.json", 9_000.0, 2), ("b.json", 9_500.0, 1), ("c.json", 11_000.0, 3),
             ("d.json", 11_500.0, 4)]
    lat, missing = trace.event_latencies_ms(
        files, trace.file_batches(checkpoint), trace.commit_times_ms(checkpoint)
    )
    # a: 2 events x (10000 - 9000); b: 1 x (12000 - 9500); c: 3 x (12000 - 11000)
    assert sorted(lat) == [1_000.0] * 5 + [2_500.0]
    assert missing == 4  # d.json's batch has no commit


def test_backlog_counts_files_no_started_batch_took():
    files = [("a", 0.0, 1), ("b", 100.0, 1), ("c", 200.0, 1), ("d", 300.0, 1)]
    batch_of = {"a": 0, "b": 0, "c": 1, "d": 1}
    intervals = [(0, 150.0, 180.0), (1, 320.0, 400.0)]
    assert trace.backlog_at(files, batch_of, intervals, 250.0) == 1  # c waits
    assert trace.backlog_at(files, batch_of, intervals, 350.0) == 0
    assert trace.files_per_batch(batch_of, intervals) == [2, 2]


def test_batch_intervals_skip_empty_batches():
    progress = [
        {"batchId": 3, "timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 5,
         "durationMs": {"triggerExecution": 250}},
        {"batchId": 4, "timestamp": "2026-01-01T00:00:02.000Z", "numInputRows": 0,
         "durationMs": {"triggerExecution": 3}},
    ]
    ((b, t0, t1),) = trace.batch_intervals(progress)
    assert b == 3 and t1 - t0 == 250
    assert t0 == trace.iso_ms("2026-01-01T00:00:01Z")


# ---------------------------------------------------------------------------
# Event log -> work per interval
# ---------------------------------------------------------------------------


def _task_end(stage, run_ms, gc=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
        },
    }


def _stage(stage, t):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage, "Submission Time": t}}


@pytest.fixture
def event_log(tmp_path):
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        # interval "b0": job 0 (stages 0, 1), then job 1 whose stage 1 is
        # reused (skipped) and stage 2 runs
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
         "Stage IDs": [0, 1], "Properties": {}},
        _stage(0, 1_001), _task_end(0, 40), _task_end(0, 60, gc=5),
        _stage(1, 1_050), _task_end(1, 10, shuffle=100),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_100},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_200,
         "Stage IDs": [1, 2, 3], "Properties": {}},
        _stage(2, 1_201), _task_end(2, 5),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_300},
        {"Event": trace.SQL_START, "executionId": 7, "time": 1_150,
         "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand "
                                    "file:/w/notifications/epoch=4, false"},
        {"Event": trace.SQL_END, "executionId": 7, "time": 1_290},
        # interval "b1": one job; a job outside every interval is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2_000,
         "Stage IDs": [4], "Properties": {}},
        _stage(4, 2_001), _task_end(4, 3),
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 9_000,
         "Stage IDs": [5], "Properties": {}},
        _stage(5, 9_001), _task_end(5, 1_000),
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(path)


def test_attribute_assigns_jobs_and_stages_by_time(event_log):
    log = trace.parse_event_log(event_log)
    work = trace.attribute(log, [("b0", 900, 1_500), ("b1", 1_900, 2_500)])
    b0, b1 = work["b0"], work["b1"]
    assert (b0["jobs"], b0["stages"], b0["tasks"]) == (2, 3, 4)
    assert b0["run_ms"] == 115 and b0["gc_ms"] == 5
    assert b0["shuffle_write"] == 100 and b0["spill"] == 28
    assert b0["first_job_run_ms"] == 110  # job 0 alone: stages 0 and 1
    assert (b1["jobs"], b1["stages"], b1["tasks"], b1["run_ms"]) == (1, 1, 1, 3)
    per_op = trace.per_op_layers(work)
    assert per_op["job.ops"] == 2 and per_op["job.jobs_per_op"] == 1.5


def test_sink_time_comes_from_the_write_path_in_the_plan(event_log):
    log = trace.parse_event_log(event_log)
    sinks = {"notifications": "notifications", "flights": "flights"}
    out = trace.sink_durations(log, sinks, [("b0", 900, 1_500)])
    assert out == {"notifications": [140], "flights": []}


def test_written_files_per_epoch(tmp_path):
    for epoch, n in ((0, 2), (3, 1)):
        d = tmp_path / "flights" / f"epoch={epoch}" / "flight_date=2024-01-01"
        d.mkdir(parents=True)
        for i in range(n):
            (d / f"part-{i}.parquet").write_bytes(b"x" * 10)
        (d / "_SUCCESS").write_text("")
    files, nbytes = trace.written_files(str(tmp_path), ["flights"])
    assert files == {0: 2, 3: 1} and nbytes == {0: 20, 3: 10}


# ---------------------------------------------------------------------------
# BENCHMARK.json names exactly what run.py prints
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_printed_metrics():
    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.workloads())
