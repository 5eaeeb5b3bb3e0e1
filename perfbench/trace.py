"""Pure helpers of the benchmark: percentiles, checkpoint logs, event logs.

Nothing here touches Spark; everything reads plain files or lists so the
helpers can be tested on tiny synthetic inputs (``test_trace.py``).

Time stamps are epoch milliseconds throughout: that is what Spark writes
into its event log and progress records, and what ``os.stat`` gives for
the checkpoint's commit files (converted).
"""

from __future__ import annotations

import json
import math
import os
import statistics
from datetime import datetime

# A percentile other than the median is reported only when at least this
# many samples lie beyond it; below that the tail is a handful of values.
MIN_BEYOND = 10


def percentile(values, pct: float):
    """Nearest-rank percentile of ``values`` (``pct`` in 0..100).

    Returns None when fewer than ``MIN_BEYOND`` samples lie strictly
    above the reported rank, unless ``pct`` is 50: the median is always
    reported, with its sample count beside it.
    """
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return None
    if pct == 50:
        return statistics.median(vals)
    rank = max(1, math.ceil(pct / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return vals[rank - 1]


def median(values):
    vals = list(values)
    return statistics.median(vals) if vals else None


def half_trend(values) -> float | None:
    """Within-run trend: median of the second half over the first half,
    minus one. Negative means the later half was smaller."""
    vals = list(values)
    if len(vals) < 2:
        return None
    h = len(vals) // 2
    first, second = statistics.median(vals[:h]), statistics.median(vals[h:])
    return second / first - 1.0 if first else None


# ---------------------------------------------------------------------------
# Streaming checkpoint: which file went into which micro-batch, and when
# each micro-batch committed.
# ---------------------------------------------------------------------------


def _log_entries(path: str):
    """JSON entries of one metadata-log file (first line is a version)."""
    with open(path, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    for line in lines[1:]:
        line = line.strip()
        if line:
            yield json.loads(line)


def file_batches(checkpoint: str) -> dict[str, int]:
    """``{file name: batchId}`` from the file source's ``sources/0`` log.

    The log holds one file per batch plus periodic ``N.compact`` files
    that repeat every earlier entry; each entry carries its own batchId,
    so reading every file and keying on the path is exact either way.
    """
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        for e in _log_entries(os.path.join(d, name)):
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times_ms(checkpoint: str) -> dict[int, float]:
    """``{batchId: commit time}`` from the ``commits`` log's file times.

    The commit file of a batch is written last, after every sink of the
    batch finished; its modification time is when its output became
    committed.
    """
    d = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e6
    return out


def event_latencies_ms(
    files: list[tuple[str, float, int]],
    batch_of: dict[str, int],
    committed_at: dict[int, float],
) -> tuple[list[float], int]:
    """Per-event latency from each file's due time to its batch commit.

    ``files`` is ``[(name, due_ms, events)]``. Every event of a file
    shares its file's latency, so the result holds ``events`` copies of
    it. Files that no committed batch consumed are returned as a count
    (the caller decides whether that is a failure).
    """
    lat: list[float] = []
    missing = 0
    for name, due, n in files:
        b = batch_of.get(name)
        if b is None or b not in committed_at:
            missing += n
            continue
        lat.extend([committed_at[b] - due] * n)
    return lat, missing


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def iso_ms(ts: str) -> float:
    """Progress ``timestamp`` (ISO-8601, UTC, 'Z') to epoch ms."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def batch_intervals(progress: list[dict]) -> list[tuple[int, float, float]]:
    """``[(batchId, start_ms, end_ms)]`` of data batches from progress
    records: a trigger starts at ``timestamp`` and lasts
    ``durationMs.triggerExecution``."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        t0 = iso_ms(p["timestamp"])
        out.append((int(p["batchId"]), t0, t0 + p["durationMs"]["triggerExecution"]))
    return sorted(out)


# ---------------------------------------------------------------------------
# Spark event log (uncompressed, non-rolling JSON lines)
# ---------------------------------------------------------------------------

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def parse_event_log(path: str) -> dict:
    """Reduce an event log to jobs, stages and SQL executions.

    Returns ``{"jobs": {id: {...}}, "stages": {id: {...}}, "sql": {id:
    {...}}}``: jobs with their submission time and stage ids; stages that
    actually ran (skipped stages are never submitted) with their task
    count and summed task metrics; SQL executions with start and end
    times and their physical plan text.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "stage_ids": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerStageSubmitted":
                stages.setdefault(
                    ev["Stage Info"]["Stage ID"],
                    dict(tasks=0, run_ms=0, gc_ms=0, shuffle_write=0, spill=0),
                )
            elif kind == "SparkListenerTaskEnd":
                st = stages.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                if st is None or not m:
                    continue
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
            elif kind == SQL_START:
                sql[ev["executionId"]] = {
                    "start": ev["time"],
                    "end": None,
                    "plan": ev.get("physicalPlanDescription", ""),
                }
            elif kind == SQL_END and ev["executionId"] in sql:
                sql[ev["executionId"]]["end"] = ev["time"]
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _label_of(t: float, intervals) -> object:
    for label, t0, t1 in intervals:
        if t0 <= t <= t1:
            return label
    return None


def attribute(log: dict, intervals) -> dict:
    """Sum the event log's work per labelled time interval.

    ``intervals`` is ``[(label, start_ms, end_ms)]``. A job belongs to
    the interval holding its submission time, and a stage to the first
    job that ran it. Time is the only link that survives the fan-out's
    thread pool: those jobs do not carry the streaming batch id as a
    local property. Returns ``{label: {"jobs", "stages", "tasks",
    "shuffle_write", "spill", "gc_ms", "run_ms", "first_job_run_ms"}}``,
    the last being the executor time of the interval's first job.
    """
    keys = ("tasks", "shuffle_write", "spill", "gc_ms", "run_ms")
    out = {
        label: dict(jobs=0, stages=0, first_job_run_ms=None, **dict.fromkeys(keys, 0))
        for label, _, _ in intervals
    }
    counted: set[int] = set()
    for jid in sorted(log["jobs"]):  # job ids grow in submission order
        job = log["jobs"][jid]
        label = _label_of(job["start"], intervals)
        if label is None:
            continue
        acc = out[label]
        acc["jobs"] += 1
        job_run = 0
        for sid in job["stage_ids"]:
            st = log["stages"].get(sid)
            if st is None or sid in counted:
                continue  # skipped, or already run by an earlier job
            counted.add(sid)
            acc["stages"] += 1
            for k in keys:
                acc[k] += st[k]
            job_run += st["run_ms"]
        if acc["jobs"] == 1:
            acc["first_job_run_ms"] = job_run
    return out


def sink_durations(log: dict, sinks: dict[str, str], intervals) -> dict:
    """Wall time of each sink's SQL execution per interval.

    ``sinks`` maps a sink name to the directory name its plan writes
    into (``/<dir>/epoch=``); the physical plan of a write names its
    output path. Returns ``{sink: [ms per interval that wrote it]}``.
    """
    out: dict[str, list[float]] = {s: [] for s in sinks}
    for ex in log["sql"].values():
        if ex["end"] is None or _label_of(ex["start"], intervals) is None:
            continue
        for sink, d in sinks.items():
            if f"/{d}/epoch=" in ex["plan"]:
                out[sink].append(ex["end"] - ex["start"])
                break
    return out


# Per-operation layer name -> key of :func:`attribute`'s result.
PER_OP = {
    "job.jobs_per_op": "jobs",
    "job.stages_per_op": "stages",
    "job.tasks_per_op": "tasks",
    "job.executor_ms_per_op": "run_ms",
    "job.shuffle_bytes_per_op": "shuffle_write",
    "job.spill_bytes_per_op": "spill",
    "job.gc_ms_per_op": "gc_ms",
}


def per_op_layers(work: dict) -> dict[str, float]:
    """Medians over operations (micro-batches or queries) of the work
    :func:`attribute` found for each, and the operation count."""
    out = {name: median(w[key] for w in work.values()) for name, key in PER_OP.items()}
    out["job.ops"] = len(work)
    return out


# ---------------------------------------------------------------------------
# Streams: backlog and output files
# ---------------------------------------------------------------------------


def backlog_at(files, batch_of: dict[str, int], intervals, t_ms: float) -> int:
    """Files due by ``t_ms`` that no micro-batch started by then had taken.

    ``files`` is ``[(name, due_ms, events)]``; ``intervals`` is
    ``[(batchId, start_ms, end_ms)]``.
    """
    started = {b: t0 for b, t0, _ in intervals}
    return sum(
        1 for name, due, _ in files
        if due <= t_ms and started.get(batch_of.get(name), float("inf")) > t_ms
    )


def files_per_batch(batch_of: dict[str, int], intervals) -> list[int]:
    """Input files taken by each data micro-batch."""
    count: dict[int, int] = {}
    for b in batch_of.values():
        count[b] = count.get(b, 0) + 1
    return [count.get(b, 0) for b, _, _ in intervals]


def written_files(warehouse: str, dirs) -> tuple[dict[int, int], dict[int, int]]:
    """Data files and bytes each micro-batch wrote, from the
    ``<dir>/epoch=<batchId>/...`` layout of the fan-out's sinks."""
    files: dict[int, int] = {}
    nbytes: dict[int, int] = {}
    for d in dirs:
        root = os.path.join(warehouse, d)
        for epoch in os.listdir(root):
            if not epoch.startswith("epoch="):
                continue
            b = int(epoch[len("epoch="):])
            for dirpath, _, names in os.walk(os.path.join(root, epoch)):
                for name in names:
                    if name.startswith("part-"):
                        files[b] = files.get(b, 0) + 1
                        nbytes[b] = nbytes.get(b, 0) + os.path.getsize(
                            os.path.join(dirpath, name)
                        )
    return files, nbytes
