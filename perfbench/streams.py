"""The ``stream_live`` workload: the five-sink fan-out, live, at 2,000 events/s.

An open loop: one generator thread writes a file of ``LIVE_FILE_EVENTS``
events every ``LIVE_PERIOD_S`` seconds whatever the query is doing, and a
continuous file stream (``run_kafka_stream``'s shape over a file source)
runs the package's fan-out (``make_fanout_batch``) on them. Each file is
written aside and renamed in, so no batch reads a partial file. An
event's latency runs from its file's due time (not the time the generator
got to it) to the commit of the batch that consumed the file.

Micro-batches hold about 2k events and cost about a second each, nearly
all of it fixed per-batch work (listing, planning, jobs and stages,
commit), so this workload shows changes to per-batch cost.

Warm-up: ``run_file_stream`` itself drains ``WARMUP_EVENTS`` staged
events in ``WARMUP_FILES`` batches (large batches run the per-row code hot
much sooner than live ones do), then the live stream runs
``LIVE_WARMUP_S`` before the timed window. Afterwards the sinks are
checked against the batch operators over the same input.
"""

from __future__ import annotations

import os
import random
import threading
import time

from . import trace
from .common import EventLog

LIVE_FILE_EVENTS = 250
LIVE_PERIOD_S = 0.125  # 250 events / 0.125 s = 2,000 events/s
LIVE_WARMUP_S = 8.0
WARMUP_EVENTS = 200_000
WARMUP_FILES = 4

# Sink name -> warehouse directory make_fanout_batch writes it to.
SINKS = {
    "flights": "flights",
    "rejected_rows": "rejected_rows",
    "notifications": "notifications",
    "airline_partial": "airline_delay_stats_partial",
    "route_partial": "route_delay_stats_partial",
    "hourly_partial": "hourly_delay_stats_partial",
}
# Per-layer name -> micro-batch phase in StreamingQueryProgress.durationMs.
PHASES = {
    "sources.latest_offset_ms": "latestOffset",
    "sources.get_batch_ms": "getBatch",
    "job.wal_commit_ms": "walCommit",
    "job.commit_offsets_ms": "commitOffsets",
    "job.query_planning_ms": "queryPlanning",
    "job.trigger_ms_p50": "triggerExecution",
    "job.add_batch_ms_p50": "addBatch",
}


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def prepare_inputs(run, n_live: int, warmup: str) -> list[str]:
    """Generate ``n_live`` live payloads (returned in arrival order) from
    the package's generators (``scalegen`` events -> ``flight_adapter``
    JSON), and write the warm-up files from the same payloads.

    A live feed arrives in event-time order; the seed breaks ties and
    picks where in the feed to start.
    """
    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.sources.fixtures import load_table
    from flight_events_flink_job_spark.sources.flight_adapter import flight_event_json
    from flight_events_flink_job_spark.sources.scalegen import gen_scale_tables

    gen = run.path("gen")
    gen_scale_tables(run.spark, gen, sf=n_live / 1_000_000, tables=["events"])
    events = load_table(run.spark, gen, "events")
    rows = (
        flight_event_json(events, keep_event_id=True)
        .join(events.select("event_id", "ts"), "event_id")
        .orderBy("ts", F.xxhash64("event_id", F.lit(run.seed)))
        .select("value")
        .collect()
    )
    lines = [r.value for r in rows]
    start = random.Random(run.seed).randrange(len(lines))
    lines = lines[start:] + lines[:start]
    os.makedirs(warmup)
    per_file = WARMUP_EVENTS // WARMUP_FILES
    for i in range(WARMUP_FILES):
        with open(os.path.join(warmup, f"{i:05d}.json"), "w", encoding="utf-8") as fh:
            for j in range(i * per_file, (i + 1) * per_file):
                fh.write(lines[j % len(lines)] + "\n")
    return lines


class Generator(threading.Thread):
    """Open-loop writer: file ``i`` is due at ``t0 + i * LIVE_PERIOD_S``
    (wall-clock seconds) and is written aside, then renamed into ``src``."""

    def __init__(self, lines: list[str], src: str, aside: str, t0: float, n_files: int):
        super().__init__(daemon=True)
        self.lines, self.src, self.aside, self.t0 = lines, src, aside, t0
        self.n_files = n_files
        self.files: list[tuple[str, float, int]] = []  # (name, due_ms, events)
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i in range(self.n_files):
                due = self.t0 + i * LIVE_PERIOD_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                chunk = self.lines[i * LIVE_FILE_EVENTS:(i + 1) * LIVE_FILE_EVENTS]
                name = f"{i:06d}.json"
                tmp = os.path.join(self.aside, name)
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write("\n".join(chunk) + "\n")
                os.rename(tmp, os.path.join(self.src, name))
                self.late_ms.append((time.time() - due) * 1000.0)
                self.files.append((name, due * 1000.0, len(chunk)))
        except BaseException as exc:  # re-raised by the caller
            self.error = exc


# ---------------------------------------------------------------------------
# Checks
# ---------------------------------------------------------------------------


def fingerprint(df) -> tuple[int, int]:
    """Order-insensitive, value-exact fingerprint of a frame: row count and
    the sum of each row's 64-bit hash over all columns (doubles hash by
    their exact bits)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row.n), int(row.h or 0)


def check_outputs(spark, src: str, warehouse: str, n_input: int) -> list[str]:
    """Compare the fan-out's sinks with the batch operators over the same
    input files. Returns the mismatches found (empty when correct)."""
    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.operators.aggregates import (
        airline_stats,
        hourly_stats,
        route_stats,
    )
    from flight_events_flink_job_spark.operators.parse import (
        parse_flight_events,
        valid_flights,
    )
    from flight_events_flink_job_spark.streaming.job import (
        merge_airline_stats,
        merge_hourly_stats,
        merge_route_stats,
    )

    def table(name: str):
        return spark.read.parquet(os.path.join(warehouse, SINKS[name]))

    errors = []
    flights = valid_flights(parse_flight_events(spark.read.text(src))).cache()
    n_flights, n_rejected = table("flights").count(), table("rejected_rows").count()
    if n_flights + n_rejected != n_input:
        errors.append(f"rows: flights {n_flights} + rejected {n_rejected} != input {n_input}")
    delayed = flights.filter(F.col("is_delayed") == 1).count()
    n_notes = table("notifications").count()
    if n_notes != delayed:
        errors.append(f"notifications: {n_notes} != delayed flights {delayed}")
    for sink, merge, batch in (
        ("airline_partial", merge_airline_stats, airline_stats),
        ("route_partial", merge_route_stats, route_stats),
        ("hourly_partial", merge_hourly_stats, hourly_stats),
    ):
        got, want = fingerprint(merge(table(sink))), fingerprint(batch(flights))
        if got != want:
            errors.append(f"{sink}: merged partials {got} != batch aggregate {want}")
    flights.unpersist()
    return errors


# ---------------------------------------------------------------------------
# Per-layer numbers
# ---------------------------------------------------------------------------


class ProgressLog:
    """Every progress record of a query, keyed by batch id (the query
    itself keeps only its most recent ones)."""

    def __init__(self, query):
        self.query = query
        self.seen: dict[int, dict] = {}

    def absorb(self) -> list[dict]:
        for p in self.query.recentProgress:
            self.seen[int(p["batchId"])] = p
        return [self.seen[b] for b in sorted(self.seen)]


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the micro-batch phases, and batch sizes."""
    data = [p for p in progress if p.get("numInputRows")]
    out = {
        name: trace.median(p["durationMs"].get(phase, 0) for p in data)
        for name, phase in PHASES.items()
    }
    out["job.batches"] = len(data)
    out["job.rows_per_batch_p50"] = trace.median(p["numInputRows"] for p in data)
    return out


def traced_layers(log_path: str, progress: list[dict], warehouse: str) -> dict[str, float]:
    """Work per micro-batch from the event log (jobs, stages, tasks,
    executor time, parse and sink time) and from the warehouse (files
    and bytes written)."""
    batches = trace.batch_intervals(progress)
    rows = {int(p["batchId"]): p["numInputRows"] for p in progress if p.get("numInputRows")}
    log = trace.parse_event_log(log_path)
    work = trace.attribute(log, batches)
    out = trace.per_op_layers(work)
    out["parse.cache_job_ms_per_krow"] = trace.median(
        w["first_job_run_ms"] * 1000.0 / rows[b]
        for b, w in work.items() if w["first_job_run_ms"] is not None
    )
    out["sinks.shuffle_bytes_per_krow"] = trace.median(
        w["shuffle_write"] * 1000.0 / rows[b] for b, w in work.items()
    )
    for sink, ms in trace.sink_durations(log, SINKS, batches).items():
        out[f"sinks.{sink}.ms_p50"] = trace.median(ms)
    files, nbytes = trace.written_files(warehouse, SINKS.values())
    out["sinks.files_per_batch"] = trace.median(files.get(b, 0) for b in work)
    out["sinks.bytes_per_krow"] = trace.median(
        nbytes.get(b, 0) * 1000.0 / rows[b] for b in work
    )
    return out


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------


def start_live_query(spark, src: str, ckpt: str, warehouse: str):
    """``run_kafka_stream``'s shape over a file source: a continuous
    processing-time trigger (``run_file_stream`` only drains)."""
    from flight_events_flink_job_spark.observability import observe_parse
    from flight_events_flink_job_spark.operators.parse import parse_flight_events
    from flight_events_flink_job_spark.streaming.job import make_fanout_batch

    parsed = observe_parse(parse_flight_events(spark.readStream.text(src)), "parse_metrics")
    return (
        parsed.writeStream.foreachBatch(make_fanout_batch(warehouse))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )


def wait_consumed(query, ckpt: str, n_files: int, progress: ProgressLog, timeout_s=90) -> None:
    """Block until committed batches have taken ``n_files`` files."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        progress.absorb()
        try:
            taken, commits = trace.file_batches(ckpt), trace.commit_times_ms(ckpt)
        except FileNotFoundError:
            taken, commits = {}, {}
        if len(taken) >= n_files and all(b in commits for b in taken.values()):
            return
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.1)
    raise TimeoutError(f"stream did not consume {n_files} files in {timeout_s} s")


def run_live(run) -> dict:
    """The ``stream_live`` workload: see the module docstring."""
    from flight_events_flink_job_spark.streaming.job import run_file_stream

    run.start_session()
    warm = int(LIVE_WARMUP_S / LIVE_PERIOD_S)
    timed = int(run.seconds / LIVE_PERIOD_S)
    # Inputs for two windows either way, so traced and untraced runs of a
    # seed see the same events; only traced runs play the second window.
    n_files = warm + (2 if run.trace else 1) * timed
    t0 = time.monotonic()
    lines = prepare_inputs(run, (warm + 2 * timed) * LIVE_FILE_EVENTS, run.path("warmup", "src"))
    run.layers["sources.prepare_s"] = time.monotonic() - t0
    t0 = time.monotonic()
    run_file_stream(
        run.spark, run.path("warmup", "src"), run.path("warmup", "wh"),
        run.path("warmup", "ckpt"), max_files_per_trigger=1,
    )
    run.layers["job.warmup_drain_s"] = time.monotonic() - t0

    src, aside, ckpt, wh = (run.path("live", d) for d in ("src", "aside", "ckpt", "wh"))
    os.makedirs(src)
    os.makedirs(aside)
    query = start_live_query(run.spark, src, ckpt, wh)
    progress = ProgressLog(query)
    start = time.time() + 0.5
    gen = Generator(lines, src, aside, start, n_files)
    gen.start()
    time.sleep(max(0.0, start + warm * LIVE_PERIOD_S - time.time()))
    setup_s = run.elapsed()  # everything before the first timed file is due
    window_end_ms = (start + (warm + timed) * LIVE_PERIOD_S) * 1000.0
    try:
        if run.trace:
            # The traced window starts once the untraced one is consumed.
            wait_consumed(query, ckpt, warm + timed, progress)
            traced_from = time.time() * 1000.0
            with EventLog(run) as log:
                gen.join()
                wait_consumed(query, ckpt, n_files, progress)
        else:
            gen.join()
            wait_consumed(query, ckpt, n_files, progress)
    finally:
        query.stop()
        gen.join()
    if gen.error:
        raise gen.error
    recs = progress.absorb()
    batch_of, committed = trace.file_batches(ckpt), trace.commit_times_ms(ckpt)
    intervals = trace.batch_intervals(recs)

    files = gen.files[warm:warm + timed]
    lat, missing = trace.event_latencies_ms(files, batch_of, committed)
    last_commit = max(committed[batch_of[name]] for name, _, _ in files if name in batch_of)
    attempted = sum(n for _, _, n in files)
    backlog = trace.backlog_at(gen.files, batch_of, intervals, window_end_ms)
    per_trigger = trace.median(trace.files_per_batch(batch_of, intervals))
    errors = check_outputs(run.spark, src, wh, sum(n for _, _, n in gen.files))
    if backlog > per_trigger:
        errors.append(
            f"backlog: {backlog} files waiting when the window ended, more than "
            f"one trigger's worth ({per_trigger}); 2,000 events/s not sustained"
        )
    window_batches = [t1 - t0 for _, t0, t1 in intervals if files[0][1] <= t0 <= window_end_ms]
    layers = {
        **run.layers,
        "latency_p90_ms": trace.percentile(lat, 90),
        "latency_samples": len(lat),
        "sources.backlog_files_end": backlog,
        "sources.files_per_trigger_p50": per_trigger,
        "sources.gen_late_ms_p90": trace.percentile(gen.late_ms, 90),
        "trend.pct": 100.0 * trace.half_trend(window_batches),
    }
    if run.trace:
        traced = [p for p in recs if trace.iso_ms(p["timestamp"]) >= traced_from]
        layers.update(progress_layers(traced))
        layers.update(traced_layers(log.path(), traced, wh))
        lat_traced, _ = trace.event_latencies_ms(gen.files[warm + timed:], batch_of, committed)
        layers["trace.overhead_pct"] = 100.0 * (
            trace.percentile(lat_traced, 50) / trace.percentile(lat, 50) - 1.0
        )
    else:
        layers.update(progress_layers(
            [p for p in recs if trace.iso_ms(p["timestamp"]) >= files[0][1]]
        ))
    return {
        "errors": errors,
        "attempted": attempted,
        "failed": attempted if errors else missing,
        "end_to_end": {
            "setup_s": setup_s,
            "latency_p50_ms": trace.percentile(lat, 50),
            "ops_per_s": attempted / ((last_commit - files[0][1]) / 1000.0),
        },
        "layers": layers,
    }
