"""The ``batch_ext`` workload: one client, a closed loop of passes over a
fixed 8-query mix from the registry, each query written to the noop sink.

The queries are the ones the open performance work targets: fewer jobs
and stages (``dedup_ngram_jaccard``, ``source_overlap_minhash``,
``nation_market_share``, ``orders_asof``), the simhash stats gate
(``dedup_simhash``), the cached index and prelude artifacts
(``ivf_pq_topk_residual``, ``incremental_neardup``) and the flight core
(``airline_delay_stats``: parse and aggregates, read-only). No streaming
code runs here.

Inputs are generated per run by ``gen_scale_tables(seed=...)`` at
``SCALE``. The first pass is cold (it builds the artifact caches) and is
part of the set-up; it collects each query's result, which is compared
with the query's DuckDB oracle after the window. The window then runs
whole noop passes until ``--seconds`` have gone by, each timed from the
first query's DataFrame build to the last query's write.
"""

from __future__ import annotations

import importlib.util
import os
import time

from . import trace
from .common import ROOT, EventLog

MIX = [
    "airline_delay_stats",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "incremental_neardup",
    "ivf_pq_topk_residual",
    "nation_market_share",
    "orders_asof",
    "source_overlap_minhash",
]
SCALE = 0.001


class Collected:
    """A query result collected once, with the ``columns``, ``dtypes`` and
    ``collect()`` that ``tools/parity.py``'s ``compare`` reads."""

    def __init__(self, df):
        self.columns, self.dtypes, self.rows = df.columns, df.dtypes, df.collect()

    def collect(self):
        return self.rows


def run_pass(spark, tables: str, collect: bool = False):
    """One pass over the mix, each query written to the noop sink (or,
    with ``collect``, collected). Returns the pass's wall time (s), per
    query ``(name, start_ms, built_ms, end_ms)``, and the collected
    results."""
    from flight_events_flink_job_spark.plans import QUERIES

    spans, results = [], {}
    t0 = time.monotonic()
    for name in MIX:
        a = time.time()
        df = QUERIES[name](spark, tables)
        b = time.time()
        if collect:
            results[name] = Collected(df)
        else:
            df.write.format("noop").mode("overwrite").save()
        spans.append((name, a * 1000.0, b * 1000.0, time.time() * 1000.0))
    return time.monotonic() - t0, spans, results


def window(run, tables: str, seconds: float):
    """Whole timed passes until ``seconds`` have gone by (at least one)."""
    passes, spans = [], []
    t0 = time.monotonic()
    while not passes or time.monotonic() - t0 < seconds:
        wall, s, _ = run_pass(run.spark, tables)
        passes.append(wall)
        spans += s
    return passes, spans, time.monotonic() - t0


def check(tables: str, results: dict) -> list[str]:
    """Compare each query's result with its DuckDB oracle, using the
    repository's parity comparison (``tools/parity.py``)."""
    import duckdb

    from flight_events_flink_job_spark.plans import ORACLES
    from flight_events_flink_job_spark.schemas import FIXTURE_TABLES
    from flight_events_flink_job_spark.sources.fixtures import (
        EMBEDDINGS_VIEW_SQL,
        EVENTS_VIEW_SQL,
    )

    spec = importlib.util.spec_from_file_location(
        "parity", os.path.join(ROOT, "tools", "parity.py")
    )
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)

    con = duckdb.connect()
    special = {"events": EVENTS_VIEW_SQL, "embeddings": EMBEDDINGS_VIEW_SQL}
    for t in FIXTURE_TABLES:
        path = os.path.join(tables, f"{t}.parquet", "*.parquet")
        body = special.get(t, "SELECT * FROM read_parquet('{path}')")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS {body.format(path=path)}")
    errors = []
    for name in MIX:
        for e in parity.compare(name, results[name], con.sql(ORACLES[name])):
            errors.append(f"{name}: {e}")
    con.close()
    return errors


def query_layers(log_path: str, spans: list[tuple]) -> dict[str, float]:
    """Per query of the traced pass(es): build and execution time, and
    jobs, stages, tasks, shuffle, spill and GC from the event log."""
    log = trace.parse_event_log(log_path)
    intervals = [(i, a, c) for i, (_, a, _, c) in enumerate(spans)]
    work = trace.attribute(log, intervals)
    out = trace.per_op_layers(work)
    for name in MIX:
        mine = [i for i, s in enumerate(spans) if s[0] == name]
        med = lambda f: trace.median(f(i) for i in mine)  # noqa: E731
        out[f"q.{name}.build_s"] = med(lambda i: (spans[i][2] - spans[i][1]) / 1000.0)
        out[f"q.{name}.exec_s"] = med(lambda i: (spans[i][3] - spans[i][2]) / 1000.0)
        for key, field in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                           ("shuffle_bytes", "shuffle_write"), ("spill_bytes", "spill"),
                           ("gc_ms", "gc_ms")):
            out[f"q.{name}.{key}"] = med(lambda i: work[i][field])
    n_passes = len(spans) / len(MIX)
    out["plans.build_s"] = sum(s[2] - s[1] for s in spans) / 1000.0 / n_passes
    out["exec.jobs"] = sum(w["jobs"] for w in work.values()) / n_passes
    out["exec.stages"] = sum(w["stages"] for w in work.values()) / n_passes
    return out


def run_mix(run) -> dict:
    """batch_ext: see the module docstring."""
    from flight_events_flink_job_spark.sources.scalegen import gen_scale_tables

    spark = run.start_session()
    tables = run.path("tables")
    t0 = time.monotonic()
    gen_scale_tables(spark, tables, SCALE, seed=run.seed)
    run.layers["sources.prepare_s"] = time.monotonic() - t0
    run.layers["plans.cold_pass_s"], _, results = run_pass(spark, tables, collect=True)
    setup_s = run.elapsed()
    passes, spans, wall = window(run, tables, run.seconds)
    layers = {
        **run.layers,
        "passes": len(passes),
        "trend.pct": 100.0 * (trace.half_trend(passes) or 0.0),
    }
    for name, a, b, c in spans[-len(MIX):]:
        layers[f"q.{name}.build_s"] = (b - a) / 1000.0
        layers[f"q.{name}.exec_s"] = (c - b) / 1000.0
    if run.trace:
        with EventLog(run) as log:
            traced, tspans, _ = window(run, tables, 0)  # one pass
        layers.update(query_layers(log.path(), tspans))
        layers["trace.overhead_pct"] = 100.0 * (
            trace.median(traced) / trace.median(passes) - 1.0
        )
    errors = check(tables, results)
    attempted = len(passes) * len(MIX)
    return {
        "errors": errors,
        "attempted": attempted,
        "failed": len({e.split(":")[0] for e in errors}),
        "end_to_end": {
            "setup_s": setup_s,
            "latency_p50_ms": 1000.0 * trace.median(passes),
            "ops_per_s": attempted / wall,
        },
        "layers": layers,
    }
