"""Benchmark of the flight-events engine: one workload per process.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 14 --trace 0

Workloads (README.md in this directory says why each exists):

- ``stream_live``  open loop, 2,000 events/s into a continuous file stream
                   running the five-sink fan-out
- ``batch_ext``    closed loop, one client running passes over an 8-query mix

With ``--trace 0`` the last line of standard output is the end-to-end
record; with ``--trace 1`` it is the per-layer record of a run that
times an untraced window and then a traced one. The line before it
holds every per-layer number the workload has, under its full name.
The exit code is 0 only if the run completed; output mismatches are
reported as failed operations with ``"correct": false``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_PROCESS = time.monotonic()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import Run  # noqa: E402

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "ops_per_s": "1/s"}
# Per-layer metrics every workload reports. An "op" is a micro-batch for
# the streams and one query execution for batch_ext.
PER_LAYER = {
    "session.start_s": "s",
    "sources.prepare_s": "s",
    "trace.overhead_pct": "%",
    "trend.pct": "%",
    "job.ops": "count",
    "job.jobs_per_op": "count",
    "job.stages_per_op": "count",
    "job.tasks_per_op": "count",
    "job.executor_ms_per_op": "ms",
    "job.shuffle_bytes_per_op": "bytes",
    "job.gc_ms_per_op": "ms",
}


def workloads():
    from perfbench import mix, streams

    return {"stream_live": streams.run_live, "batch_ext": mix.run_mix}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    fn = workloads()[args.workload]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), T_PROCESS)
    try:
        res = fn(run)
    finally:
        run.stop_session()
        run.cleanup()
    for err in res["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    layers = res["layers"]
    print(json.dumps({"workload": args.workload, "layers": layers}, sort_keys=True))
    if args.trace:
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e = res["end_to_end"]
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
