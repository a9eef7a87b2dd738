"""One run of one workload in its own process; ``run.py`` starts it.

Set-up (session, seeded inputs, one untimed warm-up job), then a closed loop
with a single client for ``--seconds``, then the output checks, outside the
timed window. The result goes to ``--result`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import SIZES, TILE_TYPES, MeshClustered, Spans, TileRequests, WeightsBulk  # noqa: E402

# a steady round of the five tile request types takes 9-16 s at 4 cores;
# preparing one round per MIN_ROUND_S of the window leaves a margin. A window
# that outlives the pool ends early, which input_rows_per_s still accounts for.
MIN_ROUND_S = 6.0


def make_workload(name: str, seconds: float, smoke: bool):
    if name == "weights_bulk":
        return WeightsBulk()
    if name == "mesh_clustered":
        return MeshClustered()
    rounds = 1 if smoke else int(np.ceil(seconds / MIN_ROUND_S))
    return TileRequests(len(TILE_TYPES) * (1 + rounds))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--trace", action="store_true", help="the event log is on: stop Spark cleanly")
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was started")
    ap.add_argument("--data", required=True, help="directory for the generated inputs")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from libpysal_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    wl = make_workload(args.workload, args.seconds, args.smoke)
    size = SIZES[args.workload]["smoke" if args.smoke else "full"]
    inp = wl.make_inputs(np.random.default_rng(args.seed), args.data, size)
    t_inputs = time.time()
    spans = Spans(spark.sparkContext)

    # warm-up: one job (for tile_requests one request of each type), untimed;
    # its output is the reference the timed jobs' outputs must match
    tile = isinstance(wl, TileRequests)
    warm = len(TILE_TYPES) if tile else 1
    reference = [wl.job(spark, inp, i, spans) for i in range(warm)]

    max_jobs = len(TILE_TYPES) if tile and args.smoke else (1 if args.smoke else None)
    latencies, rows, outputs, failed = [], 0, [], []
    start = time.time()
    setup_s = start - args.t0
    while True:
        j = len(latencies)
        i = warm + j if tile else j
        spans.job = j
        t = time.time()
        try:
            outputs.append((j, wl.job(spark, inp, i, spans)))
        except Exception:
            traceback.print_exc()
            failed.append(j)
        latencies.append(time.time() - t)
        rows += wl.rows(inp, i)
        if max_jobs is not None and len(latencies) >= max_jobs:
            break
        # tile_requests closes the window on a whole round of request types,
        # so every run has the same mix
        if tile and len(latencies) % len(TILE_TYPES):
            continue
        if max_jobs is None and time.time() - start >= args.seconds:
            break
        if tile and i + 1 >= wl.requests:
            break
    window_s = time.time() - start
    spans.job = None

    errors = []
    if outputs:
        try:
            verdict = wl.check(spark, inp, reference, [o for _, o in outputs],
                               np.random.default_rng(args.seed + 1))
            failed += [outputs[p][0] for p in verdict["failed"]]
            errors = verdict["errors"]
        except Exception:
            errors = [traceback.format_exc()]
            failed += [j for j, _ in outputs]
    spark_version = spark.version
    if args.trace:
        spark.stop()  # closes the event log

    result = {
        "setup_s": setup_s,
        "setup_parts_s": {"session": t_session - args.t0, "inputs": t_inputs - t_session,
                          "warmup": start - t_inputs},
        "latencies": latencies,
        "rows": rows,
        "window_s": window_s,
        "failed": sorted(set(failed)),
        "errors": errors,
        "spans": [s for s in spans.records if s["job"] is not None],
        "inputs": inp.props,
        "spark_version": spark_version,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    if not args.trace:
        # skip Spark's orderly shutdown: run.py kills the process group
        sys.stdout.flush()
        sys.stderr.flush()
        os._exit(0)


if __name__ == "__main__":
    main()
