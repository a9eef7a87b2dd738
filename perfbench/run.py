"""libpysal_spark benchmark: three seeded workloads, end-to-end and per-layer.

Run from the repository root:

    python3 perfbench/run.py --workload weights_bulk --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --smoke

One workload per run: it runs in its own process at nproc cores with one
closed-loop client, and the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables the Spark event log from outside
the program and reports the per-layer metrics parsed from it. The line
before it is the run context (cores, settings, seed, input sizes, Spark
version, host-speed control before and after).

``--workload all`` runs every workload untraced and traced, prints every
metric with its unit and the tracing overhead (traced minus untraced
``job_p50_s``), and exits non-zero if any output check failed. ``--smoke``
uses tiny inputs and one job per workload (one per request type for
``tile_requests``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from eventlog import metric_units, per_layer  # noqa: E402

WORKLOADS = ("weights_bulk", "mesh_clustered", "tile_requests")
END_TO_END = {
    "job_p50_s": "s",
    "input_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
TRACE_P50 = "trace.job_p50_s"
TIMEOUT_S = 170
RSS_POLL_S = 0.25


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A sixteenth of physical memory, 1-4 GB (local mode: driver = executor)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (16 << 20)))}g"


def host_control() -> float:
    """Seconds for a fixed single-threaded CPU-bound loop (host-drift flag)."""
    t = time.perf_counter()
    sum((i * i) % 7 for i in range(2_000_000))
    return time.perf_counter() - t


def _ppid(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as f:
        return int(f.read().rsplit(")", 1)[1].split()[1])


def _children() -> dict:
    kids = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(_ppid(int(d)), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return kids


def _read(path: str) -> str:
    with open(path, "rb") as f:
        return f.read().decode(errors="replace")


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and its descendants, from /proc.

    Python processes count their PSS, so pages a forked Python worker shares
    with its parent count once. The JVM shares no pages with them and counts
    its VmRSS: reading its PSS walks every mapping (~20 ms for a 1.5 GB JVM
    on a 4-core VM) under its memory-map lock, which disturbs the run being
    measured. A JVM child that has not yet exec'd (same cmdline as the JVM)
    still shares the JVM's address space and is skipped.
    """
    kids, todo, kb = _children(), [root], 0
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            cmd = _read(f"/proc/{pid}/cmdline")
            java = cmd.split("\0", 1)[0].endswith("java")
            if java and cmd == _read(f"/proc/{_ppid(pid)}/cmdline"):
                continue
            text, key = (_read(f"/proc/{pid}/status"), "VmRSS:") if java else (
                _read(f"/proc/{pid}/smaps_rollup"), "Pss:")
            kb += next(int(line.split()[1]) for line in text.splitlines() if line.startswith(key))
        except (OSError, StopIteration, ValueError):
            continue
    return kb * 1024 / 1e6


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left in its process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with >= 10 jobs beyond
    it, or the maximum when a run has 10 jobs or fewer. Reported for
    tile_requests only, where a window holds several request types."""
    s = sorted(latencies)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def run_one(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    root = os.getcwd()
    run_dir = os.path.join(root, ".perfbench", f"{workload}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("data", "tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        PYTHONPATH=os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if trace:
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{os.path.join(run_dir, 'events')} pyspark-shell"
        )
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    control_before = host_control()
    t0 = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--t0", repr(t0), "--data", os.path.join(run_dir, "data"), "--result", result_path,
    ] + (["--smoke"] if smoke else []) + (["--trace"] if trace else [])
    peak = 0.0
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                while proc.poll() is None:
                    peak = max(peak, tree_rss_mb(proc.pid))
                    if time.time() - t0 > TIMEOUT_S:
                        raise RuntimeError(f"{workload} did not finish within {TIMEOUT_S} s")
                    time.sleep(RSS_POLL_S)
            finally:
                _stop_group(proc)
        control_after = host_control()
        if proc.returncode != 0 or not os.path.exists(result_path):
            raise RuntimeError(f"{workload} worker exited with {proc.returncode}")
        with open(result_path) as f:
            res = json.load(f)
        if trace:
            events = os.listdir(os.path.join(run_dir, "events"))
            if len(events) != 1:
                raise RuntimeError(f"expected one event log, found {events}")
            layers = per_layer(os.path.join(run_dir, "events", events[0]), res["spans"])
    except Exception:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lat = res["latencies"]
    e2e = {
        "job_p50_s": statistics.median(lat),
        "input_rows_per_s": res["rows"] / res["window_s"],
        "peak_rss_mb": peak,
        "setup_s": res["setup_s"],
    }
    context = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "smoke": smoke,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "spark_version": res["spark_version"],
        "inputs": res["inputs"],
        "setup_parts_s": res["setup_parts_s"],
        "jobs": len(lat),
        "latencies_s": lat,
        "window_s": res["window_s"],
        "fail_ratio": len(res["failed"]) / len(lat),
        "errors": res["errors"],
        "host_control_s": {"before": control_before, "after": control_after},
    }
    if workload == "tile_requests":
        tail_s, tail_pct = tail(lat)
        context["job_tail"] = {"value_s": tail_s, "percentile": tail_pct, "jobs": len(lat)}
    if trace:
        units = metric_units()
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
        metrics[TRACE_P50] = {"value": e2e["job_p50_s"], "unit": "s"}
        context["end_to_end_traced"] = e2e
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "context": context,
        "verdict": {
            "correct": not res["failed"],
            "attempted": len(lat),
            "failed": len(res["failed"]),
            "metrics": metrics,
        },
    }


def run_all(seed: int, seconds: float, smoke: bool) -> int:
    ok = True
    for w in WORKLOADS:
        plain = run_one(w, seed, seconds, False, smoke)
        traced = run_one(w, seed, seconds, True, smoke)
        for r in (plain, traced):
            v = r["verdict"]
            print(f"{w} trace={int(r['context']['trace'])}: correct={v['correct']} "
                  f"attempted={v['attempted']} failed={v['failed']}")
            for e in r["context"]["errors"]:
                print(f"  check failed: {e}")
            ok &= v["correct"]
        for name, m in plain["verdict"]["metrics"].items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
        print(f"  fail_ratio = {plain['context']['fail_ratio']:.6g} ratio")
        if "job_tail" in plain["context"]:
            t = plain["context"]["job_tail"]
            print(f"  job_tail_s = {t['value_s']:.6g} s (p{t['percentile']:.4g} of {t['jobs']} jobs)")
        for name, m in traced["verdict"]["metrics"].items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
        overhead = (traced["verdict"]["metrics"][TRACE_P50]["value"]
                    - plain["verdict"]["metrics"]["job_p50_s"]["value"])
        print(f"  trace.overhead_s = {overhead:.6g} s")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops its worker's process group (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join("libpysal_spark", "__init__.py")):
        print("perfbench: run from the repository root (libpysal_spark/ not found)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds, args.smoke)
    out = run_one(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    print(json.dumps({"context": out["context"]}))
    print(json.dumps(out["verdict"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
