"""The benchmark's own test: smoke mode prints every metric with its unit and
passes every output check.

    python3 -m pytest perfbench -q     # from the repository root, ~4 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from eventlog import _union_ms, metric_units  # noqa: E402
from run import END_TO_END, TRACE_P50, tail  # noqa: E402
from workloads import _md5_verdict  # noqa: E402


def test_tail_keeps_ten_jobs_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    lat = [float(i) for i in range(1, 41)]
    value, pct = tail(lat)
    assert sum(x > value for x in lat) == 10 and pct == 75.0


def test_union_clips_and_merges():
    assert _union_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5


def test_md5_verdict_compares_timed_jobs_to_warm_up():
    ref, same, other = {"md5": "a"}, {"md5": "a"}, {"md5": "b"}
    assert _md5_verdict(ref, [same, other], []) == {
        "failed": [1], "errors": ["output md5 differs from the warm-up job's in jobs [1]"]}
    # a warm-up output that fails its content checks fails every timed job
    assert _md5_verdict(ref, [same, same], ["bad"])["failed"] == [0, 1]


def test_contract_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    layers = dict(metric_units(), **{TRACE_P50: "s"})
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers
    assert len(metric_units()) == 109


def test_smoke_all_workloads():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all", "--seed", "3",
         "--seconds", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert out.returncode == 0, out.stdout + out.stderr[-4000:]
    lines = out.stdout.splitlines()
    assert sum("correct=True" in line for line in lines) == 6, out.stdout
    assert not any("check failed" in line for line in lines), out.stdout
    extra = {TRACE_P50: "s", "trace.overhead_s": "s", "fail_ratio": "ratio"}
    values = {}
    for name, unit in dict(END_TO_END, **metric_units(), **extra).items():
        printed = [line for line in lines if line.strip().startswith(f"{name} = ")]
        assert len(printed) == 3, (name, printed)  # once per workload
        assert all(line.rstrip().endswith(f" {unit}") for line in printed), (name, printed)
        values[name] = [float(line.split(" = ")[1].split()[0]) for line in printed]
    tail = [line for line in lines if line.strip().startswith("job_tail_s = ")]
    assert len(tail) == 1 and " s (p" in tail[0], tail  # tile_requests only
    # python_s is read as milliseconds; in a correct unit it cannot exceed
    # the summed task run time of the same calls
    for call in ("delaunay.delaunay", "triangulation.gabriel"):
        for py, busy in zip(values[f"{call}.python_s"], values[f"{call}.busy_s"]):
            assert py <= busy, (call, py, busy)
    assert max(values["delaunay.delaunay.python_s"]) > 0
