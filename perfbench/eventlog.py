"""Per-layer metrics from a Spark event log and the benchmark's call spans.

Every span (one call into an engine module's public function) set its own
Spark job group, so each job in the log belongs to exactly one span. Metrics
are means per call over the timed window, named
``<module>.<function>.<metric>``; a call the workload does not make reports 0.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

CALLS = (
    "distance.knn",
    "distance.kernel_weights",
    "graph.transform",
    "graph.lag",
    "graph.local_clustering",
    "graph.component_labels",
    "lineage.write_with_lineage",
    "delaunay.delaunay",
    "triangulation.gabriel",
    "contiguity.queen",
    "pip.pip_join",
    "dedup.minhash_candidates",
    "dedup.simhash_near_pairs",
)
COMMON = {
    "call_s": "s",
    "jobs": "count",
    "driver_gap_s": "s",
    "busy_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "skew": "ratio",
    "failed_tasks": "count",
}
PYTHON_CALLS = ("delaunay.delaunay", "triangulation.gabriel")
# useful output rows / shuffle records; kernel_weights returns a lazy graph
# whose edges are computed by the write that consumes them
RATIO_CALLS = {
    "distance.knn": ("distance.knn",),
    "distance.kernel_weights": ("distance.kernel_weights", "lineage.write_with_lineage"),
    "dedup.minhash_candidates": ("dedup.minhash_candidates",),
}
# per task, ms from the worker having loaded the UDF to its last output batch
# (a millisecond timing metric: in Spark 4.1 event logs a task's update stays
# below its executor run time, which the benchmark's own test asserts)
PYTHON_TIME = "time to run Python workers"
MB = 1e6


def metric_units() -> dict:
    """name -> unit of every per-layer metric, in a fixed order."""
    out = {}
    for call in CALLS:
        for m, unit in COMMON.items():
            out[f"{call}.{m}"] = unit
        if call in PYTHON_CALLS:
            out[f"{call}.python_s"] = "s"
        if call in RATIO_CALLS:
            out[f"{call}.rows_per_shuffle_record"] = "ratio"
    return out


def _read(path: str):
    jobs, stage_job, tasks, stages = {}, {}, defaultdict(list), {}
    with open(path) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"], "end": None}
            for s in ev["Stage IDs"]:
                stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            dur = (info.get("Completion Time") or 0) - (info.get("Submission Time") or 0)
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = dur
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            info = ev["Task Info"]
            py = sum(
                float(a.get("Update") or 0)
                for a in info.get("Accumulables", [])
                if a.get("Name") == PYTHON_TIME
            )
            tasks[ev["Stage ID"]].append(
                {
                    "attempt": ev["Stage Attempt ID"],
                    "run_ms": tm.get("Executor Run Time", 0),
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                    "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                    "failed": bool(info.get("Failed")),
                    "python_ms": float(py),
                }
            )
    return jobs, stage_job, tasks, stages


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            total += 0 if cur_b is None else cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (0 if cur_b is None else cur_b - cur_a)


def per_layer(path: str, spans: list[dict]) -> dict:
    """Per-layer metric values for the timed spans of one run."""
    jobs, stage_job, tasks, stages = _read(path)
    by_group = defaultdict(list)
    for jid, j in jobs.items():
        by_group[j["group"]].append(jid)
    stages_of = defaultdict(list)
    for sid, jid in stage_job.items():
        stages_of[jid].append(sid)

    acc = {c: defaultdict(float) for c in CALLS}
    for s in spans:
        a = acc[s["call"]]
        lo, hi = s["start"] * 1000, s["end"] * 1000
        jids = by_group.get(s["group"], [])
        ts = [t for jid in jids for sid in stages_of[jid] for t in tasks.get(sid, [])]
        a["calls"] += 1
        a["call_s"] += (hi - lo) / 1000
        a["jobs"] += len(jids)
        spans_ms = [(jobs[j]["start"], jobs[j]["end"] or hi) for j in jids]
        a["driver_gap_s"] += (hi - lo - _union_ms(spans_ms, lo, hi)) / 1000
        a["busy_s"] += sum(t["run_ms"] for t in ts) / 1000
        a["shuffle_write_mb"] += sum(t["shuffle_bytes"] for t in ts) / MB
        a["spill_mb"] += sum(t["spill_bytes"] for t in ts) / MB
        a["failed_tasks"] += sum(t["failed"] for t in ts)
        a["python_s"] += sum(t["python_ms"] for t in ts) / 1000
        a["shuffle_records"] += sum(t["shuffle_records"] for t in ts)
        a["rows"] += s["rows"] or 0
        # skew of the call's longest stage: max / median task run time
        longest = max(
            ((stages.get((sid, att), 0), sid, att)
             for jid in jids for sid in stages_of[jid]
             for att in {t["attempt"] for t in tasks.get(sid, [])}),
            default=None,
        )
        if longest is not None:
            run = [t["run_ms"] for t in tasks[longest[1]] if t["attempt"] == longest[2]]
            a["skew"] += max(run) / max(statistics.median(run), 1)

    out = {}
    for call in CALLS:
        a = acc[call]
        calls = a["calls"] or 1
        for m in COMMON:
            out[f"{call}.{m}"] = a[m] / calls
        if call in PYTHON_CALLS:
            out[f"{call}.python_s"] = a["python_s"] / calls
    for call, parts in RATIO_CALLS.items():
        rows = acc[call]["rows"]
        records = sum(acc[p]["shuffle_records"] for p in parts)
        out[f"{call}.rows_per_shuffle_record"] = rows / records if records else 0.0
    return out
