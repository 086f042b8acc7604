"""Digest of a Spark event log (uncompressed JSON lines), per layer.

The traced run switches the event log on (``spark.eventLog.*`` confs the
benchmark passes at JVM launch). Afterwards ``digest`` folds it into
engine-level numbers for the spans of the run:

* Spark jobs are attributed to the innermost benchmark span open at the
  job's submission time. Jobs a streaming query submits carry the
  query's own job group, so time is the one key every job shares.
* Task metrics give executor run/CPU/GC time, shuffle bytes and spill.
* SQL accumulator updates on task ends give operator metrics: scan time,
  aggregation build time and the Python boundary. Their units come from
  the plan's ``metricType`` (``timing`` = ms, ``nsTiming`` = ns).
* Driver time is job wall time that no stage interval covers.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from .spans import Span, union_length

#: SQL accumulator name -> output key
SQL_METRICS = {
    "scan time": "scan_time_s",
    "time in aggregation build": "agg_build_s",
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

FIELDS = ("jobs", "stages", "tasks", "driver_s", "executor_run_s",
          "executor_cpu_s", "gc_s", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "max_task_share",
          "scan_time_s", "agg_build_s", "python_worker_s",
          "python_bytes_sent", "python_bytes_returned")


@dataclass
class StageRec:
    submit: float = 0.0
    complete: float = 0.0
    tasks: int = 0
    longest_task: float = 0.0


@dataclass
class LogDigest:
    jobs: dict[int, tuple[float, list[int]]] = field(default_factory=dict)
    stages: dict[int, StageRec] = field(default_factory=dict)
    #: per stage: accumulated task metrics and SQL metrics
    stage_metrics: dict[int, dict[str, float]] = field(default_factory=dict)


def _walk_plan(node: dict, types: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        types[m["accumulatorId"]] = m["metricType"]
    for c in node.get("children", ()):
        _walk_plan(c, types)


def parse(lines) -> LogDigest:
    d = LogDigest()
    metric_types: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event", "")
        if "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], metric_types)
        elif ev == "SparkListenerJobStart":
            d.jobs[e["Job ID"]] = (e["Submission Time"] / 1e3, e["Stage IDs"])
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            rec = d.stages.setdefault(si["Stage ID"], StageRec())
            rec.submit = si.get("Submission Time", 0) / 1e3
            rec.complete = si.get("Completion Time", 0) / 1e3
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            rec = d.stages.setdefault(sid, StageRec())
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            rec.tasks += 1
            rec.longest_task = max(
                rec.longest_task, (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
            m = d.stage_metrics.setdefault(sid, {})
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            for key, val in (
                ("executor_run_s", tm.get("Executor Run Time", 0) / 1e3),
                ("executor_cpu_s", tm.get("Executor CPU Time", 0) / 1e9),
                ("gc_s", tm.get("JVM GC Time", 0) / 1e3),
                ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
                ("shuffle_read_bytes", sr.get("Remote Bytes Read", 0)
                 + sr.get("Local Bytes Read", 0)),
                ("spill_bytes", tm.get("Memory Bytes Spilled", 0)
                 + tm.get("Disk Bytes Spilled", 0)),
            ):
                m[key] = m.get(key, 0) + val
            for acc in info.get("Accumulables", ()):
                key = SQL_METRICS.get(acc.get("Name"))
                if key is None or "Update" not in acc:
                    continue
                scale = _SCALE.get(metric_types.get(acc["ID"], ""), 1.0)
                m[key] = m.get(key, 0) + float(acc["Update"]) * scale
    return d


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def attribute(d: LogDigest, spans: list[Span]) -> dict[int, int]:
    """Stage id -> id of the span its (first) job was submitted in."""
    stage_span: dict[int, int] = {}
    for _, (submit, stage_ids) in sorted(d.jobs.items()):
        s = _innermost(spans, submit)
        if s is None:
            continue
        for sid in stage_ids:
            stage_span.setdefault(sid, s.sid)
    return stage_span


def summarize(d: LogDigest, spans: list[Span],
              only: set[int] | None = None) -> dict[str, float]:
    """Engine totals over the stages attributed to spans in ``only``
    (default: every span). Skipped stages (no tasks) are not counted."""
    stage_span = attribute(d, spans)
    keep = {s.sid for s in spans} if only is None else only
    out = dict.fromkeys(FIELDS, 0.0)
    jobs = set()
    for jid, (submit, stage_ids) in d.jobs.items():
        s = _innermost(spans, submit)
        if s is not None and s.sid in keep:
            jobs.add(jid)
    out["jobs"] = float(len(jobs))
    weighted, wall_total = 0.0, 0.0
    for sid, rec in d.stages.items():
        if stage_span.get(sid) not in keep or rec.tasks == 0:
            continue
        out["stages"] += 1
        out["tasks"] += rec.tasks
        for k, v in d.stage_metrics.get(sid, {}).items():
            out[k] += v
        wall = rec.complete - rec.submit
        if wall > 0:
            weighted += min(1.0, rec.longest_task / wall) * wall
            wall_total += wall
    out["max_task_share"] = weighted / wall_total if wall_total else 0.0
    # driver time: per root span, wall not covered by any of its stages
    by_id = {s.sid: s for s in spans}
    root_of: dict[int, int] = {}
    for s in spans:
        r = s
        while r.parent is not None:
            r = by_id[r.parent]
        root_of[s.sid] = r.sid
    covered: dict[int, list[tuple[float, float]]] = {}
    for sid, rec in d.stages.items():
        span_id = stage_span.get(sid)
        if span_id is None or span_id not in keep or rec.tasks == 0:
            continue
        root = by_id[root_of[span_id]]
        covered.setdefault(root.sid, []).append(
            (max(rec.submit, root.start), min(rec.complete, root.end)))
    for s in spans:
        if s.parent is None and s.sid in keep:
            ivs = [(a, b) for a, b in covered.get(s.sid, ()) if b > a]
            out["driver_s"] += s.duration - union_length(ivs)
    return out


def read_digest(path: str) -> LogDigest:
    with open(path) as f:
        return parse(f)

