"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop with one client on a
``local[<cpus>]`` session, checks every output, and prints one JSON
object as the last line of stdout: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` is a separate run that records spans and Spark's event log
and reports the per-layer metrics. All scratch files live in a temporary
directory inside the checkout that is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "s3_glue_redshift_guide_spark"
WORKLOADS = {
    "etl_pipeline": "perfbench.etl",
    "analytics_curation": "perfbench.scan",
}
SETUP_REPS = 3


@dataclass
class Context:
    seed: int
    seconds: float
    work: str
    tracer: object
    proc: object
    setup_reps: int = SETUP_REPS
    spark: object = None
    t0: float = field(default_factory=time.perf_counter)

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t0:7.1f}s] {msg}",
              file=sys.stderr, flush=True)


def end_to_end(res: dict) -> dict[str, float]:
    rows = sum(n for _, n, _ in res["jobs"])
    return {
        "job_p50_s": statistics.median(w for w, _, _ in res["jobs"]),
        "rows_per_s": rows / res["window"],
        "cpu_s_per_mrow": res["cpu"] / rows * 1e6,
        "peak_rss_mb": res["rss"],
        # a median over repeated session starts, plus the one-time staging
        "setup_s": statistics.median(res["setups"]) + res["staging"],
    }


def per_layer(res: dict, tracer, eventlog_dir: str, failed_share: float) -> dict[str, float]:
    from perfbench import eventlog, metrics, spans

    cycles = res["cycles"]
    out = dict.fromkeys((m for m, _, _ in metrics.per_layer()), 0.0)
    for name, t in spans.self_time_by_name(tracer.spans).items():
        if name in metrics.SELF_TIME:
            out[metrics.SELF_TIME[name]] = t / cycles
    out.update(res["layers"])
    roots = [s for s in tracer.spans if s.parent is None]
    st = spans.self_times(tracer.spans)
    out["bench.unspanned_s"] = sum(st[s.sid] for s in roots) / cycles
    out["bench.span_gap_s"] = spans.coverage_gap(tracer.spans)
    out["bench.failed_share"] = failed_share
    e2e = end_to_end(res)
    out["traced.job_p50_s"] = e2e["job_p50_s"]
    out["traced.rows_per_s"] = e2e["rows_per_s"]
    # the last session's log: earlier ones belong to the set-up restarts
    log = max(glob.glob(os.path.join(eventlog_dir, "*")), key=os.path.getmtime)
    digest = eventlog.read_digest(log)
    for k, v in eventlog.summarize(digest, tracer.spans).items():
        out[f"spark.{k}"] = v if k == "max_task_share" else v / cycles
    fams = _families(tracer.spans)
    for fam in metrics.FAMILIES:
        keep = {sid for sid, f in fams.items() if f == fam}
        got = eventlog.summarize(digest, tracer.spans, only=keep)
        out[f"spark.{fam}.python_worker_s"] = got["python_worker_s"] / cycles
    return out


def _families(span_list) -> dict[int, str]:
    """Span id -> family of the job it belongs to (from the root's kind)."""
    by_id = {s.sid: s for s in span_list}
    out = {}
    for s in span_list:
        root = s
        while root.parent is not None:
            root = by_id[root.parent]
        kind = root.attrs.get("kind", "")
        if kind.startswith("queries."):
            out[s.sid] = "queries"
        elif kind in ("landing", "compaction"):
            out[s.sid] = "etl"
        else:
            out[s.sid] = "curation"
    return out


def wait_for_children(timeout: float = 30.0) -> None:
    """Block until every process this one started has exited."""
    from perfbench.procstat import tree_pids

    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        others = [p for p in tree_pids(me) if p != me]
        if not others:
            return
        if time.time() > deadline:
            for p in others:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, LIBRARY)):
        print(f"{LIBRARY}/ not found next to perfbench/: run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import common, metrics
    from perfbench.procstat import ProcTree
    from perfbench.spans import Tracer

    work = tempfile.mkdtemp(prefix=".perfbench-", dir=REPO)
    eventlog_dir = os.path.join(work, "eventlog") if args.trace else None
    if eventlog_dir:
        os.makedirs(eventlog_dir)
    common.configure_env(REPO, work, eventlog_dir)
    proc = ProcTree().start()
    ctx = Context(args.seed, args.seconds, work, Tracer(enabled=bool(args.trace)), proc)
    try:
        res = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        common.shutdown(ctx.spark)  # also flushes the event log
        ctx.spark = None
        attempted = len(res["jobs"])
        failed = sum(1 for _, _, ok in res["jobs"] if not ok)
        if not res["state_ok"]:
            failed = min(attempted, failed + 1)
        if args.trace:
            metrics_out = per_layer(res, ctx.tracer, eventlog_dir, failed / attempted)
            units = {m: u for m, u, _ in metrics.per_layer()}
        else:
            metrics_out = end_to_end(res)
            units = {m: u for m, u, _, _ in metrics.END_TO_END}
    finally:
        if ctx.spark is not None:
            common.shutdown(ctx.spark)
        proc.stop()
        wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics_out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
