"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd
import pytest

from perfbench import common, eventlog, metrics, procstat, spans
from perfbench.datagen import OrdersLandings, corpus_tables, relational_tables
from perfbench.etl import expected_row, lww_reference
from perfbench.run import end_to_end

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))


def _span(sid, name, start, end, parent=None, job=0):
    return spans.Span(sid, name, start, end, parent=parent, job=job)


# ------------------------------------------------------ spans arithmetic --

def test_end_to_end_metrics_from_job_records():
    res = {"jobs": [(3.0, 100, True), (1.0, 100, True), (9.0, 200, False), (2.0, 100, True)],
           "window": 20.0, "cpu": 50.0, "rss": 1234.5,
           "setups": [12.0, 1.0, 1.5], "staging": 4.0}
    e2e = end_to_end(res)
    assert e2e["job_p50_s"] == 2.5            # median of an even count
    assert e2e["rows_per_s"] == 25.0          # 500 rows over the 20 s window
    assert e2e["cpu_s_per_mrow"] == 1e5       # 50 CPU-s per 500 rows
    assert e2e["peak_rss_mb"] == 1234.5
    assert e2e["setup_s"] == 5.5              # median start 1.5 + staging 4
    assert set(e2e) == {n for n, _, _, _ in metrics.END_TO_END}


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children_once():
    s = [
        _span(0, "bench.job", 0.0, 10.0),
        _span(1, "a", 1.0, 6.0, parent=0),
        _span(2, "b", 2.0, 3.0, parent=1),
        _span(3, "b", 2.5, 4.0, parent=1),   # overlaps its sibling
        _span(4, "c", 7.0, 9.0, parent=0),
    ]
    st = spans.self_times(s)
    assert st == {0: 3.0, 1: 3.0, 2: 1.0, 3: 1.5, 4: 2.0}
    assert spans.self_time_by_name(s) == {"bench.job": 3.0, "a": 3.0, "b": 2.5, "c": 2.0}
    # the two "b" siblings overlap by 0.5 s, which self times count twice
    assert spans.coverage_gap(s) == pytest.approx(0.5)


def test_coverage_gap_is_zero_for_nested_spans_only():
    nested = [_span(0, "bench.job", 0.0, 10.0), _span(1, "a", 1.0, 6.0, parent=0),
              _span(2, "b", 2.0, 3.0, parent=1), _span(3, "c", 7.0, 9.0, parent=0)]
    assert spans.coverage_gap(nested) == pytest.approx(0.0)
    # a child running 2 s past the job's end is overcounted by 2 s
    outside = [_span(0, "bench.job", 0.0, 4.0), _span(1, "a", 3.0, 6.0, parent=0)]
    assert spans.coverage_gap(outside) == pytest.approx(2.0)


def test_tracer_nests_spans_and_patches_functions():
    class Layer:
        def work(self, x):
            return x + 1

    clock = iter(range(100)).__next__
    tr = spans.Tracer(clock=lambda: float(clock()))
    tr.patch(Layer, "work", "layer.work")
    with tr.job(7, "bench.job"):
        assert Layer().work(1) == 2
    tr.unpatch_all()
    assert Layer.work.__name__ == "work" and not hasattr(Layer.work, "__wrapped__")
    root, child = tr.spans
    assert (root.name, root.parent, root.job) == ("bench.job", None, 7)
    assert (child.name, child.parent, child.job) == ("layer.work", root.sid, 7)
    assert child.attrs["result"] == 2
    assert root.start < child.start < child.end < root.end


def test_tracer_keeps_every_span_under_thread_contention():
    tr = spans.Tracer()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def worker():
            for _ in range(200):
                with tr.span("w"):
                    pass
        threads = [threading.Thread(target=worker) for _ in range(2 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(tr.spans) == 200 * len(threads)
    assert sorted(s.sid for s in tr.spans) == list(range(len(tr.spans)))
    assert all(s.end >= s.start for s in tr.spans) and tr._stack == []


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(enabled=False)
    with tr.job(1, "bench.job"):
        with tr.span("x") as s:
            assert s is None
    assert tr.spans == []


# ---------------------------------------------------------- event log --

def test_event_log_digest_on_fixture():
    d = eventlog.read_digest(os.path.join(HERE, "fixtures", "eventlog.jsonl"))
    tree = [_span(0, "bench.job", 1000.0, 1010.0),
            _span(1, "queries.x", 1000.5, 1009.5, parent=0)]
    out = eventlog.summarize(d, tree)
    assert out["jobs"] == 1          # job 7 ran before the span opened
    assert out["stages"] == 2        # stage 2 was skipped
    assert out["tasks"] == 3
    assert out["executor_run_s"] == pytest.approx(4.0)
    assert out["executor_cpu_s"] == pytest.approx(3.0)
    assert out["gc_s"] == pytest.approx(0.03)
    assert out["shuffle_write_bytes"] == 1000
    assert out["shuffle_read_bytes"] == 1000
    assert out["spill_bytes"] == 10
    assert out["scan_time_s"] == pytest.approx(0.5)      # ms timing metric
    assert out["agg_build_s"] == pytest.approx(0.3)      # ns timing metric
    assert out["python_worker_s"] == pytest.approx(0.25)
    assert out["python_bytes_sent"] == 2048
    assert out["python_bytes_returned"] == 0
    # 10 s job, stages cover [1001, 1003] and [1004, 1006]
    assert out["driver_s"] == pytest.approx(6.0)
    # stage 0: 1.5 s of 2 s, stage 1: 2 s of 2 s, weighted by stage wall
    assert out["max_task_share"] == pytest.approx(0.875)
    # restricted to spans of another family, nothing is attributed
    none = eventlog.summarize(d, tree, only=set())
    assert none["tasks"] == 0 and none["driver_s"] == 0.0


# ---------------------------------------------------------- /proc tree --

def test_parse_stat_handles_odd_process_names():
    fields = ["S", "42"] + ["0"] * 9 + ["100", "50", "7", "3"] + ["0"] * 30
    text = "1234 (weird ) name) " + " ".join(fields)
    ppid, cpu = procstat.parse_stat(text)
    assert ppid == 42
    assert cpu == pytest.approx(160 / os.sysconf("SC_CLK_TCK"))
    assert procstat.parse_rss_kb("Name:\tx\nVmRSS:\t  2048 kB\n") == 2048
    assert procstat.parse_rss_kb("Name:\tkthread\n") == 0


def _fake_proc(root, procs):
    """procs: pid -> (ppid, ticks, rss_kb)"""
    for pid, (ppid, ticks, rss) in procs.items():
        d = root / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(ticks), "0", "0", "0"]
        (d / "stat").write_text(f"{pid} (p{pid}) " + " ".join(fields))
        (d / "status").write_text(f"Name:\tp{pid}\nVmRSS:\t{rss} kB\n")
    (root / "self").mkdir()  # non-numeric entries are ignored


def test_tree_walk_on_a_fake_proc(tmp_path):
    _fake_proc(tmp_path, {1: (0, 1, 1), 10: (1, 100, 1024), 11: (10, 50, 2048),
                          12: (11, 25, 1024), 20: (1, 999, 4096)})
    assert sorted(procstat.tree_pids(10, str(tmp_path))) == [10, 11, 12]
    tck = os.sysconf("SC_CLK_TCK")
    assert procstat.tree_cpu_s(10, str(tmp_path)) == pytest.approx(175 / tck)
    assert procstat.tree_rss_mb(10, str(tmp_path)) == pytest.approx(4.0)


def test_proctree_sees_a_child_burning_cpu():
    tree = procstat.ProcTree(interval=0.05).start()
    try:
        tree.mark()
        child = subprocess.Popen([sys.executable, "-c",
                                  "import time\nt=time.time()\nwhile time.time()-t<0.6: pass"])
        time.sleep(0.3)
        peak_while_running = tree.peak_rss_mb()
        child.wait()
        assert tree.cpu_s() >= 0.3     # the reaped child's time is counted
        assert peak_while_running > 0
    finally:
        tree.stop()


# ---------------------------------------------------- ETL reference --

def test_lww_reference_on_a_tiny_landing_set(tmp_path):
    gen = OrdersLandings(seed=3, rows=10)
    landings = [gen.landing(i) for i in range(4)]   # landing 2 re-sends keys
    assert [ld.is_update for ld in landings] == [False, False, True, False]
    files = []
    for ld in landings:
        p = tmp_path / f"landing-{ld.index:05d}.csv"
        p.write_bytes(ld.csv_bytes())
        files.append(str(p))
    ref = lww_reference(files)
    assert sorted(ref["order_key"]) == list(range(30))   # 3 fresh blocks of 10
    latest = {}
    for ld in landings:                                  # in landing order
        for cells in ld.rows:
            latest[int(cells[0])] = expected_row(cells)
    for _, row in ref.iterrows():
        want = latest[row["order_key"]]
        assert row["comment"] == want["comment"]         # quotes and commas survive
        assert row["total_price"] == want["total_price"]
        assert row["order_date"] == want["order_date"].isoformat()
        assert row["status"] == want["status"]
    assert any('"' in c for c in ref["comment"])          # escaped quotes parsed


def test_landings_are_seeded():
    a, b = OrdersLandings(5, rows=50), OrdersLandings(5, rows=50)
    assert a.landing(4).csv_bytes() == b.landing(4).csv_bytes()
    assert a.landing(4).csv_bytes() != OrdersLandings(6, rows=50).landing(4).csv_bytes()
    upd = a.landing(2)
    assert upd.is_update and all(int(r[0]) < 100 for r in upd.rows)
    assert len({r[0] for r in upd.rows}) == 50           # keys unique per landing


def test_generated_tables_are_seeded_and_sized():
    t1, t2 = relational_tables(9, 0.001), relational_tables(9, 0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert t1["lineitem"].num_rows == 6000 and t1["orders"].num_rows == 1500
    c = corpus_tables(9, 0.001)
    norms = np.linalg.norm(np.stack(c["embeddings"].column("embedding").to_numpy(
        zero_copy_only=False)), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)


# -------------------------------------------------------- result hash --

def test_frame_digest_is_order_and_width_insensitive():
    a = pd.DataFrame({"k": np.array([1, 2, 3], dtype=np.int32), "v": [0.5, None, 2.0],
                      "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
                      "s": ["x", "y", None]})
    b = a.iloc[::-1].reset_index(drop=True)
    b["k"] = b["k"].astype(np.int64)
    b["t"] = b["t"].astype("datetime64[us]")
    b = b[["s", "v", "k", "t"]]
    assert common.frame_digest(a) == common.frame_digest(b)
    c = a.copy()
    c.loc[0, "v"] = 0.5000000000000001
    assert common.frame_digest(a) != common.frame_digest(c)


# ---------------------------------------------------- BENCHMARK.json --

def test_benchmark_json_matches_the_metric_catalogue():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert e2e == {n: (u, b, bd) for n, u, b, bd in metrics.END_TO_END}
    assert e2e["setup_s"][2] == max(bd for _, _, bd in e2e.values()) <= 0.25
    layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layer == {n: (u, b) for n, u, b in metrics.per_layer()}
    assert len(layer) == len(bench["per_layer"]) <= 128
    from perfbench.run import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])


def test_predictions_cover_every_metric_and_workload():
    with open(os.path.join(REPO, "perfbench", "predictions.json")) as f:
        pred = json.load(f)
    from perfbench.run import WORKLOADS
    assert set(pred["workloads"]) == set(WORKLOADS)
    assert set(pred["per_layer"]) == {n for n, _, _ in metrics.per_layer()}
    e2e = {n for n, _, _, _ in metrics.END_TO_END}
    for entry in pred["per_layer"].values():
        assert set(entry["on"]) <= set(WORKLOADS)
        assert all(m in e2e or m.startswith("sources.") for m in entry["moves"])
