"""Tests of the benchmark's own logic: percentiles and the sample-count
rule, span self time, event-log parsing, and the expected replies of
the request generators.  No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog, stats  # noqa: E402
from perfbench.trace import Tracer, per_name, self_times  # noqa: E402


# -- percentiles --------------------------------------------------------------

def test_nearest_rank_percentile():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7], 99) == 7
    assert stats.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_sample_count_rule():
    # p99 needs 1000 samples for ten beyond it; p90 needs 100
    assert stats.beyond(1000, 99) == 10
    assert stats.supported(1000, 99)
    assert not stats.supported(999, 99)
    assert stats.supported(100, 90) and not stats.supported(99, 90)
    assert stats.tail_percentile(5000) == 99.0
    assert stats.tail_percentile(150) == 90.0
    assert stats.tail_percentile(25) == 50.0
    assert stats.tail_percentile(15) is None
    s = stats.summary(list(range(200)))
    assert s["n"] == 200 and s["p90_supported"] and not s["p99_supported"]


def test_spread_is_iqr_over_median():
    vals = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
    assert stats.spread(vals) == 0
    vals = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / 5.5)


# -- spans and self time ------------------------------------------------------

def _span(name, start, end, parent, root):
    return [name, start, end, parent, root, None]


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("root", 0, 100, None, 0),
        _span("a", 10, 40, 0, 0),
        _span("b", 30, 50, 0, 0),  # overlaps a: union 10..50
        _span("c", 15, 20, 1, 0),
        _span("d", 60, 70, 0, 0),
    ]
    selfs = self_times(spans)
    assert selfs == [100 - 40 - 10, 30 - 5, 20, 5, 10]
    agg = per_name(spans, selfs)
    assert agg["root"] == {"calls": 1, "total_ns": 100, "self_ns": 50}


def test_self_times_of_a_tree_add_up_to_its_root():
    spans = [
        _span("root", 0, 1000, None, 0),
        _span("x", 100, 600, 0, 0),
        _span("y", 150, 300, 1, 0),
        _span("z", 310, 590, 1, 0),
        _span("w", 700, 990, 0, 0),
    ]
    assert sum(self_times(spans)) == 1000


def test_tracer_records_nesting_and_restores_originals():
    import graphd_spark.api as api

    orig = api.join_values
    tracer = Tracer()
    tracer.install()
    try:
        assert api.join_values is not orig
        with tracer.root("inventory.query", "q"):
            api.join_values([], sep_pending=False)
    finally:
        tracer.uninstall()
    assert api.join_values is orig
    names = [s[0] for s in tracer.spans]
    assert names == ["inventory.query", "values.join_values"]
    assert tracer.spans[1][3] == 0 and tracer.spans[1][4] == 0
    assert sum(self_times(tracer.spans)) == (
        tracer.spans[0][2] - tracer.spans[0][1])


def test_tracer_records_fallback_reason():
    from graphd_spark.fastread import Unsupported

    tracer = Tracer()

    def run():
        raise Unsupported("cursor-form")

    wrapped = tracer.wrap("fastread.run", run)
    with pytest.raises(Unsupported):
        wrapped()
    assert tracer.spans[0][5] == "fallback:cursor-form"
    assert tracer.stack == []


# -- event log ----------------------------------------------------------------

def _events():
    def job(jid, t, stages, group):
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": t, "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group}}

    def end(jid, t):
        return {"Event": "SparkListenerJobEnd", "Job ID": jid,
                "Completion Time": t, "Job Result": {"Result": "JobSucceeded"}}

    def stage(sid):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid}}

    def task(sid, run, rd=0, wr=0, failed=False):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Info": {"Failed": failed, "Killed": False},
                "Task Metrics": {
                    "Executor Run Time": run,
                    "Shuffle Read Metrics": {"Remote Bytes Read": rd,
                                             "Local Bytes Read": rd},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": wr}}}

    evs = [
        job(0, 1000, [0, 1], "op1"), task(0, 5, wr=100), task(0, 7, wr=50),
        stage(0), task(1, 3, rd=75), stage(1), end(0, 1020),
        # job 1 lists stage 1 again: it was skipped, not rerun
        job(1, 1030, [1, 2], "op1"), task(2, 4, failed=True), task(2, 6),
        stage(2), end(1, 1050),
        job(2, 2000, [3], "op2"), task(3, 1), stage(3), end(2, 2005),
    ]
    return [json.dumps(e) for e in evs]


def test_event_log_groups_jobs_stages_and_shuffle():
    jobs = eventlog.parse(_events())
    assert [j.stages for j in jobs.values()] == [2, 1, 1]
    assert jobs[0].tasks == 3 and jobs[0].task_run_ms == 15
    assert jobs[0].shuffle_write_bytes == 150
    assert jobs[0].shuffle_read_bytes == 150
    assert jobs[1].failed_tasks == 1 and jobs[1].tasks == 2
    groups = eventlog.by_group(jobs)
    assert set(groups) == {"op1", "op2"}
    g = groups["op1"]
    assert len(g.jobs) == 2 and g.total("stages") == 3
    assert g.intervals() == [(1000, 1020), (1030, 1050)]


def test_covered_is_a_clipped_union():
    assert eventlog.covered([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert eventlog.covered([(0, 10), (5, 15), (20, 30)], 8, 25) == 12
    assert eventlog.covered([], 0, 10) == 0


def test_parse_dir_reads_a_rolling_log(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    lines = _events()
    (d / "events_1_app").write_text("\n".join(lines[:8]) + "\n")
    (d / "events_2_app").write_text("\n".join(lines[8:]) + "\n")
    (d / "appstatus_app").write_text("")
    assert len(eventlog.parse_dir(str(tmp_path))) == 3


# -- request generators -------------------------------------------------------

def _session(wl):
    from graphd_spark.api import GraphSession

    wl.gs = GraphSession()  # in-memory store: the fast path, no Spark
    wl.g.write(wl.gs.store)
    os.makedirs(wl.log, exist_ok=True)  # no commit files: 0 bytes
    wl.reset_model()
    return wl


def _drive(wl, n):
    labels = {}
    for _ in range(n):
        op = wl.next_op()
        assert op.run(), op.label
        labels[op.label] = labels.get(op.label, 0) + 1
    return labels


@pytest.fixture
def small(monkeypatch):
    from perfbench import workloads

    monkeypatch.setattr(workloads.ServeWriteMix, "NATIONS", 600)
    monkeypatch.setattr(workloads.ServeWriteMix, "REGIONS", 20)
    return workloads


def test_serve_write_mix_replies_match_the_model(small, tmp_path):
    wl = _session(small.ServeWriteMix(None, str(tmp_path), seed=7))
    labels = _drive(wl, 5000)
    assert set(labels) == {"1hop", "2hop", "chain", "variant", "write"}
    # writes and chains interleave; chains page regions writes never join
    assert labels["write"] > 800 and labels["chain"] > 100


def test_maintenance_is_left_out_of_the_timed_loop():
    from perfbench.run import run_loop
    from perfbench.workloads import Op, Workload

    class Slow(Workload):
        def __init__(self):
            self.n = 0

        def next_op(self):
            self.n += 1
            return Op("read", "r", lambda: True)

        def maintenance_due(self):
            return self.n % 100 == 99

        def maintain(self):
            __import__("time").sleep(0.05)

    loop = run_loop(Slow(), 0.3)
    assert loop["maintenance"] >= 1 and loop["failed"] == 0
    assert loop["maintenance_s"] >= 0.05 * loop["maintenance"]
    assert 0.29 < loop["wall_s"] < 0.5


def test_variants_are_distinct_shapes():
    from perfbench.workloads import VARIANTS, variant

    lines = {variant(i, "g", "v", "r")[0] for i in range(VARIANTS)}
    assert len(lines) == VARIANTS > 128  # more shapes than any cache


def test_same_seed_same_requests(small, tmp_path):
    a = small.ServeWriteMix(None, str(tmp_path), seed=3)
    b = small.ServeWriteMix(None, str(tmp_path), seed=3)
    c = small.ServeWriteMix(None, str(tmp_path), seed=4)
    assert a.g.nations == b.g.nations and a.rank == b.rank
    assert a.g.nations != c.g.nations


def test_inventory_tables_are_seeded(tmp_path):
    from perfbench import invdata

    invdata.generate(str(tmp_path / "a"), 5)
    invdata.generate(str(tmp_path / "b"), 5)
    invdata.generate(str(tmp_path / "c"), 6)
    import pyarrow.parquet as pq

    for t in invdata.TABLES:
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "orders.parquet").equals(
        pq.read_table(tmp_path / "c" / "orders.parquet"))
    counts = invdata.oracle_counts(str(tmp_path / "a"), {
        "n": "SELECT * FROM nation", "r": "SELECT r_name FROM region;"})
    assert counts == {"n": 25, "r": 5}


# -- the contract -------------------------------------------------------------

def test_benchmark_json_lists_the_metrics_the_runner_reports():
    from perfbench.layers import PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "ops_per_s", "read_p50_ms", "read_p99_ms", "driver_rss_mb"}


def test_run_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_write_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
