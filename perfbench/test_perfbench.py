"""Self-tests of the benchmark's own parts: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import gzip
import json
import os

import eventlog
import gen
import run

FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog_sf0001.jsonl.gz"
)


def test_generator_same_seed_same_bytes_other_seed_permuted(tmp_path):
    gen.self_test(str(tmp_path))


def test_auc_matches_pair_count():
    scores = [0.1, 0.4, 0.35, 0.8, 0.4]
    labels = [0, 0, 1, 1, 1]
    pairs = [
        (s1 > s0) + 0.5 * (s1 == s0)
        for s1, l1 in zip(scores, labels) if l1
        for s0, l0 in zip(scores, labels) if not l0
    ]
    assert gen.auc(scores, labels) == sum(pairs) / len(pairs)


def test_tail_is_highest_percentile_with_ten_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    value, pct, n = run.tail([float(i) for i in range(40)])
    assert (value, pct, n) == (29.0, 75.0, 40)
    assert sum(x > value for x in range(40)) == 10


def test_quiet_keeps_least_stolen_half():
    passes = [{"steal": st, "wall": w} for st, w in
              ((0.10, 5.0), (0.00, 2.0), (0.30, 9.0), (0.05, 3.0), (0.20, 4.0))]
    assert [p["wall"] for p in run.quiet(passes)] == [2.0, 3.0, 5.0]
    assert run.quiet(passes[:1]) == passes[:1]


def _job(jid, group, start, end, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(sid, launch, finish, run_ms=None, cpu_ns=0, gc_ms=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": finish - launch if run_ms is None else run_ms,
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
        },
    }


def test_reduce_synthetic_events():
    events = (
        _job(0, "t0:a", 1000, 2000, [0])
        + _job(1, None, 1500, 1700, [1])
        + [
            _task(0, 1100, 1300, cpu_ns=10**8, gc_ms=5, spill=2_000_000),
            _task(0, 1200, 1400),
            _task(0, 1250, 1850),
            _task(1, 1500, 1600),
        ]
    )
    out = eventlog.reduce_events(events)
    a = out["t0:a"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 1, 3)
    assert a["task_run_s"] == 1.0
    assert a["task_cpu_s"] == 0.1
    assert a["gc_s"] == 0.005
    assert a["spill_mb"] == 2.0
    # durations 200, 200, 600 -> max/median = 3
    assert a["task_skew"] == 3.0
    # job wall 1000..2000, tasks cover 1100..1850 -> 250 ms uncovered
    assert a["no_task_s"] == 0.25
    assert out[None]["task_run_s"] == 0.1
    assert out[None]["no_task_s"] == 0.1
    windowed = eventlog.reduce_events(events, window=(1450, 3000))
    assert set(windowed) == {None}


def test_reduce_captured_log():
    """On a log captured from an sf0.001 run (fixtures/capture.py)."""
    events = eventlog.read_events(FIXTURE)
    with gzip.open(FIXTURE, "rt", encoding="utf-8") as fh:
        raw = [json.loads(line) for line in fh]
    task_ends = [e for e in raw if e["Event"] == "SparkListenerTaskEnd"]
    job_ends = [e for e in raw if e["Event"] == "SparkListenerJobEnd"]
    out = eventlog.reduce_events(events)
    assert {"t0:s09_groupby_agg", "t0:s26l_prefix_filter_join"} <= set(out)
    # s26l's producer threads do not inherit the job group.
    assert out[None]["tasks"] > 0
    total = eventlog.combine(out.values())
    assert total["tasks"] == len(task_ends)
    assert total["jobs"] == len(job_ends)
    assert total["task_run_s"] == sum(
        e["Task Metrics"]["Executor Run Time"] for e in task_ends
    ) / 1e3
    for g in out.values():
        assert g["task_skew"] >= 1.0
        assert g["no_task_s"] >= 0.0
        assert 0.0 <= g["task_cpu_s"] <= g["task_run_s"] + 1e-9 + 0.01 * g["tasks"]
