"""Capture the event-log fixture used by ``test_perfbench.py``.

Run from the root of a checkout::

    python3 perfbench/fixtures/capture.py

It generates sf0.001 tables (seed 1), runs two registry jobs with the event
log on, each under a benchmark job group (``t0:<job>``), and keeps the
events ``eventlog.py`` reads, scrubbed of host paths, in
``fixtures/eventlog_sf0001.jsonl.gz``.
``s26l_prefix_filter_join`` starts some of its Spark jobs from producer
threads, which do not inherit the job group, so the fixture also holds
unattributed tasks.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

JOBS = ("s09_groupby_agg", "s26l_prefix_filter_join")
OUT = os.path.join(HERE, "eventlog_sf0001.jsonl.gz")


def scrub(ev: dict) -> dict:
    """Drop what the reducer does not read and what names the capturing
    host (local paths in job properties and RDD call sites)."""
    ev = dict(ev)
    ev.pop("Stage Infos", None)
    if "Stage Info" in ev:
        ev["Stage Info"] = {"Stage ID": ev["Stage Info"]["Stage ID"]}
    if "Properties" in ev:
        ev["Properties"] = {
            k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"
        }
    return ev


def main() -> None:
    root = os.getcwd()
    sys.path.insert(0, root)
    paths = run.Paths(root)
    run.configure_env(paths)
    tables = gen.tables(paths.inputs, 0.001, 1)

    from xgboost_ray_spark.registry import all_queries
    from xgboost_ray_spark.session import get_spark

    spark = get_spark(app_name="perfbench-fixture",
                      extra_conf=run.session_conf(paths, trace=True))
    specs = all_queries()
    sc = spark.sparkContext
    try:
        for job in JOBS:
            sc.setJobGroup(f"t0:{job}", job)
            specs[job].build(spark, tables).toPandas()
    finally:
        spark.stop()
        run.shutdown_jvm()
        run.wait_children()
    (log,) = glob.glob(os.path.join(paths.eventlog, "local-*"))
    with gzip.open(OUT, "wt", encoding="utf-8") as fh:
        for ev in eventlog.read_events(log):
            fh.write(json.dumps(scrub(ev)) + "\n")
    shutil.rmtree(paths.run, ignore_errors=True)
    print(OUT)


if __name__ == "__main__":
    main()
