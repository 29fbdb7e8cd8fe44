"""Driver-contract regression guard: run from a FOREIGN cwd.

The round driver imports ``__spark_entry__`` from its own process with its
own cwd — not the repo root. Two failure modes only appear under that
contract: (a) relative-path assumptions in the engine, and (b) workers
failing to import ``xgboost_ray_spark`` for cloudpickled mapInPandas
functions (``registry.ensure_workers_can_import`` exists precisely for
this). The in-process pytest suite runs with cwd=/root/repo and can miss
both, so this test re-runs the contract in a subprocess with cwd=/tmp.

Each check collects a column that only a Python worker can produce: a
``count()`` lets Catalyst prune the UDF column, and then no worker runs.
"""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = f"""
import sys
sys.path.insert(0, {REPO!r})
SF = {SF_SMOKE!r}
"""

_SCRIPT = _PRELUDE + r"""
import __spark_entry__ as contract
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
assert len(contract.entry(spark).collect()) > 0

# A Python-UDF-bearing query: fails with ModuleNotFoundError on the worker
# side unless the package zip was shipped via addPyFile.
qs = contract.queries()
charged = qs["s29_pandas_udf"](spark, SF).select("charged").collect()
assert charged and all(r.charged is not None for r in charged)

# The file-layout family (r8 rotation) is the most cwd-sensitive surface
# in the catalog: these entries WRITE derived layouts (compacted files,
# z-ordered copies, partitioned dirs) under catalog.SCRATCH_DIR and read
# them back. A relative-path slip anywhere in that machinery only shows
# up from a foreign cwd, so pin the three heaviest here permanently.
for name in (
    "s01e_compaction",
    "s01h_zorder_layout",
    "s01i_dynamic_partition_pruning",
):
    assert qs[name](spark, SF).count() > 0, name
print("FOREIGN_CWD_OK")
"""

# The engine's own session: its Python workers fork from the engine's
# worker daemon, which must itself import the package from a foreign cwd.
_GET_SPARK_SCRIPT = _PRELUDE + r"""
from xgboost_ray_spark.registry import all_queries
from xgboost_ray_spark.session import get_spark

spark = get_spark(app_name="foreign_cwd", master="local[2]")
frames = all_queries()["s29e_frame_sample"].build(spark, SF)
assert len(frames.select("frame_hash").collect()) > 0
print("FOREIGN_CWD_OK")
"""


def _run_from_foreign_cwd(script: str) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
        env=None,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "FOREIGN_CWD_OK" in proc.stdout


def test_contract_runs_from_foreign_cwd():
    _run_from_foreign_cwd(_SCRIPT)


def test_get_spark_workers_run_from_foreign_cwd():
    _run_from_foreign_cwd(_GET_SPARK_SCRIPT)
