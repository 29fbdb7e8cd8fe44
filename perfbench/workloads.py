"""The benchmark's workloads: which jobs each one runs, on which inputs.

A workload is a list of jobs run in order as one *pass*. The benchmark is
a single closed-loop client: it submits the next job only after the
previous one's result is complete in the Spark driver process.

Registry jobs are entries of ``xgboost_ray_spark.registry``; each runs
``QuerySpec.build``, collects the result with ``toPandas`` and is checked
against the entry's DuckDB oracle. The ``gbt`` job reads the seeded gbt
frame, prepares it with ``MatrixSpec``, trains with ``ml.train.train``
and scores a holdout; its check is the holdout AUC.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    jobs: tuple[str, ...]
    # Typical pass time on a 4-vCPU host; ``--seconds`` buys
    # round(seconds / pass_s) timed passes, at least one, so every run of
    # one workload measures the same number of passes.
    pass_s: float


# Scale factor of the catalog tables the registry jobs read. Every job is
# dominated by per-job and per-round fixed cost at this size, and a whole
# run (JVM start, warm pass, timed passes) stays near a minute on 4 vCPUs.
SF = 0.01


# The job that trains and scores the gbt frame (not a registry entry).
GBT = "gbt"

# Jobs by the class of cost they stand for; "jobs.<class>_s" reports the
# seconds a pass spends in each class.
JOB_CLASSES = {
    # per-job fixed cost: py4j, Catalyst, scheduling, Python-worker start
    "etl": (
        "s09_groupby_agg", "s05_inner_join", "s13_window_rank",
        "s16_topk_per_group", "s24b_sessionization", "s23_json",
        "s29e_frame_sample",
    ),
    # Python-side build: keyed spills, producer threads, checkpointed rounds
    "dedup_graph": ("s26l_prefix_filter_join", "s24g_pagerank"),
    # streaming state in a custom Python function (applyInPandasWithState)
    "stream": ("s25d_stateful_sessions",),
    # read, MatrixSpec prepare, MLlib GBT fit, holdout scoring
    "gbt": (GBT,),
}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl",
            "short relational, window, JSON and mapInPandas jobs: per-job "
            "fixed cost dominates; no ml, streaming, spills or loops",
            JOB_CLASSES["etl"],
            pass_s=3.4,
        ),
        Workload(
            "heavy",
            "dedup/graph (spills, producer threads, checkpointed rounds), "
            "streaming state and GBT train/score: seconds per job",
            JOB_CLASSES["dedup_graph"] + JOB_CLASSES["stream"] + JOB_CLASSES["gbt"],
            pass_s=17.0,
        ),
    )
}

# gbt sizing: fixed rounds, depth and seed so every pass does equal work.
GBT_TRAIN_ROWS = 50_000
GBT_HOLDOUT_ROWS = 20_000
GBT_ROUNDS = 4
GBT_DEPTH = 4
GBT_SEED = 42
GBT_PARAMS = {"objective": "binary:logistic", "max_depth": GBT_DEPTH, "eta": 0.3}
# holdout AUC may fall this far below the generator's Bayes AUC.
GBT_AUC_MARGIN = 0.02

# Builder modules of the registry jobs above, for the per-module build
# time metrics ("<module>.build_s").
BUILD_MODULES = (
    "operators.relational", "operators.joins", "operators.windows",
    "operators.multimodal", "operators.dedup", "operators.graph",
    "streaming.queries",
)
