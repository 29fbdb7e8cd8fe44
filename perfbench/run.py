"""Benchmark of the xgboost_ray_spark engine: one seeded workload per run.

Run from the root of a checkout::

    python3 perfbench/run.py --workload etl --seed 1 --seconds 12 --trace 0

A run generates (or reuses) the workload's inputs for ``--seed``, computes
the expected results with DuckDB, starts a Spark session on
``local[<cpus>]``, makes one untimed warm pass over the workload's jobs and
then round(``--seconds`` / the workload's typical pass time) timed passes,
at least one. A single closed-loop client submits each job after
the previous one's result has reached the Spark driver. Every result is
checked afterwards; a mismatch or an exception counts as a failed job and
makes the run exit 1.

The timing metrics are medians over the *quiet* timed passes: the half
(rounded up) in which the hypervisor stole the least CPU time from this
machine, as ``/proc/stat`` counts it. On a shared host other tenants' load
comes and goes within a run, and a pass of short jobs slows by several
times the share of CPU time stolen from it.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
session with the event log on and every pass traced (job groups, spans,
Catalyst phases, a ``StreamingQueryListener``, ``/proc`` sampling), then a
second, untraced session in the same JVM; it reports the per-layer metrics
and the tracing overhead (traced minus untraced ``pass_s``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The lines before it print every
metric by name and unit. Inputs, event logs, span files and Spark's
scratch space live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import gen  # noqa: E402
import procstat  # noqa: E402
from workloads import (  # noqa: E402
    BUILD_MODULES, GBT_AUC_MARGIN, GBT_HOLDOUT_ROWS, GBT_PARAMS, GBT_ROUNDS,
    GBT, GBT_SEED, GBT_TRAIN_ROWS, JOB_CLASSES, SF, WORKLOADS,
)

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "job_p50_s": "s", "job_tail_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB",
}
# Printed on every run; in the JSON only with --trace 1 (they do not exist
# on every workload, or are 0 by design, so they cannot carry a bound).
WORKLOAD_METRICS = {
    **{f"jobs.{c}_s": "s" for c in JOB_CLASSES},
    "error_rate": "ratio", "train_rows_per_s": "1/s",
    "predict_rows_per_s": "1/s", "holdout_auc": "ratio",
    "events_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.build_s": "s", "registry.exec_s": "s",
    **{f"{m}.build_s": "s" for m in BUILD_MODULES},
    "catalog.load_s": "s", "catalog.load_calls": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.cpu_ratio": "ratio",
    "exec.gc_s": "s", "exec.spill_mb": "MB", "exec.task_skew": "ratio",
    "exec.no_task_s": "s", "exec.unattributed_task_s": "s",
    **{
        f"exec.{c}.{m}": u
        for c in JOB_CLASSES
        for m, u in (("task_run_s", "s"), ("no_task_s", "s"), ("task_skew", "ratio"))
    },
    "dedup.scratch_mb": "MB",
    "proc.jvm_cpu_s": "s", "proc.jit_cpu_s": "s", "proc.pyworker_cpu_s": "s",
    "proc.driver_py_cpu_s": "s",
    "sources.read_s": "s", "matrix.prepare_s": "s", "ml.fit_s": "s",
    "ml.fit_jobs_per_round": "count", "ml.predict_s": "s",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.batch_max_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_s": "s",
    **WORKLOAD_METRICS,
}
MAX_PASSES = 50


class Paths:
    """Everything the benchmark writes, under ``<checkout>/.perfbench``:
    cached inputs and span files, plus a directory per process (Spark's
    scratch space, temporary files, the event log) removed when it ends."""

    def __init__(self, root: str):
        self.state = os.path.join(root, ".perfbench")
        self.inputs = os.path.join(self.state, "inputs")
        self.traces = os.path.join(self.state, "traces")
        self.run = os.path.join(self.state, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.run, "tmp")
        self.local = os.path.join(self.run, "spark-local")
        self.warehouse = os.path.join(self.run, "warehouse")
        self.eventlog = os.path.join(self.run, "eventlog")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(paths: Paths) -> None:
    """Keep Spark, its Python workers and ``tempfile`` inside the checkout.
    Must run before the engine is imported: its session defaults read the
    environment at import time. Run directories of processes that are gone
    are removed."""
    for d in glob.glob(os.path.join(paths.state, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass
    for d in (paths.tmp, paths.local, paths.eventlog, paths.traces):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = paths.tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = paths.local
    # spark-submit's launcher JVM: no hsperfdata files in the host's /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={paths.tmp}"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # The engine's default driver heap is 48g; cap it on a shared host.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def session_conf(paths: Paths, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": paths.local,
        # No hsperfdata files in the host's /tmp. The heap starts at its
        # maximum: G1 otherwise grows it by how long GC pauses take, which
        # follows host load, and peak memory would measure the host.
        # C1 only: a run is too short for C2 to finish. With C2 its
        # compiler threads kept 1-1.5 of 4 vCPUs busy through every timed
        # pass, so a pass measured how far the JIT had got on a shared
        # host. The compiler threads live as long as the JVM, so procstat
        # can read their CPU time.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={paths.tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
            "-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": paths.warehouse,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + paths.eventlog,
            # Spark 4 defaults to zstd; Python's standard library has no zstd.
            "spark.eventLog.compress": "false",
            # One plain file per application, named by its id.
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum (p100) when there are ten or fewer."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def dir_bytes(path: str, since: float) -> int:
    """Bytes of the files under ``path`` modified at or after ``since``."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(base, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total


def builder_module(spec) -> str:
    """Engine module (relative to the package) defining ``spec``'s builder."""
    name = spec.build.__name__
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("xgboost_ray_spark."):
            continue
        fn = getattr(mod, name, None)
        if callable(fn) and getattr(fn, "__module__", None) == mod_name:
            return mod_name[len("xgboost_ray_spark."):]
    return "registry"


class Expected:
    """What each job must produce, computed before the session starts."""

    def __init__(self, workload, inputs: dict):
        self.frames = {}
        self.passed: dict[str, list] = {}
        self.bayes_auc = None
        registry_jobs = [j for j in workload.jobs if j != GBT]
        if registry_jobs:
            from tests.oracle_utils import duck_connection, normalize_frame
            from xgboost_ray_spark.registry import all_queries

            specs = all_queries()
            con = duck_connection(inputs["tables"])
            try:
                for job in registry_jobs:
                    oracle = specs[job].oracle
                    if oracle is None:
                        raise SystemExit(f"perfbench: {job} has no oracle")
                    pdf = con.execute(oracle).fetchdf()
                    self.frames[job] = (
                        sorted(pdf.columns), len(pdf), normalize_frame(pdf)
                    )
            finally:
                con.close()
        if GBT in workload.jobs:
            import numpy as np
            import pyarrow.parquet as pq

            d = inputs["gbt"]
            labels = pq.read_table(
                os.path.join(d, "holdout.parquet"), columns=["labels"]
            ).column(0).to_numpy()
            logit = np.load(os.path.join(d, "holdout_logit.npy"))
            self.bayes_auc = gen.auc(logit, labels)

    def check(self, job: str, result) -> bool:
        if isinstance(result, Exception):
            return False
        if job == GBT:
            return result["auc"] >= self.bayes_auc - GBT_AUC_MARGIN
        from tests.oracle_utils import normalize_frame

        # A frame equal (values, dtypes, order) to one that already passed
        # normalizes to the same rows; skip normalizing it again.
        if any(result.equals(ok) for ok in self.passed.get(job, ())):
            return True
        cols, n, rows = self.frames[job]
        good = (
            sorted(result.columns) == cols
            and len(result) == n
            and normalize_frame(result) == rows
        )
        if good:
            self.passed.setdefault(job, []).append(result)
        return good


class Session:
    """One Spark session running timed passes of a workload."""

    def __init__(self, spark, workload, inputs, procs, tracer=None):
        from xgboost_ray_spark.registry import all_queries

        self.spark = spark
        self.workload = workload
        self.inputs = inputs
        self.procs = procs
        self.tracer = tracer
        self.specs = all_queries()
        self.modules = {
            job: builder_module(self.specs[job])
            for job in workload.jobs if job != GBT
        }
        try:
            from xgboost_ray_spark.operators.dedup import reset_spill_reuse
        except ImportError:  # an engine without the keyed spill store
            reset_spill_reuse = None
        self.reset_spill_reuse = reset_spill_reuse
        self.results: list[tuple[str, object]] = []
        # Bytes this session wrote under the engine's scratch dir.
        self.scratch_dir = getattr(
            sys.modules.get("xgboost_ray_spark.catalog"), "SCRATCH_DIR", None
        )
        self.started = time.time()
        self.scratch_peak = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def group(self, label: str):
        return self.tracer.job_group(label) if self.tracer else nullcontext()

    def registry_job(self, label: str, job: str):
        spec = self.specs[job]
        if self.reset_spill_reuse is not None:
            # Keyed spills are reused within a process; every pass must
            # execute its producers, as the first one did.
            self.reset_spill_reuse()
        with self.group(f"{label}:{job}"):
            with self.span("registry.build"), self.span(f"{self.modules[job]}.build"):
                df = spec.build(self.spark, self.inputs["tables"])
            with self.span("registry.exec"):
                pdf = df.toPandas()
            if self.tracer:
                self.tracer.record_phases(df)
        return pdf

    def gbt_job(self, label: str):
        import numpy as np
        from xgboost_ray_spark.matrix import MatrixSpec
        from xgboost_ray_spark.ml import train as mltrain
        from xgboost_ray_spark.ml.params import GBTParams
        from xgboost_ray_spark.sources import readers

        d = self.inputs["gbt"]
        spec = MatrixSpec(label_cols=("labels",), ignore=("partition",))
        with self.group(f"{label}:{GBT}.fit"):
            # Traced as sources.read_parquet (see run_phase).
            train_df = readers.read_parquet(self.spark, os.path.join(d, "train"))
            with self.span("matrix.prepare"):
                train_df = spec.prepare(train_df)
            t0 = time.perf_counter()
            with self.span("ml.fit"):
                res = mltrain.train(
                    GBT_PARAMS, train_df, spec, GBT_ROUNDS,
                    gbt_params=GBTParams(seed=GBT_SEED), backend="mllib",
                )
            fit_s = time.perf_counter() - t0
        with self.group(f"{label}:{GBT}.predict"):
            holdout = readers.read_parquet(
                self.spark, os.path.join(d, "holdout.parquet")
            )
            t0 = time.perf_counter()
            with self.span("ml.predict"):
                pdf = mltrain.predict_proba(res.model, holdout, spec).select(
                    "labels", "probability_arr"
                ).toPandas()
            predict_s = time.perf_counter() - t0
        scores = np.array([p[1] for p in pdf["probability_arr"]])
        return {
            "auc": gen.auc(scores, pdf["labels"].to_numpy()),
            "fit_s": fit_s,
            "predict_s": predict_s,
        }

    def run_pass(self, label: str) -> dict:
        steal0 = procstat.host_steal()
        cpu0 = self.procs.sample()
        t0 = time.perf_counter()
        latencies, results = [], []
        for job in self.workload.jobs:
            a = time.perf_counter()
            try:
                if job == GBT:
                    result = self.gbt_job(label)
                else:
                    result = self.registry_job(label, job)
            except Exception as exc:  # a failed job is counted, not fatal
                traceback.print_exc()
                result = exc
            latencies.append(time.perf_counter() - a)
            results.append((job, result))
        self.results.extend(results)
        wall = time.perf_counter() - t0
        cpu = procstat.diff(self.procs.sample(), cpu0)
        if self.scratch_dir:
            self.scratch_peak = max(
                self.scratch_peak, dir_bytes(self.scratch_dir, self.started)
            )
        steal1 = procstat.host_steal()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        return {
            "label": label, "wall": wall, "latencies": latencies, "cpu": cpu,
            "steal": steal, "results": results,
        }

    def timed_passes(self, seconds: float) -> list[dict]:
        """round(seconds / the workload's typical pass time) passes, at
        least one: a fixed count, so every run measures the same work."""
        n = min(MAX_PASSES, max(1, round(seconds / self.workload.pass_s)))
        return [self.run_pass(f"t{i}") for i in range(n)]


def start_session(paths, trace):
    from xgboost_ray_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=session_conf(paths, trace))


def quiet(passes: list[dict]) -> list[dict]:
    """The half of ``passes`` (rounded up) with the least host steal."""
    return sorted(passes, key=lambda p: p["steal"])[:(len(passes) + 1) // 2]


def run_phase(paths, workload, inputs, procs, seconds, trace=False,
              trace_file=None, warm=True) -> dict:
    """Session start, one untimed warm pass (unless ``warm`` is false),
    then the timed passes. With ``trace`` the session writes an event log
    and every pass is traced."""
    t0 = time.perf_counter()
    spark = start_session(paths, trace)
    start_s = time.perf_counter() - t0
    tracer = listener = None
    patches = nullcontext()
    if trace:
        import tracing as tr
        from xgboost_ray_spark import catalog
        from xgboost_ray_spark.sources import readers

        tracer = tr.Tracer(spark)
        listener = tr.StreamListener(tracer)
        spark.streams.addListener(listener)
        patches = tr.wrapped(tracer, {
            "catalog.load_table": (catalog, "load_table"),
            "sources.read_parquet": (readers, "read_parquet"),
        })
    with patches:
        sess = Session(spark, workload, inputs, procs, tracer)
        warm_pass = sess.run_pass("warm") if warm else None
        setup_s = time.perf_counter() - t0
        window = (time.time() * 1000.0, None)
        passes = sess.timed_passes(seconds)
        window = (window[0], time.time() * 1000.0)
    app_id = spark.sparkContext.applicationId
    if trace:
        # Progress events arrive asynchronously; let the listener bus drain.
        time.sleep(1.0)
        spark.streams.removeListener(listener)
    spark.stop()
    run = {
        "start_s": start_s, "setup_s": setup_s, "warm": warm_pass,
        "passes": passes, "session": sess,
    }
    if trace:
        tracer.write(os.path.join(paths.traces, trace_file))
        run.update(
            tracer=tracer, listener=listener, window=window,
            eventlog=os.path.join(paths.eventlog, app_id),
        )
    return run


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM and its workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as exc:  # the JVM may already be gone
        print(f"perfbench: gateway shutdown: {exc!r}", file=sys.stderr)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children() -> None:
    """Wait for every descendant process to end; kill what is still alive
    after 15 s."""
    deadline = time.monotonic() + 15.0
    while True:
        alive = descendants()
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        for pid in alive:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def descendants() -> list[int]:
    parents = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = procstat._read_stat(int(name))
            if st is not None and not _zombie(int(name)):
                parents[int(name)] = st[1]
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read()
        return data[data.rindex(b")") + 2:].split()[0] == b"Z"
    except OSError:
        return True


def end_to_end(run: dict, peak_pss: int) -> dict[str, float]:
    passes = quiet(run["passes"])
    lat = [x for p in passes for x in p["latencies"]]
    return {
        "setup_s": run["setup_s"],
        "pass_s": statistics.median(p["wall"] for p in passes),
        "job_p50_s": statistics.median(lat),
        "job_tail_s": tail(lat)[0],
        "cpu_s": statistics.median(
            sum(v for k, v in p["cpu"].items() if k != "jit") for p in passes
        ),
        "peak_rss_mb": peak_pss / 1e6,
    }


def class_seconds(workload, p: dict) -> dict[str, float]:
    """Seconds of one pass spent in each job class (JOB_CLASSES)."""
    out = dict.fromkeys(JOB_CLASSES, 0.0)
    for job, secs in zip(workload.jobs, p["latencies"]):
        for cls, jobs in JOB_CLASSES.items():
            if job in jobs:
                out[cls] += secs
    return out


def workload_metrics(workload, run: dict, inputs: dict, failed: int, attempted: int) -> dict:
    passes = quiet(run["passes"])
    out = dict.fromkeys(WORKLOAD_METRICS, 0.0)
    out["error_rate"] = failed / attempted
    for cls in JOB_CLASSES:
        out[f"jobs.{cls}_s"] = statistics.median(
            class_seconds(workload, p)[cls] for p in passes
        )
    timed = [
        r for p in passes for j, r in p["results"]
        if j == GBT and not isinstance(r, Exception)
    ]
    if timed:
        out["train_rows_per_s"] = GBT_TRAIN_ROWS / statistics.median(
            r["fit_s"] for r in timed)
        out["predict_rows_per_s"] = GBT_HOLDOUT_ROWS / statistics.median(
            r["predict_s"] for r in timed)
        out["holdout_auc"] = statistics.median(r["auc"] for r in timed)
    stream_jobs = [j for j in workload.jobs if j in JOB_CLASSES["stream"]]
    if stream_jobs:
        import pyarrow.parquet as pq

        events = pq.ParquetFile(
            os.path.join(inputs["tables"], "events.parquet")
        ).metadata.num_rows
        stream_s = statistics.median(
            class_seconds(workload, p)["stream"] for p in passes
        )
        out["events_per_s"] = events * len(stream_jobs) / stream_s
    return out


def per_layer(workload, traced: dict, untraced: dict) -> dict[str, float]:
    import eventlog

    passes = traced["passes"]
    n = len(passes)
    labels = {p["label"] for p in passes}
    jobs = [j for j in workload.jobs if j != GBT]
    if GBT in workload.jobs:
        jobs += [f"{GBT}.fit", f"{GBT}.predict"]
    groups = {f"{lab}:{j}" for lab in labels for j in jobs}
    tracer, listener = traced["tracer"], traced["listener"]
    out = dict.fromkeys(PER_LAYER, 0.0)

    def spans(name):
        return tracer.total(name, groups)

    out["session.start_s"] = traced["start_s"]
    out["registry.build_s"] = spans("registry.build")[0] / n
    out["registry.exec_s"] = spans("registry.exec")[0] / n
    for m in BUILD_MODULES:
        out[f"{m}.build_s"] = spans(f"{m}.build")[0] / n
    secs, calls = spans("catalog.load_table")
    out["catalog.load_s"], out["catalog.load_calls"] = secs / n, calls / n
    for ph in ("analysis", "optimization", "planning"):
        out[f"plan.{ph}_ms"] = sum(
            v[ph] for g, v in tracer.phases.items() if g in groups
        ) / n

    # Streaming micro-batches run under their query's run id as job group.
    run_group = {
        run: job for run, job in listener.run_job.items() if job in groups
    }
    by_group = eventlog.reduce_events(
        eventlog.read_events(traced["eventlog"]), window=traced["window"]
    )

    def job_class(group):
        group = run_group.get(group, group)
        if group not in groups:
            return None
        job = group.split(":", 1)[1].split(".")[0]
        return next(c for c, js in JOB_CLASSES.items() if job in js)

    by_class = {c: [] for c in JOB_CLASSES}
    for g, v in by_group.items():
        if job_class(g) is not None:
            by_class[job_class(g)].append(v)
    for cls, vals in by_class.items():
        m = eventlog.combine(vals)
        out[f"exec.{cls}.task_run_s"] = m["task_run_s"] / n
        out[f"exec.{cls}.no_task_s"] = m["no_task_s"] / n
        out[f"exec.{cls}.task_skew"] = m["task_skew"]
    mine = [v for vals in by_class.values() for v in vals]
    total = eventlog.combine(mine + ([by_group[None]] if None in by_group else []))
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "spill_mb", "no_task_s"):
        out[f"exec.{k}"] = total[k] / n
    out["exec.task_skew"] = total["task_skew"]
    out["exec.cpu_ratio"] = (
        total["task_cpu_s"] / total["task_run_s"] if total["task_run_s"] else 0.0
    )
    out["exec.unattributed_task_s"] = (
        by_group[None]["task_run_s"] / n if None in by_group else 0.0
    )
    out["dedup.scratch_mb"] = traced["session"].scratch_peak / 1e6
    out["proc.jvm_cpu_s"] = statistics.median(p["cpu"]["jvm"] for p in passes)
    out["proc.jit_cpu_s"] = statistics.median(p["cpu"]["jit"] for p in passes)
    out["proc.pyworker_cpu_s"] = statistics.median(p["cpu"]["pyworker"] for p in passes)
    out["proc.driver_py_cpu_s"] = statistics.median(p["cpu"]["driver"] for p in passes)
    out["sources.read_s"] = spans("sources.read_parquet")[0] / n
    if GBT in workload.jobs:
        out["matrix.prepare_s"] = spans("matrix.prepare")[0] / n
        out["ml.fit_s"] = spans("ml.fit")[0] / n
        out["ml.predict_s"] = spans("ml.predict")[0] / n
        fit = eventlog.combine(
            v for g, v in by_group.items()
            if g in groups and g.endswith(f"{GBT}.fit")
        )
        out["ml.fit_jobs_per_round"] = fit["jobs"] / (GBT_ROUNDS * n)
    progress = listener.for_jobs(groups)
    if progress:
        trig = [r["duration_ms"].get("triggerExecution", 0) for r in progress]
        out["streaming.batches"] = len(progress) / n
        out["streaming.batch_p50_ms"] = statistics.median(trig)
        out["streaming.batch_max_ms"] = max(trig)
        out["streaming.add_batch_ms"] = sum(
            r["duration_ms"].get("addBatch", 0) for r in progress) / n
        out["streaming.planning_ms"] = sum(
            r["duration_ms"].get("queryPlanning", 0) for r in progress) / n
        out["streaming.state_rows"] = max(r["state_rows"] for r in progress)
        out["streaming.state_mb"] = max(r["state_bytes"] for r in progress) / 1e6
    out["trace.pass_s"] = statistics.median(p["wall"] for p in quiet(passes))
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(
        p["wall"] for p in quiet(untraced["passes"])
    )
    return out


def prepare_inputs(paths: Paths, workload, seed: int) -> dict:
    inputs = {}
    if any(j != GBT for j in workload.jobs):
        inputs["tables"] = gen.tables(paths.inputs, SF, seed)
    if GBT in workload.jobs:
        inputs["gbt"] = gen.gbt_frame(
            paths.inputs, GBT_TRAIN_ROWS, GBT_HOLDOUT_ROWS, seed
        )
    return inputs


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    # The engine and the repository's exact result comparator.
    for mod in ("xgboost_ray_spark", "tests.oracle_utils"):
        try:
            found = importlib.util.find_spec(mod) is not None
        except ImportError:
            found = False
        if not found:
            print(f"perfbench: no {mod} here; run from the root of a checkout",
                  file=sys.stderr)
            return 2
    workload = WORKLOADS[args.workload]
    paths = Paths(root)
    configure_env(paths)
    try:
        return measure(args, workload, paths)
    finally:
        shutil.rmtree(paths.run, ignore_errors=True)


def measure(args, workload, paths: Paths) -> int:
    t0 = time.perf_counter()
    inputs = prepare_inputs(paths, workload, args.seed)
    expected = Expected(workload, inputs)
    prep_s = time.perf_counter() - t0

    procs = procstat.ProcTree()
    with procs:
        try:
            if args.trace:
                # The traced phase starts the JVM, like a normal run. The
                # untraced phase that gives the overhead's baseline then
                # runs in the same, already warm JVM without a warm pass
                # of its own (a second JVM start or warm pass would not
                # fit the run's time), so the two phases differ in JIT
                # state as well as in tracing.
                report = run_phase(
                    paths, workload, inputs, procs, args.seconds, trace=True,
                    trace_file=f"{workload.name}-seed{args.seed}.json",
                )
                untraced = run_phase(
                    paths, workload, inputs, procs, args.seconds, warm=False
                )
            else:
                report = untraced = run_phase(
                    paths, workload, inputs, procs, args.seconds
                )
        finally:
            t0 = time.perf_counter()
            shutdown_jvm()
            wait_children()
            stop_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    attempted = failed = 0
    for run in {id(r): r for r in (report, untraced)}.values():
        for job, result in run["session"].results:
            attempted += 1
            if not expected.check(job, result):
                failed += 1
                print(f"perfbench: MISMATCH {job}", file=sys.stderr)
    check_s = time.perf_counter() - t0

    metrics = end_to_end(report, procs.peak_pss)
    extra = workload_metrics(workload, report, inputs, failed, attempted)
    calm = quiet(report["passes"])
    lat = [x for p in calm for x in p["latencies"]]
    _, pct, n = tail(lat)
    print(f"workload {workload.name} seed {args.seed}"
          f"{' (traced)' if args.trace else ''}: "
          f"{len(report['passes'])} timed pass(es), {len(calm)} quiet (*), "
          f"{n} job samples; job_tail_s is p{pct:.1f} of {n}")
    jobs = workload.jobs
    print(f"  inputs and oracles {prep_s:.3f} s; JVM shutdown {stop_s:.3f} s; "
          f"result checks {check_s:.3f} s")
    print(f"  session start {report['start_s']:.3f} s; warm pass jobs: "
          + ", ".join(f"{j} {x:.3f}" for j, x in zip(jobs, report["warm"]["latencies"])))
    for p in report["passes"]:
        mark = "*" if any(p is q for q in calm) else ""
        print(f"  timed pass {p['label']}{mark} (host steal {100 * p['steal']:.1f}%, "
              f"cpu {p['cpu']['driver'] + p['cpu']['jvm'] + p['cpu']['pyworker']:.2f} s, "
              f"jit {p['cpu']['jit']:.2f} s): "
              + ", ".join(f"{j} {x:.3f}" for j, x in zip(jobs, p["latencies"])))
    print("  peak memory by process kind (MB): " + ", ".join(
        f"{k} {v / 1e6:.0f}" for k, v in procs.peak_by_kind.items() if k != "jit"))
    for name, unit in END_TO_END.items():
        print(f"  {name} = {metrics[name]:.6g} {unit}")
    for name, unit in WORKLOAD_METRICS.items():
        print(f"  {name} = {extra[name]:.6g} {unit}")
    if GBT in workload.jobs:
        print(f"  holdout AUC floor = {expected.bayes_auc - GBT_AUC_MARGIN:.6g} "
              f"(Bayes AUC {expected.bayes_auc:.6g})")
    if args.trace:
        layer = per_layer(workload, report, untraced)
        layer.update(extra)
        for name, unit in PER_LAYER.items():
            if name not in WORKLOAD_METRICS:
                print(f"  {name} = {layer[name]:.6g} {unit}")
        out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": out,
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
