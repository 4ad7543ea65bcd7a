"""Session, work directory and per-layer tracing for the benchmark.

Layer metrics come from Spark's own status store
(``sc._jsc.sc().statusStore()``), which the engine's listener fills
whether or not the web UI runs.  Each traced layer call gets its own
job group; when the call ends, the group's jobs and stages are read
back and summed.  Nothing here adds a Spark action.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0

# Every layer reports these; extras are listed per layer.
BASE_METRICS = (
    "wall_s", "executor_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "tasks", "task_skew", "rows_out",
)
LAYER_EXTRAS = {
    "datagen": ("turns",),
    "signatures": (),
    "tfidf_terms": (),
    "candidate_pairs": ("exact_pairs", "lsh_pairs", "true_pair_ratio"),
    "pair_features": (),
    "connected_components": ("rounds", "edges_in"),
    "ml": (),
    "stage_store": ("write_mb",),
    "queries": ("build_s", "plan_s", "exec_s"),
}
LAYERS = tuple(LAYER_EXTRAS)

# The driver heap is pre-touched at JVM start (session.get_spark); a
# fixed size keeps set-up time independent of the host's free memory.
DRIVER_MEM = "3g"


class WorkDir:
    """Scratch space inside the checkout: Spark local dirs, temp files,
    generated inputs and stage stores.  Removed on close."""

    def __init__(self, root: str, tag: str):
        self.path = os.path.join(root, ".erbench_work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("local", "tmp", "data", "stores"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def start_spark(repo_root: str, work: WorkDir):
    """One local[nproc] session with the engine's defaults.  Python
    workers import the engine from the checkout; every file Spark or
    the JVM writes lands under ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("local")
    os.environ["TMPDIR"] = work.sub("tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work.sub('tmp')}"
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    from pubmed_and_method_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="erbench",
        cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run in the status store
            # until it has been read (the defaults evict after 1000)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session and its JVM; Python workers exit with it."""
    try:
        spark.stop()
    finally:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def cc_rounds(job_names) -> int:
    """Rounds of connected_components from its span's job names: the
    operator checkpoints its edge set once, then twice per round
    (large star, small star)."""
    n = sum(1 for name in job_names if name.startswith("localCheckpoint at"))
    return max(0, (n - 1) // 2)


def group_stage_metrics(sc, group: str, skew: bool = True) -> tuple[dict, list]:
    """Summed metrics of the completed stages of job group ``group``,
    and the group's job names."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    names, stage_ids = [], set()
    for j in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(j)
        names.append(job.name())
        ids = job.stageIds()
        stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
    quant = sc._gateway.new_array(sc._jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = defaultdict(float)
    skew_num = skew_den = 0.0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # never submitted
            continue
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        run_ms = float(st.executorRunTime())
        out["executor_s"] += run_ms / 1000.0
        out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["spill_mb"] += st.diskBytesSpilled() / MB
        out["tasks"] += st.numCompleteTasks()
        if not skew or run_ms <= 0:
            continue
        summary = store.taskSummary(sid, st.attemptId(), quant)
        if summary.isDefined():
            dist = summary.get().executorRunTime()
            med, mx = float(dist.apply(0)), float(dist.apply(1))
            # DS2's skew signal per stage, weighted by the stage's
            # share of executor time: skew on a stage that does most
            # of the work dominates the layer's figure
            skew_num += run_ms * (mx / med if med > 0 else 1.0)
            skew_den += run_ms
    out["task_skew"] = skew_num / skew_den if skew_den else 1.0
    return dict(out), names


@contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under job group ``group``."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


class Tracer:
    """Per-layer figures of a run: one record for set-up and one per
    timed pass.  A disabled tracer costs nothing: ``layer`` only
    yields."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self._n = 0
        self.setup: dict = {}
        self.passes: list[dict] = []
        self.current: dict = self.setup

    def begin_pass(self) -> None:
        self.current = {}

    def end_pass(self) -> None:
        if self.enabled:
            self.passes.append(self.current)
        self.current = {}

    def add(self, layer: str, **values: float) -> None:
        if not self.enabled:
            return
        rec = self.current.setdefault(layer, defaultdict(float))
        for k, v in values.items():
            rec[k] += v

    @contextmanager
    def layer(self, name: str, *also: str):
        """Span one call of layer ``name``; its figures are credited to
        ``name`` and to every layer in ``also``.  Yields a dict that
        holds, after the span, the names of the span's Spark jobs."""
        span: dict = {"job_names": []}
        if not self.enabled:
            yield span
            return
        self._n += 1
        group = f"erbench-{name}-{self._n}"
        t0 = time.perf_counter()
        try:
            with job_group(self.sc, group):
                yield span
        finally:
            wall = time.perf_counter() - t0
            metrics, span["job_names"] = group_stage_metrics(self.sc, group)
            # several calls' skews are averaged weighted by executor time
            metrics["task_skew"] *= metrics.get("executor_s", 0.0)
            for layer in (name, *also):
                self.add(layer, wall_s=wall, **metrics)

    def report(self) -> dict[str, float]:
        """Median over timed passes of each per-pass layer figure.  A
        layer that runs only during set-up (datagen) reports its set-up
        figure; a layer the workload never exercises reads 0."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            names = BASE_METRICS + LAYER_EXTRAS[layer]
            passes = self.passes
            if not any(layer in p for p in passes):
                passes = [self.setup]
            for metric in names:
                vals = []
                for p in passes:
                    rec = p.get(layer)
                    if rec is None:
                        continue
                    v = rec.get(metric, 0.0)
                    if metric == "task_skew":
                        ex = rec.get("executor_s", 0.0)
                        v = v / ex if ex > 0 else 1.0
                    vals.append(v)
                out[f"{layer}.{metric}"] = (
                    statistics.median(vals) if vals else 0.0
                )
        return out
