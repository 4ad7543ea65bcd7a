"""``supervised``: the full ``run_pipeline`` on pre-generated input.

Every stage is written through ``StageStore`` (parquet + manifest),
the GBT model is fit and scored, clusters come from connected
components, and pair and cluster F1 are returned.  Each pass gets a
fresh store directory, so nothing is resumed from a previous pass.

Checks: DuckDB reads the pass's StageStore parquet and recomputes the
same_entity labels from the truth table, pair F1 from scored_pairs and
cluster F1 from the clusters stage; both F1 values must equal the ones
run_pipeline returned.  The clusters must also form the partition that
union-find over the matched edges gives.

Tracing wraps the entry points run_pipeline already calls:
``StageStore.run_stage`` and the ``ml.model`` functions as bound in
``plans.pipeline``.  The pipeline itself is never copied.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

from checks import LSH_TAG, check_supervised
from harness import cc_rounds
from spine import make_inputs

MIN_PAIR_F1 = 0.99
# run_pipeline's cluster-edge rule at its default cluster_threshold
EDGE_RULE_SQL = (
    "pred_prob > 0.85 AND (content_tfidf_cos > 0.4 OR token_jacc > 0.25)"
)
CHECKED_STAGES = ("labeled_pairs", "entities_truth", "scored_pairs", "clusters")
# StageStore stage -> the spine layer it computes
STAGE_LAYER = {
    "signatures": "signatures",
    "tfidf_terms": "tfidf_terms",
    "labeled_pairs": "candidate_pairs",
    "pair_features": "pair_features",
    "clusters": "connected_components",
}
ML_FUNCS = ("fit_match_classifier", "predict_prob", "pairwise_metrics")


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024.0 * 1024.0)


@contextmanager
def traced_entry_points(tracer):
    """Wrap run_stage and the pipeline's ml.model bindings in layer
    spans for the duration of the block."""
    from pubmed_and_method_spark.plans import pipeline
    from pubmed_and_method_spark.plans.checkpoint import StageStore

    orig_stage = StageStore.run_stage
    orig_ml = {f: getattr(pipeline, f) for f in ML_FUNCS}

    def run_stage(store, name, build, *args, **kwargs):
        layer = STAGE_LAYER.get(name)
        also = ("stage_store",) if layer else ()
        with tracer.layer(layer or "stage_store", *also) as span:
            df = orig_stage(store, name, build, *args, **kwargs)
        if name == "clusters":
            tracer.add(layer, rounds=cc_rounds(span["job_names"]))
        rows = df.count()
        tracer.add("stage_store", rows_out=rows,
                   write_mb=dir_mb(os.path.join(store.root, name)))
        if layer:
            tracer.add(layer, rows_out=rows)
        return df

    def wrap(fn):
        def traced(*args, **kwargs):
            with tracer.layer("ml"):
                return fn(*args, **kwargs)
        return traced

    StageStore.run_stage = run_stage
    for f, fn in orig_ml.items():
        setattr(pipeline, f, wrap(fn))
    try:
        yield
    finally:
        StageStore.run_stage = orig_stage
        for f, fn in orig_ml.items():
            setattr(pipeline, f, fn)


class Supervised:
    """One pass = one run_pipeline call into a fresh StageStore."""

    def __init__(self, spark, work, seed: int, n_entities: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_pass = 0
        self.last_store_mb = 0.0
        with tracer.layer("datagen"):
            self.t, self.g = make_inputs(spark, seed, n_entities)
        self.turns = self.t.count()
        tracer.add("datagen", turns=self.turns, rows_out=self.turns)
        self.n_entities = n_entities
        self.last_metrics: dict = {}

    def summary(self) -> dict:
        m = self.last_metrics
        return {"turns": self.turns, "entities": self.n_entities,
                "n_pairs": m.get("n_pairs"),
                "pair_f1": m.get("pair_model", {}).get("f1"),
                "cluster_f1": m.get("clusters", {}).get("f1"),
                "stage_store_mb": self.last_store_mb}

    def ops_per_pass(self) -> int:
        return 1

    def warm_up(self) -> None:
        """None: a batch user runs the pipeline once per process, so the
        timed pass is the process's first, cold one."""

    def prepare_checks(self) -> list[str]:
        return []

    def run_pass(self, check: bool = True) -> tuple[float, list[str], int]:
        from pubmed_and_method_spark.plans.checkpoint import StageStore
        from pubmed_and_method_spark.plans.pipeline import run_pipeline

        self.n_pass += 1
        root = self.work.sub("stores", f"pass{self.n_pass}")
        t0 = time.perf_counter()
        if self.tracer.enabled:
            with traced_entry_points(self.tracer):
                metrics = run_pipeline(
                    self.spark, StageStore(self.spark, root), seed=self.seed,
                    transcripts=self.t, truth=self.g)
        else:
            metrics = run_pipeline(
                self.spark, StageStore(self.spark, root), seed=self.seed,
                transcripts=self.t, truth=self.g)
        timed = time.perf_counter() - t0
        self.last_store_mb = dir_mb(root)
        self.last_metrics = metrics
        con = store_views(root)
        try:
            errors = (check_supervised(con, metrics, EDGE_RULE_SQL,
                                       MIN_PAIR_F1) if check else [])
            if self.tracer.enabled:
                self._trace_extras(con)
        finally:
            con.close()
            shutil.rmtree(root, ignore_errors=True)
        return timed, errors, 0

    def _trace_extras(self, con) -> None:
        n, lsh, same = con.execute(
            f"SELECT count(*), count(*) FILTER (block_key = '{LSH_TAG}'), "
            "sum(same_entity) FROM labeled_pairs").fetchone()
        self.tracer.add("candidate_pairs", exact_pairs=n - lsh,
                        lsh_pairs=lsh, true_pair_ratio=same / n)
        edges = con.execute(
            f"SELECT count(*) FROM scored_pairs WHERE {EDGE_RULE_SQL}"
        ).fetchone()[0]
        self.tracer.add("connected_components", edges_in=edges)


def store_views(root: str):
    """A DuckDB connection with one view per checked StageStore stage."""
    import duckdb

    con = duckdb.connect()
    for stage in CHECKED_STAGES:
        con.execute(
            f"CREATE VIEW {stage} AS SELECT * FROM "
            f"read_parquet('{os.path.join(root, stage)}/*.parquet')"
        )
    return con
