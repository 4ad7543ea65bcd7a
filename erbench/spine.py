"""``spine_content``: the unsupervised AND spine with the content feature.

signatures -> TF-IDF top-k maps -> exact + LSH candidate pairs ->
pair features -> threshold match -> connected components, with the
blocking options (adaptive_target=32, lsh=True, top_k=64) and match
rule of ``bench.bench_and_pipeline(content=True)``.  Only the engine's
public entry points are called.
"""

from __future__ import annotations

import time

from checks import (
    LSH_TAG,
    check_components,
    check_pairs,
    cluster_precision_recall,
)
from harness import cc_rounds

SIG_COLS = [
    "mention_id", "conv_id", "block_key", "given_name", "surname",
    "token_hashes", "shingle_hashes", "tool_profile", "ts_min", "ts_max",
    "tokens",
]
# quality floors for cluster pairwise precision / recall against the
# planted entities (measured 0.99+ / 0.97+ on every seed tried)
MIN_PRECISION = 0.95
MIN_RECALL = 0.90


def make_inputs(spark, seed: int, n_entities: int):
    """(transcripts, truth) from the distributed generator, checkpointed
    so no pass re-runs generation; ~4 entities per block as in bench.py."""
    from pubmed_and_method_spark.sources.distributed_datagen import (
        distributed_transcripts,
    )

    t, g = distributed_transcripts(
        spark, seed=seed, n_entities=n_entities,
        n_blocks=max(2, n_entities // 4),
    )
    return t.localCheckpoint(eager=True), g.localCheckpoint(eager=True)


def spine_content(spark, transcripts, truth, tracer, materialize=False):
    """Run the spine once; returns its frames and the collected
    (id, component) rows.  ``materialize`` checkpoints every layer
    boundary (traced and checked passes); otherwise the pair and
    feature layers stay lazy inside the components action, as in
    bench.py."""
    from pyspark.sql import functions as F

    from pubmed_and_method_spark.operators.connected_components import (
        connected_components,
    )
    from pubmed_and_method_spark.plans.pipeline import (
        build_labeled_pairs,
        build_pair_features,
        build_signatures,
        build_tfidf_terms,
    )

    with tracer.layer("signatures"):
        sig = (
            build_signatures(transcripts, tfidf=False).select(*SIG_COLS)
            .localCheckpoint(eager=True)
        )
    with tracer.layer("tfidf_terms"):
        terms = build_tfidf_terms(sig, top_k=64).localCheckpoint(eager=True)
    with tracer.layer("candidate_pairs"):
        pairs = build_labeled_pairs(sig, truth, adaptive_target=32, lsh=True)
        if materialize:
            pairs = pairs.localCheckpoint(eager=True)
    with tracer.layer("pair_features"):
        feats = build_pair_features(pairs, sig, tfidf_terms=terms)
        if materialize:
            feats = feats.localCheckpoint(eager=True)
    matched = feats.filter(
        (F.col("name_jw") > 0.95)
        & ((F.col("token_jacc") > 0.2) | (F.col("content_tfidf_cos") > 0.4))
    ).select("mention_id1", "mention_id2")
    with tracer.layer("connected_components") as cc_span:
        comps = [tuple(r) for r in connected_components(
            matched, u_col="mention_id1", v_col="mention_id2"
        ).collect()]
    if tracer.enabled:
        _trace_extras(tracer, sig, terms, pairs, feats, matched, comps,
                      cc_span)
    return {"sig": sig, "pairs": pairs, "matched": matched, "comps": comps}


def _trace_extras(tracer, sig, terms, pairs, feats, matched, comps, cc_span):
    """Row counts and pair-layer extras of a materialized pass (reads
    checkpointed frames only, outside every layer's job group)."""
    from pyspark.sql import functions as F

    tracer.add("signatures", rows_out=sig.count())
    tracer.add("tfidf_terms", rows_out=terms.count())
    row = pairs.agg(
        F.count("*").alias("n"),
        F.sum((F.col("block_key") == LSH_TAG).cast("long")).alias("lsh"),
        F.sum("same_entity").alias("same"),
    ).first()
    tracer.add("candidate_pairs", rows_out=row.n, exact_pairs=row.n - row.lsh,
               lsh_pairs=row.lsh, true_pair_ratio=row.same / row.n)
    tracer.add("pair_features", rows_out=feats.count())
    tracer.add("connected_components", rows_out=len(comps),
               edges_in=matched.count(), rounds=cc_rounds(cc_span["job_names"]))


class Spine:
    def __init__(self, spark, work, seed: int, n_entities: int, tracer):
        self.spark = spark
        self.tracer = tracer
        self.n_entities = n_entities
        with tracer.layer("datagen"):
            self.t, self.g = make_inputs(spark, seed, n_entities)
        self.turns = self.t.count()
        tracer.add("datagen", turns=self.turns, rows_out=self.turns)
        self.reference = None
        self.quality: dict = {}

    def summary(self) -> dict:
        return {"turns": self.turns, "entities": self.n_entities,
                **self.quality}

    def ops_per_pass(self) -> int:
        return 1

    def warm_up(self) -> None:
        # a materialized pass: its pairs and edges are checked in full
        self.reference = spine_content(
            self.spark, self.t, self.g, self.tracer, materialize=True)

    def prepare_checks(self) -> list[str]:
        """Full checks of the warm-up pass; later passes must give the
        same components."""
        ref = self.reference
        block_keys = [r[0] for r in ref["sig"].select("block_key").collect()]
        pairs = [tuple(r) for r in ref["pairs"].select(
            "mention_id1", "mention_id2", "block_key").collect()]
        edges = [tuple(r) for r in ref["matched"].collect()]
        errors = check_pairs(block_keys, pairs)
        errors += check_components(ref["comps"], edges)
        entity_of = {
            f"{conv}#assistant": ent
            for conv, ent in self.g.select("conv_id", "entity_id").collect()
        }
        labels = dict(ref["comps"])
        p, r = cluster_precision_recall(labels, entity_of)
        if p < MIN_PRECISION or r < MIN_RECALL:
            errors.append(f"cluster precision {p:.4f} / recall {r:.4f} "
                          f"below {MIN_PRECISION} / {MIN_RECALL}")
        self.quality = {"precision": p, "recall": r}
        self.want = sorted(ref["comps"])
        self.reference = None
        return errors

    def run_pass(self, check: bool = True) -> tuple[float, list[str], int]:
        t0 = time.perf_counter()
        out = spine_content(self.spark, self.t, self.g, self.tracer,
                            materialize=self.tracer.enabled)
        timed = time.perf_counter() - t0
        errors = []
        if check and sorted(out["comps"]) != self.want:
            errors.append("components differ from the checked warm-up pass")
        return timed, errors, 0
