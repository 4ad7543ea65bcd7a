"""Run one benchmark workload and print its result as one JSON line.

    python3 erbench/run.py --workload supervised --seed 1 --seconds 12 --trace 0

From the repository root.  Workloads: spine_content, supervised,
querymix (see README.md).  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics.  A run first sets up (Spark
session, inputs from ``--seed``, warm-up pass), then runs whole passes
until their measured time reaches ``--seconds``, checking every
pass's output.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the full record of
the run goes to ``.erbench_out/``.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPINE_ENTITIES = 500
SUPERVISED_ENTITIES = 500
WORKLOADS = ("spine_content", "supervised", "querymix")

UNITS = {"_s": "s", "_mb": "MB", "task_skew": "ratio",
         "true_pair_ratio": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def engine_missing() -> str | None:
    pkg = os.path.join(ROOT, "pubmed_and_method_spark", "__init__.py")
    if not os.path.isfile(pkg):
        return f"engine package not found at {os.path.dirname(pkg)}"
    for mod in ("pyspark", "duckdb", "pyarrow", "numpy"):
        try:
            __import__(mod)
        except ImportError as e:
            return f"cannot import {mod}: {e}"
    return None


def build(workload: str, spark, work, seed: int, tracer):
    if workload == "spine_content":
        from spine import Spine

        return Spine(spark, work, seed, SPINE_ENTITIES, tracer)
    if workload == "supervised":
        from supervised import Supervised

        return Supervised(spark, work, seed, SUPERVISED_ENTITIES, tracer)
    from querymix import QueryMix

    return QueryMix(spark, work, seed, tracer)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = engine_missing()
    if missing:
        print(f"erbench: {missing}; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from harness import Tracer, WorkDir, group_stage_metrics, job_group
    from harness import start_spark, stop_spark

    work = WorkDir(ROOT, args.workload)
    spark = None
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    try:
        spark, cores = start_spark(ROOT, work)
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = build(args.workload, spark, work, args.seed, tracer)
        wl.warm_up()
        setup_s = time.time() - T_START
        errors = wl.prepare_checks()

        walls, shuffle, attempted, failed = [], [], 0, 0
        while sum(walls) < args.seconds or not walls:
            tracer.begin_pass()
            group = f"erbench-pass-{len(walls)}"
            with job_group(spark.sparkContext, group):
                wall, errs, n_failed = wl.run_pass()
            tracer.end_pass()
            if not tracer.enabled:
                m, _ = group_stage_metrics(spark.sparkContext, group,
                                           skew=False)
                shuffle.append(m.get("shuffle_write_mb", 0.0))
            walls.append(wall)
            errors += errs
            attempted += wl.ops_per_pass()
            failed += n_failed
        record.update(cores=cores, setup_s=setup_s, pass_walls=walls,
                      pass_shuffle_write_mb=shuffle,
                      extra=wl.summary())
    finally:
        if spark is not None:
            stop_spark(spark)
        work.close()

    if tracer.enabled:
        values = tracer.report()
        record.update(layers_setup=tracer.setup, layers_passes=tracer.passes)
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "shuffle_write_mb": statistics.median(shuffle),
        }
    for e in errors:
        print(f"erbench: check failed: {e}", file=sys.stderr)
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in values.items()},
    }
    record.update(result=result, errors=errors)
    out_dir = os.path.join(ROOT, ".erbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=float)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
