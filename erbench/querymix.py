"""``querymix``: registered queries against seeded sf0.01-shaped tables.

Each pass runs every query in ``QUERY_MIX`` once through the public
``queries.QUERIES`` registry (so through ``session.load_table`` and
Catalyst planning) and collects its rows.  Every result is compared
with the query's DuckDB oracle (``queries.ORACLES``) on the same
parquet files, with the oracle test's comparison (checks.same_rows).

Inputs are written as one-row-group parquet files with the column
types and value ranges of the engine's sf0.01 test tables.  All tables
but ``lineitem`` are drawn from ``--seed``.  ``lineitem`` feeds only
q01, the one query kept in the mix as a known failure: its input is
fixed so that the failure is the same in every run.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np

from checks import same_rows

QUERY_MIX = [
    "q01_pricing_summary",
    "q03_nation_order_counts",
    "q08_top_orders_per_customer",
    "q15_token_stats",
    "q18_block_jaccard_pairs",
    "q21_name_similarity_pairs",
    "q37_tfidf_cosine_pairs",
    "q57_curation_pipeline",
]
# q01 rounds double sums to 6 decimals at magnitudes (~1e8) where one
# ulp is ~1e-8, so any change in fold order shows in the result;
# load_table's repartition changes Spark's fold order.
KNOWN_FAILURES = {"q01_pricing_summary"}
LINEITEM_SEED = 20240101

VOCAB = (
    "a the join hash row batch scan customer column filter small slow "
    "merge order vector line data table agg value key stream window "
    "spark group part big sort query fast"
).split()
LANGS = (["en", "fr", "zh", "de", "es"], [0.44, 0.14, 0.14, 0.14, 0.14])
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(rng, n, start: dt.date, end: dt.date):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)


def make_tables(data_dir: str, seed: int) -> None:
    """Write the mix's input tables for ``seed`` under ``data_dir``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_doc = 500
    words = rng.integers(10, 100, n_doc)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(words[i]))))
    _write(os.path.join(data_dir, "documents.parquet"), {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS[0], n_doc, p=LANGS[1]).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    _write(os.path.join(data_dir, "nation.parquet"), {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    n_cust = 1500
    _write(os.path.join(data_dir, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(
            np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
    })

    n_ord = 15000
    _write(os.path.join(data_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(
            _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
    })

    li = np.random.default_rng(LINEITEM_SEED)
    n_li = 60000
    _write(os.path.join(data_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(li.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(li.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(li.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(li.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(li.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(
            np.round(li.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(li.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(li.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(li.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(li.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": pa.array(
            _days(li, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            pa.timestamp("us")),
    })


def oracle_results(data_dir: str) -> dict:
    """DuckDB's (columns, rows) for every query in the mix."""
    import duckdb

    from pubmed_and_method_spark.queries import ORACLES

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'"
            )
    out = {}
    for name in QUERY_MIX:
        res = con.execute(ORACLES[name])
        out[name] = ([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


class QueryMix:
    """One pass = every query of the mix, built, planned and collected
    once, in list order."""

    def __init__(self, spark, work, seed: int, tracer):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = work.sub("data")
        self.oracle: dict = {}
        self.latency: dict = {name: [] for name in QUERY_MIX}
        with tracer.layer("datagen"):
            make_tables(self.data_dir, seed)

    def ops_per_pass(self) -> int:
        return len(QUERY_MIX)

    def summary(self) -> dict:
        return {"query_latency_s": self.latency}

    def warm_up(self) -> None:
        self.run_pass(check=False)

    def prepare_checks(self) -> list[str]:
        self.oracle = oracle_results(self.data_dir)
        return []

    def run_pass(self, check: bool = True) -> tuple[float, list[str], int]:
        """Returns (timed seconds, errors, failed operations)."""
        from pubmed_and_method_spark.queries import QUERIES

        tr = self.tracer
        timed = 0.0
        errors: list[str] = []
        failed = 0
        for name in QUERY_MIX:
            with tr.layer("queries"):
                t0 = time.perf_counter()
                df = QUERIES[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                plan_s = 0.0
                if tr.enabled:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()  # analysis + optimization + planning
                    phases = qe.tracker().phases()
                    it = phases.valuesIterator()
                    while it.hasNext():
                        p = it.next()
                        plan_s += (p.endTimeMs() - p.startTimeMs()) / 1000.0
                t2 = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                t3 = time.perf_counter()
            latency = (t1 - t0) + (t3 - t2)
            timed += latency
            tr.add("queries", build_s=t1 - t0, plan_s=plan_s,
                   exec_s=t3 - t2, rows_out=len(rows))
            if not check:
                continue
            self.latency[name].append(latency)
            cols, expect = self.oracle[name]
            err = same_rows(name, df.columns, rows, cols, expect)
            if err is None:
                continue
            if name in KNOWN_FAILURES:
                failed += 1
            else:
                errors.append(err)
        return timed, errors, failed
