"""Output checks, computed apart from the engine.

Every check returns a list of error strings (empty when the output is
correct) or, for row comparisons, one error string or None.  They take
plain Python rows or a DuckDB connection, never a Spark DataFrame, so
test_checks.py can feed them corrupted results without a session.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

UNBLOCKED = "__unblocked__"
LSH_TAG = "__lsh__"


# -- querymix --------------------------------------------------------------

def _norm_rows(rows, colnames):
    """The oracle test's normalization (tests/test_queries_oracle.py):
    columns in name order, floats rounded to 6 decimals, NaN as a
    string, booleans as ints, temporals as ISO strings, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def same_rows(name, got_cols, got_rows, want_cols, want_rows):
    """None when a query's rows match its oracle's, else the reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"{name}: columns {got_cols} vs oracle {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"{name}: {len(got_rows)} rows vs oracle {len(want_rows)}"
    a, b = _norm_rows(got_rows, got_cols), _norm_rows(want_rows, want_cols)
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    if diffs:
        return f"{name}: {len(diffs)} rows differ, first {diffs[0]}"
    return None


# -- candidate pairs ---------------------------------------------------------

def exact_pair_count(block_keys) -> int:
    """sum over blocked mentions' blocks of n_b * (n_b - 1) / 2."""
    sizes = Counter(k for k in block_keys if k != UNBLOCKED)
    return sum(n * (n - 1) // 2 for n in sizes.values())


def check_pairs(block_keys, pairs) -> list[str]:
    """``block_keys``: one block key per signature row.  ``pairs``:
    (id1, id2, block_key) per candidate pair; LSH-only pairs carry the
    '__lsh__' tag.  The exact pass must produce exactly every
    within-block pair; all pairs must be canonical and unique."""
    errors = []
    want = exact_pair_count(block_keys)
    got = sum(1 for p in pairs if p[2] != LSH_TAG)
    if got != want:
        errors.append(f"exact pass: {got} pairs, blocks imply {want}")
    bad = sum(1 for p in pairs if not p[0] < p[1])
    if bad:
        errors.append(f"{bad} candidate pairs are not canonical (id1 < id2)")
    dup = len(pairs) - len({(p[0], p[1]) for p in pairs})
    if dup:
        errors.append(f"{dup} duplicate candidate pairs")
    return errors


# -- components --------------------------------------------------------------

def union_find_labels(edges) -> dict:
    """node -> least node id of its connected component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # keep the smaller id as root, so roots are the labels
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def check_components(rows, edges) -> list[str]:
    """``rows``: (id, component) as the clusterer output them;
    ``edges``: the matched (u, v) edges it was given.  The rows must
    form a partition labelled by each part's least member, keep every
    edge inside one part, and equal union-find over the edges."""
    errors = []
    label = dict(rows)
    if len(label) != len(rows):
        errors.append(f"{len(rows) - len(label)} ids appear in two components")
    members = defaultdict(list)
    for node, comp in label.items():
        members[comp].append(node)
    wrong = [c for c, m in members.items() if min(m) != c]
    if wrong:
        errors.append(f"{len(wrong)} components not labelled by least member")
    split = sum(1 for u, v in edges
                if u != v and label.get(u) != label.get(v))
    if split:
        errors.append(f"{split} matched edges cross components")
    want = union_find_labels((u, v) for u, v in edges if u != v)
    if want != label:
        diff = sum(1 for k in set(want) | set(label)
                   if want.get(k) != label.get(k))
        errors.append(f"{diff} ids differ from union-find over the edges")
    return errors


def cluster_precision_recall(labels: dict, entity_of: dict) -> tuple:
    """Pairwise precision/recall of a clustering against planted
    entities over all mentions in ``entity_of``; unlabelled mentions
    are singletons."""
    def pairs(n):
        return n * (n - 1) // 2

    cells, comps, ents = Counter(), Counter(), Counter()
    for mention, entity in entity_of.items():
        comp = labels.get(mention, ("singleton", mention))
        cells[(comp, entity)] += 1
        comps[comp] += 1
        ents[entity] += 1
    tp = sum(pairs(n) for n in cells.values())
    pred = sum(pairs(n) for n in comps.values())
    true = sum(pairs(n) for n in ents.values())
    return (tp / pred if pred else 1.0, tp / true if true else 1.0)


# -- supervised (DuckDB over the StageStore parquet) ------------------------

def f1(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def _counts(con, sql: str) -> tuple[int, int, int]:
    tp, fp, fn = con.execute(sql).fetchone()
    return int(tp or 0), int(fp or 0), int(fn or 0)


def label_errors(con) -> int:
    """Pairs whose same_entity label disagrees with the truth table
    (mention ids are '<conv_id>#<role>')."""
    return con.execute("""
        SELECT count(*) FROM labeled_pairs p
        LEFT JOIN entities_truth t1
          ON t1.conv_id = split_part(p.mention_id1, '#', 1)
        LEFT JOIN entities_truth t2
          ON t2.conv_id = split_part(p.mention_id2, '#', 1)
        WHERE p.same_entity IS DISTINCT FROM
              CAST(t1.entity_id = t2.entity_id AS INTEGER)
    """).fetchone()[0]


def pair_f1(con) -> float:
    """F1 of the pair model on the held-out pairs of scored_pairs."""
    return f1(*_counts(con, """
        SELECT sum(CAST(same_entity = 1 AND pred = 1 AS INT)),
               sum(CAST(same_entity = 0 AND pred = 1 AS INT)),
               sum(CAST(same_entity = 1 AND pred = 0 AS INT))
        FROM scored_pairs WHERE is_train = 0
    """))


def cluster_f1(con) -> float:
    """F1 of 'both ends in one cluster' over every scored pair."""
    return f1(*_counts(con, """
        WITH j AS (
          SELECT s.same_entity,
                 CAST(c1.component IS NOT NULL
                      AND c1.component = c2.component AS INT) AS p
          FROM scored_pairs s
          LEFT JOIN clusters c1 ON c1.id = s.mention_id1
          LEFT JOIN clusters c2 ON c2.id = s.mention_id2)
        SELECT sum(CAST(same_entity = 1 AND p = 1 AS INT)),
               sum(CAST(same_entity = 0 AND p = 1 AS INT)),
               sum(CAST(same_entity = 1 AND p = 0 AS INT))
        FROM j
    """))


def check_supervised(con, returned: dict, edge_rule_sql: str,
                     min_pair_f1: float) -> list[str]:
    """``con`` has views labeled_pairs, entities_truth, scored_pairs and
    clusters; ``returned`` is run_pipeline's metrics dict."""
    errors = []
    bad = label_errors(con)
    if bad:
        errors.append(f"{bad} same_entity labels disagree with the truth")
    pf = pair_f1(con)
    if abs(pf - returned["pair_model"]["f1"]) > 1e-12:
        errors.append(f"pair F1 {pf} vs returned {returned['pair_model']['f1']}")
    if pf < min_pair_f1:
        errors.append(f"pair F1 {pf:.4f} below {min_pair_f1}")
    cf = cluster_f1(con)
    if abs(cf - returned["clusters"]["f1"]) > 1e-12:
        errors.append(f"cluster F1 {cf} vs returned {returned['clusters']['f1']}")
    rows = con.execute("SELECT id, component FROM clusters").fetchall()
    edges = con.execute(
        f"SELECT mention_id1, mention_id2 FROM scored_pairs WHERE {edge_rule_sql}"
    ).fetchall()
    errors += check_components(rows, edges)
    return errors
