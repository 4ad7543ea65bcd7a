"""Each benchmark check must report a corrupted result as incorrect.

    python3 -m pytest erbench/test_checks.py -q

No Spark session: the checks take plain rows or a DuckDB connection.
"""

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import (  # noqa: E402
    check_components,
    check_pairs,
    check_supervised,
    cluster_precision_recall,
    same_rows,
    union_find_labels,
)

# two blocks of 3 and 2 mentions, one unblocked mention
BLOCK_KEYS = ["b1", "b1", "b1", "b2", "b2", "__unblocked__"]
PAIRS = [
    ("m1", "m2", "b1"), ("m1", "m3", "b1"), ("m2", "m3", "b1"),
    ("m4", "m5", "b2"), ("m3", "m6", "__lsh__"),
]
EDGES = [("m1", "m2"), ("m2", "m3"), ("m4", "m5")]
COMPONENTS = [("m1", "m1"), ("m2", "m1"), ("m3", "m1"),
              ("m4", "m4"), ("m5", "m4")]


def test_pairs_pass():
    assert check_pairs(BLOCK_KEYS, PAIRS) == []


def test_pair_count_off_by_one():
    assert check_pairs(BLOCK_KEYS, PAIRS[1:])
    assert check_pairs(BLOCK_KEYS, PAIRS + [("m4", "m6", "b2")])


def test_pairs_not_canonical_or_duplicated():
    flipped = [("m2", "m1", "b1")] + PAIRS[1:]
    assert any("canonical" in e for e in check_pairs(BLOCK_KEYS, flipped))
    dup = PAIRS + [("m1", "m2", "__lsh__")]
    assert any("duplicate" in e for e in check_pairs(BLOCK_KEYS, dup))


def test_components_pass():
    assert check_components(COMPONENTS, EDGES) == []
    assert union_find_labels(EDGES) == dict(COMPONENTS)


def test_component_split_in_two():
    split = [("m1", "m1"), ("m2", "m1"), ("m3", "m3"),
             ("m4", "m4"), ("m5", "m4")]
    errors = check_components(split, EDGES)
    assert any("cross components" in e for e in errors)
    assert any("union-find" in e for e in errors)


def test_component_not_least_label_or_id_twice():
    relabelled = [(n, "m2" if c == "m1" else c) for n, c in COMPONENTS]
    assert any("least member" in e
               for e in check_components(relabelled, EDGES))
    twice = COMPONENTS + [("m5", "m1")]
    assert any("two components" in e for e in check_components(twice, EDGES))


def test_cluster_quality():
    entity_of = {"m1": "A", "m2": "A", "m3": "B", "m4": "C", "m5": "C"}
    p, r = cluster_precision_recall(dict(COMPONENTS), entity_of)
    # predicted pairs: 3 in {m1,m2,m3} + 1 in {m4,m5}; true: 1 + 1
    assert (p, r) == (0.5, 1.0)


def test_oracle_rows_pass_and_6th_decimal_fails():
    cols = ["k", "v"]
    want = [("a", 1.234567), ("b", 2.0)]
    assert same_rows("q", cols, [("b", 2.0), ("a", 1.2345671)], cols, want) is None
    assert same_rows("q", cols, [("a", 1.234568), ("b", 2.0)], cols, want)
    assert same_rows("q", cols, [("a", 1.234567)], cols, want)
    assert same_rows("q", ["k", "w"], want, cols, want)


def _store(flip_label=False, flip_cluster=False):
    """A consistent toy StageStore: 4 mentions, entities A A B B."""
    con = duckdb.connect()
    truth = pd.DataFrame({"conv_id": ["c1", "c2", "c3", "c4"],
                          "entity_id": ["A", "A", "B", "B"]})
    pairs = pd.DataFrame({
        "mention_id1": ["c1#assistant", "c1#assistant", "c3#assistant"],
        "mention_id2": ["c2#assistant", "c3#assistant", "c4#assistant"],
        "same_entity": [1, 0, 1],
    })
    if flip_label:
        pairs.loc[1, "same_entity"] = 1
    scored = pairs.assign(
        is_train=[0, 0, 1], pred=[1, 0, 1], pred_prob=[0.99, 0.01, 0.98],
        content_tfidf_cos=[0.9, 0.1, 0.8], token_jacc=[0.5, 0.0, 0.4],
    )
    clusters = pd.DataFrame({
        "id": ["c1#assistant", "c2#assistant", "c3#assistant", "c4#assistant"],
        "component": ["c1#assistant", "c1#assistant",
                      "c3#assistant", "c3#assistant"],
    })
    if flip_cluster:
        clusters.loc[1, "component"] = "c2#assistant"
    for name, df in (("entities_truth", truth), ("labeled_pairs", pairs),
                     ("scored_pairs", scored), ("clusters", clusters)):
        con.register(name, df)
    return con


RULE = "pred_prob > 0.85 AND (content_tfidf_cos > 0.4 OR token_jacc > 0.25)"
RETURNED = {"pair_model": {"f1": 1.0}, "clusters": {"f1": 1.0}}


def test_supervised_pass():
    assert check_supervised(_store(), RETURNED, RULE, 0.99) == []


def test_flipped_same_entity_label():
    errors = check_supervised(_store(flip_label=True), RETURNED, RULE, 0.99)
    assert any("labels disagree" in e for e in errors)


def test_returned_f1_must_match():
    off = {"pair_model": {"f1": 0.9}, "clusters": {"f1": 1.0}}
    errors = check_supervised(_store(), off, RULE, 0.99)
    assert any("pair F1" in e for e in errors)


def test_cluster_split_in_supervised():
    errors = check_supervised(_store(flip_cluster=True), RETURNED, RULE, 0.99)
    assert any("cluster F1" in e for e in errors)
    assert any("cross components" in e for e in errors)


@pytest.mark.parametrize("floor", [0.999, 1.01])
def test_pair_f1_floor(floor):
    errors = check_supervised(_store(), RETURNED, RULE, floor)
    assert bool(errors) == (floor > 1.0)
