"""The star contraction's skipped distincts (``graph._star_round``'s
dedupe contract): ``star_contract`` and ``star_contract_certified`` skip
the round-final distinct on their last rounds, which must not change a
single label.  Fixed edge lists, so this stays in the default run."""

from __future__ import annotations

import pytest

from kafka_hadoop_loader_spark.operators.graph import (
    _star_labels,
    _star_round,
    star_contract,
    star_contract_certified,
)

ROUNDS = 6

EDGES = {
    "chain": [(i, i + 1) for i in range(12)],
    "star": [(0, i) for i in range(1, 9)] + [(3, 7)],
    "two_components": [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 14)],
    "duplicate_edges": [(1, 2), (1, 2), (2, 3), (2, 3), (3, 4), (5, 6), (5, 6)],
}


def _labels(df) -> set[tuple[int, int]]:
    return {(r.node, r.comp) for r in df.collect()}


@pytest.mark.parametrize("shape", sorted(EDGES))
def test_skipped_distincts_keep_the_labels(spark, shape):
    edges = spark.createDataFrame(EDGES[shape], "u long, v long")
    e = edges
    for _ in range(ROUNDS):  # the reference: every round dedupes
        e = _star_round(e, dedupe=True)
    want = _labels(_star_labels(e))

    assert _labels(star_contract(edges, ROUNDS)) == want
    labels, cert = star_contract_certified(edges, ROUNDS)
    assert _labels(labels) == want
    assert cert.collect()[0].converged is True
