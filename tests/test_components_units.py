"""Direct drive of operators.components.connected_components on small
graphs against a Python union-find: every node must label to the smallest
node id of its component. The shapes cover the degenerate inputs (no
edges at all, isolated nodes), duplicated and mirrored edges, and a chain
deep enough to leave the propagation phase for star contraction."""

from __future__ import annotations

import pytest

from hh_rumors_presto_spark.operators import components
from hh_rumors_presto_spark.operators.components import connected_components


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


_CHAIN = [(i * 17) % 41 for i in range(41)]  # 41 ids 0..40 in path order

CASES = {
    "no_edges": ([1, 2, 3], [], False),
    "isolated_beside_component": ([1, 2, 3, 4, 5, 6], [(2, 3), (4, 3)], False),
    "duplicated_and_mirrored": (
        [1, 5, 7, 8, 9],
        [(5, 1), (1, 5), (1, 5), (5, 7), (7, 5), (7, 7), (9, 8)],
        False,
    ),
    "chain_40_hops": (_CHAIN, list(zip(_CHAIN, _CHAIN[1:])), True),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_matches_union_find(spark, monkeypatch, case):
    nodes, edges, deep = CASES[case]
    calls = []
    real = components.star_contract

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(components, "star_contract", spy)
    out = connected_components(
        spark.createDataFrame(edges, "a long, b long"),
        spark.createDataFrame([(n,) for n in nodes], "node long"),
    )
    assert out.columns == ["node", "component"]
    rows = out.collect()
    assert len(rows) == len(nodes)
    assert {r.node: r.component for r in rows} == _union_find(nodes, edges)
    # only a graph deeper than the 12-hop propagation horizon reaches
    # star contraction
    assert bool(calls) == deep
