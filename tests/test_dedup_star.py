"""dedup_clusters on graph shapes: min-label propagation against an
independent union-find.

Tests pin:
 - label-for-label equality with a classic union-find on random graphs
   across densities and on hypothesis-generated multigraphs;
 - deep components: a chain deeper than the default round budget raises
   and says to raise ``max_iter``; with ``max_iter`` at its diameter it
   converges to one root;
 - duplicate pairs, self-pairs, the empty graph, and a hub that is not
   the component min.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyrosar_spark.operators.dedup import dedup_clusters


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "a string, b string"
    )


def _labels(df) -> dict:
    return {r["v"]: r["cluster_id"] for r in df.collect()}


def _union_find_labels(pairs) -> dict:
    """Independent reference: classic union-find, root = component min."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    return {v: find(v) for v in parent}


def test_minlabel_matches_union_find_on_random_graphs(spark):
    rng = random.Random(42)
    for trial, (n, m) in enumerate([(30, 15), (40, 60), (25, 120)]):
        pairs = {
            tuple(sorted((f"d{rng.randrange(n):03d}", f"d{rng.randrange(n):03d}")))
            for _ in range(m)
        }
        pairs = [(a, b) for a, b in pairs if a != b]
        got = _labels(dedup_clusters(_pairs_df(spark, pairs), max_iter=50))
        assert got == _union_find_labels(pairs), f"trial {trial}"


def test_nonconvergence_raises(spark):
    # a 25-deep chain has diameter 25 > the default 20-round budget
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(25)]
    with pytest.raises(RuntimeError, match="raise max_iter"):
        dedup_clusters(_pairs_df(spark, chain))


def test_deep_chain_converges_with_max_iter_at_diameter(spark):
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(25)]
    got = _labels(dedup_clusters(_pairs_df(spark, chain), max_iter=25))
    assert set(got) == {f"c{i:02d}" for i in range(26)}
    assert set(got.values()) == {"c00"}


def test_two_node_and_duplicate_pairs(spark):
    df = _pairs_df(spark, [("x2", "x1"), ("x1", "x2"), ("x9", "x8")])
    got = _labels(dedup_clusters(df))
    assert got == {"x1": "x1", "x2": "x1", "x8": "x8", "x9": "x8"}


def test_self_pairs_and_empty_graph(spark):
    # an isolated self-pair vertex comes back as its own root, and a
    # self-pair on a vertex with real edges does not shadow the
    # component min
    df = _pairs_df(spark, [("s1", "s1"), ("x2", "x1"), ("x2", "x2")])
    want = {"s1": "s1", "x1": "x1", "x2": "x1"}
    assert _labels(dedup_clusters(df)) == want

    # empty graph: SUM over zero rows is NULL in Spark — it must read
    # as converged (zero changes), not loop to the raise
    assert _labels(dedup_clusters(_pairs_df(spark, []))) == {}


def test_multi_parent_state_is_not_declared_converged(spark):
    # a star graph whose hub is NOT the component min: n5 is connected
    # to n1, n2, n3. The seeded first hop labels n5 -> n1 but leaves
    # n2, n3 on themselves; that state must not read as converged
    df = _pairs_df(spark, [("n5", "n1"), ("n5", "n2"), ("n5", "n3")])
    got = _labels(dedup_clusters(df))
    assert got == {"n1": "n1", "n2": "n1", "n3": "n1", "n5": "n1"}


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=34),
            st.integers(min_value=0, max_value=34),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_minlabel_matches_union_find(spark, edges):
    # self-pairs (a == b) stay in: each is its own root unless joined.
    # 50 edges span at most 50 hops, so max_iter=50 always suffices
    pairs = [(f"v{a:02d}", f"v{b:02d}") for a, b in edges]
    got = _labels(dedup_clusters(_pairs_df(spark, pairs), max_iter=50))
    assert got == _union_find_labels(pairs)
