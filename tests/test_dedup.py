"""Large-star/small-star connected components (operators/dedup.py)
against one union-find reference, and its non-convergence guard."""

import numpy as np
import pytest

from goldenretriever_spark.operators.dedup import connected_components_star


def _components(df):
    return {(r["id"], r["component"]) for r in df.collect()}


def _union_find(edge_list):
    """Reference (id, min reachable id) pairs over every edge endpoint."""
    parent = {x: x for e in edge_list for x in e}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _random_edges(n_nodes=200, n_edges=300, seed=17):
    rng = np.random.default_rng(seed)
    return [(int(a), int(b)) for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))]


def _chain_edges(n=400):
    """Adversarial long chain: diameter n-1, the worst case for plain
    neighbor propagation and a giant single component funneling every label
    through one value — the skew case the star variant is for."""
    return [(i, i + 1) for i in range(n)]


def _edges_df(spark, edge_list):
    return spark.createDataFrame(edge_list, "doc_a long, doc_b long")


def _mixed_edges(seed):
    """80 random edges over 120 ids plus a disjoint 60-edge chain, whose
    diameter is slow for plain neighbor propagation."""
    rng = np.random.default_rng(seed)
    edge_list = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 120, 80), rng.integers(0, 120, 80))
        if a != b
    ]
    return edge_list + [(1000 + i, 1000 + i + 1) for i in range(60)]


GRAPHS = {
    "mixed0": (lambda: _mixed_edges(0), 50),
    "mixed1": (lambda: _mixed_edges(1), 50),
    "mixed2": (lambda: _mixed_edges(2), 50),
    "random": (_random_edges, 60),
    "chain": (_chain_edges, 60),
}


@pytest.mark.parametrize("graph", list(GRAPHS))
def test_star_equals_union_find(spark, graph):
    """The star rewrites equal a union-find reference: component = min
    reachable id, on random graphs and on adversarial long chains."""
    make_edges, max_iter = GRAPHS[graph]
    edge_list = make_edges()
    star_out = _components(
        connected_components_star(_edges_df(spark, edge_list), max_iter=max_iter)
    )
    assert star_out == _union_find(edge_list)
    if graph == "chain":
        assert star_out == {(i, 0) for i in range(401)}


def test_star_handles_self_loops_and_duplicates(spark):
    edge_list = [(5, 5), (1, 2), (2, 1), (2, 3), (7, 8), (8, 7), (9, 9)]
    star_out = _components(connected_components_star(_edges_df(spark, edge_list)))
    # ADVICE r5: a node appearing only in self-loop edges is a singleton
    # component of itself
    assert star_out == _union_find(edge_list)
    assert star_out == {(1, 1), (2, 1), (3, 1), (5, 5), (7, 7), (8, 7), (9, 9)}


def test_nonconvergence_raises_and_warns(spark):
    """ADVICE r4: exhausting max_iter must not silently return wrong labels
    — non-convergence raises."""
    chain = _edges_df(spark, _chain_edges(n=60))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(chain, max_iter=1)
