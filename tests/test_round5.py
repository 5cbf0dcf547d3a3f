"""The pinned trained-IVF codebook (operators/ivf_codebook.py),
large-star/small-star connected components against one union-find
reference and its non-convergence guard (operators/dedup.py), the driver's
file-parse rows, and reciprocal-rank fusion (query/hybrid.py) against the
closed form and a pure-Python reference."""

import random

import numpy as np
import pytest

from goldenretriever_spark.operators.ann import train_centroids_kmeans
from goldenretriever_spark.operators.dedup import connected_components_star
from goldenretriever_spark.operators.ivf_codebook import CODEBOOK_SF001
from goldenretriever_spark.query.hybrid import RRF_K0, RRF_QUANT, rrf_fuse


def test_trained_codebook_matches_pinned(spark):
    """The sf0.01 k-means training must reproduce the literals the DuckDB
    oracle for ann_ivf_trained_topk was generated from — if this drifts
    (data change, algorithm change, nondeterminism), the contract row would
    hash-mismatch, and this test points at why."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cb = train_centroids_kmeans(emb, n_centroids=8, iters=3, seed=42)
    assert cb == CODEBOOK_SF001


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


def test_src_parse_files_expected_rows(spark):
    """The fixture parse is fully deterministic — pin the exact flattened
    rows (cutoff drops the 7th CSV row, 'nan' query dropped, duplicate QA
    row dedupes, body-less TXT clause dropped)."""
    import __spark_entry__ as E

    rows = {
        (r["kb_name"], r["query_id"], r["response_id"], r["query_string"])
        for r in E._src_parse_files(spark, "unused").collect()
    }
    assert rows == {
        ("csvkb", 1, 3, "how to sort"),   # merge sort
        ("csvkb", 1, 2, "how to sort"),   # quicksort
        ("csvkb", 0, 1, "how to join"),   # hash join (deduped)
        ("csvkb", 2, 0, "what is bm25"),
        ("txtkb", 1, 0, "what is a heap"),
        ("txtkb", 0, 1, "how to hash"),
    }


def test_rrf_fuse_semantics(spark):
    """An item ranked by both legs outscores single-leg items; quantization
    matches the closed form 1/(k0+r); ties break on doc_id ascending."""
    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, doc_id long, rank int"
    )
    vec = spark.createDataFrame(
        [(0, 11, 1), (0, 20, 2), (0, 21, 3)], "query_id long, doc_id long, rank int"
    )
    out = rrf_fuse([lex, vec], k=10)
    rows = {r.doc_id: r for r in out.collect()}
    # doc 11 appears in both legs (ranks 2 and 1) -> highest fused score
    assert rows[11].rank == 1
    assert rows[11].rrf_q == round((1 / (RRF_K0 + 2) + 1 / (RRF_K0 + 1)) * RRF_QUANT)
    # single-leg items score exactly their one reciprocal
    assert rows[10].rrf_q == round(1 / (RRF_K0 + 1) * RRF_QUANT)
    # doc 10 (lex rank 1) and doc 20 (vec rank 2): equal-score tie is
    # impossible here, but same-score doc ordering is doc_id asc — check via
    # two docs with identical contribution: lex rank 3 (12) vs vec rank 3 (21)
    assert rows[12].rrf_q == rows[21].rrf_q
    assert rows[12].rank < rows[21].rank  # doc_id 12 < 21 wins the tie


def test_rrf_fuse_respects_k(spark):
    lex = spark.createDataFrame(
        [(0, d, d + 1) for d in range(8)], "query_id long, doc_id long, rank int"
    )
    out = rrf_fuse([lex], k=3)
    assert out.count() == 3
    assert [r.doc_id for r in out.orderBy("rank").collect()] == [0, 1, 2]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_rrf_fuse_matches_python_reference(spark, seed):
    """Randomized cross-check: rrf_fuse on arbitrary leg rankings equals a
    pure-Python RRF computed from the same (query, doc, rank) triples —
    scores (quantized) AND fused order, ties on doc_id ascending."""
    rng = random.Random(seed)
    legs_py = []
    for _ in range(3):  # three legs, 4 queries, ragged top lists
        rows = []
        for qid in range(4):
            docs = rng.sample(range(30), rng.randint(0, 8))
            rows += [(qid, d, r + 1) for r, d in enumerate(docs)]
        legs_py.append(rows)

    expected = {}
    for rows in legs_py:
        for qid, d, r in rows:
            expected[(qid, d)] = expected.get((qid, d), 0.0) + 1.0 / (RRF_K0 + r)
    exp_topk = {}
    for qid in range(4):
        items = sorted(
            ((round(s * RRF_QUANT), d) for (q, d), s in expected.items() if q == qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        exp_topk[qid] = [(d, s, i + 1) for i, (s, d) in enumerate(items)]

    legs = [
        spark.createDataFrame(rows or [(99, 0, 1)], "query_id long, doc_id long, rank int")
        for rows in legs_py
    ]
    got = rrf_fuse(legs, k=5)
    got_topk = {}
    for r in got.collect():
        got_topk.setdefault(r.query_id, []).append((r.doc_id, r.rrf_q, r.rank))
    for qid in range(4):
        assert sorted(got_topk.get(qid, []), key=lambda t: t[2]) == exp_topk[qid]
