"""The per-call serve path of a persisted index (StoredIndex): edge-case
results pinned against the pure-Python oracle, driver-built frames planned
as Arrow local relations, and the per-call Spark job budget."""

import math

import pytest

from goldenretriever_spark.query import wand
from goldenretriever_spark.query.bm25 import query_terms_df


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """(StoredIndex, OracleIndex) over one 400-doc synthetic corpus."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.oracle import build_oracle_index

    docs = with_doc_ids(corpus.synth_corpus(spark, 400, seed=13))
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    path = str(tmp_path_factory.mktemp("serve") / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=64)
    oidx = build_oracle_index(
        [(r["doc_id"], r["content"]) for r in docs.select("doc_id", "content").collect()]
    )
    return StoredIndex(spark, path), oidx


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("query", ["", "zzzunknownterm"])
def test_empty_or_unknown_query_returns_no_rows(served, query):
    stored, _ = served
    assert stored.search([(0, query)], k=10).collect() == []


def test_filtered_search_with_unknown_term_returns_no_rows(served):
    stored, _ = served
    out = stored.search_filtered([(0, "zzzunknownterm")], k=10, must=["def"])
    assert out.collect() == []


def test_k_above_match_count_returns_every_match_in_oracle_order(served):
    from goldenretriever_spark.oracle import top_k as oracle_top_k

    stored, oidx = served
    query = "def return"
    expected = oracle_top_k(oidx, query, k=1000)
    assert 0 < len(expected) < 1000
    rows = sorted(stored.search([(0, query)], k=1000).collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(expected) + 1))
    assert [r["doc_id"] for r in rows] == [d for d, _ in expected]
    for r, (_, score) in zip(rows, expected):
        assert math.isclose(r["score"], score, rel_tol=1e-9, abs_tol=1e-12)


def test_query_terms_are_a_local_relation(spark):
    plan = _plan(query_terms_df(spark, [(0, "a b")]))
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_wand_theta_frame_is_a_local_relation(served, monkeypatch):
    """The θ frame WAND builds from its seed scores is a local relation
    (broadcasting it into phase 2 runs no job)."""
    stored, _ = served
    built = []
    real = wand.local_frame

    def spy(*args, **kwargs):
        df = real(*args, **kwargs)
        built.append(df)
        return df

    monkeypatch.setattr(wand, "WAND_CROSSOVER_DECODE_ROWS", 1)
    monkeypatch.setattr(wand, "local_frame", spy)
    ranked, plan = stored.search([(0, "def return")], k=5, with_plan=True)
    assert plan["path"] == "wand"
    assert len(ranked.collect()) == 5
    theta = [df for df in built if "theta" in df.columns]
    assert len(theta) == 1
    assert "LocalRelation" in _plan(theta[0])
    assert "LogicalRDD" not in _plan(theta[0])


def test_single_query_search_job_budget(spark, served):
    """A single-query search on a warm handle runs at most 4 Spark jobs:
    the query terms and the corpus stats add none."""
    stored, _ = served
    sc = spark.sparkContext
    stored.search([(0, "def return")], k=10).collect()  # memoize handle metadata
    group = "test_serve_job_budget"
    sc.setJobGroup(group, "single-query search")
    try:
        rows = stored.search([(0, "class import")], k=10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 10
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
