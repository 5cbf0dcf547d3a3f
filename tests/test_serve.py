"""The per-call serve path of a persisted index (StoredIndex): edge-case
results pinned against the pure-Python oracle, driver-built frames planned
as Arrow local relations, and the per-call Spark job budget."""

import math

import pytest
from pyspark.sql import functions as F

from goldenretriever_spark.query import wand
from goldenretriever_spark.query.bm25 import query_terms_df


@pytest.fixture(scope="module")
def documents(spark):
    """One 400-doc synthetic corpus with its doc ids."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.build import with_doc_ids

    return with_doc_ids(corpus.synth_corpus(spark, 400, seed=13))


@pytest.fixture(scope="module")
def served(spark, documents, tmp_path_factory):
    """(StoredIndex, OracleIndex) over the ``documents`` corpus."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.oracle import build_oracle_index

    idx = build_index(documents, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    path = str(tmp_path_factory.mktemp("serve") / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=64)
    oidx = build_oracle_index(
        [(r["doc_id"], r["content"]) for r in documents.select("doc_id", "content").collect()]
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


def test_empty_filter_raises(served):
    stored, _ = served
    with pytest.raises(ValueError):
        stored.search_filtered([(0, "def return")], k=10, must=None, should=None)


def test_all_matching_filter_returns_oracle_quantized_top_k(served):
    """A filter every candidate passes (should= the query's own terms)
    leaves the ranking alone: the rows are the oracle's top-k in the
    quantized (score_q desc, doc_id asc) order."""
    from goldenretriever_spark.oracle import top_k as oracle_top_k

    stored, oidx = served
    query, k = "def return", 10
    every = oracle_top_k(oidx, query, k=10**6)
    # Spark's round is HALF_UP; scores are positive
    expected = sorted(every, key=lambda ds: (-math.floor(ds[1] * 10000 + 0.5), ds[0]))[:k]
    rows = sorted(
        stored.search_filtered([(0, query)], k=k, should=["def", "return"]).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, k + 1))
    assert [r["doc_id"] for r in rows] == [d for d, _ in expected]
    for r, (_, score) in zip(rows, expected):
        assert math.isclose(r["score"], score, rel_tol=1e-9, abs_tol=1e-12)


def test_missing_bucket_partition_prunes_to_no_rows(spark, served, tmp_path):
    """A copy of the index with one posting_blocks/term_bucket=b directory
    deleted: a query whose terms all hash to b returns no rows without
    raising, and a query with no term in b returns the full index's rows."""
    import os
    import shutil

    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.xxh64 import term_bucket

    stored, _ = served
    b = term_bucket("def", 64)
    other = "class import"
    assert all(term_bucket(t, 64) != b for t in other.split())
    path = str(tmp_path / "idx")
    shutil.copytree(stored.path, path)
    shutil.rmtree(os.path.join(path, "posting_blocks", f"term_bucket={b}"))
    broken = StoredIndex(spark, path)

    assert broken.search([(0, "def")], k=10).collect() == []

    def rows(handle):
        return sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in handle.search([(0, other)], k=10).collect()
        )

    want = rows(stored)
    assert len(want) == 10
    assert rows(broken) == want


def test_dataframe_query_batch_raises_type_error(spark, served):
    stored, _ = served
    batch = spark.createDataFrame([(0, "def")], "query_id long, query_str string")
    with pytest.raises(TypeError):
        stored.search(batch, k=10)


def test_content_joinback_keeps_every_ranked_row(served, documents):
    """search(documents=) joins content back onto every ranked row: with one
    query's rank-1 doc missing from the content table, all n_queries x k
    rows still come back in rank order, and exactly that doc's rows have
    null content."""
    stored, _ = served
    qlist, k = [(0, "def return"), (1, "class import")], 8

    def ranked(df):
        return sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"]))

    bare = ranked(stored.search(qlist, k=k))
    dropped = bare[0]["doc_id"]
    assert (bare[0]["query_id"], bare[0]["rank"]) == (0, 1)
    content = documents.select("doc_id", "content").filter(F.col("doc_id") != dropped)
    rows = ranked(stored.search(qlist, k=k, documents=content))

    assert len(rows) == len(qlist) * k
    for qid, _ in qlist:
        assert [r["rank"] for r in rows if r["query_id"] == qid] == list(range(1, k + 1))
    key = ("query_id", "rank", "doc_id", "score")
    assert [tuple(r[c] for c in key) for r in rows] == [
        tuple(r[c] for c in key) for r in bare
    ]
    assert all((r["content"] is None) == (r["doc_id"] == dropped) for r in rows)


def test_empty_corpus_builds_and_serves(spark, documents, tmp_path):
    """An index built from zero documents has stats (0, 0.0), and search,
    filtered search and phrase each return no rows without raising."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    docs = documents.limit(0)
    idx = build_index(docs, tokenizer="simple")
    path = str(tmp_path / "idx")
    write_index(
        idx,
        path,
        blocks=pack_blocks(idx),
        positional=pack_positional_blocks(docs, postings=idx.postings),
    )
    stored = StoredIndex(spark, path)

    assert stored.stats == (0, 0.0)
    assert stored.search([(0, "def return")], k=10).collect() == []
    assert stored.search_filtered([(0, "def")], k=10, must=["return"]).collect() == []
    assert stored.phrase(["def", "return"]).collect() == []
