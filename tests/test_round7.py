"""Round-7 optimization locks: the driver-side XXH64 twin must agree with
Spark's xxhash64 expression (bucket pruning silently drops partitions
otherwise), and the optimized stored paths must stay identical to their
pre-optimization semantics."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from goldenretriever_spark.xxh64 import spark_xxhash64, term_bucket, term_buckets


def test_xxh64_twin_matches_spark(spark):
    random.seed(7)
    samples = (
        ["def", "return", "import", "", "a", "ab", "abc", "abcd", "abcdefg",
         "abcdefgh", "hash_join", "café", "résumé", "一二三", "x" * 31,
         "y" * 32, "z" * 33, "w" * 100]
        + [
            "".join(
                random.choices(string.ascii_lowercase + "_0123456789#", k=random.randint(1, 48))
            )
            for _ in range(300)
        ]
    )
    rows = (
        spark.createDataFrame([(s,) for s in samples], "t string")
        .selectExpr("t", "xxhash64(t) h", "pmod(xxhash64(t), 64) b")
        .collect()
    )
    for r in rows:
        assert spark_xxhash64(r.t) == r.h, r.t
        assert term_bucket(r.t, 64) == r.b, r.t


def test_term_buckets_sorted_distinct():
    out = term_buckets(["def", "def", "return", "import"], 64)
    assert out == sorted(set(out))


def test_pruned_stored_search_matches_unpruned(spark, tmp_path):
    """Bucket pruning through the Python twin returns the same top-k as an
    unpruned scan of the same persisted index."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.query.wand import brute_top_k_stored

    docs = corpus.synth_corpus(spark, 300, seed=11)
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    path = str(tmp_path / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=64)
    stored = StoredIndex(spark, path)
    queries = [(1, "def user query"), (2, "hash merge index"), (3, "return")]
    pruned = brute_top_k_stored(
        spark, stored.posting_blocks, stored.corpus_stats, queries,
        k=5, n_term_buckets=stored.n_term_buckets,
    ).collect()
    unpruned = brute_top_k_stored(
        spark, stored.posting_blocks, stored.corpus_stats, queries,
        k=5, n_term_buckets=None,
    ).collect()
    assert sorted(((r.query_id, r.rank, r.doc_id) for r in pruned)) == sorted(
        ((r.query_id, r.rank, r.doc_id) for r in unpruned)
    )
    assert len(pruned) > 0


def _filtered_fixture(spark):
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index

    docs = corpus.synth_corpus(spark, 400, seed=13)
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=200)
    blocks = blocks.cache()
    blocks.count()
    queries = [(1, "def return"), (2, "deprecated import"), (3, "return class def")]
    return idx, blocks, queries


def _rows(df):
    return sorted((r.query_id, r.rank, r.doc_id, round(r.score * 10000)) for r in df.collect())


def test_filtered_topk_pushdown_matches_semi_join(spark, monkeypatch):
    """The broadcast doc-id pushdown route (decode-side filtering + the
    brute/WAND dispatcher) returns exactly the semi-join fallback's rows."""
    from goldenretriever_spark.query import boolean
    from goldenretriever_spark.query.boolean import filtered_top_k

    idx, blocks, queries = _filtered_fixture(spark)
    kw = dict(must=["def"], must_not=["deprecated"])
    push = filtered_top_k(spark, blocks, idx.corpus_stats, queries, k=5, **kw)
    monkeypatch.setattr(boolean, "FILTER_PUSHDOWN_MAX_IDS", 0)
    semi = filtered_top_k(spark, blocks, idx.corpus_stats, queries, k=5, **kw)
    assert _rows(push) == _rows(semi)
    assert len(push.collect()) > 0
    blocks.unpersist()


def test_filtered_topk_wand_route_matches_brute(spark, monkeypatch):
    """Forcing the dispatcher to the WAND route (crossover=1 -> every query
    heavy) under the filter pushdown returns the same filtered top-k: θ
    seeded from filtered partials is a valid pruning threshold."""
    from goldenretriever_spark.query import boolean, wand
    from goldenretriever_spark.query.boolean import filtered_top_k

    idx, blocks, queries = _filtered_fixture(spark)
    kw = dict(must=["def"], must_not=["deprecated"])
    with monkeypatch.context() as m:
        m.setattr(boolean, "FILTER_PUSHDOWN_MAX_IDS", 0)
        baseline = filtered_top_k(spark, blocks, idx.corpus_stats, queries, k=5, **kw)
    monkeypatch.setattr(wand, "WAND_CROSSOVER_DECODE_ROWS", 1)
    wand_route = filtered_top_k(spark, blocks, idx.corpus_stats, queries, k=5, **kw)
    assert _rows(wand_route) == _rows(baseline)
    blocks.unpersist()


def test_filtered_topk_over_cap_fallback_matches_pushdown(spark, monkeypatch):
    """A doc set over FILTER_PUSHDOWN_MAX_IDS takes the semi-join fallback,
    recomputing the boolean plan, and returns the pushdown route's rows."""
    from goldenretriever_spark.query import boolean, wand

    idx, blocks, queries = _filtered_fixture(spark)
    kw = dict(must=["def"], must_not=["deprecated"])
    push = boolean.filtered_top_k(spark, blocks, idx.corpus_stats, queries, k=5, **kw)

    def no_dispatch(*args, **kwargs):
        raise AssertionError("an over-cap doc set must not take the pushdown route")

    monkeypatch.setattr(wand, "dispatch_top_k", no_dispatch)
    monkeypatch.setattr(boolean, "FILTER_PUSHDOWN_MAX_IDS", 1)
    fallback = boolean.filtered_top_k(spark, blocks, idx.corpus_stats, queries, k=5, **kw)
    assert _rows(fallback) == _rows(push)
    assert len(push.collect()) > 0
    blocks.unpersist()
