"""Round-7 optimization locks: the driver-side XXH64 twin must agree with
Spark's xxhash64 expression (bucket pruning silently drops partitions
otherwise), and the bucket-pruned stored search must stay identical to an
unpruned scan. (The filtered top-k tests moved to tests/test_boolean.py.)"""

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
