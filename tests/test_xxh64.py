"""The driver-side XXH64 twin (xxh64.py) must agree with Spark's xxhash64
expression, or bucket pruning silently drops partitions."""

import random
import string

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
