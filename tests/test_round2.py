"""Dense value-ordered ids (sources/kb.py), the train/test split and
hard-negative mining (operators/split.py, operators/evaluation.py), LSH and
shingle bucket caps and SimHash pairs (operators/dedup.py), tokenizer
parity (tokenizer.py), PDF and CSV ingestion (sources/), and cross-file doc
dedupe in the streaming build (streaming/incremental.py)."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from goldenretriever_spark import corpus
from goldenretriever_spark.operators import dedup
from goldenretriever_spark.oracle import simple_tokenize_text
from goldenretriever_spark.sources.kb import parse_csv, unique_ids
from goldenretriever_spark.streaming.incremental import (
    incremental_postings_build,
    streamed_index_views,
)
from goldenretriever_spark.tokenizer import (
    SIMPLE_SPLIT_SQL,
    code_tokenize_series,
    code_tokenize_text,
    simple_tokens,
)


def test_unique_ids_value_order_and_dense(spark):
    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), ("e",), ("d",), ("b",)], "v string"
    )
    got = {r["v"]: r["vid"] for r in unique_ids(df, "v", "vid").collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}


def test_unique_ids_no_single_partition_exchange(spark):
    """The scale-killer was row_number over Window.orderBy (all rows -> one
    task). The two-phase plan must not contain any SinglePartition exchange."""
    df = spark.range(0, 5000).select(F.concat(F.lit("v"), F.col("id")).alias("v"))
    out = unique_ids(df, "v", "vid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    # and it is actually dense + aligned with value order
    rows = out.orderBy("vid").collect()
    assert [r["vid"] for r in rows[:3]] == [0, 1, 2]
    vals = [r["v"] for r in rows]
    assert vals == sorted(vals)
    assert len(set(r["vid"] for r in rows)) == 5000


def test_train_test_split_deterministic_and_sized(spark):
    from goldenretriever_spark.operators.split import train_test_split

    d = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = train_test_split(d, "k")
    s2 = train_test_split(d, "k")
    assert s1.collect() == s2.collect()  # deterministic
    frac = s1.filter(F.col("split") == "test").count() / 2000
    assert 0.3 < frac < 0.5  # expected 0.4
    # seed changes the assignment
    s3 = train_test_split(d, "k", seed=7)
    moved = (
        s1.alias("a")
        .join(s3.alias("b"), F.col("a.k") == F.col("b.k"))
        .filter(F.col("a.split") != F.col("b.split"))
        .count()
    )
    assert moved > 0


def test_hard_negatives_and_accuracy(spark):
    from goldenretriever_spark.operators.evaluation import accuracy_at_k, hard_negatives

    ranked = spark.createDataFrame(
        [  # q0: gold at rank 2 -> hard neg is rank-1 doc 10
            (0, 10, 1), (0, 20, 2), (0, 30, 3),
            # q1: gold at rank 1 -> hard neg is rank-2 doc 21
            (1, 21, 1), (1, 22, 2),
            # q2: gold absent from ranking -> hard neg is its rank-1
            (2, 31, 1), (2, 32, 2),
        ],
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(0, 20), (1, 21), (2, 99)], "query_id long, doc_id long"
    )
    neg = {r["query_id"]: (r["neg_doc_id"], r["neg_rank"])
           for r in hard_negatives(ranked, qrels).collect()}
    assert neg == {0: (10, 1), 1: (22, 2), 2: (31, 1)}

    acc = accuracy_at_k(ranked, qrels).collect()[0]
    # gold in top-1: only q1 -> 1/3; top-2: q0+q1 -> 2/3 (q2 never)
    assert acc["accuracy_at_1_q"] == round(1 / 3 * 10000)
    assert acc["accuracy_at_2_q"] == round(2 / 3 * 10000)
    assert acc["accuracy_at_3_q"] == round(2 / 3 * 10000)


def test_lsh_bucket_cap_bounds_viral_pairs(spark, tmp_path, monkeypatch):
    """One viral boilerplate text repeated n times must not produce O(n^2)
    candidate pairs once the bucket cap kicks in."""
    n = 40
    rows = [(i, "the same viral boilerplate text repeated all over the corpus again") for i in range(n)]
    rows += [(1000 + i, f"unique document number {i} with its own words {i * 7}") for i in range(10)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    uncapped = dedup.q_minhash_lsh_pairs(spark, str(tmp_path), max_bucket_size=0)
    capped = dedup.q_minhash_lsh_pairs(spark, str(tmp_path), max_bucket_size=10)
    viral = F.col("doc_a") < 1000  # doc_b > doc_a, so doc_a<1000 => viral pair side
    assert uncapped.filter(viral).count() >= n * (n - 1) // 2  # quadratic without cap
    assert capped.filter(F.col("doc_a") < 1000).count() == 0  # viral bucket dropped
    # non-viral pairs survive the cap identically
    assert capped.count() == uncapped.filter(~viral).count()

    jac_uncapped = dedup.q_ngram_jaccard_pairs(spark, str(tmp_path), max_shingle_df=0).count()
    jac_capped = dedup.q_ngram_jaccard_pairs(spark, str(tmp_path), max_shingle_df=10).count()
    assert jac_uncapped >= n * (n - 1) // 2
    assert jac_capped < jac_uncapped


def test_simhash_pairs_find_near_dups(spark, tmp_path):
    base = "spark builds an inverted index with postings compressed into blocks"
    rows = [
        (1, base),
        (2, base + " quickly"),  # near-dup of 1
        (3, "completely different content about databases and storage engines entirely"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.q_simhash_pairs(spark, str(tmp_path)).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert all(p == (1, 2) for p in pairs)


def test_code_tokenizer_vectorized_equals_scalar():
    cases = [
        "HelloWorld fooBar_baz qux123Quux",
        "café résumé naïve é́ stacked",
        "def tokenize(self, text): return text.split()",
        "你好world こんにちは mixed中文tokens",
        "XMLHttpRequest HTMLParser parseJSONString",
        "a-_b __init__ \x00ctrl� chars",
        "UPPER_SNAKE_CASE vs lowerCamel vs kebab-case",
        "", "   ", "123-456 v1.2.3",
    ]
    vec = code_tokenize_series(pd.Series(cases + [None]))
    for i, c in enumerate(cases):
        assert vec.iloc[i] == code_tokenize_text(c), c
    assert vec.iloc[-1] == []


def test_simple_tokenizer_whitespace_parity(spark):
    """Engine (Java regex), Python oracle and DuckDB (RE2) must agree on
    non-ASCII whitespace: NBSP and U+2028 are NOT separators."""
    text = "a b c d e\tf\x0bg"
    engine = spark.createDataFrame([(text,)], "t string").select(
        simple_tokens(F.col("t")).alias("toks")
    ).collect()[0]["toks"]
    oracle = simple_tokenize_text(text)
    duck = duckdb.execute(
        "SELECT list_filter(string_split_regex(lower(trim(?)), '"
        + SIMPLE_SPLIT_SQL + "'), x -> x <> '') AS toks",
        [text],
    ).fetchone()[0]
    assert engine == oracle == duck == ["a b", "c d", "e", "f", "g"]


def test_pdf_parse_end_to_end(spark, tmp_path):
    from goldenretriever_spark.sources.pdf import (
        FAKE_MAGIC, fake_text_extractor, parse_pdf, real_text_extractor,
    )

    doc = (
        "Title Page Header\n1-2 First real paragraph about retrieval\n"
        "spanning lines.\n3-4 Second paragraph mentions BM25.\n"
        "\n\nAPPENDIX A ignored appendix content 5-6 tail"
    )
    (tmp_path / "a.pdf").write_bytes(FAKE_MAGIC + doc.encode())
    kb = parse_pdf(
        spark, f"{tmp_path}/*.pdf", num_appendix=1, extractor=fake_text_extractor
    )
    clauses = [r["raw_string"] for r in kb["responses"].collect()]
    assert any("First real paragraph" in c for c in clauses)
    assert any("BM25" in c for c in clauses)
    assert not any("Title Page" in c for c in clauses)  # first paragraph dropped
    assert not any("APPENDIX" in c or "appendix content" in c for c in clauses)
    assert all("\n" not in c for c in clauses)
    with pytest.raises(NotImplementedError):
        real_text_extractor(b"%PDF-1.4 real bytes")


def test_streaming_dedups_same_doc_across_files(spark, tmp_path):
    """The same (repo,path,commit) doc in two input files must index once —
    file-level exactly-once does not cover doc-level duplicates."""
    docs = spark.createDataFrame(corpus.synth_corpus_pandas(30, seed=5))
    docs.coalesce(1).write.parquet(f"{tmp_path}/in/f1")
    docs.filter(F.col("path").isNotNull()).limit(10).coalesce(1).write.parquet(
        f"{tmp_path}/in/f2"
    )  # 10 duplicate docs in a second file
    incremental_postings_build(spark, f"{tmp_path}/in/*", f"{tmp_path}/out")
    streamed = streamed_index_views(spark, f"{tmp_path}/out")
    assert streamed.corpus_stats.collect()[0]["n_docs"] == 30
    dup_postings = (
        streamed.postings.groupBy("term", "doc_id").count().filter(F.col("count") > 1).count()
    )
    assert dup_postings == 0


def test_parse_csv_cutoff(spark, tmp_path):
    lines = ["ans_str,query_str,context_str"] + [
        f"answer {i},question {i},ctx" for i in range(20)
    ]
    (tmp_path / "qa.csv").write_text("\n".join(lines))
    kb = parse_csv(spark, str(tmp_path / "qa.csv"), cutoff=5)
    assert kb["responses"].count() == 5
    kb_full = parse_csv(spark, str(tmp_path / "qa.csv"))
    assert kb_full["responses"].count() == 20
