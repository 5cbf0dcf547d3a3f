"""kb sources, sinks, streaming incremental build, multimodal plumbing,
stored-index query path."""

import pandas as pd
from pyspark.sql import functions as F

from goldenretriever_spark import corpus
from goldenretriever_spark.sources.kb import build_kb, create_df


def test_kb_build_many_to_many(spark):
    qa = spark.createDataFrame(
        [
            ("what is a?", "a is x", "ctx1"),
            ("what is a?", "a is y", None),      # multi-answer query
            ("what is b?", "a is x", "ctx1"),    # shared answer
        ],
        "query_string string, raw_string string, context_string string",
    ).withColumn("context_string", F.coalesce("context_string", F.lit("")))
    kb = build_kb(qa)
    assert kb["responses"].count() == 2
    assert kb["queries"].count() == 2
    assert kb["mapping"].count() == 3
    flat = create_df(kb)
    assert flat.count() == 3
    row = flat.filter(F.col("processed_string") == "ctx1 a is x").count()
    assert row == 2  # fan-out preserved


def test_sinks_latest_wins(spark, tmp_path):
    from goldenretriever_spark.sources.sinks import (
        log_queries, querylog_view, upload_feedback,
    )

    path = str(tmp_path)
    ql = spark.createDataFrame(
        [("q1", "hello", ["r1"])],
        "query_id string, query_text string, responses array<string>",
    )
    log_queries(spark, path, ql)
    fb = spark.createDataFrame(
        [("q1", [True], "2024-01-01 00:00:00"), ("q1", [False], "2024-02-01 00:00:00")],
        "query_id string, is_correct array<boolean>, feedback_timestamp string",
    ).withColumn("feedback_timestamp", F.col("feedback_timestamp").cast("timestamp"))
    upload_feedback(spark, path, fb)
    rows = querylog_view(spark, path).collect()
    assert len(rows) == 1
    assert rows[0]["is_correct"] == [False, False, False, False, False]  # latest + padded


def test_streaming_incremental_equals_batch(spark, tmp_path):
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.streaming.incremental import (
        incremental_postings_build, streamed_index_views,
    )

    docs = spark.createDataFrame(corpus.synth_corpus_pandas(80, seed=9))
    docs.repartition(4).write.parquet(f"{tmp_path}/in")
    # two drains: second is a no-op thanks to the stream checkpoint
    incremental_postings_build(spark, f"{tmp_path}/in", f"{tmp_path}/out")
    incremental_postings_build(spark, f"{tmp_path}/in", f"{tmp_path}/out")

    streamed = streamed_index_views(spark, f"{tmp_path}/out")
    batch = build_index(docs, persist=False)
    s = {(r["term"], r["doc_id"]): (r["tf"], r["doc_len"]) for r in streamed.postings.collect()}
    b = {(r["term"], r["doc_id"]): (r["tf"], r["doc_len"]) for r in batch.postings.collect()}
    assert s == b
    assert streamed.corpus_stats.collect()[0]["n_docs"] == 80


def test_multimodal_decode_and_frame_sample(spark):
    from goldenretriever_spark.operators.multimodal import (
        decode_media, frame_sample, synth_media,
    )

    media = synth_media(spark, "/root/testdata/sf0.001")
    decoded = decode_media(media).collect()
    assert len(decoded) == 500
    for r in decoded[:20]:
        assert 16 <= r["width"] < 256 and 16 <= r["height"] < 256
        assert r["payload_bytes"] > 8
        assert (r["kind"] == "video") == (r["n_frames"] > 1)
    frames = frame_sample(media, every=2)
    assert frames.filter(F.col("frame_idx") % 2 != 0).count() == 0


def test_stored_index_wand_roundtrip(spark, tmp_path):
    """write_index + StoredIndex + WAND over the stored blocks == brute."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex, to_doc_ids, write_index
    from goldenretriever_spark.query import bm25
    from goldenretriever_spark.query.wand import wand_top_k

    docs = spark.createDataFrame(corpus.synth_corpus_pandas(120, seed=21))
    idx = build_index(docs)
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=64, n_term_buckets=8)
    write_index(idx, str(tmp_path), blocks=blocks, n_term_buckets=8)

    stored = StoredIndex(spark, str(tmp_path))
    # bucket count must come from the persisted _meta, never a guessed default
    assert stored.n_term_buckets == 8
    qlist = [(0, "def return"), (1, "cache buffer stream")]
    got = to_doc_ids(
        wand_top_k(
            spark, stored.posting_blocks, stored.corpus_stats, qlist, k=5,
            n_term_buckets=stored.n_term_buckets,
        ),
        stored.doc_stats,
    ).collect()
    brute = bm25.top_k(idx, bm25.query_terms_df(spark, qlist), k=5).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rows)  # noqa: E731
    assert key(got) == key(brute)
