"""Sources (sources/: knowledge-base builds, sinks; the driver's file-parse
rows) and streaming (streaming/: the incremental postings build and its
compaction, the stateful dedupe's TTL and state eviction)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from goldenretriever_spark import corpus
from goldenretriever_spark.index.build import build_index
from goldenretriever_spark.sources.kb import build_kb, create_df
from goldenretriever_spark.streaming.incremental import (
    compact_streamed_index,
    incremental_postings_build,
    streamed_index_views,
)
from goldenretriever_spark.streaming.stateful import (
    deduped_view,
    streaming_dedupe,
    streaming_dedupe_continuous,
)


# ---------------------------------------------------------------- sources

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


# ---------------------------------------------------------------- incremental build

def test_streaming_incremental_equals_batch(spark, tmp_path):
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


def test_fold_raises_on_an_unreadable_doc_stats_store(spark, tmp_path):
    """Only a missing doc_stats store means a first batch: a store whose
    files do not read makes the next fold raise, instead of skipping the
    cross-batch dedupe and double-counting tf, df and n_docs."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    docs = corpus.synth_corpus_pandas(20, seed=5)
    spark.createDataFrame(docs.iloc[:10]).write.mode("append").parquet(in_dir)
    incremental_postings_build(spark, in_dir, out_dir)
    stats_dir = os.path.join(out_dir, "doc_stats")
    parts = [f for f in os.listdir(stats_dir) if f.endswith(".parquet")]
    assert parts
    for f in parts:
        with open(os.path.join(stats_dir, f), "wb") as fh:
            fh.write(b"not a parquet file")
    spark.createDataFrame(docs.iloc[10:]).write.mode("append").parquet(in_dir)
    with pytest.raises(Exception, match="doc_stats"):
        incremental_postings_build(spark, in_dir, out_dir)


def test_streamed_positional_parity(spark, tmp_path):
    """Positional parity across the full ingest->serve loop: per-batch
    segments appended by the incremental build are servable immediately, and
    after compaction the stored phrase/proximity results equal a clean batch
    build over the union of inputs."""
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.query.phrase import (
        phrase_match_stored,
        proximity_match_stored,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    all_docs = corpus.synth_corpus_pandas(120, seed=21)
    spark.createDataFrame(all_docs.iloc[:70]).write.mode("append").parquet(in_dir)
    incremental_postings_build(spark, in_dir, out_dir, positional=True, n_term_buckets=8)
    spark.createDataFrame(all_docs.iloc[70:]).write.mode("append").parquet(in_dir)
    incremental_postings_build(spark, in_dir, out_dir, positional=True, n_term_buckets=8)

    phrase = ["def", "return"]
    prox_terms, prox_w = ["def", "import"], 6

    clean_docs = with_doc_ids(spark.createDataFrame(all_docs))
    clean_blocks = pack_positional_blocks(clean_docs, n_term_buckets=8)
    # the clean blocks hold docnos; the segments and the compacted index
    # answer in doc_ids
    clean_stats = build_index(clean_docs, persist=False).doc_stats
    want_phrase = sorted(
        map(
            tuple,
            to_doc_ids(
                phrase_match_stored(clean_blocks, phrase, n_term_buckets=8), clean_stats
            ).collect(),
        )
    )
    want_prox = sorted(
        map(
            tuple,
            to_doc_ids(
                proximity_match_stored(clean_blocks, prox_terms, prox_w, n_term_buckets=8),
                clean_stats,
            ).collect(),
        )
    )
    assert want_phrase, "test phrase must match at least one doc"

    # (a) pre-compaction: per-batch segments are directly servable
    segs = spark.read.parquet(os.path.join(out_dir, "positional_blocks"))
    got_segs = sorted(
        map(tuple, phrase_match_stored(segs, phrase, n_term_buckets=8).collect())
    )
    assert got_segs == want_phrase

    # (b) post-compaction: the republished stored index serves identically
    stored = compact_streamed_index(
        spark, out_dir, str(tmp_path / "idx"), n_term_buckets=8, positional=True
    )
    got_phrase = sorted(map(tuple, stored.phrase(phrase).collect()))
    got_prox = sorted(map(tuple, stored.proximity(prox_terms, prox_w).collect()))
    assert got_phrase == want_phrase
    assert got_prox == want_prox


# ---------------------------------------------------------------- stateful dedupe

def test_streaming_dedupe_ttl_retention(spark, tmp_path):
    """VERDICT r3 #7: with ttl_ms, a digest re-occurring WITHIN the TTL is
    suppressed, and re-emits once its last occurrence is older than the TTL
    (bounded-retention mode for continuous ingest)."""
    schema = "repo string, path string, commit string, lang string, content string"

    def mk_drain(name, ttl_ms):
        in_dir, out_dir = str(tmp_path / f"{name}_in"), str(tmp_path / f"{name}_out")

        def drain(rows):
            spark.createDataFrame(rows, schema).write.mode("append").parquet(in_dir)
            streaming_dedupe(spark, in_dir, out_dir, ttl_ms=ttl_ms)
            return sorted(
                (r["repo"], r["content"])
                for r in deduped_view(spark, out_dir).collect()
            )

        return drain

    # --- never within the TTL: 300 s dwarfs any inter-drain latency ---
    drain = mk_drain("long", ttl_ms=300_000)
    assert drain([("r1", "a.py", "c1", "py", "dup content")]) == [
        ("r1", "dup content")
    ]
    assert drain([("r2", "b.py", "c2", "py", "dup content")]) == [
        ("r1", "dup content")
    ]

    # --- re-emits after expiry: 1 s TTL + explicit sleep past it ---
    drain = mk_drain("short", ttl_ms=1_000)
    assert drain([("r1", "a.py", "c1", "py", "dup content")]) == [
        ("r1", "dup content")
    ]
    time.sleep(1.5)
    out = drain([("r3", "c.py", "c3", "py", "dup content")])
    assert out == [("r1", "dup content"), ("r3", "dup content")]


def test_streaming_dedupe_continuous_evicts_state(spark, tmp_path):
    """Continuous mode (processingTime trigger + ProcessingTimeTimeout):
    idle digests past their TTL are EVICTED from the state store — the
    state-size bound. Observed via stateOperators numRowsTotal dropping to 0
    after the TTL with no new data."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    schema = "repo string, path string, commit string, lang string, content string"
    spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x"), ("r2", "b.py", "c2", "py", "y")], schema
    ).write.mode("append").parquet(in_dir)

    q = streaming_dedupe_continuous(
        spark, in_dir, out_dir, ttl_ms=2_000, processing_time="500 milliseconds"
    )
    try:
        saw_state, saw_evicted = False, False
        deadline = time.time() + 60
        while time.time() < deadline and not saw_evicted:
            time.sleep(0.5)
            p = q.lastProgress
            ops = (p or {}).get("stateOperators") or []
            n = ops[0].get("numRowsTotal") if ops else None
            if n == 2:
                saw_state = True
            if saw_state and n == 0:
                saw_evicted = True
        assert saw_state, "state rows never reached 2"
        assert saw_evicted, "idle expired state was not evicted"
    finally:
        q.stop()
