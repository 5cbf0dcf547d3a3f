"""Round-6 coverage: IVF serving from persisted inverted lists (rank
identity vs the in-plan assignment path, and the hybrid wiring), and
streamed positional segments — phrase/proximity parity between the
incremental build, its compaction, and a clean batch build."""

import os

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# IVF from persisted lists (VERDICT r5 #4 groundwork)
# ---------------------------------------------------------------------------

def _clustered(spark, n=400, seed=11):
    from goldenretriever_spark.operators.ann import synth_clustered_embeddings

    return synth_clustered_embeddings(spark, n, n_clusters=6, seed=seed).select(
        "vec_id", "embedding"
    )


def _qvecs(spark, emb, n_queries=5):
    # query vectors = a few corpus vectors (non-trivial neighbors guaranteed)
    rows = emb.orderBy("vec_id").limit(n_queries).collect()
    return spark.createDataFrame(
        [(i, r["embedding"]) for i, r in enumerate(rows)],
        "query_id long, qvec array<double>",
    )


def _codebook(spark, emb):
    from goldenretriever_spark.operators.ann import train_centroids_kmeans

    cb = train_centroids_kmeans(emb, n_centroids=4, iters=2, seed=5)
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(cb)], "centroid_id int, cvec array<double>"
    )


def test_ivf_from_lists_rank_identity(spark, tmp_path):
    """Persisted-lists serving must rank exactly like the in-plan assignment
    path: same codebook -> same inverted lists -> same probed candidates ->
    same quantized-cosine top-k."""
    from goldenretriever_spark.operators.ann import (
        ivf_assign,
        ivf_topk,
        ivf_topk_from_lists,
    )

    emb = _clustered(spark)
    qvecs = _qvecs(spark, emb)
    cent = _codebook(spark, emb)

    lists_path = str(tmp_path / "ivf_lists")
    ivf_assign(emb, cent).write.partitionBy("centroid_id").parquet(lists_path)
    assigned = spark.read.parquet(lists_path)

    want = sorted(map(tuple, ivf_topk(emb, qvecs, cent, k=7, n_probe=2).collect()))
    got = sorted(
        map(tuple, ivf_topk_from_lists(assigned, qvecs, cent, k=7, n_probe=2).collect())
    )
    assert got == want


def test_ivf_from_lists_reads_only_probed_partitions(spark, tmp_path):
    """The centroid_id partition filter must reach the parquet scan: the
    pruned plan's PartitionFilters carry centroid_id, so unprobed list
    directories are never read (the property that bounds per-batch cost at
    corpus scale)."""
    from goldenretriever_spark.operators.ann import ivf_assign, ivf_probes

    emb = _clustered(spark)
    qvecs = _qvecs(spark, emb, n_queries=1)
    cent = _codebook(spark, emb)
    lists_path = str(tmp_path / "ivf_lists")
    ivf_assign(emb, cent).write.partitionBy("centroid_id").parquet(lists_path)
    assigned = spark.read.parquet(lists_path)

    probe_ids = [
        r["centroid_id"]
        for r in ivf_probes(qvecs, cent, 2).select("centroid_id").distinct().collect()
    ]
    pruned = assigned.filter(F.col("centroid_id").isin(probe_ids))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan.split("PartitionFilters")[1].split("]")[0]


def test_search_hybrid_from_lists_matches_inplan(spark, tmp_path):
    """search_hybrid must produce identical fused output whether the vector
    leg assigns in-plan or serves from the persisted lists."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.operators.ann import ivf_assign

    docs = spark.createDataFrame(corpus.synth_corpus_pandas(80, seed=3))
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=32, target_docs_per_group=1000, n_term_buckets=8)
    idx_path = str(tmp_path / "idx")
    write_index(idx, idx_path, blocks=blocks, n_term_buckets=8)
    stored = StoredIndex(spark, idx_path)

    n_docs = docs.count()
    emb = _clustered(spark, n=n_docs)
    cent = _codebook(spark, emb)
    qvecs = _qvecs(spark, emb, n_queries=3)
    lists_path = str(tmp_path / "ivf_lists")
    ivf_assign(emb, cent).write.partitionBy("centroid_id").parquet(lists_path)
    assigned = spark.read.parquet(lists_path)

    qlist = [(0, "def return"), (1, "cache buffer"), (2, "import os")]
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], r["rrf_q"]) for r in df.collect()
    )
    want = key(stored.search_hybrid(qlist, qvecs, emb, k=5, centroids=cent))
    got = key(stored.search_hybrid(qlist, qvecs, assigned, k=5, centroids=cent))
    assert got == want


# ---------------------------------------------------------------------------
# batched phrase vote (one scan per batch, not per phrase)
# ---------------------------------------------------------------------------

def test_phrase_batch_equals_per_phrase(spark):
    """The batched start-vote must reproduce the per-phrase stored path
    exactly — including overlapping occurrences and duplicate-term
    phrases — while paying one decode for the whole batch."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.build import with_doc_ids
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.query.phrase import (
        phrase_match_stored,
        phrase_match_stored_batch,
    )

    docs = with_doc_ids(spark.createDataFrame(corpus.synth_corpus_pandas(150, seed=9)))
    blocks = pack_positional_blocks(docs, n_term_buckets=8).cache()
    batch = [
        (0, ["def", "return"]),
        (1, ["#", "todo"]),
        (2, ["def", "return", "def"]),   # duplicate-term phrase
        (3, ["zzz_absent", "def"]),      # no matches
    ]
    got = sorted(
        map(tuple, phrase_match_stored_batch(blocks, batch, n_term_buckets=8).collect())
    )
    want = sorted(
        (qid, r["doc_id"], r["occurrences"])
        for qid, ph in batch
        for r in phrase_match_stored(blocks, ph, n_term_buckets=8).collect()
    )
    blocks.unpersist()
    assert got == want
    assert any(q == 0 for q, _, _ in got), "batch must have real matches"


def test_phrase_ranked_stored_equals_reference(spark, tmp_path):
    """StoredIndex.phrase_ranked (compressed blocks + persisted positional
    blocks, no raw postings anywhere) must reproduce the pure-Python
    reference (oracle.phrase_ranked_top_k) exactly — same quantized scores,
    ranks, tie-breaks."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.oracle import (
        build_oracle_index,
        phrase_ranked_top_k,
        simple_tokenize_text,
    )

    docs = with_doc_ids(spark.createDataFrame(corpus.synth_corpus_pandas(150, seed=13)))
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=32, target_docs_per_group=1000, n_term_buckets=8)
    pos = pack_positional_blocks(docs, postings=idx.postings, n_term_buckets=8)
    idx_path = str(tmp_path / "idx")
    write_index(idx, idx_path, blocks=blocks, n_term_buckets=8, positional=pos)
    stored = StoredIndex(spark, idx_path)

    phrases = [(0, ["def", "return"]), (1, ["#", "todo"]), (2, ["zzz_absent"])]
    content = {r["doc_id"]: r["content"] for r in docs.select("doc_id", "content").collect()}
    oidx = build_oracle_index(list(content.items()))
    toks = {d: simple_tokenize_text(c) for d, c in content.items()}
    want = sorted(
        (qid, rank, d, sq)
        for qid, ph in phrases
        for rank, d, sq in phrase_ranked_top_k(oidx, toks, ph, k=5)
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_q"])
        for r in stored.phrase_ranked(phrases, k=5).collect()
    )
    assert got == want
    assert any(q == 0 for q, _, _, _ in got)


# ---------------------------------------------------------------------------
# streamed positional segments (VERDICT r5 #8)
# ---------------------------------------------------------------------------

def test_streamed_positional_parity(spark, tmp_path):
    """Positional parity across the full ingest->serve loop: per-batch
    segments appended by the incremental build are servable immediately, and
    after compaction the stored phrase/proximity results equal a clean batch
    build over the union of inputs."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.index.storage import to_doc_ids
    from goldenretriever_spark.query.phrase import (
        phrase_match_stored,
        proximity_match_stored,
    )
    from goldenretriever_spark.streaming.incremental import (
        compact_streamed_index,
        incremental_postings_build,
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
