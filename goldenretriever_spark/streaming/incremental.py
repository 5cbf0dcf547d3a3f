"""Incremental index maintenance via Structured Streaming (SURVEY §2.9
stretch: the reference is batch-only; its closest analogs are the append-only
querylog and late feedback updates).

``incremental_postings_build`` watches a directory of document parquet files
with readStream + Trigger.AvailableNow and folds each micro-batch into the
postings store inside foreachBatch:

    new docs -> tokenize -> (term, doc_id, tf, doc_len, positions) -> append partition

Streaming checkpointing is exactly-once per input FILE, not per document, so
the same doc (repo, path, commit) can arrive in two different files. Each
micro-batch therefore dedupes: within the batch (dropDuplicates on doc_id)
and against the store (left-anti join on the existing doc_stats doc_ids).
Postings then append WITHOUT a merge re-aggregation — (term, doc_id) pairs
are unique by construction; term_stats/corpus_stats are cheap view-time
aggregates over the appended postings. The end state after draining equals
the batch build over the union of inputs — asserted in
tests/test_sources_and_streaming.py.

At scale the same structure runs continuously (Trigger.ProcessingTime) with
checkpointLocation giving exactly-once file processing; the compaction job
(:func:`compact_streamed_index`) runs periodically over the appended deltas
and packs both block tables from the one postings store, whose rows carry
their positions. With ``positional=True`` each batch also appends a
servable positional segment, packed from that batch's own postings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def incremental_postings_build(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    tokenizer: str = "simple",
    schema: str | None = None,
    positional: bool = False,
    n_term_buckets: int = 64,
) -> None:
    """Drain all currently-available files into the postings store.

    Exactly-once per input file via the streaming checkpoint; safe to call
    repeatedly as new files land (the resume story for the ingest side,
    complementing the per-bucket build checkpoints). ``schema`` may carry an
    explicit doc_id column (kept by build_index); default corpora derive it
    from (repo, path, commit).

    ``positional=True`` additionally packs each micro-batch's postings
    into positional blocks (index/positions.py) and appends them as
    per-batch SEGMENTS to ``out_dir/positional_blocks`` — the Lucene
    segment model: each batch's blocks are complete and immediately
    servable (phrase_match_stored never
    keys on block_id, it decodes every pruned block row independently, and
    batches hold disjoint doc_ids by the dedupe above), while periodic
    compaction (:func:`compact_streamed_index`) republishes globally-packed
    blocks with collection-frequency-sized salts. Per-batch salts use the
    batch's own cf — locally right-sized; only compaction sees the global cf.
    Segments are staging data: their blocks are keyed by the hash doc_id
    itself, since docnos exist only once compaction numbers the store."""
    stream = spark.readStream.schema(schema or DOCS_SCHEMA).parquet(input_dir)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        from goldenretriever_spark.index.build import (
            staging_tables,
            tokenized,
            with_doc_ids,
        )

        if not batch_df.take(1):
            return
        # exactly-once is per FILE: the same doc can appear in two input
        # files (and twice within one batch) — dedupe on doc_id within the
        # batch and against the store, or tf/df/n_docs double-count silently.
        # doc_stats is doc_id-partitioned on a real warehouse, so the
        # anti-join is co-partitioned there.
        docs = with_doc_ids(batch_df).dropDuplicates(["doc_id"])
        # Only a missing store means "first batch": a store that exists
        # but does not read (corrupt, another schema) raises, since
        # skipping the dedupe would double-count.
        stats_path = os.path.join(out_dir, "doc_stats")
        if _path_exists(spark, stats_path):
            seen = spark.read.parquet(stats_path).select("doc_id")
            docs = docs.join(seen, "doc_id", "left_anti")
        if not docs.take(1):
            return
        if positional:
            # The segment pack re-reads this batch after the doc_stats
            # append — materialize the deduped batch ONCE.
            # localCheckpoint, NOT cache(): the docs plan anti-joins the
            # doc_stats store this fold appends to, and a parquet append
            # recaches-by-path every cached plan reading that path — the
            # recache re-lists the files, sees the batch's own freshly
            # appended doc_stats rows, and silently recaches `docs` as
            # EMPTY (measured: batch 2's positional segment had 0 rows).
            # localCheckpoint truncates lineage to the materialized RDD, so
            # no parquet read remains in the plan and later consumers are
            # immune to the invalidation.
            docs = docs.localCheckpoint(eager=True)
        # staging data in hash-id space: docnos are assigned once, by
        # compaction, over the whole store
        postings, doc_rows = staging_tables(
            tokenized(docs, tokenizer).select("doc_id", "sha256", "tokens")
        )
        postings.write.mode("append").parquet(os.path.join(out_dir, "postings"))
        doc_rows.write.mode("append").parquet(stats_path)
        if positional:
            from goldenretriever_spark.index.positions import pack_positions

            # a segment's block keys are the hash doc_ids themselves
            (
                pack_positions(
                    postings.withColumn("docno", F.col("doc_id")),
                    n_term_buckets=n_term_buckets,
                )
                .write.mode("append")
                .partitionBy("term_bucket")
                .parquet(os.path.join(out_dir, "positional_blocks"))
            )

    (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, resolved as ``spark.read`` resolves it (a
    scheme-less path on ``fs.defaultFS``)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def streamed_index_views(spark: SparkSession, out_dir: str):
    """Assemble the logical index over the streamed store: the staged
    postings and doc rows numbered once over the whole store
    (build.number_index — docnos, corpus/term stats; one numbering pass,
    cheap relative to the postings)."""
    from goldenretriever_spark.index.build import number_docs, number_index

    doc_rows = spark.read.parquet(os.path.join(out_dir, "doc_stats"))
    return number_index(
        spark.read.parquet(os.path.join(out_dir, "postings")),
        number_docs(doc_rows, F.col("doc_len"), F.col("sha256")),
        persist=False,
    )


def compact_streamed_index(
    spark: SparkSession,
    out_dir: str,
    idx_path: str,
    n_term_buckets: int = 64,
    block_size: int = 128,
    target_docs_per_group: int = 250_000,
    positional: bool = False,
):
    """Periodic compaction: fold the appended streaming postings store into
    the compressed, term-bucketed stored index (the serving format), closing
    the ingest->serve loop: readStream appends postings continuously;
    this job runs on a schedule and republishes the block index that
    StoredIndex.search / wand.dispatch_top_k answer from. The appended postings are
    already (term, doc_id)-unique (batch dedupe above), so compaction is
    exactly the batch pack — no merge pass.

    ``positional=True``: the store's numbered postings, which carry their
    positions, are packed globally — salts sized by the store-wide Σtf, not
    each batch's — so the republished ``positional_blocks`` serve
    phrase/proximity results identical to a clean batch build over the union
    of inputs (tests/test_sources_and_streaming.py asserts it). This is the
    segment-merge half of the Lucene model: it reads the postings store,
    never the raw corpus or the per-batch segments."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    idx = streamed_index_views(spark, out_dir)
    blocks = pack_blocks(
        idx,
        block_size=block_size,
        target_docs_per_group=target_docs_per_group,
        n_term_buckets=n_term_buckets,
    )
    pos_blocks = None
    if positional:
        from goldenretriever_spark.index.positions import pack_positions

        pos_blocks = pack_positions(idx.postings, n_term_buckets=n_term_buckets)
    write_index(
        idx,
        idx_path,
        blocks=blocks,
        n_term_buckets=n_term_buckets,
        positional=pos_blocks,
    )
    return StoredIndex(spark, idx_path)
