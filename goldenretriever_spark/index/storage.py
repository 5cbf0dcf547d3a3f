"""Index persistence: write/read the index tables as partitioned Parquet.

Replaces the reference's Minio blob up/download of pickled indexes
(/root/reference/src/minio_handler.py:24-46, src/prebuilt_index.py:44-72)
with catalog tables. Iceberg is the deployment target (snapshots give free
lineage + MERGE for feedback); the sandbox has no Iceberg runtime jar, so the
writer degrades to plain Parquet ``partitionBy`` — call-sites are isolated
here so a real cluster flips ``format='iceberg'`` only.

Layout (designed for 10^12-file scale):
- posting_blocks/, positional_blocks/  partitioned by term_bucket
  (:func:`bucket_col`) — query-time scans prune to the buckets holding the
  query's terms (:func:`prune_blocks_for_terms`, the one bucket filter of
  the read path); read with their packers' schemas, never inferred; the
  per-bucket file count is what checkpointing tracks.
- doc_stats/       repartitioned by doc_id so the query-time doc_len join is
  co-partitioned (bucketed-table join on a real warehouse).
- corpus_stats/    single row.
- term_stats/      partitioned by term_bucket like posting_blocks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goldenretriever_spark.index.build import InvertedIndex
from goldenretriever_spark.session import local_frame

_UNSET = object()  # n_term_buckets memo sentinel (None is a valid value)


def bucket_col(n_buckets: int):
    """The stored layout's partition key, ``pmod(xxhash64(term), B)``: the
    writers attach it to block and term-stat rows, and
    :func:`prune_blocks_for_terms` recomputes it driver-side."""
    return F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")


def prune_blocks_for_terms(
    blocks: DataFrame, terms: list[str], n_term_buckets: int | None
) -> DataFrame:
    """Restrict a posting- or positional-blocks frame to the given terms.

    Two pruning layers: the ``term_bucket`` isin filter prunes PARTITION
    DIRECTORIES (only the buckets holding query terms are ever listed/read —
    the reason the layout partitions by term_bucket), then the term
    equi-filter prunes rows via parquet min/max. Bucket ids come from the
    pytest-locked driver-side XXH64 twin (goldenretriever_spark/xxh64.py) —
    zero Spark jobs; the r6 one-row createDataFrame+collect job cost ~100 ms
    per call."""
    if terms and n_term_buckets and "term_bucket" in blocks.columns:
        from goldenretriever_spark.xxh64 import term_buckets

        blocks = blocks.filter(
            F.col("term_bucket").isin(term_buckets(terms, n_term_buckets))
        )
    return blocks.filter(F.col("term").isin(list(terms)))


META_SCHEMA = "n_term_buckets int"


def write_meta(spark: SparkSession, path: str, n_term_buckets: int) -> None:
    """Persist build-time parameters the query path must agree on.

    The read path prunes partitions by recomputing :func:`bucket_col`'s
    hash driver-side; if B at query time differs from build time the pruning
    silently drops the wrong buckets — so B is stored with the index, never
    trusted as a default.
    """
    meta = local_frame(spark, {"n_term_buckets": [n_term_buckets]}, META_SCHEMA)
    meta.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "_meta"))


def write_index(
    index: InvertedIndex,
    path: str,
    blocks: DataFrame | None = None,
    n_term_buckets: int = 64,
    mode: str = "overwrite",
    positional: DataFrame | None = None,
) -> None:
    write_meta(index.corpus_stats.sparkSession, path, n_term_buckets)
    if blocks is not None:
        (
            blocks.repartition("term_bucket")
            .write.mode(mode)
            .partitionBy("term_bucket")
            .parquet(os.path.join(path, "posting_blocks"))
        )
    if positional is not None:
        # positional phrase/proximity blocks (index/positions.py), bucketed
        # with the SAME n_term_buckets so query-time pruning shares _meta
        (
            positional.repartition("term_bucket")
            .write.mode(mode)
            .partitionBy("term_bucket")
            .parquet(os.path.join(path, "positional_blocks"))
        )
    index.doc_stats.repartition(F.col("doc_id")).write.mode(mode).parquet(
        os.path.join(path, "doc_stats")
    )
    index.corpus_stats.write.mode(mode).parquet(os.path.join(path, "corpus_stats"))
    (
        index.term_stats.withColumn("term_bucket", bucket_col(n_term_buckets))
        .repartition("term_bucket")
        .write.mode(mode)
        .partitionBy("term_bucket")
        .parquet(os.path.join(path, "term_stats"))
    )


class StoredIndex:
    """Handle to a persisted index directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # an opened index is immutable (republication writes a new path /
        # Iceberg snapshot), so per-handle memoization of the tiny metadata
        # is safe — without it every search() pays 2 extra driver jobs
        # (_meta read + corpus_stats collect), a measurable slice of
        # single-query serve latency (BENCH/SERVE_LATENCY.json)
        self._n_term_buckets: int | None | object = _UNSET
        self._stats: tuple[int, float] | None = None
        self._corpus_stats: DataFrame | None = None
        self._posting_blocks: DataFrame | None = None
        self._positional_blocks: DataFrame | None = None
        # per-handle term -> df memo for the dispatch probe (VERDICT r6 #4):
        # the index is immutable, so df values never go stale; repeated
        # vocabularies (interactive serve, hybrid lexical leg) probe once
        self._term_df: dict[str, int] = {}

    @property
    def posting_blocks(self) -> DataFrame:
        # memoized: re-reading re-runs partition discovery over all the
        # term_bucket directories at plan time, per search call. A DataFrame
        # is an immutable plan, so handing the same one out is safe.
        if self._posting_blocks is None:
            from goldenretriever_spark.index.blocks import BLOCKS_SCHEMA

            self._posting_blocks = self._read_blocks("posting_blocks", BLOCKS_SCHEMA)
        return self._posting_blocks

    @property
    def positional_blocks(self) -> DataFrame:
        """Persisted positional blocks (index/positions.py); raises if the
        index was built without them — check :meth:`has_positional`.
        Memoized per handle like posting_blocks (ADVICE r6): re-reading
        re-ran term_bucket partition discovery on every
        phrase/proximity/phrase_ranked call."""
        if self._positional_blocks is None:
            from goldenretriever_spark.index.positions import POS_BLOCKS_SCHEMA

            self._positional_blocks = self._read_blocks(
                "positional_blocks", POS_BLOCKS_SCHEMA
            )
        return self._positional_blocks

    def _read_blocks(self, table: str, schema: str) -> DataFrame:
        """A block table read with its packer's schema plus the term_bucket
        partition column, never by inference: a table with no rows (an
        empty corpus writes only ``_SUCCESS``) reads as an empty frame
        instead of failing schema inference."""
        return self.spark.read.schema(f"{schema}, term_bucket int").parquet(
            os.path.join(self.path, table)
        )

    def has_positional(self) -> bool:
        """Cheap existence probe (ADVICE r6): a filesystem check instead of
        a full parquet read; local paths and any Hadoop-visible FS agree
        with what spark.read.parquet would accept."""
        if self._positional_blocks is not None:
            return True
        return os.path.isdir(os.path.join(self.path, "positional_blocks"))

    @property
    def doc_stats(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "doc_stats"))

    @property
    def corpus_stats(self) -> DataFrame:
        # memoized like posting_blocks: search/search_filtered/phrase_ranked
        # pass it on every call, and each read runs a schema-inference job
        if self._corpus_stats is None:
            self._corpus_stats = self.spark.read.parquet(
                os.path.join(self.path, "corpus_stats")
            )
        return self._corpus_stats

    @property
    def term_stats(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "term_stats"))

    @property
    def n_term_buckets(self) -> int | None:
        """Build-time bucket count from _meta; None for pre-meta indexes
        (query paths then skip partition pruning rather than guess).
        Memoized per handle (see __init__)."""
        if self._n_term_buckets is not _UNSET:
            return self._n_term_buckets
        try:
            rows = self.spark.read.parquet(os.path.join(self.path, "_meta")).collect()
            val = int(rows[0]["n_term_buckets"]) if rows else None
        except Exception:
            val = None
        self._n_term_buckets = val
        return val

    @property
    def stats(self) -> tuple[int, float]:
        """(n_docs, avgdl), collected once per handle."""
        if self._stats is None:
            row = self.corpus_stats.collect()[0]
            self._stats = (int(row["n_docs"]), float(row["avgdl"]))
        return self._stats

    def search(
        self,
        queries,
        k: int = 10,
        tokenizer: str = "simple",
        documents: DataFrame | None = None,
        with_plan: bool = False,
    ):
        """Top-k over this stored index with measured brute/WAND dispatch and
        the persisted term-bucket count for partition pruning — the one-call
        serving path (reference models.py:114-149 analog on the compressed
        index). The WHOLE batch is routed by the share of estimated decode
        volume in heavy queries (wand.WAND_HEAVY_SHARE_MIN); per-query batch
        splitting measured slower and was removed (BENCH/WAND_MIXED.json).

        ``documents``: optional (doc_id, ...) table; when given, the ranked
        ids are joined back so results carry materialized content (the
        reference's ``make_query`` returns answer STRINGS, models.py:137-149).
        The join is right-outer from ``documents`` (ADVICE r5): all
        n_queries x k ranked rows survive, a doc_id missing from the doc
        table surfaces as a row with null content instead of a silent gap in
        the rank sequence. Spark builds an outer join on its non-preserved
        side, here ``documents``: the executed plan is
        ``BroadcastHashJoin RightOuter BuildLeft``, which broadcasts the
        whole documents table on every call while it is under
        ``spark.sql.autoBroadcastJoinThreshold``, and a sort-merge join over
        the full table above it — an O(corpus) cost per call.
        ``with_plan=True`` also returns the dispatch record."""
        from goldenretriever_spark.query.wand import dispatch_top_k

        ranked, plan = dispatch_top_k(
            self.spark,
            self.posting_blocks,
            self.corpus_stats,
            queries,
            k=k,
            tokenizer=tokenizer,
            n_term_buckets=self.n_term_buckets,
            stats=self.stats,
            term_df_cache=self._term_df,
        )
        if documents is not None:
            # right-outer FROM documents keeps every ranked row. Spark builds
            # it on documents (BroadcastHashJoin RightOuter BuildLeft under
            # the broadcast threshold, sort-merge above it), so this reads
            # the whole doc table per call; a broadcast hint on the ranked
            # side cannot apply here.
            ranked = (
                documents.join(ranked, "doc_id", "right")
                .select(
                    "query_id", "doc_id", "score", "rank",
                    *[c for c in documents.columns if c != "doc_id"],
                )
            )
        return (ranked, plan) if with_plan else ranked

    def search_hybrid(
        self,
        queries,
        query_vectors: DataFrame,
        embeddings: DataFrame,
        k: int = 10,
        tokenizer: str = "simple",
        centroids: DataFrame | None = None,
        n_probe: int = 2,
        documents: DataFrame | None = None,
    ) -> DataFrame:
        """One-call hybrid serve: the lexical stored-index top-k (with the
        same brute/WAND dispatch as :meth:`search`) fused with a cosine
        vector top-k by reciprocal-rank fusion (query/hybrid.rrf_fuse) — the
        production move the reference's two SEPARATE endpoints (BM25-ish ES
        text match vs Annoy cosine, models.py make_query) stop short of.

        ``query_vectors``: (query_id, qvec) with query ids aligned to the
        lexical batch; ``embeddings``: (vec_id, embedding) with vec_id in
        the doc_id space. Vector leg: exact brute cosine when ``centroids``
        is None (the exactness baseline); IVF-probed re-rank when a
        (centroid_id, cvec) codebook is given. When ``embeddings`` ALSO
        carries a ``centroid_id`` column (inverted-list membership persisted
        at index time, partitioned by centroid_id), the leg serves from the
        stored lists via ann.ivf_topk_from_lists — only the probed lists'
        partitions are read, no per-query corpus pass: the 100 TB path.
        Fusion itself adds no shuffle beyond the legs' own plans (the fused
        agg reuses the legs' partitioning — BENCH/PLANS.md 'Hybrid RRF
        fusion').

        ``documents``: optional join-back, the same right-outer join as
        :meth:`search` (all fused rows preserved, the whole doc table read
        per call).
        Returns (query_id, doc_id, rrf_q, rank [, doc columns])."""
        from goldenretriever_spark.operators.ann import (
            brute_topk,
            ivf_topk,
            ivf_topk_from_lists,
        )
        from goldenretriever_spark.query.hybrid import rrf_fuse

        lex = self.search(queries, k=k, tokenizer=tokenizer).select(
            "query_id", "doc_id", "rank"
        )
        if centroids is None:
            vec = brute_topk(embeddings, query_vectors, k=k)
        elif "centroid_id" in embeddings.columns:
            vec = ivf_topk_from_lists(
                embeddings, query_vectors, centroids, k=k, n_probe=n_probe
            )
        else:
            vec = ivf_topk(embeddings, query_vectors, centroids, k=k, n_probe=n_probe)
        vec = vec.select(
            "query_id", F.col("vec_id").alias("doc_id"), F.col("rnk").alias("rank")
        )
        fused = rrf_fuse([lex, vec], k=k)
        if documents is not None:
            # same right-outer join-back, and plan, as search()
            fused = documents.join(fused, "doc_id", "right").select(
                "query_id", "doc_id", "rrf_q", "rank",
                *[c for c in documents.columns if c != "doc_id"],
            )
        return fused

    def phrase(self, phrase: list[str]) -> DataFrame:
        """Exact phrase search from the persisted positional blocks — no
        corpus scan, no re-tokenization; only the phrase terms' term_bucket
        partitions are read (query/phrase.phrase_match_stored)."""
        from goldenretriever_spark.query.phrase import phrase_match_stored

        return phrase_match_stored(
            self.positional_blocks, phrase, n_term_buckets=self.n_term_buckets
        )

    def boolean(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        min_should_match: int | None = None,
    ) -> DataFrame:
        """Boolean retrieval (must/should/must_not, Lucene BooleanQuery
        semantics) from the compressed posting blocks — bucket-pruned,
        doc-id-only decode (query/boolean.boolean_match_stored)."""
        from goldenretriever_spark.query.boolean import boolean_match_stored

        return boolean_match_stored(
            self.posting_blocks,
            must=must,
            should=should,
            must_not=must_not,
            min_should_match=min_should_match,
            n_term_buckets=self.n_term_buckets,
        )

    def search_filtered(
        self,
        queries,
        k: int = 10,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        min_should_match: int | None = None,
        tokenizer: str = "simple",
    ) -> DataFrame:
        """BM25 top-k restricted to docs satisfying a boolean filter — the
        filter prunes the candidate set BEFORE ranking, so the k returned
        are the k best qualifying docs (query/boolean.filtered_top_k)."""
        from goldenretriever_spark.query.boolean import filtered_top_k

        return filtered_top_k(
            self.spark,
            self.posting_blocks,
            self.corpus_stats,
            queries,
            k=k,
            must=must,
            should=should,
            must_not=must_not,
            min_should_match=min_should_match,
            tokenizer=tokenizer,
            n_term_buckets=self.n_term_buckets,
            stats=self.stats,
        )

    def phrase_ranked(
        self,
        phrases: list[tuple[int, list[str]]],
        k: int = 10,
        boost: float = 1.0,
    ) -> DataFrame:
        """Phrase-boosted BM25 top-k served ENTIRELY from this stored index:
        candidate scores decoded from the compressed posting blocks, exact
        phrase occurrences from the persisted positional blocks, fused with
        a saturating ln(1+occurrences) boost
        (query/phrase.phrase_ranked_topk_stored)."""
        from goldenretriever_spark.query.phrase import phrase_ranked_topk_stored

        return phrase_ranked_topk_stored(
            self.spark,
            self.posting_blocks,
            self.corpus_stats,
            self.positional_blocks,
            phrases,
            k=k,
            boost=boost,
            n_term_buckets=self.n_term_buckets,
            stats=self.stats,
        )

    def proximity(self, terms: list[str], window: int) -> DataFrame:
        """Order-free proximity search from the persisted positional blocks
        (query/phrase.proximity_match_stored)."""
        from goldenretriever_spark.query.phrase import proximity_match_stored

        return proximity_match_stored(
            self.positional_blocks,
            terms,
            window,
            n_term_buckets=self.n_term_buckets,
        )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED table (hash-bucketed by bucket_cols into
    n_buckets files per partition, optionally sorted within buckets).

    Two tables bucketed the same way join WITHOUT any Exchange — the join
    key co-location is baked into the layout at write time, so the repeated
    postings<->term_stats / postings<->postings joins of a 100 TB warehouse
    pay the shuffle once (here) instead of per query
    (tests/test_round3.py asserts the exchange-free plan). Bucketing rides
    the table catalog (saveAsTable), not plain parquet paths."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)
