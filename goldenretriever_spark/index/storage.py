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
- doc_stats/       (docno, doc_id, doc_len, sha256), written sorted by docno
  straight from the build's numbering (build.number_docs), so a docno
  filter prunes row groups by their min/max. It is the one docno -> doc_id
  lookup (:func:`to_doc_ids`); BM25 never joins it, since doc_len rides in
  the blocks.
- corpus_stats/    single row.
- term_stats/      partitioned by term_bucket like posting_blocks.
- _meta/           n_term_buckets and the ``format_version`` token.

Format version 2 (:data:`FORMAT_VERSION`): both block tables name documents
by docno, the dense rank of the doc_id in signed order, instead of the
64-bit hash doc_id. Docno order is doc_id order, so ranking, WAND, the
boolean algebra and the phrase votes run unchanged on docnos (the block
operators' ``doc_id`` output column carries them) and only result rows are
mapped back. :class:`StoredIndex` reads ``_meta`` in-process when it opens
an index and refuses any other version with one ``ValueError``.

The same bucket-pruned reads also run in-process (:func:`open_table`,
:func:`read_terms`): a ``pyarrow.dataset`` scan with the table's schema,
for the calls whose decode volume is too small to pay for Spark jobs. The
content join-back reads a ``documents`` frame that is a bare Parquet scan
the same way (:func:`parquet_scan`).
"""

from __future__ import annotations

import os
import weakref

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from goldenretriever_spark.index.build import InvertedIndex
from goldenretriever_spark.session import local_frame

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


def open_table(filesystem: pafs.FileSystem, path: str, schema: str) -> ds.Dataset:
    """A term-bucketed table (block table or term_stats) at ``path`` on
    ``filesystem`` as an in-process ``pyarrow.dataset``, typed by its
    writer's schema plus the ``term_bucket`` partition column, never
    inferred. Files whose names start with ``_`` are skipped, so a table
    holding only ``_SUCCESS`` reads as zero rows, as
    :meth:`StoredIndex._read_blocks` does."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(StructType.fromDDL(f"{schema}, term_bucket int"))
    return ds.dataset(
        path,
        filesystem=filesystem,
        schema=arrow,
        format="parquet",
        partitioning=ds.partitioning(pa.schema([arrow.field("term_bucket")]), flavor="hive"),
    )


def read_terms(
    table: ds.Dataset, terms, n_term_buckets: int | None, columns: list[str]
) -> pa.Table:
    """The rows of ``terms`` from an :func:`open_table` dataset: the
    in-process twin of :func:`prune_blocks_for_terms` plus the scan. The
    ``term_bucket`` filter prunes partition directories (bucket ids from the
    same ``xxh64.term_buckets``; ``n_term_buckets=None`` reads every bucket,
    and a missing bucket directory holds no rows), the term filter prunes
    row groups by their min/max. No terms read no files."""
    from goldenretriever_spark.xxh64 import term_buckets

    terms = sorted(set(terms))
    if not terms:
        return table.schema.empty_table().select(columns)
    cond = ds.field("term").isin(pa.array(terms, pa.string()))
    if n_term_buckets:
        cond = ds.field("term_bucket").isin(term_buckets(terms, n_term_buckets)) & cond
    return table.to_table(columns=columns, filter=cond)


def to_doc_ids(rows, doc_stats):
    """The one docno -> doc_id lookup: result ``rows`` whose ``doc_id``
    column holds docnos (every block operator's output on a v2 index) ->
    the same rows, same column order, carrying the hash doc_ids.

    Two hosts, one contract: a Spark ``DataFrame`` is joined with the
    ``doc_stats`` frame on docno (the Spark routes and the driver queries);
    a ``pyarrow.Table`` (the local route) is looked up in the in-process
    ``doc_stats`` dataset with the docno filter pushed down, so only the row
    groups holding the result's docnos are read: zero Spark jobs and no
    O(n_docs) array in the driver. Every docno of a v2 index is in its
    doc_stats, so no row is lost."""
    if isinstance(rows, DataFrame):
        return (
            rows.withColumnRenamed("doc_id", "docno")
            .join(doc_stats.select("docno", "doc_id"), "docno")
            .select(*rows.columns)
        )
    docnos = pa.array(sorted(set(rows["doc_id"].to_pylist())), pa.int64())
    lookup = doc_stats.to_table(
        columns=["docno", "doc_id"], filter=ds.field("docno").isin(docnos)
    )
    return (
        rows.rename_columns(["docno" if c == "doc_id" else c for c in rows.column_names])
        .append_column("_i", pa.array(range(rows.num_rows), pa.int64()))
        .join(lookup, keys="docno")
        .sort_by("_i")
        .select(rows.column_names)
    )


def parquet_scan(frame: DataFrame):
    """``frame``'s rows read in-process when it is a bare Parquet scan: its
    optimized logical plan is only projections (``Project``) of plain
    column references over one ``LogicalRelation`` on a ``HadoopFsRelation``
    in ``ParquetFileFormat`` with no partition columns and no bucketing, its
    files all on one filesystem. Returns ``(dataset, columns)``: one
    ``pyarrow.dataset`` over ``frame.inputFiles()``, typed by
    ``frame.schema`` (never inferred), and the ``to_table`` projection that
    names each file column as ``frame`` does. Any other frame (a filter, a
    derived column, a driver-built or partitioned table) gives None. Plan
    inspection and the relation's own file listing: no Spark job, no file
    opened."""
    from pyspark.sql.pandas.types import to_arrow_schema

    def kind(node) -> str:
        return node.getClass().getSimpleName()

    plan = frame._jdf.queryExecution().optimizedPlan()
    node = plan
    while kind(node) == "Project":
        exprs = node.projectList()
        if any(kind(exprs.apply(i)) != "AttributeReference" for i in range(exprs.size())):
            return None
        node = node.child()
    if kind(node) != "LogicalRelation":
        return None
    rel = node.relation()
    if (
        kind(rel) != "HadoopFsRelation"
        or kind(rel.fileFormat()) != "ParquetFileFormat"
        or rel.partitionSchema().nonEmpty()
        or rel.bucketSpec().isDefined()
    ):
        return None
    resolved = [pafs.FileSystem.from_uri(f) for f in frame.inputFiles()]
    fs = resolved[0][0] if resolved else pafs.LocalFileSystem()
    if any(not fs.equals(other) for other, _ in resolved):
        return None
    # a plain reference keeps the relation attribute's id, not its name
    # (``select("DOC_ID")`` over a file column ``doc_id``)
    attrs, out = node.output(), plan.output()
    in_file = {a.exprId().id(): a.name() for a in map(attrs.apply, range(attrs.size()))}
    names = [in_file[a.exprId().id()] for a in map(out.apply, range(out.size()))]
    arrow = to_arrow_schema(frame.schema)
    files = ds.dataset(
        [p for _, p in resolved],
        filesystem=fs,
        schema=pa.schema([f.with_name(n) for f, n in zip(arrow, names)]),
        format="parquet",
    )
    return files, {f.name: ds.field(n) for f, n in zip(arrow, names)}


TERM_STATS_SCHEMA = "term string, df long"

DOC_STATS_SCHEMA = "docno long, doc_id long, doc_len long, sha256 string"

CORPUS_STATS_SCHEMA = StructType().add("n_docs", "long").add("avgdl", "double")

# On-disk format token written to _meta and required on open: 2 = block
# tables keyed by docno (1, never written as a token, keyed them by doc_id).
FORMAT_VERSION = 2

META_SCHEMA = "n_term_buckets int, format_version int"

# Calls whose estimated decode volume (Σdf over each query's terms, summed
# over the batch; for search_filtered plus the filter terms' Σdf; for phrase
# each term's df once per offset it fills) is BELOW this many rows are
# served in the driver process: bucket-pruned pyarrow read, the workers' own
# decode/score/vote functions, numpy rank cut, local-relation result, zero
# Spark jobs. Above it the Spark routes run. Read at call time (0 sends
# every call to Spark).
# Calibrated on a 4-core host (BENCH/LOCAL_CROSSOVER.json, from
# ``tools/wand_crossover.py --local``: warm single calls, synth corpora of
# 10k/100k/400k docs, local vs brute_top_k_stored for search and vs
# phrase_match_stored for phrase):
#   - time never crossed: local search won every cell, 7-25x below 10^5
#     rows, 4.1-5.2x at 0.3-0.4M rows and 2.1x at 1.19M rows (748 vs
#     1542 ms); local phrase won 5.5-6.2x at 20-30k rows, 1.4-1.7x at
#     0.2-0.3M rows and 1.0-1.5x at 0.8-1.2M rows.
#   - memory binds first: a local call's driver peak (Python heap plus
#     Arrow buffers) is at most ~175 B per estimated row for search and
#     ~1,550 B for phrase, which decodes every position of its terms
#     (1.77 GB for a 3-term phrase at 1.19M rows). The budget is Spark's
#     own ceiling on what one action may bring into the driver,
#     spark.driver.maxResultSize (1 GiB by default), which the phrase
#     ratio reaches at ~692k rows.
LOCAL_CROSSOVER_DECODE_ROWS = 690_000

# The serve calls' fixed result schemas, built once: StructType.fromDDL
# parses through the JVM on every call.
_RANKED_SCHEMA = (
    StructType().add("query_id", "long").add("doc_id", "long")
    .add("score", "double").add("rank", "integer")
)
_PHRASE_RANKED_SCHEMA = (
    StructType().add("query_id", "long").add("doc_id", "long")
    .add("score_q", "long").add("rank", "integer")
)
_PHRASE_SCHEMA = StructType().add("doc_id", "long").add("occurrences", "long")
_SCORE_COLS = ["term", "df", "docnos_delta_varint", "tfs_varint", "dls_varint"]


def write_meta(spark: SparkSession, path: str, n_term_buckets: int) -> None:
    """Persist build-time parameters the query path must agree on.

    The read path prunes partitions by recomputing :func:`bucket_col`'s
    hash driver-side; if B at query time differs from build time the pruning
    silently drops the wrong buckets — so B is stored with the index, never
    trusted as a default.
    """
    meta = local_frame(
        spark,
        {"n_term_buckets": [n_term_buckets], "format_version": [FORMAT_VERSION]},
        META_SCHEMA,
    )
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
    # already sorted by docno, partition i below partition i+1: written as
    # is, so the files and their row groups are docno ranges
    index.doc_stats.write.mode(mode).parquet(os.path.join(path, "doc_stats"))
    index.corpus_stats.write.mode(mode).parquet(os.path.join(path, "corpus_stats"))
    (
        index.term_stats.withColumn("term_bucket", bucket_col(n_term_buckets))
        .repartition("term_bucket")
        .write.mode(mode)
        .partitionBy("term_bucket")
        .parquet(os.path.join(path, "term_stats"))
    )


class StoredIndex:
    """Handle to a persisted index directory of format
    :data:`FORMAT_VERSION`; opening any other raises ``ValueError``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # an opened index is immutable (republication writes a new path /
        # Iceberg snapshot), so per-handle memoization of the tiny metadata
        # is safe — without it every search() pays extra driver jobs
        # (corpus_stats collect, schema inference), a measurable slice of
        # single-query serve latency (BENCH/SERVE_LATENCY.json)
        self._stats: tuple[int, float] | None = None
        self._corpus_stats: DataFrame | None = None
        self._doc_stats: DataFrame | None = None
        self._posting_blocks: DataFrame | None = None
        self._positional_blocks: DataFrame | None = None
        # per-handle term -> df memo, filled by an in-process term_stats read
        # (_est_rows): it picks the serve route and spares the dispatch probe
        # its job. The index is immutable, so df values never go stale.
        self._term_df: dict[str, int] = {}
        # in-process datasets (open_table), each opened once per handle, on
        # the filesystem resolved once by _filesystem
        self._tables: dict[str, ds.Dataset] = {}
        self._fs: tuple[pafs.FileSystem, str] | None = None
        # documents= frame -> its in-process scan (parquet_scan) or None,
        # decided once per frame: a DataFrame's plan and file listing are
        # fixed when it is created
        self._content_scans: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        self._n_term_buckets = self._read_meta()

    def _read_meta(self) -> int:
        """Check the ``_meta`` format token and return the build-time bucket
        count: one in-process pyarrow read per handle, zero Spark jobs. An
        index without a readable v2 token (every index written before the
        token existed, a missing or corrupt ``_meta``) raises one
        ``ValueError`` naming the format version, before any route runs: its
        blocks would decode to ids this reader cannot map back."""
        fs, root = self._filesystem()
        try:
            meta = ds.dataset(f"{root}/_meta", filesystem=fs, format="parquet").to_table()
        except (OSError, pa.ArrowException) as e:
            raise ValueError(
                f"index {self.path} has no readable _meta ({e}), so no index "
                f"format version; this reader needs format version {FORMAT_VERSION}"
            ) from e
        row = meta.to_pylist()[0] if meta.num_rows else {}
        version = row.get("format_version")
        if version != FORMAT_VERSION:
            raise ValueError(
                f"index {self.path} is index format version {version or 1}; this "
                f"reader needs format version {FORMAT_VERSION}: rebuild it with "
                "this version's write_index"
            )
        return int(row["n_term_buckets"])

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
        """Persisted positional blocks (index/positions.py); raises
        ``ValueError`` if the index was built without them — check
        :meth:`has_positional`. Memoized per handle like posting_blocks
        (ADVICE r6): re-reading re-ran term_bucket partition discovery on
        every phrase/proximity/phrase_ranked call."""
        self._require_positional()
        if self._positional_blocks is None:
            from goldenretriever_spark.index.positions import POS_BLOCKS_SCHEMA

            self._positional_blocks = self._read_blocks(
                "positional_blocks", POS_BLOCKS_SCHEMA
            )
        return self._positional_blocks

    def _read_blocks(self, table: str, schema: str) -> DataFrame:
        """A term-bucketed table (a block table or term_stats) read with its
        writer's schema plus the term_bucket partition column, never by
        inference: a table with no rows (an empty corpus writes only
        ``_SUCCESS``) reads as an empty frame instead of failing schema
        inference."""
        return self.spark.read.schema(f"{schema}, term_bucket int").parquet(
            os.path.join(self.path, table)
        )

    def _filesystem(self) -> tuple[pafs.FileSystem, str]:
        """(filesystem, root) of the index for the in-process reads and
        :meth:`has_positional`, resolved once per handle: a URI
        (``file://``, ``hdfs://``, ``s3://``) on its scheme's filesystem, a
        scheme-less path on the driver's local one. Spark resolves a
        scheme-less path through ``fs.defaultFS`` instead, so an index on a
        non-local default filesystem is opened by its full URI."""
        if self._fs is None:
            self._fs = pafs.FileSystem.from_uri(
                self.path if "://" in self.path else os.path.abspath(self.path)
            )
        return self._fs

    def has_positional(self) -> bool:
        """Cheap existence probe (ADVICE r6): a filesystem check instead of
        a full parquet read, on the filesystem the in-process reads use."""
        if self._positional_blocks is not None:
            return True
        fs, root = self._filesystem()
        info = fs.get_file_info(f"{root}/positional_blocks")
        return info.type == pafs.FileType.Directory

    def _require_positional(self) -> None:
        """The one error for phrase, proximity and phrase_ranked on an index
        written without positional blocks, raised before any route runs."""
        if not self.has_positional():
            raise ValueError(
                f"index {self.path} has no positional_blocks table; write it "
                "with write_index(positional=pack_positional_blocks(...))"
            )

    def _rows(self, table: str, schema: str, terms, columns: list[str]):
        """In-process, bucket-pruned read of ``terms``' rows of one table
        (:func:`read_terms`) as pandas; zero Spark jobs."""
        if table not in self._tables:
            fs, root = self._filesystem()
            self._tables[table] = open_table(fs, f"{root}/{table}", schema)
        return read_terms(
            self._tables[table], terms, self.n_term_buckets, columns
        ).to_pandas()

    def _est_rows(self, term_lists) -> int:
        """Estimated decode volume: Σdf over each term list, summed. Terms
        not yet in the per-handle ``_term_df`` memo are read from term_stats
        in-process; a term absent from the index counts 0."""
        unknown = {t for ts in term_lists for t in ts} - self._term_df.keys()
        if unknown:
            found = self._rows("term_stats", TERM_STATS_SCHEMA, unknown, ["term", "df"])
            df_of = dict(zip(found["term"], found["df"]))
            for t in unknown:
                self._term_df[t] = int(df_of.get(t, 0))
        return sum(self._term_df[t] for ts in term_lists for t in ts)

    def _local_ranked(self, qtoks, k: int, allowed=None, quantize: bool = False):
        """The local route's top-k (wand.local_top_k) over the blocks of
        ``qtoks``' terms, as an Arrow table in ``_RANKED_SCHEMA``."""
        from goldenretriever_spark.index.blocks import BLOCKS_SCHEMA
        from goldenretriever_spark.query.wand import local_top_k

        terms = {t for _, ts in qtoks for t in ts}
        blocks = self._rows("posting_blocks", BLOCKS_SCHEMA, terms, _SCORE_COLS)
        return local_top_k(blocks, qtoks, self.stats, k, allowed, quantize)

    def _with_content(
        self, ranked: pa.Table, documents: DataFrame, schema: StructType = _RANKED_SCHEMA
    ) -> tuple[DataFrame, str]:
        """The one content join-back, in the driver: ``documents``' other
        columns attached to the collected ``ranked`` rows (``schema``).
        Every ranked row comes back, in ``ranked``'s row order, once per
        matching content row; a doc missing from ``documents`` gets nulls. Only the
        ranked ids' rows are fetched, by one of two fetches, returned with
        the result:

        - ``"files"``: ``documents`` is a bare Parquet scan
          (:func:`parquet_scan`) with a long ``doc_id``. Its files are read
          in-process by one ``pyarrow.dataset`` typed by
          ``documents.schema``, the ``doc_id isin`` filter pushed down:
          zero Spark jobs.
        - ``"spark"``: any other frame. One pushed-down ``isin`` collect:
          one Spark job.

        Both still read O(content table) bytes, because hash doc ids defeat
        row-group pruning. Nothing ranked reads nothing."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import LongType, StructField

        cols = [c for c in documents.columns if c != "doc_id"]
        fields = [documents.schema[c] for c in ["doc_id", *cols]]
        if documents not in self._content_scans:
            self._content_scans[documents] = (
                parquet_scan(documents) if fields[0].dataType == LongType() else None
            )
        scan = self._content_scans[documents]
        ids = sorted(set(ranked["doc_id"].to_pylist()))
        content = to_arrow_schema(StructType(fields)).empty_table()
        if ids and scan is not None:
            files, columns = scan
            content = files.to_table(
                columns={c: columns[c] for c in ["doc_id", *cols]},
                filter=columns["doc_id"].isin(pa.array(ids, pa.int64())),
            )
        elif ids:
            content = (
                documents.select("doc_id", *cols).filter(F.col("doc_id").isin(ids)).toArrow()
            )
        out = (
            ranked.append_column("_i", pa.array(range(ranked.num_rows), pa.int64()))
            .join(content, keys="doc_id", join_type="left outer")
            .sort_by("_i")
            .select([*ranked.column_names, *cols])
        )
        schema = StructType(
            schema.fields + [StructField(f.name, f.dataType, True) for f in fields[1:]]
        )
        return local_frame(self.spark, out, schema), "spark" if scan is None else "files"

    @property
    def doc_stats(self) -> DataFrame:
        """(docno, doc_id, doc_len, sha256), read with its schema and
        memoized like posting_blocks: the Spark routes join it once per
        call (:func:`to_doc_ids`)."""
        if self._doc_stats is None:
            self._doc_stats = self.spark.read.schema(DOC_STATS_SCHEMA).parquet(
                os.path.join(self.path, "doc_stats")
            )
        return self._doc_stats

    def _doc_ids(self, rows):
        """Result rows (docnos) -> hash doc_ids with :func:`to_doc_ids`: a
        DataFrame against :attr:`doc_stats`, an Arrow table against the
        in-process doc_stats dataset (opened once per handle)."""
        if isinstance(rows, DataFrame):
            return to_doc_ids(rows, self.doc_stats)
        if "doc_stats" not in self._tables:
            from pyspark.sql.pandas.types import to_arrow_schema

            fs, root = self._filesystem()
            self._tables["doc_stats"] = ds.dataset(
                f"{root}/doc_stats",
                filesystem=fs,
                schema=to_arrow_schema(StructType.fromDDL(DOC_STATS_SCHEMA)),
                format="parquet",
            )
        return to_doc_ids(rows, self._tables["doc_stats"])

    def _collected(self, ranked: DataFrame, schema: StructType) -> DataFrame:
        """A Spark route's top-k rows — O(k x queries) — collected once and
        mapped to doc_ids in-process (:meth:`_doc_ids`), returned as a local
        relation: the lookup adds no job to the ranking's own, where a join
        with doc_stats would add its broadcast. Unbounded results (boolean,
        phrase, proximity matches) stay lazy and join doc_stats instead."""
        return local_frame(self.spark, self._doc_ids(ranked.toArrow()), schema)

    @property
    def corpus_stats(self) -> DataFrame:
        # memoized like posting_blocks: search/search_filtered/phrase_ranked
        # pass it on every call; read with its schema, so no inference job
        if self._corpus_stats is None:
            self._corpus_stats = self.spark.read.schema(CORPUS_STATS_SCHEMA).parquet(
                os.path.join(self.path, "corpus_stats")
            )
        return self._corpus_stats

    @property
    def term_stats(self) -> DataFrame:
        """(term, df, term_bucket), read with its schema (:meth:`_read_blocks`)."""
        return self._read_blocks("term_stats", TERM_STATS_SCHEMA)

    @property
    def n_term_buckets(self) -> int:
        """Build-time bucket count, read from _meta when the handle opened
        the index (:meth:`_read_meta`)."""
        return self._n_term_buckets

    @property
    def stats(self) -> tuple[int, float]:
        """(n_docs, avgdl), read once per handle in-process, typed by
        ``CORPUS_STATS_SCHEMA`` like :meth:`_read_meta`'s read: zero Spark
        jobs."""
        if self._stats is None:
            from pyspark.sql.pandas.types import to_arrow_schema

            fs, root = self._filesystem()
            row = ds.dataset(
                f"{root}/corpus_stats",
                filesystem=fs,
                schema=to_arrow_schema(CORPUS_STATS_SCHEMA),
                format="parquet",
            ).to_table().to_pylist()[0]
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
        """Top-k over this stored index — the one-call serving path
        (reference models.py:114-149 analog on the compressed index). Three
        routes answer from the same blocks with the same ranks:

        - ``local``: the call's estimated decode volume (``est_rows``: Σdf
          over each query's terms, summed over the batch, from the
          per-handle df memo, which an in-process term_stats read fills) is
          below ``LOCAL_CROSSOVER_DECODE_ROWS``. The blocks are read
          in-process (:func:`read_terms`) and decoded, scored and cut in the
          driver by the Spark workers' own functions (wand.local_top_k),
          and the k docnos are looked up in doc_stats in-process
          (:func:`to_doc_ids`): zero Spark jobs, a local-relation result.
        - ``brute_stored`` / ``wand``: above it, wand.dispatch_top_k's
          measured dispatch with the persisted term-bucket count for
          partition pruning. The memo is passed in, so its df probe runs no
          job. The WHOLE batch is routed by the share of estimated decode
          volume in heavy queries (wand.WAND_HEAVY_SHARE_MIN); per-query
          batch splitting measured slower and was removed
          (BENCH/WAND_MIXED.json). The k ranked rows per query are then
          collected and their docnos looked up in-process like the local
          route's (:meth:`_doc_ids`), so the mapping adds no job.

        ``documents``: optional (doc_id, ...) table; when given, the ranked
        rows carry its other columns (the reference's ``make_query`` returns
        answer STRINGS, models.py:137-149). On every route the ranked rows
        are already in the driver, so :meth:`_with_content` fetches only
        their ids' rows and joins them there: every n_queries x k ranked row
        survives, in rank order, and a doc_id missing from the doc table
        comes back with null content instead of leaving a gap in the rank
        sequence (ADVICE r5). A bare Parquet scan is read in-process (zero
        Spark jobs), any other frame by one ``isin`` collect (one job); both
        still read the content table's O(corpus) bytes.
        ``with_plan=True`` also returns the route record: ``path``,
        ``est_rows`` and ``content`` (the fetch ``documents`` took,
        ``"files"`` or ``"spark"``; None without ``documents``), plus the
        dispatch fields on the Spark routes."""
        from goldenretriever_spark.query.bm25 import query_tokens
        from goldenretriever_spark.query.wand import dispatch_top_k

        qtoks = query_tokens(queries, tokenizer)
        est = self._est_rows([ts for _, ts in qtoks])
        if est < LOCAL_CROSSOVER_DECODE_ROWS:
            plan = {"path": "local", "est_rows": est}
            ranked = self._local_ranked(qtoks, k)
        else:
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
            plan["est_rows"] = est
            ranked = ranked.toArrow()
        ranked = self._doc_ids(ranked)
        plan["content"] = None
        if documents is None:
            out = local_frame(self.spark, ranked, _RANKED_SCHEMA)
        else:
            out, plan["content"] = self._with_content(ranked, documents)
        return (out, plan) if with_plan else out

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
        same routes as :meth:`search`) fused with a cosine
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

        ``documents``: optional join-back. The fused rows, O(k x queries),
        are collected and joined with content in the driver by the same
        :meth:`_with_content` as :meth:`search` (every fused row kept, in
        rank order; the in-process fetch for a bare Parquet scan, one
        ``isin`` collect for any other frame).
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
            fused, _ = self._with_content(fused.toArrow(), documents, fused.schema)
        return fused

    def phrase(self, phrase: list[str]) -> DataFrame:
        """Exact phrase search from the persisted positional blocks — no
        corpus scan, no re-tokenization; only the phrase terms' term_bucket
        partitions are read. Routed like :meth:`search` by the phrase
        terms' Σdf: in-process (query/phrase.phrase_match_local) below
        ``LOCAL_CROSSOVER_DECODE_ROWS``, else
        query/phrase.phrase_match_stored. ``ValueError`` on an index
        without positional blocks."""
        from goldenretriever_spark.index.positions import DECODE_COLS, POS_BLOCKS_SCHEMA
        from goldenretriever_spark.query.phrase import (
            check_phrases,
            phrase_match_local,
            phrase_match_stored,
        )

        self._require_positional()
        check_phrases([(0, phrase)])
        if self._est_rows([phrase]) < LOCAL_CROSSOVER_DECODE_ROWS:
            blocks = self._rows("positional_blocks", POS_BLOCKS_SCHEMA, phrase, DECODE_COLS)
            found = phrase_match_local(blocks, [(0, phrase)])[["doc_id", "occurrences"]]
            found = pa.Table.from_pandas(found, preserve_index=False)
            return local_frame(self.spark, self._doc_ids(found), _PHRASE_SCHEMA)
        return self._doc_ids(
            phrase_match_stored(
                self.positional_blocks, phrase, n_term_buckets=self.n_term_buckets
            )
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

        return self._doc_ids(
            boolean_match_stored(
                self.posting_blocks,
                must=must,
                should=should,
                must_not=must_not,
                min_should_match=min_should_match,
                n_term_buckets=self.n_term_buckets,
            )
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
        are the k best qualifying docs, cut by the quantized score. Routed
        like :meth:`search`, with the filter terms' Σdf added to the
        volume: in-process below ``LOCAL_CROSSOVER_DECODE_ROWS``
        (query/boolean.boolean_match_local), else the one Spark route,
        query/boolean.filtered_top_k. Both hand the decode the filter as a
        docno bitmap (query/boolean.docno_bitmap): the driver holds
        n_docs/8 bytes whatever the match count."""
        from goldenretriever_spark.index.blocks import BLOCKS_SCHEMA
        from goldenretriever_spark.query.bm25 import query_tokens
        from goldenretriever_spark.query.boolean import (
            boolean_clauses,
            boolean_match_local,
            docno_bitmap,
            filtered_top_k,
        )

        must, should, must_not, min_should_match = boolean_clauses(
            must, should, must_not, min_should_match
        )
        qtoks = query_tokens(queries, tokenizer)
        clause_terms = {*must, *should, *must_not}
        est = self._est_rows([ts for _, ts in qtoks] + [clause_terms])
        if est < LOCAL_CROSSOVER_DECODE_ROWS:
            term_docs = self._rows(
                "posting_blocks", BLOCKS_SCHEMA, clause_terms,
                ["term", "docnos_delta_varint"],
            )
            allowed = docno_bitmap(
                boolean_match_local(term_docs, must, should, must_not, min_should_match),
                self.stats[0],
            )
            ranked = self._local_ranked(qtoks, k, allowed, quantize=True)
            return local_frame(self.spark, self._doc_ids(ranked), _RANKED_SCHEMA)
        ranked = filtered_top_k(
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
        return self._collected(ranked, _RANKED_SCHEMA)

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

        ranked = phrase_ranked_topk_stored(
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
        return self._collected(ranked, _PHRASE_RANKED_SCHEMA)

    def proximity(self, terms: list[str], window: int) -> DataFrame:
        """Order-free proximity search from the persisted positional blocks
        (query/phrase.proximity_match_stored)."""
        from goldenretriever_spark.query.phrase import proximity_match_stored

        return self._doc_ids(
            proximity_match_stored(
                self.positional_blocks,
                terms,
                window,
                n_term_buckets=self.n_term_buckets,
            )
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
