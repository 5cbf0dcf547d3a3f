"""Inverted-index build: documents -> postings / doc_stats / corpus_stats.

Replaces the reference's offline index build
(/root/reference/src/dvc_pipeline_scripts/index_encode.py:48-61: read CSV ->
dedupe -> TF-encode every response -> Annoy build -> pickle) with a Spark
job graph that is pure DataFrame ops until the (optional) compression stage:

    documents ──ids+sha──► docs' ──tokenize──► tokens
        tokens ──posexplode──► (doc_id, pos, term)
        (doc_id, pos, term) ──groupBy(term,doc_id)──► (term, doc_id, tf, positions)
        docs' ──range sort, tokenize, count──► doc_stats(docno, doc_id, doc_len,
                                               sha256) + corpus_stats(n_docs, avgdl)
        (term, doc_id, tf, positions) ──⋈ docno──► postings(term, doc_id, tf,
                                                    doc_len, docno, positions)
        postings ──groupBy(term)──► term_stats(term, df)
        postings ──pack──► posting_blocks (blocks.py), positional_blocks
                           (positions.py)

Scale notes (designed for 10^12 files / 1000 executors):
- doc_id = xxhash64(repo, path, commit): assigned map-side, no global sort.
- docno = dense rank of doc_id in signed order (index format v2): the stored
  blocks encode docnos, whose gaps are small, instead of 64-bit hash ids.
  Assigning it is one range exchange over the doc-level rows (~1/|doc| of
  the token rows) and one driver collect of per-partition counts.
- tf aggregation is a single shuffle on (term, doc_id); Spark's 2-phase hash
  aggregation does map-side partial counts, so hot terms like ``def`` do NOT
  concentrate on one reducer at this stage (the key includes doc_id).
- df/term_stats aggregates from postings with partial aggregation; exact
  counts (not approx_count_distinct) because BM25 rank-identity needs exact df.
- The only skew-sensitive shuffle is repartition-by-term for block packing;
  that lives in blocks.py and salts hot terms by contiguous doc ranges.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goldenretriever_spark.tokenizer import tokens_column

K1 = 1.2
B = 0.75


@dataclass
class InvertedIndex:
    """In-memory handle to the index tables (each a DataFrame; persisted
    variants are written/read by storage.py)."""

    postings: DataFrame      # term, doc_id, tf, doc_len, docno:long, positions:array<int>
    doc_stats: DataFrame     # docno:long, doc_id:long, doc_len:long, sha256:string
    corpus_stats: DataFrame  # n_docs:long, avgdl:double (a local relation)
    term_stats: DataFrame    # term:string, df:long


def with_doc_ids(documents: DataFrame, resolve_collisions: bool = False) -> DataFrame:
    """Attach doc_id + sha256(content) to an input_hint-shaped corpus.

    doc_id = xxhash64(repo, path, commit) — deterministic, distributed, no
    shuffle. If the frame already carries doc_id (driver testdata), keep it.
    sha256 is the per-row content invariant (BASELINE.json input_hint).

    resolve_collisions routes hash collisions through a deterministic seeded
    rehash (see resolve_doc_id_collisions). It costs one groupBy shuffle over
    the key projection, so it is opt-in: expected collisions are ~0 below
    ~10^9 docs (birthday bound on 64-bit ids: n^2 / 2^65 ≈ 3e-4 at 10^8) but
    ~27 per 10^12 — production builds at that design point MUST enable it or
    colliding docs silently merge postings.
    """
    out = documents
    if "doc_id" not in documents.columns:
        out = out.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        if resolve_collisions:
            out = resolve_doc_id_collisions(out)
    return out.withColumn("sha256", F.sha2(F.col("content"), 256))


def resolve_doc_id_collisions(
    docs: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    max_rounds: int = 4,
    _hash=None,
) -> DataFrame:
    """Deterministically rehash colliding doc_ids to a collision-free fixpoint.

    A collision is one doc_id shared by >=2 DISTINCT (repo, path, commit)
    keys (duplicate rows of the same key are the same doc, not a collision).
    Round r >= 1 reassigns ONLY the colliding rows to
    ``xxhash64(*key_cols, lit(r))`` — a seeded rehash that is a pure function
    of the key and the round, so the id mapping is reproducible across
    cluster sizes and resumable builds. Detection is one groupBy over the
    key projection; the colliding-id set is broadcast back (at the 10^12-file
    design point the birthday bound predicts ~27 collisions — tiny), so
    non-colliding rows are never shuffled. Loops until no collisions remain,
    then fails loudly rather than merging postings silently.

    ``_hash(r) -> Column`` is injectable so tests can force collisions with a
    mock hash at round 0 (tests/test_round3.py).
    """
    if _hash is None:
        def _hash(r: int):
            return F.xxhash64(*key_cols, F.lit(r))

    for rnd in range(1, max_rounds + 1):
        bad = (
            docs.groupBy("doc_id")
            .agg(F.countDistinct(*key_cols).alias("k"))
            .filter(F.col("k") > 1)
            .select("doc_id", F.lit(True).alias("__collides"))
        )
        if bad.isEmpty():
            return docs
        docs = (
            docs.join(F.broadcast(bad), "doc_id", "left")
            .withColumn(
                "doc_id",
                F.when(F.col("__collides"), _hash(rnd)).otherwise(F.col("doc_id")),
            )
            .drop("__collides")
        )
    n_left = (
        docs.groupBy("doc_id")
        .agg(F.countDistinct(*key_cols).alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    if n_left:
        raise RuntimeError(
            f"doc_id collisions persist after {max_rounds} rehash rounds: {n_left}"
        )
    return docs


def tokenized(
    documents: DataFrame, tokenizer: str = "simple", resolve_collisions: bool = False
) -> DataFrame:
    """documents + doc_id/sha256 + tokens:array<string>."""
    return with_doc_ids(documents, resolve_collisions=resolve_collisions).withColumn(
        "tokens", tokens_column(F.col("content"), tokenizer)
    )


def staging_tables(toks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Tokenized rows (doc_id, sha256, tokens) -> ``(postings, doc_rows)``
    in hash-id space, before any docno exists: postings (term, doc_id, tf,
    doc_len, positions) and one doc row (doc_id, doc_len, sha256) per input
    row. The streaming fold appends exactly these per micro-batch;
    :func:`number_index` turns them into an index.

    doc_len rides along in the postings' groupBy key (same cardinality as
    (term, doc_id)), so neither the build nor the query path ever needs a
    10^12-row join back to doc_stats for BM25's dl term. ``positions`` is
    the term's sorted 0-based token positions in the doc, so this one
    tokenize feeds both block tables (index/positions.py packs the
    positional blocks from these rows)."""
    doc_len = F.size("tokens").cast("long").alias("doc_len")
    postings = (
        toks.select("doc_id", doc_len, F.posexplode("tokens").alias("pos", "term"))
        .groupBy("term", "doc_id", "doc_len")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        .select("term", "doc_id", "tf", "doc_len", "positions")
    )
    return postings, toks.select("doc_id", doc_len, "sha256")


def dense_number(
    rows: DataFrame,
    key: str,
    id_col: str,
    cols: tuple[Column, ...] = (),
    aggs: tuple[Column, ...] = (),
    totals: tuple[str, ...] = (),
    start: int = 0,
) -> tuple[DataFrame, dict[str, int]]:
    """The one dense numbering (:func:`number_docs`, sources/kb.unique_ids):
    ``rows`` -> ``(id_col, key, *aggs)``, one row per distinct ``key``,
    ``id_col`` = ``start`` + its dense rank in ascending ``key`` order
    (nulls first), plus the totals ``_rows`` (input rows) and Σ of each
    ``totals`` aggregate. ``cols`` are evaluated after the exchange.

    Plan: one range exchange on ``key`` (partition i holds smaller values
    than i+1), a per-partition aggregation + sort, a row number from
    ``monotonically_increasing_id`` (partition index above bit 33), a
    ``localCheckpoint`` so those numbers are computed once, and ONE collect
    of the per-partition counts, whose prefix sums are the partitions' id
    offsets — no single-partition Window, no Python RDD."""
    P = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        rows.repartitionByRange(P, key)
        .select(key, *cols)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("_rows"), *aggs)
        .sortWithinPartitions(key)
        .withColumn("_i", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    part = F.shiftright("_i", 33)
    summed = ("_rows", *totals)
    counts = {
        r["p"]: r
        for r in ranged.groupBy(part.alias("p"))
        .agg(F.count(F.lit(1)).alias("_n"), *[F.sum(c).alias(c) for c in summed])
        .collect()
    }
    offsets, acc = [], start
    for p in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts[p]["_n"] if p in counts else 0
    ids = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets]), (part + 1).cast("int")
    ) + F.col("_i").bitwiseAND(F.lit((1 << 33) - 1))
    numbered = ranged.select(ids.alias(id_col), "*").drop("_rows", "_i")
    return numbered, {c: sum(int(r[c]) for r in counts.values()) for c in summed}


def number_docs(
    rows: DataFrame, doc_len: Column, sha256: Column
) -> tuple[DataFrame, int, int]:
    """The one docno assignment (:func:`dense_number` on doc_id): ``rows``,
    one per input row with its ``doc_id``, -> ``(doc_stats, n_rows,
    total_len)``. ``doc_len`` and ``sha256`` are evaluated after the
    exchange, so a raw corpus (doc_id, content) crosses it untokenized and
    is tokenized once, here.

    ``doc_stats`` is (docno, doc_id, doc_len, sha256), one row per distinct
    doc_id, where docno is the doc_id's dense rank (0..n-1) in signed
    order, sorted by docno in partition order. Because docno order is
    doc_id order, every doc_id-asc tie rule holds unchanged on docnos.
    ``n_rows`` (input rows, duplicates included) and ``total_len`` (Σ
    doc_len over input rows, = Σtf of the postings) come from the
    numbering's one collect, so corpus_stats needs no job of its own."""
    doc_stats, sums = dense_number(
        rows,
        "doc_id",
        "docno",
        cols=(doc_len.alias("doc_len"), sha256.alias("sha256")),
        aggs=(
            F.min("doc_len").alias("doc_len"),
            F.min("sha256").alias("sha256"),
            F.sum("doc_len").alias("_len"),
        ),
        totals=("_len",),
    )
    return doc_stats.drop("_len"), sums["_rows"], sums["_len"]


def number_index(
    postings: DataFrame,
    numbered: tuple[DataFrame, int, int],
    persist: bool = True,
) -> InvertedIndex:
    """Postings (term, doc_id, tf, doc_len, positions) and their corpus'
    :func:`number_docs` result -> the index: the docnos attached to the
    postings by a broadcast join on doc_id (the doc-level side is ~1/|doc|
    of the postings rows; at extreme corpus sizes drop the hint and let AQE
    choose), corpus_stats as a driver-built local relation from the
    numbering's collect, term_stats from postings.

    n_docs is the input row count and avgdl = Σdoc_len / n_docs in double
    arithmetic (0.0 for an empty corpus): the same values, bit for bit, as
    a count over the raw rows and Σtf over the postings."""
    from goldenretriever_spark.session import local_frame

    doc_stats, n_docs, total_len = numbered
    postings = postings.join(
        F.broadcast(doc_stats.select("doc_id", "docno")), "doc_id"
    ).select("term", "doc_id", "tf", "doc_len", "docno", "positions")
    if persist:
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    corpus_stats = local_frame(
        doc_stats.sparkSession,
        {"n_docs": [n_docs], "avgdl": [total_len / n_docs if n_docs else 0.0]},
        "n_docs long, avgdl double",
    )
    term_stats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return InvertedIndex(
        postings=postings, doc_stats=doc_stats, corpus_stats=corpus_stats, term_stats=term_stats
    )


def build_index(
    documents: DataFrame,
    tokenizer: str = "simple",
    persist: bool = True,
    resolve_collisions: bool = False,
) -> InvertedIndex:
    """Build the uncompressed logical index from an input_hint corpus.

    Runs the docno numbering eagerly (:func:`number_docs`: one range
    exchange over the doc-level rows, checkpointed, one collect); the rest
    stays lazy. Only POSTINGS are persisted. The tokenized frame is never
    cached: at 1.9M docs that is a multi-GB columnar cache written once and
    read twice, pure memory-bandwidth cost that destroyed N->4N scaling on
    bandwidth-limited hosts. The numbering and the postings each tokenize
    the corpus once, and the postings carry the positions, so the
    positional pack tokenizes nothing; doc_stats is the numbering's
    checkpoint, so writing it re-tokenizes nothing, and corpus_stats comes
    from the numbering's collect, so it runs no job of its own.
    """
    docs = with_doc_ids(documents, resolve_collisions=resolve_collisions)
    postings, _ = staging_tables(
        docs.select("doc_id", "sha256", tokens_column(F.col("content"), tokenizer).alias("tokens"))
    )
    content = F.col("content")
    numbered = number_docs(
        docs.select("doc_id", "content"),
        F.size(tokens_column(content, tokenizer)).cast("long"),
        F.sha2(content, 256),
    )
    return number_index(postings, numbered, persist)


def check_doc_id_collisions(documents: DataFrame) -> int:
    """Count xxhash64 doc_id collisions (distinct (repo,path,commit) keys that
    share a doc_id). At 10^12 rows collisions are expected (~birthday bound);
    the remediation is resolve_doc_id_collisions (seeded deterministic
    rehash) — this counter is the cheap assertion for builds that left it
    off."""
    d = with_doc_ids(documents)
    return (
        d.groupBy("doc_id")
        .agg(F.countDistinct("repo", "path", "commit").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
