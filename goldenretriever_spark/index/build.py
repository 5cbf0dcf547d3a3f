"""Inverted-index build: documents -> postings / doc_stats / corpus_stats.

Replaces the reference's offline index build
(/root/reference/src/dvc_pipeline_scripts/index_encode.py:48-61: read CSV ->
dedupe -> TF-encode every response -> Annoy build -> pickle) with a Spark
job graph that is pure DataFrame ops until the (optional) compression stage:

    documents ──ids+sha──► docs' ──tokenize──► tokens
        tokens ──explode──► (doc_id, term)
        (doc_id, term) ──groupBy(term,doc_id).count()──► postings(term,doc_id,tf)
        tokens ──size()──► doc_stats(doc_id, doc_len, sha256)
        doc_stats ──agg──► corpus_stats(n_docs, avgdl)
        postings ──groupBy(term)──► term_stats(term, df)

Scale notes (designed for 10^12 files / 1000 executors):
- doc_id = xxhash64(repo, path, commit): assigned map-side, no global sort.
- tf aggregation is a single shuffle on (term, doc_id); Spark's 2-phase hash
  aggregation does map-side partial counts, so hot terms like ``def`` do NOT
  concentrate on one reducer at this stage (the key includes doc_id).
- df/term_stats aggregates from postings with partial aggregation; exact
  counts (not approx_count_distinct) because BM25 rank-identity needs exact df.
- The only skew-sensitive shuffle is repartition-by-term for block packing;
  that lives in blocks.py and salts hot terms by contiguous doc_id ranges.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goldenretriever_spark.tokenizer import tokens_column

K1 = 1.2
B = 0.75


@dataclass
class InvertedIndex:
    """In-memory handle to the index tables (each a DataFrame; persisted
    variants are written/read by storage.py)."""

    postings: DataFrame      # term:string, doc_id:long, tf:long, doc_len:long
    doc_stats: DataFrame     # doc_id:long, doc_len:long, sha256:string
    corpus_stats: DataFrame  # n_docs:long, avgdl:double
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


def build_index(
    documents: DataFrame,
    tokenizer: str = "simple",
    persist: bool = True,
    resolve_collisions: bool = False,
) -> InvertedIndex:
    """Build the uncompressed logical index from an input_hint corpus.

    Single-cache design: only POSTINGS are persisted; every build-path stat
    derives from them —
      * term_stats: groupBy(term) over cached postings
      * total token count: Σ doc_len = Σ_postings tf (exact long arithmetic)
      * n_docs: count over the raw scan (parquet row-count metadata, ~free)
      * avgdl = total/n_docs — exact incl. zero-token docs (they add 0 to the
        numerator and 1 to the denominator)
    The earlier design also cached the tokenized frame (doc_id, sha256,
    tokens) — at 1.9M docs that is a multi-GB columnar cache written once and
    read twice, pure memory-bandwidth cost that destroyed N->4N scaling on
    bandwidth-limited hosts and bought nothing the postings don't already
    carry (doc_len rides in the groupBy key, so no 10^12-row doc_stats join
    exists anywhere in the build or query path).

    doc_stats (doc_id, doc_len, sha256) stays LAZY: consumers that actually
    want per-doc rows (sha256 invariant checks, the stored-index doc_stats
    table) re-run scan+tokenize once — trading a cheap CPU pass that scales
    with cores for a cache that burns shared bandwidth.
    """
    from pyspark import StorageLevel

    toks = tokenized(
        documents, tokenizer, resolve_collisions=resolve_collisions
    ).select("doc_id", "sha256", "tokens")

    # doc_len rides along in the groupBy key (same cardinality as
    # (term,doc_id)) so neither the build nor the query path ever needs a
    # 10^12-row join back to doc_stats for BM25's dl term.
    postings = (
        toks.select(
            "doc_id",
            F.size("tokens").cast("long").alias("doc_len"),
            F.explode("tokens").alias("term"),
        )
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "tf", "doc_len")
    )
    if persist:
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)

    doc_stats = toks.select(
        "doc_id",
        F.size("tokens").cast("long").alias("doc_len"),
        "sha256",
    )

    n_docs_df = documents.select(F.count(F.lit(1)).alias("n_docs"))
    totals = postings.agg(F.coalesce(F.sum("tf"), F.lit(0)).alias("total_len"))
    corpus_stats = n_docs_df.crossJoin(totals).select(
        "n_docs",
        # an empty corpus has avgdl 0.0 (ANSI mode raises on the 0/0)
        F.when(F.col("n_docs") == 0, F.lit(0.0))
        .otherwise(F.col("total_len").cast("double") / F.col("n_docs"))
        .alias("avgdl"),
    )

    term_stats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    return InvertedIndex(postings=postings, doc_stats=doc_stats, corpus_stats=corpus_stats, term_stats=term_stats)


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
