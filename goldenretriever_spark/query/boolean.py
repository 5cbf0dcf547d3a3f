"""Boolean retrieval over the stored posting blocks — must / should /
must_not term filters, Lucene BooleanQuery semantics.

The reference engine has no boolean surface at all (retrieval is pure
similarity top-k, /root/reference/src/models.py:114-149); every production
full-text index pairs ranked retrieval with boolean filtering. Served the
same way as every stored-path operator in this engine: term_bucket
partition pruning restricts the scan to the query terms' bucket
directories, a lightweight decode materializes only doc ids — the
tf/doc_len blobs are never touched, parquet column pruning keeps them
unread — and the set algebra is ONE pass: a single scan of every clause's
terms that tags each posting with its term's clauses, ONE exchange on the
doc's bitmap word (``doc_id >> 6``), then ONE aggregation per doc counting
its terms in each clause:

    must:      docs with Σ[term ∈ must] == |must|          (conjunction)
    should:    docs with Σ[term ∈ should] >= min_should_match
    must_not:  docs with Σ[term ∈ must_not] == 0

At 100 TB the cost is the posting volume of the clause terms only; no
corpus scan, no full-index pass, no Python beyond the Arrow-batched varint
decode shared with every other stored reader. The ``doc_id`` decoded from
format-v2 blocks is a docno; callers map results back with
storage.to_doc_ids.

A filter's allowed set reaches the scoring decode as one docno bitmap
(:func:`docno_bitmap`) on both hosts: ``ceil(n_docs/8)`` bytes whatever
the match count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goldenretriever_spark.index.codec import decode_doc_ids
from goldenretriever_spark.index.storage import prune_blocks_for_terms


def _term_docs(
    posting_blocks: DataFrame, must, should, must_not, n_term_buckets: int | None
) -> DataFrame:
    """(doc_id, _nm, n_should_hit, _nn, w) posting rows of every clause term
    from the compressed blocks (:func:`clause_doc_rows`): one bucket-prune +
    term filter (storage.prune_blocks_for_terms) + doc-id-only decode; the
    tf/doc_len blobs stay unread. The rows are hash-partitioned on the
    docno's bitmap word ``w``, the leading key of every later step, so this
    is the algebra's only exchange."""
    pruned = prune_blocks_for_terms(
        posting_blocks, sorted({*must, *should, *must_not}), n_term_buckets
    ).select("term", "docnos_delta_varint")

    def unpack(batches):
        for pdf in batches:
            rows = clause_doc_rows(pdf, must, should, must_not)
            if len(rows):
                yield rows

    return (
        pruned.mapInPandas(
            unpack, schema="doc_id long, _nm byte, n_should_hit byte, _nn byte"
        )
        .withColumn("w", F.shiftright("doc_id", 6))
        .repartition("w")
    )


def clause_doc_rows(pdf: pd.DataFrame, must, should, must_not) -> pd.DataFrame:
    """One batch of (term, docnos_delta_varint) block rows -> its postings
    tagged by clause, (doc_id, _nm, n_should_hit, _nn): each flag is 1 iff
    the posting's term is in must / should / must_not (a term may be in
    more than one). The body of both hosts, :func:`_term_docs`' workers and
    the in-process :func:`boolean_match_local`. A (term, docno) pair occurs
    once in posting_blocks (postings are grouped by (term, doc_id) before
    packing), so a doc's sum of a flag counts its DISTINCT clause terms."""
    ids, counts = decode_doc_ids(pdf["docnos_delta_varint"])
    term = pdf["term"]
    flags = {
        name: np.repeat(term.isin(terms).to_numpy(np.int8), counts)
        for name, terms in (("_nm", must), ("n_should_hit", should), ("_nn", must_not))
    }
    return pd.DataFrame({"doc_id": ids, **flags})


def boolean_clauses(must, should, must_not, min_should_match):
    """Validated, deduplicated clauses and the effective min_should_match
    (see :func:`boolean_match_stored`)."""
    must = sorted(set(must or []))
    should = sorted(set(should or []))
    must_not = sorted(set(must_not or []))
    if not must and not should:
        raise ValueError("boolean query needs at least one must or should term")
    if min_should_match is None:
        min_should_match = 1 if not must else 0
    if min_should_match > len(should):
        raise ValueError("min_should_match exceeds the number of should terms")
    return must, should, must_not, min_should_match


def boolean_match_stored(
    posting_blocks: DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    min_should_match: int | None = None,
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Docs satisfying the boolean query, as ``(doc_id, n_should_hit)``.

    Semantics (Lucene BooleanQuery): a doc qualifies iff it contains ALL
    ``must`` terms, at least ``min_should_match`` distinct ``should`` terms
    (default 1 when there are no must clauses — pure disjunction — else 0,
    where should only contributes the returned hit count), and NONE of the
    ``must_not`` terms. ``n_should_hit`` is the distinct should-term count
    (0 when no should clauses), usable as a coordination signal downstream.
    At least one positive clause (must or should) is required — a pure
    negation over an index is unbounded by construction.
    """
    return _matches(
        posting_blocks, must, should, must_not, min_should_match, n_term_buckets
    ).drop("w")


def _matches(
    posting_blocks, must, should, must_not, min_should_match, n_term_buckets
) -> DataFrame:
    """:func:`boolean_match_stored` with each doc's bitmap word: (w, doc_id,
    n_should_hit), hash-partitioned on w (see :func:`_term_docs`): one
    clause-tagged scan, one aggregation of the flags per doc, then
    :func:`_passes`."""
    must, should, must_not, min_should_match = boolean_clauses(
        must, should, must_not, min_should_match
    )
    counts = (
        _term_docs(posting_blocks, must, should, must_not, n_term_buckets)
        .groupBy("w", "doc_id")
        .agg(*(F.sum(c).alias(c) for c in ("_nm", "n_should_hit", "_nn")))
    )
    return counts.filter(_passes(counts, len(must), min_should_match)).select(
        "w", "doc_id", "n_should_hit"
    )


def _passes(counts, n_must: int, min_should_match: int):
    """The boolean algebra over a Spark or pandas frame of per-doc clause
    term counts: every must term, enough should terms, no must_not term."""
    return (
        (counts["_nm"] == n_must)
        & (counts["n_should_hit"] >= min_should_match)
        & (counts["_nn"] == 0)
    )


def boolean_match_local(
    blocks: pd.DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    min_should_match: int | None = None,
) -> np.ndarray:
    """In-process twin of :func:`boolean_match_stored`'s algebra, same
    semantics and errors: the clause terms' rows of ``blocks``, (term,
    docnos_delta_varint) block rows, are tagged by :func:`clause_doc_rows`
    and summed per doc in one groupby. Returns the qualifying doc ids,
    sorted int64."""
    must, should, must_not, min_should_match = boolean_clauses(
        must, should, must_not, min_should_match
    )
    blocks = blocks[blocks["term"].isin([*must, *should, *must_not])]
    counts = clause_doc_rows(blocks, must, should, must_not).groupby("doc_id").sum()
    keep = _passes(counts, len(must), min_should_match).to_numpy()
    return counts.index[keep].to_numpy(np.int64)


def docno_bitmap(ids: np.ndarray, n_docs: int) -> np.ndarray:
    """A docno set as its bitmap: little-endian packed bits over docno,
    ``ceil(n_docs/8)`` uint8 bytes, bit ``d % 8`` of byte ``d // 8`` set
    iff ``d`` is in ``ids`` (wand.scored_postings reads it)."""
    mask = np.zeros(n_docs, dtype=bool)
    mask[ids] = True
    return np.packbits(mask, bitorder="little")


def filtered_top_k(
    spark,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    k: int = 10,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    min_should_match: int | None = None,
    tokenizer: str = "simple",
    n_term_buckets: int | None = None,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Ranked retrieval under a boolean filter — Elasticsearch's
    ``bool{filter, must_not} + match`` shape, the most common production
    query form the reference's pure-similarity path cannot express.

    Semantics: the filter restricts the CANDIDATE SET BEFORE ranking (a doc
    failing the filter can never appear, and the returned top-k are the k
    best among qualifying docs — not a post-filter of an unfiltered top-k,
    which can return fewer than k). Scores are unchanged by the filter
    (ES filter-context: no score contribution). The k cut ranks by the
    engine-wide x10000-quantized score with doc_id-asc ties (ADVICE r6 —
    matches the oracle's tie discipline exactly; the raw score column is
    still returned).

    Plan: one filter route. The boolean doc set is one pass
    (:func:`boolean_match_stored`'s algebra: one scan of all clause terms,
    one exchange on the bitmap word, one per-doc aggregation of clause
    counts). The word partitioning it leaves is reused by one Catalyst
    aggregate to 64-bit words, ``bit_or(1 << (docno & 63))`` grouped by
    ``docno >> 6``, with no further exchange, and the words are collected:
    at most ``ceil(n_docs/64)`` rows, whatever the match count; the filter
    costs two jobs. The driver lays them out as the docno bitmap
    (:func:`docno_bitmap`; on a little-endian word array bit 63 of word w is
    bit 7 of byte 8w+7), broadcasts it, and the decode workers drop postings
    outside it (wand.scored_postings), so a selective filter cuts decode
    emission, shuffle and aggregation volume. The scoring leg is the
    measured brute/WAND dispatcher (wand.dispatch_top_k): heavy-term batches
    get WAND's block pruning with θ seeded from FILTERED partial scores —
    ES ``bool{filter}+match`` prunes in the filter context the same way.

    Returns (query_id, doc_id, score, rank).
    """
    from goldenretriever_spark.query.wand import dispatch_top_k

    if stats is None:
        row = corpus_stats.collect()[0]
        stats = (int(row["n_docs"]), float(row["avgdl"]))
    n_docs = stats[0]
    words = (
        _matches(
            posting_blocks, must, should, must_not, min_should_match, n_term_buckets
        )
        .groupBy("w")
        .agg(F.bit_or(F.expr("shiftleft(1L, int(doc_id & 63))")).alias("bits"))
        .toArrow()
    )
    packed = np.zeros(-(-n_docs // 64), dtype="<u8")
    packed[words["w"].to_numpy()] = words["bits"].to_numpy().view(np.uint64)
    bitmap = packed.view(np.uint8)[: -(-n_docs // 8)]
    # quantize=True: both dispatcher routes cut at k by the quantized tie
    # discipline (WAND with a one-quantum θ slack), so the rows are exactly
    # the oracle's even where quantized ties near the boundary are dense
    ranked, _plan = dispatch_top_k(
        spark,
        posting_blocks,
        corpus_stats,
        queries,
        k=k,
        tokenizer=tokenizer,
        n_term_buckets=n_term_buckets,
        stats=stats,
        allowed_bc=spark.sparkContext.broadcast(bitmap),
        quantize=True,
    )
    return ranked
