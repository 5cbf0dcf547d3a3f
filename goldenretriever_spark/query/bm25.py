"""Brute-force BM25 top-k over the logical index — pure column arithmetic.

Replaces the reference's cosine-similarity ranking path
(/root/reference/src/models.py:114-149: encode query -> cosine vs all docs ->
np.flip(argsort) -> slice top_k) with BM25 over postings. The whole scoring
expression is Catalyst Column math (log/mul/div on joined integer stats), so
it stays inside whole-stage codegen — no UDF in the scoring hot path.

Plan shape (batch of queries):
    query_terms (tiny)  ──broadcast──┐
    postings  ──join(term)───────────┴─► matched(query_id, term, doc_id, tf)
    matched ──join(term_stats bcast)──► + df
    matched ──join(doc_stats)────────► + doc_len          (big-big, on doc_id)
    ──► per-row contribution = idf(df) * tfnorm(tf, dl)    [single expression]
    ──groupBy(query_id, doc_id).sum(contribution)──► scores
    ──Window(query_id, desc(score), asc(doc_id)) row_number ≤ k──► top-k
    ──join back to documents for materialization (reference models.py:137-144)

Rank-identity discipline: the float contribution is computed once per
(query,term,doc) row from integers, then summed. Summation order across terms
can differ from the oracle; scores match to ~1e-12 and ranks match exactly
because per-term contributions are identical doubles (tests assert both).
Tie-break: asc(doc_id) everywhere (SURVEY §2.5 W1).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from goldenretriever_spark.index.build import B, K1, InvertedIndex
from goldenretriever_spark.session import local_frame

def query_tokens(queries, tokenizer: str = "simple") -> list[tuple[int, list[str]]]:
    """list[(query_id, query_str)] -> [(query_id, unique terms in first-seen
    order)], tokenized ON THE DRIVER with the oracle twin of the engine
    tokenizer (equality-tested per input class, tests/test_round2.py): a
    query batch is tiny, and tokenizing it in Spark costs a shuffle and two
    stages inside every query call (r7, guide §2.4). Any other batch type
    raises ``TypeError``."""
    from goldenretriever_spark.oracle import tokenize

    if not isinstance(queries, (list, tuple)):
        raise TypeError(
            "queries must be a list of (query_id, query_str) pairs, not "
            f"{type(queries).__name__}"
        )
    return [
        (int(qid), list(dict.fromkeys(tokenize(qstr, tokenizer))))
        for qid, qstr in queries
    ]


def terms_frame(spark: SparkSession, qtoks: list[tuple[int, list[str]]]) -> DataFrame:
    """:func:`query_tokens` output -> the (query_id, term) frame, an Arrow
    local relation (session.local_frame), so broadcasting it runs no Spark
    job."""
    rows = [(qid, t) for qid, ts in qtoks for t in ts]
    return local_frame(
        spark,
        {"query_id": [q for q, _ in rows], "term": [t for _, t in rows]},
        "query_id long, term string",
    )


def query_terms_df(spark: SparkSession, queries, tokenizer: str = "simple") -> DataFrame:
    """list[(query_id, query_str)] -> (query_id, term) with unique terms per
    query (BM25 dedups query terms): :func:`query_tokens` then
    :func:`terms_frame`."""
    return terms_frame(spark, query_tokens(queries, tokenizer))


def idf_col(n_docs: Column, df: Column) -> Column:
    return F.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def idf(n_docs: float, df: np.ndarray) -> np.ndarray:
    """:func:`idf_col`'s formula over a float64 df array (in-process route)."""
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tfnorm_col(tf: Column, doc_len: Column, avgdl: Column) -> Column:
    return tf / (tf + K1 * (1.0 - B + B * doc_len / avgdl))


def explain_contributions(index: InvertedIndex, terms: DataFrame) -> DataFrame:
    """Per-term BM25 score attribution (word importance, SURVEY F13).

    The reference explains a prediction by erasing each word and re-scoring
    (app/streamlit/importance.py:78-139 — one model call per word). BM25 is
    additive over query terms, so the per-term contribution IS the erasure
    delta and falls out of the scoring join for free:
    (query_id, doc_id, term, contribution) with
    score(q,d) = Σ_term contribution.

    Plan shape (r7, guide §3.1/§2.3): all the small-side work — term_stats
    lookup, corpus_stats cross, idf — happens on the TINY (query_id, term)
    frame BEFORE it is broadcast, so the 10^6..10^12-row postings scan
    passes through exactly ONE BroadcastHashJoin instead of three join
    operators (two BHJ probes + a BroadcastNestedLoopJoin per posting row
    in the r6 plan). idf is the same Catalyst expression over the same
    doubles, just evaluated on the broadcast side — contributions are
    bit-identical (rank-identity suite + oracle hash unchanged).
    """
    stats = index.term_stats.join(F.broadcast(terms.select("term").distinct()), "term")
    enriched = (
        terms.join(F.broadcast(stats), "term")
        .crossJoin(F.broadcast(index.corpus_stats))
        .select(
            "query_id",
            "term",
            idf_col(F.col("n_docs").cast("double"), F.col("df").cast("double")).alias(
                "idf"
            ),
            "avgdl",
        )
    )
    matched = index.postings.join(F.broadcast(enriched), "term")
    contribution = F.col("idf") * tfnorm_col(
        F.col("tf").cast("double"), F.col("doc_len").cast("double"), F.col("avgdl")
    )
    return matched.select(
        "query_id", "doc_id", "term", contribution.alias("contribution")
    )


def score_candidates(index: InvertedIndex, terms: DataFrame) -> DataFrame:
    """(query_id, term) x index -> (query_id, doc_id, score).

    The query-terms side is tiny -> broadcast; term_stats for the matched
    terms is tiny -> broadcast; postings carry doc_len, so no join against
    doc_stats is ever needed — the only wide table in the plan is the
    postings scan itself (term-bucket-pruned when reading a stored index).
    """
    return (
        explain_contributions(index, terms)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contribution").alias("score"))
    )


def top_k(index: InvertedIndex, terms: DataFrame, k: int = 10) -> DataFrame:
    """Distributed top-k per query: Window rank + filter.

    For a single query this collapses to TakeOrderedAndProject via
    orderBy().limit(k); the window form handles query batches in one pass.
    """
    from goldenretriever_spark.query.wand import rank_top_k

    return rank_top_k(score_candidates(index, terms), k)


def search(
    spark: SparkSession,
    index: InvertedIndex,
    queries,
    k: int = 10,
    tokenizer: str = "simple",
    documents: DataFrame | None = None,
) -> DataFrame:
    """End-to-end: queries -> ranked top-k; optionally materialize content by
    joining back to documents (reference models.py:137-144 .iloc analog)."""
    terms = query_terms_df(spark, queries, tokenizer)
    ranked = top_k(index, terms, k)
    if documents is not None:
        ranked = ranked.join(documents, "doc_id", "left")
    return ranked
