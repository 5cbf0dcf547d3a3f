"""Phrase search over a positional index — exact n-gram occurrence matching.

A full-text engine needs more than bag-of-words BM25: "phrase queries" must
match documents where the query terms appear CONSECUTIVELY, in order.  The
reference engine has no phrase operator (its `make_query` is embedding /
bag-of-words only, /root/reference/src/models.py:114-149); this is a
beyond-parity capability standard in every production full-text index
(Lucene positional postings).

One implementation per operator plus a scan twin (cross-checked in
tests/test_phrase.py and tests/test_positions.py):

1. **Stored path** (`phrase_match_stored` / `proximity_match_stored`) —
   positional postings ``(term, doc_id, pos)`` are BUILT ONCE and persisted
   term-bucketed next to the blocked BM25 postings (index/positions.py —
   positions delta-varint packed with the same ``index/codec.py`` grouped
   codec). The term-bucket partition pruning + term filter replace the
   corpus scan entirely. Every token of a phrase term votes for the
   phrase start ``pos - offset``; a start that collects all n offsets is a
   real occurrence:

       blocks of the phrase terms             -- touches ONLY the phrase
       → (doc_id, start = pos - offset)           terms' blocks, never
       → groupBy(doc_id, start): count == n       the full corpus
       → groupBy(doc_id): count(*) = occurrences

   Skew: a phrase containing a scorching-hot term ("def") only decodes that
   ONE term's blocks — the per-(doc,start) grouping key is high-cardinality,
   so no reducer hot-spots. Duplicate phrase terms ("a b a") vote once per
   offset, so n votes still means n distinct offsets.

2. **Scan path** (`phrase_match_scan` / `proximity_match_scan`) —
   brute-force twin over the raw text, a single Catalyst array expression
   (``filter(sequence(..), s -> slice(tokens, s, n) == phrase)``). Used as
   the cross-check and for one-off queries where no index exists.

Both count OVERLAPPING occurrences (token-level: "a a a a" contains "a a"
three times), matching the DuckDB oracle's exact sliding-window count. The
stored path's ``doc_id`` is the blocks' docno (index format v2); callers map
results back with storage.to_doc_ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from goldenretriever_spark.tokenizer import simple_tokens


def check_phrases(phrases: list[tuple[int, list[str]]]) -> None:
    """The phrase entry points' one ValueError: no phrases, or an empty one."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    if any(not ph for _, ph in phrases):
        raise ValueError("phrase must be non-empty")


def phrase_match_stored_batch(
    positional_blocks: DataFrame,
    phrases: list[tuple[int, list[str]]],
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Batched :func:`phrase_match_stored`: one bucket-prune over the UNION
    of the batch's terms, one fused decode+vote, one exchange — P phrases,
    one scan.

    r7 plan (guide §2.4/§4.2): the worker emits start-votes directly
    (positions.decode_phrase_votes — no term strings back to the JVM, no
    broadcast join), then ONE ``repartition(query_id, doc_id)`` feeds BOTH
    vote aggregations exchange-free: hash-partitioning on (query_id,
    doc_id) satisfies the clustered distribution of the (query_id, doc_id,
    start) grouping AND of the final (query_id, doc_id) rollup, so the r6
    plan's two agg exchanges collapse into one. The n_need check is a
    literal map lookup instead of a broadcast join. Row multiset into the
    first agg is identical to the join-based plan (identity pytest)."""
    from goldenretriever_spark.index.positions import decode_phrase_votes
    from goldenretriever_spark.index.storage import prune_blocks_for_terms

    check_phrases(phrases)
    all_terms = sorted({t for _, ph in phrases for t in ph})
    pruned = prune_blocks_for_terms(positional_blocks, all_terms, n_term_buckets)
    votes = decode_phrase_votes(pruned, phrases)
    need_map = F.create_map(
        *[lit for qid, ph in phrases for lit in (F.lit(qid), F.lit(len(ph)))]
    )
    return (
        votes.repartition("query_id", "doc_id")
        .groupBy("query_id", "doc_id", "start")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == need_map[F.col("query_id")])
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("occurrences"))
    )


def phrase_match_local(
    blocks: pd.DataFrame, phrases: list[tuple[int, list[str]]]
) -> pd.DataFrame:
    """In-process host of :func:`phrase_match_stored_batch`: ``blocks`` are
    the positional block rows (positions.DECODE_COLS) of the phrases'
    terms, already bucket-pruned; the votes come from the workers' own
    positions.phrase_votes. The two vote aggregations' pandas twin: a
    (query_id, doc_id, start) that collects all n offsets of its query's
    phrase is one occurrence. Returns (query_id, doc_id, occurrences)."""
    from goldenretriever_spark.index.positions import phrase_offsets, phrase_votes

    check_phrases(phrases)
    votes = phrase_votes(blocks, phrase_offsets(phrases))
    if votes is None:
        return pd.DataFrame(
            {c: np.empty(0, np.int64) for c in ("query_id", "doc_id", "occurrences")}
        )
    need = {qid: len(ph) for qid, ph in phrases}
    hits = votes.groupby(["query_id", "doc_id", "start"], sort=False).size()
    n_need = hits.index.get_level_values("query_id").map(need).to_numpy()
    hits = hits[hits.to_numpy() == n_need]
    occ = hits.groupby(level=["query_id", "doc_id"], sort=False).size()
    return occ.rename("occurrences").reset_index().astype(np.int64)


def phrase_match_stored(
    positional_blocks: DataFrame,
    phrase: list[str],
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Phrase match served from PERSISTED positional blocks
    (index/positions.py) — the 100 TB path: the term-bucket partition
    pruning + term filter touch only the phrase terms' posting blocks; the
    corpus is never scanned or re-tokenized. Same ``(doc_id, occurrences)``
    contract as :func:`phrase_match_scan` (identity-tested in
    tests/test_positions.py). Thin wrapper over the batched fused
    decode+vote path (see :func:`phrase_match_stored_batch`)."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    return phrase_match_stored_batch(
        positional_blocks, [(0, phrase)], n_term_buckets=n_term_buckets
    ).select("doc_id", "occurrences")


def _occurrences_expr(tk: Column, phrase: list[str]) -> Column:
    """Occurrence count of ``phrase`` in token array ``tk`` as a single
    Catalyst expression (overlapping, exact)."""
    n = len(phrase)
    ph = F.array(*[F.lit(t) for t in phrase])
    # sequence(1, m) DESCENDS when m < 1 — guard short docs explicitly.
    starts = F.when(
        F.size(tk) >= n,
        F.filter(
            F.sequence(F.lit(1), F.size(tk) - n + 1),
            lambda s: F.slice(tk, s, n) == ph,
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.size(starts).cast("long")


def phrase_match_scan(
    docs: DataFrame, phrase: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scan-path twin: same ``(doc_id, occurrences)`` contract, computed as
    one array expression over the raw text (no index)."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    tk = simple_tokens(F.col(text_col))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            _occurrences_expr(tk, phrase).alias("occurrences"),
        )
        .filter(F.col("occurrences") > 0)
    )


def proximity_match_stored(
    positional_blocks: DataFrame,
    terms: list[str],
    window: int,
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Proximity match served from PERSISTED positional blocks — same
    bucket-pruned no-corpus-scan shape as :func:`phrase_match_stored`, same
    ``(doc_id, n_windows)`` contract as :func:`proximity_match_scan`
    (identity pytest-locked).

    Unordered proximity search: ``(doc_id, n_windows)`` for docs where ALL
    distinct ``terms`` co-occur within some ``window`` consecutive tokens
    (Lucene sloppy-phrase style, order-free). ``n_windows`` counts the
    distinct window START positions that satisfy the conjunction — a
    density signal usable as a ranking boost. Each positional posting of a
    query term votes for the ``window`` starts whose span covers it (one
    ``explode(sequence(...))`` — cost is W × the QUERY terms' postings
    only); a start collecting all n distinct terms is a hit. Window spans
    truncate at the document end, matching the scan twin and the DuckDB
    oracle exactly.

    r7 (guide §4.2): the decode emits int term CODES instead of strings
    (positions.decode_position_codes), and the redundant broadcast term
    join is gone — the pruned scan already contains only the query terms.
    The exchange shape deliberately stays the r6 one (map-side-combinable
    agg exchanges): a single up-front repartition(doc_id) feeding the
    post-explode votes was tried and REVERTED — the W× window explode then
    lands AFTER the only exchange, so each of the P tasks must aggregate
    |positions|×W/P keys with no prior map-side reduction, which OOM'd at
    the 3.84M-doc scale point on hot terms (Java heap, 32 tasks × ~25M
    (doc, start) keys). Partial aggregation BEFORE each exchange is what
    bounds per-task memory here (guide §2.3 'aggregate before you
    shuffle')."""
    from goldenretriever_spark.index.positions import decode_position_codes
    from goldenretriever_spark.index.storage import prune_blocks_for_terms

    tset = sorted(set(terms))
    if not tset:
        raise ValueError("terms must be non-empty")
    if window < 1:
        raise ValueError("window must be >= 1")
    n = len(tset)
    pruned = prune_blocks_for_terms(positional_blocks, tset, n_term_buckets)
    hits = decode_position_codes(pruned, tset)
    if n > 1:
        # Intersection-first pruning: the window explode multiplies every
        # posting by W, so feeding it a scorching-hot term's full posting
        # list is the scale bottleneck (measured 6x slower than the scan
        # twin at 100k docs on {def,hash,user} without it). A doc lacking
        # ANY query term cannot produce a window — shrink to docs containing
        # ALL n terms first, one map-side-combinable shuffle.
        cand = (
            hits.groupBy("doc_id")
            .agg(F.count_distinct("code").alias("_nt"))
            .filter(F.col("_nt") == n)
            .select("doc_id")
        )
        hits = hits.join(cand, "doc_id", "left_semi")
    starts = hits.select(
        "doc_id",
        "code",
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - (window - 1), F.lit(0)), F.col("pos")
            )
        ).alias("start"),
    )
    return (
        starts.groupBy("doc_id", "start")
        .agg(F.count_distinct("code").alias("n_hit"))
        .filter(F.col("n_hit") == n)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_windows"))
    )


def proximity_match_scan(
    docs: DataFrame,
    terms: list[str],
    window: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scan-path twin of :func:`proximity_match_stored`: one array expression, no
    index — every start ``s`` (1-based) whose (end-truncated) ``window``-token
    slice contains all distinct terms."""
    tset = sorted(set(terms))
    if not tset:
        raise ValueError("terms must be non-empty")
    if window < 1:
        raise ValueError("window must be >= 1")
    tk = simple_tokens(F.col(text_col))
    q = F.array(*[F.lit(t) for t in tset])
    n_win = F.size(
        F.when(
            F.size(tk) > 0,
            F.filter(
                F.sequence(F.lit(1), F.size(tk)),
                lambda s: F.forall(
                    q, lambda t: F.array_contains(F.slice(tk, s, window), t)
                ),
            ),
        ).otherwise(F.array().cast("array<int>"))
    ).cast("long")
    return (
        docs.select(F.col(id_col).alias("doc_id"), n_win.alias("n_windows"))
        .filter(F.col("n_windows") > 0)
    )


def phrase_ranked_topk_stored(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    positional_blocks: DataFrame,
    phrases: list[tuple[int, list[str]]],
    k: int = 10,
    boost: float = 1.0,
    n_term_buckets: int | None = None,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Phrase-aware ranked retrieval ENTIRELY from a persisted index — the
    positional index's retrieval consumer (Lucene sloppy-phrase scoring
    shape, not just a boolean match); StoredIndex.phrase_ranked serves it.

    Per query: BM25 bag-of-words score over the phrase's terms, decoded from
    the compressed posting blocks (query/wand.stored_score_candidates:
    bucket-pruned, no raw postings table anywhere), plus a saturating
    exact-phrase boost ``boost * ln(1 + occurrences)`` from ONE batched vote
    over the union of the batch's positional buckets
    (:func:`phrase_match_stored_batch` — P phrases never pay P scans). The
    two meet in a LEFT join keyed (query_id, doc_id): every phrase-matching
    doc contains the phrase's terms, so the scored side already covers all
    matches. Pure-Python rank identity: tests/test_positions.py.

    Returns ``(query_id, doc_id, score_q, rank)`` top-k per query, ``doc_id``
    the blocks' docno, score quantized x10000 with the engine-wide (score
    desc, doc_id asc) tie discipline."""
    from goldenretriever_spark.query.wand import rank_top_k, stored_score_candidates

    if not phrases:
        raise ValueError("phrases must be non-empty")
    scored = stored_score_candidates(
        spark,
        posting_blocks,
        corpus_stats,
        [(qid, " ".join(ph)) for qid, ph in phrases],
        tokenizer="simple",
        n_term_buckets=n_term_buckets,
        stats=stats,
    )
    occ = phrase_match_stored_batch(
        positional_blocks, phrases, n_term_buckets=n_term_buckets
    )
    boosted = scored.join(occ, ["query_id", "doc_id"], "left").withColumn(
        "score",
        F.col("score")
        + F.lit(float(boost))
        * F.log(F.lit(1) + F.coalesce(F.col("occurrences"), F.lit(0))),
    )
    return rank_top_k(boosted, k, quantize=True).select(
        "query_id",
        "doc_id",
        F.round(F.col("score") * 10000).cast("long").alias("score_q"),
        "rank",
    )
