"""Block-max pruned top-k over the compressed index (lossless).

Spark-native adaptation of block-max WAND (Ding & Suel, SIGIR 2011). The
classic algorithm walks per-term cursors with a shared heap — inherently
sequential. The set-oriented equivalent here keeps the pruning math but
expresses it as two DataFrame phases, which is what distributes:

Phase 1 (θ seeding): per query, decode only the highest-upper-bound blocks
(cumulative n ≥ WAND_SEED_FACTOR*k docs), score them exactly for the decoded terms
only. Partial BM25 sums are LOWER bounds of true scores, so the kth best
partial score is a valid pruning threshold θ.

Phase 2 (pruning + exact scoring): block b of term t survives iff
    ub(b) + Σ_{t'≠t} max_ub(t') ≥ θ_query .
Any doc whose true score ≥ θ has ALL of its blocks surviving (each block's
bound dominates the doc's score), so it is scored exactly in phase 2; docs
with pruned blocks can only be under-scored, which can only rank them lower —
the reported top-k is therefore identical to brute force (tested for every
query in tests/test_wand.py).

Everything is DataFrame ops: block metadata joins are broadcast (query side
is tiny), decode is a vectorized mapInPandas over the surviving block rows,
and the storage layout (partitionBy term_bucket) turns the initial block
lookup into a partition-pruned parquet scan (storage.prune_blocks_for_terms).
Every entry point resolves its list batch once (:func:`_resolve_batch`).
On a format-v2 index the blocks hold docnos, so the ``doc_id`` these
operators emit is a docno (same order, same ties); callers map result rows
back with storage.to_doc_ids.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goldenretriever_spark.index.build import B, K1
from goldenretriever_spark.index.codec import decode_doc_ids, decode_varints
from goldenretriever_spark.index.storage import prune_blocks_for_terms
from goldenretriever_spark.query.bm25 import idf, idf_col, query_tokens, terms_frame
from goldenretriever_spark.session import local_frame

# Phase 1 decodes the highest-bound blocks until they hold at least
# WAND_SEED_FACTOR * k docs per query; read at call time.
WAND_SEED_FACTOR = 4


def scored_postings(
    pdf: pd.DataFrame, avgdl: float, allowed: np.ndarray | None = None
) -> pd.DataFrame | None:
    """One batch of (query_id, idf, docnos_delta_varint, tfs_varint,
    dls_varint) block rows -> (query_id, doc_id, c), the per-posting BM25
    contributions, or None when nothing survives. The body of both hosts:
    :func:`_decode_scored`'s workers and the in-process
    :func:`local_top_k`.

    Grouped decode (codec batch decoders): ONE vectorized varint pass per
    column per batch — the unpruned scan decodes ~10^6 block rows, where
    per-block call overhead dominated. ``allowed``: optional docno bitmap
    of a boolean filter (query/boolean.docno_bitmap: uint8, bit ``d % 8``
    of byte ``d // 8`` set iff docno ``d`` passes); postings whose docno
    is unset are dropped before scoring."""
    ids, counts = decode_doc_ids(pdf["docnos_delta_varint"])
    if ids.size == 0:
        return None
    tfs = decode_varints(pdf["tfs_varint"])
    dls = decode_varints(pdf["dls_varint"])
    idfs = np.repeat(pdf["idf"].to_numpy(np.float64), counts)
    qids = np.repeat(pdf["query_id"].to_numpy(np.int64), counts)
    if allowed is not None:
        keep = ((allowed[ids >> 3] >> (ids & 7)) & 1).astype(bool)
        if not keep.any():
            return None
        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        idfs, qids = idfs[keep], qids[keep]
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    c = idfs * (tf / (tf + K1 * (1.0 - B + B * dl / avgdl)))
    return pd.DataFrame({"query_id": qids, "doc_id": ids, "c": c})


def _decode_scored(matched: DataFrame, avgdl: float, allowed_bc=None) -> DataFrame:
    """(query_id, term, idf, blobs) -> (query_id, doc_id, score) with exact
    BM25 sums. Blocks are self-contained (dls stored varint alongside tfs),
    so scoring needs no join back to doc_stats.

    r7 shape (guide §4.2): the per-posting contribution idf * tf/(tf +
    k1*(1-b+b*dl/avgdl)) is computed INSIDE the decode worker with whole-
    array numpy — the same IEEE-754 operation sequence as the previous
    Catalyst expression, so each contribution is bit-identical — and only
    three narrow columns (query_id, doc_id, c) cross Arrow back to the JVM
    instead of six (term strings, idf, tf, doc_len dropped). The JVM side
    is just the map-side-combinable sum. Summation order across terms was
    already partition-arbitrary before; the engine-wide x10000 quantization
    absorbs it (rank-identity suite + oracle hashes unchanged). The worker
    body is :func:`scored_postings`.

    ``allowed_bc``: optional broadcast of a boolean filter's docno bitmap
    (query/boolean.filtered_top_k). Decoded postings outside the set are
    dropped IN the worker — a selective filter cuts the Arrow return, the
    shuffle and the aggregation to the qualifying docs instead of only
    post-score rows (exact membership, so scores are unchanged)."""

    def unpack(batches):
        allowed = allowed_bc.value if allowed_bc is not None else None
        for pdf in batches:
            out = scored_postings(pdf, avgdl, allowed)
            if out is not None:
                yield out

    cols = ["query_id", "idf", "docnos_delta_varint", "tfs_varint", "dls_varint"]
    decoded = matched.select(*cols).mapInPandas(
        unpack, schema="query_id long, doc_id long, c double"
    )
    return decoded.groupBy("query_id", "doc_id").agg(F.sum("c").alias("score"))


def local_top_k(
    blocks: pd.DataFrame,
    qtoks: list[tuple[int, list[str]]],
    stats: tuple[int, float],
    k: int,
    allowed: np.ndarray | None = None,
    quantize: bool = False,
) -> pa.Table:
    """The in-process host of the brute-stored top-k: ``blocks`` (term, df
    and the three blobs, already bucket-pruned to the batch's terms) joined
    to each query's unique terms, idf as :func:`idf_col`, decode and
    contributions by :func:`scored_postings`, sums per (query, doc), cut by
    :func:`rank_top_k_local`. ``allowed``: the filter's docno bitmap, as in
    :func:`scored_postings`."""
    n_docs, avgdl = stats
    qterms = pd.DataFrame(
        [(qid, t) for qid, ts in qtoks for t in ts], columns=["query_id", "term"]
    ).astype({"query_id": np.int64, "term": object})
    matched = blocks.merge(qterms, on="term")
    matched["idf"] = idf(float(n_docs), matched["df"].to_numpy(np.float64))
    scored = scored_postings(matched, avgdl, allowed)
    if scored is None:
        q = d = np.empty(0, np.int64)
        s = np.empty(0, np.float64)
    else:
        sums = scored.groupby(["query_id", "doc_id"], sort=False)["c"].sum()
        q = sums.index.get_level_values(0).to_numpy(np.int64)
        d = sums.index.get_level_values(1).to_numpy(np.int64)
        s = sums.to_numpy(np.float64)
    return rank_top_k_local(q, d, s, k, quantize)


class _Batch(NamedTuple):
    pruned: DataFrame  # the blocks, pruned to the batch's buckets and terms
    qterms: DataFrame  # (query_id, term), an Arrow local relation
    toksets: dict[int, set[str]]  # unique terms per query, driver-side
    stats: tuple[int, float]  # (n_docs, avgdl)


def _resolve_batch(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    tokenizer: str,
    n_term_buckets: int | None,
    stats: tuple[int, float] | None,
) -> _Batch:
    """Resolve one stored top-k call's query batch, once.

    ``queries`` is a list of (query_id, query_str) (anything else raises
    ``TypeError``); it is tokenized on the driver (bm25.query_tokens, zero
    Spark jobs), its terms become the
    local-relation ``qterms``, and the blocks are pruned to the batch's
    term buckets and terms (storage.prune_blocks_for_terms). ``stats``
    (n_docs, avgdl) is read from ``corpus_stats`` only when not given — a
    StoredIndex handle memoizes it.

    ``n_term_buckets`` must be the BUILD-time bucket count — pass
    ``StoredIndex(spark, path).n_term_buckets`` (persisted in the index's
    ``_meta``). None skips partition pruning: a wrong guess would silently
    drop buckets and return incomplete top-k."""
    qtoks = query_tokens(queries, tokenizer)
    toksets = {qid: set(ts) for qid, ts in qtoks}
    terms = sorted({t for ts in toksets.values() for t in ts})
    pruned = prune_blocks_for_terms(posting_blocks, terms, n_term_buckets)
    if stats is None:
        row = corpus_stats.collect()[0]
        stats = (int(row["n_docs"]), float(row["avgdl"]))
    return _Batch(pruned, terms_frame(spark, qtoks), toksets, stats)


def _score(batch: _Batch, allowed_bc=None) -> DataFrame:
    """(query_id, doc_id, score) over every candidate of a resolved batch."""
    n_docs, avgdl = batch.stats
    matched = batch.pruned.join(F.broadcast(batch.qterms), "term").withColumn(
        "idf", idf_col(F.lit(float(n_docs)), F.col("df").cast("double"))
    )
    return _decode_scored(matched, avgdl, allowed_bc=allowed_bc)


def stored_score_candidates(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    tokenizer: str = "simple",
    n_term_buckets: int | None = None,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) over EVERY candidate doc from the stored
    compressed blocks — the stored-path twin of bm25.score_candidates:
    bucket-prune, decode the query terms' blocks, exact BM25 sums, no rank
    cut. Consumers that need the full candidate scores (phrase-boosted
    ranking, explain-style attribution) build on this; brute_top_k_stored
    is exactly this + :func:`rank_top_k`. Arguments: see
    :func:`_resolve_batch`."""
    batch = _resolve_batch(
        spark, posting_blocks, corpus_stats, queries, tokenizer, n_term_buckets, stats
    )
    return _score(batch)


def brute_top_k_stored(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    k: int = 10,
    tokenizer: str = "simple",
    n_term_buckets: int | None = None,
    stats: tuple[int, float] | None = None,
    quantize: bool = False,
) -> DataFrame:
    """Exact top-k over the STORED index with NO pruning: decode every block
    of every query term, score, rank (:func:`rank_top_k`; ``quantize`` as
    there). This is the baseline
    wand_top_k must beat — same storage, same decode path, identical
    results; the only difference is the θ-pruning machinery
    (tools/wand_crossover.py measures where pruning starts paying for
    itself)."""
    batch = _resolve_batch(
        spark, posting_blocks, corpus_stats, queries, tokenizer, n_term_buckets, stats
    )
    return rank_top_k(_score(batch), k, quantize)


def rank_top_k(scores: DataFrame, k: int, quantize: bool = False) -> DataFrame:
    """The engine's one rank tail: (query_id, doc_id, score) -> the k best
    rows per query as (query_id, doc_id, score, rank), ties broken by
    doc_id ascending. ``quantize=True`` orders by the x10000-quantized score
    as a long (the oracle tie discipline) instead of the raw score."""
    key = F.round(F.col("score") * 10000).cast("long") if quantize else F.col("score")
    w = Window.partitionBy("query_id").orderBy(key.desc(), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """Spark ``round(x, 0)`` on doubles (HALF_UP on the exact binary value)
    as int64: floor and fraction are exact, so no ``x + 0.5`` rounding."""
    a = np.abs(x)
    f = np.floor(a)
    return (np.sign(x) * (f + (a - f >= 0.5))).astype(np.int64)


def rank_top_k_local(
    query_id: np.ndarray,
    doc_id: np.ndarray,
    score: np.ndarray,
    k: int,
    quantize: bool = False,
) -> pa.Table:
    """Numpy twin of :func:`rank_top_k`'s cut over (query, doc, score)
    arrays: per query, score desc (``quantize``: the x10000 HALF_UP
    quantized score) then doc_id asc, the first k, ranks from 1. Returns
    (query_id, doc_id, score, rank int32)."""
    key = _round_half_up(score * 10000) if quantize else score
    order = np.lexsort((doc_id, -key, query_id))
    q = query_id[order]
    first = np.ones(q.size, dtype=bool)
    first[1:] = q[1:] != q[:-1]
    idx = np.arange(q.size)
    rank = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    keep = order[rank <= k]
    return pa.table(
        {
            "query_id": query_id[keep],
            "doc_id": doc_id[keep],
            "score": score[keep],
            "rank": rank[rank <= k].astype(np.int32),
        }
    )


# Measured brute-stored vs WAND crossover on the bench host, in estimated
# DECODE ROWS PER QUERY (Σ df over the query's terms) — the signal that
# actually tracks pruning payoff, not corpus size alone. Recalibrated on the
# r6 sweep (BENCH/WAND_SWEEP.json, shipped r6 dispatch — VERDICT r5 #5):
#   ~3.8M rows/query  -> WAND 0.87-0.92x (1-term @3.84M docs: brute 41.7s
#                        vs WAND 45.5s; auto routes brute and runs 34.8s)
#   ~6.6M rows/query  -> WAND 1.7-2.3x  (5-term @3.84M docs: brute 139.9s
#                        vs WAND 61.2s; auto routes wand and runs 64.3s)
# The sign flips between those measured points at every k; 4.5M remains the
# midpoint calibration and both routing directions are re-verified on the
# r6 cells. Below the crossover the θ-seeding pass, bound joins and
# survivor blob join-back cost more than the skipped decodes save; k shifts
# the edge only mildly (k=100: 0.87x vs 1.74x — same side).
WAND_CROSSOVER_DECODE_ROWS = 4_500_000

# Batch routing signal: the SHARE of estimated decode volume sitting in
# heavy queries (est >= crossover). From the measured cells at 3.84 M docs,
# WAND gains ~45% of runtime on heavy volume (1.6-1.8x cells) and costs
# ~10% on light volume (0.87-0.97x cells), so whole-batch WAND pays off
# when heavy volume exceeds ~0.18 of the batch: s*0.45 - (1-s)*0.10 > 0.
# The batch MEAN was the r4 signal and misroutes skewed batches — a 25/25
# one-term/five-term mix has mean 3.9 M (< crossover -> brute, 87.7 s)
# while forced WAND runs 50.0 s because the heavy half dominates runtime
# (BENCH/WAND_MIXED.json).
WAND_HEAVY_SHARE_MIN = 0.2


def dispatch_top_k(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    k: int = 10,
    tokenizer: str = "simple",
    n_term_buckets: int | None = None,
    stats: tuple[int, float] | None = None,
    allowed_bc=None,
    term_df_cache: dict | None = None,
    quantize: bool = False,
) -> tuple[DataFrame, dict]:
    """Top-k over the stored index with brute-stored vs WAND auto-dispatch.

    ``allowed_bc``: the broadcast docno bitmap of a boolean filter
    (query/boolean.filtered_top_k, the one caller that passes it; see
    :func:`_decode_scored`). It threads through whichever path is routed,
    so a filtered query reuses the measured brute/WAND dispatch unchanged;
    on WAND it restricts both decode phases (see :func:`_wand`).

    Always returns ``(result, plan)`` — the stable-shape API (ADVICE r4).

    Both paths answer from the same compressed blocks and are rank-identical
    (tests/test_wand.py); the ONLY difference is whether the θ-pruning
    machinery pays for itself. The dispatch signal is estimated decode
    volume (Σ df over each query's terms, from the blocks metadata): a
    query is HEAVY when its volume clears the measured
    ``WAND_CROSSOVER_DECODE_ROWS``, and the whole batch routes to WAND
    when the heavy queries hold at least ``WAND_HEAVY_SHARE_MIN`` of the
    batch's total volume (see both constants' notes for the calibration;
    heavy-dominated batches are where pruning pays, and the volume SHARE —
    unlike the r4 batch mean — routes skewed mixes correctly). The plan
    records mean/max volume, per-query above/below counts and the heavy
    share. Both constants are read at call time.

    The WHOLE batch takes one path. Routing each query to its own winning
    path and unioning the two results was measured and removed
    (BENCH/WAND_MIXED.json, 3.84 M docs): even on a designed 50/50
    one-term/five-term batch it ran 0.62-0.67× of EITHER forced single
    path, because one-path batched execution amortizes the blocks scan,
    decode and ranking machinery across the whole batch while a split
    serializes two job sets — and WAND's penalty on the low-volume half
    (0.87-0.97×) is far smaller than that amortization loss.

    Fixed-overhead control on the hot serving row:
    - the batch is resolved once (:func:`_resolve_batch`) and the routed
      path reuses it: one driver-side tokenization, one local-relation
      terms frame read by the probe and the path without a job, one prune.
    - corpus_stats is read only when ``stats`` is not given; StoredIndex
      memoizes the (n_docs, avgdl) tuple per handle.
    - the df probe is skipped when the driver-side upper bound
      (max terms/query × n_docs) already rules WAND out.
    """
    batch = _resolve_batch(
        spark, posting_blocks, corpus_stats, queries, tokenizer, n_term_buckets, stats
    )
    crossover_rows = WAND_CROSSOVER_DECODE_ROWS
    n_docs = batch.stats[0]
    toksets = batch.toksets

    # driver-side bound: Σdf per query ≤ (terms in query) × n_docs; if even
    # the largest query cannot reach the crossover, skip the blocks probe
    max_terms = max((len(ts) for ts in toksets.values()), default=0)
    plan: dict = {
        "crossover_rows": crossover_rows,
        "n_docs": n_docs,
        "max_terms_per_query": int(max_terms),
    }

    if max_terms * n_docs < crossover_rows:
        plan.update({"path": "brute_stored", "probed": False})
        return rank_top_k(_score(batch, allowed_bc), k, quantize), plan

    # the df probe reads only terms not yet in ``term_df_cache`` — the
    # per-handle memo StoredIndex passes (VERDICT r6 #4), so a repeated
    # vocabulary (interactive serve, the hybrid lexical leg) pays the
    # metadata probe once; without one, a dict local to this call. Terms
    # absent from the index are cached as df=0, and a query with no terms
    # has volume 0.
    if term_df_cache is None:
        term_df_cache = {}
    unknown = sorted(
        {t for ts in toksets.values() for t in ts} - term_df_cache.keys()
    )
    if unknown:
        found = {
            r["term"]: int(r["df"])
            for r in batch.pruned.select("term", "df")
            .filter(F.col("term").isin(unknown))
            .groupBy("term")
            .agg(F.first("df").alias("df"))
            .collect()
        }
        for t in unknown:
            term_df_cache[t] = found.get(t, 0)
    est_rows = {
        qid: sum(term_df_cache[t] for t in ts) for qid, ts in toksets.items()
    }
    above = [q for q, v in est_rows.items() if v >= crossover_rows]
    below = [q for q, v in est_rows.items() if v < crossover_rows]
    vals = list(est_rows.values())
    total = sum(vals)
    heavy = sum(est_rows[q] for q in above)
    heavy_share = heavy / total if total else 0.0
    plan.update(
        {
            "probed": True,
            "est_rows_mean": round(total / len(vals)) if vals else 0,
            "est_rows_max": max(vals, default=0),
            "n_above": len(above),
            "n_below": len(below),
            "heavy_volume_share": round(heavy_share, 3),
            "heavy_share_min": WAND_HEAVY_SHARE_MIN,
        }
    )
    if heavy_share >= WAND_HEAVY_SHARE_MIN:
        plan["path"] = "wand"
        return _wand(spark, batch, k, allowed_bc, quantize), plan
    plan["path"] = "brute_stored"
    return rank_top_k(_score(batch, allowed_bc), k, quantize), plan


def wand_top_k(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    k: int = 10,
    tokenizer: str = "simple",
    n_term_buckets: int | None = None,
    stats: tuple[int, float] | None = None,
    quantize: bool = False,
) -> DataFrame:
    """Top-k per query over the compressed index; rank-identical to brute force.

    ``quantize=True`` ranks by the x10000-quantized score (oracle tie
    discipline) AND relaxes the pruning threshold by one quantum (1e-4):
    any doc able to enter the QUANTIZED top-k has raw score within 1e-4 of
    the kth raw score, so θ−1e-4 keeps every such doc's blocks — the
    quantized cut is then exact, not approximately the raw cut. Measured
    necessary at 3.84M docs where quantized ties near the k boundary are
    dense (BENCH/R7_SCALE.json filtered cell).

    ``n_term_buckets`` and ``stats``: see :func:`_resolve_batch`.
    """
    batch = _resolve_batch(
        spark, posting_blocks, corpus_stats, queries, tokenizer, n_term_buckets, stats
    )
    return _wand(spark, batch, k, None, quantize)


def _wand(
    spark: SparkSession, batch: _Batch, k: int, allowed_bc, quantize: bool
) -> DataFrame:
    """:func:`wand_top_k` over a resolved batch.

    ``allowed_bc`` (a filter's docno bitmap, from :func:`dispatch_top_k`)
    restricts BOTH decode phases to the allowed doc set: θ is then the kth
    best FILTERED partial score — a valid pruning threshold for ranking over
    the filtered candidates by the same lower-bound argument as the
    unfiltered proof — so the result is the filtered top-k, rank-identical
    to the brute filtered path (tests/test_boolean.py)."""
    n_docs, avgdl = batch.stats

    # metadata-only plan: the cached frame carries block STATS, never the
    # varint blobs — at 10^12-file scale the matched blobs of one hot term
    # are TBs, while their metadata is ~100 B/block. Parquet column pruning
    # makes this scan read only the small columns; blob columns are fetched
    # later by a join-back restricted to the blocks that actually decode.
    meta_cols = ["term", "block_id", "n", "df", "block_max_tf_norm"]
    blob_cols = ["term", "block_id", "docnos_delta_varint", "tfs_varint", "dls_varint"]
    meta = (
        batch.pruned.select(*meta_cols)
        .join(F.broadcast(batch.qterms), "term")
        .withColumn("idf", idf_col(F.lit(float(n_docs)), F.col("df").cast("double")))
        .withColumn("ub", F.col("idf") * F.col("block_max_tf_norm"))
    )
    meta = meta.cache()
    blobs = batch.pruned.select(*blob_cols)

    def decode_keys(keys: DataFrame, broadcast_keys: bool) -> DataFrame:
        """(query_id, term, idf, block_id) -> (query_id, doc_id, score),
        joining the blob columns back from the (bucket-pruned) blocks scan
        and fusing decode + BM25 scoring in one worker pass
        (:func:`_decode_scored`). Seed keys are tiny -> broadcast; survivor
        keys can be large -> let AQE choose."""
        sel = keys.select("query_id", "term", "idf", "block_id")
        if broadcast_keys:
            sel = F.broadcast(sel)
        return _decode_scored(
            blobs.join(sel, ["term", "block_id"]), avgdl, allowed_bc=allowed_bc
        )

    try:
        # per-(query, term) best possible block bound
        term_ub = meta.groupBy("query_id", "term").agg(F.max("ub").alias("max_ub"))
        # Σ over the query's terms of max_ub  (used as "other terms" bound)
        query_ub = term_ub.groupBy("query_id").agg(F.sum("max_ub").alias("sum_max_ub"))

        # ---- phase 1: seed θ from the highest-ub blocks per query ----
        w_ub = Window.partitionBy("query_id").orderBy(
            F.desc("ub"), F.asc("term"), F.asc("block_id")
        )
        seed_blocks = (
            meta.withColumn(
                "cum_n",
                F.sum("n").over(w_ub.rowsBetween(Window.unboundedPreceding, -1)),
            )
            .filter(F.coalesce(F.col("cum_n"), F.lit(0)) < WAND_SEED_FACTOR * k)
        )
        seed_scores = decode_keys(seed_blocks, broadcast_keys=True)
        w_theta = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        # θ is tiny (≤1 row per query) — collect it eagerly; this also
        # populates the meta cache before phase 2 reuses it
        theta_sel = (
            seed_scores.withColumn("rn", F.row_number().over(w_theta))
            .filter(F.col("rn") == k)
            .select("query_id", F.col("score").alias("theta"))
        )
        # a local relation, so phase 2's broadcast of it runs no job
        theta = local_frame(spark, theta_sel.toArrow(), theta_sel.schema)

        # ---- phase 2: prune blocks, decode survivors, exact-score ----
        survivors = (
            meta.join(F.broadcast(term_ub), ["query_id", "term"])
            .join(F.broadcast(query_ub), "query_id")
            .join(F.broadcast(theta), "query_id", "left")
            # bound for docs in this block: own ub + best-case of the other terms
            .withColumn("bound", F.col("ub") + (F.col("sum_max_ub") - F.col("max_ub")))
            # quantize mode: one-quantum slack so the quantized cut stays
            # exact (see docstring); raw mode: the classic >= theta bound
            .filter(
                F.col("theta").isNull()
                | (F.col("bound") >= F.col("theta") - F.lit(1e-4 if quantize else 0.0))
            )
        )
        result = rank_top_k(decode_keys(survivors, broadcast_keys=False), k, quantize)
        # materialize + truncate lineage so meta can be unpersisted without
        # the returned DataFrame recomputing the pruned scan later; the
        # checkpointed blocks are freed with the DataFrame by ContextCleaner
        return result.localCheckpoint(eager=True)
    finally:
        meta.unpersist()
