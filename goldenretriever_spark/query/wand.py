"""Block-max pruned top-k over the compressed index (lossless).

Spark-native adaptation of block-max WAND (Ding & Suel, SIGIR 2011). The
classic algorithm walks per-term cursors with a shared heap — inherently
sequential. The set-oriented equivalent here keeps the pruning math but
expresses it as two DataFrame phases, which is what distributes:

Phase 1 (θ seeding): per query, decode only the highest-upper-bound blocks
(cumulative n ≥ seed_factor*k docs), score them exactly for the decoded terms
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
lookup into a partition-pruned parquet scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goldenretriever_spark.index.build import B, K1
from goldenretriever_spark.query.bm25 import idf_col, query_terms_df

def _decode_scored(
    matched: DataFrame, avgdl: float, allowed_bc=None, repartition_q: bool = False
) -> DataFrame:
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
    absorbs it (rank-identity suite + oracle hashes unchanged).

    ``allowed_bc``: optional broadcast of a SORTED int64 numpy array of
    allowed doc_ids (boolean filter pushdown, query/boolean.filtered_top_k).
    Decoded postings outside the set are dropped IN the worker — a selective
    filter cuts the Arrow return, the shuffle and the aggregation to the
    qualifying docs instead of only post-score rows (searchsorted
    membership: no false positives/negatives, so scores are unchanged)."""
    from goldenretriever_spark.index.codec import (
        delta_decode_grouped,
        varint_decode_many,
    )

    def unpack(batches):
        # grouped decode: ONE vectorized varint pass per column per Arrow
        # batch instead of three numpy calls per block row — the unpruned
        # scan decodes ~10^6 block rows, where per-call overhead dominated
        allowed = allowed_bc.value if allowed_bc is not None else None
        for pdf in batches:
            if pdf.empty:
                continue
            deltas, counts = varint_decode_many(
                [bytes(x) for x in pdf["doc_ids_delta_varint"]]
            )
            ids = delta_decode_grouped(deltas, counts)
            if ids.size == 0:
                continue
            tfs, _ = varint_decode_many([bytes(x) for x in pdf["tfs_varint"]])
            dls, _ = varint_decode_many([bytes(x) for x in pdf["dls_varint"]])
            idfs = np.repeat(pdf["idf"].to_numpy(np.float64), counts)
            qids = np.repeat(pdf["query_id"].to_numpy(np.int64), counts)
            if allowed is not None:
                if allowed.size == 0:
                    continue
                pos = np.searchsorted(allowed, ids)
                pos_c = np.minimum(pos, allowed.size - 1)
                keep = (pos < allowed.size) & (allowed[pos_c] == ids)
                if not keep.any():
                    continue
                ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                idfs, qids = idfs[keep], qids[keep]
            tf = tfs.astype(np.float64)
            dl = dls.astype(np.float64)
            c = idfs * (tf / (tf + K1 * (1.0 - B + B * dl / avgdl)))
            yield pd.DataFrame({"query_id": qids, "doc_id": ids, "c": c})

    cols = ["query_id", "idf", "doc_ids_delta_varint", "tfs_varint", "dls_varint"]
    decoded = matched.select(*cols).mapInPandas(
        unpack, schema="query_id long, doc_id long, c double"
    )
    if repartition_q:
        # wide-batch plan (see bm25.top_k): one query_id exchange serves
        # both this aggregation and the caller's per-query window
        decoded = decoded.repartition("query_id")
    return decoded.groupBy("query_id", "doc_id").agg(F.sum("c").alias("score"))


def _bucket_ids(
    queries, tokenizer: str, qterms: DataFrame, n_term_buckets: int
) -> list[int]:
    """Distinct term_bucket ids for a query batch. List-typed batches use
    the pytest-locked driver-side XXH64 twin (goldenretriever_spark/xxh64.py)
    — zero Spark jobs; DataFrame batches fall back to one tiny distinct+
    collect over qterms (term set unknown on the driver)."""
    toksets = _driver_side_toksets(queries, tokenizer)
    if toksets is not None:
        from goldenretriever_spark.xxh64 import term_buckets

        return term_buckets({t for ts in toksets.values() for t in ts}, n_term_buckets)
    return [
        r["b"]
        for r in qterms.select(
            F.pmod(F.xxhash64("term"), F.lit(n_term_buckets)).cast("int").alias("b")
        ).distinct().collect()
    ]


def stored_score_candidates(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    tokenizer: str = "simple",
    n_term_buckets: int | None = None,
    qterms: DataFrame | None = None,
    stats: tuple[int, float] | None = None,
    allowed_bc=None,
) -> DataFrame:
    """(query_id, doc_id, score) over EVERY candidate doc from the stored
    compressed blocks — the stored-path twin of bm25.score_candidates:
    bucket-prune, decode the query terms' blocks, exact BM25 sums, no rank
    cut. Consumers that need the full candidate scores (phrase-boosted
    ranking, explain-style attribution) build on this; brute_top_k_stored
    is exactly this + a window top-k. ``allowed_bc``: boolean-filter doc-id
    pushdown, see :func:`_decode_scored`."""
    if stats is None:
        row = corpus_stats.collect()[0]
        stats = (int(row["n_docs"]), float(row["avgdl"]))
    n_docs, avgdl = stats
    if qterms is None:
        qterms = query_terms_df(spark, queries, tokenizer)
    if n_term_buckets and "term_bucket" in posting_blocks.columns:
        posting_blocks = posting_blocks.filter(
            F.col("term_bucket").isin(
                _bucket_ids(queries, tokenizer, qterms, n_term_buckets)
            )
        )
    n_queries = max_terms = None
    if not isinstance(queries, DataFrame) and queries is not None:
        toksets = _driver_side_toksets(queries, tokenizer)
        n_queries = len(toksets)
        max_terms = max((len(ts) for ts in toksets.values()), default=0)
    elif qterms is not None:
        n_queries = getattr(qterms, "_gr_n_queries", None)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Wide-batch single-exchange plan (see bm25.top_k) ONLY when the batch
    # is wide AND the per-query decode volume is provably small: clustering
    # on query_id gives at most n_queries parallel chunks with no map-side
    # pre-aggregation, which LOST to the uniform (q,d) exchange at the
    # 3.84M-doc scale point (BENCH/R7_SCALE.json qlen1 cell) while winning
    # at bench scale. Bound: Σdf per query ≤ max_terms × n_docs, zero jobs.
    wide = (
        n_queries is not None
        and n_queries >= P
        and max_terms is not None
        and max_terms * n_docs <= WIDE_BATCH_MAX_ROWS_PER_QUERY
    )
    matched = posting_blocks.join(F.broadcast(qterms), "term").withColumn(
        "idf", idf_col(F.lit(float(n_docs)), F.col("df").cast("double"))
    )
    return _decode_scored(
        matched, avgdl, allowed_bc=allowed_bc, repartition_q=wide
    )


def brute_top_k_stored(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    k: int = 10,
    tokenizer: str = "simple",
    n_term_buckets: int | None = None,
    qterms: DataFrame | None = None,
    stats: tuple[int, float] | None = None,
    allowed_bc=None,
    quantize: bool = False,
) -> DataFrame:
    """Exact top-k over the STORED index with NO pruning: decode every block
    of every query term, score, rank. ``quantize=True`` cuts at k by the
    engine-wide x10000-quantized score with doc_id-asc ties (the oracle
    discipline — used by filtered_top_k so its two plans agree exactly even
    when quantized ties are dense near the k boundary). This is the baseline wand_top_k must
    beat — same storage, same decode path, identical results; the only
    difference is the θ-pruning machinery (tools/wand_crossover.py measures
    where pruning starts paying for itself). ``qterms`` lets a caller that
    already tokenized the batch (the dispatcher) pass it through; ``stats``
    is a pre-collected (n_docs, avgdl) so the dispatcher's corpus_stats read
    is not repeated here."""
    scores = stored_score_candidates(
        spark, posting_blocks, corpus_stats, queries, tokenizer=tokenizer,
        n_term_buckets=n_term_buckets, qterms=qterms, stats=stats,
        allowed_bc=allowed_bc,
    )
    w_rank = Window.partitionBy("query_id").orderBy(*_rank_order(quantize))
    return (
        scores.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def _rank_order(quantize: bool):
    """Engine rank ordering: raw score by default; the x10000-quantized
    long (oracle tie discipline) when ``quantize``."""
    if quantize:
        return (
            F.desc(F.round(F.col("score") * 10000).cast("long")),
            F.asc("doc_id"),
        )
    return (F.desc("score"), F.asc("doc_id"))


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

# Wide-batch single-exchange scoring (repartition(query_id) serving both the
# agg and the window) is only used when every query's decode volume is
# provably under this bound — above it, per-query clustering concentrates
# millions of rows on ≤n_queries tasks with no map-side combine and loses
# to the uniform (q,d) exchange (measured both ways: ~10-15% win at sf0.1,
# a loss at 3.84M docs — BENCH/R7_SCALE.json).
WIDE_BATCH_MAX_ROWS_PER_QUERY = 2_000_000


def estimate_decode_rows(posting_blocks: DataFrame, qterms: DataFrame) -> DataFrame:
    """Per-query estimated decode volume: Σ df over the query's distinct
    terms == exactly the postings an unpruned stored-index scan decodes.
    Metadata-only: reads (term, df) from the (bucket-pruned) blocks scan —
    parquet column pruning keeps the blob columns untouched. LEFT join with
    df coalesced to 0 (ADVICE r4): every query with at least one token
    contributes a row (a query tokenizing to ZERO terms has no qterms rows
    and is absent here — harmless, it returns nothing on any path), so a
    batch mixing no-HIT queries with heavy ones does not overstate the
    volume signal and misroute to WAND."""
    tdf = (
        posting_blocks.select("term", "df")
        .groupBy("term")
        .agg(F.first("df").alias("df"))
    )
    return (
        qterms.join(tdf, "term", "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("df"), F.lit(0))).alias("est_rows"))
    )


def _driver_side_toksets(queries, tokenizer: str) -> dict | None:
    """For list-typed batches, the per-query UNIQUE term sets computed on the
    driver with the oracle twin of the engine tokenizer — ZERO Spark jobs.
    The twins are equality-tested on every input class (tests/test_round2),
    so the term COUNT bound derived here is exactly what query_terms_df would
    produce. Returns None for DataFrame inputs (unknown size; tokenize
    distributed instead)."""
    if isinstance(queries, DataFrame):
        return None
    from goldenretriever_spark.oracle import tokenize

    return {int(qid): set(tokenize(qstr, tokenizer)) for qid, qstr in queries}


def dispatch_top_k(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    k: int = 10,
    tokenizer: str = "simple",
    seed_factor: int = 4,
    n_term_buckets: int | None = None,
    crossover_rows: int | None = None,
    stats: tuple[int, float] | None = None,
    allowed_bc=None,
    term_df_cache: dict | None = None,
    quantize: bool = False,
) -> tuple[DataFrame, dict]:
    """Top-k over the stored index with brute-stored vs WAND auto-dispatch.

    ``allowed_bc`` (boolean-filter doc-id pushdown, see
    :func:`_decode_scored`) threads through whichever path is routed, so a
    filtered query reuses the measured brute/WAND dispatch unchanged
    (query/boolean.filtered_top_k).

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
    share. ``crossover_rows`` overrides the crossover per call.

    The WHOLE batch takes one path. Routing each query to its own winning
    path and unioning the two results was measured and removed
    (BENCH/WAND_MIXED.json, 3.84 M docs): even on a designed 50/50
    one-term/five-term batch it ran 0.62-0.67× of EITHER forced single
    path, because one-path batched execution amortizes the blocks scan,
    decode and ranking machinery across the whole batch while a split
    serializes two job sets — and WAND's penalty on the low-volume half
    (0.87-0.97×) is far smaller than that amortization loss.

    Fixed-overhead control on the hot serving row:
    - corpus_stats is collected ONCE here and handed to the routed path(s);
      a caller holding the (n_docs, avgdl) tuple already (StoredIndex
      memoizes it per handle) passes ``stats=`` and skips even that job.
    - for list-typed batches the max-terms bound comes from driver-side
      tokenization (oracle twin) — no Spark job.
    - the df probe is skipped when the driver-side upper bound
      (max terms/query × n_docs) already rules WAND out, and in that case
      qterms is NOT localCheckpoint-ed (single consumer — the brute path).
    """
    if crossover_rows is None:
        crossover_rows = WAND_CROSSOVER_DECODE_ROWS
    if stats is None:
        row = corpus_stats.collect()[0]
        stats = (int(row["n_docs"]), float(row["avgdl"]))
    n_docs = stats[0]

    toksets = _driver_side_toksets(queries, tokenizer)
    qterms_all: DataFrame | None = None  # built lazily; checkpointed only if reused

    if n_term_buckets and "term_bucket" in posting_blocks.columns:
        if toksets is not None:
            # distinct terms known driver-side -> bucket ids from the
            # XXH64 twin (xxh64.py), zero Spark jobs
            from goldenretriever_spark.xxh64 import term_buckets

            buckets = term_buckets(
                {t for ts in toksets.values() for t in ts}, n_term_buckets
            )
        else:
            qterms_all = query_terms_df(spark, queries, tokenizer).localCheckpoint(
                eager=True
            )
            buckets = [
                r["b"]
                for r in qterms_all.select(
                    F.pmod(F.xxhash64("term"), F.lit(n_term_buckets))
                    .cast("int")
                    .alias("b")
                ).distinct().collect()
            ]
        pruned = posting_blocks.filter(F.col("term_bucket").isin(buckets))
    else:
        pruned = posting_blocks

    # driver-side bound: Σdf per query ≤ (terms in query) × n_docs; if even
    # the largest query cannot reach the crossover, skip the blocks probe
    if toksets is not None:
        max_terms = max((len(ts) for ts in toksets.values()), default=0)
    else:
        if qterms_all is None:
            qterms_all = query_terms_df(spark, queries, tokenizer).localCheckpoint(
                eager=True
            )
        per_q = qterms_all.groupBy("query_id").agg(F.count("*").alias("nt")).collect()
        max_terms = max((r["nt"] for r in per_q), default=0)
    plan: dict = {
        "crossover_rows": crossover_rows,
        "n_docs": n_docs,
        "max_terms_per_query": int(max_terms),
    }

    if max_terms * n_docs < crossover_rows:
        # probe skipped: single consumer ahead, keep qterms a lazy plan
        plan.update({"path": "brute_stored", "probed": False})
        if qterms_all is None:
            qterms_all = query_terms_df(spark, queries, tokenizer)
        out = brute_top_k_stored(
            spark, pruned, corpus_stats, queries, k=k,
            tokenizer=tokenizer, n_term_buckets=None, qterms=qterms_all, stats=stats,
            allowed_bc=allowed_bc, quantize=quantize,
        )
        return out, plan

    if qterms_all is None and (toksets is None or term_df_cache is None):
        # several consumers from here (probe + routed paths) -> materialize
        qterms_all = query_terms_df(spark, queries, tokenizer).localCheckpoint(
            eager=True
        )
    if toksets is not None and term_df_cache is not None:
        # per-handle df memo (VERDICT r6 #4): probe ONLY terms not yet seen
        # by this handle — a repeated term vocabulary (interactive serve,
        # the hybrid lexical leg) pays the metadata probe once, later calls
        # route with zero probe jobs. Missing terms are cached as df=0,
        # matching estimate_decode_rows' left-join coalesce semantics.
        unknown = sorted(
            {t for ts in toksets.values() for t in ts} - term_df_cache.keys()
        )
        if unknown:
            found = {
                r["term"]: int(r["df"])
                for r in pruned.select("term", "df")
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
    else:
        est_rows = {
            r["query_id"]: int(r["est_rows"])
            for r in estimate_decode_rows(pruned, qterms_all).collect()
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
        out = wand_top_k(
            spark, pruned, corpus_stats, queries, k=k,
            tokenizer=tokenizer, seed_factor=seed_factor, n_term_buckets=None,
            qterms=qterms_all, stats=stats, allowed_bc=allowed_bc, quantize=quantize,
        )
        return out, plan
    plan["path"] = "brute_stored"
    out = brute_top_k_stored(
        spark, pruned, corpus_stats, queries, k=k,
        tokenizer=tokenizer, n_term_buckets=None, qterms=qterms_all, stats=stats,
        allowed_bc=allowed_bc, quantize=quantize,
    )
    return out, plan

def wand_top_k(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    queries,
    k: int = 10,
    tokenizer: str = "simple",
    seed_factor: int = 4,
    n_term_buckets: int | None = None,
    qterms: DataFrame | None = None,
    stats: tuple[int, float] | None = None,
    allowed_bc=None,
    quantize: bool = False,
) -> DataFrame:
    """Top-k per query over the compressed index; rank-identical to brute force.

    ``allowed_bc`` (boolean-filter pushdown, see :func:`_decode_scored`)
    restricts BOTH decode phases to the allowed doc set: θ is then the kth
    best FILTERED partial score — a valid pruning threshold for ranking over
    the filtered candidates by the same lower-bound argument as the
    unfiltered proof — so the result is the filtered top-k, rank-identical
    to the brute filtered path (tests/test_round7.py).

    ``quantize=True`` ranks by the x10000-quantized score (oracle tie
    discipline) AND relaxes the pruning threshold by one quantum (1e-4):
    any doc able to enter the QUANTIZED top-k has raw score within 1e-4 of
    the kth raw score, so θ−1e-4 keeps every such doc's blocks — the
    quantized cut is then exact, not approximately the raw cut. Measured
    necessary at 3.84M docs where quantized ties near the k boundary are
    dense (BENCH/R7_SCALE.json filtered cell).

    ``n_term_buckets`` must be the BUILD-time bucket count — pass
    ``StoredIndex(spark, path).n_term_buckets`` (persisted in the index's
    ``_meta``). The default is None (no partition pruning): a wrong guess
    would silently drop buckets and return incomplete top-k, so pruning is
    opt-in with the persisted value only. ``qterms``: pre-tokenized batch
    pass-through (the dispatcher supplies it; avoids re-tokenizing).
    ``stats``: pre-collected (n_docs, avgdl), same contract as
    brute_top_k_stored.
    """
    if stats is None:
        row = corpus_stats.collect()[0]
        stats = (int(row["n_docs"]), float(row["avgdl"]))
    n_docs, avgdl = stats

    if qterms is None:
        qterms = query_terms_df(spark, queries, tokenizer)

    if n_term_buckets and "term_bucket" in posting_blocks.columns:
        # partition pruning: only scan buckets that contain a query term
        posting_blocks = posting_blocks.filter(
            F.col("term_bucket").isin(
                _bucket_ids(queries, tokenizer, qterms, n_term_buckets)
            )
        )

    # metadata-only plan: the cached frame carries block STATS, never the
    # varint blobs — at 10^12-file scale the matched blobs of one hot term
    # are TBs, while their metadata is ~100 B/block. Parquet column pruning
    # makes this scan read only the small columns; blob columns are fetched
    # later by a join-back restricted to the blocks that actually decode.
    meta_cols = ["term", "block_id", "n", "df", "block_max_tf_norm"]
    blob_cols = ["term", "block_id", "doc_ids_delta_varint", "tfs_varint", "dls_varint"]
    meta = (
        posting_blocks.select(*meta_cols)
        .join(F.broadcast(qterms), "term")
        .withColumn("idf", idf_col(F.lit(float(n_docs)), F.col("df").cast("double")))
        .withColumn("ub", F.col("idf") * F.col("block_max_tf_norm"))
    )
    meta = meta.cache()
    blobs = posting_blocks.select(*blob_cols)

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
            .filter(F.coalesce(F.col("cum_n"), F.lit(0)) < seed_factor * k)
        )
        seed_scores = decode_keys(seed_blocks, broadcast_keys=True)
        w_theta = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        w_rank = Window.partitionBy("query_id").orderBy(*_rank_order(quantize))
        # θ is tiny (≤1 row per query) — collect it eagerly; this also
        # populates the meta cache before phase 2 reuses it
        theta_sel = (
            seed_scores.withColumn("rn", F.row_number().over(w_theta))
            .filter(F.col("rn") == k)
            .select("query_id", F.col("score").alias("theta"))
        )
        # schema comes from the plan, not a DDL literal: callers may pass a
        # queries DataFrame whose query_id is not long
        theta = spark.createDataFrame(theta_sel.collect(), theta_sel.schema)

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
        scores = decode_keys(survivors, broadcast_keys=False)
        result = (
            scores.withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank")
        )
        # materialize + truncate lineage so meta can be unpersisted without
        # the returned DataFrame recomputing the pruned scan later; the
        # checkpointed blocks are freed with the DataFrame by ContextCleaner
        return result.localCheckpoint(eager=True)
    finally:
        meta.unpersist()
