"""Measure the WAND crossover: corpus size where block-max pruning beats the
unpruned decode of the same stored index (VERDICT r1 next-step #3).

Both contenders answer the SAME 50-query batch from the SAME persisted
compressed index (posting_blocks parquet, term-bucket partitioned):

- brute_top_k_stored: decode EVERY block of every query term, score, rank
- wand_top_k:         θ-seeded block pruning, decode survivors only

Identical storage + decode path, so the measured delta is exactly the
pruning machinery. Rank-identity is asserted on every run. Per corpus size,
best of --runs timings (host noise). Prints one JSON line per size plus a
summary; paste into BENCH/BASELINE.md.

Usage: python tools/wand_crossover.py [sizes_csv] [--runs R] [--k K]
Corpora/indexes are cached in /tmp across invocations.

``--local`` calibrates the other serve crossover,
storage.LOCAL_CROSSOVER_DECODE_ROWS: warm single StoredIndex calls on the
in-process route against their Spark routes, per corpus size — searches
(1-term hot, 3-term mid, 3-term hot) against brute_top_k_stored and hot
phrases (2 and 3 terms, and one with a repeated term) against
phrase_match_stored — with identical results asserted in every cell and
each local call's driver memory peak; writes BENCH/LOCAL_CROSSOVER.json:

    python tools/wand_crossover.py 10000,100000,400000 --local --runs=7
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BUCKETS = 64


def _cached_index_is_current(spark, idx_path: str) -> bool:
    """A cached index is reused only when it has positional blocks and opens
    as the current index format; anything else is stale (an index written
    in an older format raises on open)."""
    from goldenretriever_spark.index.storage import StoredIndex

    if not os.path.exists(idx_path):
        return False
    try:
        return StoredIndex(spark, idx_path).has_positional()
    except ValueError:
        return False


def ensure_index(spark, n_docs: int) -> str:
    """The cached synthetic index of ``n_docs`` docs under /tmp, built (or
    rebuilt, when :func:`_cached_index_is_current` finds it stale) once."""
    import shutil

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.index.storage import write_index

    cache = f"/tmp/gr_bench_corpus_{n_docs}.parquet"
    idx_path = f"/tmp/gr_idx_{n_docs}"
    if not os.path.exists(cache):
        corpus.synth_corpus(spark, n_docs, seed=42, partitions=256).write.mode(
            "overwrite"
        ).parquet(cache)
    if not _cached_index_is_current(spark, idx_path):
        shutil.rmtree(idx_path, ignore_errors=True)
        docs = spark.read.parquet(cache)
        idx = build_index(docs, tokenizer="simple")
        blocks = pack_blocks(idx, block_size=128, target_docs_per_group=250_000,
                             n_term_buckets=N_BUCKETS)
        positional = pack_positional_blocks(docs, postings=idx.postings,
                                            n_term_buckets=N_BUCKETS)
        write_index(idx, idx_path, blocks=blocks, n_term_buckets=N_BUCKETS,
                    positional=positional)
    return idx_path


def _time_best(fn, runs: int):
    best = None
    rows = None
    for _ in range(runs):
        t0 = time.time()
        out = fn()
        r = out.collect()
        dt = time.time() - t0
        if best is None or dt < best:
            best, rows = dt, r
    return best, rows


def _rank_key(rows):
    return sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rows)


def sweep(n_docs: int, runs: int, ks: list[int], qlens: list[int]) -> None:
    """k x query-length crossover sweep at one corpus size (VERDICT r2 #8):
    WAND's advantage shrinks with large k (θ sits lower) and long queries
    (more terms -> higher sum-of-ub bounds -> fewer pruned blocks); one
    measured table makes the dispatch threshold trustworthy. Writes
    BENCH/WAND_SWEEP.json; rank-identity asserted in every cell."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.wand import (
        brute_top_k_stored,
        dispatch_top_k,
        wand_top_k,
    )
    from goldenretriever_spark.session import get_spark

    spark = get_spark("gr-wand-sweep")
    idx_path = ensure_index(spark, n_docs)
    stored = StoredIndex(spark, idx_path)
    nb = stored.n_term_buckets
    blocks, cstats = stored.posting_blocks, stored.corpus_stats

    cells = []
    for qlen in qlens:
        qset = corpus.fixed_length_queries(50, n_terms=qlen, seed=42)
        qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]
        for k in ks:
            t_brute, r_brute = _time_best(
                lambda: brute_top_k_stored(spark, blocks, cstats, qlist, k=k,
                                           n_term_buckets=nb), runs)
            t_wand, r_wand = _time_best(
                lambda: wand_top_k(spark, blocks, cstats, qlist, k=k,
                                   n_term_buckets=nb), runs)
            cell = {
                "n_docs": n_docs, "k": k, "query_len": qlen,
                "brute_stored_sec": round(t_brute, 2),
                "wand_sec": round(t_wand, 2),
                "speedup": round(t_brute / t_wand, 2),
                "rank_identical": _rank_key(r_brute) == _rank_key(r_wand),
            }
            if k == 10:
                # the volume-aware dispatcher on this same batch: the
                # decision it ACTUALLY took (its plan) + its wall time —
                # the proof cell that 1-term batches route brute while
                # 5-term batches route WAND at the same corpus size
                plan_box = {}

                def run_auto():
                    out, plan = dispatch_top_k(
                        spark, blocks, cstats, qlist, k=10, n_term_buckets=nb
                    )
                    plan_box.update(plan)
                    return out

                t_auto_c, r_auto = _time_best(run_auto, runs)
                assert _rank_key(r_auto) == _rank_key(r_brute)
                cell["auto_sec"] = round(t_auto_c, 2)
                cell["auto_dispatch"] = plan_box
            cells.append(cell)
            print(json.dumps(cell), flush=True)

    # the dispatcher itself, on the standard 50-query reference batch: must
    # land within noise of the winning raw path at this corpus size
    qset = corpus.reference_queries(50, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]
    plan_box = {}

    def run_auto_ref():
        out, plan = dispatch_top_k(
            spark, blocks, cstats, qlist, k=10, n_term_buckets=nb
        )
        plan_box.update(plan)
        return out

    t_auto, _ = _time_best(run_auto_ref, runs)
    auto = {
        "auto_sec": round(t_auto, 2),
        "auto_path": plan_box.get("path"),
        "auto_dispatch": dict(plan_box),
    }
    print(json.dumps(auto), flush=True)

    os.makedirs(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH"), exist_ok=True)
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "WAND_SWEEP.json")
    with open(out_path, "w") as f:
        json.dump({"n_docs": n_docs, "runs": runs, "cells": cells, **auto}, f, indent=2)
    print(json.dumps({"sweep_cells": len(cells), "out": out_path}))


def mixed(n_docs: int, runs: int, k: int = 10) -> None:
    """VERDICT r4 #5 measurement cell: a 50/50 batch of 1-term and 5-term
    queries at a corpus size where the two halves sit on OPPOSITE sides of
    the decode-volume crossover. Times three routes on the same stored
    index: forced brute-stored, forced WAND and the dispatcher (whole batch
    routed by heavy-volume share, one single path). The committed
    BENCH/WAND_MIXED.json (3.84 M docs) also timed a per-query split route,
    since removed: it LOST to both forced single paths (0.62-0.67x) — one-
    path batched execution amortizes the blocks scan/decode/ranking
    machinery across the whole batch, and that amortization is worth more
    than WAND's mild penalty on the low-volume half. Rank-identity asserted
    across all routes. Writes BENCH/WAND_MIXED.json."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.wand import (
        brute_top_k_stored,
        dispatch_top_k,
        wand_top_k,
    )
    from goldenretriever_spark.session import get_spark

    spark = get_spark("gr-wand-mixed")
    idx_path = ensure_index(spark, n_docs)
    stored = StoredIndex(spark, idx_path)
    nb = stored.n_term_buckets
    blocks, cstats = stored.posting_blocks, stored.corpus_stats

    q1 = corpus.fixed_length_queries(25, n_terms=1, seed=42)
    q5 = corpus.fixed_length_queries(25, n_terms=5, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in q1.itertuples()] + [
        (100 + int(r.query_id), r.query_str) for r in q5.itertuples()
    ]

    t_brute, r_brute = _time_best(
        lambda: brute_top_k_stored(spark, blocks, cstats, qlist, k=k,
                                   n_term_buckets=nb), runs)
    t_wand, r_wand = _time_best(
        lambda: wand_top_k(spark, blocks, cstats, qlist, k=k,
                           n_term_buckets=nb), runs)
    auto_box = {}

    def run_auto():
        out, plan = dispatch_top_k(
            spark, blocks, cstats, qlist, k=k, n_term_buckets=nb
        )
        auto_box.clear()
        auto_box.update(plan)
        return out

    t_auto, r_auto = _time_best(run_auto, runs)
    assert _rank_key(r_brute) == _rank_key(r_wand) == _rank_key(r_auto)
    cell = {
        "n_docs": n_docs, "k": k, "runs": runs,
        "batch": "25x1-term + 25x5-term",
        "forced_brute_stored_sec": round(t_brute, 2),
        "forced_wand_sec": round(t_wand, 2),
        "auto_default_sec": round(t_auto, 2),
        "auto_dispatch": dict(auto_box),
        "auto_within_noise_of_best_single": t_auto <= min(t_brute, t_wand) * 1.15,
        "rank_identical": True,
    }
    print(json.dumps(cell), flush=True)
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "WAND_MIXED.json")
    with open(out_path, "w") as f:
        json.dump(cell, f, indent=2)


def _driver_peak_mb(call) -> float:
    """The driver memory ``call`` holds at its peak, MB: the Python-heap
    peak (tracemalloc: numpy, pandas, Python objects) plus the Arrow buffer
    peak (a proxy of Arrow's default pool, fresh for this call), summed as
    an upper bound."""
    import tracemalloc

    import pyarrow as pa

    base = pa.default_memory_pool()
    arrow = pa.proxy_memory_pool(base)
    pa.set_memory_pool(arrow)
    tracemalloc.start()
    try:
        call()
        py_peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
        pa.set_memory_pool(base)
    assert arrow.bytes_allocated() == 0, "an Arrow buffer outlived the call"
    return (py_peak + arrow.max_memory()) / 2**20


def local(sizes: list[int], runs: int, k: int) -> None:
    """Local-route calibration cells: per corpus size and query, the median
    wall of ``runs`` warm single calls on each host — StoredIndex's
    in-process route (forced by an unbounded crossover) and the Spark route
    of the same operator (brute_top_k_stored for search,
    phrase_match_stored for phrase) — plus the local call's driver memory
    peak (:func:`_driver_peak_mb`, one extra untimed call).

    The suggested crossover is the least of each operator's fitted time
    crossover and the memory cap: the driver memory budget, Spark's own
    per-action ceiling on what one call brings into the driver
    (``spark.driver.maxResultSize`` of the session), over the largest
    measured bytes per estimated row of either operator. A phrase's
    estimated rows count each term's df once per offset it fills, but it
    decodes positions, so its bytes per row are the larger ratio."""
    import statistics

    import numpy as np

    from goldenretriever_spark.index import storage
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.phrase import phrase_match_stored
    from goldenretriever_spark.query.wand import brute_top_k_stored
    from goldenretriever_spark.session import get_spark

    spark = get_spark("gr-local-crossover")
    cores = spark.sparkContext.defaultParallelism
    max_result = spark.conf.get("spark.driver.maxResultSize", "1g")
    budget = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        max_result
    )

    def query_classes(stored) -> tuple[dict[str, tuple[str, list]], dict[str, int]]:
        """Search: hot1, the 3 highest-df terms, one per query; mid3, 3
        seeded 3-term queries over the terms in 1-10% of the docs; hot3,
        the 3 highest-df terms as one query, the largest search volume a
        corpus size offers. Phrase: the 2 and the 3 highest-df terms, and
        the 2 highest with the first repeated (``a b a``). Also returns
        term -> df."""
        ts = stored.term_stats.select("term", "df").toPandas()
        ts = ts.sort_values(["df", "term"], ascending=[False, True])
        n_docs = stored.stats[0]
        mid = ts[(ts["df"] >= 0.01 * n_docs) & (ts["df"] <= 0.1 * n_docs)]["term"].tolist()
        rng = np.random.default_rng(42)
        hot = ts["term"].head(3).tolist()
        return {
            "hot1": ("search", hot),
            "mid3": ("search", [" ".join(rng.choice(mid, 3, replace=False)) for _ in range(3)]),
            "hot3": ("search", [" ".join(hot)]),
            "phrase2": ("phrase", [hot[:2]]),
            "phrase3": ("phrase", [hot]),
            "phrase_aba": ("phrase", [[hot[0], hot[1], hot[0]]]),
        }, dict(zip(ts["term"], ts["df"]))

    def median_ms(call) -> tuple[float, list]:
        rows = call()  # warm
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            rows = call()
            times.append((time.perf_counter() - t0) * 1000.0)
        return statistics.median(times), rows

    def phrase_key(rows):
        return sorted((r["doc_id"], r["occurrences"]) for r in rows)

    cells = []
    storage.LOCAL_CROSSOVER_DECODE_ROWS = 1 << 62
    for n in sizes:
        stored = StoredIndex(spark, ensure_index(spark, n))
        nb, blocks, cstats = stored.n_term_buckets, stored.posting_blocks, stored.corpus_stats
        classes, df_of = query_classes(stored)
        for cls, (op, queries) in classes.items():
            for q in queries:
                if op == "search":
                    qlist = [(0, q)]
                    _, plan = stored.search(qlist, k=k, with_plan=True)
                    assert plan["path"] == "local"
                    est, spark_route, key = plan["est_rows"], "brute_top_k_stored", _rank_key

                    def local_call():
                        return stored.search(qlist, k=k).collect()

                    def spark_call():
                        return brute_top_k_stored(
                            spark, blocks, cstats, qlist, k=k, n_term_buckets=nb,
                            stats=stored.stats).collect()
                else:
                    est = int(sum(df_of[t] for t in q))
                    spark_route, key = "phrase_match_stored", phrase_key

                    def local_call():
                        return stored.phrase(q).collect()

                    def spark_call():
                        return phrase_match_stored(
                            stored.positional_blocks, q, n_term_buckets=nb).collect()
                t_local, r_local = median_ms(local_call)
                t_spark, r_spark = median_ms(spark_call)
                assert key(r_local) == key(r_spark), (n, q)
                cell = {
                    "n_docs": n, "op": op, "query_class": cls,
                    "query": q if op == "search" else " ".join(q),
                    "est_rows": est,
                    "local_ms": round(t_local, 1),
                    "spark_route": spark_route,
                    "spark_ms": round(t_spark, 1),
                    "speedup": round(t_spark / t_local, 1),
                    "local_peak_mb": round(_driver_peak_mb(local_call), 1),
                    "identical": True,
                }
                cells.append(cell)
                print(json.dumps(cell), flush=True)

    # the time crossovers are fitted on the large-volume cells only: below
    # ~10^5 rows the Spark route's fixed cost (~0.5 s of jobs) is all they
    # measure
    per_op = {}
    for op in ("search", "phrase"):
        large = [c for c in cells if c["op"] == op and c["est_rows"] >= 100_000]
        est = np.array([c["est_rows"] for c in large], dtype=np.float64)
        fit = {
            arm: np.polyfit(est, [c[f"{arm}_ms"] for c in large], 1).tolist()
            for arm in ("local", "spark")
        }
        (b_l, a_l), (b_s, a_s) = fit["local"], fit["spark"]
        time_rows = (a_s - a_l) / (b_l - b_s) if b_l > b_s else None
        per_op[op] = {
            "fit_ms_per_row_and_intercept": fit,
            "time_crossover_rows": None if time_rows is None else round(time_rows),
            "local_bytes_per_row_max": round(
                max(c["local_peak_mb"] * 2**20 / c["est_rows"] for c in large), 1
            ),
        }
    bytes_per_row = max(o["local_bytes_per_row_max"] for o in per_op.values())
    memory_rows = budget / bytes_per_row
    time_rows = [o["time_crossover_rows"] for o in per_op.values()
                 if o["time_crossover_rows"] is not None]
    summary = {
        "cores": cores, "runs": runs, "k": k,
        "fit_rows_min": 100_000,
        **per_op,
        "memory_budget": f"spark.driver.maxResultSize = {max_result}",
        "memory_budget_bytes": budget,
        "memory_rows": round(memory_rows),
        "suggested_crossover_rows": round(min([memory_rows, *time_rows])),
    }
    print(json.dumps(summary), flush=True)
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "LOCAL_CROSSOVER.json")
    with open(out_path, "w") as f:
        json.dump({**summary, "cells": cells}, f, indent=2)


def main() -> None:
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.wand import brute_top_k_stored, wand_top_k
    from goldenretriever_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sizes = [int(x) for x in (args[0].split(",") if args else ["240000", "960000", "1920000"])]
    runs, k = 2, 10
    ks, qlens = [10, 100], [1, 5]
    for i, a in enumerate(sys.argv):
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1] if "=" in a else sys.argv[i + 1])
        if a.startswith("--ks"):
            ks = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--k"):
            k = int(a.split("=", 1)[1] if "=" in a else sys.argv[i + 1])
        if a.startswith("--qlens"):
            qlens = [int(x) for x in a.split("=", 1)[1].split(",")]
    if "--sweep" in sys.argv:
        sweep(sizes[0], runs, ks, qlens)
        return
    if "--mixed" in sys.argv:
        mixed(sizes[0], runs, k)
        return
    if "--local" in sys.argv:
        local(sizes, runs, k)
        return

    spark = get_spark("gr-wand-crossover")
    qset = corpus.reference_queries(50, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]

    results = []
    for n in sizes:
        idx_path = ensure_index(spark, n)
        stored = StoredIndex(spark, idx_path)
        nb = stored.n_term_buckets
        blocks, cstats = stored.posting_blocks, stored.corpus_stats

        def time_best(fn):
            best = None
            for _ in range(runs):
                t0 = time.time()
                out = fn()
                rows = out.collect()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            return best, rows

        t_brute, r_brute = time_best(
            lambda: brute_top_k_stored(spark, blocks, cstats, qlist, k=k,
                                       n_term_buckets=nb)
        )
        t_wand, r_wand = time_best(
            lambda: wand_top_k(spark, blocks, cstats, qlist, k=k, n_term_buckets=nb)
        )
        key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rows)  # noqa: E731
        identical = key(r_brute) == key(r_wand)
        row = {
            "n_docs": n,
            "brute_stored_sec": round(t_brute, 2),
            "wand_sec": round(t_wand, 2),
            "speedup": round(t_brute / t_wand, 2),
            "rank_identical": identical,
        }
        results.append(row)
        print(json.dumps(row), flush=True)

    wins = [r for r in results if r["speedup"] > 1.0 and r["rank_identical"]]
    print(json.dumps({
        "crossover_n_docs": wins[0]["n_docs"] if wins else None,
        "results": results,
    }))


if __name__ == "__main__":
    main()
