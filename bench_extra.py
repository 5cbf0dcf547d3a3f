"""Round-7 optimization harness: per-row sub-stage isolation + plan capture.

bench.py is FROZEN (driver contract); this file holds every extra
measurement the optimization round needs:

- ``profile``: break each headline bench row into its internal stages and
  time them with the noop-sink discipline (guide §1.4) so we see where the
  seconds go before touching anything.
- ``plans``: capture ``explain('formatted')`` for every headline query into
  plans/r07/<name>_{before,after}.txt (argv[2] picks the suffix).
- ``confsweep``: A/B a handful of session-config toggles on the same rows.

Usage: python bench_extra.py {profile|plans before|plans after|confsweep}
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
CORPUS_CACHE = f"/tmp/gr_bench_corpus_{BENCH_DOCS}.parquet"
POS_CACHE = f"/tmp/gr_bench_posblocks_{BENCH_DOCS}"
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r07")

PHRASE_BATCH = [
    (0, ["def", "return"]),
    (1, ["#", "todo"]),
    (2, ["import", "os"]),
    (3, ["def", "return", "import"]),
]


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(fn, reps: int = 2) -> float:
    fn()  # warmup
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def setup(extra_conf=None):
    from goldenretriever_spark import corpus
    from goldenretriever_spark.session import get_spark

    spark = get_spark(
        "gr-bench-extra", cores=CPUS, shuffle_partitions=max(CPUS, 8),
        extra_conf=extra_conf,
    )
    if not os.path.exists(CORPUS_CACHE):
        corpus.synth_corpus(spark, BENCH_DOCS, seed=42).write.mode(
            "overwrite"
        ).parquet(CORPUS_CACHE)
    docs = spark.read.parquet(CORPUS_CACHE)
    return spark, docs


def build_cached_index(spark, docs):
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index

    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=128, target_docs_per_group=250_000)
    for df in (idx.postings, idx.doc_stats, idx.corpus_stats, idx.term_stats):
        df.cache().count()
    blocks = blocks.cache()
    blocks.count()
    return idx, blocks


def cmd_profile():
    from pyspark.sql import functions as F

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import (
        enriched_postings,
        pack_blocks,
        pack_enriched,
    )
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.positions import (
        decode_positions,
        pack_positional_blocks,
        positional_rows,
    )
    from goldenretriever_spark.index.storage import prune_blocks_for_terms
    from goldenretriever_spark.query import bm25
    from goldenretriever_spark.query.phrase import phrase_match_stored_batch
    from goldenretriever_spark.query.wand import brute_top_k_stored, dispatch_top_k

    spark, docs = setup()
    sc = spark.sparkContext
    out: dict[str, float] = {}

    # ---- ir_index_build sub-stages ----
    sc.setJobDescription("profile: postings build (groupBy only)")
    idx0 = build_index(docs, tokenizer="simple", persist=False)
    out["build.postings_noop"] = timed(lambda: noop(idx0.postings))
    sc.setJobDescription("profile: tokenize+explode only")
    from goldenretriever_spark.index.build import tokenized

    toks = tokenized(docs, "simple").select(
        "doc_id",
        F.size("tokens").cast("long").alias("doc_len"),
        F.explode("tokens").alias("term"),
    )
    out["build.explode_noop"] = timed(lambda: noop(toks))

    def full_build():
        idx = build_index(docs, tokenizer="simple")
        blocks = pack_blocks(idx, block_size=128, target_docs_per_group=250_000)
        blocks.count()
        idx.postings.unpersist()

    sc.setJobDescription("profile: full build+pack")
    out["build.full"] = timed(full_build)

    # pack from pre-cached postings (isolates the pack stage)
    idx = build_index(docs, tokenizer="simple")
    idx.postings.cache().count()
    avgdl = float(idx.corpus_stats.collect()[0]["avgdl"])
    enr = enriched_postings(idx, 250_000, 64)
    sc.setJobDescription("profile: pack from cached postings")
    out["build.pack_only"] = timed(
        lambda: pack_enriched(enr, avgdl, 128).count()
    )
    out["build.postings_rows"] = idx.postings.count()
    out["build.enriched_noop"] = timed(lambda: noop(enr))

    # ---- query rows over the bench-shaped cached index ----
    idx.postings.unpersist()
    idx, blocks = build_cached_index(spark, docs)
    qset = corpus.reference_queries(50, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]

    sc.setJobDescription("profile: bm25 brute (count)")
    def brute():
        terms = bm25.query_terms_df(spark, qlist)
        bm25.top_k(idx, terms, k=10).count()

    out["brute.full"] = timed(brute)
    terms = bm25.query_terms_df(spark, qlist)
    sc.setJobDescription("profile: bm25 score_candidates noop")
    out["brute.scores_noop"] = timed(
        lambda: noop(bm25.score_candidates(idx, terms))
    )
    out["brute.matched_rows"] = bm25.explain_contributions(idx, terms).count()

    sc.setJobDescription("profile: stored dispatch")
    out["stored.auto"] = timed(
        lambda: dispatch_top_k(
            spark, blocks, idx.corpus_stats, qlist, k=10, n_term_buckets=None
        )[0].count()
    )
    sc.setJobDescription("profile: stored brute raw")
    out["stored.brute_raw"] = timed(
        lambda: brute_top_k_stored(
            spark, blocks, idx.corpus_stats, qlist, k=10, n_term_buckets=None
        ).count()
    )
    from goldenretriever_spark.query.wand import stored_score_candidates

    sc.setJobDescription("profile: stored scores noop (decode+agg)")
    out["stored.scores_noop"] = timed(
        lambda: noop(
            stored_score_candidates(
                spark, blocks, idx.corpus_stats, qlist, n_term_buckets=None
            )
        )
    )

    # ---- positional build sub-stages ----
    sc.setJobDescription("profile: positional rows noop")
    rows = positional_rows(docs, "simple")
    out["pos.rows_noop"] = timed(lambda: noop(rows))
    out["pos.rows_count"] = rows.count()
    sc.setJobDescription("profile: positional full pack")
    out["pos.pack_full"] = timed(
        lambda: pack_positional_blocks(docs, postings=idx.postings).count()
    )

    # ---- stored phrase sub-stages ----
    pos_blocks = spark.read.parquet(POS_CACHE)
    all_terms = sorted({t for _, ph in PHRASE_BATCH for t in ph})
    sc.setJobDescription("profile: phrase decode only")
    pruned = prune_blocks_for_terms(pos_blocks, all_terms, 64)
    out["phrase.pruned_blocks"] = pruned.count()
    out["phrase.decode_noop"] = timed(lambda: noop(decode_positions(pruned)))
    out["phrase.decoded_rows"] = decode_positions(pruned).count()
    sc.setJobDescription("profile: phrase full")
    out["phrase.full"] = timed(
        lambda: phrase_match_stored_batch(
            pos_blocks, PHRASE_BATCH, n_term_buckets=64
        ).count()
    )

    print(json.dumps(out, indent=1))


def cmd_plans(suffix: str):
    from pyspark.sql import functions as F

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.query import bm25
    from goldenretriever_spark.query.phrase import phrase_match_stored_batch
    from goldenretriever_spark.query.wand import (
        brute_top_k_stored,
        wand_top_k,
    )

    os.makedirs(PLANS_DIR, exist_ok=True)
    spark, docs = setup()
    idx, blocks = build_cached_index(spark, docs)
    qset = corpus.reference_queries(50, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]
    terms = bm25.query_terms_df(spark, qlist)
    pos_blocks = spark.read.parquet(POS_CACHE)

    plans = {
        "ir_index_build": pack_blocks(
            build_index(docs, tokenizer="simple", persist=False),
            block_size=128,
            target_docs_per_group=250_000,
        ),
        "bm25_brute_batch50": bm25.top_k(idx, terms, k=10),
        "bm25_stored_brute_batch50": brute_top_k_stored(
            spark, blocks, idx.corpus_stats, qlist, k=10, n_term_buckets=None
        ),
        "bm25_wand_batch50": wand_top_k(
            spark, blocks, idx.corpus_stats, qlist, k=10, n_term_buckets=None
        ),
        "ir_positional_build": pack_positional_blocks(docs, postings=idx.postings),
        "ir_phrase_stored_batch4": phrase_match_stored_batch(
            pos_blocks, PHRASE_BATCH, n_term_buckets=64
        ),
    }
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plans["tpch_q1_pricing"] = (
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    plans["tpch_q3_join_topk"] = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"))
        .limit(5)
    )
    for name, df in plans.items():
        path = os.path.join(PLANS_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(explain_str(df))
        print("wrote", path)


def cmd_confsweep():
    """A/B session-config toggles on the three heaviest rows. Each config
    runs in a FRESH JVM (spark.stop + new session) so codegen caches don't
    leak across cells."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark import corpus
    from goldenretriever_spark.query import bm25

    configs = {
        "base": {},
        "nolocality": {"spark.locality.wait": "0s"},
        "shj": {"spark.sql.join.preferSortMergeJoin": "false"},
        "arrow64k": {"spark.sql.execution.arrow.maxRecordsPerBatch": "65536"},
        "nocompress": {
            "spark.shuffle.compress": "false",
            "spark.shuffle.spill.compress": "false",
        },
    }
    results = {}
    for name, conf in configs.items():
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark, docs = setup(extra_conf=conf)
        qset = corpus.reference_queries(50, seed=42)
        qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]
        row = {}

        def full_build():
            idx = build_index(docs, tokenizer="simple")
            blocks = pack_blocks(idx, block_size=128, target_docs_per_group=250_000)
            blocks.count()
            idx.postings.unpersist()

        row["build"] = timed(full_build)
        idx, blocks = build_cached_index(spark, docs)

        def brute():
            terms = bm25.query_terms_df(spark, qlist)
            bm25.top_k(idx, terms, k=10).count()

        row["brute"] = timed(brute)
        row["pos_pack"] = timed(
            lambda: pack_positional_blocks(docs, postings=idx.postings).count()
        )
        results[name] = row
        print(name, json.dumps(row), flush=True)
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "profile"
    if cmd == "profile":
        cmd_profile()
    elif cmd == "plans":
        cmd_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif cmd == "confsweep":
        cmd_confsweep()
    else:
        raise SystemExit(f"unknown command {cmd}")
