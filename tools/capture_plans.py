"""Capture formatted physical plans of the headline operators into
BENCH/PLANS.md — the `.explain("formatted")` audit trail: pushed filters,
broadcast choices, codegen spans, and the absence of cartesian products are
visible in one artifact instead of only in plan-shape tests.

Usage: python tools/capture_plans.py [sf_dir]   (default sf0.001 — plans,
not timings; data size is irrelevant)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    from pyspark.sql import functions as F

    from goldenretriever_spark.corpus import driver_documents
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.operators import ann, dedup
    from goldenretriever_spark.query import bm25
    from goldenretriever_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("gr-plan-capture", cores=4, shuffle_partitions=4)

    docs = driver_documents(spark, sf_dir)
    idx = build_index(docs, tokenizer="simple", persist=False)
    terms = bm25.query_terms_df(spark, [(0, "fast merge sort"), (1, "window scan")])

    sections: list[tuple[str, str, object]] = [
        (
            "Index build: postings (tokenize -> explode -> 2-phase agg)",
            "doc_len rides in the grouping key (no doc_stats join anywhere); "
            "HashAggregate appears twice (partial map-side, final after one "
            "Exchange on term/doc_id/doc_len); tokenize+explode are inside "
            "WholeStageCodegen — no Python in the plan.",
            idx.postings,
        ),
        (
            "BM25 brute top-k (batch of queries)",
            "Query terms and matched term_stats broadcast (BroadcastHashJoin, "
            "never SortMergeJoin); the scoring expression is a single codegen'd "
            "project; top-k is WindowGroupLimit (distributed partial top-k) "
            "before the final rank filter.",
            bm25.top_k(idx, terms, k=10),
        ),
        (
            "As-of join (clicks <- latest prior purchase)",
            "Union + single window over the key: ONE Exchange on user_id, no "
            "pair materialization, no nested loop.",
            None,  # built below to avoid import cycles
        ),
        (
            "Embedding near-dup (LSH-bucket blocked, radius-1 probe)",
            "Bucket equi-join (hash join) after the hot-bucket anti-join; no "
            "CartesianProduct / BroadcastNestedLoopJoin anywhere; the pair "
            "dedup aggregates (id_a, id_b, long) — vectors never shuffle "
            "after scoring.",
            dedup.q_embedding_neardup_pairs(spark, sf_dir),
        ),
        (
            "Hybrid RRF fusion (BM25 leg + cosine leg)",
            "Union of the two already-ranked legs -> partial HashAggregate "
            "(map-side combine of the reciprocal sums) -> ONE Exchange on "
            "(query_id, doc_id) -> final agg -> Partial WindowGroupLimit "
            "prunes to top-k BEFORE the per-query Exchange -> final limit + "
            "Window. Two shuffles total, both over candidate lists "
            "(queries x k rows), never the corpus.",
            None,  # built below: needs both legs constructed first
        ),
        (
            "ANN IVF (broadcast centroids, probe 2 lists)",
            "Centroid cross-joins are BroadcastNestedLoopJoin over a "
            "broadcast-hinted 8-row table (intended: assignment needs every "
            "(vector, centroid) distance); the probe->list join is a hash "
            "equi-join on centroid_id.",
            ann.q_ann_ivf_topk(spark, sf_dir),
        ),
    ]

    from goldenretriever_spark.operators.temporal import as_of_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid"), "value"
    )
    sections[2] = (sections[2][0], sections[2][1], as_of_join(clicks, purch, on=["user_id"]))

    from goldenretriever_spark.query.hybrid import rrf_fuse

    lex = bm25.top_k(idx, terms, k=10).select("query_id", "doc_id", "rank")
    vec = ann.q_ann_brute_topk(spark, sf_dir, k=10, n_queries=2).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rnk").alias("rank")
    )
    sections[4] = (sections[4][0], sections[4][1], rrf_fuse([lex, vec], k=10))

    # r6: stored positional serving + IVF from persisted lists (plans read
    # from real partitioned parquet so PartitionFilters show up)
    import tempfile

    from goldenretriever_spark.index.build import with_doc_ids
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.query.phrase import (
        phrase_match_stored,
        phrase_match_stored_batch,
        proximity_match_stored,
    )

    tmp = tempfile.mkdtemp(prefix="gr_plans_")
    pos_path = os.path.join(tmp, "positional_blocks")
    pack_positional_blocks(
        with_doc_ids(docs) if "doc_id" not in docs.columns else docs,
        n_term_buckets=8,
    ).write.partitionBy("term_bucket").parquet(pos_path)
    pos = spark.read.parquet(pos_path)
    sections.append(
        (
            "Phrase match from STORED positional blocks (r6)",
            "No corpus scan, no tokenizer: the scan reads positional_blocks "
            "with PartitionFilters on term_bucket (only the phrase terms' "
            "bucket directories listed) + a pushed term isin filter; decode "
            "is one Arrow-batched mapInPandas that emits start votes; the "
            "vote aggs share one Exchange on (query_id, doc_id).",
            phrase_match_stored(pos, ["hash", "join"], n_term_buckets=8),
        )
    )
    sections.append(
        (
            "Batched phrase vote (P phrases, one scan; r6)",
            "The broadcast frame carries (query_id, term, offset) for the "
            "whole batch; ONE decode over the union of the batch's buckets "
            "feeds a vote keyed (query_id, doc_id, start). P phrases never "
            "pay P positional scans.",
            phrase_match_stored_batch(
                pos, [(0, ["hash", "join"]), (1, ["merge", "sort"])], n_term_buckets=8
            ),
        )
    )
    sections.append(
        (
            "Proximity match from stored blocks (intersection-first, r6)",
            "Candidate docs = count-distinct semi-join over the query terms' "
            "postings BEFORE the Wx window explode — the explode touches only "
            "docs containing ALL terms, so cost scales with the conjunction, "
            "not the hottest term's posting list.",
            proximity_match_stored(pos, ["hash", "join"], 8, n_term_buckets=8),
        )
    )

    from goldenretriever_spark.operators.ann import (
        ivf_assign,
        ivf_topk_from_lists,
        synth_clustered_embeddings,
        train_centroids_kmeans,
    )

    emb = synth_clustered_embeddings(spark, 500, n_clusters=4, seed=11).select(
        "vec_id", "embedding"
    )
    cb = train_centroids_kmeans(emb, n_centroids=4, iters=2, seed=5)
    cent = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cb)], "centroid_id int, cvec array<double>"
    )
    lists_path = os.path.join(tmp, "ivf_lists")
    ivf_assign(emb, cent).write.partitionBy("centroid_id").parquet(lists_path)
    qv = spark.createDataFrame(
        [(0, emb.limit(1).collect()[0]["embedding"])], "query_id long, qvec array<double>"
    )
    sections.append(
        (
            "IVF top-k from PERSISTED inverted lists (r6)",
            "The probed centroid ids (tiny driver-side list) become a "
            "PartitionFilters predicate on the centroid_id-partitioned lists "
            "— unprobed list directories are never read; the re-rank join is "
            "a broadcast hash join of the per-query probes against only the "
            "probed lists' rows.",
            ivf_topk_from_lists(
                spark.read.parquet(lists_path), qv, cent, k=5, n_probe=2
            ),
        )
    )

    out = ["# BENCH/PLANS.md — formatted physical plans (captured by tools/capture_plans.py)\n"]
    for title, note, df in sections:
        out.append(f"## {title}\n\n{note}\n\n```\n{_formatted(spark, df).strip()}\n```\n")
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
