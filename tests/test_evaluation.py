"""Eval harness (operators/evaluation.py): MRR /
recall@k and their per-kb rollup vs hand-computed values (the reference's
src/finetune/eval.py:12-48)."""

from pyspark.sql import functions as F

from goldenretriever_spark.operators.evaluation import gold_ranks, metrics, metrics_per_kb


def _fixtures(spark):
    # 3 queries; gold ranks: q0 -> 1, q1 -> 3, q2 -> gold never retrieved
    ranked = spark.createDataFrame(
        [
            (0, 10, 1), (0, 11, 2), (0, 12, 3),
            (1, 20, 1), (1, 21, 2), (1, 22, 3),
            (2, 30, 1), (2, 31, 2),
        ],
        "query_id long, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(0, 10), (1, 22), (2, 99)], "query_id long, doc_id long"
    )
    return ranked, qrels


def test_gold_ranks(spark):
    ranked, qrels = _fixtures(spark)
    g = {r["query_id"]: r["gold_rank"] for r in gold_ranks(ranked, qrels).collect()}
    assert g == {0: 1, 1: 3}  # q2's gold absent -> no row


def test_metrics_values(spark):
    ranked, qrels = _fixtures(spark)
    m = metrics(ranked, qrels, ks=(1, 3)).collect()[0]
    # MRR over n_queries=3: (1/1 + 1/3 + 0) / 3 = 0.4444...
    assert m["mrr_q"] == 4444
    # recall@1 = 1/3, recall@3 = 2/3
    assert m["recall_at_1_q"] == 3333
    assert m["recall_at_3_q"] == 6667


def test_metrics_per_kb_rollup(spark):
    ranked, qrels = _fixtures(spark)
    ranked_kb = ranked.withColumn(
        "kb_name", F.when(F.col("query_id") == 0, "kb_a").otherwise("kb_b")
    )
    rows = {r["kb_name"]: r for r in metrics_per_kb(ranked_kb, qrels, ks=(1,)).collect()}
    assert set(rows) == {"kb_a", "kb_b", "ALL"}
    # per-kb denominators count only queries with retrieved gold (reference
    # semantics: rank matrix over evaluated queries)
    assert rows["kb_a"]["n_queries"] == 1 and rows["kb_a"]["mrr_q"] == 10000
    assert rows["kb_b"]["n_queries"] == 1 and rows["kb_b"]["mrr_q"] == 3333
    assert rows["ALL"]["n_queries"] == 2 and rows["ALL"]["mrr_q"] == 6667
