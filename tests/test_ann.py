"""Vector retrieval (operators/ann.py): the trained k-means IVF codebook
against the stand-in and against its pinned literals
(operators/ivf_codebook.py), and IVF served from persisted inverted lists (rank identity
with the in-plan assignment, partition pruning, and the hybrid wiring)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from goldenretriever_spark.operators import ann
from goldenretriever_spark.operators.ann import (
    ivf_assign,
    ivf_probes,
    ivf_topk,
    ivf_topk_from_lists,
    synth_clustered_embeddings,
    train_centroids_kmeans,
)
from goldenretriever_spark.operators.ivf_codebook import CODEBOOK_SF001


# ---------------------------------------------------------------- trained IVF codebook

def test_ivf_trained_beats_standin_on_clustered(spark):
    """VERDICT r3 #4: the seeded k-means|| codebook must beat the
    first-n-by-vec_id stand-in where the geometry has structure to learn
    (clustered embeddings; on the uniform driver table both are a wash —
    measured and recorded in BENCH/ANN_RECALL.json). Also: training is
    deterministic across invocations."""
    n, k, nq = 2000, 10, 30
    e = ann.synth_clustered_embeddings(spark, n, seed=7).cache()
    e.count()
    q = (
        e.orderBy("vec_id").limit(nq)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_q"), F.asc("vec_id"))
    brute = (
        q.crossJoin(e)
        .select(
            "query_id", "vec_id",
            F.round(ann.cosine_col(F.col("qvec"), F.col("embedding")) * 10000)
            .cast("long").alias("cosine_q"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    truth = sets(brute)
    standin = (
        e.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec"))
    )
    cb = ann.train_centroids_kmeans(e, n_centroids=8, iters=3, seed=42)
    cb2 = ann.train_centroids_kmeans(e, n_centroids=8, iters=3, seed=42)
    assert cb == cb2  # deterministic training
    trained = spark.createDataFrame(
        [(i, row) for i, row in enumerate(cb)], "centroid_id int, cvec array<double>"
    )

    def recall(cent, n_probe):
        got = sets(ann.ivf_topk(e, q, cent, k=k, n_probe=n_probe))
        return sum(len(got.get(qq, set()) & t) / k for qq, t in truth.items()) / len(truth)

    # n_probe=1 exposes the stand-in's duplicated-centroid weakness hardest
    # (a cluster split across twin lists loses half its neighbors); measured
    # margins here are ~0.14 (p=1) and ~0.11 (p=2)
    for n_probe in (1, 2):
        r_standin, r_trained = recall(standin, n_probe), recall(trained, n_probe)
        assert r_trained > r_standin + 0.03, (n_probe, r_trained, r_standin)
    e.unpersist()


def test_trained_codebook_matches_pinned(spark):
    """The sf0.01 k-means training must reproduce the literals the DuckDB
    oracle for ann_ivf_trained_topk was generated from — if this drifts
    (data change, algorithm change, nondeterminism), the contract row would
    hash-mismatch, and this test points at why."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cb = train_centroids_kmeans(emb, n_centroids=8, iters=3, seed=42)
    assert cb == CODEBOOK_SF001


# ---------------------------------------------------------------- IVF from persisted lists

def _clustered(spark, n=400, seed=11):
    return synth_clustered_embeddings(spark, n, n_clusters=6, seed=seed).select(
        "vec_id", "embedding"
    )


def _qvecs(spark, emb, n_queries=5):
    # query vectors = a few corpus vectors (non-trivial neighbors guaranteed)
    rows = emb.orderBy("vec_id").limit(n_queries).collect()
    return spark.createDataFrame(
        [(i, r["embedding"]) for i, r in enumerate(rows)],
        "query_id long, qvec array<double>",
    )


def _codebook(spark, emb):
    cb = train_centroids_kmeans(emb, n_centroids=4, iters=2, seed=5)
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(cb)], "centroid_id int, cvec array<double>"
    )


def _persisted_lists(spark, emb, cent, path: str):
    """``emb``'s inverted lists, written partitioned by centroid_id and read
    back."""
    ivf_assign(emb, cent).write.partitionBy("centroid_id").parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def ivf_lists(spark, tmp_path_factory):
    """(embeddings, codebook, persisted lists) over the 400-vector clustered
    corpus."""
    emb = _clustered(spark)
    cent = _codebook(spark, emb)
    path = str(tmp_path_factory.mktemp("ivf") / "ivf_lists")
    return emb, cent, _persisted_lists(spark, emb, cent, path)


def test_ivf_from_lists_rank_identity(spark, ivf_lists):
    """Persisted-lists serving must rank exactly like the in-plan assignment
    path: same codebook -> same inverted lists -> same probed candidates ->
    same quantized-cosine top-k."""
    emb, cent, assigned = ivf_lists
    qvecs = _qvecs(spark, emb)
    want = sorted(map(tuple, ivf_topk(emb, qvecs, cent, k=7, n_probe=2).collect()))
    got = sorted(
        map(tuple, ivf_topk_from_lists(assigned, qvecs, cent, k=7, n_probe=2).collect())
    )
    assert got == want


def test_ivf_from_lists_reads_only_probed_partitions(spark, ivf_lists):
    """The centroid_id partition filter must reach the parquet scan: the
    pruned plan's PartitionFilters carry centroid_id, so unprobed list
    directories are never read (the property that bounds per-batch cost at
    corpus scale)."""
    emb, cent, assigned = ivf_lists
    qvecs = _qvecs(spark, emb, n_queries=1)
    probe_ids = [
        r["centroid_id"]
        for r in ivf_probes(qvecs, cent, 2).select("centroid_id").distinct().collect()
    ]
    pruned = assigned.filter(F.col("centroid_id").isin(probe_ids))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan.split("PartitionFilters")[1].split("]")[0]


def test_search_hybrid_from_lists_matches_inplan(spark, tmp_path):
    """search_hybrid must produce identical fused output whether the vector
    leg assigns in-plan or serves from the persisted lists."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    docs = spark.createDataFrame(corpus.synth_corpus_pandas(80, seed=3))
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=32, target_docs_per_group=1000, n_term_buckets=8)
    idx_path = str(tmp_path / "idx")
    write_index(idx, idx_path, blocks=blocks, n_term_buckets=8)
    stored = StoredIndex(spark, idx_path)

    n_docs = docs.count()
    emb = _clustered(spark, n=n_docs)
    cent = _codebook(spark, emb)
    qvecs = _qvecs(spark, emb, n_queries=3)
    assigned = _persisted_lists(spark, emb, cent, str(tmp_path / "ivf_lists"))

    qlist = [(0, "def return"), (1, "cache buffer"), (2, "import os")]
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], r["rrf_q"]) for r in df.collect()
    )
    want = key(stored.search_hybrid(qlist, qvecs, emb, k=5, centroids=cent))
    got = key(stored.search_hybrid(qlist, qvecs, assigned, k=5, centroids=cent))
    assert got == want
