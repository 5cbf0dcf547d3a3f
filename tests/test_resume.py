"""Resume-equivalence (SURVEY §5.2 item 5): kill the build mid-way, resume
from checkpoints, and assert the final index tables equal a clean build."""

import pytest
from pyspark.sql import functions as F

from goldenretriever_spark import corpus
from goldenretriever_spark.index.checkpoint import build_resumable, done_buckets
from goldenretriever_spark.index.storage import StoredIndex

N_DOCS = 150
N_BUCKETS = 8


def _blocks_snapshot(spark, path):
    rows = (
        StoredIndex(spark, path)
        .posting_blocks.select(
            "term", "salt", "block_id", "n", "df", "docno_min", "docno_max",
            "block_max_tf_norm", "docnos_delta_varint", "tfs_varint",
        )
        .collect()
    )
    return sorted(
        (
            r["term"], r["salt"], r["block_id"], r["n"], r["df"],
            r["docno_min"], r["docno_max"], round(r["block_max_tf_norm"], 12),
            bytes(r["docnos_delta_varint"]), bytes(r["tfs_varint"]),
        )
        for r in rows
    )


def test_resume_equals_clean_build(spark, tmp_path):
    docs = spark.createDataFrame(corpus.synth_corpus_pandas(N_DOCS, seed=3))

    clean_path = str(tmp_path / "clean")
    build_resumable(
        spark, docs, clean_path, n_term_buckets=N_BUCKETS, n_groups=4,
        block_size=16, target_docs_per_group=64,
    )

    crash_path = str(tmp_path / "crashy")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_resumable(
            spark, docs, crash_path, n_term_buckets=N_BUCKETS, n_groups=4,
            block_size=16, target_docs_per_group=64, fail_after_group=2,
        )

    done_mid = done_buckets(spark, crash_path)
    assert done_mid, "crash run should have checkpointed at least one group"
    assert len([b for b in done_mid if b >= 0]) < N_BUCKETS, "crash happened too late to test resume"

    # resume: must skip done buckets and finish the rest
    build_resumable(
        spark, docs, crash_path, n_term_buckets=N_BUCKETS, n_groups=4,
        block_size=16, target_docs_per_group=64,
    )
    assert {b for b in done_buckets(spark, crash_path) if b >= 0} == set(range(N_BUCKETS))

    assert _blocks_snapshot(spark, crash_path) == _blocks_snapshot(spark, clean_path)

    # stats tables equal too
    for tbl in ("doc_stats", "corpus_stats", "term_stats"):
        a = sorted(map(tuple, spark.read.parquet(f"{clean_path}/{tbl}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{crash_path}/{tbl}").drop("term_bucket").collect())) if tbl == "term_stats" else sorted(map(tuple, spark.read.parquet(f"{crash_path}/{tbl}").collect()))
        a2 = sorted(map(tuple, spark.read.parquet(f"{clean_path}/{tbl}").drop("term_bucket").collect())) if tbl == "term_stats" else a
        assert a2 == b, f"{tbl} differs between clean and resumed builds"


def test_lineage_and_checkpoints_written(spark, tmp_path):
    docs = spark.createDataFrame(corpus.synth_corpus_pandas(60, seed=4))
    path = str(tmp_path / "idx")
    build_resumable(spark, docs, path, n_term_buckets=4, n_groups=2,
                    block_size=16, target_docs_per_group=64)
    cp = spark.read.parquet(f"{path}/_checkpoints")
    assert cp.filter(F.col("status") == "done").count() >= 4
    lin = spark.read.parquet(f"{path}/_lineage")
    stages = {r["stage"] for r in lin.collect()}
    assert "stage_enriched" in stages and "build_total" in stages
    assert lin.filter(F.col("wall_ms") < 0).count() == 0
