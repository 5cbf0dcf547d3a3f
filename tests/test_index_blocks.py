"""Compressed posting blocks: pack/decode identity, salting, block bounds."""

import pytest
from pyspark.sql import functions as F

from goldenretriever_spark import corpus
from goldenretriever_spark.index.blocks import decode_blocks, pack_blocks
from goldenretriever_spark.index.build import build_index

N_DOCS = 200


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.createDataFrame(corpus.synth_corpus_pandas(N_DOCS, seed=7))
    idx = build_index(docs, tokenizer="code")
    idx.postings.cache().count()
    idx.doc_stats.cache().count()
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=50).cache()
    blocks.count()
    return idx, blocks


def test_roundtrip_blocks_equal_postings(built, spark):
    idx, blocks = built
    decoded = decode_blocks(blocks)
    # the blocks hold docnos, which the decoders emit as doc_id
    orig = {(r["term"], r["docno"]): r["tf"] for r in idx.postings.collect()}
    got = {(r["term"], r["doc_id"]): r["tf"] for r in decoded.collect()}
    assert got == orig


def test_hot_terms_are_salted(built):
    idx, blocks = built
    # target_docs_per_group=50 -> any term with df>50 must span multiple salts
    hot = blocks.groupBy("term").agg(
        F.max("df").alias("df"), F.countDistinct("salt").alias("n_salts")
    )
    for r in hot.collect():
        if r["df"] > 100:
            assert r["n_salts"] > 1, f"hot term {r['term']} (df={r['df']}) not salted"
        assert r["n_salts"] <= max(1, -(-r["df"] // 50)) + 1


def test_salt_ranges_are_disjoint_and_ordered(built):
    _, blocks = built
    rows = blocks.select("term", "salt", "docno_min", "docno_max").collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append((r["salt"], r["docno_min"], r["docno_max"]))
    for term, bl in by_term.items():
        bl.sort()
        # blocks ordered by (salt, min) must have non-overlapping id ranges
        prev_max = None
        for _, lo, hi in sorted(bl, key=lambda x: (x[0], x[1])):
            assert lo <= hi
            if prev_max is not None:
                assert lo > prev_max, f"overlapping block ranges for term {term}"
            prev_max = hi


def test_block_sizes_bounded(built):
    _, blocks = built
    assert blocks.filter(F.col("n") > 16).count() == 0
    assert blocks.filter(F.col("n") < 1).count() == 0


def test_block_max_bound_is_tight(built, spark):
    """block_max_tf_norm must be >= every decoded doc's tf_norm in the block
    and equal to the max (exact bound, not an over-approximation)."""
    import math

    idx, blocks = built
    avgdl = idx.corpus_stats.collect()[0]["avgdl"]
    dl = {r["docno"]: r["doc_len"] for r in idx.doc_stats.collect()}
    from goldenretriever_spark.index.codec import delta_decode_sorted_ids, varint_decode

    for r in blocks.limit(200).collect():
        ids = delta_decode_sorted_ids(bytes(r["docnos_delta_varint"]))
        tfs = varint_decode(bytes(r["tfs_varint"]))
        norms = [
            tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl[d] / avgdl))
            for d, tf in zip(ids.tolist(), tfs.tolist())
        ]
        assert math.isclose(max(norms), r["block_max_tf_norm"], rel_tol=1e-12)


@pytest.mark.parametrize("packer", ["posting", "positional"])
def test_pack_survives_excess_partitions(spark, packer):
    """P >> occupied (term,salt) slots leaves empty shuffle partitions; the
    shared pack exchange must skip them, not crash on pd.concat([])."""
    from goldenretriever_spark.index.blocks import enriched_postings, pack_enriched
    from goldenretriever_spark.index.positions import pack_positional_blocks

    docs = spark.createDataFrame(corpus.synth_corpus_pandas(5, seed=3))
    idx = build_index(docs, persist=False)
    conf = spark.conf
    saved = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "64")
    try:
        if packer == "posting":
            avgdl = float(idx.corpus_stats.collect()[0]["avgdl"])
            blocks = pack_enriched(enriched_postings(idx), avgdl)
        else:
            blocks = pack_positional_blocks(docs, postings=idx.postings)
        assert blocks.count() > 0
    finally:
        conf.set("spark.sql.shuffle.partitions", saved)
