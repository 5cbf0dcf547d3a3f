"""Persisted positional index (index/positions.py): pack/decode roundtrip,
stored-vs-scan identity for phrase and proximity search, StoredIndex
integration with term-bucket pruning, and block invariants under forced
salting/small blocks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from goldenretriever_spark import corpus
from goldenretriever_spark.index.codec import decode_position_blocks
from goldenretriever_spark.index.positions import pack_positional_blocks
from goldenretriever_spark.index.storage import prune_blocks_for_terms
from goldenretriever_spark.query.phrase import (
    phrase_match_scan,
    phrase_match_stored,
    proximity_match_scan,
    proximity_match_stored,
)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """120-doc synthetic corpus + packed positional blocks, with tiny blocks
    and a tiny salt target so multi-block and multi-salt paths are real,
    + the corpus' doc_stats (the blocks' docno -> doc_id lookup)."""
    from goldenretriever_spark.index.build import build_index

    raw = spark.createDataFrame(corpus.synth_corpus_pandas(120, seed=31))
    blocks = pack_positional_blocks(
        raw,
        tokenizer="simple",
        target_positions_per_group=64,
        n_term_buckets=8,
        block_docs=16,
    ).localCheckpoint(eager=True)
    return raw, blocks, build_index(raw, persist=False).doc_stats


def _rows(df, doc_stats=None):
    """Sorted row tuples; with ``doc_stats``, block docnos mapped to doc_ids."""
    from goldenretriever_spark.index.storage import to_doc_ids

    if doc_stats is not None:
        df = to_doc_ids(df, doc_stats)
    return sorted(map(tuple, df.collect()))


def test_pack_decode_roundtrip(spark, built):
    """decode(pack(corpus)) must reproduce the corpus' posexplode token
    rows bit-exactly — every (term, doc_id, pos) token occurrence. The
    collected blocks are decoded by codec.decode_position_blocks."""
    from goldenretriever_spark.index.build import with_doc_ids
    from goldenretriever_spark.tokenizer import tokens_column

    raw, blocks, doc_stats = built

    expected = _rows(
        with_doc_ids(raw)
        .select("doc_id", F.posexplode(tokens_column(F.col("content"), "simple")))
        .select(F.col("col").alias("term"), "doc_id", "pos")
    )
    rows = blocks.collect()
    doc_per_pos, positions, pos_per_block = decode_position_blocks(
        [r["docnos_delta_varint"] for r in rows],
        [r["pos_counts_varint"] for r in rows],
        [r["positions_delta_varint"] for r in rows],
    )
    doc_id_of = dict(doc_stats.select("docno", "doc_id").collect())
    got = sorted(
        zip(
            np.repeat([r["term"] for r in rows], pos_per_block).tolist(),
            [doc_id_of[d] for d in doc_per_pos.tolist()],
            positions.tolist(),
        )
    )
    assert got == expected
    assert len(got) > 1000  # non-trivial corpus


def test_block_invariants(built):
    _, blocks, _ = built
    rows = blocks.collect()
    assert rows, "no blocks packed"
    multi_salt_terms = set()
    for r in rows:
        assert 1 <= r["n"] <= 16
        assert r["docno_min"] <= r["docno_max"]
        assert 0 <= r["term_bucket"] < 8
        if r["salt"] > 0:
            multi_salt_terms.add(r["term"])
    # the tiny target forces hot terms into >1 salt group
    assert multi_salt_terms, "salting never engaged at target=64"
    # block_id unique per term (salt-major ordering)
    seen = set()
    for r in rows:
        key = (r["term"], r["block_id"])
        assert key not in seen
        seen.add(key)


PHRASES = [
    ["def", "def"],            # duplicate-term phrase, overlapping counts
    ["return", "None"],
    ["for", "i", "in"],
]


def test_stored_phrase_matches_scan(spark, built):
    raw, blocks, doc_stats = built
    docs = raw.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
    for ph in PHRASES:
        scan = _rows(phrase_match_scan(docs, ph, text_col="content"))
        stored = _rows(phrase_match_stored(blocks, ph, n_term_buckets=8), doc_stats)
        assert stored == scan, f"phrase {ph} diverged"
    # at least one of the fixed phrases must actually match something
    assert any(
        _rows(phrase_match_stored(blocks, ph, n_term_buckets=8)) for ph in PHRASES
    )


def test_stored_proximity_matches_scan(spark, built):
    raw, blocks, doc_stats = built
    docs = raw.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
    cases = [(["def", "return"], 6), (["for", "in", "range"], 5)]
    for terms, w in cases:
        scan = _rows(proximity_match_scan(docs, terms, w, text_col="content"))
        stored = _rows(proximity_match_stored(blocks, terms, w, n_term_buckets=8), doc_stats)
        assert stored == scan, f"proximity {terms} w={w} diverged"


def test_bucket_pruning_is_lossless(spark, built):
    """Pruning to the query terms' buckets must not change results vs an
    unpruned term filter (the bucket filter is a superset restriction)."""
    _, blocks, _ = built
    ph = ["return", "None"]
    unpruned = _rows(phrase_match_stored(blocks, ph, n_term_buckets=None))
    pruned = _rows(phrase_match_stored(blocks, ph, n_term_buckets=8))
    assert pruned == unpruned
    # and the pruned frame really is term-restricted
    terms = {
        r["term"]
        for r in prune_blocks_for_terms(blocks, sorted(set(ph)), 8)
        .select("term").distinct().collect()
    }
    assert terms <= set(ph)


def test_stored_index_phrase_end_to_end(spark, tmp_path):
    """Full persistence loop: build -> write_index(positional=...) ->
    StoredIndex.phrase/proximity from disk, pruned by the persisted
    n_term_buckets, identical to the scan twins."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    raw = spark.createDataFrame(corpus.synth_corpus_pandas(80, seed=7))
    idx = build_index(raw, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=50)
    positional = pack_positional_blocks(
        raw, tokenizer="simple", postings=idx.postings,
        target_positions_per_group=500, n_term_buckets=8, block_docs=16,
    )
    path = str(tmp_path / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=8, positional=positional)

    stored = StoredIndex(spark, path)
    assert stored.has_positional()
    docs = with_doc_ids(raw).select("doc_id", "content")
    ph = ["return", "None"]
    assert _rows(stored.phrase(ph)) == _rows(
        phrase_match_scan(docs, ph, text_col="content")
    )
    terms, w = ["def", "return"], 8
    assert _rows(stored.proximity(terms, w)) == _rows(
        proximity_match_scan(docs, terms, w, text_col="content")
    )


def test_has_positional_false_without_blocks(spark, tmp_path):
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    raw = spark.createDataFrame(corpus.synth_corpus_pandas(20, seed=9))
    idx = build_index(raw, tokenizer="simple")
    path = str(tmp_path / "idx")
    write_index(idx, path, blocks=pack_blocks(idx), n_term_buckets=8)
    assert not StoredIndex(spark, path).has_positional()
