"""Phrase search over positional postings (query/phrase.py).

Cross-checks the stored path (positional blocks packed from the rows'
postings, fused decode + start-vote) against the scan path (single array
expression) and against a pure-Python sliding-window reference on
randomized corpora, plus the overlap / duplicate-term / short-doc edge
cases; each test checks all its phrases in one stored and one scan action.
The postings' positions equal a pure-Python tokenization, and position
arrays roundtrip through the grouped delta-varint codec (positions are
sorted ints exactly like doc-id runs, so the same storage format applies).
The batched start-vote equals the per-phrase path, and phrase-boosted
ranking equals the pure-Python reference through both of its entry points.
"""

import random
from functools import lru_cache, reduce

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goldenretriever_spark.index.positions import pack_positional_blocks
from goldenretriever_spark.query.phrase import (
    phrase_match_scan,
    phrase_match_stored,
    phrase_match_stored_batch,
    proximity_match_scan,
    proximity_match_stored,
)


def _py_occurrences(tokens: list[str], phrase: list[str]) -> int:
    n = len(phrase)
    if len(tokens) < n:
        return 0
    return sum(1 for s in range(len(tokens) - n + 1) if tokens[s : s + n] == phrase)


def _tokens(text: str) -> list[str]:
    return [t for t in text.lower().strip().split() if t]


def _docs(spark, rows):
    return spark.createDataFrame(list(rows), "doc_id long, text string")


@lru_cache(maxsize=2)
def _built(spark, rows: tuple):
    """The tiny rows' positional blocks, packed from their index's postings
    with 4-doc blocks so a term's postings span several blocks, and the
    index's doc_stats (the blocks' docno -> doc_id lookup)."""
    from goldenretriever_spark.index.build import build_index

    content = _docs(spark, rows).withColumnRenamed("text", "content")
    idx = build_index(content, persist=False)
    blocks = pack_positional_blocks(
        content, postings=idx.postings, n_term_buckets=4, block_docs=4
    ).localCheckpoint(eager=True)
    return blocks, idx.doc_stats


def _tagged(frames):
    """Per-query frames -> one frame with their list index as query_id."""
    return reduce(
        DataFrame.unionByName,
        [f.select(F.lit(q).cast("long").alias("query_id"), "*") for q, f in enumerate(frames)],
    )


def _by_query(frame, n: int) -> list[list[tuple]]:
    """One collect of (query_id, doc_id, count) rows -> per query id
    0..n-1, its sorted (doc_id, count) pairs."""
    out = [[] for _ in range(n)]
    for q, d, c in frame.select("query_id", "doc_id", F.col(frame.columns[-1])).collect():
        out[q].append((d, c))
    return [sorted(r) for r in out]


def _stored(spark, rows: tuple, match, n: int):
    """A batch of stored matches over the rows' blocks, docnos mapped to
    doc_ids, in one action."""
    from goldenretriever_spark.index.storage import to_doc_ids

    blocks, doc_stats = _built(spark, rows)
    return _by_query(to_doc_ids(match(blocks), doc_stats), n)


def _check(spark, rows, phrases):
    """Per phrase, stored == scan == the pure-Python reference; the stored
    and the scan matches of all ``phrases`` are each one action. Returns
    the references."""
    rows = tuple(rows)
    docs = _docs(spark, rows)
    n = len(phrases)
    stored = _stored(
        spark, rows, lambda b: phrase_match_stored_batch(b, list(enumerate(phrases))), n
    )
    scan = _by_query(_tagged([phrase_match_scan(docs, ph) for ph in phrases]), n)
    refs = [
        sorted(
            (d, _py_occurrences(_tokens(t), ph))
            for d, t in rows
            if _py_occurrences(_tokens(t), ph) > 0
        )
        for ph in phrases
    ]
    for ph, st, sc, ref in zip(phrases, stored, scan, refs):
        assert st == sc == ref, ph
    return refs


def test_phrase_overlapping_and_duplicates(spark):
    rows = [
        (1, "a a a a"),          # 'a a' occurs 3x (overlapping)
        (2, "a b a b a"),        # 'a b a' occurs 2x (overlapping)
        (3, "x y z"),
        (4, "a"),                # shorter than any phrase
        (5, ""),
    ]
    assert _check(spark, rows, [["a", "a"], ["a", "b", "a"], ["x", "y", "z"], ["q"]]) == [
        [(1, 3)],
        [(2, 2)],
        [(3, 1)],
        [],
    ]


def test_phrase_single_term_equals_tf(spark):
    rows = [(1, "w v w w"), (2, "v v"), (3, "")]
    assert _check(spark, rows, [["w"]]) == [[(1, 3)]]


def test_phrase_randomized_cross_check(spark):
    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(80)
    ]
    _check(spark, rows, [["aa", "bb"], ["bb", "bb"], ["aa", "bb", "cc"], ["dd"]])


def test_phrase_case_and_whitespace_normalization(spark):
    rows = [(1, "  Foo\tBAR  \n baz"), (2, "foo bar")]
    assert _check(spark, rows, [["foo", "bar"]]) == [[(1, 1), (2, 1)]]


def test_phrase_empty_raises(spark):
    rows = ((1, "a"),)
    with pytest.raises(ValueError):
        phrase_match_stored(_built(spark, rows)[0], [])
    with pytest.raises(ValueError):
        phrase_match_scan(_docs(spark, rows), [])


def test_postings_positions(spark):
    """The postings carry each (term, doc)'s sorted 0-based token
    positions, the one source of both block tables: equal to a pure-Python
    tokenization, with repeated terms and an empty doc."""
    from goldenretriever_spark.index.build import build_index

    rows = [(1, "a b a"), (2, "B c  b b"), (3, "")]
    content = _docs(spark, rows).withColumnRenamed("text", "content")
    got = sorted(
        (r["term"], r["doc_id"], r["tf"], list(r["positions"]))
        for r in build_index(content, persist=False).postings.collect()
    )
    want = []
    for d, text in rows:
        toks = _tokens(text)
        for t in set(toks):
            pos = [i for i, u in enumerate(toks) if u == t]
            want.append((t, d, len(pos), pos))
    assert got == sorted(want)


def test_positions_roundtrip_codec():
    """Position runs persist with the SAME grouped delta-varint codec as
    doc-id runs: sorted non-negative ints, delta-gap then varint, grouped by
    (term, doc) run — the storage format for a persisted positional index."""
    from goldenretriever_spark.index.codec import (
        delta_decode_grouped,
        delta_encode_grouped,
        varint_decode_many,
        varint_encode_grouped,
    )

    rng = np.random.default_rng(11)
    runs = [np.sort(rng.choice(10_000, size=n, replace=False)) for n in (1, 5, 400)]
    flat = np.concatenate(runs).astype(np.int64)
    run_starts = np.cumsum([0] + [len(r) for r in runs[:-1]]).astype(np.int64)
    run_ends = np.append(run_starts[1:], len(flat)).astype(np.int64)
    deltas = delta_encode_grouped(flat, run_starts)
    bufs = varint_encode_grouped(deltas, run_starts, run_ends)
    dec, counts = varint_decode_many(bufs)
    back = delta_decode_grouped(dec, counts)
    assert np.array_equal(back, flat)


# ---------------------------------------------------------------- proximity


def _py_windows(tokens: list[str], terms: list[str], w: int) -> int:
    tset = sorted(set(terms))
    return sum(
        1 for s in range(len(tokens)) if all(t in tokens[s : s + w] for t in tset)
    )


def _check_prox(spark, rows, cases):
    """Per (terms, window) case, stored == scan == the pure-Python
    reference; the stored and the scan matches of all ``cases`` are each
    one action (a union of per-case frames tagged by case). Returns the
    references."""
    rows = tuple(rows)
    docs = _docs(spark, rows)
    n = len(cases)
    stored = _stored(
        spark,
        rows,
        lambda b: _tagged([proximity_match_stored(b, terms, w) for terms, w in cases]),
        n,
    )
    scan = _by_query(
        _tagged([proximity_match_scan(docs, terms, w) for terms, w in cases]), n
    )
    refs = [
        sorted(
            (d, _py_windows(_tokens(t), terms, w))
            for d, t in rows
            if _py_windows(_tokens(t), terms, w) > 0
        )
        for terms, w in cases
    ]
    for case, st, sc, ref in zip(cases, stored, scan, refs):
        assert st == sc == ref, case
    return refs


def test_proximity_basic_and_truncation(spark):
    rows = [
        (1, "a x x b"),       # a..b span 4 -> window 4 hits at start 0 only
        (2, "b a"),           # order-free; window 2 start 0; start 1 truncates
        (3, "a x x x x b"),   # span 6 > window 4
        (4, "a b a"),         # multiple satisfying starts
        (5, ""),
    ]
    assert _check_prox(spark, rows, [(["a", "b"], 4), (["a", "b"], 2), (["a", "b"], 6)]) == [
        [(1, 1), (2, 1), (4, 2)],
        [(2, 1), (4, 2)],
        [(1, 1), (2, 1), (3, 1), (4, 2)],
    ]


def test_proximity_duplicate_terms_set_semantics(spark):
    # duplicate query terms collapse to the distinct set
    rows = [(1, "a b"), (2, "a a")]
    assert _check_prox(spark, rows, [(["a", "a", "b"], 3), (["a", "a"], 1)]) == [
        [(1, 1)],
        [(1, 1), (2, 2)],
    ]


def test_proximity_window_too_small_for_terms(spark):
    # 3 distinct terms can never fit a 2-token window
    rows = [(1, "a b c")]
    assert _check_prox(spark, rows, [(["a", "b", "c"], 2), (["a", "b", "c"], 3)]) == [
        [],
        [(1, 1)],
    ]


def test_proximity_randomized_cross_check(spark):
    rng = random.Random(13)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(60)
    ]
    _check_prox(
        spark,
        rows,
        [(["aa", "bb"], 3), (["aa", "bb", "cc"], 5), (["dd"], 1), (["ee", "aa"], 10)],
    )


def test_proximity_invalid_args(spark):
    rows = ((1, "a"),)
    blocks = _built(spark, rows)[0]
    with pytest.raises(ValueError):
        proximity_match_stored(blocks, [], 3)
    with pytest.raises(ValueError):
        proximity_match_stored(blocks, ["a"], 0)
    with pytest.raises(ValueError):
        proximity_match_scan(_docs(spark, rows), ["a"], 0)


# ---------------------------------------------------------------- batches and ranking

def test_phrase_batch_equals_per_phrase(spark):
    """The batched start-vote must reproduce the per-phrase stored path
    exactly — including overlapping occurrences and duplicate-term
    phrases — while paying one decode for the whole batch."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.build import with_doc_ids

    docs = with_doc_ids(spark.createDataFrame(corpus.synth_corpus_pandas(150, seed=9)))
    blocks = pack_positional_blocks(docs, n_term_buckets=8).cache()
    batch = [
        (0, ["def", "return"]),
        (1, ["#", "todo"]),
        (2, ["def", "return", "def"]),   # duplicate-term phrase
        (3, ["zzz_absent", "def"]),      # no matches
    ]
    got = sorted(
        map(tuple, phrase_match_stored_batch(blocks, batch, n_term_buckets=8).collect())
    )
    want = sorted(
        (qid, r["doc_id"], r["occurrences"])
        for qid, ph in batch
        for r in phrase_match_stored(blocks, ph, n_term_buckets=8).collect()
    )
    blocks.unpersist()
    assert got == want
    assert any(q == 0 for q, _, _ in got), "batch must have real matches"


PHRASE_SETS = {
    "with_absent": [(0, ["def", "return"]), (1, ["#", "todo"]), (2, ["zzz_absent"])],
    "with_duplicate": [(1, ["def", "def"]), (2, ["return", "None"]), (3, ["for", "i", "in"])],
}


@pytest.fixture(scope="module")
def ranked(spark, tmp_path_factory):
    """The 150-doc seed-13 corpus behind both phrase-ranked entry points:
    the pure-Python reference's index and token lists over it, and each
    entry's ranker (phrases -> (query_id, rank, doc_id, score_q) rows, with
    the entry's k). ``stored_index`` is StoredIndex.phrase_ranked over a
    persisted index of 32-doc blocks; ``frames`` is
    phrase_ranked_topk_stored over in-memory 16-doc blocks with salted
    positional groups, its docnos mapped to doc_ids."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index, with_doc_ids
    from goldenretriever_spark.index.storage import StoredIndex, to_doc_ids, write_index
    from goldenretriever_spark.oracle import build_oracle_index, simple_tokenize_text
    from goldenretriever_spark.query.phrase import phrase_ranked_topk_stored

    raw = spark.createDataFrame(corpus.synth_corpus_pandas(150, seed=13))
    docs = with_doc_ids(raw)
    content = {r["doc_id"]: r["content"] for r in docs.select("doc_id", "content").collect()}
    oidx = build_oracle_index(list(content.items()))
    toks = {d: simple_tokenize_text(c) for d, c in content.items()}

    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=32, target_docs_per_group=1000, n_term_buckets=8)
    pos = pack_positional_blocks(docs, postings=idx.postings, n_term_buckets=8)
    idx_path = str(tmp_path_factory.mktemp("phrase_ranked") / "idx")
    write_index(idx, idx_path, blocks=blocks, n_term_buckets=8, positional=pos)
    stored = StoredIndex(spark, idx_path)

    mem = build_index(raw, tokenizer="simple")
    mem_pos = pack_positional_blocks(
        raw, tokenizer="simple", postings=mem.postings,
        target_positions_per_group=512, n_term_buckets=8, block_docs=16,
    )
    mem_blocks = pack_blocks(mem, block_size=16, target_docs_per_group=200, n_term_buckets=8)

    def frames(phrases, k):
        return to_doc_ids(
            phrase_ranked_topk_stored(
                spark, mem_blocks, mem.corpus_stats, mem_pos, phrases,
                k=k, boost=1.0, n_term_buckets=8,
            ),
            mem.doc_stats,
        )

    rankers = {
        "stored_index": (lambda phrases, k: stored.phrase_ranked(phrases, k=k), 5),
        "frames": (frames, 10),
    }
    return oidx, toks, rankers


@pytest.mark.parametrize("phrase_set", list(PHRASE_SETS))
@pytest.mark.parametrize("entry", ["stored_index", "frames"])
def test_phrase_ranked_equals_reference(ranked, entry, phrase_set):
    """Phrase-boosted BM25 top-k from compressed posting blocks plus
    positional blocks (no raw postings anywhere) == the pure-Python
    reference (oracle.phrase_ranked_top_k: oracle BM25 over the phrase
    terms + sliding-window exact occurrence count, boosted by
    1.0*ln(1+occ), quantized x10000, score-desc/doc_id-asc top-k): full
    rank identity including quantized scores and tie-breaks."""
    from goldenretriever_spark.oracle import phrase_ranked_top_k

    oidx, toks, rankers = ranked
    run, k = rankers[entry]
    phrases = PHRASE_SETS[phrase_set]
    want = sorted(
        (qid, rank, d, sq)
        for qid, ph in phrases
        for rank, d, sq in phrase_ranked_top_k(oidx, toks, ph, k=k, boost=1.0)
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_q"])
        for r in run(phrases, k).collect()
    )
    assert got == want
    assert any(q == phrases[0][0] for q, _, _, _ in got)
