"""Phrase search over positional postings (query/phrase.py).

Cross-checks the stored path (positional blocks packed from the rows,
fused decode + start-vote) against the scan path (single array expression)
and against a pure-Python sliding-window reference on randomized corpora,
plus the overlap / duplicate-term / short-doc edge cases, plus a roundtrip
of position arrays through the grouped delta-varint codec (positions are
sorted ints exactly like doc-id runs, so the same storage format applies).
"""

import random
from functools import lru_cache

import numpy as np
import pytest

from goldenretriever_spark.index.positions import pack_positional_blocks, positional_rows
from goldenretriever_spark.query.phrase import (
    phrase_match_scan,
    phrase_match_stored,
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
def _blocks(spark, rows: tuple):
    """Positional blocks packed from the tiny rows; 4-doc blocks so a term's
    postings span several blocks."""
    content = _docs(spark, rows).withColumnRenamed("text", "content")
    return pack_positional_blocks(content, n_term_buckets=4, block_docs=4).localCheckpoint(
        eager=True
    )


@lru_cache(maxsize=2)
def _doc_stats(spark, rows: tuple):
    """The tiny rows' doc_stats: their docno -> doc_id lookup."""
    from goldenretriever_spark.index.build import build_index

    content = _docs(spark, rows).withColumnRenamed("text", "content")
    return build_index(content, persist=False).doc_stats


def _stored(spark, rows: tuple, match):
    """A stored match over the rows' blocks, docnos mapped to doc_ids."""
    from goldenretriever_spark.index.storage import to_doc_ids

    return sorted(
        map(tuple, to_doc_ids(match(_blocks(spark, rows)), _doc_stats(spark, rows)).collect())
    )


def _check(spark, rows, phrase):
    rows = tuple(rows)
    docs = _docs(spark, rows)
    stored = _stored(spark, rows, lambda b: phrase_match_stored(b, phrase))
    scan = sorted(map(tuple, phrase_match_scan(docs, phrase).collect()))
    ref = sorted(
        (d, _py_occurrences(_tokens(t), phrase))
        for d, t in rows
        if _py_occurrences(_tokens(t), phrase) > 0
    )
    assert stored == scan == ref
    return ref


def test_phrase_overlapping_and_duplicates(spark):
    rows = [
        (1, "a a a a"),          # 'a a' occurs 3x (overlapping)
        (2, "a b a b a"),        # 'a b a' occurs 2x (overlapping)
        (3, "x y z"),
        (4, "a"),                # shorter than any phrase
        (5, ""),
    ]
    assert _check(spark, rows, ["a", "a"]) == [(1, 3)]
    assert _check(spark, rows, ["a", "b", "a"]) == [(2, 2)]
    assert _check(spark, rows, ["x", "y", "z"]) == [(3, 1)]
    assert _check(spark, rows, ["q"]) == []


def test_phrase_single_term_equals_tf(spark):
    rows = [(1, "w v w w"), (2, "v v"), (3, "")]
    assert _check(spark, rows, ["w"]) == [(1, 3)]


def test_phrase_randomized_cross_check(spark):
    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(80)
    ]
    for phrase in (["aa", "bb"], ["bb", "bb"], ["aa", "bb", "cc"], ["dd"]):
        _check(spark, rows, phrase)


def test_phrase_case_and_whitespace_normalization(spark):
    rows = [(1, "  Foo\tBAR  \n baz"), (2, "foo bar")]
    assert _check(spark, rows, ["foo", "bar"]) == [(1, 1), (2, 1)]


def test_phrase_empty_raises(spark):
    rows = ((1, "a"),)
    with pytest.raises(ValueError):
        phrase_match_stored(_blocks(spark, rows), [])
    with pytest.raises(ValueError):
        phrase_match_scan(_docs(spark, rows), [])


def test_positional_rows_positions(spark):
    docs = _docs(spark, [(1, "a b a")]).withColumnRenamed("text", "content")
    got = sorted(map(tuple, positional_rows(docs).collect()))
    assert got == [("a", 1, 0), ("a", 1, 2), ("b", 1, 1)]


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


def _check_prox(spark, rows, terms, w):
    rows = tuple(rows)
    docs = _docs(spark, rows)
    stored = _stored(spark, rows, lambda b: proximity_match_stored(b, terms, w))
    scan = sorted(map(tuple, proximity_match_scan(docs, terms, w).collect()))
    ref = sorted(
        (d, _py_windows(_tokens(t), terms, w))
        for d, t in rows
        if _py_windows(_tokens(t), terms, w) > 0
    )
    assert stored == scan == ref
    return ref


def test_proximity_basic_and_truncation(spark):
    rows = [
        (1, "a x x b"),       # a..b span 4 -> window 4 hits at start 0 only
        (2, "b a"),           # order-free; window 2 start 0; start 1 truncates
        (3, "a x x x x b"),   # span 6 > window 4
        (4, "a b a"),         # multiple satisfying starts
        (5, ""),
    ]
    assert _check_prox(spark, rows, ["a", "b"], 4) == [(1, 1), (2, 1), (4, 2)]
    assert _check_prox(spark, rows, ["a", "b"], 2) == [(2, 1), (4, 2)]
    assert _check_prox(spark, rows, ["a", "b"], 6) == [
        (1, 1),
        (2, 1),
        (3, 1),
        (4, 2),
    ]


def test_proximity_duplicate_terms_set_semantics(spark):
    # duplicate query terms collapse to the distinct set
    rows = [(1, "a b"), (2, "a a")]
    assert _check_prox(spark, rows, ["a", "a", "b"], 3) == [(1, 1)]
    assert _check_prox(spark, rows, ["a", "a"], 1) == [(1, 1), (2, 2)]


def test_proximity_window_too_small_for_terms(spark):
    # 3 distinct terms can never fit a 2-token window
    rows = [(1, "a b c")]
    assert _check_prox(spark, rows, ["a", "b", "c"], 2) == []
    assert _check_prox(spark, rows, ["a", "b", "c"], 3) == [(1, 1)]


def test_proximity_randomized_cross_check(spark):
    rng = random.Random(13)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(60)
    ]
    for terms, w in (
        (["aa", "bb"], 3),
        (["aa", "bb", "cc"], 5),
        (["dd"], 1),
        (["ee", "aa"], 10),
    ):
        _check_prox(spark, rows, terms, w)


def test_proximity_invalid_args(spark):
    rows = ((1, "a"),)
    blocks = _blocks(spark, rows)
    with pytest.raises(ValueError):
        proximity_match_stored(blocks, [], 3)
    with pytest.raises(ValueError):
        proximity_match_stored(blocks, ["a"], 0)
    with pytest.raises(ValueError):
        proximity_match_scan(_docs(spark, rows), ["a"], 0)
