"""Codec roundtrip tests (SURVEY §5.2 item 3)."""

import numpy as np
import pytest

from goldenretriever_spark.index import codec


@pytest.mark.parametrize("seed", range(5))
def test_varint_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    # mix magnitudes so every varint length 1..10 bytes occurs
    vals = rng.integers(0, 2**63, size=1000, dtype=np.uint64) >> rng.integers(
        0, 63, size=1000, dtype=np.uint64
    )
    assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_varint_edge_values():
    vals = np.array([0, 1, 127, 128, 2**14 - 1, 2**14, 2**63, 2**64 - 1], dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_varint_empty():
    assert codec.varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0


@pytest.mark.parametrize("seed", range(5))
def test_delta_roundtrip_signed_sorted(seed):
    rng = np.random.default_rng(seed)
    # signed int64 across the full range incl. negatives (xxhash64 doc_ids)
    ids = np.sort(rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64))
    out = codec.delta_decode_sorted_ids(codec.delta_encode_sorted_ids(ids))
    assert np.array_equal(out, ids)


def test_delta_extreme_span():
    ids = np.array([-(2**63), -1, 0, 1, 2**63 - 1], dtype=np.int64)
    out = codec.delta_decode_sorted_ids(codec.delta_encode_sorted_ids(ids))
    assert np.array_equal(out, ids)


def test_tf_roundtrip():
    tfs = np.array([1, 1, 2, 300, 70000], dtype=np.int64)
    assert np.array_equal(codec.decode_tfs(codec.encode_tfs(tfs)), tfs)


def test_compression_is_compact():
    # dense sorted run of small gaps must be ~1-2 bytes/id, not 8
    ids = np.arange(0, 100_000, 3, dtype=np.int64)
    buf = codec.delta_encode_sorted_ids(ids)
    assert len(buf) < ids.size * 2


def test_grouped_encode_bit_identical_to_per_block():
    """varint_encode_grouped + delta_encode_grouped must reproduce the
    per-block encoders byte for byte on random sorted runs."""
    from goldenretriever_spark.index.codec import (
        delta_encode_grouped,
        delta_encode_sorted_ids,
        encode_tfs,
        varint_encode_grouped,
    )

    rng = np.random.default_rng(7)
    ids = np.sort(rng.integers(-(2**62), 2**62, 1000, dtype=np.int64))
    tfs = rng.integers(1, 5000, 1000, dtype=np.int64)
    starts = np.array([0, 3, 130, 131, 500, 999], dtype=np.int64)
    ends = np.append(starts[1:], 1000)
    # per-run ids must be sorted (they are: slices of a sorted array)
    got_ids = varint_encode_grouped(delta_encode_grouped(ids, starts), starts, ends)
    got_tfs = varint_encode_grouped(tfs.astype(np.uint64), starts, ends)
    for i, (s, e) in enumerate(zip(starts, ends)):
        assert got_ids[i] == delta_encode_sorted_ids(ids[s:e]), i
        assert got_tfs[i] == encode_tfs(tfs[s:e]), i


def test_grouped_decode_matches_per_block():
    """varint_decode_many + delta_decode_grouped must reproduce the per-block
    decoders exactly, including empty buffers in any position."""
    from goldenretriever_spark.index.codec import (
        delta_decode_grouped,
        delta_decode_sorted_ids,
        delta_encode_sorted_ids,
        varint_decode,
        varint_decode_many,
        varint_encode,
    )

    rng = np.random.default_rng(11)
    runs = [
        np.sort(rng.integers(-(2**62), 2**62, n, dtype=np.int64))
        for n in (1, 128, 7, 0, 300, 1)
    ]
    bufs = [delta_encode_sorted_ids(r) for r in runs]
    deltas, counts = varint_decode_many(bufs)
    assert counts.tolist() == [len(r) for r in runs]
    ids = delta_decode_grouped(deltas, counts)
    expect = np.concatenate([delta_decode_sorted_ids(b) for b in bufs])
    assert (ids == expect).all()

    tf_runs = [rng.integers(1, 10**9, n).astype(np.uint64) for n in (0, 5, 128, 2)]
    tf_bufs = [varint_encode(r) for r in tf_runs]
    vals, cnts = varint_decode_many(tf_bufs)
    assert cnts.tolist() == [len(r) for r in tf_runs]
    assert (vals == np.concatenate([varint_decode(b) for b in tf_bufs])).all()


def test_delta_decode_grouped_zero_count_runs():
    """ADVICE r3 (low): varint_decode_many can legitimately return zero
    counts (empty buffers, including trailing ones); delta_decode_grouped
    must handle them instead of indexing out of bounds."""
    from goldenretriever_spark.index.codec import (
        delta_decode_grouped,
        delta_encode_sorted_ids,
        varint_decode_many,
    )

    runs = [[5, 7, 12], [], [3], [], []]  # empty + trailing empty buffers
    bufs = [
        bytes(delta_encode_sorted_ids(np.array(r, dtype=np.int64))) for r in runs
    ]
    deltas, counts = varint_decode_many(bufs)
    assert counts.tolist() == [3, 0, 1, 0, 0]
    out = delta_decode_grouped(deltas, counts)
    assert out.tolist() == [5, 7, 12, 3]
    # all-empty input
    deltas2, counts2 = varint_decode_many([b"", b""])
    assert delta_decode_grouped(deltas2, counts2).tolist() == []
