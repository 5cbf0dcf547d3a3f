"""Delta-gap + varint (LEB128) block codec, numpy-vectorized.

Replaces the reference's pickle-an-Annoy-index persistence
(/root/reference/src/prebuilt_index.py:44-72) with a compressed columnar
posting format: sorted int64 docno runs are delta-gapped then varint-packed
into a BinaryType column; term frequencies are varint-packed directly.

All encode/decode work is whole-array numpy (no per-value Python loops):
encode fans out over the ≤10 possible varint byte positions, decode walks the
same ≤10 positions with boolean masks. Runs inside applyInPandas workers.

This module is the one reader of the block format: the query-side workers
call the batch decoders at the end (:func:`decode_doc_ids`,
:func:`decode_varints`, :func:`decode_position_blocks`), which take a batch's
blob column as a pandas Series and return flat numpy arrays. The per-block
functions stay as the reference the grouped ones are tested against.

Signed-int64 handling: doc_ids sort in *signed* order everywhere (the engine's
tie-break discipline). A format-v2 index stores docnos, each doc_id's dense
rank in that order (0..n-1), so its block runs are small non-negative ints
whose gaps take 1-2 varint bytes. The codec stays general: deltas of any
ascending signed int64 run can exceed int64 range but are exact modulo 2^64,
so diffs are viewed as uint64 and decode rebuilds via wrapping cumsum —
bit-exact roundtrip for any sorted signed input, which the streaming store's
hash-id segments still rely on.
"""

from __future__ import annotations

import numpy as np

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized, ≤10 passes)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += (v >= t).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(nbytes)[:-1]])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[mask] + j] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.nonzero(is_end)[0]
    starts = np.concatenate([[0], ends[:-1] + 1])
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return vals


def delta_encode_sorted_ids(doc_ids: np.ndarray) -> bytes:
    """Encode a signed-int64 ascending-sorted id run: first value stored as its
    raw 64-bit pattern, the rest as wrapping uint64 deltas, all varint-packed."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    deltas = np.empty(ids.size, dtype=np.uint64)
    deltas[0] = ids[0:1].view(np.uint64)[0]
    if ids.size > 1:
        deltas[1:] = np.diff(ids).view(np.uint64)
    return varint_encode(deltas)


def delta_decode_sorted_ids(buf: bytes) -> np.ndarray:
    """Inverse of delta_encode_sorted_ids -> int64 array."""
    deltas = varint_decode(buf)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    with np.errstate(over="ignore"):
        acc = np.cumsum(deltas, dtype=np.uint64)
    return acc.view(np.int64)


def encode_tfs(tfs: np.ndarray) -> bytes:
    """Varint-pack term frequencies (small positive ints -> ~1 byte each)."""
    return varint_encode(np.ascontiguousarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return varint_decode(buf).astype(np.int64)


def varint_encode_grouped(
    values: np.ndarray, run_starts: np.ndarray, run_ends: np.ndarray
) -> list[bytes]:
    """LEB128-encode MANY value runs in one vectorized pass.

    Bit-identical to ``b"".join == varint_encode(values[s:e])`` per run, but
    the threshold/scatter passes execute once over the whole array instead of
    once per run — the per-call numpy overhead (~tens of µs) dominates for
    128-value blocks, and a 10^6-block partition pays it 3x per block without
    this. Returns one bytes object per (run_starts[i], run_ends[i]) slice.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b"" for _ in range(len(run_starts))]
    nbytes = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += (v >= t).astype(np.int64)
    byte_off = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_off[1:])
    out = np.zeros(int(byte_off[-1]), dtype=np.uint8)
    offsets = byte_off[:-1]
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[mask] + j] = chunk.astype(np.uint8) | cont
    buf = out.tobytes()
    return [
        buf[byte_off[s] : byte_off[e]] for s, e in zip(run_starts, run_ends)
    ]


def delta_encode_grouped(doc_ids: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """Per-run delta transform in one pass: each run's first value keeps its
    raw 64-bit pattern, later values become wrapping uint64 diffs — exactly
    ``delta_encode_sorted_ids``'s pre-varint transform applied run-wise."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    deltas = np.empty(ids.size, dtype=np.uint64)
    if ids.size == 0:
        return deltas
    deltas[0] = ids[0:1].view(np.uint64)[0]
    if ids.size > 1:
        deltas[1:] = np.diff(ids).view(np.uint64)
    deltas[run_starts] = ids[run_starts].view(np.uint64)
    return deltas


def varint_decode_many(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY varint buffers in one vectorized pass.

    Returns (values, counts): all buffers' values concatenated in order, and
    the number of values each buffer contributed. The per-call numpy overhead
    of varint_decode dominates for 128-value block buffers; an unpruned
    stored-index scan decodes ~10^6 of them, 3 columns each — batching the
    passes removes that per-block cost entirely.
    """
    byte_lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    joined = b"".join(bufs)
    vals = varint_decode(joined)
    b = np.frombuffer(joined, dtype=np.uint8)
    # values per buffer = end-bytes (high bit clear) inside its byte range
    cum_ends = np.zeros(b.size + 1, dtype=np.int64)
    np.cumsum((b & 0x80) == 0, out=cum_ends[1:])
    boundaries = np.cumsum(byte_lens)
    counts = np.diff(np.concatenate([[0], cum_ends[boundaries]]))
    return vals, counts


def delta_decode_grouped(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Inverse of delta_encode_grouped for concatenated runs: wrapping-cumsum
    with a reset at each run start (run i holds counts[i] values), returning
    signed int64 ids — bit-identical to per-run delta_decode_sorted_ids."""
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    with np.errstate(over="ignore"):
        acc = np.cumsum(deltas, dtype=np.uint64)
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        # prepend 0 AND keep acc[-1] so cum0 has size+1 entries: zero-count
        # runs (empty varint buffers, possibly trailing) yield starts up to
        # deltas.size, which would index out of bounds otherwise — they
        # repeat 0 times so any in-range base value is fine
        cum0 = np.concatenate([[np.uint64(0)], acc])
        base = np.repeat(cum0[starts], counts)
        return (acc - base).view(np.int64)


def _buffers(blobs) -> list[bytes]:
    """An Arrow batch's binary column (pandas Series of bytes-likes) as
    the list of buffers :func:`varint_decode_many` joins."""
    return [bytes(x) for x in blobs]


def decode_varints(blobs) -> np.ndarray:
    """A batch of plain varint blobs (tfs, doc lengths, position counts)
    -> all their values concatenated in row order, uint64."""
    return varint_decode_many(_buffers(blobs))[0]


def decode_doc_ids(blobs) -> tuple[np.ndarray, np.ndarray]:
    """A batch of delta-varint doc-id blobs -> ``(ids, docs_per_block)``:
    the signed int64 ids concatenated in row order, and each row's count."""
    deltas, counts = varint_decode_many(_buffers(blobs))
    return delta_decode_grouped(deltas, counts), counts


def decode_position_blocks(
    doc_id_blobs, pos_count_blobs, position_blobs
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A batch of positional blocks -> ``(doc_per_pos, positions,
    pos_per_block)``: one doc id and one token position per decoded
    position, doc-major in row order, and how many positions each row holds.
    Positions are delta-encoded with a reset at every doc boundary, so the
    per-doc counts (== tf) delimit their runs."""
    ids, docs_per_block = decode_doc_ids(doc_id_blobs)
    counts = decode_varints(pos_count_blobs).astype(np.int64)
    positions = delta_decode_grouped(
        varint_decode_many(_buffers(position_blobs))[0], counts
    )
    # positions per block = Σ per-doc counts, segmented by block
    pos_per_block = np.diff(_offsets(counts)[_offsets(docs_per_block)])
    return np.repeat(ids, counts), positions, pos_per_block


def _offsets(counts: np.ndarray) -> np.ndarray:
    """Run start offsets with the total appended: [0, c0, c0+c1, ...]."""
    out = np.zeros(counts.size + 1, dtype=np.int64)
    np.cumsum(counts, out=out[1:])
    return out
