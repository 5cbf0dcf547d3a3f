"""Driver-side twin of Spark's ``xxhash64`` expression (XXH64, seed 42).

The stored-index layout partitions by ``term_bucket = pmod(xxhash64(term),
B)``. Query paths prune partitions by that bucket id; until r7 they computed
it with a one-row Spark job (createDataFrame -> pmod(xxhash64(...)) ->
collect) — ~100 ms of job overhead on EVERY stored-path call, a measurable
slice of interactive serve latency (BENCH/SERVE_LATENCY.json).

This module implements the public XXH64 algorithm (Yann Collet,
https://github.com/Cyan4973/xxHash — the spec Spark's
``org.apache.spark.sql.catalyst.expressions.XxHash64`` implements) in pure
Python over the string's UTF-8 bytes, so the bucket id costs nanoseconds and
zero Spark jobs. Equality with the JVM expression is pytest-locked over a
vocabulary sample (tests/test_xxh64.py) — build-time and query-time hashing
MUST agree or pruning silently drops buckets, which is why the twin is
tested, not trusted.
"""

from __future__ import annotations

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42  # Spark's fixed seed for the xxhash64 SQL expression


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of ``data`` -> unsigned 64-bit int."""
    n = len(data)
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        i = 0
        for i in range(0, n - 31, 32):
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
        i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = ((h * _P1) + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
        i = 0
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = ((_rotl(h, 23) * _P2) + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def spark_xxhash64(s: str, seed: int = SPARK_SEED) -> int:
    """Signed-int64 twin of Spark's ``xxhash64(string)`` expression."""
    h = xxh64(s.encode("utf-8"), seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int) -> int:
    """Twin of ``pmod(xxhash64(term), n_buckets)`` — Python's ``%`` on a
    positive modulus already returns a non-negative value, matching pmod."""
    return spark_xxhash64(term) % n_buckets


def term_buckets(terms, n_buckets: int) -> list[int]:
    """Sorted distinct bucket ids for a term collection."""
    return sorted({term_bucket(t, n_buckets) for t in terms})
