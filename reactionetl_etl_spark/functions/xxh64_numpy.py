"""Vectorized XXH64 in numpy — bit-compatible with Spark's `xxhash64`.

Spark's `xxhash64(col, ...)` expression is the reference xxHash64
algorithm (Collet, public domain; Spark's
`org.apache.spark.sql.catalyst.expressions.XXH64` is a line-for-line
Java port) evaluated little-endian over each child in sequence: the
running hash of child i becomes the SEED for child i+1, starting from
seed 42. Strings hash their UTF-8 bytes via the byte-array path;
integer literals hash via the 4-byte `hashInt` path.

This module reproduces those two paths over numpy arrays so that
Arrow-batched operators (the MinHash signature fold) can compute the
EXACT same 64-bit values Spark's JVM expression produces — the hash
values ARE the MinHash signatures, so any deviation changes query
output. Bit-identity is pinned by
tests/test_minhash_arrow.py::test_xxh64_numpy_matches_spark_all_tail_lengths
against live `F.xxhash64` evaluations, including every tail-length
class.

Everything is uint64 arithmetic with natural wraparound; numpy uint64
multiplication/addition wrap silently (no overflow warnings), which is
exactly the semantics the algorithm needs.
"""

from __future__ import annotations

import numpy as np

_U = np.uint64
_P1 = _U(0x9E3779B185EBCA87)
_P2 = _U(0xC2B2AE3D27D4EB4F)
_P3 = _U(0x165667B19E3779F9)
_P4 = _U(0x85EBCA77C2B2AE63)
_P5 = _U(0x27D4EB2F165667C5)
_MASK64 = (1 << 64) - 1


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _round(acc: np.ndarray, inp: np.ndarray) -> np.ndarray:
    return _rotl(acc + inp * _P2, 31) * _P1


def _avalanche(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U(33))
    h = h * _P2
    h = h ^ (h >> _U(29))
    h = h * _P3
    h = h ^ (h >> _U(32))
    return h


def _r64(m: np.ndarray, off: int) -> np.ndarray:
    return np.ascontiguousarray(m[:, off : off + 8]).view("<u8").ravel()


def _r32(m: np.ndarray, off: int) -> np.ndarray:
    return np.ascontiguousarray(m[:, off : off + 4]).view("<u4").ravel().astype(_U)


def _xxh64_fixed_len(m: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of every row of a (n, L) uint8 matrix (all inputs length
    L), little-endian, identical to the reference byte-array path."""
    n, length = m.shape
    off = 0
    if length >= 32:
        v1 = np.full(n, (seed + int(_P1) + int(_P2)) & _MASK64, dtype=_U)
        v2 = np.full(n, (seed + int(_P2)) & _MASK64, dtype=_U)
        v3 = np.full(n, seed & _MASK64, dtype=_U)
        v4 = np.full(n, (seed - int(_P1)) & _MASK64, dtype=_U)
        while off + 32 <= length:
            v1 = _round(v1, _r64(m, off))
            v2 = _round(v2, _r64(m, off + 8))
            v3 = _round(v3, _r64(m, off + 16))
            v4 = _round(v4, _r64(m, off + 24))
            off += 32
        h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ _round(np.zeros(n, dtype=_U), v)) * _P1 + _P4
    else:
        h = np.full(n, (seed + int(_P5)) & _MASK64, dtype=_U)
    h = h + _U(length)
    while off + 8 <= length:
        k1 = _rotl(_r64(m, off) * _P2, 31) * _P1
        h = _rotl(h ^ k1, 27) * _P1 + _P4
        off += 8
    if off + 4 <= length:
        h = _rotl(h ^ (_r32(m, off) * _P1), 23) * _P2 + _P3
        off += 4
    while off < length:
        h = _rotl(h ^ (m[:, off].astype(_U) * _P5), 11) * _P1
        off += 1
    return _avalanche(h)


def xxh64_slices(
    buf: np.ndarray, starts: np.ndarray, lengths: np.ndarray, seed: int = 42
) -> np.ndarray:
    """XXH64 (as uint64) of ``buf[starts[i] : starts[i]+lengths[i]]``
    for every i — vectorized by grouping slices of equal length into a
    (n, L) matrix and running the fixed-length kernel per class.

    ``buf`` must be a 1-D uint8 array; slices may overlap freely (the
    MinHash shingle case: every shingle is a window into one shared
    normalized-text buffer)."""
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    out = np.empty(len(starts), dtype=_U)
    for length in np.unique(lengths):
        sel = lengths == length
        ss = starts[sel]
        if length == 0:
            rows = np.empty((len(ss), 0), dtype=np.uint8)
        else:
            rows = buf[ss[:, None] + np.arange(length, dtype=np.int64)[None, :]]
        out[sel] = _xxh64_fixed_len(rows, seed)
    return out


def xxh64_chain_int(value: int, seeds: np.ndarray) -> np.ndarray:
    """Spark's `XXH64.hashInt` vectorized over an array of seeds: the
    hash of a 4-byte integer child given each row's running hash — how
    a trailing integer literal in `xxhash64(str_col, 42)` folds in."""
    h = seeds + _U((int(_P5) + 4) & _MASK64)
    h = h ^ _U(((value & 0xFFFFFFFF) * int(_P1)) & _MASK64)
    h = _rotl(h, 23) * _P2 + _P3
    return _avalanche(h)


def xxh64_chain_long(value: int, seeds: np.ndarray) -> np.ndarray:
    """Spark's `XXH64.hashLong` vectorized over an array of seeds — the
    8-byte integral-child fold (bigint literals/columns)."""
    h = seeds + _U((int(_P5) + 8) & _MASK64)
    k = _rotl(np.full(len(seeds), value & _MASK64, dtype=_U) * _P2, 31) * _P1
    h = _rotl(h ^ k, 27) * _P1 + _P4
    return _avalanche(h)
