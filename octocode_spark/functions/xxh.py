"""Pure-Python twin of Spark's ``xxhash64`` expression for driver-side
constant folding (query-time LSH signatures, deterministic sampling checks).

Spark's XxHash64 hashes a row by CHAINING per-field hashes: starting from the
seed (default 42), each non-null field is folded with the XXH64 single-value
routine for its width (ints via the 4-byte tail path, longs via the 8-byte
tail path). XXH64 itself is public domain (Yann Collet); the tail-processing
constants/rotations below are from the published spec.

Bit-equality with the JVM implementation is pinned by
tests/test_zorder.py::test_python_xxhash64_matches_jvm.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _hash_long(value: int, seed: int) -> int:
    h = (seed + _P5 + 8) & _M
    k1 = (value & _M) * _P2 & _M
    k1 = (_rotl(k1, 31) * _P1) & _M
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _hash_int(value: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def xxhash64_longs(*values: int, seed: int = 42) -> int:
    """Spark ``F.xxhash64(lit(v1).cast('long'), ...)`` — signed 64-bit out."""
    h = seed & _M
    for v in values:
        h = _hash_long(v, h)
    return _to_signed(h)


def xxhash64_ints(*values: int, seed: int = 42) -> int:
    """Spark ``F.xxhash64(lit(v1), ...)`` over IntegerType columns."""
    h = seed & _M
    for v in values:
        h = _hash_int(v, h)
    return _to_signed(h)

