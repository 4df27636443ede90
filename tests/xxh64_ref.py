"""Pure-Python xxHash64 matching Spark's ``F.xxhash64`` bit-for-bit:
the reference oracle for the engine's vectorised kernel.

The lake's physical layout is keyed on Spark's xxhash64 — hash-bucket
assignment is ``pmod(xxhash64(*keys), n_buckets)`` (table.py
``_bucket_expr``) and the per-file bloom probes are
``xxhash64(*keys, i)`` for ``i in range(k)`` (``_bloom_hash_exprs``).
Code outside the JVM (the DataSource writer's bucket assignment, the
DataSource planner's and ``point_lookup``'s bucket and bloom probes)
computes these with ``lake/xxh64_vec.py``.  This scalar port is the
readable one-value-at-a-time statement of the same algorithm, kept
only as the test oracle between the two: tests/test_xxh64.py asserts
it bit-equal to the JVM, tests/test_xxh64_vec.py asserts the vectorised
kernel bit-equal to it.

This implements the standard XXH64 algorithm (public spec,
https://github.com/Cyan4973/xxHash) with Spark's type-dependent input
encoding (one chained hash per column, previous digest as the next
seed, initial seed 42 — the semantics of Catalyst's XxHash64
expression).  Integral types byte/short/int hash via the 4-byte
primitive path, long via the 8-byte path, boolean as int 1/0, float /
double via their IEEE bit patterns (−0.0 normalized to 0.0), string as
its UTF-8 bytes, binary as raw bytes — all little-endian, exactly as
the JVM implementation reads words.
"""

from __future__ import annotations

import struct

_M = 0xFFFFFFFFFFFFFFFF  # 64-bit wrap
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42  # Catalyst XxHash64's default expression seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def hash_int(value: int, seed: int) -> int:
    """4-byte primitive path (int/short/byte/date/boolean/float-bits).
    ``value`` is the signed 32-bit pattern; negatives are masked like the
    JVM's ``input & 0xFFFFFFFFL``."""
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def hash_long(value: int, seed: int) -> int:
    """8-byte primitive path (long/timestamp/double-bits)."""
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((value & _M) * _P2 & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def hash_bytes(data: bytes, seed: int) -> int:
    """Byte-array path (string UTF-8 / binary), little-endian words."""
    length = len(data)
    off, end = 0, length
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        limit = end - 32
        while off <= limit:
            w1, w2, w3, w4 = struct.unpack_from("<4Q", data, off)
            v1 = _round(v1, w1)
            v2 = _round(v2, w2)
            v3 = _round(v3, w3)
            v4 = _round(v4, w4)
            off += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + length) & _M
    while off + 8 <= end:
        (k1,) = struct.unpack_from("<Q", data, off)
        h ^= _round(0, k1)
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        off += 8
    if off + 4 <= end:
        (k1,) = struct.unpack_from("<I", data, off)
        h ^= (k1 * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        off += 4
    while off < end:
        h ^= (data[off] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        off += 1
    return _fmix(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


_INT_KINDS = frozenset(("byte", "short", "integer", "date"))
_LONG_KINDS = frozenset(("long", "timestamp", "timestamp_ntz"))


def xxhash64(values, type_names, seed: int = SPARK_SEED) -> int:
    """Spark-semantics multi-column xxhash64: chain one hash per non-null
    value with the running digest as the seed, return a SIGNED 64-bit int
    (what ``F.xxhash64`` yields).  ``type_names`` are Spark
    ``DataType.typeName()`` strings aligned with ``values``.

    Raises TypeError on types this port does not cover."""
    h = seed & _M
    for v, t in zip(values, type_names):
        if v is None:
            continue
        if t in _LONG_KINDS:
            h = hash_long(int(v), h)
        elif t in _INT_KINDS:
            h = hash_int(int(v), h)
        elif t == "boolean":
            h = hash_int(1 if v else 0, h)
        elif t == "string":
            h = hash_bytes(str(v).encode("utf-8"), h)
        elif t == "binary":
            h = hash_bytes(bytes(v), h)
        elif t == "float":
            f = 0.0 if v == 0.0 else float(v)  # -0.0 -> 0.0, like Spark
            h = hash_int(struct.unpack("<i", struct.pack("<f", f))[0], h)
        elif t == "double":
            d = 0.0 if v == 0.0 else float(v)
            h = hash_long(struct.unpack("<q", struct.pack("<d", d))[0], h)
        else:
            raise TypeError(f"xxhash64: unsupported Spark type {t!r}")
    return _to_signed(h)


def pmod(a: int, n: int) -> int:
    """Spark's pmod for signed a, positive n — identical to Python's %
    for positive n, kept named for readability at call sites."""
    return a % n
