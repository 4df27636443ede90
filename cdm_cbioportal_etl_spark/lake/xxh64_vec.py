"""Vectorized (numpy) xxHash64 matching Spark's ``F.xxhash64`` bit-for-bit.

This is the engine's one hash kernel outside the JVM.  The DataSource
writer task hashes millions of rows per task, where a per-row Python
hash loop was the measured bottleneck (BENCH.md
"DataSource writer throughput": 413K ev/s pure-Python vs 854K with the
JVM ``_bucket`` fast path).  This module removes that loop: the same
XXH64 algorithm (public spec, https://github.com/Cyan4973/xxHash) with
Spark's type-dependent encoding, computed over whole numpy arrays with
a per-ROW seed vector (Catalyst chains columns by feeding the previous
digest in as the next column's seed, so vectorizing a multi-column
hash needs vector seeds).  The DataSource planner and
``LakeTable.point_lookup`` run the same kernel on one-row arrays for a
looked-up key's bucket and bloom probes.

Shape of the byte-path vectorization: rows are padded into one
``(n_rows, pad)`` uint8 matrix viewed as little-endian u64/u32 words;
the 32-byte stripe loop runs ``max(n_blocks)`` masked iterations (not
``n_rows``), and the ≤31-byte tail runs a fixed ≤3+1+3 masked steps.
Python-level iteration count is O(longest key in the batch / 32),
independent of row count.

Correctness: tests/test_xxh64_vec.py asserts bit-equality against the
scalar oracle tests/xxh64_ref.py (itself asserted bit-equal to the JVM in
tests/test_xxh64.py) over randomized draws on every type path,
including the empty/4/8/31/32/33-byte edge shapes and null chaining.
Never edit constants or rounds without re-running both tests — the
lake's physical layout is keyed on this hash.
"""

from __future__ import annotations

import numpy as np

_U = np.uint64
_P1 = _U(0x9E3779B185EBCA87)
_P2 = _U(0xC2B2AE3D27D4EB4F)
_P3 = _U(0x165667B19E3779F9)
_P4 = _U(0x85EBCA77C2B2AE63)
_P5 = _U(0x27D4EB2F165667C5)
_M32 = _U(0xFFFFFFFF)

SPARK_SEED = 42


def _rotl(x, r):
    r = _U(r)
    return (x << r) | (x >> (_U(64) - r))


def _fmix(h):
    h = h ^ (h >> _U(33))
    h = h * _P2
    h = h ^ (h >> _U(29))
    h = h * _P3
    h = h ^ (h >> _U(32))
    return h


def _round(acc, inp):
    return _rotl(acc + inp * _P2, 31) * _P1


def _merge_round(h, v):
    return (h ^ _round(np.zeros_like(v), v)) * _P1 + _P4


def hash_int_vec(values: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """4-byte primitive path; ``values`` uint64 holding the unsigned
    32-bit pattern (mask negatives with & 0xFFFFFFFF before calling)."""
    h = seed + _P5 + _U(4)
    h = h ^ (values * _P1)
    h = _rotl(h, 23) * _P2 + _P3
    return _fmix(h)


def hash_long_vec(values: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """8-byte primitive path; ``values`` uint64 (two's-complement)."""
    h = seed + _P5 + _U(8)
    h = h ^ (_rotl(values * _P2, 31) * _P1)
    h = _rotl(h, 27) * _P1 + _P4
    return _fmix(h)


def hash_bytes_vec(
    u8: np.ndarray, lens: np.ndarray, seed: np.ndarray
) -> np.ndarray:
    """Byte-array path over a padded ``(n, pad)`` uint8 matrix (``pad``
    a multiple of 8, zero-filled past each row's ``lens[i]``).  Matches
    the scalar oracle's hash_bytes row-wise; masked word reads past a row's length
    read zero padding and are discarded by the mask."""
    n, pad = u8.shape
    u64 = u8.view("<u8")
    u32 = u8.view("<u4")
    length = lens.astype(np.int64)
    big = length >= 32
    nb = np.where(big, (length - 32) // 32 + 1, 0)
    max_nb = int(nb.max()) if n else 0

    v1 = seed + _P1 + _P2
    v2 = seed + _P2
    v3 = seed.copy()
    v4 = seed - _P1
    for j in range(max_nb):
        m = nb > j
        base = 4 * j
        v1 = np.where(m, _round(v1, u64[:, base]), v1)
        v2 = np.where(m, _round(v2, u64[:, base + 1]), v2)
        v3 = np.where(m, _round(v3, u64[:, base + 2]), v3)
        v4 = np.where(m, _round(v4, u64[:, base + 3]), v4)
    hb = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
    hb = _merge_round(hb, v1)
    hb = _merge_round(hb, v2)
    hb = _merge_round(hb, v3)
    hb = _merge_round(hb, v4)
    h = np.where(big, hb, seed + _P5)
    h = h + length.astype(_U)

    off_w = nb * 4  # u64 word index after the stripe loop (32B-aligned)
    rem = length - nb * 32  # 0..31
    n8 = rem // 8  # 0..3 full 8-byte words in the tail
    wcap = np.int64(pad // 8 - 1)
    for j in range(3):
        m = n8 > j
        idx = np.minimum(off_w + j, wcap)
        k1 = np.take_along_axis(u64, idx[:, None], axis=1)[:, 0]
        h = np.where(m, _rotl(h ^ _round(np.zeros_like(k1), k1), 27)
                     * _P1 + _P4, h)
    off4 = off_w * 2 + n8 * 2  # u32 index (8B-aligned byte offset / 4)
    rem4 = rem - n8 * 8  # 0..7
    m4 = rem4 >= 4
    idx4 = np.minimum(off4, np.int64(pad // 4 - 1))
    k32 = np.take_along_axis(u32, idx4[:, None], axis=1)[:, 0].astype(_U)
    h4 = _rotl(h ^ (k32 * _P1), 23) * _P2 + _P3
    h = np.where(m4, h4, h)
    offb = off_w * 8 + n8 * 8 + np.where(m4, 4, 0)  # byte offset
    remb = rem4 - np.where(m4, 4, 0)  # 0..3
    bcap = np.int64(pad - 1)
    for j in range(3):
        m = remb > j
        idxb = np.minimum(offb + j, bcap)
        kb = np.take_along_axis(u8, idxb[:, None], axis=1)[:, 0].astype(_U)
        h = np.where(m, _rotl(h ^ (kb * _P5), 11) * _P1, h)
    return _fmix(h)


def pack_bytes_matrix(data: np.ndarray, starts: np.ndarray,
                      lens: np.ndarray) -> np.ndarray:
    """Scatter variable-length byte slices (``data[starts[i] :
    starts[i]+lens[i]]``) into one zero-padded ``(n, pad)`` uint8
    matrix, ``pad`` a multiple of 8 — O(total bytes), no Python loop."""
    n = len(lens)
    max_len = int(lens.max()) if n else 0
    pad = max(8, ((max_len + 7) // 8) * 8)
    out = np.zeros((n, pad), dtype=np.uint8)
    tot = int(lens.sum())
    if tot:
        # row index for each flat output byte WITHOUT ragged np.repeat
        # (np.repeat with per-element counts measured 3 s at 4M rows;
        # searchsorted + gathers run the same mapping in ~0.1 s)
        ends = np.cumsum(lens, dtype=np.int64)
        pos = np.arange(tot, dtype=np.int64)
        row = np.searchsorted(ends, pos, side="right")
        col = pos - (ends[row] - lens[row])
        out[row, col] = data[starts[row] + col]
    return out


_INT_KINDS = frozenset(("byte", "short", "integer", "date"))
_LONG_KINDS = frozenset(("long", "timestamp", "timestamp_ntz"))

# budget for the dense (n_rows, pad) padded byte matrix: past this, rows
# are length-sorted and hashed in chunks so ONE oversized key value
# cannot inflate memory/work to O(n_rows x max_key_len) — an executor
# OOM on skewed keys otherwise
_MATRIX_CAP = 1 << 28  # 256 MB


def _hash_bytes_chunked(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray,
    seed: np.ndarray,
) -> np.ndarray:
    """Length-grouped fallback for skewed key sizes: sort rows by byte
    length, then greedily emit chunks where ``chunk_rows * chunk_pad``
    stays under ``_MATRIX_CAP`` (chunk_pad = the chunk's LONGEST row,
    8-aligned).  Each chunk hashes through the same vectorized stripe
    kernel; results scatter back by row index.  Cost is O(total bytes)
    plus one argsort — only taken when the dense single-matrix path
    would exceed the cap."""
    n = len(lens)
    out = np.empty(n, dtype=_U)
    order = np.argsort(lens, kind="stable")
    slens = lens[order]
    p = np.maximum(8, ((slens + 7) // 8) * 8)  # per-row 8-aligned pad
    # max rows a chunk ENDING at sorted-pos k can hold: CAP // p[k]
    # (p is the chunk's pad since rows are length-sorted).  The minimal
    # legal chunk START for end k is f[k] = k + 1 - CAP // p[k]; f is
    # non-decreasing, so each chunk end is one searchsorted away.
    cap_rows = np.maximum(1, _MATRIX_CAP // p)
    f = np.arange(1, n + 1, dtype=np.int64) - cap_rows
    i = 0
    while i < n:
        k = int(np.searchsorted(f, i, side="right")) - 1
        k = max(k, i)  # a single over-cap row still forms its own chunk
        idx = order[i: k + 1]
        u8 = pack_bytes_matrix(data, starts[idx], lens[idx])
        out[idx] = hash_bytes_vec(u8, lens[idx], seed[idx])
        i = k + 1
    return out


def _arrow_string_parts(arr):
    """(data_u8, starts, lens) views of an Arrow string/binary array's
    value buffer — zero-copy, offsets handled for both 32/64-bit."""
    import pyarrow as pa

    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odt = np.int64
    else:
        odt = np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[
        arr.offset: arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    lens = offs[1:] - offs[:-1]
    return data, offs[:-1], lens


def _column_hash(arr, type_name: str, seed: np.ndarray) -> np.ndarray:
    """Hash ONE Arrow array with per-row seeds; null rows return an
    arbitrary value the caller must mask out (Spark skips nulls in the
    chain — the caller keeps the previous digest for those rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_dictionary(arr.type):
        # Arrow batches may arrive dictionary-encoded for low-cardinality
        # columns; the buffer-level paths below need the flat encoding
        arr = arr.dictionary_decode()
    t = type_name
    if t == "string":
        # Arrow-native padding: ascii_rpad is BYTE-wise on UTF-8 (width
        # counts bytes, verified in tests) and runs ~50x faster than a
        # numpy ragged scatter at 4M rows.  Padding every row to one
        # width makes the value buffer a dense (n, pad) matrix — a
        # zero-copy reshape, no per-byte index math.
        filled = pc.fill_null(arr, "")
        lens = (
            pc.binary_length(filled)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        n = len(filled)
        max_len = int(lens.max()) if n else 0
        pad = max(8, ((max_len + 7) // 8) * 8)
        if n * pad > _MATRIX_CAP:
            # one oversized key value must not inflate the dense matrix
            # to O(n x max_len) — hash length-grouped row chunks instead
            data, starts, lens2 = _arrow_string_parts(filled)
            return _hash_bytes_chunked(data, starts, lens2, seed)
        padded = pc.ascii_rpad(filled, width=pad, padding="\x00")
        odt = (
            np.int64
            if pa.types.is_large_string(padded.type)
            else np.int32
        )
        off0 = int(
            np.frombuffer(padded.buffers()[1], dtype=odt)[padded.offset]
        )
        data = np.frombuffer(padded.buffers()[2], dtype=np.uint8)
        u8 = data[off0: off0 + n * pad].reshape(n, pad)
        return hash_bytes_vec(u8, lens, seed)
    if t == "binary":
        filled = pc.fill_null(arr, b"")
        data, starts, lens = _arrow_string_parts(filled)
        n = len(lens)
        max_len = int(lens.max()) if n else 0
        pad = max(8, ((max_len + 7) // 8) * 8)
        if n * pad > _MATRIX_CAP:
            return _hash_bytes_chunked(data, starts, lens, seed)
        u8 = pack_bytes_matrix(data, starts, lens)
        return hash_bytes_vec(u8, lens, seed)
    filled = pc.fill_null(arr, 0) if t != "boolean" else pc.fill_null(
        arr, False
    )
    if t in _LONG_KINDS:
        if pa.types.is_timestamp(arr.type):
            filled = filled.cast(pa.int64())
        v = filled.to_numpy(zero_copy_only=False).astype(np.int64)
        return hash_long_vec(v.astype(_U), seed)
    if t in _INT_KINDS:
        if pa.types.is_date(arr.type):
            filled = filled.cast(pa.int32())
        v = filled.to_numpy(zero_copy_only=False).astype(np.int64)
        return hash_int_vec(v.astype(_U) & _M32, seed)
    if t == "boolean":
        v = filled.to_numpy(zero_copy_only=False).astype(np.int64)
        return hash_int_vec(v.astype(_U) & _M32, seed)
    if t == "float":
        v = filled.to_numpy(zero_copy_only=False).astype(np.float32)
        v = np.where(v == 0.0, np.float32(0.0), v)  # -0.0 -> 0.0
        bits = v.view(np.int32).astype(np.int64)
        return hash_int_vec(bits.astype(_U) & _M32, seed)
    if t == "double":
        v = filled.to_numpy(zero_copy_only=False).astype(np.float64)
        v = np.where(v == 0.0, 0.0, v)
        bits = v.view(np.int64)
        return hash_long_vec(bits.astype(_U), seed)
    raise TypeError(f"xxhash64_vec: unsupported Spark type {t!r}")


def xxhash64_arrow(arrays, type_names, seed: int = SPARK_SEED) -> np.ndarray:
    """Spark-semantics multi-column xxhash64 over aligned Arrow arrays:
    chain one hash per non-null value, previous digest as the next
    seed, initial seed 42.  Returns SIGNED int64 (``F.xxhash64``'s
    output) — one element per row."""
    import pyarrow.compute as pc

    n = len(arrays[0]) if arrays else 0
    h = np.full(n, _U(seed), dtype=_U)
    for arr, t in zip(arrays, type_names):
        with np.errstate(over="ignore"):
            cand = _column_hash(arr, t, h)
        if arr.null_count:
            isnull = pc.is_null(arr).to_numpy(zero_copy_only=False)
            h = np.where(isnull, h, cand)
        else:
            h = cand
    return h.view(np.int64)


def pmod_vec(signed: np.ndarray, n: int) -> np.ndarray:
    """Spark pmod for vector signed int64, positive n (numpy ``%``
    already yields non-negative results for positive divisors)."""
    return signed % np.int64(n)
