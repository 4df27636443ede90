"""Vectorized xxhash64 (lake/xxh64_vec.py) vs the scalar oracle
(tests/xxh64_ref.py).

The scalar port is asserted bit-equal to the JVM's ``F.xxhash64`` in
tests/test_xxh64.py; this test closes the triangle by asserting the
numpy-vectorized implementation (the DataSource writer's bucket
assignment, the planner's and point_lookup's bucket and bloom probes)
is bit-equal to the scalar port over randomized draws on
every type path — including the byte-path edge shapes (empty, 4/8-byte
word tails, 31/32/33-byte stripe boundaries, multi-stripe), per-row
seed chaining across columns, and null skipping.  If either half ever
drifts, writer-assigned buckets would not match ``_bucket_expr`` and
reads would silently miss rows.
"""

import math
import random
import struct

import numpy as np
import pyarrow as pa
import pytest

from xxh64_ref import pmod, xxhash64
from cdm_cbioportal_etl_spark.lake.xxh64_vec import (
    pack_bytes_matrix,
    pmod_vec,
    xxhash64_arrow,
)

random.seed(0xBEEF)


def _strings(n=200):
    fixed = ["", "a", "ab", "abc", "abcd", "x" * 7, "x" * 8, "x" * 9,
             "y" * 31, "y" * 32, "y" * 33, "z" * 63, "z" * 64, "z" * 65,
             "w" * 100, "héllo wörld", "日本語テキスト" * 9,
             "\x00\x01\x02", "src/f00042.py"]
    rnd = ["".join(chr(random.randint(32, 0x10FF))
                   for _ in range(random.randint(0, 96)))
           for _ in range(n - len(fixed))]
    return fixed + rnd


def _check(arrow_arr, type_name, values):
    got = xxhash64_arrow([arrow_arr], [type_name])
    want = np.array(
        [xxhash64([v], [type_name]) for v in values], dtype=np.int64
    )
    np.testing.assert_array_equal(got, want)


def test_string_paths():
    vals = _strings()
    _check(pa.array(vals, type=pa.string()), "string", vals)


def test_large_string():
    vals = _strings(60)
    _check(pa.array(vals, type=pa.large_string()), "string", vals)


def test_binary():
    vals = [b"", b"\x00", b"abc", bytes(range(256)),
            bytes(random.getrandbits(8) for _ in range(33)),
            bytes(random.getrandbits(8) for _ in range(31))]
    _check(pa.array(vals, type=pa.binary()), "binary", vals)


def test_long():
    vals = [0, 1, -1, 2**63 - 1, -(2**63), 42] + [
        random.randint(-(2**63), 2**63 - 1) for _ in range(60)
    ]
    _check(pa.array(vals, type=pa.int64()), "long", vals)


def test_integer_short_byte_date():
    for tn, at, lo, hi in [
        ("integer", pa.int32(), -(2**31), 2**31 - 1),
        ("short", pa.int16(), -32768, 32767),
        ("byte", pa.int8(), -128, 127),
    ]:
        vals = [0, -1, lo, hi] + [
            random.randint(lo, hi) for _ in range(40)
        ]
        _check(pa.array(vals, type=at), tn, vals)
    days = [0, 1, -1, 19000] + [random.randint(-30000, 30000)
                                for _ in range(20)]
    got = xxhash64_arrow(
        [pa.array(days, type=pa.date32())], ["date"]
    )
    want = np.array([xxhash64([d], ["date"]) for d in days], np.int64)
    np.testing.assert_array_equal(got, want)


def test_boolean():
    vals = [True, False, True, True, False]
    _check(pa.array(vals, type=pa.bool_()), "boolean", vals)


def test_float_double():
    dvals = [0.0, -0.0, 1.5, -2.25, math.pi, 1e308, -1e-308,
             float("inf"), float("-inf")] + [
        struct.unpack("<d", struct.pack(
            "<q", random.randint(-(2**63), 2**63 - 1)))[0]
        for _ in range(30)
    ]
    dvals = [v for v in dvals if not (isinstance(v, float) and v != v)]
    _check(pa.array(dvals, type=pa.float64()), "double", dvals)
    fvals = [0.0, -0.0, 1.5, -2.25, float("inf")] + [
        struct.unpack("<f", struct.pack(
            "<i", random.randint(-(2**31), 2**31 - 1)))[0]
        for _ in range(30)
    ]
    fvals = [v for v in fvals if not (isinstance(v, float) and v != v)]
    _check(pa.array(fvals, type=pa.float32()), "float", fvals)


def test_timestamp_micros():
    micros = [0, 1, -1, 1_700_000_000_000_000] + [
        random.randint(-(2**50), 2**50) for _ in range(20)
    ]
    got = xxhash64_arrow(
        [pa.array(micros, type=pa.timestamp("us"))], ["timestamp"]
    )
    want = np.array(
        [xxhash64([m], ["timestamp"]) for m in micros], np.int64
    )
    np.testing.assert_array_equal(got, want)


def test_multi_column_chain_with_nulls():
    n = 300
    repos = [
        None if random.random() < 0.1
        else f"org{random.randint(0, 50)}/repo{random.randint(0, 99)}"
        for _ in range(n)
    ]
    paths = [
        None if random.random() < 0.1
        else f"src/dir{random.randint(0, 9)}/f{random.randint(0, 9999):05d}.py"
        for _ in range(n)
    ]
    nums = [
        None if random.random() < 0.1
        else random.randint(-(2**62), 2**62)
        for _ in range(n)
    ]
    arrays = [
        pa.array(repos, type=pa.string()),
        pa.array(nums, type=pa.int64()),
        pa.array(paths, type=pa.string()),
    ]
    types = ["string", "long", "string"]
    got = xxhash64_arrow(arrays, types)
    want = np.array(
        [xxhash64([r, m, p], types)
         for r, m, p in zip(repos, nums, paths)],
        dtype=np.int64,
    )
    np.testing.assert_array_equal(got, want)
    # bucket assignment parity (the actually load-bearing output)
    for nb in (1, 7, 32, 64):
        np.testing.assert_array_equal(
            pmod_vec(got, nb),
            np.array([pmod(int(w), nb) for w in want], np.int64),
        )


def test_all_null_rows_keep_seed():
    arrays = [pa.array([None, "x"], type=pa.string()),
              pa.array([None, None], type=pa.int64())]
    got = xxhash64_arrow(arrays, ["string", "long"])
    want = np.array(
        [xxhash64([None, None], ["string", "long"]),
         xxhash64(["x", None], ["string", "long"])], np.int64)
    np.testing.assert_array_equal(got, want)


def test_sliced_arrow_array_offsets():
    vals = _strings(80)
    arr = pa.array(vals, type=pa.string()).slice(13, 41)
    sub = vals[13:54]
    _check(arr, "string", sub)


def test_pack_bytes_matrix_shapes():
    data = np.frombuffer(b"abcdefghij", dtype=np.uint8)
    starts = np.array([0, 3, 3, 9], dtype=np.int64)
    lens = np.array([3, 0, 6, 1], dtype=np.int64)
    m = pack_bytes_matrix(data, starts, lens)
    assert m.shape == (4, 8)
    assert bytes(m[0, :3]) == b"abc"
    assert m[1].sum() == 0
    assert bytes(m[2, :6]) == b"defghi"
    assert bytes(m[3, :1]) == b"j"


def test_dictionary_encoded_arrays_decode():
    vals = ["org/repo-1", "org/repo-2", None, "org/repo-1", ""]
    plain = pa.array(vals, type=pa.string())
    dict_arr = plain.dictionary_encode()
    got = xxhash64_arrow([dict_arr], ["string"])
    want = xxhash64_arrow([plain], ["string"])
    np.testing.assert_array_equal(got, want)
    ints = pa.array([5, 5, 7, None], type=pa.int64()).dictionary_encode()
    got_i = xxhash64_arrow([ints], ["long"])
    want_i = xxhash64_arrow(
        [pa.array([5, 5, 7, None], type=pa.int64())], ["long"]
    )
    np.testing.assert_array_equal(got_i, want_i)


def test_direct_jvm_equality_multistripe(spark):
    """Close the triangle DIRECTLY: vectorized hash vs F.xxhash64 on
    3K random (string, long) rows with string lengths up to ~1 KB —
    dozens of 32-byte stripes per row, the path the short-key pools
    above exercise only at the 33/64-byte boundary.  (A 100K-row /
    2.5 KB-string run of this exact check passed during round 5.)"""
    from pyspark.sql import functions as F

    rng = random.Random(0x5EED5)

    def ch():
        while True:
            c = rng.randint(32, 0x2FFFF)
            if not (0xD800 <= c <= 0xDFFF):
                return chr(c)

    vals, nums = [], []
    for _ in range(3000):
        L = (
            rng.choice([0, 1, 4, 8, 31, 32, 33, 63, 64, 65])
            if rng.random() < 0.4
            else rng.randint(0, 1024)
        )
        vals.append("".join(ch() for _ in range(max(0, L // 3))))
        nums.append(rng.randint(-(2**63), 2**63 - 1))
    df = spark.createDataFrame(
        list(zip(vals, nums)), "ted string, n long"
    )
    jvm = np.array(
        [r[0] for r in df.select(F.xxhash64("ted", "n")).collect()],
        np.int64,
    )
    got = xxhash64_arrow(
        [pa.array(vals, pa.string()), pa.array(nums, pa.int64())],
        ["string", "long"],
    )
    np.testing.assert_array_equal(got, jvm)


def test_skewed_key_lengths_take_chunked_path(monkeypatch):
    """One oversized key value must not inflate the padded matrix to
    O(n_rows x max_key_len): past _MATRIX_CAP the rows are
    length-sorted and hashed in capped chunks — force a tiny cap and
    assert bit-equality with the scalar port on a skewed batch
    (strings with a null, and binary), including a single row larger
    than the whole cap."""
    import cdm_cbioportal_etl_spark.lake.xxh64_vec as V

    monkeypatch.setattr(V, "_MATRIX_CAP", 1 << 12)
    rng = random.Random(7)
    vals = ["x" * rng.choice([0, 3, 20, 100, 700]) for _ in range(400)]
    vals[123] = "Z" * 5000  # alone exceeds the 4 KB cap
    vals[7] = None
    arr = pa.array(vals, type=pa.string())
    got = V.xxhash64_arrow([arr], ["string"])
    want = np.array(
        [xxhash64([v], ["string"]) for v in vals], np.int64
    )
    np.testing.assert_array_equal(got, want)
    bvals = [
        bytes([rng.getrandbits(8)]) * rng.choice([0, 5, 40, 900])
        for _ in range(200)
    ]
    bvals[50] = b"\x01" * 6000
    barr = pa.array(bvals, type=pa.binary())
    gotb = V.xxhash64_arrow([barr], ["binary"])
    wantb = np.array(
        [xxhash64([v], ["binary"]) for v in bvals], np.int64
    )
    np.testing.assert_array_equal(gotb, wantb)


def test_unsupported_type_raises():
    with pytest.raises(TypeError):
        xxhash64_arrow(
            [pa.array([[1, 2]], type=pa.list_(pa.int64()))], ["array"]
        )
