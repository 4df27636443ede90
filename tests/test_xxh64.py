"""Pure-Python xxhash64 oracle (tests/xxh64_ref.py) vs the JVM's F.xxhash64.

Driver-side bucket/bloom pruning (lake/xxh64_vec.py, asserted equal to
this oracle in tests/test_xxh64_vec.py) is only sound if the oracle and
the JVM agree bit-for-bit on every type path and on the multi-column
seed chaining — so this test is the first half of the proof, run
over randomized draws per type including the algorithm's edge shapes
(empty string, 4/8/31/32/33-byte strings -> tail / word / stripe paths,
negative ints, -0.0, nulls skipped in chains).
"""

import math
import random
import struct

import pytest
from pyspark.sql import functions as F, types as T

from xxh64_ref import pmod, xxhash64

random.seed(0xC0FFEE)


def _str_pool():
    pool = ["", "a", "ab", "abc", "abcd", "x" * 7, "x" * 8, "x" * 9,
            "y" * 31, "y" * 32, "y" * 33, "z" * 100, "héllo wörld",
            "日本語テキスト" * 9, "\x00\x01\x02", "src/f00042.py"]
    pool += ["".join(chr(random.randint(32, 0x10FF)) for _ in range(
        random.randint(0, 64))) for _ in range(30)]
    return pool


CASES = {
    "long": [0, 1, -1, 2**63 - 1, -(2**63), 42]
    + [random.randint(-(2**63), 2**63 - 1) for _ in range(40)],
    "integer": [0, 1, -1, 2**31 - 1, -(2**31)]
    + [random.randint(-(2**31), 2**31 - 1) for _ in range(40)],
    "short": [0, -1, 32767, -32768, 123],
    "byte": [0, -1, 127, -128, 7],
    "boolean": [True, False],
    "string": _str_pool(),
    "binary": [b"", b"\x00", b"abc", bytes(range(256)),
               bytes(random.getrandbits(8) for _ in range(33))],
    "double": [0.0, -0.0, 1.5, -2.25, math.pi, 1e308, -1e-308,
               float("inf"), float("-inf")]
    + [struct.unpack("<d", struct.pack("<q", random.randint(
        -(2**63), 2**63 - 1)))[0] for _ in range(20)],
    "float": [0.0, -0.0, 1.5, -2.25, float("inf")]
    + [struct.unpack("<f", struct.pack("<i", random.randint(
        -(2**31), 2**31 - 1)))[0] for _ in range(20)],
}

_SPARK_T = {
    "long": T.LongType(), "integer": T.IntegerType(),
    "short": T.ShortType(), "byte": T.ByteType(),
    "boolean": T.BooleanType(), "string": T.StringType(),
    "binary": T.BinaryType(), "double": T.DoubleType(),
    "float": T.FloatType(),
}


def _clean(tname, vals):
    # NaN payloads vary bit-wise between engines; Spark canonicalizes
    # NaN but random bit patterns may be NaN — drop them (engine-defined)
    if tname in ("double", "float"):
        return [v for v in vals if not math.isnan(v)]
    return vals


@pytest.mark.parametrize("tname", sorted(CASES))
def test_single_column_matches_jvm(spark, tname):
    vals = _clean(tname, CASES[tname])
    schema = T.StructType([T.StructField("c", _SPARK_T[tname])])
    df = spark.createDataFrame([(v,) for v in vals], schema)
    got = [r[0] for r in df.select(F.xxhash64("c")).collect()]
    want = [xxhash64([v], [tname]) for v in vals]
    assert got == want


def test_multi_column_chain_and_nulls(spark):
    rows, types = [], ["long", "string", "integer", "double", "boolean"]
    for _ in range(60):
        rows.append((
            random.choice([None, random.randint(-(2**63), 2**63 - 1)]),
            random.choice([None, *CASES["string"][:8]]),
            random.choice([None, random.randint(-(2**31), 2**31 - 1)]),
            random.choice([None, 0.0, -1.25, 3.5e10]),
            random.choice([None, True, False]),
        ))
    schema = T.StructType(
        [T.StructField(f"c{i}", _SPARK_T[t]) for i, t in enumerate(types)]
    )
    df = spark.createDataFrame(rows, schema)
    cols = [f"c{i}" for i in range(len(types))]
    got = [r[0] for r in df.select(F.xxhash64(*cols)).collect()]
    want = [xxhash64(list(r), types) for r in rows]
    assert got == want


def test_bloom_probe_shape_matches_jvm(spark):
    """xxhash64(*keys, lit(i)) — the writer's bloom probes — reproduce."""
    df = spark.createDataFrame(
        [("r1", "a.py"), ("org/x", "src/f00042.py")],
        "repo string, path string",
    )
    for i in range(4):
        got = [
            r[0]
            for r in df.select(
                F.xxhash64("repo", "path", F.lit(i))
            ).collect()
        ]
        want = [
            xxhash64([r, p, i], ["string", "string", "integer"])
            for r, p in [("r1", "a.py"), ("org/x", "src/f00042.py")]
        ]
        assert got == want


def test_bucket_assignment_matches_jvm(spark):
    df = spark.range(0, 500).select(F.col("id").alias("k"))
    got = [
        r[0]
        for r in df.select(
            F.pmod(F.xxhash64("k"), F.lit(16)).cast("int")
        ).collect()
    ]
    want = [pmod(xxhash64([k], ["long"]), 16) for k in range(500)]
    assert got == want


def test_unsupported_type_raises():
    with pytest.raises(TypeError):
        xxhash64([[1, 2]], ["array"])
