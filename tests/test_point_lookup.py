"""LakeTable.point_lookup: a driver-local read through the `laketable`
planner (bucket -> file stats -> bloom sidecars) and its Arrow reader.

Contract under test:
- on every table state, ``point_lookup(key)`` returns the rows of
  ``read().filter(<eqNullSafe on every key column>)`` in the table
  schema, for live, deleted, absent and null-component keys;
- each lookup, collect included, starts no Spark job;
- in a file of several row groups, only the row groups whose key
  min/max stats admit the key are read, and deletion-vector positions
  are masked at each row group's file offset.
"""

import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from cdm_cbioportal_etl_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)
KEYS = ["repo", "path"]

B1 = [
    (1, "upsert", "r1", "a.py", "c1", "v1"),
    (2, "upsert", "r1", "b.py", "c2", "v1"),
    (3, "upsert", "r2", "a.py", "c3", "v1"),
    (4, "upsert", None, "n.py", "c4", "v1"),
    (5, "upsert", "r3", "x.py", "c5", "v1"),
]
B2 = [
    (6, "upsert", "r1", "a.py", "c6", "v2"),
    (7, "delete", "r2", "a.py", None, None),
    (8, "upsert", None, "n.py", "c8", None),
    (9, "delete", "r3", "x.py", None, None),
]
LOOKUPS = [
    ("r1", "a.py"),  # live, updated
    ("r1", "b.py"),  # live, untouched
    ("r2", "a.py"),  # deleted
    ("r3", "x.py"),  # deleted
    ("zz", "q.py"),  # absent
    (None, "n.py"),  # null component, live
    (None, "zz"),  # null component, absent
    ("r1", None),  # null component, absent
]


def _events(t, rows, extra=()):
    """Change events in the table's current column names; ``extra``
    values fill the columns past the four original ones."""
    fields = [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        *t.schema.fields,
    ]
    pad = tuple(extra)[: len(t.schema.fields) - 4]
    return t.spark.createDataFrame(
        [tuple(r) + pad for r in rows], T.StructType(fields)
    )


def _build(spark, tmp_path, kind):
    t = LakeTable.create(
        spark,
        os.path.join(str(tmp_path), f"pl-{kind}"),
        SCHEMA,
        key_cols=KEYS,
        n_buckets=4,
        properties={"file_blooms": 4096} if kind == "mor" else
        {"partial_updates": "true"} if kind == "partial" else None,
    )
    if kind in ("cow", "mor", "dv"):
        t.merge(_events(t, B1), mode=kind)
        t.merge(_events(t, B2), mode=kind)
    elif kind == "eqdel":
        t.merge(_events(t, B1))
        t.delete_keys(
            spark.createDataFrame([("r1", "b.py")], "repo string, path string")
        )
        t.merge(_events(t, B2), mode="mor")
    elif kind == "colmap":
        t.merge(_events(t, B1))
        t.rename_column("path", "file")
        t.rename_column("content", "body")
        t.merge(_events(t, B2), mode="mor")
    elif kind == "evolved":
        t.merge(_events(t, B1))
        t.evolve_schema(
            T.StructType(
                list(SCHEMA.fields) + [T.StructField("lang", T.StringType())]
            )
        )
        t.merge(_events(t, B2, extra=("py",)), mode="mor")
    elif kind == "partial":
        t.merge(_events(t, B1), partial_update=True)
        t.merge(_events(t, B2), mode="mor", partial_update=True)
    return t


def _rows(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _jobs_of(spark, fn):
    """Spark job ids started while ``fn`` runs, from a fresh job group."""
    sc = spark.sparkContext
    group = f"pl-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "point lookup job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize(
    "kind", ["cow", "mor", "dv", "eqdel", "colmap", "evolved", "partial"]
)
def test_lookup_equals_null_safe_filtered_read(spark, tmp_path, kind):
    t = _build(spark, tmp_path, kind)
    keys = t.key_cols
    # read() once; the null-safe key filter (None == None) in Python
    state = t.read().collect()
    assert _jobs_of(spark, lambda: spark.range(3).collect())  # count works
    hits = 0
    for key in LOOKUPS:
        want = [r for r in state if tuple(r[k] for k in keys) == key]
        got = []

        def lookup():
            df = t.point_lookup(dict(zip(keys, key)))
            assert df.schema == t.schema
            got.extend(df.collect())

        assert _jobs_of(spark, lookup) == [], key  # driver-local: no job
        assert _rows(got) == _rows(want), key
        hits += len(want)
    assert hits >= 2  # live keys were found: the comparison is not vacuous
    if kind == "partial":
        # a null delta column means "unchanged": (None, "n.py") keeps
        # its base content after B2 updated only its commit
        (row,) = t.point_lookup({"repo": None, "path": "n.py"}).collect()
        assert (row.commit, row.content) == ("c8", "v1")


def test_lookup_reads_only_admitted_row_groups(spark, tmp_path, monkeypatch):
    """One bucket, one key-sorted file of many small row groups: a lookup
    reads the single row group whose key range holds the key, and dv
    kills in later row groups land on the right rows."""
    spark.conf.set("parquet.block.size", "2048")
    spark.conf.set("parquet.block.size.row.check.min", "50")
    spark.conf.set("parquet.block.size.row.check.max", "50")
    try:
        t = LakeTable.create(
            spark,
            os.path.join(str(tmp_path), "pl-rg"),
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("v", T.StringType()),
                ]
            ),
            key_cols=["k"],
            n_buckets=1,
        )
        t.merge(
            spark.range(0, 2000).selectExpr(
                "id as lsn", "'upsert' as op", "id as k",
                "concat('v', id) as v",
            )
        )
    finally:
        spark.conf.unset("parquet.block.size")
        spark.conf.unset("parquet.block.size.row.check.min")
        spark.conf.unset("parquet.block.size.row.check.max")
    (fobj,) = t.snapshot["buckets"]["0"]
    n_groups = pq.ParquetFile(os.path.join(t.root, fobj["path"])).num_row_groups
    assert n_groups > 4

    reads = []
    real = pq.ParquetFile.read_row_group

    def counting(self, i, *a, **kw):
        reads.append(i)
        return real(self, i, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting)
    got = t.point_lookup({"k": 1234}).collect()
    assert [(r.k, r.v) for r in got] == [(1234, "v1234")]
    assert len(reads) == 1
    reads.clear()
    assert t.point_lookup({"k": 5000}).collect() == []  # past every range
    assert reads == []

    # positional kills spread over several row groups, then lookups of
    # killed and surviving neighbours across the file
    t.merge(
        spark.range(1, 2000, 97).selectExpr(
            "id + 10000 as lsn", "'delete' as op", "id as k",
            "cast(null as string) as v",
        ),
        mode="dv",
    )
    live = {r.k: r.v for r in t.read().collect()}
    for k in (1, 2, 1165, 1166, 1941, 1999):  # 1 + 97j were killed
        want = [(k, live[k])] if k in live else []
        assert [(r.k, r.v) for r in t.point_lookup({"k": k}).collect()] == want
