"""Large kill-set legs: above ``LakeTable.DV_BROADCAST_ROWS`` the
deletion-vector positions and equality-delete keys join with a
``shuffle_hash`` hint instead of a broadcast, both in ``read()`` and in
the DV merge's position scan.  Forcing the cutover to 0 on a small table
must change no result."""

import os

from pyspark.sql import functions as F, types as T

from cdm_cbioportal_etl_spark.lake import LakeTable

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "lsn long, op string, k long, v string")


def _ups(keys, lsn0, tag):
    return [(lsn0 + i, "upsert", k, f"{tag}{k}") for i, k in enumerate(keys)]


def _dels(keys, lsn0):
    return [(lsn0 + i, "delete", k, None) for i, k in enumerate(keys)]


def _history(spark, t, mode):
    """Inserts, then dv kills (updates + deletes) and an equality
    delete."""
    t.merge(_batch(spark, _ups(range(240), 1, "a")), mode=mode)
    t.merge(
        _batch(spark, _ups(range(60), 300, "b") + _dels(range(60, 90), 400)),
        mode=mode,
    )
    t.delete_keys(spark.range(90, 120).select(F.col("id").alias("k")))


FURTHER = (
    _ups(range(20), 700, "d")  # keys whose first version a dv killed
    + _ups(range(100, 110), 720, "d")  # eq-deleted keys coming back
    + _ups(range(150, 160), 740, "d")  # live keys never touched before
    + _dels(range(200, 210), 760)
    + _ups(range(1000, 1010), 780, "d")  # fresh inserts
)


def _state(t):
    return sorted(tuple(r) for r in t.read().collect())


def _change_rows(spark, t):
    ch = t.snapshot["changes"]
    assert ch["mode"] == "cdf"
    return sorted(
        tuple(r)
        for r in spark.read.parquet(*[os.path.join(t.root, p) for p in ch["files"]])
        .select("k", "v", "_lsn", "_change_type")
        .collect()
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_shuffle_hash_kill_sets_match_broadcast(spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    cow = LakeTable.create(spark, os.path.join(root, "cow"), SCHEMA, ["k"], n_buckets=4)
    _history(spark, cow, "cow")
    dv = LakeTable.create(
        spark, os.path.join(root, "dv"), SCHEMA, ["k"], n_buckets=4,
        properties={"write_changes": "true"},
    )
    _history(spark, dv, "dv")
    assert dv.snapshot.get("dv") and dv.snapshot.get("eqdel")
    # the same dv table, merged on under the default cutover
    dflt = dv.clone(os.path.join(root, "dflt"), mode="deep")

    monkeypatch.setattr(dv, "DV_BROADCAST_ROWS", 0)
    plan = _plan(dv.read())
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" not in _plan(dflt.read())
    assert _state(dv) == _state(cow)

    for t, mode in ((cow, "cow"), (dv, "dv"), (dflt, "dv")):
        t.merge(_batch(spark, FURTHER), mode=mode)
    assert _state(dv) == _state(dflt) == _state(cow)
    assert _change_rows(spark, dv) == _change_rows(spark, dflt)
