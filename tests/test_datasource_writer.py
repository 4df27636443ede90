"""`laketable` DataSource WRITE side (lake/writer.py).

Contract under test:
- df.write.format("laketable") equals LakeTable.merge(mode="mor") by
  VALUE on the same change batch (upserts + deletes, cross-bucket),
  through both the native read and a subsequent compaction
- batch redelivery dies at the ledger pre-filter (no new version)
- the streaming writer commits one epoch per micro-batch exactly-once:
  out-of-LSN-order epochs all land (no watermark row-drop), a replayed
  epoch with a stable streamid skips via the epoch ledger, and a
  fresh-checkpoint redelivery stays value-idempotent through the
  (key, lsn) fold
- unsupported states fail at construction with the reason
  (overwrite mode, partial_updates / write_changes / constrained
  tables, wrong input columns); a mid-write rebucket fails the task
"""

import os

import pytest
from pyspark.sql import functions as F, types as T

from cdm_cbioportal_etl_spark.lake import LakeTable
from cdm_cbioportal_etl_spark.lake.datasource import register
from cdm_cbioportal_etl_spark.lake.writer import LakeDeltaBatchWriter

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("g", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

IN_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        *SCHEMA.fields,
    ]
)


def _mk(spark, tmp_path, name, **props):
    return LakeTable.create(
        spark,
        os.path.join(str(tmp_path), name),
        SCHEMA,
        key_cols=["k"],
        n_buckets=4,
        properties=props or None,
    )


def _events(spark, n=4000, dmod=7):
    return spark.range(0, n).selectExpr(
        "id as lsn",
        f"case when id % {dmod} = 0 then 'delete' else 'upsert' end as op",
        "id % 700 as k",
        "concat('g', id % 3) as g",
        "id as v",
    )


def _state(t):
    t.refresh()
    return sorted(tuple(r) for r in t.read().collect())


def test_batch_write_equals_mor_merge(spark, tmp_path):
    t = _mk(spark, tmp_path, "w")
    ref = _mk(spark, tmp_path, "ref")
    ev = _events(spark)
    register(spark)
    ev.write.format("laketable").option("path", t.root).mode("append").save()
    ref.merge(ev, mode="mor", batch_id="oracle")
    assert _state(t) == _state(ref)
    # the ledger advanced with the data (merge parity)
    assert t.snapshot["ledger"]["applied_lsn"] == 3999
    # compaction folds the appended deltas to the same state
    t.compact()
    assert _state(t) == _state(ref)


def test_batch_redelivery_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path, "redeliver")
    ev = _events(spark, n=1000)
    register(spark)
    ev.write.format("laketable").option("path", t.root).mode("append").save()
    t.refresh()
    v1, s1 = t.snapshot["version"], _state(t)
    ev.write.format("laketable").option("path", t.root).mode("append").save()
    t.refresh()
    assert t.snapshot["version"] == v1  # empty commit never happened
    assert _state(t) == s1


def test_stream_writer_epochs_exactly_once(spark, tmp_path):
    t = _mk(spark, tmp_path, "stream")
    ref = _mk(spark, tmp_path, "stream-ref")
    ev = _events(spark, n=3000, dmod=5)
    wal_dir = os.path.join(str(tmp_path), "wal")
    # 3 files -> 3 epochs with maxFilesPerTrigger=1; files interleave
    # LSN ranges, so a watermark row-filter would lose data (the bug
    # this design rules out)
    ev.repartition(3).write.parquet(wal_dir)
    register(spark)
    stream = (
        spark.readStream.schema(
            "lsn long, op string, k long, g string, v long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(wal_dir)
    )

    def drain(ckpt, streamid=None):
        w = stream.writeStream.format("laketable").option("path", t.root)
        if streamid:
            w = w.option("streamid", streamid)
        q = (
            w.option("checkpointLocation", os.path.join(str(tmp_path), ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.exception() is None

    drain("ckpt1", streamid="s1")
    ref.merge(ev, mode="mor", batch_id="oracle")
    want = _state(ref)
    assert _state(t) == want
    epochs = [
        l["batch_id"]
        for l in t.snapshot["lineage"]
        if str(l.get("batch_id", "")).startswith("dsw-epoch")
    ]
    assert len(epochs) == 3
    # stable streamid: an epoch ledger tag per epoch, replay skips
    tags = [
        s
        for s in t.snapshot["ledger"].get("applied_segments", [])
        if s.startswith("dsw:s1:")
    ]
    assert len(tags) == 3
    # fresh checkpoint + NEW stream id: full redelivery — the (key, lsn)
    # fold keeps the state value-identical (file bloat only)
    v_before = t.snapshot["version"]
    drain("ckpt2")
    assert _state(t) == want
    # fresh checkpoint + SAME stream id: every epoch skips in commit,
    # zero new versions
    t.refresh()
    v_mid = t.snapshot["version"]
    drain("ckpt3", streamid="s1")
    t.refresh()
    assert t.snapshot["version"] == v_mid
    assert _state(t) == want
    assert v_mid >= v_before  # ckpt2 re-appended (documented bloat)


def test_unsupported_states_fail_with_reason(spark, tmp_path):
    register(spark)
    ev = _events(spark, n=10)
    t = _mk(spark, tmp_path, "plain")
    with pytest.raises(Exception, match="append"):
        ev.write.format("laketable").option("path", t.root).mode(
            "overwrite"
        ).save()
    with pytest.raises(Exception, match="columns must be exactly"):
        ev.drop("v").write.format("laketable").option("path", t.root).mode(
            "append"
        ).save()
    for props, msg in [
        ({"partial_updates": "true"}, "partial"),
        ({"write_changes": "true"}, "change"),
    ]:
        bad = _mk(spark, tmp_path, "bad-" + msg, **props)
        with pytest.raises(Exception, match=msg):
            ev.write.format("laketable").option("path", bad.root).mode(
                "append"
            ).save()
    con = _mk(spark, tmp_path, "con")
    con.add_constraint("v_pos", "v >= 0")
    with pytest.raises(Exception, match="constraint"):
        ev.write.format("laketable").option("path", con.root).mode(
            "append"
        ).save()


def test_layout_change_mid_write_fails_task(spark, tmp_path):
    import pyarrow as pa

    t = _mk(spark, tmp_path, "layout")
    w = LakeDeltaBatchWriter({"path": t.root}, IN_SCHEMA, overwrite=False)
    t.rebucket(8)
    rb = pa.record_batch(
        {
            "lsn": [1],
            "op": ["upsert"],
            "k": [1],
            "g": ["a"],
            "v": [1],
        }
    )
    with pytest.raises(ValueError, match="layout changed"):
        w.write(iter([rb]))


def test_writer_then_merge_interleave(spark, tmp_path):
    """A normal merge after a writer append folds cleanly (COW rewrite
    resolves the pending deltas), and the DataSource reader serves the
    mixed state exactly."""
    t = _mk(spark, tmp_path, "mix")
    ref = _mk(spark, tmp_path, "mix-ref")
    ev1 = _events(spark, n=2000)
    ev2 = spark.range(2000, 3000).selectExpr(
        "id as lsn", "'upsert' as op", "id % 700 as k",
        "concat('h', id % 2) as g", "id * 2 as v",
    )
    register(spark)
    ev1.write.format("laketable").option("path", t.root).mode("append").save()
    t.refresh()
    t.merge(ev2, batch_id="cow-after-append")
    ref.merge(ev1, mode="mor", batch_id="o1")
    ref.merge(ev2, batch_id="o2")
    assert _state(t) == _state(ref)
    ds = (
        spark.read.format("laketable").option("path", t.root).load()
    )
    assert sorted(tuple(r) for r in ds.collect()) == _state(ref)


def test_prebucketed_jvm_fast_path_equals_python_hash(spark, tmp_path):
    """An input carrying `_bucket` (computed JVM-side with
    table.bucket_expr()) must land every row in the same bucket the
    Python hash would pick — same final state, and reads (which prune
    by bucket) still find every key."""
    t1 = _mk(spark, tmp_path, "pb-jvm")
    t2 = _mk(spark, tmp_path, "pb-py")
    ev = _events(spark, n=2000)
    register(spark)
    ev.withColumn("_bucket", t1.bucket_expr()).write.format(
        "laketable"
    ).option("path", t1.root).mode("append").save()
    ev.write.format("laketable").option("path", t2.root).mode(
        "append"
    ).save()
    assert _state(t1) == _state(t2)
    # per-bucket file sets agree -> identical bucket assignment
    t1.refresh(), t2.refresh()
    rows1 = {b: sum(f["rows"] for f in fs) for b, fs in t1.snapshot["buckets"].items() if fs}
    rows2 = {b: sum(f["rows"] for f in fs) for b, fs in t2.snapshot["buckets"].items() if fs}
    assert rows1 == rows2
    # out-of-range _bucket fails the task with the actionable story
    # (fresh LSNs: rows at/below the watermark would be ledger-filtered
    # before the bucket check ever ran)
    bad = spark.range(5000, 5010).selectExpr(
        "id as lsn", "'upsert' as op", "id as k", "'x' as g", "id as v"
    ).withColumn("_bucket", F.lit(99))
    with pytest.raises(Exception, match="out of range"):
        bad.write.format("laketable").option("path", t1.root).mode(
            "append"
        ).save()


def test_writer_on_sharded_manifest_table(spark, tmp_path):
    """Sharded-manifest tables take the same append path: the commit
    re-shards the inventory, tasks read the raw snap JSON (no shard
    resolution), and reads resolve transparently."""
    t = _mk(spark, tmp_path, "sharded", manifest_shards="2")
    ref = _mk(spark, tmp_path, "sharded-ref")
    ev = _events(spark, n=1500)
    register(spark)
    ev.write.format("laketable").option("path", t.root).mode("append").save()
    ref.merge(ev, mode="mor", batch_id="oracle")
    assert _state(t) == _state(ref)
    assert t.snapshot.get("buckets_ref"), "commit did not re-shard"


def test_vacuum_reclaims_skipped_epoch_orphans(spark, tmp_path):
    """A same-streamid redelivery writes delta files whose commit then
    skips (epoch ledger) — vacuum must reclaim those unreferenced
    orphans without touching live state."""
    t = _mk(spark, tmp_path, "vac")
    ev = _events(spark, n=600)
    wal_dir = os.path.join(str(tmp_path), "vac-wal")
    ev.write.parquet(wal_dir)
    register(spark)
    stream = spark.readStream.schema(
        "lsn long, op string, k long, g string, v long"
    ).parquet(wal_dir)

    def drain(ckpt):
        q = (
            stream.writeStream.format("laketable")
            .option("path", t.root)
            .option("streamid", "vs")
            .option("checkpointLocation", os.path.join(str(tmp_path), ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("c1")
    want = _state(t)
    drain("c2")  # same streamid, fresh checkpoint: commit skips
    removed = t.vacuum()
    assert removed > 0, "orphaned skipped-epoch files were not reclaimed"
    assert _state(t) == want


def test_derived_streamid_stable_across_restart_and_fresh_after_reset(
    spark, tmp_path
):
    """The DEFAULT (derived) stream id must be (a) identical across two
    query restarts on the SAME checkpoint — replayed epochs dedup
    exactly — and (b) REGENERATED after the checkpoint is deleted, so
    new data whose batch ids restart at 0 is NOT discarded against
    stale dsw:<sid>:0..k ledger tags.  (b) is a round-5 regression
    repro: a path-derived sid silently dropped post-reset data."""
    import shutil

    t = _mk(spark, tmp_path, "sid-t")
    wal_dir = os.path.join(str(tmp_path), "sid-wal")
    ck = os.path.join(str(tmp_path), "sid-ck")
    register(spark)

    def drain():
        stream = (
            spark.readStream.schema(
                "lsn long, op string, k long, g string, v long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(wal_dir)
        )
        q = (
            stream.writeStream.format("laketable")
            .option("path", t.root)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.exception() is None

    def seg_sids():
        t.refresh()
        return {
            s.split(":")[1]
            for s in t.snapshot["ledger"].get("applied_segments", [])
            if s.startswith("dsw:")
        }

    ev1 = spark.range(0, 5).selectExpr(
        "id + 1 as lsn", "'upsert' as op", "id as k",
        "'a' as g", "id as v"
    )
    ev1.coalesce(1).write.mode("overwrite").parquet(wal_dir)
    drain()
    sids_a = seg_sids()
    assert len(sids_a) == 1  # one derived id

    # restart on the SAME checkpoint with one more file: the fresh
    # writer instance must derive the SAME id
    spark.range(5, 10).selectExpr(
        "id + 1 as lsn", "'upsert' as op", "id as k",
        "'a' as g", "id as v"
    ).coalesce(1).write.mode("append").parquet(wal_dir)
    drain()
    assert seg_sids() == sids_a
    assert len(_state(t)) == 10

    # checkpoint RESET + genuinely new data (new keys, higher LSNs):
    # batch ids restart at 0 — every row must still land
    shutil.rmtree(ck)
    spark.range(10, 15).selectExpr(
        "id + 100 as lsn", "'upsert' as op", "id as k",
        "'b' as g", "id as v"
    ).coalesce(1).write.mode("overwrite").parquet(wal_dir)
    drain()
    assert len(_state(t)) == 15, "post-reset epochs were dropped"
    sids_after = seg_sids()
    assert len(sids_after) == 2  # a NEW id after the reset


def test_null_prebucketed_bucket_fails_clearly(spark, tmp_path):
    """A null `_bucket` is refused by name before any numpy cast (a NaN
    cast to int64 yields a platform-dependent garbage bucket)."""
    import pyarrow as pa

    t = _mk(spark, tmp_path, "pb-null")
    schema = T.StructType(
        [*IN_SCHEMA.fields, T.StructField("_bucket", T.IntegerType())]
    )
    w = LakeDeltaBatchWriter({"path": t.root}, schema, overwrite=False)
    rb = pa.record_batch(
        {
            "lsn": [1, 2],
            "op": ["upsert", "upsert"],
            "k": [1, 2],
            "g": ["a", "b"],
            "v": [1, 2],
            "_bucket": pa.array([0, None], pa.int32()),
        }
    )
    with pytest.raises(ValueError, match="null _bucket in 1 row"):
        w.write(iter([rb]))


def test_stream_id_reads_file_uri_and_warns_on_uuid_fallback(
    spark, tmp_path
):
    import hashlib
    import json
    import warnings

    from cdm_cbioportal_etl_spark.lake.writer import LakeDeltaStreamWriter

    t = _mk(spark, tmp_path, "sid-uri")
    ck = tmp_path / "ck"
    ck.mkdir()
    (ck / "metadata").write_text(json.dumps({"id": "q-1"}))
    w = LakeDeltaStreamWriter(
        {"path": t.root, "checkpointlocation": ck.as_uri()}, IN_SCHEMA, False
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert w._stream_id() == hashlib.sha1(b"q-1").hexdigest()[:12]
    lost = LakeDeltaStreamWriter(
        {"path": t.root, "checkpointlocation": str(tmp_path / "none")},
        IN_SCHEMA,
        False,
    )
    with pytest.warns(RuntimeWarning, match="random stream id"):
        sid = lost._stream_id()
    assert len(sid) == 12 and lost._stream_id() == sid  # one id per writer
