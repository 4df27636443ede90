"""Streaming view maintenance (streaming/views.py::CdfViewMaintainer).

Contract under test:
- a view maintained purely from the `laketable` CDF stream (no source
  table handle) equals a full GROUP BY recompute of the source state
  after every drain, across updates and deletes
- checkpoint resume picks up only new commits (no double-apply)
- at-least-once delivery is applied exactly once: a replayed interval
  (fresh checkpoint starting before the view's watermark, or a crash
  after apply but before the sink commit) dedups against the view's
  LSN ledger
"""

import os

import pytest
from pyspark.sql import functions as F, types as T

from cdm_cbioportal_etl_spark.lake import IncrementalAggView, LakeTable
from cdm_cbioportal_etl_spark.streaming import CdfViewMaintainer

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("g", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _ev(spark, rows):
    return spark.createDataFrame(rows, "lsn long, op string, k long, g string, v long")


def _recompute(source):
    return sorted(
        tuple(r)
        for r in source.read()
        .groupBy("g")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("sum_v"))
        .collect()
    )


def _view_state(view):
    return sorted(tuple(r) for r in view.read().collect())


@pytest.fixture()
def rig(spark, tmp_path):
    src = LakeTable.create(
        spark,
        os.path.join(str(tmp_path), "src"),
        SCHEMA,
        key_cols=["k"],
        n_buckets=4,
        properties={"write_changes": "true"},
    )
    src.merge(
        _ev(spark, [(1, "upsert", 1, "a", 10), (2, "upsert", 2, "b", 20)]),
        batch_id="seed",
    )
    view = IncrementalAggView.create(
        spark, os.path.join(str(tmp_path), "view"), src, ["g"], ["v"]
    )
    m = CdfViewMaintainer(
        spark, src.root, view, os.path.join(str(tmp_path), "ckpt")
    )
    return src, view, m


def test_stream_view_tracks_source_across_drains(spark, rig):
    src, view, m = rig
    # updates move a key across groups; deletes remove contributions
    src.merge(
        _ev(
            spark,
            [
                (10, "upsert", 1, "b", 11),  # a -> b, value 10 -> 11
                (11, "upsert", 3, "a", 30),
                (12, "delete", 2, None, None),
            ],
        ),
        batch_id="b1",
    )
    src.merge(
        _ev(spark, [(20, "upsert", 4, "c", 40), (21, "upsert", 3, "a", 31)]),
        batch_id="b2",
    )
    m.run_available()
    assert _view_state(view) == _recompute(src)
    assert view.consumed_version() == src.snapshot["version"]

    # RESUME: new commits only
    src.merge(
        _ev(spark, [(30, "delete", 1, None, None), (31, "upsert", 5, "b", 50)]),
        batch_id="b3",
    )
    m.run_available()
    assert _view_state(view) == _recompute(src)

    # drained stream, drained again: a no-op, state unchanged
    before = _view_state(view)
    m.run_available()
    assert _view_state(view) == before


def test_redelivered_interval_applies_exactly_once(spark, rig, tmp_path):
    src, view, m = rig
    src.merge(
        _ev(spark, [(10, "upsert", 3, "a", 30), (11, "delete", 2, None, None)]),
        batch_id="b1",
    )
    m.run_available()
    want = _recompute(src)
    assert _view_state(view) == want

    # an at-least-once operator mistake: a FRESH checkpoint with
    # startingversion far behind the view's watermark redelivers every
    # interval — the view's LSN ledger must fold it to a no-op
    m2 = CdfViewMaintainer(
        spark, src.root, view, os.path.join(str(tmp_path), "ckpt-redeliver")
    )
    stream = (
        spark.readStream.format("laketable")
        .option("path", src.root)
        .option("mode", "cdf")
        .option("startingversion", "1")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(m2._apply)
        .option("checkpointLocation", m2.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _view_state(view) == want


def test_crash_after_apply_before_commit_resumes_clean(spark, rig):
    src, view, m = rig
    src.merge(
        _ev(spark, [(10, "upsert", 3, "c", 30), (11, "upsert", 1, "c", 12)]),
        batch_id="b1",
    )

    class Boom(RuntimeError):
        pass

    applied = {"n": 0}
    orig = m._apply

    def crashing(batch_df, epoch_id):
        orig(batch_df, epoch_id)
        applied["n"] += 1
        raise Boom("crash AFTER apply, BEFORE the checkpoint commit")

    m._apply = crashing
    with pytest.raises(Exception):
        m.run_available()
    assert applied["n"] == 1  # the interval WAS applied once

    # restart with the same checkpoint: Spark replays the uncommitted
    # interval; apply_changes' ledger early-out keeps it single-applied
    m._apply = orig
    m.run_available()
    assert _view_state(view) == _recompute(src)
    assert view.consumed_version() == src.snapshot["version"]


def test_uncommitted_batch_plus_new_data_drains_fully(spark, rig):
    """The Trigger.Once cursor loop closes the AvailableNow-fallback
    caveat ("may not process new data if there is an uncommitted
    batch"): a crash leaves an uncommitted batch in the checkpoint, NEW
    source commits land afterwards, and a single run_available call must
    both re-finish the uncommitted batch and drain the new commits."""
    src, view, m = rig
    src.merge(_ev(spark, [(10, "upsert", 3, "a", 30)]), batch_id="b1")

    applied = {"n": 0}
    orig = m._apply

    def crashing(batch_df, epoch_id):
        orig(batch_df, epoch_id)
        applied["n"] += 1
        raise RuntimeError("crash AFTER apply, BEFORE checkpoint commit")

    m._apply = crashing
    with pytest.raises(Exception):
        m.run_available()
    assert applied["n"] == 1
    # new data lands while the checkpoint still holds an uncommitted
    # batch — the exact state the single-batch fallback could strand
    src.merge(_ev(spark, [(20, "upsert", 4, "c", 40)]), batch_id="b2")
    m._apply = orig
    m.run_available()
    assert _view_state(view) == _recompute(src)
    assert view.consumed_version() == src.snapshot["version"]


def test_bounded_drains_catch_up_to_head(spark, rig):
    """max_commits_per_drain bounds each drain; run_available loops the
    bounded drains until the view is caught up with the source head."""
    src, view, _ = rig
    for i in range(6):
        src.merge(
            _ev(spark, [(100 + i, "upsert", 10 + i, "g" + str(i % 2), i)]),
            batch_id=f"bk{i}",
        )
    m = CdfViewMaintainer(
        spark, src.root, view, src.root + "-ckpt-bounded",
        max_commits_per_drain=2,
    )
    m.run_available()
    assert view.consumed_version() == src.snapshot["version"]
    assert _view_state(view) == _recompute(src)


def test_unreadable_cursor_drains_on_query_progress(spark, rig, monkeypatch):
    """A checkpoint whose offsets cursor cannot be read (a non-local
    location reads None before and after every pass) still drains to
    head, one bounded micro-batch per pass, and still terminates: the
    loop falls back to each pass's own progress report."""
    from cdm_cbioportal_etl_spark.streaming import ckpt

    src, view, _ = rig
    for i in range(3):
        src.merge(
            _ev(spark, [(200 + i, "upsert", 300 + i, "g" + str(i % 2), i)]),
            batch_id=f"nc{i}",
        )
    monkeypatch.setattr(ckpt, "offsets_cursor", lambda _dir: None)
    passes = []
    real_drain = ckpt.drain

    def counting_drain(start_pass, checkpoint_dir):
        def counted():
            passes.append(1)
            return start_pass()

        real_drain(counted, checkpoint_dir)

    monkeypatch.setattr(ckpt, "drain", counting_drain)
    m = CdfViewMaintainer(
        spark, src.root, view, src.root + "-ckpt-nocursor",
        max_commits_per_drain=1,
    )
    start = view.consumed_version()
    m.run_available()
    head = src.snapshot["version"]
    assert view.consumed_version() == head
    assert _view_state(view) == _recompute(src)
    # one pass per source commit past the view's start, plus the final
    # pass that finds nothing new
    assert len(passes) == (head - start) + 1
