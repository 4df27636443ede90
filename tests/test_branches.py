"""Branches, tags, and the write-audit-publish flow (Iceberg refs).

The reference pipeline's analog is staging cBioPortal files to a
scratch area, running validation, and copying them live only if it
passes (reference pipeline/lib/summary/summary_config_processor.py
overwrite-after-validate flow); here the same pattern is a branch
commit + audit + O(metadata) fast-forward publish."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from cdm_cbioportal_etl_spark.lake import (
    ConcurrentCommitError,
    LakeSession,
    LakeTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def _mk(spark, root, props=None):
    t = LakeTable.create(
        spark, str(root), SCHEMA, ["k"], n_buckets=4, properties=props
    )
    t.merge(_batch(spark, [(1, "a", 1), (2, "b", 2)]))
    return t


def _batch(spark, rows):
    return spark.createDataFrame(
        [(k, v, lsn, "upsert") for k, v, lsn in rows],
        "k long, v string, lsn long, op string",
    )


def _state(t):
    return {(r.k, r.v) for r in t.read().collect()}


def test_wap_stage_audit_publish(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v_fork = t.snapshot["version"]
    t.create_branch("audit")
    b = t.checkout("audit")
    b.merge(_batch(spark, [(3, "c", 3)]))
    b.merge(_batch(spark, [(2, "B", 4), (4, "d", 5)]))
    # staged rows visible on the branch, invisible on main
    assert _state(b) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    assert _state(t) == {(1, "a"), (2, "b")}
    assert t.snapshot["version"] == v_fork  # main pointer untouched
    # audit step: a data-quality gate evaluated on the BRANCH read
    assert b.read().filter("v IS NULL").count() == 0
    published = t.publish_branch("audit")
    t.refresh()
    assert t.snapshot["version"] == published
    assert _state(t) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    # ledger published with the data: replaying a staged LSN is a no-op
    s = t.merge(_batch(spark, [(3, "c", 3)]))
    assert s.batch_keys == 0 and t.row_count() == 4
    # publish recorded in history with its provenance
    ops = [r.operation for r in t.history().collect()]
    assert "publish" in ops
    # branch pointer advanced to the published commit: next cycle works
    b = t.checkout("audit")
    b.merge(_batch(spark, [(5, "e", 9)]))
    assert t.publish_branch("audit") > published
    t.refresh()
    assert t.row_count() == 5


def test_publish_nothing_staged_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.create_branch("idle")
    v = t.snapshot["version"]
    assert t.publish_branch("idle") == v
    t.refresh()
    assert t.snapshot["version"] == v


def test_publish_rejects_diverged_target(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.create_branch("audit")
    b = t.checkout("audit")
    b.merge(_batch(spark, [(3, "c", 3)]))
    # main advances independently after the fork
    t.merge(_batch(spark, [(9, "z", 4)]))
    with pytest.raises(ConcurrentCommitError, match="does not descend"):
        t.publish_branch("audit")
    # target kept its own advance; branch kept its staging
    assert (9, "z") in _state(t) and (3, "c") not in _state(t)
    assert (3, "c") in _state(t.checkout("audit"))


def test_failed_audit_drop_branch_leaves_main_untouched(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.create_branch("audit")
    b = t.checkout("audit")
    b.merge(
        spark.createDataFrame(
            [(3, None, 3, "upsert")], "k long, v string, lsn long, op string"
        )
    )
    assert b.read().filter("v IS NULL").count() == 1  # audit fails
    t.drop_ref("audit")
    assert [r["name"] for r in t.refs()] == ["main"]
    assert _state(t) == {(1, "a"), (2, "b")}
    # data files staged by the dropped branch become vacuum-eligible
    # once their manifests expire; main's stay live
    t.expire_snapshots(keep_last=1)
    t.vacuum()
    assert _state(t) == {(1, "a"), (2, "b")}


def test_tags_are_immutable_named_versions(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.create_tag("rel1")
    t.merge(_batch(spark, [(2, "B", 3)]))
    tagged = t.checkout("rel1")
    assert _state(tagged) == {(1, "a"), (2, "b")}
    with pytest.raises(ValueError, match="tag"):
        tagged.merge(_batch(spark, [(7, "x", 9)]))
    with pytest.raises(ValueError, match="tag"):
        t.publish_branch("rel1")
    refs = {r["name"]: r["type"] for r in t.refs()}
    assert refs == {"main": "branch", "rel1": "tag"}
    t.drop_ref("rel1")
    with pytest.raises(ValueError, match="no such ref"):
        t.checkout("rel1")


def test_ref_name_validation_and_duplicates(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError):
        t.create_branch("main")
    with pytest.raises(ValueError):
        t.create_branch("../escape")
    t.create_branch("b1")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("b1")
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("b1")


def test_branch_commits_do_not_pollute_main_timestamp_travel(spark, tmp_path):
    import time as _time

    t = _mk(spark, tmp_path / "t")
    t.create_branch("side")
    b = t.checkout("side")
    b.merge(_batch(spark, [(3, "c", 3)]))
    _time.sleep(0.05)
    ts_after_branch_commit = _time.time()
    # newest main-ancestry version at this timestamp is main's head,
    # NOT the (numerically newer) branch commit
    v = t.version_at_timestamp(ts_after_branch_commit)
    assert v == t.snapshot["version"]
    assert {(r.k, r.v) for r in t.read(version=v).collect()} == _state(t)


def test_datasource_timestamp_option_follows_ref(spark, tmp_path):
    """``option("timestamp")`` resolves as ``version_at_timestamp`` does,
    in the ancestry of ``option("ref")``; a timestamp older than every
    retained snapshot raises."""
    import time as _time

    from cdm_cbioportal_etl_spark.lake.datasource import register

    register(spark)
    t = _mk(spark, tmp_path / "t")
    _time.sleep(0.05)
    ts = _time.time()
    _time.sleep(0.05)
    t.merge(_batch(spark, [(3, "c", 3)]))
    t.create_branch("dev")
    dev = t.checkout("dev")
    dev.merge(_batch(spark, [(4, "d", 4)]))
    _time.sleep(0.05)
    ts_dev = _time.time()
    _time.sleep(0.05)
    t.merge(_batch(spark, [(5, "e", 5)]))

    def rd(**opts):
        r = spark.read.format("laketable").option("path", t.root)
        for k, v in opts.items():
            r = r.option(k, v)
        return {(x.k, x.v) for x in r.load().collect()}

    v = t.version_at_timestamp(ts)
    old = {(r.k, r.v) for r in t.read(version=v).collect()}
    assert rd(timestamp=str(ts)) == old == {(1, "a"), (2, "b")}
    # main's ancestry never holds the branch commit; dev's does
    assert rd(timestamp=str(ts_dev)) == {(1, "a"), (2, "b"), (3, "c")}
    assert rd(timestamp=str(ts_dev), ref="dev") == _state(dev)
    with pytest.raises(Exception, match="no retained snapshot"):
        rd(timestamp="0")


def test_expire_keeps_branch_and_tag_heads_alive(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.create_tag("old")
    t.create_branch("wip")
    b = t.checkout("wip")
    b.merge(_batch(spark, [(3, "c", 3)]))
    wip_head = b.snapshot["version"]
    for i in range(6):
        t.merge(_batch(spark, [(10 + i, "m", 10 + i)]))
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum()
    # tag + branch survive expiry & vacuum end-to-end
    assert _state(t.checkout("old")) == {(1, "a"), (2, "b")}
    assert (3, "c") in _state(t.checkout("wip"))
    assert t.checkout("wip").snapshot["version"] == wip_head
    assert removed >= 0  # vacuum ran without touching live files


def test_cdf_fast_path_survives_publish(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", props={"write_changes": "true"})
    base = t.snapshot["version"]
    t.create_branch("stage")
    b = t.checkout("stage")
    b.merge(_batch(spark, [(3, "c", 3)]))
    b.merge(_batch(spark, [(3, "C", 4)]))
    t.publish_branch("stage")
    t.refresh()
    # stored-CDF descriptor on the publish commit carries BOTH staged
    # commits' change files: per-commit event log, not endpoint netting
    assert t.snapshot["changes"]["mode"] == "cdf"
    ch = t.table_changes(base, include_preimages=False).collect()
    kinds = sorted((r.k, r._change_type) for r in ch)
    assert kinds == [(3, "insert"), (3, "update")]


def test_sql_branch_surface(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ls = LakeSession(spark)
    ls.register("t", t)
    ls.sql("ALTER TABLE t CREATE BRANCH exp")
    bt = t.checkout("exp")
    bt.merge(_batch(spark, [(3, "c", 3)]))
    got = {
        (r.k, r.v)
        for r in ls.sql(
            "SELECT k, v FROM t VERSION AS OF 'exp'"
        ).collect()
    }
    assert (3, "c") in got
    # main unchanged until publish
    assert (3, "c") not in _state(t)
    ls.sql("ALTER TABLE t PUBLISH BRANCH exp")
    t.refresh()
    assert (3, "c") in _state(t)
    ls.sql("ALTER TABLE t DROP BRANCH exp")
    assert [r["name"] for r in t.refs()] == ["main"]
    # tag via SQL, pinned to an explicit version
    ls.sql(f"ALTER TABLE t CREATE TAG snap AS OF VERSION {t.snapshot['version']}")
    assert {r["name"] for r in t.refs()} == {"main", "snap"}


def test_cross_ref_commits_never_conflict_same_ref_commits_do(spark, tmp_path):
    """Conflict detection is PER REF: a branch writer and a main writer
    racing from the same fork point both land (distinct global versions,
    each ref's own lineage), while two stale handles on the SAME ref
    still collide — the second must see ConcurrentCommitError at the
    token, not silently allocate past the first (the lost-update shape
    the global version sequence would otherwise permit)."""
    t = _mk(spark, tmp_path / "refs")
    t.create_branch("stage")
    b = t.checkout("stage")

    # cross-ref: main and stage commit concurrently from the same base
    t.merge(_batch(spark, [(3, "m", 3)]))
    b.merge(_batch(spark, [(4, "s", 3)]))
    assert _state(t) == {(1, "a"), (2, "b"), (3, "m")}
    assert _state(b) == {(1, "a"), (2, "b"), (4, "s")}
    assert t.snapshot["version"] != b.snapshot["version"]

    # same-ref: a second handle on main cached before main's last commit
    stale = LakeTable(spark, t.root)
    _ = stale.snapshot  # caches current head
    t.merge(_batch(spark, [(5, "m2", 4)]))  # head moves under `stale`
    # merge() auto-retries: it must land WITHOUT dropping t's commit
    stale.merge(_batch(spark, [(6, "m3", 5)]))
    stale.refresh()
    assert _state(stale) == {
        (1, "a"), (2, "b"), (3, "m"), (5, "m2"), (6, "m3"),
    }
