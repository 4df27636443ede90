"""Incremental materialized-view maintenance (IncrementalAggView).

The invariant under test everywhere: after any sequence of source merges
and view refreshes, the view EQUALS the full recompute
``source.read().groupBy(...).agg(count, sums)`` — while each refresh only
applies signed deltas from the change feed.
"""

import pytest
from pyspark.sql import functions as F, types as T

from cdm_cbioportal_etl_spark.lake import IncrementalAggView, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("x", T.DoubleType()),
    ]
)

_BATCH = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        *SCHEMA.fields,
    ]
)


def _mk_source(spark, tmp_path, name, **props):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, ["k"], n_buckets=4,
        properties=props or None,
    )


def _merge(t, rows):
    t.merge(t.spark.createDataFrame(rows, _BATCH))


def _recompute(source):
    return {
        (r.grp, r.cnt, r.sum_v, float(r.sum_x) if r.sum_x is not None else None)
        for r in source.read()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v").alias("sum_v"),
            F.sum("x").alias("sum_x"),
        )
        .collect()
    }


def _view_state(view):
    return {
        (r.grp, r.cnt, r.sum_v, float(r.sum_x) if r.sum_x is not None else None)
        for r in view.read().collect()
    }


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_view_tracks_source_through_merges(spark, tmp_path, mode):
    src = _mk_source(spark, tmp_path, f"src_{mode}", merge_mode=mode)
    _merge(src, [(1, "upsert", "k1", "a", 10, 1.5),
                 (2, "upsert", "k2", "a", 20, 2.5),
                 (3, "upsert", "k3", "b", 30, 3.5)])
    view = IncrementalAggView.create(
        spark, str(tmp_path / f"view_{mode}"), src, ["grp"], ["v", "x"],
        n_buckets=4,
    )
    assert _view_state(view) == _recompute(src)

    # update moving a key ACROSS groups (a→b), a delete, an insert
    _merge(src, [(4, "upsert", "k1", "b", 11, 1.0),
                 (5, "delete", "k2", None, None, None),
                 (6, "upsert", "k4", "c", 40, 4.0)])
    rep = view.refresh(src)
    assert rep["groups"] > 0
    assert _view_state(view) == _recompute(src), mode
    # group 'a' reached zero members → deleted from the view
    assert "a" not in {r.grp for r in view.read().collect()}

    # another round: in-group update only
    _merge(src, [(7, "upsert", "k3", "b", 31, 3.0)])
    view.refresh(src)
    assert _view_state(view) == _recompute(src), mode


def test_refresh_is_idempotent_and_noop_safe(spark, tmp_path):
    src = _mk_source(spark, tmp_path, "src_idem")
    _merge(src, [(1, "upsert", "k1", "a", 1, 1.0)])
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view_idem"), src, ["grp"], ["v"],
    )
    _merge(src, [(2, "upsert", "k2", "a", 2, 2.0)])
    view.refresh(src)
    before = _consumed_and_rows(view)
    # second refresh with no new source version: early no-op
    rep = view.refresh(src)
    assert rep["groups"] == 0
    assert _consumed_and_rows(view) == before


def _consumed_and_rows(view):
    return (
        view.consumed_version(),
        tuple(sorted((r.grp, r.cnt, r.sum_v) for r in view.read().collect())),
    )


def test_structural_source_change_advances_watermark(spark, tmp_path):
    """Compaction creates a new source version with zero logical changes;
    refresh must advance the watermark (metadata-only) so the lookback
    horizon keeps up with snapshot expiry."""
    src = _mk_source(spark, tmp_path, "src_struct", merge_mode="mor")
    _merge(src, [(1, "upsert", "k1", "a", 1, 1.0)])
    _merge(src, [(2, "upsert", "k1", "a", 2, 2.0)])
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view_struct"), src, ["grp"], ["v"],
    )
    assert src.compact() > 0
    rep = view.refresh(src)
    assert rep["groups"] == 0
    assert view.consumed_version() == src.snapshot["version"]
    assert _consumed_and_rows(view)[1] == (("a", 1, 2),)


def test_view_advance_reports_its_operation(spark, tmp_path):
    """The watermark-only commit of a structural source interval shows in
    the view's history() as ``view_advance``, not as a merge."""
    src = _mk_source(spark, tmp_path, "src_adv", merge_mode="mor")
    _merge(src, [(1, "upsert", "k1", "a", 1, 1.0)])
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view_adv"), src, ["grp"], ["v"],
    )
    assert src.compact() > 0
    view.refresh(src)
    last = view.table.history().collect()[-1]
    assert (last["operation"], last["batch_id"]) == (
        "view_advance", f"view-advance-{src.snapshot['version']}",
    )


def test_null_group_values(spark, tmp_path):
    src = _mk_source(spark, tmp_path, "src_null")
    _merge(src, [(1, "upsert", "k1", None, 5, 1.0),
                 (2, "upsert", "k2", "a", 7, 2.0)])
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view_null"), src, ["grp"], ["v"],
    )
    _merge(src, [(3, "upsert", "k3", None, 6, 3.0)])
    view.refresh(src)
    got = {r.grp: (r.cnt, r.sum_v) for r in view.read().collect()}
    assert got[None] == (2, 11) and got["a"] == (1, 7)


def test_view_reopen_from_disk(spark, tmp_path):
    src = _mk_source(spark, tmp_path, "src_reopen")
    _merge(src, [(1, "upsert", "k1", "a", 1, 1.0)])
    IncrementalAggView.create(
        spark, str(tmp_path / "view_reopen"), src, ["grp"], ["v"],
    )
    _merge(src, [(2, "upsert", "k2", "b", 2, 2.0)])
    # reopen by root path: spec comes from table properties
    view2 = IncrementalAggView(spark, str(tmp_path / "view_reopen"))
    assert view2.group_cols == ["grp"] and view2.sum_cols == ["v"]
    view2.refresh(src)
    got = {r.grp: (r.cnt, r.sum_v) for r in view2.read().collect()}
    assert got == {"a": (1, 1), "b": (1, 2)}


def test_streaming_wal_to_view_chain(spark, tmp_path):
    """Full CDC chain: WAL segments → streaming exactly-once merge →
    incremental view refresh per drain — the view ends equal to the
    full recompute over the final table state."""
    import os

    from pyspark.sql import functions as F

    from cdm_cbioportal_etl_spark.cdc import gen_change_events
    from cdm_cbioportal_etl_spark.cdc.generator import REPOS_SCHEMA
    from cdm_cbioportal_etl_spark.streaming import WalTailReader

    events = gen_change_events(spark, 4000, n_repos=15, paths_per_repo=25, seed=7)
    wal_dir = str(tmp_path / "wal")
    table = LakeTable.create(
        spark, str(tmp_path / "tbl"),
        T.StructType(list(REPOS_SCHEMA.fields)), ["repo", "path"], n_buckets=8,
    )
    view = IncrementalAggView.create(
        spark, str(tmp_path / "v"), table, ["lang"], n_buckets=4
    )

    def _seg(lo, hi, i):
        (events.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(wal_dir, f"seg-{i:04d}")))

    for i, (lo, hi) in enumerate([(0, 1500), (1500, 3000), (3000, 4000)]):
        _seg(lo, hi, i)
        WalTailReader(
            spark, os.path.join(wal_dir, "seg-*"), table,
            str(tmp_path / "ckpt"),
        ).run_available_now()
        view.refresh(table)
        # invariant at every step, not just the end
        want = {
            (r.lang, r.cnt)
            for r in table.read().groupBy("lang")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        got = {(r.lang, r.cnt) for r in view.read().collect()}
        assert got == want, f"segment {i}"
    assert view.consumed_version() == table.snapshot["version"]


def test_view_survives_source_schema_evolution(spark, tmp_path):
    """A source column added AFTER view creation must not break refresh:
    the change feed aligns old pre-images to the new schema and the view
    only touches its configured columns."""
    src = _mk_source(spark, tmp_path, "src_evo")
    _merge(src, [(1, "upsert", "k1", "a", 1, 1.0)])
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view_evo"), src, ["grp"], ["v"],
    )
    wide = T.StructType(list(SCHEMA.fields) + [T.StructField("w", T.StringType())])
    src.evolve_schema(wide)
    batch = T.StructType(
        [T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType()),
         *wide.fields]
    )
    src.merge(spark.createDataFrame(
        [(2, "upsert", "k1", "b", 5, 2.0, "x"),
         (3, "upsert", "k2", "b", 7, 3.0, "y")], batch,
    ))
    view.refresh(src)
    got = {r.grp: (r.cnt, r.sum_v) for r in view.read().collect()}
    assert got == {"b": (2, 12)}


def test_view_refresh_after_source_rebucket_is_noop(spark, tmp_path):
    src = _mk_source(spark, tmp_path, "src_rbk")
    _merge(src, [(1, "upsert", "k1", "a", 1, 1.0),
                 (2, "upsert", "k2", "b", 2, 2.0)])
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view_rbk"), src, ["grp"], ["v"],
    )
    src.rebucket(8)  # all buckets change structurally, zero logical delta
    rep = view.refresh(src)
    assert rep["groups"] == 0
    assert view.consumed_version() == src.snapshot["version"]
    got = {r.grp: (r.cnt, r.sum_v) for r in view.read().collect()}
    assert got == {"a": (1, 1), "b": (1, 2)}


def test_wal_reader_maintains_views_inline(spark, tmp_path):
    """views=[...] on the WAL reader: every micro-batch commit refreshes
    the downstream aggregates — one declarative object for the chain."""
    import os

    from pyspark.sql import functions as F

    from cdm_cbioportal_etl_spark.cdc import gen_change_events
    from cdm_cbioportal_etl_spark.cdc.generator import REPOS_SCHEMA
    from cdm_cbioportal_etl_spark.streaming import WalTailReader

    events = gen_change_events(spark, 3000, n_repos=10, paths_per_repo=20, seed=3)
    wal_dir = str(tmp_path / "wal")
    (events.coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(wal_dir, "seg-0000")))
    table = LakeTable.create(
        spark, str(tmp_path / "tbl"),
        T.StructType(list(REPOS_SCHEMA.fields)), ["repo", "path"], n_buckets=4,
    )
    view = IncrementalAggView.create(
        spark, str(tmp_path / "v"), table, ["lang"], n_buckets=2
    )
    WalTailReader(
        spark, os.path.join(wal_dir, "seg-*"), table,
        str(tmp_path / "ckpt"), max_files_per_trigger=1, views=[view],
    ).run_available_now()
    want = {
        (r.lang, r.cnt)
        for r in table.read().groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert {(r.lang, r.cnt) for r in view.read().collect()} == want
    assert view.consumed_version() == table.snapshot["version"]
