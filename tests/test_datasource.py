"""`laketable` Python DataSource (lake/datasource.py).

Contract under test:
- spark.read.format("laketable") equals LakeTable.read() by VALUE on
  every table state: plain COW, MOR deltas (bucket-local fold), dv
  sidecars, equality deletes, evolved schemas, time travel
- pushed filters prune partitions (file skipping) without changing
  results; columns/with_lsn options project correctly
- spark.readStream.format("laketable").option("mode","cdf") serves the
  stored write-time change files exactly once, resumes from a
  checkpoint without duplicates, and refuses non-streamable commits
"""

import os

import pytest
from pyspark.sql import functions as F, types as T
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

from cdm_cbioportal_etl_spark.lake import LakeTable
from cdm_cbioportal_etl_spark.lake.datasource import (
    LakeTableDataSource,
    register,
)

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "content string",
    )


def _mk(spark, tmp_path, name, **kw):
    return LakeTable.create(
        spark,
        os.path.join(str(tmp_path), name),
        SCHEMA,
        key_cols=["repo", "path"],
        n_buckets=4,
        **kw,
    )


BATCH1 = [
    (1, "upsert", "r1", "a.py", "c1", "v1"),
    (2, "upsert", "r1", "b.py", "c2", "v1"),
    (3, "upsert", "r2", "a.py", "c3", "v1"),
    (4, "upsert", "r2", "b.py", "c4", "v1"),
]
BATCH2 = [
    (5, "upsert", "r1", "a.py", "c5", "v2"),
    (6, "delete", "r2", "a.py", None, None),
    (7, "upsert", "r3", "x.py", "c7", "v1"),
]


def _ds(spark, table, **options):
    register(spark)
    r = spark.read.format("laketable").option("path", table.root)
    for k, v in options.items():
        r = r.option(k, str(v))
    return r.load()


def _vals(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_matches_native(spark, table, **read_kw):
    ds_kw = {}
    if "version" in read_kw:
        ds_kw["version"] = read_kw["version"]
    native = table.read(**read_kw)
    got = _ds(spark, table, **ds_kw)
    assert got.columns == native.columns
    assert _vals(got) == _vals(native)


@pytest.mark.parametrize("mode", ["cow", "mor", "dv"])
def test_matches_native_all_merge_modes(spark, tmp_path, mode):
    t = _mk(spark, tmp_path, f"ds-{mode}")
    t.merge(_events(spark, BATCH1), mode=mode, batch_id="b0")
    t.merge(_events(spark, BATCH2), mode=mode, batch_id="b1")
    _assert_matches_native(spark, t)


def test_equality_deletes_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path, "ds-eq")
    t.merge(_events(spark, BATCH1), batch_id="b0")
    v_before = t.snapshot["version"]
    t.delete_keys(
        spark.createDataFrame([("r1", "a.py")], "repo string, path string")
    )
    _assert_matches_native(spark, t)  # eq entry pending (lazy kill)
    _assert_matches_native(spark, t, version=v_before)  # time travel
    t.compact()
    _assert_matches_native(spark, t)  # eq entry retired


def test_schema_evolution_null_fills_old_files(spark, tmp_path):
    t = _mk(spark, tmp_path, "ds-evo")
    t.merge(_events(spark, BATCH1), batch_id="b0")
    t.evolve_schema(
        T.StructType(
            list(SCHEMA.fields) + [T.StructField("lang", T.StringType())]
        )
    )
    evolved = spark.createDataFrame(
        [(10, "upsert", "r9", "z.py", "c9", "v1", "python")],
        "lsn long, op string, repo string, path string, commit string, "
        "content string, lang string",
    )
    t.merge(evolved, batch_id="b1")
    _assert_matches_native(spark, t)
    got = _ds(spark, t)
    assert got.filter("repo = 'r1'").select("lang").distinct().collect()[
        0
    ][0] is None


def test_projection_and_lsn_options(spark, tmp_path):
    t = _mk(spark, tmp_path, "ds-proj")
    t.merge(_events(spark, BATCH1), batch_id="b0")
    got = _ds(spark, t, columns="repo,commit")
    assert got.columns == ["repo", "commit"]
    assert _vals(got) == _vals(t.read(columns=["repo", "commit"]))
    with_lsn = _ds(spark, t, with_lsn="true")
    assert with_lsn.columns[-1] == "_lsn"
    assert _vals(with_lsn) == _vals(t.read(with_lsn=True))


def test_filter_pushdown_prunes_files_and_keeps_results(spark, tmp_path):
    t = LakeTable.create(
        spark,
        os.path.join(str(tmp_path), "ds-prune"),
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("v", T.StringType()),
            ]
        ),
        key_cols=["k"],
        n_buckets=8,
    )
    src = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.col("id").alias("lsn"),
        F.lit("upsert").alias("op"),
    )
    t.merge(src, batch_id="b0")
    register(spark)
    # end-to-end: the residual filter is re-applied by Spark, so the
    # result is exact regardless of which files pruning admitted
    got = (
        spark.read.format("laketable")
        .option("path", t.root)
        .load()
        .filter("k >= 3990")
    )
    assert _vals(got) == _vals(t.read().filter("k >= 3990"))
    # planner-level: stats pruning admits strictly fewer FILES (files
    # pack into row-budgeted partitions, so count the planned files)
    ds = LakeTableDataSource({"path": t.root})
    unfiltered = ds.reader(None)
    n_all = sum(len(p.files) for p in unfiltered.partitions())
    pruned = ds.reader(None)
    list(pruned.pushFilters([GreaterThanOrEqual(("k",), 3990)]))
    n_pruned = sum(len(p.files) for p in pruned.partitions())
    assert n_pruned < n_all
    # packing is row-budgeted: a 1-row budget degenerates to one file
    # per partition, and results stay exact either way
    one_per_file = LakeTableDataSource(
        {"path": t.root, "target_partition_rows": "1"}
    ).reader(None)
    assert all(len(p.files) == 1 for p in one_per_file.partitions())
    assert len(one_per_file.partitions()) == n_all
    # a point filter returns every filter to Spark (skip-only pushdown)
    r = ds.reader(None)
    back = list(r.pushFilters([EqualTo(("k",), 7), LessThan(("v",), "x")]))
    assert len(back) == 2


def test_point_lookup_prunes_to_one_bucket_and_blooms(spark, tmp_path):
    t = LakeTable.create(
        spark,
        os.path.join(str(tmp_path), "ds-point"),
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("v", T.StringType()),
            ]
        ),
        key_cols=["k"],
        n_buckets=8,
        properties={"file_blooms": 65536},
    )
    for b in range(3):  # several commits -> several files per bucket
        src = spark.range(b * 1000, (b + 1) * 1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
            F.col("id").alias("lsn"),
            F.lit("upsert").alias("op"),
        )
        t.merge(src, batch_id=f"b{b}")
    register(spark)
    for key in (7, 999, 1500, 2999):
        got = (
            spark.read.format("laketable")
            .option("path", t.root)
            .load()
            .filter(F.col("k") == key)
        )
        assert _vals(got) == _vals(t.point_lookup({"k": key}))
    # planner-level: an all-key equality plans ONE bucket's files, and
    # the bloom sidecars reject that bucket's key-free files on top
    ds = LakeTableDataSource({"path": t.root})
    full = len(ds.reader(None).partitions())
    r = ds.reader(None)
    list(r.pushFilters([EqualTo(("k",), 1500)]))
    parts = r.partitions()
    per_bucket = full / 8
    assert len(parts) <= per_bucket  # <= : blooms may reject further
    n_files = sum(len(p.files) for p in parts)
    assert 1 <= n_files <= 3  # the key was written once across 3 commits
    # a string-keyed table prunes too (utf-8 hash path)
    t2 = _mk(spark, tmp_path, "ds-point-str")
    t2.merge(_events(spark, BATCH1), batch_id="b0")
    register(spark)
    got = (
        spark.read.format("laketable")
        .option("path", t2.root)
        .load()
        .filter((F.col("repo") == "r1") & (F.col("path") == "a.py"))
    )
    assert _vals(got) == _vals(
        t2.point_lookup({"repo": "r1", "path": "a.py"})
    )
    r2 = LakeTableDataSource({"path": t2.root}).reader(None)
    list(
        r2.pushFilters(
            [EqualTo(("repo",), "r1"), EqualTo(("path",), "a.py")]
        )
    )
    buckets_planned = {
        os.path.dirname(f[1]) for p in r2.partitions() for f in p.files
    }
    assert len(buckets_planned) == 1
    # partial key equality must NOT bucket-prune (other keys remain)
    r3 = LakeTableDataSource({"path": t2.root}).reader(None)
    list(r3.pushFilters([EqualTo(("repo",), "r1")]))
    assert r3._point_key() is None


def test_batch_cdf_mode_refused(spark, tmp_path):
    t = _mk(spark, tmp_path, "ds-refuse")
    t.merge(_events(spark, BATCH1), batch_id="b0")
    register(spark)
    with pytest.raises(Exception, match="streaming source"):
        spark.read.format("laketable").option("path", t.root).option(
            "mode", "cdf"
        ).load().collect()


def test_stream_cdf_exactly_once_and_resume(spark, tmp_path):
    t = _mk(
        spark, tmp_path, "ds-stream", properties={"write_changes": "true"}
    )
    start_v = t.snapshot["version"]
    t.merge(_events(spark, BATCH1), batch_id="b0")
    register(spark)
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def _run_until_caught_up():
        q = (
            spark.readStream.format("laketable")
            .option("path", t.root)
            .option("mode", "cdf")
            .option("startingVersion", str(start_v))
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run_until_caught_up()
    got1 = spark.read.parquet(sink)
    want1 = t.table_changes(
        start_v, t.snapshot["version"], include_preimages=True
    )
    assert sorted(
        tuple(r) for r in got1.drop("_commit_version").collect()
    ) == sorted(tuple(r) for r in want1.collect())

    # more commits, then RESUME from the checkpoint: only the new
    # commits' change rows appear, none of batch b0's are repeated
    mid_v = t.snapshot["version"]
    t.merge(_events(spark, BATCH2), batch_id="b1")
    _run_until_caught_up()
    got2 = spark.read.parquet(sink)
    want2 = t.table_changes(
        start_v, t.snapshot["version"], include_preimages=True
    )
    assert sorted(
        tuple(r) for r in got2.drop("_commit_version").collect()
    ) == sorted(tuple(r) for r in want2.collect())
    # _commit_version tags each row with the commit that produced it
    assert (
        got2.filter(F.col("_commit_version") > mid_v).count()
        == want2.count() - want1.count()
    )


def test_stream_refuses_non_streamable_commits(spark, tmp_path):
    t = _mk(spark, tmp_path, "ds-nostream")  # write_changes NOT set
    start_v = t.snapshot["version"]
    t.merge(_events(spark, BATCH1), batch_id="b0")
    register(spark)
    q = (
        spark.readStream.format("laketable")
        .option("path", t.root)
        .option("mode", "cdf")
        .option("startingVersion", str(start_v))
        .load()
        .writeStream.format("memory")
        .queryName("ds_nostream")
        .option(
            "checkpointLocation", os.path.join(str(tmp_path), "ckpt2")
        )
        .start()
    )
    with pytest.raises(Exception, match="not streamable"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_partial_image_mor_read_matches_native(spark, tmp_path):
    """Pending partial-image deltas fold per column in the Arrow reader:
    a null delta column inherits the base value."""
    t = _mk(
        spark,
        tmp_path,
        "ds-partial",
        properties={"partial_updates": "true"},
    )
    t.merge(_events(spark, BATCH1), batch_id="b0", partial_update=True)
    # second batch through MOR leaves deltas pending
    t.merge(
        _events(spark, [(9, "upsert", "r1", "a.py", "c9", None)]),
        mode="mor",
        batch_id="b1",
        partial_update=True,
    )
    _assert_matches_native(spark, t)
    got = _ds(spark, t).filter("repo = 'r1' AND path = 'a.py'").collect()
    assert [(r.commit, r.content) for r in got] == [("c9", "v1")]


def test_stream_schema_evolution_fails_then_resumes_after_restart(
    spark, tmp_path
):
    """Delta CDF's evolution rule: a live stream whose schema predates a
    commit FAILS (never silently drops the new column); a restarted
    stream picks up the evolved schema from the checkpoint, and the
    pre-evolution commits' change rows null-fill the new column."""
    t = _mk(
        spark, tmp_path, "ds-evo-stream",
        properties={"write_changes": "true"},
    )
    start_v = t.snapshot["version"]
    t.merge(_events(spark, BATCH1), batch_id="b0")
    register(spark)
    sink = os.path.join(str(tmp_path), "evo-sink")
    ckpt = os.path.join(str(tmp_path), "evo-ckpt")

    def _run(out):
        q = (
            spark.readStream.format("laketable")
            .option("path", t.root)
            .option("mode", "cdf")
            .option("startingVersion", str(start_v))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # ONE live query: drain b0 under the original schema, then let the
    # evolution commit land while the query (old-schema reader) still runs
    q = (
        spark.readStream.format("laketable")
        .option("path", t.root)
        .option("mode", "cdf")
        .option("startingVersion", str(start_v))
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        t.evolve_schema(
            T.StructType(
                list(SCHEMA.fields) + [T.StructField("lang", T.StringType())]
            )
        )
        t.merge(
            spark.createDataFrame(
                [(10, "upsert", "r9", "z.py", "c9", "v1", "python")],
                "lsn long, op string, repo string, path string, "
                "commit string, content string, lang string",
            ),
            batch_id="b1",
        )
        # the live OLD-schema stream must fail loudly, never drop columns
        with pytest.raises(Exception, match="newer schema"):
            q.processAllAvailable()
            q.awaitTermination(30)
    finally:
        try:
            q.stop()
        except Exception:
            pass

    # restart = new reader picks up the evolved schema (a parquet file
    # sink cannot change schema, so the restarted query gets a fresh
    # sink+checkpoint and replays from startingVersion — checkpoint
    # resume itself is covered by test_stream_cdf_exactly_once_and_resume)
    sink2 = os.path.join(str(tmp_path), "evo-sink2")
    ckpt = os.path.join(str(tmp_path), "evo-ckpt2")
    _run(sink2)
    got = spark.read.parquet(sink2)
    assert "lang" in got.columns
    rows = {(r["repo"], r["path"]): r["lang"] for r in got.collect()}
    # post-evolution commit carries the value; pre-evolution null-fills
    assert rows[("r9", "z.py")] == "python"
    assert rows[("r1", "b.py")] is None


def test_file_packing_multi_file_partitions_stay_exact(spark, tmp_path):
    """Several commits per bucket -> multi-file partitions under the
    default row budget; dv kill lists still apply inside a packed chunk
    (dv_files attach per-partition, masks key per-file)."""
    t = _mk(spark, tmp_path, "ds-pack", properties={"merge_mode": "dv"})
    for b in range(4):
        rows = [
            (b * 100 + i, "upsert", f"r{i % 3}", f"f{i}.py", f"c{b}", f"v{b}")
            for i in range(12)
        ]
        t.merge(_events(spark, rows), mode="dv", batch_id=f"b{b}")
    # delete some keys -> dv kills on earlier files
    t.merge(
        _events(spark, [(900, "delete", "r0", "f0.py", None, None),
                        (901, "delete", "r1", "f4.py", None, None)]),
        mode="dv", batch_id="kill",
    )
    r = LakeTableDataSource({"path": t.root}).reader(None)
    parts = r.partitions()
    n_files = sum(len(p.files) for p in parts)
    assert any(len(p.files) > 1 for p in parts), "no packing happened"
    assert len(parts) < n_files
    _assert_matches_native(spark, t)
