"""Per-file min/max column stats + stats-pruned reads (data skipping).

The manifest-side analogue of Iceberg's data-file stats: every written
parquet file records min/max for the table's stats columns (default keys
+ LSN); ``read(prune=...)`` skips files whose range cannot match.  The
invariant under test everywhere: pruning NEVER changes query results —
it only shrinks the file set; the caller's row filter does the rest.
"""

import pytest
from pyspark.sql import functions as F, types as T

from cdm_cbioportal_etl_spark.lake import LakeTable
from cdm_cbioportal_etl_spark.lake.table import LSN_COL


SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _mk(spark, tmp_path, n_buckets=4, **props):
    return LakeTable.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        ["k"],
        n_buckets=n_buckets,
        properties=props or None,
    )


def _rows(spark, lsn0, n, grp="a"):
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    return spark.createDataFrame(
        [(lsn0 + i, "upsert", f"k{i:03d}", grp, lsn0 + i) for i in range(n)],
        schema,
    )


def _all_files(table):
    return [f for files in table.snapshot["buckets"].values() for f in files]


def test_stats_recorded_on_write(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_rows(spark, 1, 40))
    files = _all_files(t)
    assert files
    for f in files:
        st = f.get("stats")
        assert st is not None
        assert set(st) == {"k", LSN_COL}
        lo, hi = st["k"]
        assert lo.startswith("k") and hi.startswith("k") and lo <= hi
        assert st[LSN_COL][0] >= 1 and st[LSN_COL][1] <= 40


def test_pruned_read_equals_filtered_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_rows(spark, 1, 40))
    want = {(r.k, r.v) for r in t.read().filter(F.col("k") == "k007").collect()}
    got = {
        (r.k, r.v)
        for r in t.read(prune={"k": "k007"}).filter(F.col("k") == "k007").collect()
    }
    assert got == want and len(got) == 1
    # range form, open bounds
    want = {r.k for r in t.read().filter(F.col("k") >= "k030").collect()}
    got = {
        r.k
        for r in t.read(prune={"k": ("k030", None)})
        .filter(F.col("k") >= "k030")
        .collect()
    }
    assert got == want and len(got) == 10


def test_prune_skips_files_by_lsn(spark, tmp_path):
    """Two merges; since-LSN pruning must admit strictly fewer files than
    the full scan plans (the incremental-read shape)."""
    t = _mk(spark, tmp_path, merge_mode="mor")
    t.merge(_rows(spark, 1, 40))
    t.merge(_rows(spark, 101, 8))
    files = _all_files(t)
    admitted = [
        f for f in files if LakeTable._stats_admit(f, {LSN_COL: (101, None)})
    ]
    assert 0 < len(admitted) < len(files)
    # every admitted file really holds lsn >= 101 rows (delta files only)
    assert all(f["stats"][LSN_COL][1] >= 101 for f in admitted)


def test_prune_is_noop_for_nonkey_under_mor_deltas(spark, tmp_path):
    """A non-key column changes across versions: with delta files present,
    pruning on it must be disabled (stale-row resurrection hazard), so a
    pruned read equals the unpruned read exactly."""
    t = _mk(spark, tmp_path, merge_mode="mor")
    t.merge(_rows(spark, 1, 10, grp="old"))
    t.merge(_rows(spark, 101, 10, grp="new"))  # same keys, grp flips
    base = {(r.k, r.grp) for r in t.read().collect()}
    pruned = {(r.k, r.grp) for r in t.read(prune={"grp": "old"}).collect()}
    assert pruned == base
    # and the filtered answer is empty — no stale 'old' version survives
    assert not t.read(prune={"grp": "old"}).filter(F.col("grp") == "old").count()


def test_nonkey_prune_sound_after_compact(spark, tmp_path):
    """compact() folds deltas into base files; with no deltas left,
    non-key pruning re-enables and stays result-identical."""
    t = _mk(spark, tmp_path, merge_mode="mor")
    t.merge(_rows(spark, 1, 10, grp="old"))
    t.merge(_rows(spark, 101, 10, grp="new"))
    t.compact(max_files_per_bucket=1)
    assert not any(f.get("delta") for f in _all_files(t))
    want = {r.k for r in t.read().filter(F.col("grp") == "new").collect()}
    got = {
        r.k
        for r in t.read(prune={"grp": "new"}).filter(F.col("grp") == "new").collect()
    }
    assert got == want and len(got) == 10


def test_stats_admit_missing_stats_is_conservative():
    assert LakeTable._stats_admit({}, {"k": "x"})
    assert LakeTable._stats_admit({"stats": {}}, {"k": ("a", "b")})
    assert not LakeTable._stats_admit({"stats": {"k": ["m", "p"]}}, {"k": "a"})
    assert LakeTable._stats_admit({"stats": {"k": ["m", "p"]}}, {"k": "n"})


def test_stats_cols_property_override(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "t2"),
        SCHEMA,
        ["k"],
        n_buckets=2,
        properties={"stats_cols": "v"},
    )
    t.merge(_rows(spark, 1, 6))
    for f in _all_files(t):
        assert set(f.get("stats", {})) == {"v"}


# --------------------------------------------------------------------- #
# COW file skipping (file-level copy-on-write granularity)
# --------------------------------------------------------------------- #


def _paths(table):
    return {f["path"] for f in _all_files(table)}


def test_cow_insert_only_batches_carry_all_prior_files(spark, tmp_path):
    """Disjoint-key insert batches: every prior file is referenced
    unchanged (merge cost ~ batch bytes), reads stay resolution-free,
    and the final state is exact."""
    t = _mk(spark, tmp_path, n_buckets=2)
    s1 = t.merge(_rows(spark, 1, 20))          # keys k000..k019
    gen1 = _paths(t)
    # second batch: key range m... strictly above every k... file range
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    b2 = spark.createDataFrame(
        [(100 + i, "upsert", f"m{i:03d}", "b", 100 + i) for i in range(20)],
        schema,
    )
    s2 = t.merge(b2)
    assert s1.carried_files == 0
    assert s2.carried_files == len(gen1) and s2.carried_files > 0
    assert gen1 <= _paths(t)                    # originals still referenced
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 40
    assert got["k005"] == 6 and got["m005"] == 105
    assert t.row_count() == 40


def test_cow_point_update_rewrites_only_overlapping_files(spark, tmp_path):
    """After two disjoint generations, updating one key in the first
    generation's range carries the second generation's files."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.merge(_rows(spark, 1, 20))
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    t.merge(
        spark.createDataFrame(
            [(100 + i, "upsert", f"m{i:03d}", "b", 100 + i) for i in range(20)],
            schema,
        )
    )
    m_files = {
        f["path"] for f in _all_files(t) if f["stats"]["k"][0].startswith("m")
    }
    s3 = t.merge(
        spark.createDataFrame(
            [(500, "upsert", "k005", "z", 999), (501, "delete", "k006", None, None)],
            schema,
        )
    )
    assert s3.carried_files >= len(m_files) > 0
    assert m_files <= _paths(t)
    got = {r.k: (r.grp, r.v) for r in t.read().collect()}
    assert got["k005"] == ("z", 999)
    assert "k006" not in got and len(got) == 39
    assert t.row_count() == 39


def test_cow_file_skip_disabled_by_property(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=2, cow_file_skip="false")
    t.merge(_rows(spark, 1, 20))
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    s2 = t.merge(
        spark.createDataFrame(
            [(100, "upsert", "m000", "b", 100)], schema
        )
    )
    assert s2.carried_files == 0
    assert {r.k for r in t.read().collect()} == {f"k{i:03d}" for i in range(20)} | {
        "m000"
    }


def test_cow_null_key_batch_disables_skip_and_stays_correct(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=2)
    t.merge(_rows(spark, 1, 20))
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    s2 = t.merge(
        spark.createDataFrame([(100, "upsert", None, "n", 1)], schema)
    )
    assert s2.carried_files == 0               # stats are null-blind
    rows = t.read().collect()
    assert len(rows) == 21
    assert any(r.k is None and r.grp == "n" for r in rows)
    # replacing the null-key row later must replace, not duplicate
    t.merge(spark.createDataFrame([(200, "upsert", None, "n2", 2)], schema))
    rows = {(r.k, r.grp) for r in t.read().collect()}
    assert (None, "n2") in rows and (None, "n") not in rows


def test_cow_skip_after_mor_deltas_rewrites_delta_buckets(spark, tmp_path):
    """Mixed modes: buckets holding delta files must rewrite wholly (a
    key's versions may span admitted/carried files), and the result
    matches; afterwards the table is delta-free."""
    t = _mk(spark, tmp_path, n_buckets=2)
    t.merge(_rows(spark, 1, 20))
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    # MOR update flips grp for k001 — base + delta now both hold k001
    t.merge(
        spark.createDataFrame([(100, "upsert", "k001", "new", 100)], schema),
        mode="mor",
    )
    assert any(f.get("delta") for f in _all_files(t))
    # COW batch with a key range disjoint from everything: delta buckets
    # still rewrite in full (carried only from delta-free buckets)
    t.merge(
        spark.createDataFrame([(200, "upsert", "zzz", "z", 1)], schema)
    )
    assert not any(f.get("delta") for f in _all_files(t))
    got = {r.k: r.grp for r in t.read().collect()}
    assert got["k001"] == "new" and got["zzz"] == "z" and len(got) == 21


def test_cow_skip_many_generations_compact_folds(spark, tmp_path):
    """Files accumulate across disjoint generations; compact() folds them
    and preserves state."""
    t = _mk(spark, tmp_path, n_buckets=2)
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    for g in range(5):
        t.merge(
            spark.createDataFrame(
                [
                    (g * 100 + i + 1, "upsert", f"g{g}k{i:02d}", "x", g * 100 + i)
                    for i in range(8)
                ],
                schema,
            )
        )
    assert t.row_count() == 40
    files_before = len(_all_files(t))
    assert files_before > 2                     # generations accumulated
    t.compact(max_files_per_bucket=1)
    assert len(_all_files(t)) <= 2
    assert {r.k for r in t.read().collect()} == {
        f"g{g}k{i:02d}" for g in range(5) for i in range(8)
    }


def test_changes_since_incremental_feed(spark, tmp_path):
    """Downstream watermark consumption: each poll sees exactly the rows
    whose current version landed after its watermark, in both modes."""
    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark,
            str(tmp_path / f"cs_{mode}"),
            SCHEMA,
            ["k"],
            n_buckets=2,
            properties={"merge_mode": mode},
        )
        t.merge(_rows(spark, 1, 10, grp="g1"))
        w1 = t.applied_lsn()
        schema = T.StructType(
            [
                T.StructField("lsn", T.LongType()),
                T.StructField("op", T.StringType()),
                *SCHEMA.fields,
            ]
        )
        t.merge(
            spark.createDataFrame(
                [
                    (101, "upsert", "k003", "g2", 999),   # update
                    (102, "upsert", "new1", "g2", 1),     # insert
                ],
                schema,
            )
        )
        got = {(r.k, r.grp) for r in t.changes_since(w1).collect()}
        assert got == {("k003", "g2"), ("new1", "g2")}, mode
        # nothing new after the latest watermark
        assert t.changes_since(t.applied_lsn()).count() == 0


def test_auto_compact_policy_bounds_file_count(spark, tmp_path):
    """auto_compact_files folds any bucket past the threshold right after
    a merge; state is preserved and file counts stay bounded."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "ac"),
        SCHEMA,
        ["k"],
        n_buckets=2,
        properties={"auto_compact_files": 3},
    )
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    for g in range(6):                       # disjoint generations accumulate
        t.merge(
            spark.createDataFrame(
                [
                    (g * 100 + i + 1, "upsert", f"g{g}k{i:02d}", "x", i)
                    for i in range(6)
                ],
                schema,
            )
        )
    for files in t.snapshot["buckets"].values():
        assert len(files) <= 3
    assert t.row_count() == 36
    assert {r.k for r in t.read().collect()} == {
        f"g{g}k{i:02d}" for g in range(6) for i in range(6)
    }


def test_auto_compact_does_not_fold_mor_deltas_below_threshold(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ac2"),
        SCHEMA,
        ["k"],
        n_buckets=2,
        properties={"auto_compact_files": 8, "merge_mode": "mor"},
    )
    t.merge(_rows(spark, 1, 10))
    t.merge(_rows(spark, 101, 10, grp="new"))
    # below threshold: delta files must SURVIVE (MOR stays MOR)
    assert any(f.get("delta") for f in _all_files(t))
    assert {(r.k, r.grp) for r in t.read().collect()} == {
        (f"k{i:03d}", "new") for i in range(10)
    }


def test_lineage_retention_cap(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "lin"),
        SCHEMA,
        ["k"],
        n_buckets=2,
        properties={"max_lineage": 3},
    )
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *SCHEMA.fields,
        ]
    )
    for i in range(6):
        t.merge(
            spark.createDataFrame([(i + 1, "upsert", f"k{i}", "a", i)], schema)
        )
    lin = t.snapshot["lineage"]
    assert len(lin) == 3
    assert lin[-1]["lsn_max"] == 6          # newest records survive
    assert t.applied_lsn() == 6             # ledger watermark untouched
    assert t.row_count() == 6
    # metadata and maintenance commits keep the same cap
    t.set_properties({"owner": "etl"})
    t.add_constraint("v_nonneg", "v >= 0")
    t.drop_constraint("v_nonneg")
    assert t.compact(max_files_per_bucket=0) > 0
    lin = t.snapshot["lineage"]
    assert [r["operation"] for r in lin] == [
        "add_constraint", "drop_constraint", "compact",
    ]
    # ...and each one commits onto its base: the parent chain is whole
    head = t.snapshot["version"]
    assert [v for v, _ in t._ancestry()] == list(range(head, -1, -1))
