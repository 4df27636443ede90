"""Property: the `laketable` DataSource read equals the native read (and
the brute-force Python fold) over ARBITRARY mixed-mode histories.

test_property_dv_eq.py proves the ENGINE converges on any interleaving
of cow/mor/dv merges and equality deletes; this suite re-reads every
such final state through the registry surface (Python-planned, Arrow
partition reads, in-partition dv/eq kills and MOR folds) — the two read
planes must be value-identical on the whole composition space, not just
the hand-picked states in test_datasource.py.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdm_cbioportal_etl_spark.lake import LakeTable, register_lake_datasource
from tests.test_property_dv_eq import SCHEMA, python_oracle, step_strategy


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=st.lists(step_strategy, min_size=1, max_size=4))
def test_datasource_equals_native_on_mixed_histories(
    spark, tmp_path_factory, steps
):
    root = str(tmp_path_factory.mktemp("propds")) + "/t"
    # sharded manifests on: the property then covers manifest sharding
    # composed with every merge-mode interleaving for free
    table = LakeTable.create(
        spark, root, SCHEMA, key_cols=["k"], n_buckets=2,
        properties={"manifest_shards": 2},
    )
    lsn = -1
    pending_mor = False
    for kind, mode, payload in steps:
        if kind == "merge":
            rows = []
            for op, k, v in payload:
                lsn += 1
                rows.append((lsn, op, k, v))
            df = spark.createDataFrame(
                rows, "lsn long, op string, k string, v string"
            )
            if mode == "dv" and pending_mor:
                table.compact(max_files_per_bucket=0)
                pending_mor = False
            table.merge(df, mode=mode)
            if mode == "mor":
                pending_mor = True
        else:
            lsn += 1
            table.delete_keys(
                spark.createDataFrame([(k,) for k in set(payload)], "k string")
            )
    register_lake_datasource(spark)
    want = python_oracle(steps)
    ds = (
        spark.read.format("laketable").option("path", root).load()
    )
    got = {(r["k"], r["v"]) for r in ds.select("k", "v").collect()}
    native = {
        (r["k"], r["v"]) for r in table.read().select("k", "v").collect()
    }
    assert got == native == want
    # each key's driver-local point lookup is the same key-filtered read
    for k in "abcd":
        hit = {(r["k"], r["v"]) for r in table.point_lookup({"k": k}).collect()}
        assert hit == {w for w in want if w[0] == k}, k
    # the metadata-only live count agrees with the same state
    assert table.logical_row_count() == len(want)
