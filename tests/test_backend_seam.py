"""MergeBackend seam: LakeTable satisfies the protocol, driven through
the protocol surface only; plus the winner reduction every backend
relies on (``LakeTable.prepare_batch``, shuffle strategy)."""

from __future__ import annotations

from pyspark.sql import types as T

from cdm_cbioportal_etl_spark.lake import LakeTable, MergeBackend

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.StringType()),
    ]
)


def _drive(spark, be: MergeBackend) -> None:
    """The backend-agnostic replay flow: every call goes through the
    protocol surface only."""
    assert isinstance(be, MergeBackend)
    assert be.key_cols == ["k"]
    assert [f.name for f in be.schema.fields] == ["k", "v"]

    b1 = spark.createDataFrame(
        [("a", "v1", "upsert", 1), ("b", "v1", "upsert", 2), ("c", "v1", "upsert", 3)],
        "k string, v string, op string, lsn long",
    )
    be.merge(b1)
    assert be.row_count() == 3
    assert be.applied_lsn() == 3

    # at-least-once redelivery is a no-op (exactly-once ledger)
    be.merge(b1)
    assert be.row_count() == 3
    assert be.applied_lsn() == 3

    # update + delete + out-of-order WITHIN the batch (late lsn 4 for a
    # must lose to lsn 6) — winner reduction settles it before the merge
    b2 = spark.createDataFrame(
        [
            ("a", "stale", "upsert", 4),
            ("a", "v2", "upsert", 6),
            ("b", None, "delete", 5),
            ("d", "v1", "upsert", 7),
        ],
        "k string, v string, op string, lsn long",
    )
    be.merge(b2)
    state = {r.k: r.v for r in be.read().collect()}
    assert state == {"a": "v2", "c": "v1", "d": "v1"}
    assert be.applied_lsn() == 7
    be.compact()
    assert {r.k: r.v for r in be.read().collect()} == state


def test_laketable_satisfies_backend_protocol(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "lt"), SCHEMA, key_cols=["k"], n_buckets=4
    )
    _drive(spark, table)


def _table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "rw"), SCHEMA, key_cols=["k"], n_buckets=4
    )


def test_reduce_winners_latest_lsn_wins(spark, tmp_path):
    batch = spark.createDataFrame(
        [("a", "old", "upsert", 1), ("a", "new", "delete", 9), ("b", "x", "upsert", 2)],
        "k string, v string, op string, lsn long",
    )
    reduced = _table(spark, tmp_path).prepare_batch(batch, strategy="shuffle")
    out = {r.k: (r.v, r._op, r._lsn) for r in reduced.collect()}
    assert out == {"a": ("new", "delete", 9), "b": ("x", "upsert", 2)}


def test_reduce_winners_plan_combines_map_side(spark, tmp_path, monkeypatch):
    """Scale shape of the shuffle reduction: partial_max_by BEFORE the
    one key exchange (hot keys pre-reduce on the map side) and no window
    — the plan that survives skew at 10^10 events.  (max_by over a
    struct plans as SortAggregate with per-partition local sorts; the
    partial/final split is the property that matters, not the
    aggregate's physical flavor.)  prepare_batch materializes its result
    with localCheckpoint, so the plan is read off the frame it
    checkpoints."""
    batch = spark.createDataFrame(
        [("a", "x", "upsert", 1)], "k string, v string, op string, lsn long"
    )
    checkpointed = []
    real = type(batch).localCheckpoint

    def spy(self, *a, **k):
        checkpointed.append(self)
        return real(self, *a, **k)

    monkeypatch.setattr(type(batch), "localCheckpoint", spy)
    _table(spark, tmp_path).prepare_batch(batch, strategy="shuffle")
    # a fresh projection plans anew: the checkpointed frame's own plan
    # has run, so AQE would print its final AND initial plan
    fresh = checkpointed[-1].select("*")
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
