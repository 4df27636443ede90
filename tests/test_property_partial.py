"""Property-based partial-image invariant: ANY interleaving of partial
upserts (each touching a random column subset) and deletes, split at an
arbitrary batch boundary, converges — in BOTH merge modes — to the
Python reference fold (per column: latest non-null value among upserts
after the key's last delete), through both read() and point_lookup()."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import types as T

from cdm_cbioportal_etl_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("a", T.StringType()),
        T.StructField("b", T.LongType()),
    ]
)

EV_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        *SCHEMA.fields,
    ]
)

# each event: (op, key, a-or-None, b-or-None)
events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "upsert", "upsert", "delete"]),
        st.sampled_from(["x", "y"]),
        st.one_of(st.none(), st.sampled_from(["p", "q"])),
        st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
    ),
    min_size=1,
    max_size=10,
)


def python_fold(evs):
    """Reference: per key, per column latest non-null among upserts with
    lsn > last delete lsn; key absent if no upsert survives."""
    state: dict = {}
    for lsn, (op, k, a, b) in enumerate(evs):
        if op == "delete":
            state.pop(k, None)
        else:
            cur = state.get(k, (None, None))
            state[k] = (a if a is not None else cur[0], b if b is not None else cur[1])
    return {(k, v[0], v[1]) for k, v in state.items()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy, cut=st.integers(min_value=0, max_value=10))
def test_partial_replay_matches_reference_fold_both_modes(
    spark, tmp_path_factory, evs, cut
):
    rows = [(i, op, k, a, b) for i, (op, k, a, b) in enumerate(evs)]
    ev = spark.createDataFrame(rows, EV_SCHEMA)
    want = python_fold(evs)
    cut = min(cut, len(rows))
    base = tmp_path_factory.mktemp("pprop")
    for mode, props in (
        ("cow", None),
        ("mor", {"partial_updates": True, "merge_mode": "mor"}),
    ):
        t = LakeTable.create(
            spark, str(base / mode), SCHEMA, ["k"], n_buckets=2,
            properties=props,
        )
        for lo, hi in ((0, cut), (cut, len(rows))):
            batch = ev.filter((ev.lsn >= lo) & (ev.lsn < hi))
            if lo < hi:
                t.merge(batch, partial_update=True, mode=mode)
        got = {tuple(r) for r in t.read().collect()}
        assert got == want, f"mode={mode} evs={evs} cut={cut}"
        # the driver-local lookup folds the same way (Arrow, per column)
        for k in ("x", "y"):
            got_k = {tuple(r) for r in t.point_lookup({"k": k}).collect()}
            assert got_k == {w for w in want if w[0] == k}, (mode, k, evs)
