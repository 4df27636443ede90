"""Incremental materialized-view maintenance over the CDC feed.

The canonical reason a lake exposes a change feed at all: a downstream
grouped aggregate (COUNT + SUMs) over a 100 TB source must not be
recomputed per refresh — it is *maintained* by applying signed deltas
from ``table_changes(include_preimages=True)``.  Updates subtract the
pre-image contribution and add the post-image's; groups whose count
reaches zero are deleted from the view.

Exactly-once falls out of the existing machinery: each refresh merges
its delta batch into the view's LakeTable with ``lsn = source version``,
so the view's LSN ledger doubles as the consumption watermark — a
crashed refresh re-runs from the same source version and deduplicates,
a completed one makes the next refresh a no-op.

Scale shape per refresh: one snapshot diff (O(changed files) with
file-level COW carry), one partial-aggregable groupBy over the delta,
one join against ONLY the view buckets the delta touches (bucket ids
are computed from the delta keys and collected — bounded by the view's
bucket count, never by data), one merge.  Nothing is O(source table).

Provenance: re-imagines the reference's recompute-the-summary-per-run
model (reference pipeline/lib/summary/summary_merger.py joins all
sources from scratch each run) as watermark-incremental maintenance.
"""

from __future__ import annotations

import json
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .table import LakeTable, _key_match

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


class IncrementalAggView:
    """A LakeTable holding ``group_cols → (cnt, sum_<c>…)`` over a source
    LakeTable, maintained incrementally.  Reopenable: the grouping spec
    persists in the view table's properties."""

    def __init__(self, spark: SparkSession, root: str):
        self.table = LakeTable(spark, root)
        props = self.table.snapshot["properties"]
        self.group_cols: list[str] = json.loads(props["view_group_cols"])
        self.sum_cols: list[str] = json.loads(props["view_sum_cols"])

    # ------------------------------------------------------------------ #
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        source: LakeTable,
        group_cols: Sequence[str],
        sum_cols: Sequence[str] = (),
        n_buckets: int = 16,
    ) -> "IncrementalAggView":
        """Create the view table and materialize the source's CURRENT
        state (the one full compute; every later refresh is a delta)."""
        src = {f.name: f for f in source.schema.fields}
        for c in list(group_cols) + list(sum_cols):
            if c not in src:
                raise ValueError(f"column {c} not in source schema")
        fields = [T.StructField(c, src[c].dataType) for c in group_cols]
        fields.append(T.StructField("cnt", T.LongType()))
        for c in sum_cols:
            dt = (
                T.LongType()
                if isinstance(src[c].dataType, _INTEGRAL)
                else T.DoubleType()
            )
            fields.append(T.StructField(f"sum_{c}", dt))
        LakeTable.create(
            spark,
            root,
            T.StructType(fields),
            key_cols=list(group_cols),
            n_buckets=n_buckets,
            properties={
                "view_group_cols": json.dumps(list(group_cols)),
                "view_sum_cols": json.dumps(list(sum_cols)),
            },
        )
        view = cls(spark, root)
        src_v = source.snapshot["version"]
        full = source.read().groupBy(*group_cols).agg(*view._agg_exprs())
        view.table.overwrite(full, lsn=src_v)
        return view

    def _agg_exprs(self, sign: F.Column | None = None) -> list[F.Column]:
        s = F.lit(1) if sign is None else sign
        vtypes = {f.name: f.dataType for f in self.table.schema.fields}
        aggs = [F.sum(s).cast("long").alias("cnt" if sign is None else "_d_cnt")]
        for c in self.sum_cols:
            dt = vtypes[f"sum_{c}"]
            aggs.append(
                F.sum((s * F.col(c)).cast(dt))
                .cast(dt)
                .alias(f"sum_{c}" if sign is None else f"_d_sum_{c}")
            )
        return aggs

    # ------------------------------------------------------------------ #
    def read(self) -> DataFrame:
        return self.table.read()

    def consumed_version(self) -> int:
        """The source snapshot version this view reflects (the view
        ledger's high-water mark — merge LSNs ARE source versions)."""
        return self.table.applied_lsn()

    # ------------------------------------------------------------------ #
    def refresh(self, source: LakeTable) -> dict[str, Any]:
        """Fold the source changes since the last refresh into the view.
        Idempotent: re-running after a crash or a no-op interval never
        double-applies (LSN-ledger dedup / early-out)."""
        from_v = self.consumed_version()
        to_v = source.snapshot["version"]
        if to_v <= from_v:
            return {"from_version": from_v, "to_version": to_v, "groups": 0}
        src_names = {f.name for f in source.schema.fields}
        gone = [
            c for c in [*self.group_cols, *self.sum_cols] if c not in src_names
        ]
        if gone:
            # a RENAME/DROP COLUMN on a referenced source column would
            # otherwise surface as a cryptic unresolved-attribute error
            # mid-plan (or, worse, a silently empty group) — fail with
            # the actionable story instead
            raise ValueError(
                f"incremental view references source columns {gone} that "
                "the source no longer has (renamed or dropped) — recreate "
                "the view against the new names, or rename back"
            )
        ch = source.table_changes(from_v, to_v, include_preimages=True)
        return self.apply_changes(ch, to_v)

    def apply_changes(
        self, ch: DataFrame, to_version: int | None = None
    ) -> dict[str, Any]:
        """Fold an already-materialized change interval into the view.

        ``ch`` is rows shaped like ``table_changes(include_preimages=
        True)`` — equivalently the ``laketable`` CDF *stream* output
        (lake/datasource.py::LakeChangesStreamReader), which is what lets
        a downstream session with no handle on the source LakeTable
        maintain the view purely from the change feed
        (streaming/views.py).  ``to_version`` is the source snapshot
        version the interval ends at; when omitted it is taken as
        ``max(_commit_version)`` over the batch (the stream stamps it
        per-row).  Idempotent exactly like ``refresh``: the view merge
        carries ``lsn = to_version``, so redelivery of an applied
        interval dedups to a no-op.
        """
        from_v = self.consumed_version()
        if to_version is None:
            row = ch.agg(F.max("_commit_version")).collect()[0]
            if row[0] is None:  # empty micro-batch: nothing to advance
                return {
                    "from_version": from_v, "to_version": from_v, "groups": 0
                }
            to_version = int(row[0])
        to_v = int(to_version)
        if to_v <= from_v:
            return {"from_version": from_v, "to_version": to_v, "groups": 0}
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        delta = ch.groupBy(*self.group_cols).agg(*self._agg_exprs(sign))
        # the delta is small (O(changed groups)) but its lineage — two
        # snapshot reads + a full-outer diff — is not: checkpoint it so
        # the bucket probe, the join, and the merge's internal passes all
        # reuse ONE evaluation instead of re-running the diff each time
        delta = delta.localCheckpoint()
        # the delta's groups pin which view buckets can change — collect
        # their bucket ids (bounded by n_buckets, metadata-scale) and read
        # only those
        b_ids = {
            r[0]
            for r in delta.select(
                self.table._bucket_expr().alias("_b")
            ).distinct().collect()
        }
        if not b_ids:
            # structural-only source interval (compaction, rebucket):
            # advance the watermark with a metadata-only ledger commit so
            # the lookback horizon keeps up with snapshot expiry
            snap = json.loads(json.dumps(self.table.snapshot))
            snap["ledger"]["applied_lsn"] = to_v
            # watermark-only commit: no view row changed — and the copied
            # snapshot must not inherit the PREVIOUS commit's change
            # descriptor (stale "cdf" files would double-count)
            self.table._commit_op(
                snap, {"mode": "none"}, "view_advance",
                f"view-advance-{to_v}", source_version=to_v,
            )
            return {"from_version": from_v, "to_version": to_v, "groups": 0}
        gkeys = list(self.group_cols)
        d = delta.select(
            *[F.col(c).alias(f"_g_{i}") for i, c in enumerate(gkeys)],
            "_d_cnt",
            *[F.col(f"_d_sum_{c}") for c in self.sum_cols],
        )
        cur = self.table.read(buckets=b_ids)
        j = d.join(cur, _key_match([cur[g] for g in gkeys], "_g_"), "left")
        new_cnt = F.coalesce(cur["cnt"], F.lit(0)) + F.col("_d_cnt")
        vtypes = {f.name: f.dataType for f in self.table.schema.fields}
        sums = [
            (
                F.coalesce(cur[f"sum_{c}"], F.lit(0).cast(vtypes[f"sum_{c}"]))
                + F.coalesce(
                    F.col(f"_d_sum_{c}"), F.lit(0).cast(vtypes[f"sum_{c}"])
                )
            )
            .cast(vtypes[f"sum_{c}"])
            .alias(f"sum_{c}")
            for c in self.sum_cols
        ]
        batch = j.select(
            F.lit(to_v).cast("long").alias("lsn"),
            F.when(new_cnt <= 0, F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            *[F.col(f"_g_{i}").alias(g) for i, g in enumerate(gkeys)],
            new_cnt.cast("long").alias("cnt"),
            *sums,
        )
        # same reasoning: the merge evaluates its batch more than once
        # (reduction, gate aggregate, write) — pay the join exactly once
        batch = batch.localCheckpoint()
        stats = self.table.merge(
            batch, source_watermarks={"source_version": to_v}
        )
        return {
            "from_version": from_v,
            "to_version": to_v,
            "groups": int(stats.batch_keys),
        }
