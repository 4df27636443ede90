"""Stream-driven table replication off the CDF change stream.

`lake/replicate.py::TableReplicator` is the pull model (the maintainer
holds the source LakeTable and asks it for `table_changes`).  This is
the push model, completing the chain the same way streaming/views.py
does for aggregates:

    source table -> stored change files -> readStream(mode=cdf)
        -> foreachBatch -> replica.merge

Each micro-batch's change rows (pre-images dropped) become merge
events with ``lsn = _commit_version`` — the source snapshot version
that produced the row.  One change row per key per commit, and
versions are monotone in stream order, so the merge's latest-LSN-wins
reduction independently resolves a key changed in several commits of
one batch, and the replica's LSN ledger (which therefore tracks source
VERSIONS, exactly like ``TableReplicator.synced_version``) makes a
replayed epoch dedup to a no-op — exactly-once application under
at-least-once delivery.

Schema evolution: the CDF stream fails on a commit written under a
newer schema (the Delta CDF rule, with restart guidance).  On restart,
``propagate_schema()`` replays the source's rename/drop/add history
onto the replica by field-id diff (the TableReplicator logic — source
MANIFESTS are read, never source data), after which a fresh drain
serves the evolved schema.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession, functions as F

from cdm_cbioportal_etl_spark.lake.replicate import TableReplicator
from cdm_cbioportal_etl_spark.lake.table import LakeTable


class CdfReplicaMaintainer:
    """Maintain an exact row-level replica from a source table's CDF
    stream.  The replica is a plain LakeTable (reopenable); bootstrap
    with ``TableReplicator.create`` or start from an empty table whose
    stream begins at version 0."""

    def __init__(
        self,
        spark: SparkSession,
        source_root: str,
        replica: TableReplicator,
        checkpoint_dir: str,
        max_commits_per_drain: int | None = None,
    ):
        self.spark = spark
        self.source_root = source_root
        self.replica = replica
        self.checkpoint_dir = checkpoint_dir
        self.max_commits = max_commits_per_drain

    # ------------------------------------------------------------------ #
    def _load(self):
        from cdm_cbioportal_etl_spark.lake.datasource import (
            register_lake_datasource,
        )

        register_lake_datasource(self.spark)
        s = (
            self.spark.readStream.format("laketable")
            .option("path", self.source_root)
            .option("mode", "cdf")
            .option("startingversion", str(self.replica.synced_version()))
        )
        if self.max_commits:
            s = s.option("maxCommitsPerTrigger", str(self.max_commits))
        return s.load()

    def _apply(self, batch_df, epoch_id: int) -> None:
        cols = [f.name for f in self.replica.table.schema.fields]
        extra = (
            set(batch_df.columns)
            - set(cols)
            - {"_lsn", "_change_type", "_commit_version"}
        )
        if extra:
            # a drain constructed AFTER a source evolution serves the new
            # columns — projecting them away would silently corrupt the
            # replica (the long-running-stream case fails in the reader's
            # schema guard instead)
            raise ValueError(
                f"source schema evolved (new columns {sorted(extra)}) — "
                "call propagate_schema() on the maintainer, then drain "
                "again"
            )
        events = batch_df.filter(
            F.col("_change_type") != "update_preimage"
        ).select(
            *cols,
            F.col("_commit_version").cast("long").alias("lsn"),
            F.when(F.col("_change_type") == "delete", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
        )
        if events.first() is None:  # empty epoch: no version burn
            return
        self.replica.table.merge(
            events,
            batch_id=f"cdf-replica-epoch-{int(epoch_id)}",
            extra_lineage={"operation": "replica_sync", "epoch": int(epoch_id)},
        )

    def _start(self, **trigger):
        return (
            self._load()
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    # ------------------------------------------------------------------ #
    def propagate_schema(self) -> None:
        """Replay source rename/drop/add history since the last synced
        version onto the replica (field-id diff; manifests only) — run
        after the stream fails with the schema-evolution guard, then
        drain again (the restarted stream serves the evolved schema)."""
        src = LakeTable(self.spark, self.source_root)
        self.replica._propagate_schema(src, self.replica.synced_version())

    def run_available(self) -> int:
        """Drain every change committed so far; with a drain bound, loop
        until the STREAM makes no further offset progress
        (ckpt.offsets_cursor — the replica's synced version alone would
        under-drain when an admitted window's commits all yield empty
        batches).  Returns the replica's synced version."""
        from .ckpt import drain

        # one Trigger.Once pass per loop step (ckpt.drain: why not
        # availableNow)
        drain(lambda: self._start(once=True), self.checkpoint_dir)
        return self.replica.synced_version()

    def start(self, processing_time: str = "0 seconds"):
        """Continuous tail; returns the StreamingQuery."""
        return self._start(processingTime=processing_time)
