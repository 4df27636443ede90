"""Streaming materialized-view maintenance off the CDF change stream.

`IncrementalAggView.refresh` is the *pull* model: the maintainer holds
the source `LakeTable` and asks it for `table_changes`.  This module is
the *push* model — the downstream session holds only the source's path
and a Structured Streaming query over the ``laketable`` CDF stream
(lake/datasource.py::LakeChangesStreamReader) keeps the view current:

    WAL -> source table -> stored change files -> readStream(mode=cdf)
        -> foreachBatch -> IncrementalAggView.apply_changes

That is the real cross-system CDC sink shape (the writer and the view
maintainer share nothing but the change feed and a checkpoint), and
exactly-once costs nothing new:

* the stream's offsets are source snapshot versions, checkpointed by
  Structured Streaming — a restarted query replays the same (a, b]
  interval with identical rows (stored change files are immutable);
* the view merge stamps ``lsn = max(_commit_version)`` of the batch, so
  a replayed interval dedups against the view's LSN ledger to a no-op
  (`apply_changes`' early-out) — at-least-once delivery, exactly-once
  application.

Scale shape per micro-batch: O(changed rows) stream read (only the
commits' change files, never the table), one partial-aggregable groupBy,
one merge into O(touched view buckets).  Nothing is O(source table).

Requires the source table to store write-time change files
(``write_changes=true``); a compaction/rollback commit inside the
streamed interval fails the stream with the restart story rather than
double-counting (the stream reader's rule, datasource.py:812-819).

Provenance: re-imagines the reference's recompute-per-run summary jobs
(reference pipeline/lib/summary/summary_merger.py) as a continuously
maintained aggregate fed by the change stream.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from cdm_cbioportal_etl_spark.lake.incremental import IncrementalAggView


class CdfViewMaintainer:
    """Maintain an :class:`IncrementalAggView` from a source table's CDF
    stream.  The maintainer never opens the source table — it sees only
    the change feed, like a consumer in a different pipeline/team.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_root: str,
        view: IncrementalAggView,
        checkpoint_dir: str,
        max_commits_per_drain: int | None = None,
    ):
        self.spark = spark
        self.source_root = source_root
        self.view = view
        self.checkpoint_dir = checkpoint_dir
        # admission control (the stream's maxCommitsPerTrigger): bound
        # each micro-batch/drain to k source commits, so catching a view
        # up over a deep backlog folds in bounded steps instead of one
        # giant delta (run_available loops the bounded drains to head)
        self.max_commits = max_commits_per_drain
        self.last_batch: dict[str, Any] | None = None

    # ------------------------------------------------------------------ #
    def _stream(self):
        from cdm_cbioportal_etl_spark.lake.datasource import (
            register_lake_datasource,
        )

        register_lake_datasource(self.spark)
        return (
            self.spark.readStream.format("laketable")
            .option("path", self.source_root)
            .option("mode", "cdf")
            # first start: begin where the view's ledger says it stands
            # (its initial materialization stamped the source version).
            # On checkpoint resume Spark ignores this and replays from
            # the stored offset — apply_changes' ledger early-out makes
            # the overlap a no-op.
            .option("startingversion", str(self.view.consumed_version()))
        )

    def _load(self):
        s = self._stream()
        if self.max_commits:
            s = s.option("maxCommitsPerTrigger", str(self.max_commits))
        return s.load()

    def _apply(self, batch_df, epoch_id: int) -> None:
        self.last_batch = self.view.apply_changes(batch_df)

    def _start(self, **trigger):
        return (
            self._load()
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    # ------------------------------------------------------------------ #
    def run_available(self) -> dict[str, Any] | None:
        """Drain every change committed so far, then stop — the
        batch-refresh ergonomics with the stream's checkpoint/resume
        semantics.  Each pass runs ONE micro-batch (Trigger.Once,
        bounded by ``max_commits_per_drain`` when set) and the loop
        repeats until the STREAM makes no further offset progress
        (ckpt.offsets_cursor) — sink state alone would under-drain when
        an admitted window folds to nothing.  Returns the last batch's
        stats FROM THIS CALL (None if no batch ran)."""
        from .ckpt import drain

        self.last_batch = None  # stats must describe THIS call only
        # one Trigger.Once pass per loop step (ckpt.drain: why not
        # availableNow)
        drain(lambda: self._start(once=True), self.checkpoint_dir)
        return self.last_batch

    def start(self, processing_time: str = "0 seconds"):
        """Continuous tail: keep folding new commits as they land.
        Returns the StreamingQuery (caller stops it)."""
        return self._start(processingTime=processing_time)
