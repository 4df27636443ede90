"""Merge-backend seam: the minimal surface the CDC engine needs from a
lake table, as a structural (``runtime_checkable``) protocol.

:class:`~cdm_cbioportal_etl_spark.lake.table.LakeTable` satisfies it
unchanged, with no inheritance.  table.py:15 promises the bucket layout
"is swappable for Apache Iceberg MERGE INTO with a bucket partition
spec"; this protocol is the checkable contract such a swap must meet.
No second implementation ships: an Iceberg one needs the
iceberg-spark-runtime jars, which this project cannot vendor (BENCH.md,
"Iceberg-jar vendoring").

Contract notes for an implementer:

- Latest-LSN-wins winner reduction happens BEFORE the merge (the
  map-side-combinable ``max_by`` of LakeTable.prepare_batch), so MERGE
  sources are key-unique, as Iceberg's cardinality check requires.
- The exactly-once ledger commits atomically with the data it covers:
  LakeTable keeps ``applied_lsn`` in the same snapshot manifest; the
  Iceberg analog is a snapshot summary property written by the same
  MERGE commit.  Redelivered batches are no-ops because winners are
  filtered to ``_lsn > applied_lsn`` before the merge.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame
from pyspark.sql import types as T


@runtime_checkable
class MergeBackend(Protocol):
    """What the replay engine requires of a lake table (LakeTable
    satisfies this structurally)."""

    @property
    def schema(self) -> T.StructType: ...

    @property
    def key_cols(self) -> list[str]: ...

    def read(self) -> DataFrame: ...

    def merge(self, batch: DataFrame) -> object: ...

    def compact(self) -> int: ...

    def row_count(self) -> int: ...

    def applied_lsn(self) -> int: ...
