"""`laketable` DataSource WRITE side: distributed MOR delta append.

Completes the registry surface: `spark.read.format("laketable")` had no
write twin, so Spark-native pipelines had to hand their DataFrame to
``LakeTable.merge`` on the driver.  This module implements
``df.write.format("laketable")`` (batch) and
``df.writeStream.format("laketable")`` (exactly-once micro-batch sink)
over the engine's merge-on-read delta format:

* **executor tasks** (``write``): each task receives Arrow record
  batches of change events ``(lsn, op, <data columns>)``, drops rows at
  or below the table's LSN watermark (the ledger pre-filter — the same
  exactly-once rule ``merge`` applies), assigns each row its hash
  bucket with the Spark-bit-equal vectorised xxhash64
  (lake/xxh64_vec.py — bucket assignment MUST match ``_bucket_expr`` or
  reads would miss rows), and writes one MOR delta parquet file per
  touched bucket (physical column names + ``_lsn`` + ``_deleted``,
  exactly the shape ``merge(mode="mor")`` appends).  Per-file key/LSN
  min-max stats ride the task's commit message — the Iceberg
  task-commit model; nothing row-shaped ever reaches the driver.
* **driver commit**: assembles ONE snapshot commit from the collected
  commit messages — append the delta entries to their buckets, advance
  the ledger to max(lsn), stamp lineage — through the same O_EXCL
  token protocol as every other commit (``LakeTable._commit`` is pure
  metadata I/O, so the driver needs no SparkSession).  A lost commit
  race re-bases onto the new head and retries; the data files are
  already on disk and carry over untouched.

Exactly-once: batch-mode redelivery of an applied interval dies at the
ledger pre-filter (tasks see the committed watermark); a streaming
epoch replayed after a crash-between-commit-and-checkpoint is likewise
filtered row-level, so the worst case is an empty re-commit, never a
double-apply.  Rows the fold cannot order (same key, same LSN, from
different tasks) follow the engine's documented LSN-uniqueness
precondition — ``merge`` resolves such ties batch-wide; the
distributed writer cannot see across tasks, exactly like Iceberg's
distributed appends.

Unsupported table states fail at writer construction with the reason:
``partial_updates`` tables (a NULL here means NULL, not "unchanged"),
``write_changes`` tables (a blind append cannot produce the pre-image
change files a live CDF stream relies on), and tables with CHECK
constraints (enforcement needs the session-side expression engine —
use ``merge``).
"""

from __future__ import annotations

import json
import os
import uuid
import warnings
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from .table import (
    DELETED_COL,
    LSN_COL,
    ConcurrentCommitError,
    LakeTable,
    schema_from_json,
    schema_pnames,
)
from .xxh64_vec import pmod_vec, xxhash64_arrow


@dataclass
class DeltaAppendResult(WriterCommitMessage):
    """One task's written delta files: (bucket -> manifest file entry)."""

    entries: list = field(default_factory=list)  # [(bucket_str, fobj)]
    rows: int = 0
    max_lsn: int = -1


class LakeDeltaBatchWriter(DataSourceArrowWriter):
    """`df.write.format("laketable").option("path", ...).mode("append")`."""

    def __init__(self, options: dict, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "laketable writer: only append mode is supported (the "
                "write is a MOR delta append); use LakeTable.overwrite "
                "for full rewrites"
            )
        self.root = os.path.abspath(str(options.get("path") or ""))
        if not LakeTable.exists(self.root):
            raise ValueError(
                f"laketable writer: no table at {self.root!r} — create it "
                "with LakeTable.create first (the writer appends, it does "
                "not create)"
            )
        self.ref = str(options.get("ref", "main"))
        # SparkSession-free handle: manifest reads and the commit protocol
        # are pure file I/O (the writer never calls read() or the
        # Spark-side write paths)
        t = LakeTable(None, self.root, ref=self.ref)
        snap = t.snapshot
        props = snap.get("properties", {})
        if str(props.get("partial_updates", "")).lower() == "true":
            raise ValueError(
                "laketable writer: partial_updates tables need the "
                "partial-image merge path (null = unchanged) — use "
                "LakeTable.merge(partial_update=True)"
            )
        if str(props.get("write_changes", "false")).lower() == "true":
            raise ValueError(
                "laketable writer: this table stores write-time change "
                "files; a blind delta append cannot produce pre-images "
                "and would break the CDF stream — use LakeTable.merge"
            )
        if t._constraints():
            raise ValueError(
                "laketable writer: table declares CHECK constraints; "
                "enforcement needs the session expression engine — use "
                "LakeTable.merge"
            )
        # pinned layout: tasks and commit re-validate against the live
        # manifest so files written under a stale layout never commit
        self.n_buckets = int(snap["n_buckets"])
        self.schema_id = int(snap["schema_id"])
        self.key_cols: list[str] = list(snap["key_cols"])
        self.target = schema_from_json(snap["schemas"][str(self.schema_id)])
        self.pm = schema_pnames(snap, self.schema_id)
        self.stats_cols = [
            self.pm.get(c, c) for c in t._stats_cols()
        ]
        # input contract: lsn + op + exactly the table's data columns.
        # An OPTIONAL `_bucket` column (int, caller-computed JVM-side
        # with table.bucket_expr() — F.pmod(F.xxhash64(*keys), n)) skips
        # the per-row Python hash in the tasks: the JVM fast path for
        # bulk ingests.  It must be bit-equal to the engine's bucket
        # assignment — tests pin both paths to the same final state.
        names = [f.name for f in schema.fields]
        self.prebucketed = "_bucket" in names
        got = {n for n in names if n != "_bucket"}
        want = {"lsn", "op", *[f.name for f in self.target.fields]}
        if got != want:
            raise ValueError(
                "laketable writer: input columns must be exactly "
                f"{sorted(want)} (change-event shape, plus optional "
                f"_bucket), got {sorted(names)}"
            )
        # batch mode drops rows at/below the LSN watermark (merge's
        # exactly-once contract for an ordered feed).  The STREAM writer
        # turns this off: epochs replay out of LSN order relative to the
        # advancing watermark, so row-level filtering would drop live
        # data — its exactly-once is the epoch ledger + the fold's
        # (key, lsn) idempotence instead.
        self.ledger_prefilter = True

    # -- executor side -------------------------------------------------- #
    def _fresh_watermark(self) -> int:
        # raw snapshot, NOT LakeTable.refresh: the task needs only the
        # ledger + layout ids — resolving a sharded manifest's full file
        # inventory here would cost O(live files) of JSON per task
        t = LakeTable(None, self.root, ref=self.ref)
        snap = t._snapshot_raw(t._read_ref(self.ref)["version"])
        if int(snap["n_buckets"]) != self.n_buckets or int(
            snap["schema_id"]
        ) != self.schema_id:
            raise ValueError(
                "laketable writer: table layout changed mid-write "
                "(rebucket or schema evolution since planning) — re-run "
                "the write against the new table state"
            )
        return int(snap["ledger"]["applied_lsn"])

    def write(self, iterator: Iterator) -> DeltaAppendResult:
        """Arrow-native task: no per-row Python anywhere.  Batches are
        concatenated, ledger-prefiltered with a vectorized compare,
        bucket-assigned with either the caller's ``_bucket`` column or
        the numpy-vectorized Spark-bit-equal xxhash64 (lake/xxh64_vec.py
        — masked-stripe loop, O(max key bytes / 32) Python iterations),
        delete rows null their non-key columns via ``pc.if_else``, and
        ONE global (bucket, *keys) Arrow sort yields zero-copy
        per-bucket slices written directly as the MOR delta files."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql import types as T

        applied = self._fresh_watermark()
        out_struct = T.StructType(
            [
                T.StructField(self.pm.get(f.name, f.name), f.dataType)
                for f in self.target.fields
            ]
            + [
                T.StructField(LSN_COL, T.LongType()),
                T.StructField(DELETED_COL, T.BooleanType()),
            ]
        )
        arrow_out = to_arrow_schema(out_struct)
        parts = [pa.Table.from_batches([rb]) for rb in iterator]
        if not parts:
            return DeltaAppendResult([], 0, -1)
        tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
        if self.ledger_prefilter:
            # exactly-once under ordered-feed redelivery (merge rule)
            tbl = tbl.filter(
                pc.greater(tbl.column("lsn"), pa.scalar(applied))
            )
        if tbl.num_rows == 0:
            return DeltaAppendResult([], 0, -1)
        tbl = tbl.combine_chunks()
        n = tbl.num_rows
        lsn_np = tbl.column("lsn").to_numpy(zero_copy_only=False)
        max_lsn = int(lsn_np.max())
        if self.prebucketed:
            bcol = tbl.column("_bucket")
            if bcol.null_count:
                raise ValueError(
                    f"laketable writer: null _bucket in {bcol.null_count} "
                    "row(s) — compute it with table.bucket_expr() against "
                    "THIS table"
                )
            b_np = bcol.to_numpy(zero_copy_only=False).astype(np.int64)
            bad = (b_np < 0) | (b_np >= self.n_buckets)
            if bad.any():
                raise ValueError(
                    f"laketable writer: _bucket {int(b_np[bad][0])} out "
                    f"of range [0, {self.n_buckets}) — compute it with "
                    "table.bucket_expr() against THIS table"
                )
        else:
            key_types = [
                self.target[c].dataType.typeName() for c in self.key_cols
            ]
            keys = [
                tbl.column(c).combine_chunks() for c in self.key_cols
            ]
            b_np = pmod_vec(
                xxhash64_arrow(keys, key_types), self.n_buckets
            )
        is_del = pc.equal(tbl.column("op"), pa.scalar("delete"))
        cols = []
        for f in self.target.fields:
            c = tbl.column(f.name)
            if f.name not in self.key_cols:
                # delete events carry keys only; null the payload
                c = pc.if_else(is_del, pa.scalar(None, type=c.type), c)
            cols.append(c)
        cols.append(tbl.column("lsn"))
        cols.append(is_del)
        out = pa.table(cols, names=list(arrow_out.names)).cast(arrow_out)
        out = out.append_column(
            "__b", pa.chunked_array([pa.array(b_np, type=pa.int64())])
        )
        # ONE sort: bucket-major, then within-file key order (nulls
        # first) — what makes key-range stats skipping effective, same
        # rule as _write_bucket_files
        sort_keys = [("__b", "ascending")] + [
            (self.pm.get(k, k), "ascending") for k in self.key_cols
        ]
        out = out.take(
            pc.sort_indices(
                out, sort_keys=sort_keys, null_placement="at_start"
            )
        )
        b_sorted = out.column("__b").to_numpy(zero_copy_only=False)
        buckets, starts = np.unique(b_sorted, return_index=True)
        bounds = np.append(starts, n)
        out = out.drop_columns(["__b"])
        out_rel = os.path.join("data", f"dsw-{uuid.uuid4().hex}")
        entries: list = []
        for k, b in enumerate(buckets):
            ft = out.slice(int(bounds[k]), int(bounds[k + 1] - bounds[k]))
            bdir = os.path.join(self.root, out_rel, f"_bucket={int(b)}")
            os.makedirs(bdir, exist_ok=True)
            fn = f"part-{uuid.uuid4().hex}.parquet"
            fpath = os.path.join(bdir, fn)
            pq.write_table(ft, fpath)
            st, nrows = LakeTable._file_column_stats(fpath, list(self.stats_cols))
            fobj: dict[str, Any] = {
                "path": os.path.join(out_rel, f"_bucket={int(b)}", fn),
                "schema_id": self.schema_id,
                "rows": nrows,
                "delta": True,
            }
            if st:
                fobj["stats"] = st
            entries.append((str(b), fobj))
        return DeltaAppendResult(entries, int(n), max_lsn)

    # -- driver side ----------------------------------------------------- #
    def _commit_entries(
        self, messages, batch_id: str, segment: str | None = None
    ) -> dict[str, Any]:
        entries: list = []
        rows = 0
        max_lsn = -1
        for m in messages:
            if m is None:
                continue
            entries.extend(m.entries)
            rows += m.rows
            max_lsn = max(max_lsn, m.max_lsn)
        if not entries:
            return {"rows": 0, "max_lsn": max_lsn, "buckets": 0}
        last_err: Exception | None = None
        for _ in range(4):  # optimistic-concurrency re-base
            t = LakeTable(None, self.root, ref=self.ref)
            snap = json.loads(json.dumps(t.snapshot))
            if segment and segment in snap["ledger"].get(
                "applied_segments", []
            ):
                # epoch replayed after a crash between our commit and
                # Spark's checkpoint write: already durable — skip (the
                # written duplicate files are unreferenced and vanish
                # with their dsw dir on vacuum)
                return {"rows": 0, "max_lsn": max_lsn, "buckets": 0,
                        "skipped_epoch": segment}
            if int(snap["n_buckets"]) != self.n_buckets or int(
                snap["schema_id"]
            ) != self.schema_id:
                raise ValueError(
                    "laketable writer: table layout changed between write "
                    "and commit (rebucket or schema evolution) — the "
                    "written delta files no longer fit; re-run the write"
                )
            touched = set()
            bucket_rows = dict(snap.get("bucket_rows", {}))
            for b, fobj in entries:
                snap["buckets"].setdefault(b, []).append(fobj)
                bucket_rows[b] = int(bucket_rows.get(b, 0)) + int(
                    fobj["rows"]
                )
                touched.add(int(b))
            snap["bucket_rows"] = bucket_rows
            snap["ledger"]["applied_lsn"] = max(
                int(snap["ledger"]["applied_lsn"]), max_lsn
            )
            if segment:
                t._tag_segments(snap, [segment])
            try:
                t._commit_op(
                    snap, {"mode": "diff"}, "merge", batch_id,
                    lsn_max=max_lsn, batch_rows=rows,
                    touched_buckets=sorted(touched),
                    writer="datasource-delta-append",
                )
                return {
                    "rows": rows,
                    "max_lsn": max_lsn,
                    "buckets": len(touched),
                }
            except ConcurrentCommitError as e:
                last_err = e  # racer advanced the head: re-base and retry
        raise last_err  # type: ignore[misc]

    def commit(self, messages) -> None:
        self._commit_entries(messages, f"dsw-{uuid.uuid4().hex[:12]}")

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for _, fobj in m.entries:
                try:
                    os.remove(os.path.join(self.root, fobj["path"]))
                except OSError:
                    pass


class LakeDeltaStreamWriter(DataSourceStreamArrowWriter):
    """`df.writeStream.format("laketable")`: exactly-once micro-batch
    delta appends.  Delegates to the batch writer's task/commit logic;
    the epoch id becomes the lineage batch_id, and a replayed epoch
    (crash between our commit and Spark's checkpoint write) re-runs
    into the ledger pre-filter and commits nothing."""

    def __init__(self, options: dict, schema, overwrite: bool):
        self._w = LakeDeltaBatchWriter(options, schema, overwrite=False)
        # epochs replay out of LSN order relative to the watermark —
        # row-level filtering would drop live rows (see batch writer)
        self._w.ledger_prefilter = False
        # Delta's txnAppId pattern: a stable stream id makes epoch dedup
        # exact even across query restarts (a restart constructs a fresh
        # writer).  Default derives from the checkpoint's QUERY ID
        # (<ckpt>/metadata, written by Structured Streaming at query
        # start) — stable across restarts of the SAME checkpoint, but
        # REGENERATED when the user deletes/resets the checkpoint.  The
        # latter property is load-bearing: an id derived from the
        # checkpoint PATH alone caused silent data loss after a reset
        # (batch ids restart at 0 and collide with stale
        # dsw:<sid>:0..k ledger tags, discarding genuinely new epochs —
        # pinned by test_datasource_writer.py).  Resolution is LAZY (at
        # first commit) because the metadata file may not exist yet at
        # writer construction; a fresh uuid is the last resort when no
        # checkpoint metadata is readable.
        self._sid: str | None = (
            str(options.get("streamid")) if options.get("streamid") else None
        )
        self._ckpt = options.get("checkpointlocation")

    def _stream_id(self) -> str:
        if self._sid is None:
            sid = None
            if self._ckpt:
                from ..streaming.ckpt import local_path

                try:
                    with open(
                        os.path.join(local_path(str(self._ckpt)), "metadata")
                    ) as fh:
                        qid = json.load(fh).get("id")
                    if qid:
                        import hashlib

                        sid = hashlib.sha1(
                            str(qid).encode()
                        ).hexdigest()[:12]
                except (OSError, ValueError):
                    pass
            if sid is None:
                sid = uuid.uuid4().hex[:12]
                warnings.warn(
                    "laketable stream writer: no readable query id under "
                    f"checkpointLocation {self._ckpt!r}; using a random "
                    f"stream id {sid}, so epoch dedup holds only for this "
                    "writer instance (a restart may re-append replayed "
                    "epochs) — pass option 'streamid' for a stable id",
                    RuntimeWarning,
                    stacklevel=2,
                )
            self._sid = sid
        return self._sid

    def write(self, iterator: Iterator) -> DeltaAppendResult:
        return self._w.write(iterator)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        self._w._commit_entries(
            messages,
            f"dsw-epoch-{int(batchId)}",
            segment=f"dsw:{self._stream_id()}:{int(batchId)}",
        )

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._w.abort(messages)
