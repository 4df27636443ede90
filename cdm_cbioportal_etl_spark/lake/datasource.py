"""Python DataSource (Spark 4 `pyspark.sql.datasource`) over LakeTable.

Exposes the lake table through the native reader registry, so the table
participates in plain `spark.read` / `spark.readStream` pipelines without
importing this package at the call site beyond one registration call:

    from cdm_cbioportal_etl_spark.lake.datasource import register
    register(spark)

    df = (spark.read.format("laketable")
          .option("path", "/data/repos").load())            # snapshot
    chg = (spark.readStream.format("laketable")
           .option("path", "/data/repos").option("mode", "cdf")
           .load())                                          # change feed

Architecture (why this is NOT the slow Python path):

- **Planning is metadata-only, driver-side and session-free.**  Snapshots
  resolve through a `LakeTable(None, root, ref)` handle — the table's
  one implementation of its metadata protocol (ref pointers, manifests,
  shards, ancestry, TIMESTAMP AS OF), pure file I/O without a session —
  so `schema()` / `partitions()` never need a SparkSession or a data
  scan.  Pushed-down
  filters (`pushFilters`, Spark 4.1) prune data FILES against the same
  per-file min/max stats the native `LakeTable.read()` path uses
  (`LakeTable._stats_admit`) — every filter is also returned to Spark,
  which re-applies it row-level, so pruning can only skip provably
  matching-free files, never change results.
- **The data path is Arrow batches, never row-at-a-time Python.**
  `read(partition)` opens parquet via pyarrow with column pruning and
  yields `pyarrow.RecordBatch` directly; Spark ingests the batches
  without per-row conversion.
- **One partition per data file** (delta-free buckets) keeps read
  parallelism at file granularity; a bucket with pending MOR deltas
  becomes ONE partition holding the whole bucket — the bucket layout
  guarantees every version of a key lives in a single bucket, so the
  latest-per-key fold is partition-local and needs no shuffle at all
  (the native read pays one; see `table.py` read()'s MOR branch).  On
  partial-image tables (`partial_updates`) the fold resolves per column,
  with the same rules as the native read.
- **Point lookups are one key-filtered read, shared with
  `LakeTable.point_lookup()`.**  When every key column is pinned to one
  value (pushed equalities here; the lookup key there, through
  `LakeTableReader.lookup`), the planner hashes the key driver-side with
  the writer's vectorised xxhash64 (`lake/xxh64_vec.py`) and plans only
  that bucket's files, minus those whose key stats or bloom sidecars
  prove the key absent.  The partition read then skips row groups whose
  key min/max stats exclude the key and keeps only the key's rows before
  equality deletes and the MOR fold run.  `point_lookup()` runs this
  same planner and reader on the driver and starts no Spark job.
- Deletion vectors (positional kills) and equality deletes (key+LSN
  kills) are applied inside the partition read, matching the native
  read semantics exactly (tests assert value equality against it).

Metadata tables ride the same registry (Iceberg's `table$files` shape):
`option("metadata", "files" | "history" | "snapshots" | "refs")` serves
the manifest inventory / commit lineage / retained-version list /
branch+tag heads as ordinary DataFrames — rows are extracted from the
manifest JSON at plan time (no data file touched), `files`/`history`
schema-identical to the native `LakeTable.files()`/`history()`,
`snapshots`+`refs` the discovery surface for `option("version", ...)` /
`option("ref", ...)` time travel.  All compose with
`version`/`timestamp`/`ref`, which the native inspection methods
(current-snapshot-only) do not.

Writes: `writer()` / `streamWriter()` are the distributed MOR delta
append of lake/writer.py; merges go through `LakeTable.merge()`.

Streaming (`mode=cdf`) serves the table's write-time change files
(Delta CDF's `_change_data` shape, see `_write_change_files`): offsets
are snapshot versions, each micro-batch reads exactly the stored
change files of the commits in `(start, end]` — O(changed rows), no
snapshot diff.  Commits that did not capture changes (`mode="diff"`:
shuffle-path merges, overwrite, rollback) are not streamable and raise,
mirroring Delta's behavior when CDF is off for a commit range.

reference analog: `pipeline/lib/summary/summary_config_processor.py:373-419`
(table registration making results readable by downstream jobs); here the
registration is Spark's own datasource registry.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from .table import (
    LSN_COL,
    DELETED_COL,
    LakeTable,
    files_meta_rows,
    history_meta_rows,
    resolve_manifest,
    schema_from_json,
    schema_pnames,
)
from .txn import LakeCatalog
from .xxh64_vec import pmod_vec, xxhash64_arrow

FORMAT_NAME = "laketable"
CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


# --------------------------------------------------------------------- #
# snapshot resolution: the table's own metadata protocol, session-free
# --------------------------------------------------------------------- #
# Ref pointers, snapshot manifests, shard resolution, ancestry and
# TIMESTAMP AS OF have ONE implementation, on LakeTable (and LakeCatalog
# for catalog cuts).  A handle built with no SparkSession serves all of
# them as pure file I/O, so planning stays driver-side and session-free.
def _resolve_catalog(options: dict) -> tuple[str, int]:
    """Resolve (table root, pinned version) through a LakeCatalog
    (lake/txn.py): ``option("catalog", <catalog root>)`` +
    ``option("table", <name>)``, with the cut picked by
    ``catalog_version`` / ``catalog_tag`` (default: head) — the same
    cross-table-consistent pins engine readers get."""
    name = options.get("table")
    if not name:
        raise ValueError("laketable: option 'table' is required with 'catalog'")
    if not LakeCatalog.exists(options["catalog"]):
        raise ValueError(
            f"laketable: no catalog at {options['catalog']} (missing "
            "_catalog/VERSION)"
        )
    cat = LakeCatalog(None, os.path.abspath(options["catalog"]))
    v = options.get("catalog_version")
    if "catalog_tag" in options:
        tags = cat.tags()
        tag = options["catalog_tag"]
        if tag not in tags:
            raise ValueError(
                f"laketable: no catalog tag {tag!r} (have: {sorted(tags)})"
            )
        v = tags[tag]
    try:
        snap = cat.snapshot if v is None else cat.snapshot_at(int(v))
    except ValueError:
        raise ValueError(
            f"laketable: no catalog version {v} (expired?)"
        ) from None
    entry = snap["tables"].get(name)
    if entry is None:
        raise ValueError(
            f"laketable: table {name!r} not in catalog version "
            f"{snap['version']} (have: {sorted(snap['tables'])})"
        )
    return entry["root"], int(entry["version"])


def _load_snapshot(options: dict) -> tuple[str, dict[str, Any]]:
    """(table root, resolved snapshot) selected by the options: a catalog
    pin, else the ``path`` table's ``version``, ``timestamp`` (in the
    ``ref``'s ancestry) or ``ref`` head."""
    if options.get("catalog"):
        root, version = _resolve_catalog(options)
        return root, LakeTable(None, root).snapshot_at(version)
    root = options.get("path")
    if not root:
        raise ValueError("laketable: option 'path' is required")
    root = os.path.abspath(root)
    if not LakeTable.exists(root):
        raise ValueError(f"laketable: no lake table at {root} (missing _meta/)")
    t = LakeTable(None, root, ref=options.get("ref", "main"))
    if "version" in options:
        return root, t.snapshot_at(int(options["version"]))
    if "timestamp" in options:
        ts = float(options["timestamp"])
        return root, t.snapshot_at(t.version_at_timestamp(ts))
    return root, t.snapshot


def _table_struct(snap: dict[str, Any]) -> T.StructType:
    return schema_from_json(snap["schemas"][str(snap["schema_id"])])


# --------------------------------------------------------------------- #
# batch scan
# --------------------------------------------------------------------- #
@dataclass
class ScanPartition(InputPartition):
    # (abs_path, rel_path, schema_id, has_dv_rows) per data file
    files: list[tuple[str, str, int, bool]]
    fold: bool = False  # MOR latest-per-key fold needed (bucket-local)
    dv_files: list[str] = field(default_factory=list)  # abs sidecar paths
    # (abs key-file paths, delete LSN) per equality-delete entry in scope
    eq_entries: list[tuple[list[str], int]] = field(default_factory=list)
    # key values (key-col order) when every key column is pinned to one
    # value: the read keeps only that key's rows (null-safe equality)
    key: list | None = None


class LakeTableReader(DataSourceReader):
    def __init__(self, root: str, snap: dict[str, Any], options: dict):
        self.root = root
        self.key_cols: list[str] = list(snap["key_cols"])
        self.partial = bool(
            snap.get("properties", {}).get("partial_updates")
        )
        self.target = _table_struct(snap)
        self.with_lsn = str(options.get("with_lsn", "")).lower() == "true"
        cols_opt = options.get("columns")
        if cols_opt:
            want = [c.strip() for c in str(cols_opt).split(",") if c.strip()]
            known = {f.name for f in self.target.fields}
            missing = [c for c in want if c not in known]
            if missing:
                raise ValueError(f"laketable: columns not in schema: {missing}")
            self.out_cols = want
        else:
            self.out_cols = [f.name for f in self.target.fields]
        if self.with_lsn:
            self.out_cols = [*self.out_cols, LSN_COL]
        self._snap = snap  # manifest metadata only (file lists + stats)
        self.n_buckets = int(snap["n_buckets"])
        # Files pack into scan partitions up to ~this many rows (manifest
        # row counts; no footer reads) — Spark's own maxPartitionBytes
        # split packing, done at the Python planner.  One partition per
        # FILE (the old shape) costs a Python worker task per small file:
        # at 10^6-file scale that is task-scheduling debt with no read
        # win.  0 disables packing; files never split (a parquet file is
        # the read unit here).  NOTE: this default (2^20 rows) changed
        # scan parallelism for existing laketable readers when it landed
        # (round 4) — see README "DataSource read".
        self._pack_rows = int(options.get("target_partition_rows", 1 << 20))
        # a file with no usable manifest row count cannot be budgeted;
        # charge budget/4 — a stats-less manifest still packs up to 4
        # files per partition (vs fragmenting into singletons), while
        # bounding the worst-case overshoot of target_partition_rows to
        # 4x when every unknown file turns out huge (budget/16 allowed
        # a 16x blowup in one Python worker task)
        self._pack_unknown_rows = max(1, self._pack_rows // 4)
        self._prune: dict[str, list] = {}
        self._key: list | None = None  # set by lookup()
        # logical → PHYSICAL column names (column mapping): data files,
        # stats keys, and eq-delete key files all live in physical space;
        # identity until a RENAME/DROP COLUMN has happened
        self._pm: dict[str, str] = schema_pnames(snap, int(snap["schema_id"]))

    # -- planning ------------------------------------------------------ #
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Translate AND-ed top-level predicates into the same file-stats
        prune dict the native read uses.  EVERY filter is yielded back,
        so Spark still evaluates all of them row-level — the pushdown is
        pure file skipping and cannot change results (`_stats_admit` is
        the shared admit rule; a file lacking stats is always admitted)."""
        for f in filters:
            try:
                col = f.attribute[0] if len(f.attribute) == 1 else None
            except (AttributeError, TypeError):
                col = None
            if col is not None:
                cur = self._prune.get(col, [None, None])
                if isinstance(f, EqualTo) and _scalar(f.value):
                    cur = [f.value, f.value]
                elif isinstance(f, In) and f.value and all(
                    _scalar(v) for v in f.value
                ):
                    cur = [min(f.value), max(f.value)]
                elif isinstance(
                    f, (GreaterThan, GreaterThanOrEqual)
                ) and _scalar(f.value):
                    cur[0] = f.value if cur[0] is None else max(cur[0], f.value)
                elif isinstance(
                    f, (LessThan, LessThanOrEqual)
                ) and _scalar(f.value):
                    cur[1] = f.value if cur[1] is None else min(cur[1], f.value)
                else:
                    cur = None
                if cur is not None:
                    self._prune[col] = cur
            yield f  # Spark re-applies everything: pushdown = skip-only

    def _point_key(self) -> list | None:
        """The looked-up key values (key-col order) when the pushed
        filters pin every key column to one scalar, else None."""
        vals = []
        for c in self.key_cols:
            p = self._prune.get(c)
            if not p or p[0] is None or p[0] != p[1]:
                return None
            vals.append(p[0])
        return vals

    def lookup(self, key_values: dict[str, Any]):
        """Driver-local point read: the live rows whose key columns equal
        ``key_values`` null-safely, as one Arrow table in ``out_cols``
        order.  Plans with ``partitions()`` and reads each partition with
        the same Arrow reader Spark's workers run; no SparkSession."""
        import pyarrow as pa

        missing = [k for k in self.key_cols if k not in key_values]
        if missing:
            raise ValueError(f"point_lookup needs every key column: {missing}")
        self._key = [key_values[k] for k in self.key_cols]
        return pa.concat_tables(
            [self._read_table(p) for p in self.partitions()]
        )

    def _key_arrays(self, point: list) -> list:
        """One-row Arrow arrays of a key tuple in the key columns' types,
        converted the way PySpark converts a Python value for the JVM."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        fields = [self.target[c] for c in self.key_cols]
        out = []
        for f, at, v in zip(
            fields, to_arrow_schema(T.StructType(fields)).types, point
        ):
            iv = None if v is None else f.dataType.toInternal(v)
            try:
                out.append(pa.array([iv], type=at))
            except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError):
                out.append(pa.array([iv]).cast(at))  # e.g. "5" for a long
        return out

    def _hash_key(self, keys: list) -> tuple[int | None, list | None]:
        """(bucket, bloom probes) of one key tuple from the writer's
        vectorised xxhash64: bucket ``pmod(xxhash64(*keys), n_buckets)``,
        probe i ``xxhash64(*keys, i)``.  (None, None) for a key type the
        kernel does not cover: every bucket is planned, no bloom rejects."""
        import pyarrow as pa

        types = [self.target[c].dataType.typeName() for c in self.key_cols]
        k = LakeTable.BLOOM_K
        try:
            h = xxhash64_arrow(keys, types)
            probes = xxhash64_arrow(
                [a.take([0] * k) for a in keys]
                + [pa.array(list(range(k)), pa.int32())],
                [*types, "integer"],
            )
        except TypeError:
            return None, None
        bucket = int(pmod_vec(h, self.n_buckets)[0])
        return bucket, [tuple(int(x) for x in probes)]

    def partitions(self):
        snap = self._snap
        parts: list[ScanPartition] = []
        prune = dict(self._prune)
        dv_entries = snap.get("dv", [])
        eq_entries = snap.get("eqdel", [])
        point = self._key if self._key is not None else self._point_key()
        pbucket = probes = None
        if point is not None:
            # a None component (null key) admits every file's stats
            prune.update({c: [v, v] for c, v in zip(self.key_cols, point)})
            pbucket, probes = self._hash_key(self._key_arrays(point))
        prune = prune or None
        for b, files in snap["buckets"].items():
            bi = int(b)
            if pbucket is not None and bi != pbucket:
                continue  # keys never span buckets: O(1)-bucket lookup
            has_deltas = any(f.get("delta") for f in files)
            eff = prune
            if prune and has_deltas:
                # non-key columns can change between base row and delta
                # version — pruning on them could drop the newest version
                eff = {
                    c: p for c, p in prune.items() if c in self.key_cols
                } or None
            if eff:
                # stats are keyed by PHYSICAL name
                eff = {self._pm.get(c, c): p for c, p in eff.items()}
            dvf = [
                os.path.join(self.root, p)
                for e in dv_entries
                if bi in e.get("buckets", [])
                for p in e["files"]
            ]
            eqs = [
                (
                    [os.path.join(self.root, p) for p in e["files"]],
                    int(e["lsn"]),
                )
                for e in eq_entries
                if bi in e.get("buckets", [])
            ]
            admitted = [
                (
                    os.path.join(self.root, f["path"]),
                    f["path"],
                    int(f["schema_id"]),
                    bool(f.get("dv_rows")),
                )
                for f in files
                if (eff is None or LakeTable._stats_admit(f, eff))
                and not LakeTable._bloom_reject(self.root, f, probes)
            ]
            if not admitted:
                continue
            # keys never span buckets: the fold is partition-local, so a
            # bucket with deltas is one partition
            rows_of = {f["path"]: f.get("rows") for f in files}
            for chunk in (
                [admitted] if has_deltas else self._pack(admitted, rows_of)
            ):
                parts.append(
                    ScanPartition(
                        chunk,
                        fold=has_deltas,
                        dv_files=dvf if any(c[3] for c in chunk) else [],
                        eq_entries=eqs,
                        key=point,
                    )
                )
        return parts or [ScanPartition([])]

    def _pack(self, admitted: list, rows_of: dict):
        """Consecutive runs of a delta-free bucket's files holding up to
        ``target_partition_rows`` manifest rows each (one file per run
        when 0)."""
        budget = self._pack_rows
        chunk: list = []
        chunk_rows = 0
        for fe in admitted:
            # unknown/zero row count -> charge budget/4 (see
            # _pack_unknown_rows): packs stats-less manifests while
            # bounding per-task overshoot to 4x
            r = rows_of.get(fe[1]) or self._pack_unknown_rows
            if chunk and (not budget or chunk_rows + r > budget):
                yield chunk
                chunk, chunk_rows = [], 0
            chunk.append(fe)
            chunk_rows += r
        if chunk:
            yield chunk

    # -- execution (runs on executors; Arrow end-to-end) ---------------- #
    def read(self, partition: ScanPartition):
        for batch in self._read_table(partition).to_batches():
            if batch.num_rows:
                yield batch

    def _read_table(self, partition: ScanPartition):
        """One partition as an Arrow table in ``out_cols`` order: the
        file read (key filter and deletion vectors per row group), then
        equality deletes, then the MOR fold."""
        from pyspark.sql.pandas.types import to_arrow_schema

        out_schema = to_arrow_schema(self._struct(self.out_cols))
        if not partition.files:
            return out_schema.empty_table()
        fold = partition.fold
        eqs = partition.eq_entries
        internal = list(
            dict.fromkeys(
                [
                    *self.out_cols,
                    *(self.key_cols
                      if (fold or eqs or partition.key is not None) else []),
                    *([LSN_COL] if (fold or eqs or self.with_lsn) else []),
                    *([DELETED_COL] if fold else []),
                ]
            )
        )
        tbl = self._read_aligned(partition, internal)
        if eqs:
            tbl = self._apply_eq_deletes(tbl, eqs)
        if fold:
            tbl = self._fold_latest(tbl)
        return tbl.select(self.out_cols).cast(out_schema)

    # helpers ----------------------------------------------------------- #
    def _struct(self, names: list[str]) -> T.StructType:
        """The named columns of the table schema plus (_lsn, _deleted)."""
        by = {f.name: f for f in self.target.fields}
        by[LSN_COL] = T.StructField(LSN_COL, T.LongType(), True)
        by[DELETED_COL] = T.StructField(DELETED_COL, T.BooleanType(), True)
        return T.StructType([by[n] for n in names])

    def _read_aligned(self, partition: ScanPartition, internal: list[str]):
        """Read the partition's files column-pruned, one row group at a
        time, and align every piece to one Arrow schema (null-fill
        columns the file's schema version predates — the Iceberg
        read-time projection).  With a partition key, a row group whose
        key min/max stats exclude it is never read, and only the key's
        rows of the others are kept; deletion-vector positions are masked
        per row group from its first row's file offset.  A point read so
        holds at most one row group of other keys' rows at a time."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self._struct(internal))
        dead = self._dv_positions(partition) if partition.dv_files else {}
        pm = self._pm
        key = None
        if partition.key is not None:
            key = [
                (pm.get(c, c), a, a[0].as_py())
                for c, a in zip(self.key_cols, self._key_arrays(partition.key))
            ]
        pieces = []
        for abs_path, rel_path, sid, has_dv in partition.files:
            pf = pq.ParquetFile(abs_path)
            md = pf.metadata
            # the file's PHYSICAL columns (delta files carry _deleted,
            # base files don't; older schema ids lack evolved columns;
            # renamed columns keep their physical name)
            present = set(pf.schema_arrow.names)
            cols = list(
                dict.fromkeys(
                    pm.get(c, c) for c in internal if pm.get(c, c) in present
                )
            )
            pos = dead.get(rel_path) if has_dv else None
            leaf = (
                {pf.schema.column(j).path: j for j in range(md.num_columns)}
                if key else {}
            )
            first = 0
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                start, first = first, first + rg.num_rows
                if key and not all(
                    _stats_hold(rg.column(leaf[p]).statistics, v)
                    for p, _, v in key
                    if p in leaf
                ):
                    continue
                t = pf.read_row_group(i, columns=cols)
                keep = np.ones(t.num_rows, dtype=bool)
                if pos is not None:
                    keep[pos[(pos >= start) & (pos < first)] - start] = False
                if key:
                    keep &= _key_mask(t, key)
                if not keep.all():
                    t = t.filter(pa.array(keep))
                arrays = []
                for fld in arrow_schema:
                    src = pm.get(fld.name, fld.name)
                    if src in t.column_names:
                        arrays.append(t.column(src).cast(fld.type))
                    else:
                        arrays.append(pa.nulls(t.num_rows, type=fld.type))
                pieces.append(pa.table(arrays, schema=arrow_schema))
        return pa.concat_tables(pieces) if pieces else arrow_schema.empty_table()

    def _dv_positions(self, partition: ScanPartition):
        """rel_path -> sorted int64 array of dead row indices, from the
        dv sidecars in scope (each is a small per-commit parquet)."""
        import numpy as np
        import pyarrow.parquet as pq

        rels = {f[1] for f in partition.files if f[3]}
        out: dict[str, list] = {}
        for p in partition.dv_files:
            t = pq.read_table(p, columns=["file", "pos"])
            files = t.column("file").to_pylist()
            poss = t.column("pos").to_pylist()
            for fp, pos in zip(files, poss):
                if fp in rels:
                    out.setdefault(fp, []).append(pos)
        return {k: np.unique(np.asarray(v, dtype=np.int64))
                for k, v in out.items()}

    def _apply_eq_deletes(self, tbl, eq_entries):
        """Kill row versions whose key matches an equality-delete entry
        at `row._lsn <= entry.lsn` — same rule as the native read."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        kills = []
        pkeys = [self._pm.get(c, c) for c in self.key_cols]
        for paths, lsn in eq_entries:
            for p in paths:
                k = pq.read_table(p, columns=pkeys).to_pandas()
                k.columns = list(self.key_cols)  # physical → logical
                k["_eq_lsn"] = lsn
                kills.append(k)
        if not kills:
            return tbl
        kdf = (
            pd.concat(kills, ignore_index=True)
            .groupby(self.key_cols, dropna=False, as_index=False)["_eq_lsn"]
            .max()
        )
        # only the key and LSN columns cross to pandas: the kill mask
        # filters the Arrow table, whose types stay exact
        m = (
            tbl.select([*self.key_cols, LSN_COL])
            .to_pandas()
            .merge(kdf, on=self.key_cols, how="left")
        )
        dead = m["_eq_lsn"].notna() & (m[LSN_COL] <= m["_eq_lsn"])
        return tbl.filter(pa.array(~dead.to_numpy(dtype=bool)))

    def _fold_latest(self, tbl):
        """MOR resolution, bucket-local.  One sort on (keys, LSN) lines
        up every key's versions; a full-image table keeps each key's
        latest version unless it is a tombstone.  A partial-image table
        (``partial_updates``: a null delta column means "unchanged")
        resolves per column, as ``LakeTable.read`` does: the key's latest
        tombstone LSN is the inheritance barrier, each non-key column
        takes its latest non-null live value above it, the LSN is the
        key's latest, and a key with no live version above the barrier
        is gone."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = tbl.num_rows
        if not n:
            return tbl
        keys = self.key_cols
        tbl = tbl.take(
            pc.sort_indices(
                tbl,
                sort_keys=[(k, "ascending") for k in [*keys, LSN_COL]],
                null_placement="at_start",
            )
        )
        # new[i]: row i starts another key (null-safe and NaN-safe, the
        # way Spark groups)
        new = np.ones(n, dtype=bool)
        same = np.ones(n - 1, dtype=bool)
        for k in keys:
            col = tbl.column(k).combine_chunks()
            a, b = col.slice(1), col.slice(0, n - 1)
            eq = pc.or_kleene(
                pc.equal(a, b), pc.and_(pc.is_null(a), pc.is_null(b))
            )
            if pa.types.is_floating(col.type):
                eq = pc.or_kleene(eq, pc.and_(pc.is_nan(a), pc.is_nan(b)))
            same &= pc.fill_null(eq, False).to_numpy(zero_copy_only=False)
        new[1:] = ~same
        gid = np.cumsum(new) - 1
        last = np.append(np.flatnonzero(new)[1:] - 1, n - 1)
        deleted = (
            pc.fill_null(tbl.column(DELETED_COL), False)
            .to_numpy()
            .astype(bool)
        )
        if not self.partial:
            return tbl.take(last[~deleted[last]])
        lsn = tbl.column(LSN_COL).to_numpy()

        def _latest(mask):
            # per key: its last (highest-LSN) row where mask holds, or -1
            out = np.full(len(last), -1)
            rows = np.flatnonzero(mask)
            g = gid[rows]
            end = np.r_[g[1:] != g[:-1], True][: len(g)]
            out[g[end]] = rows[end]
            return out

        dl = _latest(deleted)
        barrier = np.where(dl >= 0, lsn[dl], np.iinfo(np.int64).min)

        def _after_barrier(rows):
            return (rows >= 0) & (lsn[rows] > barrier)

        alive = _after_barrier(_latest(~deleted))
        out = []
        for name in tbl.column_names:
            col = tbl.column(name)
            if name in keys or name in (LSN_COL, DELETED_COL):
                out.append(col.take(last[alive]))
                continue
            src = _latest(
                ~deleted & pc.is_valid(col).to_numpy().astype(bool)
            )
            ok = _after_barrier(src)
            out.append(col.take(pa.array(src[alive], mask=~ok[alive])))
        return pa.table(out, schema=tbl.schema)


def _stats_hold(stats, v) -> bool:
    """False when a row group's column statistics prove no row holds the
    key value ``v`` (None: the null key); missing or incomparable
    statistics hold."""
    if stats is None:
        return True
    if v is None:
        return not (stats.has_null_count and stats.null_count == 0)
    if not stats.has_min_max:
        return True
    try:
        return not (v < stats.min or v > stats.max)
    except TypeError:
        return True


def _key_mask(t, key) -> "np.ndarray":
    """Null-safe equality of a row group's key columns with the key, as
    a numpy bool mask (``eqNullSafe``; NaN equals NaN, as Spark has it)."""
    import math

    import pyarrow.compute as pc

    m = None
    for name, arr, v in key:
        col = t.column(name)
        if v is None:
            hit = pc.is_null(col)
        elif isinstance(v, float) and math.isnan(v):
            hit = pc.is_nan(col)
        else:
            hit = pc.equal(col, arr.cast(col.type)[0])
        hit = pc.fill_null(hit, False)
        m = hit if m is None else pc.and_(m, hit)
    return m.to_numpy()


def _scalar(v) -> bool:
    return isinstance(v, (int, float, str, bool)) and not isinstance(v, bytes)


# --------------------------------------------------------------------- #
# metadata tables (Iceberg's `table$files` / `$history` / `$snapshots`)
# --------------------------------------------------------------------- #
# Schemas of `files` and `history` are IDENTICAL to the native
# LakeTable.files()/history() DataFrames (tests assert frame equality);
# `snapshots` is the datasource-only discovery surface that tells a
# registry user which `option("version", ...)` values time travel can
# reach — the native path gets that from refs()/snapshot_at directly.
# Built as explicit StructTypes: planning stays SparkSession-free (the
# DDL parser would need the JVM).
def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


_META_SCHEMAS: dict[str, T.StructType] = {
    "files": _struct(
        ("bucket", T.IntegerType()),
        ("path", T.StringType()),
        ("schema_id", T.IntegerType()),
        ("rows", T.LongType()),
        ("is_delta", T.BooleanType()),
        ("has_bloom", T.BooleanType()),
        ("dv_rows", T.LongType()),
        ("stats", T.StringType()),
    ),
    "history": _struct(
        ("seq", T.LongType()),
        ("batch_id", T.StringType()),
        ("operation", T.StringType()),
        ("lsn_max", T.LongType()),
        ("batch_rows", T.LongType()),
        ("batch_keys", T.LongType()),
        ("deletes", T.LongType()),
        ("details", T.StringType()),
    ),
    "snapshots": _struct(
        ("version", T.LongType()),
        ("parent", T.LongType()),
        ("committed_at", T.DoubleType()),
        ("schema_id", T.IntegerType()),
        ("n_files", T.LongType()),
        ("physical_rows", T.LongType()),
        ("applied_lsn", T.LongType()),
    ),
    "refs": _struct(
        ("name", T.StringType()),
        ("type", T.StringType()),
        ("version", T.LongType()),
    ),
}


def _meta_rows(root: str, snap: dict[str, Any], kind: str) -> list[tuple]:
    """Rows for a metadata table, pure driver-side manifest walks.  Every
    kind reads through the same builders as the native surface —
    `files`/`history` through LakeTable.files()/history()'s row builders,
    `refs` through LakeTable.refs(), `snapshots` through its ancestry
    walk — so the two surfaces cannot diverge."""
    if kind == "files":
        return files_meta_rows(snap)
    if kind == "history":
        return history_meta_rows(snap)
    if kind == "refs":
        return [
            (r["name"], r["type"], r["version"])
            for r in LakeTable(None, root).refs()
        ]
    if kind == "snapshots":
        rows = []
        for v, s in LakeTable(None, root)._ancestry(int(snap["version"])):
            # n_files/physical_rows read the bucket inventory
            s = resolve_manifest(root, s)
            ledger = s.get("ledger", {})
            rows.append(
                (
                    int(v),
                    int(s["parent"]) if s.get("parent") is not None else None,
                    float(s["committed_at"])
                    if s.get("committed_at") is not None
                    else None,
                    int(s["schema_id"]),
                    sum(len(f) for f in s["buckets"].values()),
                    sum(s["bucket_rows"].values())
                    if "bucket_rows" in s
                    and set(s["bucket_rows"]) == set(s["buckets"])
                    else None,
                    int(ledger["applied_lsn"])
                    if ledger.get("applied_lsn") is not None
                    else None,
                )
            )
        rows.reverse()  # oldest retained first
        return rows
    raise ValueError(
        f"laketable: unknown metadata table {kind!r} "
        f"(have: {sorted(_META_SCHEMAS)})"
    )


@dataclass
class MetadataPartition(InputPartition):
    rows: list[tuple]


class LakeMetadataReader(DataSourceReader):
    """Reader over a metadata table: rows are extracted from the manifest
    JSON at PLAN time (driver-side, no SparkSession, no data file
    touched) and shipped in the partition — metadata volume is O(files),
    bounded by the manifest the driver already holds."""

    _CHUNK = 50_000  # files-rows per partition on very large manifests

    def __init__(self, root: str, snap: dict[str, Any], kind: str):
        self._schema = _META_SCHEMAS[kind]
        self._rows = _meta_rows(root, snap, kind)

    def partitions(self):
        chunks = [
            self._rows[i : i + self._CHUNK]
            for i in range(0, len(self._rows), self._CHUNK)
        ] or [[]]
        return [MetadataPartition(c) for c in chunks]

    def read(self, partition: MetadataPartition):
        if not partition.rows:
            return
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self._schema)
        cols = list(zip(*partition.rows))
        arrays = [
            pa.array(list(col), type=fld.type)
            for col, fld in zip(cols, arrow_schema)
        ]
        yield pa.record_batch(arrays, schema=arrow_schema)


# --------------------------------------------------------------------- #
# streaming change feed
# --------------------------------------------------------------------- #
@dataclass
class ChangePartition(InputPartition):
    path: str  # abs change-file path
    schema_id: int
    version: int  # commit that produced it


class LakeChangesStreamReader(DataSourceStreamReader):
    """Micro-batch source over stored write-time change files.

    Offsets are snapshot versions on the chosen ref; `partitions(a, b)`
    maps to the change files of commits in `(a, b]` along the parent
    chain — deterministic for a retained history, so checkpoint replay
    re-reads identical data (exactly-once with an idempotent sink).
    """

    def __init__(self, root: str, snap: dict[str, Any], options: dict):
        self.root = root
        self.ref = options.get("ref", "main")
        self.target = _table_struct(snap)
        self._pm = schema_pnames(snap, int(snap["schema_id"]))
        # the stream's output schema is FIXED at construction (Spark
        # streaming queries cannot change schema mid-query); commits
        # written under NEWER schema ids must fail the stream rather
        # than silently dropping their new columns — Delta CDF's rule
        self.schema_id = int(snap["schema_id"])
        lower = {k.lower(): v for k, v in options.items()}
        if "startingversion" in lower:
            self.start_version = int(lower["startingversion"])
        else:
            self.start_version = int(snap["version"])
        # admission control (Delta's maxFilesPerTrigger shape): admit at
        # most this many COMMITS per micro-batch, so a catch-up from a
        # deep backlog lands as bounded batches instead of one giant one.
        # The cursor tracks the last offset seen in partitions(); on a
        # checkpoint restart Spark's AcceptsLatestSeenOffset hook calls
        # partitions(restored, restored) first, so the bound is always
        # anchored at the true resume point, never at a stale
        # startingversion.
        mct = lower.get("maxcommitspertrigger")
        self.max_commits = int(mct) if mct is not None else 0
        if mct is not None and self.max_commits < 1:
            raise ValueError(
                "laketable cdf: maxCommitsPerTrigger must be >= 1, got "
                f"{mct!r}"
            )
        self._cursor: int | None = None

    def initialOffset(self):  # noqa: N802
        return {"version": self.start_version}

    def latestOffset(self):  # noqa: N802
        t = LakeTable(None, self.root, ref=self.ref)
        head = int(t._read_ref(self.ref)["version"])
        if not self.max_commits:
            return {"version": head}
        base = self._cursor if self._cursor is not None else self.start_version
        return {"version": min(head, max(base, 0) + self.max_commits)}

    def partitions(self, start, end):  # noqa: N802
        a, b = int(start["version"]), int(end["version"])
        self._cursor = max(a, b)
        parts: list[ChangePartition] = []
        interval = LakeTable(None, self.root, ref=self.ref)._interval(a, b)
        if interval is None:
            raise ValueError(
                f"laketable cdf: start version {a} is not in the retained "
                f"ancestry of version {b} (expired or other branch)"
            )
        for v, s in interval:
            d = s.get("changes")
            if not d or d.get("mode") == "diff":
                raise ValueError(
                    f"laketable cdf: commit {v} did not capture change "
                    "files (shuffle-path merge, overwrite, or rollback) — "
                    "this interval is not streamable; create the table "
                    "with write_changes=true and avoid overwrite/rollback "
                    "under a live stream, or rebuild the downstream state "
                    "from a snapshot read"
                )
            if d["mode"] == "none":
                continue
            if int(d["schema_id"]) > self.schema_id:
                raise ValueError(
                    f"laketable cdf: commit {v} was written under a newer "
                    f"schema (id {d['schema_id']} > stream's "
                    f"{self.schema_id}) — a streaming query's schema is "
                    "fixed at start, so its new columns cannot be served; "
                    "restart the stream (it resumes from the checkpoint "
                    "with the evolved schema; older commits null-fill)"
                )
            for p in d.get("files") or []:
                parts.append(
                    ChangePartition(
                        os.path.join(self.root, p), int(d["schema_id"]), v
                    )
                )
        return parts

    def read(self, partition: ChangePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        out_struct = _cdf_struct(self.target)
        arrow_schema = to_arrow_schema(out_struct)
        t = pq.read_table(partition.path)
        arrays = []
        for fld in arrow_schema:
            # change files live in PHYSICAL name space (system columns
            # map to themselves)
            src = self._pm.get(fld.name, fld.name)
            if fld.name == COMMIT_VERSION_COL:
                arrays.append(
                    pa.array([partition.version] * t.num_rows,
                             type=fld.type)
                )
            elif src in t.column_names:
                arrays.append(t.column(src).cast(fld.type))
            else:
                arrays.append(pa.nulls(t.num_rows, type=fld.type))
        out = pa.table(arrays, schema=arrow_schema)
        for batch in out.to_batches():
            if batch.num_rows:
                yield batch

    def commit(self, end):  # noqa: N802
        pass  # offsets live in the query checkpoint; nothing to release

    def stop(self):
        pass


def _cdf_struct(target: T.StructType) -> T.StructType:
    return T.StructType(
        list(target.fields)
        + [
            T.StructField(LSN_COL, T.LongType(), True),
            T.StructField(CHANGE_TYPE_COL, T.StringType(), True),
            T.StructField(COMMIT_VERSION_COL, T.LongType(), True),
        ]
    )


# --------------------------------------------------------------------- #
# the DataSource
# --------------------------------------------------------------------- #
class LakeTableDataSource(DataSource):
    """`laketable` format: batch snapshot reads + streaming change feed."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        root, snap = _load_snapshot(self.options)
        meta = self.options.get("metadata")
        if meta:
            if _is_cdf(self.options):
                raise ValueError(
                    "laketable: options metadata and mode=cdf conflict — "
                    "metadata tables are batch-only"
                )
            kind = str(meta).lower()
            if kind not in _META_SCHEMAS:
                raise ValueError(
                    f"laketable: unknown metadata table {kind!r} "
                    f"(have: {sorted(_META_SCHEMAS)})"
                )
            return _META_SCHEMAS[kind]
        if _is_cdf(self.options):
            return _cdf_struct(_table_struct(snap))
        struct = _table_struct(snap)
        cols_opt = self.options.get("columns")
        if cols_opt:
            want = [c.strip() for c in str(cols_opt).split(",") if c.strip()]
            by_name = {f.name: f for f in struct.fields}
            missing = [c for c in want if c not in by_name]
            if missing:
                raise ValueError(
                    f"laketable: columns not in schema: {missing}"
                )
            struct = T.StructType([by_name[c] for c in want])
        if str(self.options.get("with_lsn", "")).lower() == "true":
            struct = T.StructType(
                list(struct.fields)
                + [T.StructField(LSN_COL, T.LongType(), True)]
            )
        return struct

    def reader(self, schema) -> DataSourceReader:
        if _is_cdf(self.options):
            raise ValueError(
                "laketable: mode=cdf is a streaming source — use "
                "spark.readStream (batch change reads: "
                "LakeTable.table_changes())"
            )
        root, snap = _load_snapshot(self.options)
        meta = self.options.get("metadata")
        if meta:
            return LakeMetadataReader(root, snap, str(meta).lower())
        return LakeTableReader(root, snap, dict(self.options))

    def streamReader(self, schema) -> DataSourceStreamReader:  # noqa: N802
        if self.options.get("metadata"):
            raise ValueError(
                "laketable: metadata tables are batch-only — use "
                "spark.read (not readStream)"
            )
        if not _is_cdf(self.options):
            raise ValueError(
                "laketable: streaming requires option mode=cdf (the "
                "snapshot itself is a batch source)"
            )
        root, snap = _load_snapshot(self.options)
        return LakeChangesStreamReader(root, snap, dict(self.options))

    def writer(self, schema, overwrite: bool):
        # lazy import: the write side pulls in the commit protocol; keep
        # the read-only planner import-light
        from .writer import LakeDeltaBatchWriter

        return LakeDeltaBatchWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        from .writer import LakeDeltaStreamWriter

        return LakeDeltaStreamWriter(dict(self.options), schema, overwrite)


def _is_cdf(options: dict) -> bool:
    return str(options.get("mode", "")).lower() in ("cdf", "changes")


def register_lake_datasource(spark) -> None:
    """Register the `laketable` format on this session (idempotent)."""
    try:
        # required for pushFilters() to plan (runtime-settable SQL conf);
        # pushdown here is skip-only so enabling it is always safe
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # older builds without the conf: reader still works unpushed
    spark.dataSource.register(LakeTableDataSource)


register = register_lake_datasource  # short local alias
