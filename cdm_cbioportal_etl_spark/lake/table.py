"""Copy-on-write snapshot table format on parquet ("lake table").

Iceberg-style semantics implemented portably (no external jars):

- **Snapshots**: every commit writes an immutable ``snap-XXXXXXXX.json``
  manifest listing data files per hash bucket; a ``VERSION`` pointer file is
  swapped atomically (``os.replace``), so readers always see a consistent
  snapshot and a crashed writer leaves only orphan files, never a corrupt
  table.
- **Hash-bucket layout**: rows are bucketed by ``pmod(xxhash64(key), N)``.
  A MERGE only reads + rewrites the buckets its batch touches
  (copy-on-write with pruning) — merge cost is proportional to touched
  data, not table size.  At 100 TB you raise ``n_buckets`` (e.g. 4096) so
  each bucket rewrite stays ~25 GB; on a real cluster this layer is
  swappable for Apache Iceberg ``MERGE INTO`` with a bucket partition spec.
- **MERGE INTO (latest-LSN-wins upsert)**: resolution uses
  ``groupBy(key).agg(max_by(struct(...), lsn))`` — a hash aggregate with
  map-side partial combine — NOT a row_number window, so hot keys are
  pre-reduced on the map side and skew never concentrates on one reducer.
- **Three merge modes** (table property ``merge_mode`` / per-call
  ``mode``): ``cow`` rewrites touched buckets (resolution-free reads);
  ``mor`` appends per-bucket delta files with tombstones (Iceberg-v2
  merge-on-read — merge cost ~ batch bytes, reads resolve
  latest-per-key, ``compact()`` folds deltas back to base files);
  ``dv`` kills superseded rows by position in deletion-vector sidecars
  and appends winners as plain files (MOR's write cost, fold-free
  reads).  All three run one ``apply_prepared`` skeleton.
- **Exactly-once ledger**: the max applied LSN (and per-source-partition
  watermarks) live in the snapshot manifest, so the ledger update commits
  atomically with the data it covers.  Replaying a batch twice is a no-op.
- **Schema evolution**: add-column and int→long / float→double widening;
  old files are never rewritten — each file records its schema id and is
  aligned (cast / null-fill) at read time.
- **Lineage**: every commit appends a record (batch id, LSN range, row
  counts, merge stats) — the resumability contract.

Reference semantics being replaced: cdm-cbioportal-etl persists state by
blind whole-table overwrite (``write_db_obj(..., overwrite=True)``,
reference pipeline/lib/summary/summary_config_processor.py:373-419); this
module gives the same idempotence with incremental cost.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

# system columns stored in data files alongside user columns
LSN_COL = "_lsn"  # LSN that last wrote this row (latest-wins arbiter)
DELETED_COL = "_deleted"  # MOR delta files only: tombstone marker

# keyed by DataType.simpleString() names
_ATOMIC_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}
_WIDENINGS = {
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("int", "double"),
}


class SchemaEvolutionError(ValueError):
    pass


class ConstraintViolationError(ValueError):
    """A CHECK constraint rejected incoming rows (or, when adding a
    constraint, existing rows)."""


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency).  Refresh the snapshot and retry — merge() does this
    automatically; the LSN ledger makes the retried batch exactly-once."""


def resolve_manifest(root: str, snap: dict[str, Any]) -> dict[str, Any]:
    """Materialize a sharded manifest: when the snapshot JSON carries
    ``buckets_ref`` (shard id → content-addressed shard file under
    ``_meta/shards/``) instead of an inline ``buckets`` map, load the
    referenced shards and install the merged bucket→files dict.  Inline
    manifests pass through untouched.  Pure file I/O — the Python
    DataSource planner calls this with no SparkSession."""
    ref = snap.get("buckets_ref")
    if ref is None or "buckets" in snap:
        return snap
    buckets: dict[str, list] = {}
    for fn in ref.values():
        with open(os.path.join(root, "_meta", "shards", fn)) as fh:
            buckets.update(json.load(fh))
    snap["buckets"] = buckets
    return snap


def _write_manifest_shards(
    root: str, buckets: dict[str, list], n_shards: int
) -> dict[str, str]:
    """Split ``buckets`` into ``n_shards`` canonical-JSON shard files
    (shard = bucket_id % n_shards), CONTENT-ADDRESSED under
    ``_meta/shards/shard-<sha>.json``: an unchanged shard hashes to the
    file the parent snapshot already references, so a commit writes only
    the shards its touched buckets fall in — O(touched), not O(table).
    Existing files are never rewritten (same name ⇔ same bytes), which
    also makes shard writes idempotent under commit retries.  Returns
    shard id (str) → shard file name."""
    import hashlib

    sdir = os.path.join(root, "_meta", "shards")
    os.makedirs(sdir, exist_ok=True)
    parts: dict[int, dict[str, list]] = {}
    for b, files in buckets.items():
        parts.setdefault(int(b) % n_shards, {})[b] = files
    ref: dict[str, str] = {}
    for shard, sub in sorted(parts.items()):
        payload = json.dumps(sub, sort_keys=True)
        sha = hashlib.sha256(payload.encode()).hexdigest()[:20]
        fn = f"shard-{sha}.json"
        path = os.path.join(sdir, fn)
        if not os.path.exists(path):
            tmp = os.path.join(sdir, f".{fn}.{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                fh.write(payload)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, path)  # racers write identical bytes
        else:
            # freshen the mtime: the expire-time GC's in-flight guard is
            # mtime-based, and a REUSED shard would otherwise keep the
            # stamp of whichever old commit first wrote it
            os.utime(path, None)
        ref[str(shard)] = fn
    return ref


def history_meta_rows(snap: dict[str, Any]) -> list[tuple]:
    """Rows for the `history` inspection surface — the ONE builder both
    the native DataFrame and the datasource metadata table call, so the
    two can never diverge."""
    scalar_keys = (
        "batch_id", "operation", "lsn_max", "batch_rows", "batch_keys",
        "deletes",
    )
    rows = []
    for i, rec in enumerate(snap.get("lineage", [])):
        rest = {k: v for k, v in rec.items() if k not in scalar_keys}

        def _i(k):
            return int(rec[k]) if rec.get(k) is not None else None

        rows.append(
            (
                i,
                str(rec["batch_id"]),
                # write-time stamp is authoritative; prefix inference
                # only for legacy records predating the field
                str(rec.get("operation") or _op_kind(str(rec["batch_id"]))),
                _i("lsn_max"),
                _i("batch_rows"),
                _i("batch_keys"),
                _i("deletes"),
                json.dumps(rest, sort_keys=True) if rest else None,
            )
        )
    return rows


def files_meta_rows(snap: dict[str, Any]) -> list[tuple]:
    """Rows for the `files` inspection surface (see history_meta_rows)."""
    rows = []
    for b, fobjs in sorted(snap["buckets"].items(), key=lambda kv: int(kv[0])):
        for f in fobjs:
            rows.append(
                (
                    int(b),
                    f["path"],
                    int(f.get("schema_id", 0)),
                    int(f["rows"]) if f.get("rows") is not None else None,
                    bool(f.get("delta", False)),
                    bool(f.get("bloom")),
                    int(f.get("dv_rows", 0)),
                    json.dumps(f.get("stats"), sort_keys=True)
                    if f.get("stats")
                    else None,
                )
            )
    return rows


def _op_kind(batch_id: str) -> str:
    """Classify a lineage batch_id into the operation kind shown by
    ``history()`` (maintenance ops stamp a recognizable prefix)."""
    for prefix in ("compact", "rebucket", "rollback", "zorder"):
        if batch_id.startswith(f"{prefix}-"):
            return prefix
    return "merge"


def _type_name(dt: T.DataType) -> str:
    return dt.simpleString()


def schema_to_json(schema: T.StructType) -> list[dict[str, str]]:
    return [{"name": f.name, "type": _type_name(f.dataType)} for f in schema.fields]


def schema_from_json(fields: list[dict[str, str]]) -> T.StructType:
    out = []
    for f in fields:
        if f["type"] not in _ATOMIC_TYPES:
            raise ValueError(f"unsupported lake column type: {f['type']}")
        out.append(T.StructField(f["name"], _ATOMIC_TYPES[f["type"]], True))
    return T.StructType(out)


def schema_meta(snap: dict[str, Any], sid: int) -> list[dict[str, Any]]:
    """Field metadata for schema ``sid``: ``{name, type, id, pname}``.

    ``id`` is the Iceberg-style immutable field id — the identity RENAME
    COLUMN preserves and DROP COLUMN retires.  ``pname`` is the PHYSICAL
    column name data files are written under (Delta column mapping):
    fixed at field creation, so a logical rename never touches data files,
    stats keys, bloom sidecars, or CDF files — only the one logical→
    physical translation applied at the read/write boundary.

    Schemas written before this feature carry neither key; ids/pnames are
    derived deterministically by first appearance of the NAME across
    schema ids ascending (legacy evolution was add/widen only, so name ==
    identity and pname == name — every existing file is already in
    physical space).  Schemas written by current code store both keys
    explicitly, and the explicit values always agree with this derivation
    for the legacy prefix because new commits derive the prior schema's
    meta through this same function.
    """
    by_name: dict[str, tuple[int, str]] = {}  # name -> (id, pname), legacy scan
    next_id = 0
    result: list[dict[str, Any]] | None = None
    for s in sorted(int(k) for k in snap["schemas"]):
        fields = snap["schemas"][str(s)]
        metas = []
        for f in fields:
            if "id" in f:
                m = {
                    "name": f["name"],
                    "type": f["type"],
                    "id": int(f["id"]),
                    "pname": f.get("pname", f["name"]),
                }
                next_id = max(next_id, m["id"] + 1)
            else:
                if f["name"] not in by_name:
                    by_name[f["name"]] = (next_id, f["name"])
                    next_id += 1
                fid, pn = by_name[f["name"]]
                m = {"name": f["name"], "type": f["type"], "id": fid, "pname": pn}
            metas.append(m)
        if s == sid:
            result = metas
        if s >= sid and result is not None:
            break
    if result is None:
        raise KeyError(f"unknown schema id {sid}")
    return result


def schema_pnames(snap: dict[str, Any], sid: int) -> dict[str, str]:
    """Logical name → physical name for schema ``sid``."""
    return {m["name"]: m["pname"] for m in schema_meta(snap, sid)}


def pschema_from_meta(metas: list[dict[str, Any]]) -> T.StructType:
    """StructType in PHYSICAL column names (what the data files hold)."""
    return T.StructType(
        [
            T.StructField(m["pname"], _ATOMIC_TYPES[m["type"]], True)
            for m in metas
        ]
    )


def _used_pnames(snap: dict[str, Any]) -> set[str]:
    """Every physical name any schema version ever used — new fields must
    avoid them all, or a dropped column's on-disk data could be mistaken
    for the new field's."""
    used: set[str] = set()
    for s in snap["schemas"]:
        used.update(m["pname"] for m in schema_meta(snap, int(s)))
    return used


_EXT_MARKERS = ("data", "dv", "eqdel")


def _external_rel(abs_path: str) -> str:
    """Root-relative layout of an absolute file reference (a shallow
    clone's pointer into its source): everything from the LAST
    ``/data/`` (or ``/dv/``, ``/eqdel/``) marker on.  Write paths never
    nest a marker inside their own components (``w-<hex>/_bucket=<n>/
    part-*.parquet``), so the last marker is always the table-level
    directory.  Preserving the exact relative layout when copying is
    LOAD-BEARING for deletion vectors: dv files record their target as
    the 4-component data rel path, matched on read via
    ``substring_index(file_path, '/', -4)`` — a renamed copy would
    silently un-kill its rows."""
    best, rel = -1, None
    for m in _EXT_MARKERS:
        i = abs_path.rfind(f"/{m}/")
        if i > best:
            best, rel = i, abs_path[i + 1 :]
    if rel is None:
        raise ValueError(f"unrecognized external file layout: {abs_path}")
    return rel


def _localize_snap(snap: dict[str, Any], root: str) -> int:
    """Copy externally-referenced (absolute-path) files into ``root``
    and rewrite the manifest entries to root-relative paths, in place.
    Bloom sidecars ride their parquet.  Idempotent: already-local files
    are skipped (same rel layout ⇒ same destination).  Returns the
    number of files copied."""
    copied = 0

    def bring(abs_p: str) -> str:
        nonlocal copied
        if not os.path.isabs(abs_p):
            return abs_p  # already root-relative
        if abs_p.startswith(root + os.sep):
            return os.path.relpath(abs_p, root)
        rel = _external_rel(abs_p)
        dst = os.path.join(root, rel)
        if not os.path.exists(dst):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(abs_p, dst)
            copied += 1
            side = abs_p + ".bloom"
            if os.path.exists(side):
                shutil.copy2(side, dst + ".bloom")
        return rel

    for files in snap.get("buckets", {}).values():
        for fobj in files:
            fobj["path"] = bring(fobj["path"])
    for field in ("dv", "eqdel"):
        for e in snap.get(field, []):
            e["files"] = [bring(p) for p in e["files"]]
    return copied


@dataclass
class MergeStats:
    batch_rows: int
    batch_keys: int
    touched_buckets: int
    total_buckets: int
    upserts: int
    deletes: int
    rows_after: int
    skipped_already_applied: int
    # per-phase wall seconds of the apply (gate agg / COW write / metadata
    # commit) — recorded in lineage too; the observability the
    # scaling-efficiency work reads
    timings: dict | None = None
    # COW file skipping: data files in touched buckets whose key-range
    # stats proved them winner-free, referenced unchanged instead of
    # rewritten (0 under MOR / when stats are unavailable)
    carried_files: int = 0


@dataclass
class _ModeResult:
    """What one merge mode's resolve+write step hands the shared commit
    tail (``LakeTable._finish_apply``)."""

    buckets_meta: dict[str, list[dict]]
    bucket_rows: dict[str, int]
    t_write: float  # perf_counter() when the mode's data write finished
    carried_files: int = 0
    change_files: list[str] | None = None  # None: commit records "diff"
    dv_entry: dict[str, Any] | None = None


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def _key_match(left: list[F.Column], prefix: str) -> F.Column:
    """Null-safe equality of the ``left`` key columns against the other
    join side's aliased ``{prefix}0..n`` columns.  Null-SAFE because
    groupBy keeps a null-key group: a plain equi-join would drop (or, on
    the resolve side, duplicate) the null-key row."""
    return functools.reduce(
        operator.and_,
        (c.eqNullSafe(F.col(f"{prefix}{i}")) for i, c in enumerate(left)),
    )


def _partial_fold_aggs(
    live: F.Column, lsn: F.Column, values: dict[str, F.Column]
) -> tuple[F.Column, F.Column, list[F.Column]]:
    """Aggregates of the per-column partial-image fold over the versions
    of one key (batch events or base row + MOR deltas): ``_dl`` (latest
    delete LSN — the inheritance barrier), ``_ul`` (latest live LSN) and
    per column ``_v_<c>`` / ``_l_<c>`` (value and LSN of its latest
    non-null live occurrence).  All map-side combinable; callers keep a
    column's value only when its ``_l_<c>`` is past the barrier."""
    per_col = []
    for c, v in values.items():
        nn = live & v.isNotNull()
        per_col += [
            F.max_by(v, F.when(nn, lsn)).alias(f"_v_{c}"),
            F.max(F.when(nn, lsn)).alias(f"_l_{c}"),
        ]
    return (
        F.max(F.when(~live, lsn)).alias("_dl"),
        F.max(F.when(live, lsn)).alias("_ul"),
        per_col,
    )


class LakeTable:
    """A bucketed copy-on-write table rooted at a local/posix directory."""

    def __init__(self, spark: SparkSession, root: str, ref: str = "main"):
        self.spark = spark
        self.root = os.path.abspath(root)
        self._meta_dir = os.path.join(self.root, "_meta")
        self._data_dir = os.path.join(self.root, "data")
        self._snap: dict[str, Any] | None = None
        # serializes SAME-HANDLE mutations across threads: a merge
        # prepares its manifest against one snapshot read and commits
        # against self._snap — if another thread advances _snap in
        # between, the CAS token is cut from the NEW base and the stale
        # carry-over commits without a conflict (silent lost update).
        # Cross-HANDLE / cross-process writers are already arbitrated by
        # the O_EXCL token; this lock only covers the shared-handle case
        # (e.g. a threaded fan-out merging through one catalog handle).
        import threading

        self._mutate_lock = threading.RLock()
        # which named ref this handle reads from / commits to.  "main"
        # is the VERSION pointer every pre-refs table already has; other
        # names resolve through _meta/refs/<name>.json (Iceberg-style
        # branches and tags — the write-audit-publish surface).
        self.ref = ref
        # (ref, version, sid) -> field metas; snapshots are immutable so
        # the cache never invalidates
        self._schema_meta_cache: dict[tuple, list[dict[str, Any]]] = {}

    # ------------------------------------------------------------------ #
    # metadata plumbing
    # ------------------------------------------------------------------ #
    @property
    def snapshot(self) -> dict[str, Any]:
        if self._snap is None:
            self.refresh()
        assert self._snap is not None
        return self._snap

    def _refs_dir(self) -> str:
        return os.path.join(self._meta_dir, "refs")

    def _ref_path(self, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.-]*", name):
            raise ValueError(f"invalid ref name: {name!r}")
        return os.path.join(self._refs_dir(), f"{name}.json")

    def _read_ref(self, name: str) -> dict[str, Any]:
        if name == "main":
            with open(os.path.join(self._meta_dir, "VERSION")) as fh:
                return {"version": int(fh.read().strip()), "type": "branch"}
        try:
            with open(self._ref_path(name)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"no such ref {name!r} at {self.root} "
                f"(existing: {sorted(r['name'] for r in self.refs())})"
            ) from None

    def _write_ref(
        self, name: str, version: int, ref_type: str, exclusive: bool = False
    ) -> None:
        """Swing (or exclusively create) a named ref pointer.  Same
        durability order as the VERSION pointer: contents fsync'd, then
        atomic rename, then directory entry fsync'd."""
        os.makedirs(self._refs_dir(), exist_ok=True)
        path = self._ref_path(name)
        if exclusive and os.path.exists(path):
            raise ValueError(f"ref {name!r} already exists at {self.root}")
        rec = {"version": int(version), "type": ref_type,
               "created_at": time.time()}
        tmp = os.path.join(self._refs_dir(), f".{name}.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        dfd = os.open(self._refs_dir(), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def refresh(self) -> None:
        self._snap = self.snapshot_at(self._read_ref(self.ref)["version"])

    def _commit(self, snap: dict[str, Any]) -> None:
        """Write manifest then atomically swing the VERSION pointer.

        Durability order: manifest contents fsync'd BEFORE the pointer
        swing, pointer contents fsync'd before the rename, directory
        entry fsync'd after — a power loss at any point leaves either
        the old committed state or the new one, never a pointer at a
        truncated/missing manifest.

        Concurrency: commits are arbitrated PER REF by an O_EXCL
        transaction token named ``txn/<ref>-<base>`` — "the commit that
        advanced <ref> past version <base>".  Of two writers whose
        handles share the same base snapshot, exactly one creates the
        token; the loser gets ConcurrentCommitError without having moved
        the pointer (optimistic concurrency, the Iceberg/Delta commit
        protocol on a posix filesystem), refreshes, and re-prepares
        against the new head — ``merge`` does this automatically, and
        the LSN ledger keeps the retried batch exactly-once.  Version
        numbers are ONE global sequence shared by every ref (Iceberg's
        snapshot-id model): the snap-file O_EXCL is pure number
        allocation — losing it to a writer on ANOTHER ref just re-draws
        the number; it is never the conflict signal, the token is.
        (Earlier revisions used the snap-file collision itself as the
        conflict check; that only works while versions are dense per
        chain — with a shared global sequence a stale same-ref writer
        would silently allocate past the collision and drop the racer's
        commit.)  A token that exists while the ref pointer never
        advances past its base is a crashed writer's remnant; the error
        message carries the repair hint."""
        os.makedirs(self._meta_dir, exist_ok=True)
        if self.ref != "main":
            if self._read_ref(self.ref).get("type") == "tag":
                raise ValueError(
                    f"ref {self.ref!r} is a tag — tags are immutable; "
                    "checkout a branch to write"
                )
        # parse write-path settings BEFORE allocating the manifest slot:
        # a malformed property must fail the statement, not strand a
        # zero-byte snap-*.json that poisons every later vacuum/expire
        n_shards = int(
            (snap.get("properties") or {}).get("manifest_shards", 0) or 0
        )
        # the committed snapshot this handle derived the new one from
        # (its view before the mutation); None for the genesis commit
        base = self._snap["version"] if self._snap else None
        txn_dir = os.path.join(self._meta_dir, "txn")
        os.makedirs(txn_dir, exist_ok=True)
        token = os.path.join(
            txn_dir, f"{self.ref}-{'genesis' if base is None else base}"
        )
        try:
            tfd = os.open(token, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"ref {self.ref!r} at {self.root} was advanced past version "
                f"{base} by another writer (or the token is a crashed "
                f"writer's remnant if the ref pointer never moves — repair "
                f"by deleting {token} and the manifest it names).  Refresh "
                "and retry."
            ) from None
        # allocate the next free GLOBAL snapshot number; a collision here
        # is a writer on another ref taking the same number — re-draw
        while True:
            version = max(
                (base + 1) if base is not None else 0,
                self._next_free_version(),
            )
            path = os.path.join(self._meta_dir, f"snap-{version:08d}.json")
            try:
                fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
                break
            except FileExistsError:
                continue
        snap["version"] = version
        # lineage across refs is the `parent` chain, not numeric
        # adjacency.  NOT setdefault: the deep-copied snap inherits its
        # base's parent.
        snap["parent"] = base
        # commit wall time (epoch seconds): what TIMESTAMP AS OF resolves
        # against.  Stamped at commit, monotone per ref by construction
        # of the single-winner token protocol above (a racing loser
        # re-stamps on retry).
        snap["committed_at"] = time.time()
        # record which manifest this token produced (repair breadcrumb)
        with os.fdopen(tfd, "w") as fh:
            fh.write(str(version))
        # sharded manifests (property `manifest_shards` = N > 0): the
        # file inventory is split bucket%N into content-addressed shard
        # files; unchanged shards hash to the parent's files, so the
        # per-commit metadata write is O(touched shards) while the
        # snapshot JSON itself stays O(1)-ish (refs + ledger + lineage).
        # Shard bytes are fsync'd BEFORE this manifest (durability
        # order), and a stale inherited `buckets_ref` never leaks into
        # an inline commit (popped below; resolve_manifest also prefers
        # inline `buckets` when both are present).
        out = dict(snap)
        out.pop("buckets_ref", None)

        def _abort_cleanup():
            # in-process failure before the pointer swing: release the
            # allocated manifest slot and the arbitration token so the
            # table is NOT left with a truncated manifest (which would
            # crash vacuum/expire) or a stuck token (which would block
            # every later commit from this base)
            for p in (path, token):
                try:
                    os.remove(p)
                except OSError:
                    pass

        if n_shards > 0:
            try:
                out["buckets_ref"] = _write_manifest_shards(
                    self.root, out.pop("buckets"), n_shards
                )
            except BaseException:
                os.close(fd)
                _abort_cleanup()
                raise
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(out, fh)
                fh.flush()
                os.fsync(fh.fileno())
        except BaseException:
            _abort_cleanup()
            raise
        if self.ref == "main":
            tmp = os.path.join(self._meta_dir, f".VERSION.{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                fh.write(str(version))
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, os.path.join(self._meta_dir, "VERSION"))
            dfd = os.open(self._meta_dir, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        else:
            self._write_ref(self.ref, version, "branch")
        self._snap = snap

    def _commit_op(
        self,
        snap: dict[str, Any],
        changes: dict[str, Any],
        operation: str,
        batch_id: str | None = None,
        **fields: Any,
    ) -> None:
        """Commit one mutation: ``snap`` with its change descriptor and
        one lineage record (``at``, ``batch_id``, ``operation`` plus
        ``fields``).  Lineage retention: the manifest must not grow
        O(total commits ever) on a long-lived table, so only the newest
        ``max_lineage`` records are kept (resume needs only the ledger
        watermark; older lineage belongs in an external metrics sink).
        Every mutation that records lineage commits through here."""
        snap["changes"] = changes
        lineage = [
            *snap.get("lineage", []),
            {
                "at": round(time.time(), 3),
                "batch_id": batch_id or uuid.uuid4().hex,
                "operation": operation,
                **fields,
            },
        ]
        cap = int(snap.get("properties", {}).get("max_lineage", 5000))
        snap["lineage"] = lineage[-cap:] if len(lineage) > cap else lineage
        self._commit(snap)

    @staticmethod
    def _tag_segments(snap: dict[str, Any], segments: list[str]) -> None:
        """Record applied WAL segment / stream epoch names in the ledger
        — lets a streaming tail tell harmless redelivery apart from a
        late or out-of-order segment (streaming/wal.py::_segment_guard),
        committed atomically with the data they cover.  Retention is
        CAPPED at ``max_tracked_segments`` (insertion-ordered, oldest
        pruned) so manifests do not grow O(total segments ever):
        redelivery of a segment older than the window then FAILS the
        stale guard (fail-safe false positive) instead of being silently
        re-merged — acceptable because redelivery that old means a
        checkpoint loss an operator should see anyway."""
        cap = int(snap.get("properties", {}).get("max_tracked_segments", 10_000))
        prev = snap["ledger"].get("applied_segments", [])
        seen = set(prev)
        merged = list(prev) + [s for s in segments if s not in seen]
        snap["ledger"]["applied_segments"] = merged[-cap:]

    def snapshot_at(self, version: int) -> dict[str, Any]:
        """Load a historical snapshot manifest (time travel)."""
        return resolve_manifest(self.root, self._snapshot_raw(version))

    def _next_free_version(self) -> int:
        """Next unallocated number in the table's single global version
        sequence (max retained manifest + 1).  Metadata-dir listing only
        — expire_snapshots keeps it bounded."""
        try:
            names = os.listdir(self._meta_dir)
        except FileNotFoundError:
            return 0
        mx = -1
        for fn in names:
            m = re.fullmatch(r"snap-(\d{8})\.json", fn)
            if m:
                mx = max(mx, int(m.group(1)))
        return mx + 1

    def _ancestry(self, head: int | None = None):
        """Yield (version, raw snapshot) newest-first along the ``parent``
        chain from ``head`` (default: this handle's current version).
        Stops at the root or at the first expired (missing) ancestor
        manifest.  Manifests written before the refs feature carry no
        ``parent`` key — fall back to numeric adjacency, their actual
        lineage."""
        v = self.snapshot["version"] if head is None else head
        while v is not None:
            try:
                # raw load: walks read scalar fields (parent, committed_at,
                # changes, schemas) — resolving a sharded inventory per
                # ancestor would make every walk O(history × live files)
                s = self._snapshot_raw(v)
            except ValueError:
                return
            yield v, s
            v = s.get("parent", v - 1 if v > 0 else None)

    def _interval(
        self, from_v: int, to_v: int
    ) -> list[tuple[int, dict[str, Any]]] | None:
        """The commits in ``(from_v, to_v]`` along ``to_v``'s ancestry,
        oldest first, as (version, raw snapshot) pairs — the span a
        change feed or a branch publish covers.  Numeric adjacency does
        not hold once the global version sequence interleaves branch
        commits, so the walk follows ``parent``.  None when ``from_v`` is
        not a retained ancestor of ``to_v`` (expired or another branch);
        a negative ``from_v`` means "from the oldest retained commit"."""
        out = []
        for v, s in self._ancestry(to_v):
            if v <= from_v:  # parents are always numbered below children
                return out[::-1] if v == from_v else None
            out.append((v, s))
        return out[::-1] if from_v < 0 else None

    def _snapshot_raw(self, version: int) -> dict[str, Any]:
        """Snapshot JSON WITHOUT shard resolution — for walks that read
        only scalar fields (parent, committed_at, changes...)."""
        path = os.path.join(self._meta_dir, f"snap-{version:08d}.json")
        if not os.path.exists(path):
            raise ValueError(f"no snapshot version {version} at {self.root}")
        with open(path) as fh:
            return json.load(fh)

    def version_at_timestamp(self, ts: float) -> int:
        """TIMESTAMP AS OF resolution (Delta/Iceberg semantics): the
        newest RETAINED version **in this ref's ancestry** whose commit
        time is <= ts.  Walks the parent chain newest-first, so cost is
        O(versions newer than ts), not O(history) — and a sibling
        branch's commits never satisfy another branch's timestamp.
        Commit times come from each writer's clock; with multiple
        writers they are monotone up to clock skew — exactly the Delta
        caveat — and version-based travel remains the exact API.  Raises
        if ts predates the oldest retained snapshot (the lookback
        horizon has passed it)."""
        oldest = None
        for v, s in self._ancestry():
            at = s.get("committed_at")
            if at is None or at <= ts:
                return v  # pre-timestamp manifests count as old enough
            oldest = (v, at)
        raise ValueError(
            f"no retained snapshot at or before timestamp {ts} "
            f"(oldest retained: version {oldest[0]} committed at "
            f"{oldest[1]})" if oldest else f"table has no snapshots"
        )

    # ------------------------------------------------------------------ #
    # refs: branches / tags / write-audit-publish
    # ------------------------------------------------------------------ #
    def create_branch(self, name: str, at_version: int | None = None) -> None:
        """Create a branch pointing at ``at_version`` (default: this
        handle's current head).  Branch commits share the table's global
        version sequence but move only the branch pointer — main stays
        untouched until :meth:`publish_branch` (the Iceberg
        write-audit-publish pattern; the reference's analog is staging
        cBioPortal files to a scratch dir and copying them live after
        validation passes)."""
        if name == "main":
            raise ValueError("'main' is the table's default branch")
        v = self.snapshot["version"] if at_version is None else int(at_version)
        self.snapshot_at(v)  # must exist
        self._write_ref(name, v, "branch", exclusive=True)

    def create_tag(self, name: str, at_version: int | None = None) -> None:
        """Create an immutable named pointer (audit/release marker).
        Reads resolve through it; commits to it are refused; expire/
        vacuum keep what it references alive."""
        if name == "main":
            raise ValueError("'main' is the table's default branch")
        v = self.snapshot["version"] if at_version is None else int(at_version)
        self.snapshot_at(v)
        self._write_ref(name, v, "tag", exclusive=True)

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop the main branch")
        try:
            os.remove(self._ref_path(name))
        except FileNotFoundError:
            raise ValueError(f"no such ref {name!r} at {self.root}") from None
        # drop the ref's commit-arbitration tokens too, so a branch
        # recreated under the same name can commit from any base again
        txn_dir = os.path.join(self._meta_dir, "txn")
        if os.path.isdir(txn_dir):
            pat = re.compile(rf"{re.escape(name)}-(\d+|genesis)\Z")
            for fn in os.listdir(txn_dir):
                if pat.fullmatch(fn):
                    os.remove(os.path.join(txn_dir, fn))

    def refs(self) -> list[dict[str, Any]]:
        """All named refs (main + branches + tags), with their heads."""
        out = [
            {
                "name": "main",
                "type": "branch",
                "version": self._read_ref("main")["version"],
            }
        ]
        if os.path.isdir(self._refs_dir()):
            for fn in sorted(os.listdir(self._refs_dir())):
                if not fn.endswith(".json") or fn.startswith("."):
                    continue
                with open(os.path.join(self._refs_dir(), fn)) as fh:
                    rec = json.load(fh)
                out.append(
                    {
                        "name": fn[:-5],
                        "type": rec.get("type", "branch"),
                        "version": int(rec["version"]),
                    }
                )
        return out

    def checkout(self, name: str) -> "LakeTable":
        """A handle on the same table bound to ref ``name``.  Reads see
        the ref's head; commits move the ref's pointer (tags refuse)."""
        self._read_ref(name)  # validate it exists
        return LakeTable(self.spark, self.root, ref=name)

    def publish_branch(self, branch: str) -> int:
        """Fast-forward THIS handle's ref to ``branch``'s head (the
        "publish" step of write-audit-publish).  Commits a new manifest
        whose content is the branch head's — data files are referenced,
        not rewritten, so publish is O(metadata) — allocated through the
        same O_EXCL single-winner protocol as every commit, so two racing
        publishes cannot both win.  The branch pointer is then advanced
        to the published commit, keeping branch == target for the next
        staging cycle.

        Requires this ref's head to be an ANCESTOR of the branch head
        (true fast-forward).  If the target advanced independently since
        the fork, raises ConcurrentCommitError: publishing would silently
        drop those commits — re-stage from a fresh branch instead.  The
        ledger (applied LSNs, source watermarks) publishes with the data
        it covers, so exactly-once replay holds across the flow."""
        rec = self._read_ref(branch)
        if rec.get("type") == "tag":
            raise ValueError(f"{branch!r} is a tag, not a branch")
        src_head = int(rec["version"])
        self.refresh()
        base = self.snapshot["version"]
        if src_head == base:
            return base  # nothing staged
        staged = self._interval(base, src_head)
        if staged is None:
            raise ConcurrentCommitError(
                f"branch {branch!r} (head {src_head}) does not descend "
                f"from {self.ref!r} (head {base}): the target advanced "
                "since the fork (or the fork point was expired) — "
                "re-stage on a fresh branch"
            )
        snap = json.loads(json.dumps(self.snapshot_at(src_head)))
        snap["version"] += 1  # _commit reallocates globally
        # the publish commit's change-data descriptor covers the WHOLE
        # staged segment (base..src_head), not just the branch's last
        # commit: concatenate the staged commits' stored change files
        # when they all captured CDF under one schema, else fall back to
        # the snapshot-diff mode — CDF consumers on the target ref keep
        # their fast path across a write-audit-publish cycle.
        ch_files: list[str] = []
        ch_sid: int | None = None
        ch_ok = True
        for _, s in staged:  # oldest-first
            d = s.get("changes") or {}
            mode = d.get("mode")
            if mode == "none":
                continue
            if mode != "cdf":
                ch_ok = False
                break
            sid = int(d["schema_id"])
            if ch_sid is None:
                ch_sid = sid
            elif sid != ch_sid:
                ch_ok = False  # schema evolved mid-branch: one-scan
                break          # descriptor can't carry both
            ch_files.extend(d.get("files") or [])
        if ch_ok and ch_sid is not None:
            changes = {"mode": "cdf", "files": ch_files, "schema_id": ch_sid}
        else:
            changes = {"mode": "none" if ch_ok else "diff"}
        self._commit_op(
            snap, changes, "publish", f"publish-{branch}-{src_head}",
            source_ref=branch, source_version=src_head, base_version=base,
        )
        published = snap["version"]
        self._write_ref(branch, published, "branch")
        return published

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_meta", "VERSION"))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 32,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        t = cls(spark, root)
        if cls.exists(root):
            raise ValueError(f"table already exists at {root}")
        os.makedirs(t._data_dir, exist_ok=True)
        # fields carry the immutable id and physical name from birth
        # (RENAME/DROP COLUMN support; pname == name until a name is
        # dropped and reused)
        fields = [
            {"name": f.name, "type": _type_name(f.dataType), "id": i, "pname": f.name}
            for i, f in enumerate(schema.fields)
        ]
        # validate BEFORE committing: an unsupported type (decimal/array/
        # map) in a committed manifest would brick every later read
        schema_from_json(fields)
        for k in key_cols:
            if k not in [f["name"] for f in fields]:
                raise ValueError(f"key column {k} not in schema")
        snap = {
            "version": 0,
            "schema_id": 0,
            "schemas": {"0": fields},
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "buckets": {},
            "properties": properties or {},
            "ledger": {"applied_lsn": -1, "source_watermarks": {}},
            "lineage": [],
        }
        t._commit(snap)
        return t

    # ------------------------------------------------------------------ #
    # schema
    # ------------------------------------------------------------------ #
    @property
    def schema(self) -> T.StructType:
        s = self.snapshot
        return schema_from_json(s["schemas"][str(s["schema_id"])])

    @property
    def key_cols(self) -> list[str]:
        return list(self.snapshot["key_cols"])

    # -- column-mapping helpers (field ids / physical names) ----------- #
    def _meta_of(self, snap: dict[str, Any], sid: int) -> list[dict[str, Any]]:
        key = (snap.get("ref", self.ref), int(snap["version"]), int(sid))
        hit = self._schema_meta_cache.get(key)
        if hit is None:
            hit = schema_meta(snap, int(sid))
            self._schema_meta_cache[key] = hit
        return hit

    def _pnames_of(
        self, snap: dict[str, Any], sid: int | None = None
    ) -> dict[str, str]:
        """Logical → physical name map for ``sid`` (default: the
        snapshot's current schema)."""
        sid = int(snap["schema_id"]) if sid is None else int(sid)
        return {m["name"]: m["pname"] for m in self._meta_of(snap, sid)}

    def _mapped(self, snap: dict[str, Any]) -> bool:
        """True when the snapshot's current schema has any column whose
        physical name differs from its logical name — the ONLY case the
        logical↔physical translation layers must run.  Every rename-free
        table answers False and takes the exact legacy code paths."""
        return any(
            m["name"] != m["pname"]
            for m in self._meta_of(snap, int(snap["schema_id"]))
        )

    def _xver_names(
        self, snap_a: dict[str, Any], snap_b: dict[str, Any]
    ) -> dict[str, str | None] | None:
        """For aligning a version-A read (A-logical names) to version B's
        schema: map each B-logical name to its A-logical name by field id
        (None = the field did not exist at A).  Returns None when the
        by-name alignment is already correct (no rename/drop between)."""
        ma = self._meta_of(snap_a, int(snap_a["schema_id"]))
        mb = self._meta_of(snap_b, int(snap_b["schema_id"]))
        a_by_id = {m["id"]: m["name"] for m in ma}
        out = {m["name"]: a_by_id.get(m["id"]) for m in mb}
        if all(src == name or src is None and name not in {m["name"] for m in ma}
               for name, src in out.items()):
            return None
        return out

    def _annotated_schema_json(
        self, snap: dict[str, Any], new_schema: T.StructType
    ) -> list[dict[str, Any]]:
        """Schema JSON for an evolved (add/widen) schema, carrying field
        ids and physical names: existing names inherit their identity, new
        names get a fresh id and a collision-free physical name."""
        prev = {
            m["name"]: m for m in self._meta_of(snap, int(snap["schema_id"]))
        }
        used = _used_pnames(snap)
        next_id = 0
        for s in snap["schemas"]:
            for m in self._meta_of(snap, int(s)):
                next_id = max(next_id, m["id"] + 1)
        fields = []
        for f in new_schema.fields:
            tname = _type_name(f.dataType)
            if f.name in prev:
                m = prev[f.name]
                fields.append(
                    {"name": f.name, "type": tname, "id": m["id"], "pname": m["pname"]}
                )
            else:
                fid = next_id
                next_id += 1
                pname = f.name if f.name not in used else f"{f.name}_{fid}"
                used.add(pname)
                fields.append(
                    {"name": f.name, "type": tname, "id": fid, "pname": pname}
                )
        return fields

    def _reject_constrained(self, name: str, action: str) -> None:
        cons = self._constraints()
        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(name)}(?![A-Za-z0-9_])")
        for cname, expr in cons.items():
            if pat.search(expr):
                raise SchemaEvolutionError(
                    f"cannot {action} column {name}: referenced by CHECK "
                    f"constraint {cname} ({expr!r}) — DROP CONSTRAINT first"
                )

    def _col_list_props_updated(
        self, snap: dict[str, Any], old: str, new: str | None
    ) -> None:
        """Rewrite column-list table properties (stats_cols, zorder_by)
        in place on ``snap`` after a rename (new=name) or drop (new=None)."""
        props = snap.get("properties") or {}
        for key in ("stats_cols", "zorder_by"):
            raw = props.get(key)
            if raw is None:
                continue
            cols = [c for c in str(raw).split(",") if c]
            if old not in cols:
                continue
            cols = [
                (new if c == old else c) for c in cols if not (c == old and new is None)
            ]
            props[key] = ",".join(cols)
        snap["properties"] = props

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE ... RENAME COLUMN — metadata-only (Iceberg/Delta
        column-mapping semantics).  The field keeps its id and physical
        name, so no data file, stats entry, bloom sidecar, or stored CDF
        file is touched; old snapshots time-travel under their own names.
        Key columns may be renamed (identity is the field id, and bucket
        hashing / bloom probes are value-level).  Columns referenced by a
        CHECK constraint must have the constraint dropped first."""
        cur = self.snapshot
        metas = self._meta_of(cur, int(cur["schema_id"]))
        names = [m["name"] for m in metas]
        if old not in names:
            raise SchemaEvolutionError(f"no such column: {old}")
        if new in names:
            raise SchemaEvolutionError(f"column already exists: {new}")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise SchemaEvolutionError(f"invalid column name: {new!r}")
        self._reject_constrained(old, "rename")
        snap = json.loads(json.dumps(cur))
        sid = int(snap["schema_id"]) + 1
        snap["schema_id"] = sid
        snap["schemas"][str(sid)] = [
            {
                "name": new if m["name"] == old else m["name"],
                "type": m["type"],
                "id": m["id"],
                "pname": m["pname"],
            }
            for m in metas
        ]
        snap["key_cols"] = [new if k == old else k for k in snap["key_cols"]]
        self._col_list_props_updated(snap, old, new)
        self._commit_op(
            snap, {"mode": "none"},  # metadata-only: no row changed
            "rename_column", f"rename-{uuid.uuid4().hex[:8]}",
            column=old, to=new,
        )

    def drop_column(self, name: str) -> None:
        """ALTER TABLE ... DROP COLUMN — metadata-only.  The field id is
        retired; data files keep the physical column but every read path
        projects by id, so the values are unreachable (and a later ADD
        COLUMN reusing the logical name gets a fresh id + physical name —
        old data can never leak into it).  Key columns cannot be dropped."""
        cur = self.snapshot
        metas = self._meta_of(cur, int(cur["schema_id"]))
        if name not in [m["name"] for m in metas]:
            raise SchemaEvolutionError(f"no such column: {name}")
        if name in cur["key_cols"]:
            raise SchemaEvolutionError(f"cannot drop key column: {name}")
        if len(metas) == 1:
            raise SchemaEvolutionError("cannot drop the only column")
        self._reject_constrained(name, "drop")
        snap = json.loads(json.dumps(cur))
        sid = int(snap["schema_id"]) + 1
        snap["schema_id"] = sid
        snap["schemas"][str(sid)] = [
            {"name": m["name"], "type": m["type"], "id": m["id"], "pname": m["pname"]}
            for m in metas
            if m["name"] != name
        ]
        self._col_list_props_updated(snap, name, None)
        self._commit_op(
            snap, {"mode": "none"}, "drop_column",
            f"dropcol-{uuid.uuid4().hex[:8]}", column=name,
        )

    def evolve_schema(self, new_schema: T.StructType) -> bool:
        """ALTER TABLE: add columns / widen types.  Returns True if changed.

        Mirrors the reference's implicit evolution ("new YAML config ⇒ new
        summary columns", reference pipeline/lib/summary/summary_merger.py:
        196-250) but makes it an explicit, validated registry step: drops
        and narrowings are rejected, old data files are never rewritten.
        """
        cur = {f.name: _type_name(f.dataType) for f in self.schema.fields}
        new = {f.name: _type_name(f.dataType) for f in new_schema.fields}
        for name, t_cur in cur.items():
            if name not in new:
                raise SchemaEvolutionError(f"column drop not allowed: {name}")
            t_new = new[name]
            if t_new != t_cur and (t_cur, t_new) not in _WIDENINGS:
                raise SchemaEvolutionError(
                    f"illegal type change {name}: {t_cur} -> {t_new}"
                )
        for name, t_new in new.items():
            # ADDED columns get type-validated too — committing an
            # unsupported type would brick the table at next read
            if name not in cur and t_new not in _ATOMIC_TYPES:
                raise SchemaEvolutionError(
                    f"unsupported type for new column {name}: {t_new}"
                )
        if new == cur:
            return False
        annotated = self._annotated_schema_json(self.snapshot, new_schema)
        snap = json.loads(json.dumps(self.snapshot))
        sid = snap["schema_id"] + 1
        snap["schema_id"] = sid
        snap["schemas"][str(sid)] = annotated
        snap["changes"] = {"mode": "none"}  # metadata-only: no row changed
        self._commit(snap)
        return True

    # ------------------------------------------------------------------ #
    # read path
    # ------------------------------------------------------------------ #
    def _align(
        self,
        df: DataFrame,
        target: T.StructType,
        with_lsn: bool,
        with_deleted: bool = False,
        extra_cols: list[str] | None = None,
        source_names: dict[str, str | None] | None = None,
    ) -> DataFrame:
        """Project/cast ``df`` to ``target`` (null-fill missing columns).

        ``source_names`` maps each target LOGICAL column to the name it
        carries in ``df`` (physical name for raw file scans, the
        other snapshot's logical name for cross-version alignment); an
        absent or ``None`` entry null-fills even when an identically-named
        — but different-identity — column exists in ``df`` (the dropped-
        then-readded case).  ``None`` keeps the by-name behavior every
        rename-free table uses."""
        cols = []
        have = set(df.columns)
        for f in target.fields:
            src = source_names.get(f.name) if source_names is not None else f.name
            if src is not None and src in have:
                cols.append(F.col(src).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        if with_lsn:
            cols.append(
                (F.col(LSN_COL) if LSN_COL in have else F.lit(None)).cast("long").alias(LSN_COL)
            )
        if with_deleted:
            cols.append(
                F.coalesce(
                    F.col(DELETED_COL) if DELETED_COL in have else F.lit(None).cast("boolean"),
                    F.lit(False),
                ).alias(DELETED_COL)
            )
        for c in extra_cols or []:
            cols.append(F.col(c))
        return df.select(*cols)

    def _empty(self, with_lsn: bool, target: T.StructType | None = None) -> DataFrame:
        target = target if target is not None else self.schema
        fields = list(target.fields)
        if with_lsn:
            fields = fields + [T.StructField(LSN_COL, T.LongType(), True)]
        return self.spark.createDataFrame([], T.StructType(fields))

    def read(
        self,
        buckets: set[int] | None = None,
        with_lsn: bool = False,
        version: int | None = None,
        prune: dict | None = None,
        _only_paths: set[str] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Scan the current snapshot, optionally pruned to a bucket subset.

        Files written under older schema ids are read in per-schema groups
        and aligned (cast / null-fill) to the current schema — the Iceberg
        read-time projection model, no data rewrite on evolution.

        ``version`` time-travels to an older snapshot (immutable manifests
        + immutable data files make every retained version readable).

        ``prune`` skips data files by manifest min/max stats: a dict of
        column → scalar (equality) or (lo, hi) inclusive range (None =
        open bound).  This is FILE SKIPPING, not filtering — the scan
        returns a superset of matching rows and the caller still applies
        the row filter; pruning only guarantees no file that could hold a
        match is dropped.  When delta files are present (MOR), only KEY
        columns participate: a non-key column can change between a base
        row and its newer delta version, so pruning on it could drop the
        file holding the latest version and resurrect a stale row; key
        columns are immutable per row, so every version of a key prunes
        identically.  Sorting within buckets by key (the write path
        already does) is what makes key-range skipping effective —
        bucket-pruning picks the bucket, stats-pruning picks files inside
        it.

        ``columns`` projects the result to a subset (column pruning): the
        projection is applied UNDER the union/alignment, so Catalyst
        prunes the parquet scan itself (ReadSchema carries only the
        requested columns + whatever the MOR resolution internally needs
        — keys, LSN, tombstone flag — which are dropped again at the
        end).  On a wide table this is the difference between scanning 2
        columns and scanning 50.
        """
        snap = self.snapshot if version is None else self.snapshot_at(version)
        target = (
            self.schema
            if version is None
            else schema_from_json(snap["schemas"][str(snap["schema_id"])])
        )
        has_deltas = any(
            fobj.get("delta", False)
            for b, files in snap["buckets"].items()
            if buckets is None or int(b) in buckets
            for fobj in files
        )
        eff_prune = prune
        if prune and has_deltas:
            eff_prune = {c: p for c, p in prune.items() if c in snap["key_cols"]}
        # logical → physical translation (column mapping): stats keys and
        # file columns are PHYSICAL names; identity (None) for every
        # rename-free table
        pmap = self._pnames_of(snap) if self._mapped(snap) else None
        eff_prune = self._pprune(snap, eff_prune)
        target_names = [f.name for f in target.fields]
        eq_entries = self._scoped(snap, "eqdel", buckets)
        if columns is not None:
            missing = [c for c in columns if c not in target_names]
            if missing:
                raise ValueError(f"columns not in schema: {missing}")
            # MOR resolution groups on the keys, so they ride internally
            # even when not requested (dropped again at the end); a pure
            # base-file scan needs only what was asked for
            # the MOR fold groups on the keys, and equality-delete kills
            # MATCH on them — both ride internally even when not
            # requested (dropped again at the end)
            keep_set = set(columns) | (
                set(snap["key_cols"]) if (has_deltas or eq_entries) else set()
            )
            keep = [c for c in target_names if c in keep_set]
        else:
            keep = target_names
        internal = [*keep, LSN_COL] + ([DELETED_COL] if has_deltas else [])
        final_cols = (list(columns) if columns is not None else target_names) + (
            [LSN_COL] if with_lsn else []
        )
        by_schema: dict[int, list[str]] = {}
        dv_hot: set[str] = set()  # files carrying dead (dv-killed) rows
        for b, files in snap["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            for fobj in files:
                if _only_paths is not None and fobj["path"] not in _only_paths:
                    # internal file-set restriction (table_changes): the
                    # caller has proven by manifest comparison that the
                    # excluded files cannot contribute to its result
                    continue
                if eff_prune and not self._stats_admit(fobj, eff_prune):
                    continue
                abs_path = os.path.join(self.root, fobj["path"])
                by_schema.setdefault(fobj["schema_id"], []).append(abs_path)
                if fobj.get("dv_rows"):
                    dv_hot.add(abs_path)
        if not by_schema:
            return self._empty(with_lsn, target).select(*final_cols)
        # deletion vectors in scope: per-commit (file, row_index) kill
        # lists covering any requested bucket.  Applied as ONE positional
        # anti-join under the union — the fold-free read that makes dv
        # merges pay no per-key resolution tax (cf. the MOR branch below)
        dv_entries = self._scoped(snap, "dv", buckets)
        dv_cols = ["_dv_file", "_dv_pos"] if dv_entries else []
        parts = []
        parts_dv = []
        for sid, all_paths in sorted(by_schema.items()):
            # each file group's schema is KNOWN from the manifest — pass it
            # explicitly so the read plans with zero footer-inference work
            # (measured ~0.5s per inference on 64 files; read() runs
            # multiple times per MERGE, so inference was a top per-batch
            # fixed cost).  DELETED_COL exists only in MOR delta files;
            # listing it in the schema null-fills it on base files (one
            # code path, coalesced to false in _align).
            # PHYSICAL names: identical to logical until a rename/drop
            # lands (pschema_from_meta == schema_from_json then)
            file_schema = T.StructType(
                list(pschema_from_meta(self._meta_of(snap, sid)).fields)
                + [
                    T.StructField(LSN_COL, T.LongType(), True),
                    T.StructField(DELETED_COL, T.BooleanType(), True),
                ]
            )
            # files with no dead rows bypass the positional anti-join
            # entirely (and never materialize _metadata) — on a table
            # whose updates are skewed, most files stay on this leg
            hot = [p for p in all_paths if p in dv_hot] if dv_entries else []
            clean = (
                [p for p in all_paths if p not in dv_hot]
                if dv_entries
                else all_paths
            )
            if clean:
                raw = self.spark.read.schema(file_schema).parquet(*clean)
                parts.append(
                    self._align(
                        raw,
                        target,
                        with_lsn=True,
                        with_deleted=has_deltas,
                        source_names=pmap,
                    ).select(*internal)
                )
            if hot:
                # data-file rel paths are exactly 4 components
                # (data/w-*/_bucket=*/part-*.parquet — asserted at dv
                # write time), so the uri→rel normalization is ONE
                # right-anchored substring_index per row, not a regexp —
                # this runs on every scanned row of the dv-bearing leg
                raw = self.spark.read.schema(file_schema).parquet(*hot)
                raw = raw.select(
                    "*",
                    F.substring_index(
                        F.col("_metadata.file_path"), "/", -4
                    ).alias("_dv_file"),
                    F.col("_metadata.row_index").alias("_dv_pos"),
                )
                parts_dv.append(
                    self._align(
                        raw,
                        target,
                        with_lsn=True,
                        with_deleted=has_deltas,
                        extra_cols=dv_cols,
                        source_names=pmap,
                    ).select(*internal, *dv_cols)
                )
        if parts_dv:
            hot_df = _union_all(parts_dv)
            parts.append(
                hot_df.join(
                    self._dead_positions(dv_entries), ["_dv_file", "_dv_pos"], "left_anti"
                ).drop("_dv_file", "_dv_pos")
            )
        df = _union_all(parts)
        if eq_entries:
            # equality deletes: a row version dies when some recorded key
            # tuple matches it at a delete LSN at or above the row's own.
            # Applied BEFORE any MOR fold — killing every version at or
            # below the delete's LSN is exactly the delete-barrier
            # semantics (a later upsert, higher LSN, survives and
            # resolves normally; partial-image columns can no longer
            # inherit through the barrier because the older occurrences
            # are gone).  One anti-join per scan until compact() retires
            # the entries.
            keys = snap["key_cols"]
            df = df.join(
                self._eq_delete_keys(snap, eq_entries, target),
                (df[LSN_COL] <= F.col("_eq_lsn"))
                & _key_match([df[k] for k in keys], "_eqk_"),
                "left_anti",
            )
        if has_deltas:
            keys = snap["key_cols"]
            if snap.get("properties", {}).get("partial_updates"):
                # PARTIAL-image MOR resolution: delta rows are partial
                # (null = unchanged), so latest-LSN-whole-row would emit
                # nulls as values.  Resolve per COLUMN instead — the same
                # fold prepare_batch_partial applies to batches, here over
                # (base row + delta versions): latest delete LSN is the
                # inheritance barrier; each column takes its latest
                # non-null live occurrence after it.  Still ONE map-side-
                # combinable aggregate on the key.
                nk = [
                    c
                    for c in df.columns
                    if c not in keys and c not in (LSN_COL, DELETED_COL)
                ]
                dl_agg, ul_agg, per_col = _partial_fold_aggs(
                    ~F.col(DELETED_COL), F.col(LSN_COL), {c: F.col(c) for c in nk}
                )
                folded = df.groupBy(*keys).agg(
                    dl_agg, ul_agg, F.max(F.col(LSN_COL)).alias("_maxl"), *per_col
                )
                dl = F.coalesce(F.col("_dl"), F.lit(-(2 ** 62)).cast("long"))
                df = folded.filter(
                    F.col("_ul").isNotNull() & (F.col("_ul") > dl)
                ).select(
                    *keys,
                    *[
                        F.when(F.col(f"_l_{c}") > dl, F.col(f"_v_{c}")).alias(c)
                        for c in nk
                    ],
                    F.col("_maxl").alias(LSN_COL),
                )
            else:
                # merge-on-read resolution: delta files carry newer row
                # versions + tombstones alongside the base files, so the
                # scan resolves latest-LSN-per-key and drops tombstones —
                # the same map-side-combinable max_by aggregate the write
                # path uses.  One shuffle on the key: the MOR read tax
                # (compact() folds deltas back into base files to repay
                # it; at scale the bucket layout bounds each key's rows to
                # one bucket, so a bucket-local sort-merge resolution is
                # the physical upgrade)
                payload = F.struct(
                    *[F.col(c) for c in df.columns if c not in keys]
                )
                df = (
                    df.groupBy(*keys)
                    .agg(F.max_by(payload, F.col(LSN_COL)).alias("_p"))
                    .select(*keys, "_p.*")
                    .filter(~F.col(DELETED_COL))
                    .drop(DELETED_COL)
                )
        return df.select(*final_cols)

    # -- kill sets: shared by read() and the DV position scan ----------- #
    @staticmethod
    def _scoped(snap: dict[str, Any], kind: str, buckets: set[int] | None) -> list[dict]:
        """The snapshot's ``kind`` ("dv" / "eqdel") entries covering any
        of ``buckets`` (None = all)."""
        return [
            e
            for e in snap.get(kind, [])
            if buckets is None or set(e.get("buckets", [])) & buckets
        ]

    def _kill_set(self, df: DataFrame, entries: list[dict]) -> DataFrame:
        # small dead-set: ship it to every task instead of shuffling the
        # scan.  Measured crossover: building a multi-million-row
        # broadcast hash relation costs more than shuffling both sides
        # (6-10s vs 1.7-2.3s at 3.6M dead / 8.2M scanned), so large dead
        # sets take the shuffle-hash path — never sort-merge, the dead
        # set is always the small side
        if sum(int(e.get("rows", 0)) for e in entries) <= self.DV_BROADCAST_ROWS:
            return F.broadcast(df)
        return df.hint("shuffle_hash")

    def _dead_positions(self, entries: list[dict]) -> DataFrame:
        """Deletion-vector kill set ``(_dv_file, _dv_pos)`` of ``entries``,
        for a left-anti join on those two columns."""
        dv = self.spark.read.parquet(
            *[os.path.join(self.root, p) for e in entries for p in e["files"]]
        ).select(F.col("file").alias("_dv_file"), F.col("pos").alias("_dv_pos"))
        return self._kill_set(dv, entries)

    def _eq_delete_keys(
        self, snap: dict[str, Any], entries: list[dict], target: T.StructType
    ) -> DataFrame:
        """Equality-delete kill set of ``entries``: the recorded key tuples
        as ``_eqk_0..n`` plus their delete LSN ``_eq_lsn`` — a row version
        dies when its key matches null-safely at a delete LSN at or above
        its own."""
        keys = snap["key_cols"]
        # equality-delete files hold PHYSICAL key names
        pmk = self._pnames_of(snap) if self._mapped(snap) else {}
        key_schema = T.StructType(
            [
                T.StructField(pmk.get(f.name, f.name), f.dataType, True)
                for f in target.fields
                if f.name in set(keys)
            ]
        )
        eq = _union_all(
            [
                self.spark.read.schema(key_schema)
                .parquet(*[os.path.join(self.root, p) for p in e["files"]])
                .select(
                    *[F.col(pmk.get(k, k)).alias(f"_eqk_{i}") for i, k in enumerate(keys)],
                    F.lit(int(e["lsn"])).cast("long").alias("_eq_lsn"),
                )
                for e in entries
            ],
        )
        return self._kill_set(eq, entries)

    # ------------------------------------------------------------------ #
    # write path
    # ------------------------------------------------------------------ #
    def _bucket_expr(self) -> F.Column:
        # xxhash64 is seed-stable across sessions/executors → deterministic
        # bucket assignment, the precondition for metadata-only pruning.
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.snapshot["n_buckets"])).cast("int")

    def bucket_expr(self) -> F.Column:
        """This table's bucket assignment as a Column expression —
        attach it as `_bucket` on a change-event DataFrame before
        `df.write.format("laketable")` to skip the writer tasks'
        per-row Python hash (the JVM fast path, lake/writer.py)."""
        return self._bucket_expr()

    def _write_bucket_files(
        self,
        df: DataFrame,
        schema_id: int,
        pre_bucketed: bool = False,
        sort_cols: list[str] | None = None,
        drop_after_sort: list[str] | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict[str, list[dict]]:
        """Write df (must carry ``_bucket``) partitioned by bucket; return
        the bucket→files mapping for the manifest.

        ``pre_bucketed=True`` skips the repartition shuffle — the caller
        guarantees partitions are already bucket-clustered well enough
        (e.g. rows read straight from bucket files); the dynamic-partition
        writer splits by ``_bucket`` value regardless, so correctness never
        depends on the layout, only file counts do.

        ``sort_cols`` overrides the within-file ordering (default: the key
        columns — what makes key-range stats skipping effective).  The
        z-order rewrite passes its interleaved curve value instead; the
        sort always LEADS with ``_bucket`` so the dynamic-partition writer
        sees data grouped by partition value and never inserts its own
        re-sort (which would scramble the requested order)."""
        out_rel = os.path.join("data", f"w-{uuid.uuid4().hex}")
        out_abs = os.path.join(self.root, out_rel)
        n = self.snapshot["n_buckets"]
        if not pre_bucketed:
            df = df.repartition(min(n, 64), "_bucket")
        order = self.key_cols if sort_cols is None else sort_cols
        out = df.sortWithinPartitions("_bucket", *order)
        if drop_after_sort:
            # ephemeral sort keys (the z-order curve value) are dropped
            # after the sort — a Project above a Sort preserves the
            # partition-local row order, and the dynamic-partition writer
            # sees the plan still ordered by ``_bucket`` so it adds no
            # re-sort of its own
            out = out.drop(*drop_after_sort)
        stats_cols = self._stats_cols() if stats_cols is None else stats_cols
        if self._mapped(self.snapshot):
            # column mapping active: files are written under PHYSICAL
            # names (a Project above the Sort — order preserved); system
            # and ephemeral columns pass through untouched.  Stats keys
            # follow the physical names so a later rename never orphans
            # them.
            pm = self._pnames_of(self.snapshot)
            out = out.select(
                *[
                    F.col(c).alias(pm[c]) if c in pm else F.col(c)
                    for c in out.columns
                ]
            )
            stats_cols = [pm.get(c, c) for c in stats_cols]
        out.write.partitionBy("_bucket").parquet(out_abs)
        mapping: dict[str, list[dict]] = {}
        for entry in sorted(os.listdir(out_abs)):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            files = []
            bdir = os.path.join(out_abs, entry)
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    fobj = {
                        "path": os.path.join(out_rel, entry, fn),
                        "schema_id": schema_id,
                    }
                    # one footer open yields BOTH the skipping stats and
                    # the row count (so _files_rows never re-reads footers
                    # for freshly written files)
                    st, nrows = self._file_column_stats(
                        os.path.join(bdir, fn), stats_cols
                    )
                    if st:
                        fobj["stats"] = st
                    fobj["rows"] = nrows
                    files.append(fobj)
            if files:
                mapping[b] = files
        bloom_bits = int(
            self.snapshot.get("properties", {}).get("file_blooms", 0)
        )
        if bloom_bits > 0 and mapping:
            self._attach_blooms(out_abs, mapping, bloom_bits)
        return mapping

    def _write_change_files(self, changes: DataFrame, n_keys: int) -> list[str]:
        """Persist one commit's change rows (write-time CDF, the Delta
        Lake ``_change_data`` shape): data columns + ``_lsn`` +
        ``_change_type`` in {insert, update_preimage, update_postimage,
        delete}.  Sized O(batch), never O(table) — the property that
        lets ``table_changes`` answer a feed request by reading these
        files instead of diffing two snapshots (which costs a scan of
        every REWRITTEN file, 250x more rows than changed in the
        measured steady state)."""
        # change sets are batch-sized: collapse to few files so the read
        # side stays one-task-per-commit at CDC batch sizes
        return self._write_side_files(
            changes, "changes", max(1, min(32, n_keys // 500_000 + 1))
        )

    def _write_side_files(
        self, df: DataFrame, subdir: str, n_files: int, physical: bool = True
    ) -> list[str]:
        """Write ``df`` as ``n_files`` parquet files into a fresh
        ``<subdir>/<initial>-<uuid>/`` directory (``changes/c-…``,
        ``dv/d-…``, ``eqdel/e-…``); return their table-relative paths."""
        out_rel = os.path.join(subdir, f"{subdir[0]}-{uuid.uuid4().hex}")
        out_abs = os.path.join(self.root, out_rel)
        if physical and self._mapped(self.snapshot):
            # column-named sidecars (change rows, equality-delete keys)
            # live in PHYSICAL name space like data files — a later
            # rename must not strand them
            pm = self._pnames_of(self.snapshot)
            df = df.select(
                *[F.col(c).alias(pm[c]) if c in pm else F.col(c) for c in df.columns]
            )
        df.repartition(n_files).write.parquet(out_abs)
        return [
            os.path.join(out_rel, fn)
            for fn in sorted(os.listdir(out_abs))
            if fn.endswith(".parquet")
        ]

    # ------------------------------------------------------------------ #
    # per-file column stats (Iceberg-style data skipping)
    # ------------------------------------------------------------------ #
    def _stats_cols(self) -> list[str]:
        """Columns whose min/max are recorded per data file in the
        manifest.  Table property ``stats_cols`` (comma-separated), default
        key columns + LSN — the two prune dimensions every CDC read wants
        (point/range key lookups; incremental since-LSN scans)."""
        prop = self.snapshot.get("properties", {}).get("stats_cols")
        if prop is not None:
            return [c for c in str(prop).split(",") if c]
        return [*self.key_cols, LSN_COL]

    @staticmethod
    def _file_column_stats(
        path: str, cols: list[str]
    ) -> tuple[dict[str, list], int]:
        """(min/max per requested column, row count) from one parquet
        footer read — the writer-side stats collection Iceberg does in
        its manifests.  Here the writer is the driver, so the footer is
        re-opened locally; on a real cluster this rides the task commit
        message instead.  Columns with unusable stats (no min/max,
        non-scalar types) are simply absent — absence always means
        "cannot prune"."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        agg: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                name = col.path_in_schema
                if name not in cols:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    agg.pop(name, None)
                    cols = [c for c in cols if c != name]  # poison: some
                    # row group lacks stats -> the file bound is unknown
                    continue
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    try:
                        lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                    except UnicodeDecodeError:
                        continue
                if not isinstance(lo, (str, int, float, bool)):
                    continue
                if name in agg:
                    agg[name] = [min(agg[name][0], lo), max(agg[name][1], hi)]
                else:
                    agg[name] = [lo, hi]
        return agg, md.num_rows

    # ------------------------------------------------------------------ #
    # per-file key Bloom filters (point-lookup / point-update skipping)
    # ------------------------------------------------------------------ #
    # Min/max key stats skip files only when the probe key set is RANGE-
    # local; hash-scattered point updates and point lookups span every
    # file's range and defeat them.  A per-file Bloom filter over the key
    # tuple closes that gap: a file whose bloom rejects every probe key
    # provably holds no row (or row version) for any of them.  Opt-in via
    # table property ``file_blooms = <bits per file>`` (0/absent = off);
    # k = 4 independently seeded probes: hash_i = xxhash64(keys…, i),
    # pos_i = pmod(hash_i, m) — no arithmetic that can overflow under
    # ANSI mode, and the raw hashes are m-agnostic so one probe collect
    # serves files with different bloom sizes.  False positives only cost
    # an unnecessary read; false negatives cannot occur; a saturated
    # bloom admits everything (degraded = safe).
    BLOOM_K = 4

    def _bloom_hash_exprs(
        self, k: int = BLOOM_K, cols: list[str] | None = None
    ) -> list[F.Column]:
        # cols overrides the key columns for scans in PHYSICAL name space
        # (freshly written files under column mapping); the hash covers
        # the same VALUES either way, so sidecars and probes always agree
        return [
            F.xxhash64(*(cols or self.key_cols), F.lit(i)).alias(f"_bh_{i}")
            for i in range(k)
        ]

    def _bloom_pos_expr(
        self, m: int, k: int = BLOOM_K, cols: list[str] | None = None
    ) -> F.Column:
        return F.array(
            *[
                F.pmod(h, F.lit(m)).cast("int")
                for h in self._bloom_hash_exprs(k, cols)
            ]
        )

    def _attach_blooms(
        self, out_abs: str, mapping: dict[str, list[dict]], m: int
    ) -> None:
        """One column-pruned pass over the just-written files builds every
        file's bloom (explode k positions → per-(file, word) bit_or) —
        O(written rows), never O(table).

        The bitset lives in a ``<file>.bloom`` SIDECAR next to the
        parquet, not in the manifest: a right-sized bloom is ~10 bits/key
        (tens of KB per file), and manifests are deep-copied + fsynced on
        every commit — inlining the bits made commits O(table-bloom-bytes)
        per merge (measured 2-4× merge slowdown at m=256Ki).  A missing
        sidecar (crash between write and commit never happens — sidecars
        land before the manifest — but a manually deleted one might)
        degrades to admit-the-file: sound.

        The sidecars are WRITTEN EXECUTOR-SIDE: a grouped-map over the
        per-(file, word) bitset rows — one group per data file — packs
        and writes that file's sidecar to the table root (the same
        shared filesystem/object store the parquet write itself already
        targets), and only the written file PATHS return to the driver
        (O(#files), the same order as the manifest it must update).  No
        per-file bitset words ever cross to the driver."""
        import struct as _struct

        n_words = (m + 63) // 64
        root = self.root
        bloom_k = self.BLOOM_K

        def _write_sidecar(pdf):
            import os as _os
            import struct as _s

            import pandas as _pd

            p = str(pdf["_f"].iloc[0])
            if p.startswith("file:"):
                p = p[5:]
                while p.startswith("//"):
                    p = p[1:]
            rel = _os.path.relpath(p, root)
            words = dict(
                zip(pdf["_w"].astype("int64"), pdf["_bits"].astype("int64"))
            )
            packed = _s.pack(
                f"<{n_words}q", *[int(words.get(i, 0)) for i in range(n_words)]
            )
            with open(_os.path.join(root, rel + ".bloom"), "wb") as fh:
                fh.write(packed)
            return _pd.DataFrame({"path": [rel]})

        written = {
            r["path"]
            for r in (
                self.spark.read.parquet(out_abs)
                .select(
                    F.input_file_name().alias("_f"),
                    F.explode(
                        self._bloom_pos_expr(
                            m,
                            cols=(
                                # just-written files hold PHYSICAL names
                                [
                                    self._pnames_of(self.snapshot)[k]
                                    for k in self.key_cols
                                ]
                                if self._mapped(self.snapshot)
                                else None
                            ),
                        )
                    ).alias("_p"),
                )
                .groupBy("_f", (F.col("_p") / 64).cast("int").alias("_w"))
                .agg(
                    F.bit_or(
                        F.expr("shiftleft(CAST(1 AS BIGINT), pmod(_p, 64))")
                    ).alias("_bits")
                )
                .groupBy("_f")
                .applyInPandas(_write_sidecar, "path string")
                .collect()
            )
        }
        empty = _struct.pack(f"<{n_words}q", *([0] * n_words))
        for files in mapping.values():
            for fobj in files:
                if fobj["path"] not in written:
                    # zero-row file: an all-zero bloom rejects every probe
                    # — correct, and written driver-side (rare + tiny)
                    with open(
                        os.path.join(self.root, fobj["path"] + ".bloom"), "wb"
                    ) as fh:
                        fh.write(empty)
                fobj["bloom"] = {"m": m, "k": bloom_k}

    @staticmethod
    def _bloom_contains(
        bloom: dict, words: tuple[int, ...], hashes: tuple[int, ...]
    ) -> bool:
        """Driver-side membership test; ``pmod`` of a signed 64-bit hash
        by a positive m matches Python's ``%`` exactly."""
        m, k = int(bloom["m"]), int(bloom["k"])
        for i in range(k):
            p = hashes[i] % m
            w = words[p // 64] & 0xFFFFFFFFFFFFFFFF
            if not (w >> (p % 64)) & 1:
                return False
        return True

    @staticmethod
    def _bloom_reject(
        root: str, fobj: dict, probes: list[tuple[int, ...]] | None
    ) -> bool:
        """True when the file's ``.bloom`` sidecar (under table ``root``)
        proves NO probe key is present.  Missing bloom, sidecar or probes
        never reject (sound default)."""
        import struct as _struct

        bloom = fobj.get("bloom")
        if not probes or not bloom:
            return False
        try:
            with open(os.path.join(root, fobj["path"] + ".bloom"), "rb") as fh:
                raw = fh.read()
        except OSError:
            return False
        words = _struct.unpack(f"<{len(raw) // 8}q", raw)
        return not any(
            LakeTable._bloom_contains(bloom, words, hs) for hs in probes
        )

    def _pprune(self, snap: dict[str, Any], prune: dict | None) -> dict | None:
        """Translate a logical-name prune dict to physical stats keys
        (identity for every rename-free table)."""
        if not prune or not self._mapped(snap):
            return prune
        pm = self._pnames_of(snap)
        return {pm.get(c, c): p for c, p in prune.items()}

    @staticmethod
    def _stats_admit(fobj: dict, prune: dict) -> bool:
        """True when the file may contain rows matching every prune
        predicate.  A missing stats entry admits the file (never unsound);
        predicate forms: scalar (equality) or (lo, hi) with None = open."""
        stats = fobj.get("stats") or {}
        for col, pred in prune.items():
            if col not in stats:
                continue
            fmin, fmax = stats[col]
            lo, hi = pred if isinstance(pred, (tuple, list)) else (pred, pred)
            if lo is not None and fmax < lo:
                return False
            if hi is not None and fmin > hi:
                return False
        return True

    def overwrite(self, df: DataFrame, lsn: int = 0, reset_ledger: bool = False) -> None:
        """Full rewrite (the reference's only persistence mode).

        The LSN ledger never REGRESSES implicitly: the new watermark is
        max(current, lsn) unless ``reset_ledger=True`` — otherwise an
        overwrite with the default lsn=0 would re-open the exactly-once
        gate and let already-applied WAL batches re-merge on top of the
        overwritten state."""
        snap = json.loads(json.dumps(self.snapshot))
        df = self._align(df, self.schema, with_lsn=False)
        self._enforce_constraints(df, "overwrite data")
        staged = df.withColumn(LSN_COL, F.lit(lsn).cast("long")).withColumn(
            "_bucket", self._bucket_expr()
        )
        mapping = self._write_bucket_files(staged, snap["schema_id"])
        snap["buckets"] = mapping
        snap.pop("dv", None)  # full replace: no prior positions survive
        snap.pop("eqdel", None)
        snap["bucket_rows"] = {b: self._files_rows(f) for b, f in mapping.items()}
        cur = snap["ledger"]["applied_lsn"]
        snap["ledger"]["applied_lsn"] = lsn if reset_ledger else max(cur, lsn)
        snap["changes"] = {"mode": "diff"}  # full replace: no per-row log
        self._commit(snap)

    # ------------------------------------------------------------------ #
    # MERGE INTO
    # ------------------------------------------------------------------ #
    # winner sets larger than this use shuffle reduction/resolution instead
    # of broadcast (a 10^8-winner batch cannot be broadcast); overridable
    # via table property "winner_broadcast_threshold"
    WINNER_BROADCAST_THRESHOLD = 2_000_000

    # dead-row sets larger than this take the shuffle-hash anti-join
    # instead of a broadcast (building a multi-million-row broadcast hash
    # relation costs more than shuffling both sides — measured in
    # scripts/bench_dv_modes.py)
    DV_BROADCAST_ROWS = 262_144

    def _winner_threshold(self) -> int:
        return int(
            self.snapshot.get("properties", {}).get(
                "winner_broadcast_threshold", self.WINNER_BROADCAST_THRESHOLD
            )
        )

    def _new_events(self, batch: DataFrame, lsn_col: str, applied: int) -> DataFrame:
        """The batch's events past the ``applied`` watermark, with the LSN
        as long and the key columns cast to their declared types."""
        target = self.schema
        batch = batch.withColumn(lsn_col, F.col(lsn_col).cast("long"))
        # KEY columns must be cast to the declared schema types BEFORE
        # anything hashes them: Spark's murmur3 is type-sensitive
        # (hash(0 as int) != hash(0 as bigint)), so an INT-typed key from
        # e.g. a SQL VALUES literal would bucket to the wrong file and
        # split the key's versions across buckets — found as a DELETE
        # that left its row behind.  Non-key columns are cast at the
        # payload projections.
        for k in self.key_cols:
            batch = batch.withColumn(k, F.col(k).cast(target[k].dataType))
        return batch.filter(F.col(lsn_col) > F.lit(applied))

    def prepare_batch(
        self,
        batch: DataFrame,
        lsn_col: str = "lsn",
        op_col: str = "op",
        min_lsn_exclusive: int | None = None,
        strategy: str = "auto",
        salt_partitions: int = 0,
    ) -> DataFrame:
        """Phase 1 of MERGE: reduce a change batch to one winner row per
        key, materialized (localCheckpoint).

        ``strategy`` picks the reduction plan (AQE-style, per batch):

        - ``broadcast`` (winners ≪ memory): winner lsn per key is
          aggregated over SLIM ``(key, lsn)`` columns only (map-side
          combinable, absorbs hot-key skew), then the winner set is
          broadcast-joined back against the batch to fetch payloads — the
          payload column is never shuffled during reduction, only once at
          the bucketed write.  Right when batch keys ≲ millions.
        - ``shuffle`` (winner set too large to broadcast): classic
          ``groupBy(keys).max_by(payload, lsn)`` hash aggregate — one full
          payload shuffle, but partial aggregation still reduces hot keys
          map-side.  Right for key-heavy batches (e.g. 10^8+ distinct
          keys per batch at 10^10-event scale).
        - ``auto`` (default — an unconditional broadcast OOMs the driver
          once a batch exceeds a few million keys): materializes the slim
          winner aggregate — which the broadcast path needs anyway, so
          the probe is ~free on the common path — counts it, and picks
          broadcast vs shuffle against the table's
          ``winner_broadcast_threshold``.

        Independent of table state except for the LSN watermark (which
        ``apply_prepared`` re-enforces at commit), so the NEXT batch's
        prepare can run concurrently with the CURRENT batch's apply —
        pipelined replay (CdcReplayer).
        """
        target = self.schema
        keys = self.key_cols
        applied = (
            min_lsn_exclusive
            if min_lsn_exclusive is not None
            else self.snapshot["ledger"]["applied_lsn"]
        )

        if strategy not in ("auto", "broadcast", "shuffle"):
            # a typo must not silently take the unconditional-broadcast
            # path this docstring warns about
            raise ValueError(f"invalid prepare strategy: {strategy}")

        new_events = self._new_events(batch, lsn_col, applied)

        have = set(new_events.columns)
        # payload columns, null-filled when the batch lacks them
        nk_payload = [
            (F.col(f.name) if f.name in have else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in target.fields
            if f.name not in keys
        ]
        data_cols = [f.name for f in target.fields]

        winners_slim = None
        if strategy == "auto":
            # slim (key, max lsn, n) aggregate — identical to the one the
            # broadcast path consumes; cache once (persist, NOT
            # localCheckpoint: persist goes through the cache manager so
            # the blocks are explicitly unpersistable), count for ~free,
            # and reuse it below if broadcast wins
            from pyspark import StorageLevel

            winners_slim = (
                new_events.groupBy(*keys)
                .agg(F.max(lsn_col).alias("_w_lsn"), F.count(F.lit(1)).alias("_n_events"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            strategy = (
                "broadcast" if winners_slim.count() <= self._winner_threshold() else "shuffle"
            )

        if strategy == "shuffle":
            if winners_slim is not None:
                # probe result is not consumed by this branch — free its
                # checkpointed blocks now instead of waiting for driver GC
                winners_slim.unpersist()
            payload = F.struct(F.col(op_col).alias("_op"), *nk_payload)
            src = new_events
            if salt_partitions > 1:
                # two-phase salted reduction for pathological hot keys: a
                # single key whose events exceed one reducer's capacity is
                # first reduced across `salt_partitions` reducers (salt =
                # hash(lsn) spreads its rows uniformly), then the ≤S
                # survivors per key meet in the final aggregate — the
                # north-rule's "key-salted upsert stage"
                salted = new_events.withColumn(
                    "_salt",
                    F.pmod(F.xxhash64(F.col(lsn_col)), F.lit(salt_partitions)),
                )
                src = (
                    salted.groupBy(*keys, "_salt")
                    .agg(
                        F.max_by(payload, F.col(lsn_col)).alias("_p"),
                        F.max(lsn_col).alias(lsn_col),
                        F.count(F.lit(1)).alias("_n_events"),
                    )
                    .select(
                        *keys,
                        F.col("_p._op").alias(op_col),
                        lsn_col,
                        *[F.col(f"_p.{c}").alias(c) for c in data_cols if c not in keys],
                        "_n_events",
                    )
                )
            n_col = "_n_events" if salt_partitions > 1 else None
            reduced = (
                src.groupBy(*keys)
                .agg(
                    F.max_by(payload, F.col(lsn_col)).alias("_p"),
                    F.max(lsn_col).alias(LSN_COL),
                    (
                        F.sum(n_col) if n_col else F.count(F.lit(1))
                    ).alias("_n_events"),
                )
                .select(
                    *keys,
                    "_p._op",
                    LSN_COL,
                    *[f"_p.{c}" for c in data_cols if c not in keys],
                    "_n_events",
                )
                .withColumn("_bucket", self._bucket_expr())
            )
            return reduced.localCheckpoint(eager=True)

        # broadcast strategy
        # 1) winner lsn per key over slim columns — the only wide agg, and
        #    it shuffles ~(keys + 8B), not the payload (reused from the
        #    auto probe when it already ran)
        is_cached_probe = winners_slim is not None
        if winners_slim is None:
            winners_slim = new_events.groupBy(*keys).agg(
                F.max(lsn_col).alias("_w_lsn"), F.count(F.lit(1)).alias("_n_events")
            )
        # 2) fetch winner payload rows via broadcast hash join (no shuffle
        #    of the batch side); duplicate (key, lsn) redeliveries collapse.
        #    NULL-SAFE key equality: groupBy keeps a null-key group, so a
        #    plain equi-join would silently drop null-key events here
        #    (and duplicate them at resolve) — eqNullSafe keeps the two
        #    paths consistent with shuffle-mode semantics
        ws = winners_slim.select(
            *[F.col(k).alias(f"_wk_{i}") for i, k in enumerate(keys)],
            "_w_lsn",
            "_n_events",
        )
        out = (
            new_events.join(
                F.broadcast(ws), _key_match([new_events[k] for k in keys], "_wk_"), "inner"
            )
            .drop(*[f"_wk_{i}" for i in range(len(keys))])
            .filter(F.col(lsn_col) == F.col("_w_lsn"))
            .dropDuplicates([*keys])
            .select(
                *keys,
                F.col(op_col).alias("_op"),
                F.col(lsn_col).alias(LSN_COL),
                *nk_payload,
                "_n_events",
            )
            .withColumn("_bucket", self._bucket_expr())
        ).localCheckpoint(eager=True)  # ~one row per key; reused 3x in apply
        if is_cached_probe:
            # eager checkpoint above already consumed the probe cache —
            # free its blocks now instead of waiting for driver GC
            winners_slim.unpersist()
        return out

    def prepare_batch_partial(
        self,
        batch: DataFrame,
        lsn_col: str = "lsn",
        op_col: str = "op",
    ) -> DataFrame:
        """Phase 1 of a PARTIAL-IMAGE merge: reduce a change batch where a
        NULL non-key column on an upsert means "unchanged" — the Debezium/
        Postgres-logical-replication shape (unchanged TOAST columns arrive
        as null in the update image) — to one winner row per key.

        Per-key, per-column semantics in ONE hash aggregate (no join,
        map-side combinable):

        - ``_dl``     = latest delete LSN (a delete logically re-creates
          the row: earlier upserts must not leak through it);
        - per column: the value of the latest NON-NULL occurrence among
          upserts, kept only if that occurrence is AFTER ``_dl``;
        - winner op  = delete iff no upsert survives the latest delete;
        - ``_reset`` = a delete occurred, so apply must NOT inherit the
          surviving nulls from the existing table row.

        Nulls that remain after this fold are resolved against the
        existing table row in ``apply_prepared(partial_update=True)``.
        """
        target = self.schema
        keys = self.key_cols
        applied = self.snapshot["ledger"]["applied_lsn"]
        new_events = self._new_events(batch, lsn_col, applied)
        data_cols = [f.name for f in target.fields if f.name not in keys]
        have = set(new_events.columns)
        is_up = F.col(op_col) != "delete"

        def _c(c: str) -> F.Column:
            col = F.col(c) if c in have else F.lit(None)
            return col.cast(target[c].dataType)

        dl_agg, ul_agg, per_col = _partial_fold_aggs(
            is_up, F.col(lsn_col), {c: _c(c) for c in data_cols}
        )
        folded = new_events.groupBy(*keys).agg(
            dl_agg,
            *per_col,
            ul_agg,
            F.max(F.col(lsn_col)).alias(LSN_COL),
            F.count(F.lit(1)).alias("_n_events"),
        )
        dl = F.coalesce(F.col("_dl"), F.lit(-(2 ** 62)).cast("long"))
        out = folded.select(
            *keys,
            # delete wins LSN ties (<=): the MOR read fold at _read_fold
            # keeps a key only when _ul > dl (strict), so the write-side
            # classification must agree or COW and MOR diverge on a
            # same-LSN upsert+delete pair
            F.when(
                F.col("_ul").isNull() | (F.col("_ul") <= dl), F.lit("delete")
            )
            .otherwise(F.lit("upsert"))
            .alias("_op"),
            F.col(LSN_COL),
            *[
                F.when(F.col(f"_l_{c}") > dl, F.col(f"_v_{c}"))
                .otherwise(F.lit(None).cast(target[c].dataType))
                .alias(c)
                for c in data_cols
            ],
            "_n_events",
            F.col("_dl").isNotNull().alias("_reset"),
            # the delete barrier LSN rides along: MOR mode materializes it
            # as a tombstone delta row so the read-side per-column fold
            # cannot inherit values from before the delete
            F.col("_dl"),
        ).withColumn("_bucket", self._bucket_expr())
        return out.localCheckpoint(eager=True)

    def merge(
        self,
        batch: DataFrame,
        lsn_col: str = "lsn",
        op_col: str = "op",
        batch_id: str | None = None,
        source_watermarks: dict[str, int] | None = None,
        extra_lineage: dict[str, Any] | None = None,
        count_batch: bool = False,
        strategy: str = "auto",
        salt_partitions: int = 0,
        applied_segments: list[str] | None = None,
        mode: str | None = None,
        partial_update: bool = False,
    ) -> MergeStats:
        """Latest-LSN-wins upsert of a change batch (ops: upsert-ish/delete).

        ``partial_update=True`` switches to partial-image semantics: a
        NULL non-key column on an upsert means "unchanged" (Debezium /
        Postgres TOAST shape) — see ``prepare_batch_partial``.  COW only.

        Exactly-once: rows with ``lsn <= ledger.applied_lsn`` are filtered
        out first, and the new ledger high-water-mark commits in the same
        snapshot as the data — at-least-once redelivery (including a full
        batch replay after a crash) is a no-op.

        Defaults are the scale-safe ones: no extra full-batch count pass
        (``count_batch=False`` — stats still come from the reduction agg)
        and ``strategy='auto'`` (probe-then-pick, never an unconditional
        broadcast of an unbounded winner set).
        """
        batch_total = batch.count() if count_batch else -1
        if self._constraints():
            # one combinable aggregate over the batch, only when the
            # table declares constraints; deletes carry no payload
            self._enforce_constraints(
                batch.filter(F.col(op_col) != "delete"), "merge batch"
            )

        def _prep() -> DataFrame:
            if partial_update:
                return self.prepare_batch_partial(batch, lsn_col, op_col)
            return self.prepare_batch(
                batch, lsn_col, op_col,
                strategy=strategy, salt_partitions=salt_partitions,
            )

        # same-handle serialization (see __init__._mutate_lock): prepare
        # reads a snapshot and apply commits against self._snap — both
        # must see ONE consistent view per attempt.  Other handles and
        # processes still race through the O_EXCL token protocol below.
        with self._mutate_lock:
            reduced = _prep()
            # optimistic-concurrency retry: if another writer wins our
            # commit version, refresh and redo prepare+apply against the
            # new snapshot (prepare again, not just apply — the racer may
            # have evolved the schema or rebucketed).  The LSN ledger
            # keeps the retried batch exactly-once: rows the racer
            # already applied filter out.
            retries = int(
                self.snapshot.get("properties", {}).get("commit_retries", 3)
            )
            for attempt in range(retries + 1):
                try:
                    stats = self.apply_prepared(
                        reduced,
                        batch_id=batch_id,
                        source_watermarks=source_watermarks,
                        extra_lineage=extra_lineage,
                        batch_total=batch_total,
                        applied_segments=applied_segments,
                        mode=mode,
                        partial_update=partial_update,
                    )
                    break
                except ConcurrentCommitError:
                    if attempt == retries:
                        raise
                    import time as _t

                    old_v = self.snapshot["version"]
                    advanced = False
                    for _ in range(3):  # grace: racer mid-pointer-swing
                        self.refresh()
                        if self.snapshot["version"] > old_v:
                            advanced = True
                            break
                        _t.sleep(0.05)
                    if not advanced:
                        # manifest exists but no one ever published it: a
                        # crashed writer's orphan — retrying would spin
                        raise
                    reduced = _prep()
        # inline maintenance policy: MOR delta appends and COW file
        # skipping both accumulate files per bucket; with the
        # ``auto_compact_files`` property set, fold any bucket past the
        # threshold right after the merge commit (its own snapshot —
        # exactly-once semantics of the merge are already durable).
        # Default off: maintenance scheduling is an operator decision and
        # keeps benchmark runs comparable.
        auto = int(self.snapshot.get("properties", {}).get("auto_compact_files", 0))
        if auto > 0:
            self.compact(max_files_per_bucket=auto, fold_all_deltas=False)
        return stats

    def apply_prepared(
        self,
        reduced: DataFrame,
        batch_id: str | None = None,
        source_watermarks: dict[str, int] | None = None,
        extra_lineage: dict[str, Any] | None = None,
        batch_total: int = -1,
        applied_segments: list[str] | None = None,
        mode: str | None = None,
        partial_update: bool = False,
    ) -> MergeStats:
        """Phase 2 of MERGE: apply a prepared winner set and commit data +
        ledger atomically, in one of three physical modes (``mode`` param,
        else table property ``merge_mode``, default ``cow``):

        - **cow** (copy-on-write): touched buckets are read and rewritten
          with winners folded in; reads stay resolution-free.  Merge cost
          ~ touched-bucket bytes.
        - **mor** (merge-on-read): winners — including delete tombstones —
          are APPENDED as per-bucket delta files; nothing existing is
          read or rewritten, so merge cost ~ batch bytes only (the
          Iceberg-v2 shape for hot tables at 10^10-event scale).  Reads
          resolve latest-LSN-per-key and drop tombstones (read tax);
          ``compact()`` folds deltas back into base files.  With MOR,
          ``rows_after``/``row_count()`` are PHYSICAL rows (including
          tombstones and superseded versions) — logical counts require a
          resolved read.
        - **dv** (deletion vectors): superseded rows are killed by
          position and winners append as ordinary files — MOR's O(batch)
          write with COW's fold-free read (see ``_resolve_dv``).

        Every mode runs ONE skeleton: the watermark filter and a single
        gate aggregate, the mode/partial-image validation, the mode's
        resolve+write step (``_resolve_cow`` / ``_resolve_mor`` /
        ``_resolve_dv``, each returning a ``_ModeResult``), then the
        shared commit tail ``_finish_apply``.  Exactly-once, watermark,
        lineage, and schema-evolution semantics are identical in all
        modes.
        """
        t0 = time.perf_counter()
        snap = json.loads(json.dumps(self.snapshot))
        applied = snap["ledger"]["applied_lsn"]

        # re-enforce the ledger watermark at commit time — makes a prepared
        # batch idempotent even when prepare() ran against an older snapshot
        reduced = reduced.filter(F.col(LSN_COL) > F.lit(applied))

        # _wmin/_wmax/_nullk ride the same single gate job: the winner
        # key range drives COW file skipping and DV candidate admission
        # (deletes included — their target files must be admitted)
        k0 = self.key_cols[0]
        agg = reduced.agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum("_n_events").alias("rows"),
            F.sum(F.when(F.col("_op") == "delete", 1).otherwise(0)).alias("dels"),
            F.collect_set("_bucket").alias("buckets"),
            F.max(LSN_COL).alias("max_lsn"),
            F.min(F.col(k0)).alias("_wmin"),
            F.max(F.col(k0)).alias("_wmax"),
            F.sum(F.when(F.col(k0).isNull(), 1).otherwise(0)).alias("_nullk"),
        ).collect()[0]
        if not agg["keys"]:
            # everything already applied — pure idempotent no-op
            return MergeStats(
                batch_rows=max(batch_total, 0), batch_keys=0,
                touched_buckets=0,
                total_buckets=snap["n_buckets"], upserts=0, deletes=0,
                rows_after=-1, skipped_already_applied=batch_total,
            )
        touched = {int(b) for b in agg["buckets"]}
        t_gate = time.perf_counter()

        mode = mode or snap.get("properties", {}).get("merge_mode", "cow")
        if mode not in ("cow", "mor", "dv"):
            raise ValueError(f"invalid merge mode: {mode}")
        partial_table = bool(snap.get("properties", {}).get("partial_updates"))
        if mode == "dv" and (partial_update or partial_table):
            # a DV commit replaces superseded rows POSITIONALLY — it
            # keeps no older versions for a per-column inheritance
            # fold to read through, so partial images (null =
            # unchanged) would materialize their nulls as values
            raise ValueError(
                "deletion-vector merges need full-row images; "
                "partial-image tables must use cow or mor"
            )
        if partial_update and mode == "mor" and not partial_table:
            # a partial delta row is NOT a row version: the default MOR
            # read's latest-LSN-per-key resolution would emit its nulls
            # as values.  Tables declared ``partial_updates`` at create
            # time get the per-column MOR resolution instead (read()),
            # which makes partial deltas safe.
            raise ValueError(
                "partial_update with merge-on-read requires the table "
                "property partial_updates=true (per-column resolution)"
            )
        if not partial_update and mode == "mor" and partial_table:
            # a FULL-row delta on a partial_updates table is unsound the
            # other way around: its genuine nulls would inherit older
            # values through the per-column fold.  Full images go through
            # COW (which materializes resolved rows) on such tables.
            raise ValueError(
                "partial_updates tables accept merge-on-read batches only "
                "with partial_update=True (full images must use cow)"
            )
        step = {
            "cow": self._resolve_cow,
            "mor": self._resolve_mor,
            "dv": self._resolve_dv,
        }[mode]
        res = step(snap, reduced, agg, touched, partial_update)
        return self._finish_apply(
            snap, agg, touched, res,
            batch_total=batch_total, batch_id=batch_id,
            source_watermarks=source_watermarks, extra_lineage=extra_lineage,
            applied_segments=applied_segments, t0=t0, t_gate=t_gate,
        )

    # -- per-mode resolve+write steps of apply_prepared ----------------- #
    def _resolve_mor(self, snap, reduced, agg, touched, partial_update) -> _ModeResult:
        """Merge-on-read: append winner rows + tombstones as delta files —
        no existing-bucket read, no rewrite."""
        target = self.schema
        keys = self.key_cols
        nk_cols = [f.name for f in target.fields if f.name not in keys]
        delta = reduced.select(
            *keys,
            *nk_cols,
            F.col(LSN_COL),
            (F.col("_op") == "delete").alias(DELETED_COL),
            "_bucket",
        )
        if partial_update:
            # keys whose batch had a delete BELOW surviving upserts
            # also append the tombstone at the delete's own LSN — the
            # read-side inheritance barrier
            tomb = reduced.filter(
                F.col("_reset") & (F.col("_op") != "delete")
            ).select(
                *keys,
                *[F.lit(None).cast(target[c].dataType).alias(c) for c in nk_cols],
                F.col("_dl").alias(LSN_COL),
                F.lit(True).alias(DELETED_COL),
                "_bucket",
            )
            delta = delta.unionByName(tomb)
        delta = delta.repartition(min(snap["n_buckets"], 64), "_bucket")
        mapping = self._write_bucket_files(delta, snap["schema_id"], pre_bucketed=True)
        for files in mapping.values():
            for fobj in files:
                fobj["delta"] = True
        t_write = time.perf_counter()
        buckets_meta = {b: list(files) for b, files in snap["buckets"].items()}
        for b, files in mapping.items():
            buckets_meta[b] = buckets_meta.get(b, []) + files
        return _ModeResult(
            buckets_meta, self._bucket_rows(snap, buckets_meta, added=mapping), t_write
        )

    def _resolve_cow(self, snap, reduced, agg, touched, partial_update) -> _ModeResult:
        """Copy-on-write: read the touched buckets' admitted files, fold
        the winners in and rewrite them; files proven winner-free are
        carried unchanged."""
        keys = self.key_cols
        data_cols = [f.name for f in self.schema.fields]
        out_cols = [*keys, *[c for c in data_cols if c not in keys], LSN_COL, "_bucket"]
        n_part = min(snap["n_buckets"], 64)
        # ---- COW file skipping (Iceberg's real rewrite granularity) ----
        # Within each touched bucket, a base file whose key-range stats
        # are disjoint from the batch's winner range [wmin, wmax] cannot
        # contain any upserted/deleted key: reference it UNCHANGED and
        # rewrite only the admitted files.  For insert-mostly streams
        # whose new keys don't straddle old files this collapses COW
        # merge cost from O(touched-bucket bytes) to O(batch bytes) while
        # keeping reads resolution-free.  Soundness: (a) winner keys lie
        # in [wmin, wmax], so no carried file can hold a current OR stale
        # version of one; (b) base files inside a bucket hold pairwise
        # DISJOINT key sets (full rewrites trivially; skipping rewrites
        # inductively: new files hold admitted-file keys + winner keys,
        # both disjoint from carried keys), so carrying never duplicates
        # a key; (c) buckets containing MOR delta files rewrite wholly —
        # versions of one key may span admitted and carried files there,
        # and resolving from a partial version set could emit a stale row
        # into a base file; (d) a batch with null first-key winners
        # disables skipping (file stats are null-blind).
        file_skip = (
            agg["_wmin"] is not None
            and int(agg["_nullk"]) == 0
            and str(
                snap.get("properties", {}).get("cow_file_skip", "true")
            ).lower() != "false"
        )
        carried: dict[str, list[dict]] = {}
        admitted_paths: set[str] = set()
        delta_buckets = {
            b
            for b in touched
            if any(f.get("delta") for f in snap["buckets"].get(str(b), []))
        }
        if file_skip:
            carried, admitted = self._admit_files(
                snap, reduced, agg, touched - delta_buckets
            )
            admitted_paths = {f["path"] for f in admitted}

        # the explicit path set is the EXACT complement of `carried` (one
        # decision site — range stats + bloom — drives both the carry and
        # the scan); delta buckets scan in full
        if not file_skip:
            existing = self.read(buckets=touched, with_lsn=True)
        else:
            parts = []
            cow_buckets = touched - delta_buckets
            if cow_buckets:
                parts.append(
                    self.read(
                        buckets=cow_buckets, with_lsn=True, _only_paths=admitted_paths
                    )
                )
            if delta_buckets:
                parts.append(self.read(buckets=delta_buckets, with_lsn=True))
            existing = _union_all(parts)
        existing = existing.withColumn("_bucket", self._bucket_expr())

        # write-time CDF is captured on the broadcast-resolve path only:
        # pre-images there cost one bounded extra read of the admitted
        # files.  The shuffle path (winner set past the broadcast
        # threshold) and partial-image merges would need a second
        # table-sized shuffle to capture pre-images, so those commits
        # mark themselves "diff" and table_changes falls back to the
        # snapshot-diff feed for intervals containing them.
        change_files: list[str] | None = None
        if partial_update:
            resolved = self._resolve_partial(reduced, existing, out_cols)
        elif int(agg["keys"]) <= self._winner_threshold():
            # broadcast resolve — no key-shuffle of any payload: the slim
            # winner key set is broadcast against the existing scan.
            #
            # Watermark invariant makes this a pure key-replace: committed
            # rows always carry _lsn <= ledger.applied_lsn (the ledger is
            # the batch max and commits atomically with the data), and
            # ``reduced`` was filtered to _lsn > applied above — so every
            # winner is STRICTLY newer than any table row for its key.  No
            # per-row lsn comparison or reverse existing-lsn probe is
            # needed (an earlier version did both: one extra bucket scan
            # and two extra broadcast builds per batch, all provably
            # no-ops under the invariant).
            # null-safe key match (see prepare_batch): a null-key existing
            # row must be REPLACED by its null-key winner, not kept
            # alongside it
            w_keys = F.broadcast(
                reduced.select(
                    *[F.col(k).alias(f"_wk_{i}") for i, k in enumerate(keys)],
                    F.lit(1).alias("_w"),
                )
            )
            kept_existing = (
                existing.join(
                    w_keys, _key_match([existing[k] for k in keys], "_wk_"), "left"
                )
                .filter(F.col("_w").isNull())
                .drop("_w", *[f"_wk_{i}" for i in range(len(keys))])
            )
            kept_winners = reduced.filter(F.col("_op") != "delete").select(*out_cols)
            # only the (small) winner side shuffles to bucket layout;
            # existing rows flow scan -> filter -> write with no exchange
            resolved = kept_existing.select(*out_cols).unionByName(
                kept_winners.repartition(n_part, "_bucket")
            )
            if self._write_cdf(snap):
                # pre-images come from ONE extra pass over the admitted
                # existing files (inner broadcast join against winner
                # keys — O(changed data), and the only place the old
                # values still exist before the COW rewrite drops them)
                w_slim = F.broadcast(
                    reduced.select(
                        *[F.col(k).alias(f"_ck_{i}") for i, k in enumerate(keys)],
                        F.col("_op").alias("_c_op"),
                    )
                )
                hits = existing.join(
                    w_slim, _key_match([existing[k] for k in keys], "_ck_"), "inner"
                )
                change_files = self._capture_cdf(hits, reduced, int(agg["keys"]))
        else:
            resolved = self._resolve_shuffle(reduced, existing, out_cols)
        mapping = self._write_bucket_files(resolved, snap["schema_id"], pre_bucketed=True)
        t_write = time.perf_counter()

        # new snapshot: untouched buckets carried over; touched buckets =
        # their carried (winner-free) files + the rewritten output
        buckets_meta = {
            b: files for b, files in snap["buckets"].items() if int(b) not in touched
        }
        for b, files in carried.items():
            buckets_meta[b] = list(files)
        for b, files in mapping.items():
            buckets_meta[b] = buckets_meta.get(b, []) + files
        return _ModeResult(
            buckets_meta,
            self._bucket_rows(snap, buckets_meta, recount={str(b) for b in touched}),
            t_write,
            carried_files=sum(len(v) for v in carried.values()),
            change_files=change_files,
        )

    def _resolve_shuffle(
        self, reduced: DataFrame, existing: DataFrame, out_cols: list[str]
    ) -> DataFrame:
        """Shuffle COW resolve — winner set too large to broadcast: union
        the (already-reduced) winners with the touched existing rows and
        take max-LSN per key in one hash aggregate; both sides shuffle
        once on the key, partial agg handles skew."""
        keys = self.key_cols
        existing = existing.withColumn("_op", F.lit("upsert"))
        both = existing.select(*keys, "_op", *out_cols[len(keys):]).unionByName(
            reduced.select(*keys, "_op", *out_cols[len(keys):])
        )
        payload = F.struct("_op", *[c for c in out_cols if c not in keys])
        return (
            both.groupBy(*keys)
            .agg(F.max_by(payload, F.col(LSN_COL)).alias("_p"))
            .select(*keys, "_p.*")
            .filter(F.col("_op") != "delete")
            .drop("_op")
            .select(*out_cols)
            .repartition(min(self.snapshot["n_buckets"], 64), "_bucket")
        )

    def _resolve_partial(
        self, reduced: DataFrame, existing: DataFrame, out_cols: list[str]
    ) -> DataFrame:
        """Partial-image COW resolve: winners may carry nulls meaning
        "unchanged", so matched existing rows ENRICH the winner
        (per-column coalesce) instead of being replaced outright —
        unless the batch contained a delete for the key (_reset: the row
        was logically re-created, nulls stay null).  One null-safe
        full-outer key join (sort-merge, both sides shuffle once) — the
        same exchange budget as the shuffle resolve; a broadcast variant
        mirroring the non-partial fast path is a straightforward
        specialization if partial batches are ever the hot path."""
        keys = self.key_cols
        nk_cols = [f.name for f in self.schema.fields if f.name not in keys]
        e = existing.select(
            *[F.col(k).alias(f"_ek_{i}") for i, k in enumerate(keys)],
            *[F.col(c).alias(f"_e_{c}") for c in nk_cols],
            F.col(LSN_COL).alias("_e_lsn"),
            F.col("_bucket").alias("_e_bucket"),
            F.lit(1).alias("_ep"),
        )
        w = reduced.withColumn("_wp", F.lit(1))
        j = w.join(e, _key_match([w[k] for k in keys], "_ek_"), "full_outer")
        present = F.col("_wp").isNotNull()
        return (
            j.filter(~present | (F.col("_op") != "delete"))
            .select(
                *[
                    F.when(present, w[k]).otherwise(F.col(f"_ek_{i}")).alias(k)
                    for i, k in enumerate(keys)
                ],
                *[
                    F.when(~present, F.col(f"_e_{c}"))
                    .when(F.col("_reset"), w[c])
                    .otherwise(F.coalesce(w[c], F.col(f"_e_{c}")))
                    .alias(c)
                    for c in nk_cols
                ],
                F.when(present, w[LSN_COL]).otherwise(F.col("_e_lsn")).alias(LSN_COL),
                F.when(present, w["_bucket"])
                .otherwise(F.col("_e_bucket"))
                .alias("_bucket"),
            )
            .select(*out_cols)
            .repartition(min(self.snapshot["n_buckets"], 64), "_bucket")
        )

    def _resolve_dv(self, snap, reduced, agg, touched, partial_update) -> _ModeResult:
        """Deletion-vector merge (the Iceberg-v2 / Delta deletion-vector
        shape): superseded row VERSIONS are invalidated *positionally* —
        a per-commit sidecar of ``(file, row_index)`` pairs — and winner
        rows append as ordinary base files.  Nothing existing is
        rewritten (MOR's write cost) and the read path stays fold-free
        (COW's read cost): a scan is ``union(files) ANTI-JOIN dv`` —
        no latest-per-key shuffle, because the invariant "every key has
        at most one live position" is maintained at write time.

        Write cost anatomy per batch: one position scan over the
        stats+bloom-admitted candidate files (column-pruned to the key
        columns — at 100 TB this reads kilobytes per gigabyte of data),
        one join against the winner keys (broadcast below the winner
        threshold), one O(batch) sidecar + data write.  For update-heavy
        streams this beats COW (no rewrite of cold rows) and beats MOR
        reads (no per-key resolution tax on every scan); ``compact()``
        folds DVs back into plain files when a bucket's dead-row fraction
        grows.

        Write-time CDF rides the position scan for free: the scan is the
        last place the pre-image values exist in live form, so with the
        ``write_changes`` property set it widens to the data columns and
        emits the same per-commit change files as the COW path.

        Reference analog: none (the reference rewrites whole tables,
        reference pipeline/lib/summary/summary_config_processor.py:373-419);
        this is the third physical strategy the north rule's
        10^10-event replay needs for update-heavy workloads.
        """
        from pyspark import StorageLevel

        keys = self.key_cols
        n_keys = int(agg["keys"])
        write_cdf = self._write_cdf(snap)
        files = [f for b in touched for f in snap["buckets"].get(str(b), [])]
        if any(f.get("delta") for f in files):
            raise ValueError(
                "deletion-vector merge on a bucket holding MOR "
                "delta files — compact() first: positional "
                "deletes cannot see through a latest-per-key fold"
            )
        # candidate files: the same stats+bloom admission COW file
        # skipping uses — a file that provably holds no winner key is
        # never position-scanned (null winner keys admit every file:
        # stats are null-blind)
        admitted = (
            files
            if int(agg["_nullk"])
            else self._admit_files(snap, reduced, agg, touched)[1]
        )
        dv_entry: dict[str, Any] | None = None
        counts: dict[str, int] = {}
        change_files: list[str] | None = None
        if admitted:
            hit = self._dv_hits(snap, reduced, admitted, touched, write_cdf, n_keys)
            hit = hit.persist(StorageLevel.MEMORY_AND_DISK)
            counts = {
                r["_dv_file"]: int(r["n"])
                for r in hit.groupBy("_dv_file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if counts:
                dv_entry = self._write_dv(hit, counts, touched)
            if write_cdf:
                change_files = self._capture_cdf(hit, reduced, n_keys)
            hit.unpersist()
        elif write_cdf:
            # no candidate files at all: every winner is a pure insert
            change_files = self._capture_cdf(None, reduced, n_keys)

        # ---- append winner upserts as ordinary base files (deletes
        # contribute positions only — no tombstone rows in DV mode)
        ups = reduced.filter(F.col("_op") != "delete").select(
            *keys,
            *[f.name for f in self.schema.fields if f.name not in keys],
            F.col(LSN_COL),
            "_bucket",
        )
        mapping = self._write_bucket_files(
            ups.repartition(min(snap["n_buckets"], 64), "_bucket"),
            snap["schema_id"],
            pre_bucketed=True,
        )
        t_write = time.perf_counter()

        buckets_meta = {
            b: [dict(f) for f in files] for b, files in snap["buckets"].items()
        }
        if counts:
            for files in buckets_meta.values():
                for f in files:
                    n = counts.get(f["path"])
                    if n:
                        # per-file dead-row counter: compaction's trigger
                        # and the logical-row arithmetic both read it
                        f["dv_rows"] = int(f.get("dv_rows", 0)) + n
        for b, files in mapping.items():
            buckets_meta[b] = buckets_meta.get(b, []) + files
        return _ModeResult(
            buckets_meta,
            self._bucket_rows(snap, buckets_meta, added=mapping),
            t_write,
            change_files=change_files,
            dv_entry=dv_entry,
        )

    def _dv_hits(self, snap, reduced, admitted, touched, write_cdf, n_keys) -> DataFrame:
        """The DV position scan: ``(_dv_file, _dv_pos)`` of every LIVE row
        in the admitted files whose key has a winner (strictly newer —
        the watermark invariant of the COW broadcast path), with the
        winner's op as ``_c_op`` and, for CDF, the row's data columns."""
        target = self.schema
        keys = self.key_cols
        data_cols = [f.name for f in target.fields]
        by_sid: dict[int, list[str]] = {}
        for f in admitted:
            by_sid.setdefault(int(f["schema_id"]), []).append(f["path"])
        scans = []
        # files hold PHYSICAL column names — translate the wanted
        # logical columns per schema group (identity when unmapped)
        pm = self._pnames_of(snap) if self._mapped(snap) else {}
        want_p = {pm.get(c, c) for c in (data_cols if write_cdf else keys)}
        for sid, paths in sorted(by_sid.items()):
            read_schema = T.StructType(
                [
                    T.StructField(m["pname"], _ATOMIC_TYPES[m["type"]], True)
                    for m in self._meta_of(snap, sid)
                    if m["pname"] in want_p
                ]
                + [T.StructField(LSN_COL, T.LongType(), True)]
            )
            raw = self.spark.read.schema(read_schema).parquet(
                *[os.path.join(self.root, p) for p in paths]
            )
            have = set(raw.columns)
            sel = [
                F.col(pm.get(k, k)).cast(target[k].dataType).alias(k)
                for k in keys
            ] + [F.col(LSN_COL)]
            if write_cdf:
                sel += [
                    (F.col(pm.get(c, c)) if pm.get(c, c) in have else F.lit(None))
                    .cast(target[c].dataType)
                    .alias(c)
                    for c in data_cols
                    if c not in keys
                ]
            scans.append(
                raw.select(
                    *sel,
                    F.col("_metadata.file_path").alias("_dv_uri"),
                    F.col("_metadata.row_index").alias("_dv_pos"),
                )
            )
        scan = _union_all(scans)
        # uri→rel: data-file rel paths are exactly 4 components (the
        # invariant the read-side normalization also relies on;
        # asserted in _write_dv before any dv entry is committed)
        scan = scan.withColumn(
            "_dv_file", F.substring_index(F.col("_dv_uri"), "/", -4)
        ).drop("_dv_uri")
        # rows a PRIOR commit already killed must not re-match: their
        # key's winner would re-emit a duplicate position (harmless)
        # but, worse, their stale values would pollute the CDF
        # pre-image and mask a delete-then-reinsert as an update.
        # One anti-join against the in-scope existing DV — O(dead
        # rows in the touched buckets), repaid by compaction.
        prior = self._scoped(snap, "dv", touched)
        if prior:
            scan = scan.join(
                self._dead_positions(prior), ["_dv_file", "_dv_pos"], "left_anti"
            )
        # rows an EQUALITY delete killed are dead the same way prior
        # dv positions are: re-matching them would duplicate kills
        # (harmless) and corrupt CDF pre-images (not harmless)
        eq_prior = self._scoped(snap, "eqdel", touched)
        if eq_prior:
            eq = self._eq_delete_keys(snap, eq_prior, target)
            scan = scan.join(
                eq,
                (scan[LSN_COL] <= F.col("_eq_lsn"))
                & _key_match([scan[k] for k in keys], "_eqk_"),
                "left_anti",
            )
        wk = reduced.select(
            *[F.col(k).alias(f"_wk_{i}") for i, k in enumerate(keys)],
            F.col("_op").alias("_c_op"),
        )
        if n_keys <= self._winner_threshold():
            wk = F.broadcast(wk)
        return scan.join(wk, _key_match([scan[k] for k in keys], "_wk_"), "inner")

    def _write_dv(self, hit: DataFrame, counts: dict[str, int], touched: set[int]) -> dict:
        """Persist one commit's kill list as a ``dv/`` sidecar; returns its
        manifest entry."""
        # the rel-path normalization (both in _dv_hits and in read())
        # is substring_index(uri, '/', -4): it is exact ONLY while every
        # data file lives at depth data/<write>/<bucket>/<file> — fail
        # loudly if the layout ever changes instead of silently mis-keying
        bad = [p for p in counts if p.count("/") != 3]
        if bad:
            raise AssertionError(
                f"dv path normalization invariant violated: {bad[:3]}"
            )
        n_dv_rows = sum(counts.values())
        return {
            "files": self._write_side_files(
                hit.select(
                    F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos")
                ),
                "dv",
                max(1, min(8, n_dv_rows // 2_000_000 + 1)),
                physical=False,
            ),
            "rows": n_dv_rows,
            "buckets": sorted(touched),
            # the data files this commit killed rows in — what lets the
            # snapshot-diff CDF read O(changed files) instead of whole
            # dv-touched buckets
            "data_files": sorted(counts),
        }

    # -- pieces shared by the mode steps -------------------------------- #
    def _admit_files(
        self, snap, reduced, agg, buckets: set[int]
    ) -> tuple[dict[str, list[dict]], list[dict]]:
        """Split the files of ``buckets`` by whether they may hold a winner
        key: ``(kept, admitted)`` where ``kept`` maps bucket → the files
        whose key-range stats or bloom prove them winner-free.  COW file
        skipping carries the kept files; the DV position scan reads only
        the admitted ones.  The caller guarantees no null first-key
        winner (file stats are null-blind).

        Bloom probes close the range gap: a point-update batch whose keys
        hash-scatter across the whole keyspace admits EVERY file by
        range, but each file's bloom rejects keys it provably lacks.
        Probing costs one small job collecting the winner hash tuples, so
        it is gated to small batches (property ``bloom_probe_keys``,
        default 1024) on tables that carry blooms at all."""
        probes: list[tuple[int, ...]] | None = None
        probe_cap = int(snap.get("properties", {}).get("bloom_probe_keys", 1024))
        has_blooms = any(
            f.get("bloom") for b in buckets for f in snap["buckets"].get(str(b), [])
        )
        if has_blooms and int(agg["keys"]) <= probe_cap:
            probes = [
                tuple(int(v) for v in r)
                for r in reduced.select(*self._bloom_hash_exprs()).distinct().collect()
            ]
        kp = self._pprune(snap, {self.key_cols[0]: (agg["_wmin"], agg["_wmax"])})
        kept: dict[str, list[dict]] = {}
        admitted: list[dict] = []
        for b in buckets:
            keep = []
            for f in snap["buckets"].get(str(b), []):
                if not self._stats_admit(f, kp) or self._bloom_reject(
                    self.root, f, probes
                ):
                    keep.append(f)
                else:
                    admitted.append(f)
            if keep:
                kept[str(b)] = keep
        return kept, admitted

    @staticmethod
    def _write_cdf(snap: dict[str, Any]) -> bool:
        return str(
            snap.get("properties", {}).get("write_changes", "false")
        ).lower() == "true"

    def _capture_cdf(
        self, hits: DataFrame | None, reduced: DataFrame, n_keys: int
    ) -> list[str]:
        """Write-time CDF of one commit.  ``hits`` are the live pre-image
        rows of winner keys (data columns, ``_lsn`` and the winner's op as
        ``_c_op``), or None when no file could hold one.  A pre-image is a
        ``delete`` or an ``update_preimage`` by its winner's op; a
        surviving winner is an ``update_postimage`` when its key had a
        pre-image, else an ``insert``.  Pre-images are winner-bounded, so
        checkpointing them is cheap and lets the post-image
        classification reuse them without re-scanning."""
        keys = self.key_cols
        data_cols = [f.name for f in self.schema.fields]
        ups = reduced.filter(F.col("_op") != "delete")
        if hits is None:
            return self._write_change_files(
                ups.select(
                    *data_cols, F.col(LSN_COL), F.lit("insert").alias("_change_type")
                ),
                n_keys,
            )
        pre = hits.select(
            *data_cols,
            F.col(LSN_COL),
            F.when(F.col("_c_op") == "delete", F.lit("delete"))
            .otherwise(F.lit("update_preimage"))
            .alias("_change_type"),
        ).localCheckpoint()
        matched = F.broadcast(
            pre.select(*[F.col(k).alias(f"_mk_{i}") for i, k in enumerate(keys)])
            .distinct()
            .withColumn("_m", F.lit(1))
        )
        post = ups.join(
            matched, _key_match([F.col(k) for k in keys], "_mk_"), "left"
        ).select(
            *data_cols,
            F.col(LSN_COL),
            F.when(F.col("_m").isNotNull(), F.lit("update_postimage"))
            .otherwise(F.lit("insert"))
            .alias("_change_type"),
        )
        return self._write_change_files(pre.unionByName(post), n_keys)

    def _bucket_rows(
        self,
        snap: dict[str, Any],
        buckets_meta: dict[str, list[dict]],
        added: dict[str, list[dict]] | None = None,
        recount: set[str] = frozenset(),
    ) -> dict[str, int]:
        """Per-bucket row counts of the new manifest, metadata-only at any
        scale: a bucket in ``recount`` (rewritten) sums its files'
        manifest-recorded counts (just-written files carry ``rows``,
        carried files keep theirs); every other bucket carries its prior
        count forward plus the rows of its ``added`` files."""
        prior = snap.get("bucket_rows", {})
        added = added or {}
        rows = {}
        for b, files in buckets_meta.items():
            if b in recount:
                rows[b] = self._files_rows(files)
            else:
                # NOT dict.get(b, default): the default is evaluated
                # eagerly, which would footer-read EVERY table file per
                # merge — the opposite of metadata-only counting
                rows[b] = (
                    prior[b]
                    if b in prior
                    else self._files_rows(snap["buckets"].get(b, []))
                ) + self._files_rows(added.get(b, []))
        return rows

    def _finish_apply(
        self, snap, agg, touched, res: _ModeResult, *, batch_total, batch_id,
        source_watermarks, extra_lineage, applied_segments, t0, t_gate,
    ) -> MergeStats:
        """Shared commit tail of apply_prepared (every merge mode):
        snapshot bookkeeping, ledger advance, lineage, atomic commit."""
        applied = snap["ledger"]["applied_lsn"]
        count_batch = batch_total >= 0
        rows_after = sum(res.bucket_rows.values())
        snap["bucket_rows"] = res.bucket_rows
        if res.dv_entry:
            snap["dv"] = list(snap.get("dv", [])) + [res.dv_entry]
        snap["buckets"] = res.buckets_meta
        snap["ledger"]["applied_lsn"] = max(applied, int(agg["max_lsn"]))
        if source_watermarks:
            snap["ledger"]["source_watermarks"].update(
                {k: max(int(v), int(snap["ledger"]["source_watermarks"].get(k, -1)))
                 for k, v in source_watermarks.items()}
            )
        if applied_segments:
            self._tag_segments(snap, applied_segments)
        timings = {
            "gate_agg_sec": round(t_gate - t0, 3),
            # mode-agnostic: COW bucket rewrite or MOR delta append
            "write_sec": round(res.t_write - t_gate, 3),
            "meta_commit_sec": round(time.perf_counter() - res.t_write, 3),
        }
        stats = MergeStats(
            batch_rows=batch_total if count_batch else int(agg["rows"]),
            batch_keys=int(agg["keys"]),
            touched_buckets=len(touched),
            total_buckets=snap["n_buckets"],
            upserts=int(agg["keys"]) - int(agg["dels"]),
            deletes=int(agg["dels"]),
            rows_after=rows_after,
            skipped_already_applied=(
                batch_total - int(agg["rows"]) if count_batch else -1
            ),
            timings=timings,
            carried_files=res.carried_files,
        )
        fields = {
            "lsn_max": int(agg["max_lsn"]),
            "batch_rows": stats.batch_rows,
            "batch_keys": stats.batch_keys,
            "touched_buckets": sorted(touched),
            "deletes": stats.deletes,
            "skipped_already_applied": stats.skipped_already_applied,
            "carried_files": res.carried_files,
            "timings": timings,
            **(extra_lineage or {}),
        }
        self._commit_op(
            snap,
            # per-commit change descriptor: "cdf" (stored change files) or
            # "diff" (pre-images not captured — the feed falls back to the
            # snapshot diff)
            {"mode": "cdf", "files": res.change_files, "schema_id": snap["schema_id"]}
            if res.change_files is not None
            else {"mode": "diff"},
            # explicit operation kind: history() must not infer it from a
            # USER-supplied batch_id (e.g. 'compact-2026-08' is a merge)
            fields.pop("operation", "merge"),
            fields.pop("batch_id", batch_id),
            **fields,
        )
        return stats

    # ------------------------------------------------------------------ #
    # maintenance
    # ------------------------------------------------------------------ #
    def _files_rows(self, files: list[dict]) -> int:
        """Row count for a file list: manifest-recorded counts where
        present (files written since stats collection landed carry
        ``rows``), parquet footers (threaded) for legacy entries."""
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        known = sum(f["rows"] for f in files if "rows" in f)
        paths = [
            os.path.join(self.root, fobj["path"])
            for fobj in files
            if "rows" not in fobj
        ]
        if not paths:
            return known
        if len(paths) <= 2:
            return known + sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        with ThreadPoolExecutor(min(16, len(paths))) as ex:
            return known + sum(
                ex.map(lambda p: pq.ParquetFile(p).metadata.num_rows, paths)
            )

    def _count_rows(self, buckets_meta: dict[str, list[dict]]) -> int:
        """Row count from parquet footers only — metadata-scale, no scan."""
        return sum(self._files_rows(files) for files in buckets_meta.values())

    def _physical_rows(self, snap: dict[str, Any]) -> int:
        """Physical row count of a snapshot: manifest ``bucket_rows`` when
        complete, else parquet footers."""
        if "bucket_rows" in snap and set(snap["bucket_rows"]) == set(snap["buckets"]):
            return sum(snap["bucket_rows"].values())
        return self._count_rows(snap["buckets"])

    def row_count(self) -> int:
        return self._physical_rows(self.snapshot)

    def logical_row_count(self, version: int | None = None) -> int:
        """Exact LIVE row count — metadata-only whenever the snapshot
        permits (the Iceberg/Delta ``SELECT COUNT(*)`` shortcut: answer
        from the manifest, scan nothing).

        Eligibility is decided per snapshot, not per table property:

        - **COW / DV snapshots** (no MOR delta files, no pending
          equality-delete sidecars): logical = physical − dv-dead.  COW
          folds winners in place and keeps no tombstones, so physical
          rows ARE live rows; DV merges leave superseded/deleted rows in
          place but maintain an exact per-file dead counter
          (``dv_rows``, bumped under the same commit as the kill list —
          a position is killed at most once because kills are computed
          against live rows only).  Both terms are manifest arithmetic:
          O(files) driver-side, zero Spark jobs, any table size.
        - **MOR deltas or equality deletes pending**: the live count
          depends on key resolution (which base rows a delta supersedes
          / how many live rows an eq-delete key matches) — that is data,
          not metadata, so this falls back to a resolved-read count.
          ``compact()`` folds both back in and restores the fast path.

        ``version`` time-travels the count (manifests are immutable, so
        the arithmetic works on any retained snapshot).
        """
        snap = self.snapshot if version is None else self.snapshot_at(version)
        has_deltas = any(
            f.get("delta", False)
            for files in snap["buckets"].values()
            for f in files
        )
        if has_deltas or snap.get("eqdel"):
            return self.read(version=version).count()
        physical = self._physical_rows(snap)
        dv_dead = sum(
            int(f.get("dv_rows", 0))
            for files in snap["buckets"].values()
            for f in files
        )
        return physical - dv_dead

    def changes_since(self, lsn: int) -> DataFrame:
        """Rows whose current version was applied after ``lsn`` — the
        incremental-consumption read a downstream CDC stage polls with
        its own watermark (pair with ``applied_lsn()`` to bound the other
        end).  Stats pruning skips every data file whose max LSN is at or
        below the watermark, so a mostly-cold table answers from the few
        recently written files; the row filter then exacts the bound
        (rewritten COW files mix old and new LSNs, so the pruned scan is
        a superset by design).

        Semantics note (honest contract): this is an UPSERT-ONLY feed.
        Copy-on-write keeps no tombstones, so a key deleted after ``lsn``
        simply stops appearing; consumers needing delete events should
        read MOR delta files before ``compact()`` folds them, or diff
        snapshots via ``read(version=...)``.
        """
        return self.read(with_lsn=True, prune={LSN_COL: (lsn + 1, None)}).filter(
            F.col(LSN_COL) > lsn
        )

    def point_lookup(self, key_values: dict[str, Any]) -> DataFrame:
        """The live row of one key tuple (null-safe equality on every key
        column, so a None component matches the null key), read on the
        driver without a Spark job.  The ``laketable`` DataSource planner
        picks the files — the key's hash bucket, then per-file key
        stats, then the bloom sidecars — and its Arrow reader reads them:
        row groups whose key stats exclude the key are skipped, deletion
        vectors and the key filter apply per row group, and equality
        deletes and the MOR fold run over the key's rows only, so driver
        memory is bounded by one admitted row group.  Returns a local
        DataFrame in the table schema: the rows
        ``read().filter(<key eqNullSafe>)`` returns.
        """
        from .datasource import LakeTableReader

        tbl = LakeTableReader(self.root, self.snapshot, {}).lookup(key_values)
        return self.spark.createDataFrame(tbl, schema=self.schema)

    @staticmethod
    def _diff_plan(
        snap_a: dict[str, Any], snap_b: dict[str, Any]
    ) -> tuple[set[int], set[str]]:
        """Metadata-only scan plan for a snapshot diff: the buckets whose
        file sets differ between two snapshots, plus the file paths worth
        reading inside them.

        A bucket with an identical (path, delta-flag) file list holds
        byte-identical data in both snapshots (files are immutable) — it
        is skipped without touching storage.  Inside a changed bucket:

        - if either side holds MOR delta files, every file on both sides
          is read (latest-per-key resolution needs all row versions);
        - otherwise (pure COW: exactly one live row per key per snapshot)
          only the symmetric-difference files are read — a file carried
          across the diff contributes the same rows to both sides, and
          copy-on-write guarantees a carried file holds NO key that was
          rewritten, so excluding it can never misclassify a row.

        With file-level COW carry, the steady-state plan is O(changed
        data), not O(table) — the property that makes a CDC feed over a
        100 TB table answerable from the last few batches' files.
        """
        # deletion vectors change a bucket's LOGICAL rows without touching
        # its file list: a delete-only dv commit appends no file, it only
        # adds kill positions.  A bucket whose dv coverage differs between
        # the snapshots is changed; the files to read are the symmetric
        # difference PLUS the files the differing dv entries actually
        # killed rows in (each entry records them as ``data_files``) —
        # still O(changed data).  An old-format entry without
        # ``data_files`` degrades to reading the whole bucket: sound.
        def _dv_entries(snap: dict, b) -> dict[tuple, dict]:
            return {
                tuple(e["files"]): e
                for e in LakeTable._scoped(snap, "dv", {int(b)})
            }

        def _eq_sig(snap: dict, b) -> tuple:
            # equality deletes never scan at write time, so there is no
            # per-file record to anchor a finer plan on: a bucket whose
            # eq coverage changed is read in full on both sides
            return tuple(
                sorted(
                    (tuple(e["files"]), int(e["lsn"]))
                    for e in LakeTable._scoped(snap, "eqdel", {int(b)})
                )
            )

        changed: set[int] = set()
        paths: set[str] = set()
        for b in set(snap_a["buckets"]) | set(snap_b["buckets"]):
            fa = snap_a["buckets"].get(b, [])
            fb = snap_b["buckets"].get(b, [])
            sig = lambda fs: sorted((f["path"], bool(f.get("delta"))) for f in fs)
            da, db = _dv_entries(snap_a, b), _dv_entries(snap_b, b)
            dv_changed = set(da) != set(db)
            eq_changed = _eq_sig(snap_a, b) != _eq_sig(snap_b, b)
            if sig(fa) == sig(fb) and not dv_changed and not eq_changed:
                continue
            changed.add(int(b))
            pa = {f["path"] for f in fa}
            pb = {f["path"] for f in fb}
            if eq_changed or any(
                f.get("delta") for f in list(fa) + list(fb)
            ):
                paths |= pa | pb
                continue
            dv_diff = [
                e
                for k in set(da) ^ set(db)
                for e in (da.get(k), db.get(k))
                if e is not None
            ]
            if dv_diff and not all("data_files" in e for e in dv_diff):
                paths |= pa | pb
                continue
            dv_affected = {p for e in dv_diff for p in e.get("data_files", [])}
            paths |= (pa ^ pb) | (dv_affected & (pa | pb))
        return changed, paths

    def _stored_changes(
        self,
        from_v: int,
        to_v: int,
        target: T.StructType,
        to_snap: dict[str, Any] | None = None,
    ) -> DataFrame | None:
        """Write-time CDF read path: if EVERY commit in (from_v, to_v]
        carries a change descriptor that is either stored change files
        ("cdf") or provably change-free ("none"), return their
        concatenation aligned to the TO-side schema — O(changed rows)
        of I/O, zero snapshot reads, zero diff join.  Any commit marked
        "diff" (shuffle-path merge, MOR append, overwrite, rollback) or
        predating the descriptor makes the whole interval fall back to
        the snapshot diff (return None): correctness never depends on
        the fast path being available.

        Semantics note: stored CDF is a PER-COMMIT event log (Delta
        CDF's contract) — a key updated twice in the interval emits two
        update pairs, and an insert-then-delete emits both, where the
        endpoint diff would net them out.  Signed-delta consumers
        (IncrementalAggView) are indifferent; consumers that need net
        semantics should diff endpoints via ``read(version=...)``."""
        # group file paths by the schema they were written under: one
        # scan node per SCHEMA VERSION, not per commit — a long interval
        # (thousands of commits) stays a handful-of-scans plan
        by_schema: dict[int, tuple[T.StructType, list[str]]] = {}
        interval = self._interval(from_v, to_v)
        if interval is None:
            return None  # from_v expired or on another branch: fall back
        try:
            for _, s in interval:
                d = s.get("changes")
                if not d or d.get("mode") == "diff":
                    return None
                if d["mode"] == "none":
                    continue
                files = d.get("files") or []
                if not files:
                    continue
                sid = int(d["schema_id"])
                if sid not in by_schema:
                    by_schema[sid] = (
                        schema_from_json(s["schemas"][str(sid)]),
                        [],
                    )
                by_schema[sid][1].extend(
                    os.path.join(self.root, p) for p in files
                )
        except (KeyError, ValueError):
            return None
        parts: list[DataFrame] = []
        ts = to_snap if to_snap is not None else self.snapshot
        pm = self._pnames_of(ts) if self._mapped(ts) else {}
        for sid, (schema, paths) in by_schema.items():
            # change files hold PHYSICAL names (identical to that sid's
            # logical names on rename-free tables)
            read_schema = T.StructType(
                list(pschema_from_meta(self._meta_of(ts, sid)).fields)
                + [
                    T.StructField(LSN_COL, T.LongType()),
                    T.StructField("_change_type", T.StringType()),
                ]
            )
            df = self.spark.read.schema(read_schema).parquet(*paths)
            have = set(df.columns)
            parts.append(
                df.select(
                    *[
                        (
                            F.col(pm.get(f.name, f.name))
                            if pm.get(f.name, f.name) in have
                            else F.lit(None)
                        )
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in target.fields
                    ],
                    F.col(LSN_COL).cast("long").alias(LSN_COL),
                    F.col("_change_type"),
                )
            )
        if not parts:
            empty = self._empty(with_lsn=True, target=target)
            return empty.withColumn(
                "_change_type", F.lit(None).cast("string")
            )
        return _union_all(parts)

    def table_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Snapshot-diff change data feed (Delta CDF / Iceberg changelog):
        every row inserted, updated, or deleted between two retained
        snapshots, as the TO-side schema plus ``_lsn`` (the LSN that wrote
        the emitted image) and ``_change_type`` in
        ``{'insert','update','delete'}``.  Inserts/updates carry the
        post-image; deletes carry the pre-image (copy-on-write keeps no
        tombstone payload, so the pre-image is the only faithful delete
        record — this is what ``changes_since`` cannot provide).

        Classification is per key via one full-outer join of the two
        resolved states, restricted by ``_diff_plan`` to the buckets (and,
        for delta-free buckets, the files) that actually differ — an
        untouched bucket costs one manifest comparison, zero I/O.  Rows
        present on both sides with equal ``_lsn`` are unchanged by
        construction (LSNs are strictly monotonic and rewrites carry loser
        rows with their original LSN) and are dropped, so a
        compaction-only interval diffs to empty.

        The FROM side is aligned (null-fill / widen-cast) to the TO-side
        schema, so evolution between the versions is visible as non-null
        new columns on post-images.  Null join keys match null-safely —
        a null-key row updates rather than split into delete+insert.
        ``from_version`` must still be retained (``expire_snapshots``
        governs the feed's lookback horizon, exactly as in Iceberg).

        ``include_preimages=True`` switches to Delta-CDF update encoding:
        each update emits TWO rows, ``update_preimage`` (the replaced
        image, its LSN) and ``update_postimage`` — what a consumer
        maintaining a downstream aggregate needs to SUBTRACT the old
        contribution before adding the new one.
        """
        snap_a = self.snapshot_at(from_version)
        snap_b = (
            self.snapshot if to_version is None else self.snapshot_at(to_version)
        )
        if snap_b["version"] < snap_a["version"]:
            raise ValueError(
                f"to_version {snap_b['version']} precedes from_version "
                f"{snap_a['version']}"
            )
        target = schema_from_json(snap_b["schemas"][str(snap_b["schema_id"])])
        keys = list(snap_b["key_cols"])
        stored = self._stored_changes(
            snap_a["version"], snap_b["version"], target, to_snap=snap_b
        )
        if stored is not None:
            if include_preimages:
                return stored
            return stored.filter(
                F.col("_change_type") != "update_preimage"
            ).withColumn(
                "_change_type",
                F.when(
                    F.col("_change_type") == "update_postimage",
                    F.lit("update"),
                ).otherwise(F.col("_change_type")),
            )
        changed, paths = self._diff_plan(snap_a, snap_b)
        if not changed:
            empty = self._empty(with_lsn=True, target=target)
            return empty.withColumn("_change_type", F.lit(None).cast("string"))
        old = self._align(
            self.read(
                version=snap_a["version"],
                buckets=changed,
                with_lsn=True,
                _only_paths=paths,
            ),
            target,
            with_lsn=True,
            # the FROM side carries version-A LOGICAL names; align to the
            # TO-side schema by field id (rename/drop between A and B)
            source_names=self._xver_names(snap_a, snap_b),
        )
        new = self.read(
            version=snap_b["version"],
            buckets=changed,
            with_lsn=True,
            _only_paths=paths,
        )
        nonkey = [c for c in [f.name for f in target.fields] if c not in keys]
        a = old.select(
            *[F.col(k).alias(f"_ka_{i}") for i, k in enumerate(keys)],
            F.struct(*nonkey, LSN_COL).alias("_a"),
        )
        b = new.select(
            *[F.col(k).alias(f"_kb_{i}") for i, k in enumerate(keys)],
            F.struct(*nonkey, LSN_COL).alias("_b"),
        )
        cond = _key_match([F.col(f"_ka_{i}") for i in range(len(keys))], "_kb_")
        def _ev(kind: str, img: F.Column) -> F.Column:
            return F.struct(F.lit(kind).alias("_t"), img.alias("_img"))

        upd = (
            F.array(
                _ev("update_preimage", F.col("_a")),
                _ev("update_postimage", F.col("_b")),
            )
            if include_preimages
            else F.array(_ev("update", F.col("_b")))
        )
        # unchanged rows (both sides, equal LSN) resolve to an EMPTY event
        # array — typed by filtering a one-element array to nothing, since
        # a bare F.array() would carry the wrong element type
        events = (
            F.when(F.col("_a").isNull(), F.array(_ev("insert", F.col("_b"))))
            .when(F.col("_b").isNull(), F.array(_ev("delete", F.col("_a"))))
            .when(F.col("_a")[LSN_COL] != F.col("_b")[LSN_COL], upd)
            .otherwise(
                F.filter(
                    F.array(_ev("update", F.col("_b"))), lambda _: F.lit(False)
                )
            )
        )
        j = (
            a.join(b, cond, "full_outer")
            .select(
                *[
                    F.coalesce(F.col(f"_kb_{i}"), F.col(f"_ka_{i}")).alias(
                        f"_k_{i}"
                    )
                    for i in range(len(keys))
                ],
                F.explode(events).alias("_e"),
            )
        )
        out = []
        for f in target.fields:
            if f.name in keys:
                out.append(F.col(f"_k_{keys.index(f.name)}").alias(f.name))
            else:
                out.append(F.col("_e")["_img"][f.name].alias(f.name))
        return j.select(
            *out,
            F.col("_e")["_img"][LSN_COL].alias(LSN_COL),
            F.col("_e")["_t"].alias("_change_type"),
        )

    def applied_lsn(self) -> int:
        """Ledger read (the MergeBackend seam, lake/backend.py): the max
        LSN whose effects are committed in the current snapshot."""
        return int(self.snapshot["ledger"]["applied_lsn"])

    # ------------------------------------------------------------------ #
    # SQL-style DML (Delta DELETE FROM / UPDATE ... WHERE analogs)
    # ------------------------------------------------------------------ #
    def _dml_lsn(self) -> int:
        """DML statements are authored changes: they take the next LSN
        above everything the table has seen (ledger watermark AND row
        LSNs are both <= applied by the merge invariant), so the change
        is visible to ``table_changes``/``changes_since`` and replays of
        older WAL events cannot clobber it.  Interleaving DML with a live
        WAL requires the WAL's future LSNs to stay above this — the same
        single-LSN-space rule any CDC sink has."""
        return int(self.snapshot["ledger"]["applied_lsn"]) + 1

    # ------------------------------------------------------------------ #
    # CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT ... CHECK)
    # ------------------------------------------------------------------ #
    def _constraints(self) -> dict[str, str]:
        raw = self.snapshot.get("properties", {}).get("check_constraints")
        return json.loads(raw) if raw else {}

    def _enforce_constraints(self, df: DataFrame, what: str) -> None:
        """SQL CHECK semantics: a row violates only when the expression
        is FALSE (NULL passes — which also makes partial-image batches,
        whose nulls mean 'unchanged', check only the values they carry).
        One combinable aggregate over ``df``; raises with per-constraint
        violation counts."""
        cons = self._constraints()
        if not cons:
            return
        aggs = [
            F.sum(
                F.when(~F.coalesce(F.expr(expr), F.lit(True)), 1).otherwise(0)
            ).alias(name)
            for name, expr in cons.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {n: int(row[n]) for n in cons if row[n]}
        if bad:
            raise ConstraintViolationError(
                f"CHECK constraint(s) violated by {what}: "
                + ", ".join(
                    f"{n} ({cons[n]!r}): {c} row(s)" for n, c in bad.items()
                )
            )

    def add_constraint(self, name: str, expr: str) -> None:
        """Register a CHECK constraint after validating it against the
        CURRENT table state (one pruned scan — the Delta contract: a
        constraint never admits data that violates it, past or future).
        Enforced on every subsequent merge/overwrite batch."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid constraint name: {name!r}")
        cons = self._constraints()
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        probe = dict(cons)
        probe[name] = expr
        # validate the expression parses AND existing rows satisfy it
        snap = json.loads(json.dumps(self.snapshot))
        snap["properties"]["check_constraints"] = json.dumps(probe)
        self._snap = snap  # stage locally so _enforce sees the new one
        try:
            self._enforce_constraints(self.read(), "existing table rows")
        except Exception:
            self.refresh()  # unstage
            raise
        self._commit_op(
            snap, {"mode": "none"},  # metadata-only commit
            "add_constraint", f"add-constraint-{name}",
            constraint={name: expr},
        )

    def drop_constraint(self, name: str) -> None:
        cons = self._constraints()
        if name not in cons:
            raise ValueError(f"no such constraint: {name!r}")
        del cons[name]
        snap = json.loads(json.dumps(self.snapshot))
        snap["properties"]["check_constraints"] = json.dumps(cons)
        self._commit_op(
            snap, {"mode": "none"}, "drop_constraint", f"drop-constraint-{name}"
        )

    # properties an existing table cannot safely change: flipping
    # partial-image semantics re-interprets ALREADY-WRITTEN delta rows
    # (null = unchanged vs null = null), silently corrupting reads
    _IMMUTABLE_PROPS = frozenset({"partial_updates"})

    def set_properties(self, props: dict[str, Any]) -> None:
        """Merge ``props`` into the table properties with a metadata-only
        commit (``ALTER TABLE ... SET TBLPROPERTIES``).  Write-path
        settings (``manifest_shards``, ``write_changes``, ``merge_mode``,
        ``file_blooms``, ``stats_cols`` ...) take effect from the NEXT
        commit — e.g. turning manifest sharding on mid-life re-shards at
        the next merge and readers resolve either layout per snapshot."""
        bad = sorted(set(props) & self._IMMUTABLE_PROPS)
        if bad:
            raise ValueError(
                f"properties {bad} are fixed at table creation "
                "(they define how already-written data is interpreted)"
            )
        # numeric write-path settings must parse NOW — a malformed value
        # must fail this statement, not a later commit
        for k, caster in (
            ("manifest_shards", int),
            ("file_blooms", int),
            ("shard_gc_grace_sec", float),
            ("max_lineage", int),
            ("max_tracked_segments", int),
        ):
            if k in props:
                try:
                    if caster(props[k]) < 0:
                        raise ValueError
                except (TypeError, ValueError):
                    raise ValueError(
                        f"property {k!r} needs a non-negative "
                        f"{caster.__name__}, got {props[k]!r}"
                    ) from None
        snap = json.loads(json.dumps(self.snapshot))
        snap.setdefault("properties", {}).update(
            {str(k): str(v) for k, v in props.items()}
        )
        self._commit_op(
            snap, {"mode": "none"}, "set_properties", "set-properties",
            keys=sorted(str(k) for k in props),
        )

    def delete_where(self, cond) -> "MergeStats":
        """``DELETE FROM t WHERE cond`` as a COW/MOR merge: resolve the
        matching keys (one pruned scan — parquet predicate pushdown; pass
        a ``read(prune=...)``-style range predicate for file-level
        skipping on stats columns), synthesize a delete batch at the next
        LSN, and run it through the normal merge path — bucket pruning,
        CDF visibility, lineage, exactly-once all fall out.

        Scale shape: O(matching rows + affected buckets), never O(table)
        on the write side."""
        if isinstance(cond, str):
            cond = F.expr(cond)
        lsn = self._dml_lsn()
        batch = (
            self.read()
            .filter(cond)
            .select(
                *self.key_cols,
                F.lit(lsn).cast("long").alias("lsn"),
                F.lit("delete").alias("op"),
            )
        )
        return self.merge(
            batch,
            batch_id=f"delete_where-{uuid.uuid4().hex[:8]}",
            extra_lineage={"operation": "delete_where"},
        )

    def delete_keys(self, keys_df: DataFrame, batch_id: str | None = None) -> int:
        """Equality delete (Iceberg-v2 equality-delete files; the GDPR
        right-to-be-forgotten shape): record the key tuples as an
        O(batch) delete file applied lazily at read time — NO scan of
        the table, NO rewrite, regardless of table size.  Every row
        version whose key matches and whose LSN is at or below this
        commit's LSN is dead; a later upsert (higher LSN) recreates the
        key.  Contrast ``delete_where`` (reads matching rows eagerly —
        the right tool for predicate deletes) and dv merges (positional
        kills — need a position scan): equality deletes are the third
        point on the delete-cost spectrum, built for high-volume
        key-deletion feeds (erasure-request streams) against tables too
        large to touch per request.

        Read tax: one anti-join per scan until ``compact()`` (or any
        full rewrite) materializes the deletions and retires the entry.
        Write-time CDF is NOT captured (capturing pre-images would
        require exactly the scan this operation exists to avoid), so
        ``table_changes`` over an interval containing an equality-delete
        commit falls back to the snapshot diff.

        Returns the commit's LSN, or -1 if the key set was empty (no
        commit).  Reference analog: none — the reference re-extracts
        tables wholesale (reference
        pipeline/lib/summary/summary_config_processor.py:110-152).
        """
        target = self.schema
        keys = self.key_cols
        missing = [k for k in keys if k not in keys_df.columns]
        if missing:
            raise ValueError(f"delete_keys needs every key column: {missing}")
        staged = keys_df.select(
            *[F.col(k).cast(target[k].dataType).alias(k) for k in keys]
        ).distinct()
        staged_buckets = int(self.snapshot["n_buckets"])
        agg = staged.select(
            F.count(F.lit(1)).alias("n"),
            F.collect_set(self._bucket_expr()).alias("bs"),
        ).collect()[0]
        n = int(agg["n"])
        if n == 0:
            return -1
        files = self._write_side_files(
            staged, "eqdel", max(1, min(8, n // 4_000_000 + 1))
        )
        retries = int(
            self.snapshot.get("properties", {}).get("commit_retries", 3)
        )
        for attempt in range(retries + 1):
            snap = json.loads(json.dumps(self.snapshot))
            lsn = int(snap["ledger"]["applied_lsn"]) + 1
            if int(snap["n_buckets"]) != staged_buckets:
                # a concurrent rebucket won an earlier commit race: the
                # staged bucket ids are for the OLD layout — recompute
                # under the new one (one small job) or the entry's scope
                # filter would skip buckets holding matching keys
                staged_buckets = int(snap["n_buckets"])
                agg = staged.select(
                    F.count(F.lit(1)).alias("n"),
                    F.collect_set(
                        F.pmod(
                            F.xxhash64(*keys), F.lit(staged_buckets)
                        ).cast("int")
                    ).alias("bs"),
                ).collect()[0]
            snap["eqdel"] = list(snap.get("eqdel", [])) + [
                {
                    "files": files,
                    "rows": n,
                    "buckets": sorted(int(b) for b in agg["bs"]),
                    "lsn": lsn,
                }
            ]
            snap["ledger"]["applied_lsn"] = lsn
            try:
                self._commit_op(
                    snap, {"mode": "diff"}, "delete_keys",
                    batch_id or f"delete_keys-{uuid.uuid4().hex[:8]}",
                    lsn_max=lsn, deleted_keys=n,
                )
                return lsn
            except ConcurrentCommitError:
                if attempt == retries:
                    raise
                self.refresh()
        return lsn

    def update_where(self, cond, assignments: dict) -> "MergeStats":
        """``UPDATE t SET col = expr WHERE cond`` as a COW/MOR merge:
        read the matching rows, apply the assignments (Column expressions
        may reference existing columns, e.g. ``F.col("v") + 1``), and
        merge the post-images back at the next LSN.  Key columns cannot
        be assigned (that is a delete+insert, not an update)."""
        bad = [c for c in assignments if c in self.key_cols]
        if bad:
            raise ValueError(f"cannot UPDATE key columns: {bad}")
        unknown = [
            c for c in assignments
            if c not in {f.name for f in self.schema.fields}
        ]
        if unknown:
            raise ValueError(f"unknown columns in SET: {unknown}")
        if isinstance(cond, str):
            cond = F.expr(cond)
        lsn = self._dml_lsn()
        updated = self.read().filter(cond)
        for c, expr in assignments.items():
            col = expr if isinstance(expr, F.Column) else F.lit(expr)
            updated = updated.withColumn(c, col.cast(self.schema[c].dataType))
        batch = updated.select(
            *[f.name for f in self.schema.fields],
            F.lit(lsn).cast("long").alias("lsn"),
            F.lit("upsert").alias("op"),
        )
        return self.merge(
            batch,
            batch_id=f"update_where-{uuid.uuid4().hex[:8]}",
            extra_lineage={"operation": "update_where"},
        )

    def compact(
        self,
        max_files_per_bucket: int = 2,
        fold_all_deltas: bool = True,
        target_file_rows: int | None = None,
    ) -> int:
        """Rewrite buckets holding more than ``max_files_per_bucket`` files
        into one file each (the no-shuffle write mode trades small files
        for zero exchanges; compaction pays that debt off-path, like
        Iceberg's rewrite_data_files).  Returns # buckets compacted.

        ``fold_all_deltas=False`` compacts strictly by file count — the
        inline ``auto_compact_files`` policy uses it so MOR tables don't
        fold their deltas after every merge (which would undo MOR).

        ``target_file_rows`` switches to BIN-PACKING mode (Iceberg's
        binpack strategy): instead of one file per bucket, the rewrite
        range-partitions on (bucket, key) into ~rows/target partitions, so
        each compacted file holds about ``target_file_rows`` key-contiguous
        rows — the knob for buckets that have outgrown the
        one-file-per-rewrite sweet spot (a single giant file serializes
        the next COW rewrite of its bucket AND defeats key-range file
        skipping within the bucket).  The partition count comes from
        manifest row counts — no extra counting job."""
        snap = json.loads(json.dumps(self.snapshot))
        todo = {
            int(b) for b, files in snap["buckets"].items()
            if len(files) > max_files_per_bucket
            # MOR delta files always qualify (default): compaction
            # resolves latest-per-key, drops tombstones, and rewrites the
            # bucket as plain base files — repaying the read tax.  Files
            # carrying dead dv rows qualify the same way: the rewrite
            # materializes the anti-join and retires the kill lists.
            or (
                fold_all_deltas
                and any(
                    f.get("delta", False) or f.get("dv_rows", 0) > 0
                    for f in files
                )
            )
            # buckets under an equality-delete entry qualify the same
            # way: the rewrite materializes the kills and retires the
            # per-scan anti-join
            or (
                fold_all_deltas
                and any(
                    int(b) in set(e.get("buckets", []))
                    for e in snap.get("eqdel", [])
                )
            )
        }
        if not todo:
            return 0
        df = self.read(buckets=todo, with_lsn=True).withColumn(
            "_bucket", self._bucket_expr()
        )
        zorder_by = snap.get("properties", {}).get("zorder_by")
        if zorder_by:
            # the table is z-clustered (cluster_files): re-sort the
            # rewritten buckets along the SAME curve (fresh equal-
            # population bounds over the rewritten rows) so compaction —
            # including MOR delta folding — preserves secondary-column
            # file skipping instead of silently reverting to key order
            cluster_by = [c for c in str(zorder_by).split(",") if c]
            n_bins = int(snap["properties"].get("zorder_bins", 64))
            fpb = int(snap["properties"].get("zorder_files_per_bucket", 4))
            bounds = self._zorder_bounds(df, cluster_by, n_bins)
            if target_file_rows:
                rows = self._todo_rows(snap, todo)
                n_parts = max(1, -(-rows // int(target_file_rows)))
            else:
                n_parts = max(1, len(todo) * fpb)
            staged = df.withColumn(
                "_zv", self._zvalue_expr(cluster_by, bounds)
            ).repartitionByRange(n_parts, "_bucket", "_zv")
            mapping = self._write_bucket_files(
                staged,
                snap["schema_id"],
                pre_bucketed=True,
                sort_cols=["_zv"],
                drop_after_sort=["_zv"],
            )
        elif target_file_rows:
            rows = self._todo_rows(snap, todo)
            n_parts = max(1, -(-rows // int(target_file_rows)))
            mapping = self._write_bucket_files(
                df.repartitionByRange(n_parts, "_bucket", *self.key_cols),
                snap["schema_id"],
                pre_bucketed=True,
            )
        else:
            mapping = self._write_bucket_files(df, snap["schema_id"])
        # a todo bucket absent from the write output resolved to ZERO live
        # rows (e.g. every key tombstoned in MOR deltas) — it must still
        # be compacted, to an empty file list, or its stale delta files
        # would silently survive
        for b in todo:
            mapping.setdefault(str(b), [])
        snap["buckets"].update(mapping)
        # dv entries whose every covered bucket was rewritten are retired
        # (their kill positions referenced files this commit dropped);
        # entries straddling untouched buckets stay, with stale positions
        # for the rewritten buckets — harmless: the anti-join matches on
        # file path and the old paths are gone from every future scan
        for field in ("dv", "eqdel"):
            if snap.get(field):
                kept = []
                for e in snap[field]:
                    rem = sorted(set(e.get("buckets", [])) - todo)
                    if rem:
                        kept.append({**e, "buckets": rem})
                snap[field] = kept
                if not kept:
                    del snap[field]
        snap["bucket_rows"] = snap.get("bucket_rows", {})
        snap["bucket_rows"].update(
            {b: self._files_rows(f) for b, f in mapping.items()}
        )
        self._commit_op(
            snap, {"mode": "none"},  # structural: same logical rows
            "compact", f"compact-{uuid.uuid4().hex[:8]}",
            compacted_buckets=sorted(todo),
        )
        return len(todo)

    def _todo_rows(self, snap: dict, todo: set[int]) -> int:
        """Row total for the buckets a compaction will rewrite.  Manifest
        ``bucket_rows`` is the no-extra-job source; buckets absent from it
        (manifests written before row tracking, or externally rebuilt)
        fall back to per-file manifest row counts — a missing entry must
        not count as 0 or the bin-packing partition count collapses to 1
        (one giant single-task file)."""
        todo_meta = {str(b): snap["buckets"].get(str(b), []) for b in todo}
        return sum(self._bucket_rows(snap, todo_meta).values())

    def rollback_to(self, version: int) -> int:
        """Roll the table back to a retained snapshot (Iceberg
        ``rollback_to_snapshot``): commits a NEW version whose content —
        buckets, schema registry, AND the LSN ledger — is the old
        snapshot's.  Reverting the ledger is the point: events applied by
        the rolled-back batches drop back above the high-water mark, so a
        corrected WAL can re-apply them under the same exactly-once rule.

        History stays linear and fully retained: the bad head is still
        time-travelable (and diffable via ``table_changes``) until
        ``expire_snapshots`` ages it out; no data file is touched, so the
        operation is metadata-only and O(1) at any table size.  Returns
        the new version number.
        """
        cur = self.snapshot
        if version == cur["version"]:
            return cur["version"]
        old = self.snapshot_at(version)  # raises if expired
        snap = json.loads(json.dumps(old))
        self._commit_op(
            snap, {"mode": "diff"},  # state jump: diff is the feed
            "rollback", f"rollback-{uuid.uuid4().hex[:8]}",
            rolled_back_from=cur["version"], restored_version=version,
        )
        return snap["version"]

    def rebucket(self, n_buckets: int) -> int:
        """Bucket-layout evolution (Iceberg partition-spec evolution for
        the bucket transform): rewrite the resolved table state into a new
        bucket count in ONE key-shuffle and commit it as a new snapshot.

        The operation a growing table needs exactly once per scale decade:
        bucket count is fixed at create time, and a table that was right
        at 16 buckets is wrong at 100× the data (each bucket's rewrite
        unit becomes too large for a COW merge).  MOR deltas fold into the
        rewrite (the read resolves latest-per-key first), old snapshots
        keep their own layout (each manifest records its ``n_buckets``,
        so time travel and ``table_changes`` across the boundary stay
        correct — the diff plan sees every file set changed and falls back
        to the full key-diff).  Returns the new version number.
        """
        snap = json.loads(json.dumps(self.snapshot))
        if n_buckets == snap["n_buckets"]:
            return snap["version"]
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        df = (
            self.read(with_lsn=True)
            .withColumn(
                "_bucket",
                F.pmod(
                    F.xxhash64(*self.key_cols), F.lit(n_buckets)
                ).cast("int"),
            )
            .repartition(min(n_buckets, 64), "_bucket")
        )
        mapping = self._write_bucket_files(
            df, snap["schema_id"], pre_bucketed=True
        )
        snap["n_buckets"] = n_buckets
        snap["buckets"] = mapping
        # the rewrite read resolved every dv anti-join, equality delete,
        # and MOR fold: the new layout starts clean
        snap.pop("dv", None)
        snap.pop("eqdel", None)
        snap["bucket_rows"] = {
            b: self._files_rows(f) for b, f in mapping.items()
        }
        self._commit_op(
            snap, {"mode": "none"},  # structural: same logical rows
            "rebucket", f"rebucket-{uuid.uuid4().hex[:8]}", n_buckets=n_buckets,
        )
        return snap["version"]

    # ------------------------------------------------------------------ #
    # z-order clustering (Iceberg rewrite_data_files sort/z-order strategy)
    # ------------------------------------------------------------------ #
    # Bucket pruning answers KEY predicates; per-file key-range stats answer
    # key ranges INSIDE a bucket.  Neither helps a predicate on a secondary
    # column: the write path sorts files by key, so every file's min/max on
    # a non-key column spans nearly the full domain and admits everything.
    # cluster_files() rewrites the table with rows ordered along a Z-curve
    # over the requested columns, which makes every file a tight hyper-
    # rectangle in that column space — per-file min/max stats then skip
    # most files for a selective secondary-column predicate, the same
    # motivation as Delta OPTIMIZE ZORDER BY / Iceberg's z-order rewrite.
    ZORDER_STRING_SAMPLE_CAP = 10_000

    def _zorder_bounds(
        self, df: DataFrame, cluster_by: list[str], n_bins: int
    ) -> dict[str, list]:
        """Per-column bin boundaries for the Z-curve.

        Numeric columns use ``approxQuantile`` (Greenwald-Khanna sketch —
        one distributed pass, bounded driver memory); string columns take
        evenly spaced cuts from a capped sorted-distinct sample (the same
        bounded-sampling budget Spark's own RangePartitioner spends).
        Quantile boundaries make bins equal-POPULATION, so the curve stays
        balanced under arbitrarily skewed value distributions."""
        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType,
        )
        types = {f.name: f.dataType for f in df.schema.fields}
        bounds: dict[str, list] = {}
        qs = [i / n_bins for i in range(1, n_bins)]
        for col in cluster_by:
            dt = types[col]
            if isinstance(dt, numeric):
                cuts = df.stat.approxQuantile(col, qs, 1.0 / (4 * n_bins))
            elif isinstance(dt, T.StringType):
                vals = [
                    r[0]
                    for r in df.select(col)
                    .na.drop()
                    .distinct()
                    .sort(col)
                    .limit(self.ZORDER_STRING_SAMPLE_CAP)
                    .collect()
                ]
                step = max(1, len(vals) // n_bins)
                cuts = vals[step::step]
            else:
                raise TypeError(
                    f"cluster_files supports numeric/string columns; "
                    f"{col} is {dt.simpleString()}"
                )
            bounds[col] = sorted(set(cuts))
        return bounds

    @staticmethod
    def _zvalue_expr(cluster_by: list[str], bounds: dict[str, list]) -> F.Column:
        """Interleaved-bit Z-curve value as a pure column expression.

        bin_c = #boundaries <= value (a codegen'd O(n_bins) array filter —
        no UDF); bit b of every column's bin lands at position
        b*ncols + column_index.  Nulls take bin 0, clustering together at
        the curve origin."""
        ncols = len(cluster_by)
        max_bins = max((len(bounds[c]) + 1 for c in cluster_by), default=1)
        bits = max(1, (max_bins - 1).bit_length())
        z = F.lit(0).cast("long")
        for ci, col in enumerate(cluster_by):
            cuts = bounds[col]
            if not cuts:
                continue
            arr = F.array(*[F.lit(v) for v in cuts])
            bin_c = F.when(
                F.col(col).isNull(), F.lit(0)
            ).otherwise(F.size(F.filter(arr, lambda b: b <= F.col(col)))).cast(
                "long"
            )
            for bit in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(bin_c, bit).bitwiseAND(F.lit(1)),
                    bit * ncols + ci,
                )
        return z

    def cluster_files(
        self,
        cluster_by: list[str],
        target_files_per_bucket: int = 4,
        n_bins: int = 64,
    ) -> int:
        """Rewrite the table Z-ordered on ``cluster_by`` and start tracking
        those columns' per-file min/max stats (so ``read(prune=...)`` on
        them skips files from now on).  MOR deltas fold into the rewrite;
        a single column degenerates to plain sort clustering.  Returns the
        new version number.

        Scale shape: one distributed quantile/sample pass per cluster
        column, then ONE range-shuffle of the resolved state on
        ``(_bucket, zvalue)`` — rows of a bucket land in curve order
        across ~``target_files_per_bucket`` contiguous files.  Like
        ``rebucket``, this is the off-path table-maintenance rewrite
        (Iceberg rewrite_data_files); merges afterwards still write
        key-sorted files, whose cluster-column stats are merely looser —
        pruning correctness never depends on layout.
        """
        if not cluster_by:
            raise ValueError("cluster_by must name at least one column")
        if not 2 <= n_bins <= 256:
            raise ValueError(f"n_bins must be in [2, 256], got {n_bins}")
        schema_names = {f.name for f in self.schema.fields}
        missing = [c for c in cluster_by if c not in schema_names]
        if missing:
            raise ValueError(f"cluster_by columns not in schema: {missing}")
        snap = json.loads(json.dumps(self.snapshot))
        df = self.read(with_lsn=True).withColumn("_bucket", self._bucket_expr())
        bounds = self._zorder_bounds(df, cluster_by, n_bins)
        # UNION the cluster columns into the existing stats set — a table
        # created with extra stats_cols (other prune predicates) must not
        # lose their per-file skipping because it was later z-ordered
        stats_cols = list(
            dict.fromkeys([*self._stats_cols(), *cluster_by])
        )
        n_parts = max(1, snap["n_buckets"] * max(1, target_files_per_bucket))
        staged = df.withColumn("_zv", self._zvalue_expr(cluster_by, bounds))
        if staged.isEmpty():
            # repartitionByRange on an empty frame still samples; and an
            # empty rewrite should still commit the stats property
            mapping: dict[str, list[dict]] = {}
        else:
            mapping = self._write_bucket_files(
                staged.repartitionByRange(n_parts, "_bucket", "_zv"),
                snap["schema_id"],
                pre_bucketed=True,
                sort_cols=["_zv"],
                drop_after_sort=["_zv"],
                stats_cols=stats_cols,
            )
        full = {str(b): [] for b in range(snap["n_buckets"])}
        full.update(mapping)
        snap["buckets"] = full
        snap.pop("dv", None)  # full rewrite resolved every position kill
        snap.pop("eqdel", None)
        snap["bucket_rows"] = {b: self._files_rows(f) for b, f in full.items()}
        props = snap.setdefault("properties", {})
        props["stats_cols"] = ",".join(stats_cols)
        # record the clustering so MAINTENANCE preserves it: compact()
        # re-sorts rewritten buckets along the same curve instead of
        # silently folding the layout back to key order
        props["zorder_by"] = ",".join(cluster_by)
        props["zorder_bins"] = n_bins
        props["zorder_files_per_bucket"] = max(1, target_files_per_bucket)
        self._commit_op(
            snap, {"mode": "none"},  # structural: same logical rows
            "zorder", f"zorder-{uuid.uuid4().hex[:8]}",
            cluster_by=list(cluster_by), n_bins=n_bins,
            n_files=sum(len(f) for f in full.values()),
        )
        return snap["version"]

    def files_admitted(
        self, prune: dict, buckets: set[int] | None = None
    ) -> tuple[int, int]:
        """(admitted, total) data-file counts for a prune predicate —
        the observability hook for measuring stats-skipping effectiveness,
        under the SAME soundness rule ``read`` applies (with MOR deltas
        present, only key columns participate)."""
        snap = self.snapshot
        sel = [
            (int(b), files)
            for b, files in snap["buckets"].items()
            if buckets is None or int(b) in buckets
        ]
        has_deltas = any(f.get("delta", False) for _, fs in sel for f in fs)
        eff = (
            {c: p for c, p in prune.items() if c in snap["key_cols"]}
            if has_deltas
            else prune
        )
        total = sum(len(fs) for _, fs in sel)
        eff = self._pprune(snap, eff)
        admitted = sum(
            1 for _, fs in sel for f in fs if self._stats_admit(f, eff)
        )
        return admitted, total

    # ------------------------------------------------------------------ #
    # inspection surfaces (Delta DESCRIBE HISTORY / Iceberg metadata
    # tables): the operational debugging API every lakehouse exposes —
    # both are DataFrames over driver-held manifest metadata (no data
    # file is touched), so they stay O(lineage)/O(files) at any table
    # size and compose with ordinary DataFrame filters.
    # ------------------------------------------------------------------ #
    def history(self) -> DataFrame:
        """Commit history as a DataFrame: one row per lineage record of
        the CURRENT snapshot (batch merges, compactions, rebuckets,
        rollbacks, z-order rewrites), most recent last.  Non-scalar
        details (watermarks, per-phase timings) ride in a JSON column —
        schema-stable regardless of which operations the table has seen.
        """
        schema = (
            "seq long, batch_id string, operation string, lsn_max long, "
            "batch_rows long, batch_keys long, deletes long, details string"
        )
        return self.spark.createDataFrame(
            history_meta_rows(self.snapshot), schema
        )

    def files(self) -> DataFrame:
        """Data-file inventory of the current snapshot as a DataFrame:
        (bucket, path, schema_id, rows, is_delta, has_bloom, per-column
        min/max stats as a JSON string) — Iceberg's ``.files`` metadata
        table.  One row per live data file, straight from the manifest."""
        schema = (
            "bucket int, path string, schema_id int, rows long, "
            "is_delta boolean, has_bloom boolean, dv_rows long, stats string"
        )
        return self.spark.createDataFrame(
            files_meta_rows(self.snapshot), schema
        )

    def expire_snapshots(
        self, keep_last: int = 5, protect: "set[int] | None" = None
    ) -> int:
        """Delete old snapshot manifests, keeping the most recent
        ``keep_last`` (Iceberg's expire_snapshots).  Time travel to
        expired versions stops resolving; data files they referenced
        become vacuum-eligible orphans unless still referenced by a
        retained snapshot.  ``protect`` pins extra versions that must
        survive regardless of age — how a LakeCatalog (lake/txn.py)
        keeps its retained cross-table cuts readable through table-level
        retention.  Returns # manifests removed."""
        import re as _re

        if keep_last < 1:
            # keep_last=0 would delete the CURRENT manifest and brick the
            # table (VERSION pointer left dangling)
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        # protect every ref head; for BRANCH refs also their newest
        # keep_last ancestors (per-branch lookback, Iceberg's
        # branch-level retention).  A tag keeps exactly its snapshot.
        protected: set[int] = {int(v) for v in (protect or ())}
        newest_head = 0
        for r in self.refs():
            head = int(r["version"])
            newest_head = max(newest_head, head)
            if r["type"] == "tag":
                protected.add(head)
                continue
            for i, (v, _) in enumerate(self._ancestry(head)):
                if i >= keep_last:
                    break
                protected.add(v)
        removed = 0
        expired_shard_refs: set[str] = set()
        for fn in sorted(os.listdir(self._meta_dir)):
            m = _re.fullmatch(r"snap-(\d{8})\.json", fn)
            if not m:
                continue
            v = int(m.group(1))
            # never touch manifests at/above the newest observed head: a
            # concurrent writer may be mid-commit there (its manifest
            # exists before its pointer swings)
            if v not in protected and v < newest_head:
                full = os.path.join(self._meta_dir, fn)
                try:
                    with open(full) as fh:
                        expired_shard_refs.update(
                            (json.load(fh).get("buckets_ref") or {}).values()
                        )
                except (OSError, ValueError):
                    pass  # unreadable manifest still expires
                os.remove(full)
                removed += 1
        # commit-arbitration tokens age out with the manifests: a token
        # at base B only blocks writers whose cached snapshot is B, and
        # once B's manifest is expired such a handle can no longer exist
        # (its refresh fails).  Same guard as manifests: never the newest
        # head's token (a writer may be mid-commit from it).
        txn_dir = os.path.join(self._meta_dir, "txn")
        if os.path.isdir(txn_dir):
            for fn in os.listdir(txn_dir):
                m = _re.search(r"-(\d+)\Z", fn)
                if not m:
                    continue  # genesis tokens stay (tiny, one per ref)
                b = int(m.group(1))
                if b not in protected and b < newest_head:
                    os.remove(os.path.join(txn_dir, fn))
        # manifest shards age out with the manifests that reference
        # them: delete shard files no RETAINED manifest points at.
        # Two guards against a concurrent writer mid-commit (its shards
        # exist — freshly written OR mtime-freshened on reuse — before
        # its manifest does): reclaim only shards strictly older than
        # the newest retained commit stamp AND older than a grace window
        # (property `shard_gc_grace_sec`, default 600) covering the gap
        # between a stalled writer's shard write and its manifest write.
        sdir = os.path.join(self._meta_dir, "shards")
        if os.path.isdir(sdir):
            grace = float(
                (self.snapshot.get("properties") or {}).get(
                    "shard_gc_grace_sec", 600
                )
            )
            referenced: set[str] = set()
            newest_at = 0.0
            for fn in os.listdir(self._meta_dir):
                if not re.fullmatch(r"snap-\d{8}\.json", fn):
                    continue
                with open(os.path.join(self._meta_dir, fn)) as fh:
                    s = json.load(fh)
                referenced.update((s.get("buckets_ref") or {}).values())
                newest_at = max(newest_at, float(s.get("committed_at") or 0))
            horizon = min(newest_at, time.time() - grace)
            for fn in os.listdir(sdir):
                full = os.path.join(sdir, fn)
                if not fn.startswith("shard-") or fn in referenced:
                    continue
                # a shard referenced by a manifest we JUST expired came
                # from a COMPLETED commit — no writer can be mid-commit
                # on it, so it reclaims immediately; only never-referenced
                # shards (a stalled writer that wrote its shards but not
                # yet its manifest) get the mtime grace window
                if fn in expired_shard_refs or os.path.getmtime(full) < horizon:
                    os.remove(full)
        return removed

    def vacuum(self) -> int:
        """Delete data files not referenced by ANY retained snapshot
        manifest (orphans from crashed writes + files whose every
        referencing snapshot has been expired).  Time travel to retained
        versions always survives a vacuum; run ``expire_snapshots``
        first to make superseded COW/compaction files reclaimable.
        Returns # files removed."""
        import re as _re

        # liveness = union over ALL RETAINED snapshot manifests, not just
        # the current one — otherwise vacuum breaks time travel to
        # versions expire_snapshots has intentionally kept
        live: set[str] = set()
        # sidecars ride the same liveness rule: a deletion-vector or
        # equality-delete parquet is reclaimable once no retained
        # snapshot's dv/eqdel list references it (compaction retired it
        # + expire_snapshots passed); a write-time CDF file once every
        # snapshot whose change descriptor references it has been
        # expired (the feed's lookback horizon has passed it)
        live_side: set[str] = set()
        for fn in os.listdir(self._meta_dir):
            if not _re.fullmatch(r"snap-\d{8}\.json", fn):
                continue
            with open(os.path.join(self._meta_dir, fn)) as fh:
                snap_j = json.load(fh)
            for field in ("dv", "eqdel"):
                for e in snap_j.get(field, []):
                    live_side.update(e.get("files", []))
            live_side.update((snap_j.get("changes") or {}).get("files") or [])
            # resolve_manifest: sharded manifests reference their
            # bucket inventory out-of-line
            for files in resolve_manifest(self.root, snap_j).get("buckets", {}).values():
                live.update(fobj["path"] for fobj in files)
        removed = 0
        for dirpath, _dirnames, filenames in os.walk(self._data_dir):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if rel not in live and fn.endswith(".parquet"):
                    os.remove(full)
                    removed += 1
                # bloom sidecars ride their parquet's liveness
                if fn.endswith(".parquet.bloom") and rel[:-6] not in live:
                    os.remove(full)
        # prune now-empty write dirs
        for dirpath, dirnames, filenames in list(os.walk(self._data_dir, topdown=False)):
            if not dirnames and not filenames and dirpath != self._data_dir:
                os.rmdir(dirpath)
        for sub in ("dv", "eqdel", "changes"):
            side_dir = os.path.join(self.root, sub)
            if not os.path.isdir(side_dir):
                continue
            for dirpath, _dirnames, filenames in os.walk(side_dir):
                for fn in filenames:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.root)
                    if rel not in live_side and fn.endswith(".parquet"):
                        os.remove(full)
                        removed += 1
            for dirpath, dirnames, filenames in list(
                os.walk(side_dir, topdown=False)
            ):
                # a commit dir whose every parquet was reclaimed keeps
                # only writer markers (_SUCCESS, .crc) — drop those too
                if dirpath != side_dir and not dirnames and all(
                    fn == "_SUCCESS" or fn.startswith(".") for fn in filenames
                ):
                    for fn in filenames:
                        os.remove(os.path.join(dirpath, fn))
                    os.rmdir(dirpath)
        return removed

    # ------------------------------------------------------------------ #
    # cloning (Delta SHALLOW/DEEP CLONE, Iceberg snapshot-export analogue)
    # ------------------------------------------------------------------ #
    def clone(
        self,
        dest_root: str,
        version: int | None = None,
        mode: str = "shallow",
    ) -> "LakeTable":
        """Create an independent table at ``dest_root`` from this table's
        state at ``version`` (default: current) — Delta Lake's ``CREATE
        TABLE ... CLONE`` semantics.

        ``mode="shallow"`` is METADATA-ONLY and O(files-count): the new
        table's genesis manifest references the source's data/dv/eqdel
        files by absolute path; zero bytes are copied (measured
        milliseconds on any table size).  The clone then diverges freely —
        its COW merges write into its own root, progressively replacing
        external references — and its ``vacuum`` only ever walks its own
        directories, so source files are structurally un-deletable from
        the clone side.  HAZARD (same as Delta shallow clone): the
        SOURCE's ``expire_snapshots``+``vacuum`` can reclaim files the
        clone still references — run ``localize()`` on the clone (or use
        ``mode="deep"``) before loosening source retention.

        ``mode="deep"`` additionally copies every referenced file into the
        clone's root (one ``shutil`` copy per file, byte-identical, rel
        layout preserved) — fully self-contained from birth.

        The clone keeps the source's LSN ledger, so replaying an
        already-applied WAL batch into the clone stays exactly-once — the
        property that makes clone the cheap "fork an ingest pipeline for
        a backfill/experiment" primitive.  Write-time CDF history is NOT
        carried over (Delta rule: a clone's change feed starts at its own
        genesis); table properties, constraints, schema history (field
        ids/physical names) and bucket layout all are.
        """
        if mode not in ("shallow", "deep"):
            raise ValueError(f"mode must be 'shallow' or 'deep', got {mode!r}")
        if self.exists(dest_root):
            raise ValueError(f"table already exists at {dest_root}")
        src_snap = (
            self.snapshot_at(version) if version is not None else self.snapshot
        )
        src_version = int(src_snap["version"])
        snap = json.loads(json.dumps(src_snap))
        # the clone's history starts at its own genesis
        for key in (
            "version", "parent", "committed_at", "buckets_ref", "ref", "lineage"
        ):
            snap.pop(key, None)
        # absolutize every file reference against THIS table's root
        # (already-absolute entries — cloning a clone — pass through)
        for files in snap.get("buckets", {}).values():
            for fobj in files:
                fobj["path"] = os.path.join(self.root, fobj["path"])
        for field in ("dv", "eqdel"):
            for e in snap.get(field, []):
                e["files"] = [os.path.join(self.root, p) for p in e["files"]]
        t = LakeTable(self.spark, dest_root)
        os.makedirs(t._data_dir, exist_ok=True)
        if mode == "deep":
            _localize_snap(snap, t.root)
        # the source's per-commit change descriptor must not masquerade
        # as clone-commit-0 changes
        t._commit_op(
            snap, {"mode": "none"}, "clone", f"clone-{uuid.uuid4().hex[:8]}",
            source_root=self.root, source_version=src_version, mode=mode,
        )
        return t

    def localize(self) -> int:
        """Copy every externally-referenced file (absolute paths left by a
        shallow ``clone``) into this table's root and rewrite the manifest
        to root-relative paths — one metadata commit.  Promotes a shallow
        clone to a self-contained table without blocking the instant-fork
        moment; after it returns, the source table can be retired
        entirely.  Idempotent; returns the number of files copied."""
        snap = json.loads(json.dumps(self.snapshot))
        copied = _localize_snap(snap, self.root)
        if copied == 0:
            return 0
        self._commit_op(
            snap, {"mode": "none"},  # metadata-only: no row changed
            "localize", f"localize-{uuid.uuid4().hex[:8]}", files_copied=copied,
        )
        return copied

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
