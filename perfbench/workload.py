"""Inputs, oracle and the replay → serve pipeline of one benchmark rep.

Everything touches the engine through its public entry points only:
``cdc.gen_change_events`` and ``cdc.expected_final_state`` for the inputs
and the oracle, ``CdcReplayer.replay_range_batches`` for the bulk load,
``LakeTable.merge`` for the WAL tail, ``LakeTable.point_lookup`` and
``spark.read.format("laketable")`` for the serve phase.  In a traced run
the tail merges are split into ``prepare_batch`` + ``apply_prepared`` (all
that ``merge`` does on an uncontended table without constraints or
auto-compaction), and the replayer's calls to the same two methods are
wrapped in spans.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from cdm_cbioportal_etl_spark.cdc import (
    CdcReplayer,
    expected_final_state,
    gen_change_events,
)
from cdm_cbioportal_etl_spark.cdc.generator import REPOS_SCHEMA
from cdm_cbioportal_etl_spark.lake import LakeTable

KEYS = ["repo", "path"]
COLUMNS = [f.name for f in REPOS_SCHEMA.fields]
_SEP, _NULL = "\x1f", "\x00"


def row_sha256_col(columns: list[str]) -> F.Column:
    """Per-row sha256 over the columns in name order (NULL → \\x00)."""
    return F.sha2(
        F.concat_ws(_SEP, *[
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in sorted(columns)
        ]),
        256,
    )


def row_sha256(row: dict) -> str:
    """Driver-side twin of ``row_sha256_col`` for one collected row."""
    text = _SEP.join(_NULL if row[c] is None else str(row[c]) for c in sorted(row))
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def state_digest(df: DataFrame) -> tuple[int, str]:
    """(rows, sha256 over the sorted per-row sha256s): equal iff the two
    states hold the same multiset of rows."""
    r = df.select(row_sha256_col(df.columns).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sha2(F.concat_ws("", F.sort_array(F.collect_list("h"))), 256).alias("d"),
    ).collect()[0]
    return int(r["n"]), r["d"] or ""


@dataclass
class Lookup:
    key: dict
    kind: str  # live | deleted | absent
    expected: str | None  # row sha256, None when the key must be absent


@dataclass
class Inputs:
    wal: DataFrame
    oracle: tuple[int, str]
    lookups: list[Lookup]


def make_inputs(spark: SparkSession, p: dict, seed: int, wal_dir: Path) -> Inputs:
    """Generate and store the seeded change WAL, digest the batch oracle
    over the stored copy, and draw the lookup keys with their expected
    rows (all untimed set-up)."""
    n_events = p["load_events"] + p["tail_commits"] * p["tail_events_per_commit"]
    gen_change_events(
        spark, n_events, n_repos=p["n_repos"], paths_per_repo=p["paths_per_repo"],
        seed=seed, delete_frac=p["delete_frac"], zipf_exp=p["zipf_exp"],
        parallelism=spark.sparkContext.defaultParallelism,
        content_repeat_max=p["content_repeat_max"],
    ).write.mode("overwrite").parquet(str(wal_dir))
    wal = spark.read.parquet(str(wal_dir))
    oracle_df = expected_final_state(wal, KEYS)
    oracle = state_digest(oracle_df)

    mix = p["lookup_mix"]
    total = sum(mix.values())
    n_live = round(p["lookups"] * mix["live"] / total)
    n_deleted = round(p["lookups"] * mix["deleted"] / total)
    n_absent = p["lookups"] - n_live - n_deleted
    # one job draws both samples: live keys (with their row hash) from
    # the oracle, deleted keys from the WAL's last op per key
    order = F.xxhash64(*KEYS, F.lit(seed))
    live = (
        oracle_df.select(*KEYS, F.lit("live").alias("kind"), row_sha256_col(COLUMNS).alias("h"))
        .orderBy(order).limit(n_live)
    )
    deleted = (
        wal.groupBy(*KEYS).agg(F.max_by("op", "lsn").alias("last_op"))
        .filter(F.col("last_op") == "delete")
        .select(*KEYS, F.lit("deleted").alias("kind"), F.lit(None).cast("string").alias("h"))
        .orderBy(order).limit(n_deleted)
    )
    drawn = live.unionByName(deleted).collect()
    rng = random.Random(seed)
    lookups = [Lookup({k: r[k] for k in KEYS}, r["kind"], r["h"]) for r in drawn]
    # the generator only writes repos org/repo-NNNN, so these never exist
    lookups += [
        Lookup({"repo": f"org/absent-{rng.randrange(10_000):04d}",
                "path": f"src/dir{i % 10}/file{rng.randrange(10_000):04d}.py"},
               "absent", None)
        for i in range(n_absent)
    ]
    rng.shuffle(lookups)
    return Inputs(wal, oracle, lookups)


@dataclass
class Commit:
    phase: str  # load | tail
    events: int
    winners: int
    wall_s: float
    stats: object = None  # MergeStats (traced runs)
    prepare_span: dict | None = None
    apply_span: dict | None = None
    files_added: int = 0
    files_removed: int = 0
    data_bytes: int = 0
    meta_bytes: int = 0


@dataclass
class RepResult:
    load_wall_s: float = 0.0
    load_events: int = 0
    tail_wall_s: float = 0.0
    tail_events: int = 0
    replayer_prepare_s: float = 0.0
    replayer_apply_s: float = 0.0
    commits: list[Commit] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)
    lookup_files_frac: list[float] = field(default_factory=list)
    lookup_spans: list[dict] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    serve_wall_s: float = 0.0
    scan_plan_s: float = 0.0
    scan_partitions: int = 0
    live_rows: int = 0
    data_file_bytes: int = 0
    files_live: int = 0
    files_per_bucket_max: int = 0
    physical_rows: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass
    return total


def _live_files(table: LakeTable) -> set[str]:
    return {f["path"] for fs in table.snapshot["buckets"].values() for f in fs}


class _CommitProbe:
    """Traced runs only: what one commit added to the table directory and
    its manifest (files added/removed, data and _meta bytes)."""

    def __init__(self, table: LakeTable):
        self.table = table
        self.files = _live_files(table)
        self.data = _dir_bytes(os.path.join(table.root, "data"))
        self.meta = _dir_bytes(os.path.join(table.root, "_meta"))

    def finish(self, c: Commit) -> None:
        after = _live_files(self.table)
        c.files_added = len(after - self.files)
        c.files_removed = len(self.files - after)
        c.data_bytes = _dir_bytes(os.path.join(self.table.root, "data")) - self.data
        c.meta_bytes = _dir_bytes(os.path.join(self.table.root, "_meta")) - self.meta


def _trace_table(table: LakeTable, tracer, res: RepResult) -> None:
    """Wrap the replayer's calls into the table in spans (traced runs).
    prepare_batch runs on the replayer's prefetch thread, apply_prepared
    on the caller's; both record into the rep's commit list."""
    prepare, apply = table.prepare_batch, table.apply_prepared
    pending: dict[int, dict] = {}

    def prepare_batch(batch, *a, **k):
        with tracer.span("lake.table.prepare") as rec:
            out = prepare(batch, *a, **k)
        pending[k.get("min_lsn_exclusive", -1)] = rec
        return out

    def apply_prepared(reduced, *a, **k):
        lo = k.get("extra_lineage", {}).get("lsn_range", [0])[0]
        with tracer.overhead():
            probe = _CommitProbe(table)
        with tracer.span("lake.table.apply") as rec:
            stats = apply(reduced, *a, **k)
        c = Commit("load", stats.batch_rows, stats.batch_keys,
                   rec["end"] - rec["start"], stats, pending.pop(lo - 1, None), rec)
        with tracer.overhead():
            probe.finish(c)
        res.commits.append(c)
        return stats

    table.prepare_batch = prepare_batch
    table.apply_prepared = apply_prepared


def ingest(spark: SparkSession, p: dict, s: dict, inp: Inputs, table_dir: Path,
           tracer, res: RepResult) -> LakeTable:
    """Create a fresh table and feed it: a bulk load of few large commits
    through the pipelined replayer, then the WAL tail as small merges."""
    shutil.rmtree(table_dir, ignore_errors=True)
    props = {"merge_mode": p["merge_mode"]}
    if p["file_blooms"]:
        props["file_blooms"] = p["file_blooms"]
    table = LakeTable.create(
        spark, str(table_dir), T.StructType(list(REPOS_SCHEMA.fields)),
        key_cols=KEYS, n_buckets=p["n_buckets"], properties=props,
    )
    traced = tracer.enabled

    n_load = s["load_events"]
    if traced:
        _trace_table(table, tracer, res)
    with tracer.phase("ingest.load", events=n_load):
        t0 = time.perf_counter()
        report = CdcReplayer(table).replay_range_batches(
            inp.wal, 0, n_load, batch_size=-(-n_load // s["load_batches"]),
            strategy="broadcast",
        )
        res.load_wall_s = time.perf_counter() - t0
    if traced:
        del table.prepare_batch, table.apply_prepared
    res.load_events = n_load
    res.replayer_prepare_s = sum(report.prepare_sec)
    res.replayer_apply_s = sum(report.apply_sec)
    if not traced:
        res.commits += [
            Commit("load", st.batch_rows, st.batch_keys, w, st)
            for st, w in zip(report.stats, report.apply_sec)
        ]

    # WAL tail: each merge call timed from outside
    step = s["tail_events_per_commit"]
    with tracer.phase("ingest.tail"):
        for i in range(s["tail_commits"]):
            lo = n_load + i * step
            batch = inp.wal.filter((F.col("lsn") >= lo) & (F.col("lsn") < lo + step))
            if traced:
                with tracer.overhead():
                    probe = _CommitProbe(table)
                with tracer.span("lake.table.prepare") as prec:
                    t0 = time.perf_counter()
                    reduced = table.prepare_batch(batch)
                with tracer.span("lake.table.apply") as arec:
                    stats = table.apply_prepared(reduced, mode=p["merge_mode"])
                wall = time.perf_counter() - t0
                c = Commit("tail", stats.batch_rows, stats.batch_keys, wall, stats,
                           prec, arec)
                with tracer.overhead():
                    probe.finish(c)
            else:
                t0 = time.perf_counter()
                stats = table.merge(batch, mode=p["merge_mode"])
                wall = time.perf_counter() - t0
                c = Commit("tail", stats.batch_rows, stats.batch_keys, wall, stats)
            res.commits.append(c)
            res.tail_wall_s += wall
            res.tail_events += stats.batch_rows

    for c in res.commits:
        res.check(c.stats.batch_rows > 0, f"{c.phase} commit applied no events")
    snap = table.snapshot
    live = [f for fs in snap["buckets"].values() for f in fs]
    res.files_live = len(live)
    res.files_per_bucket_max = max((len(fs) for fs in snap["buckets"].values()), default=0)
    res.physical_rows = sum(int(f.get("rows", 0)) - int(f.get("dv_rows", 0)) for f in live)
    res.data_file_bytes = sum(os.path.getsize(os.path.join(table.root, f["path"])) for f in live)
    return table


def serve(spark: SparkSession, s: dict, inp: Inputs, table: LakeTable, tracer,
          res: RepResult, verify: bool = True) -> None:
    """Closed loop of point lookups from one client, then full scans
    through the registered DataSource.  Each lookup's row (or its absence)
    and each scan's per-row digest is checked against the oracle."""
    traced = tracer.enabled
    t_serve = time.perf_counter()
    for lk in inp.lookups[: s["lookups"]]:
        with tracer.span("lake.table.point_lookup", kind=lk.kind) as rec:
            t0 = time.perf_counter()
            df = table.point_lookup(lk.key)
            rows = df.collect()
            res.lookup_ms.append((time.perf_counter() - t0) * 1000.0)
            if traced:
                with tracer.overhead():
                    res.lookup_files_frac.append(len(df.inputFiles()) / max(1, res.files_live))
                res.lookup_spans.append(rec)
        if verify:
            got = [row_sha256(r.asDict()) for r in rows]
            want = [] if lk.expected is None else [lk.expected]
            res.check(got == want, f"lookup {lk.kind} {lk.key}: {len(got)} rows")

    # a scan reads every column of every live row into the digest
    reader = spark.read.format("laketable").option("path", table.root)
    if traced:
        with tracer.span("lake.datasource.scan.plan"):
            t0 = time.perf_counter()
            res.scan_partitions = reader.load().rdd.getNumPartitions()
            res.scan_plan_s = time.perf_counter() - t0
    res.live_rows = inp.oracle[0]
    for _ in range(s["scans"]):
        with tracer.span("lake.datasource.scan"):
            t0 = time.perf_counter()
            digest = state_digest(reader.load())
            res.scan_s.append(time.perf_counter() - t0)
        if verify:
            res.check(digest == inp.oracle,
                      f"final state digest {digest[1][:12]} ({digest[0]} rows) != oracle "
                      f"{inp.oracle[1][:12]} ({inp.oracle[0]} rows)")
    res.serve_wall_s = time.perf_counter() - t_serve


def run_rep(spark: SparkSession, p: dict, inp: Inputs, table_dir: Path, tracer,
            shape: dict | None = None, verify: bool = True) -> RepResult:
    """One rep on a fresh table: bulk load, WAL-tail merges, serve.
    ``shape`` overrides the sizes (the warm-up runs a smaller rep over a
    prefix of the same WAL, and skips verification)."""
    s = {**p, **(shape or {})}
    res = RepResult()
    table = ingest(spark, p, s, inp, table_dir, tracer, res)
    serve(spark, s, inp, table, tracer, res, verify)
    return res
