#!/usr/bin/env python3
"""Replay benchmark of the CDC → lake engine.

    python3 perfbench/run.py --workload replay_trickle --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  One run starts a local Spark session,
generates and stores a seeded change WAL (workloads.json holds each
workload's generator parameters), digests the batch oracle, warms up, then
repeats the workload's rep (bulk load → WAL-tail merges → lookups and
scans, on a fresh table) until ``--seconds`` would be exceeded, always at
least once.  Every commit, lookup and scan result is checked against the
oracle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1`` (a traced run
gives each span its own Spark job group and turns the UI on for the
status REST API).  The exit code is 1 when a check failed, 2 when the
engine package is missing from the checkout.  Work files go to
``.perfbench-work/`` under the checkout; a traced run leaves its spans
there as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

from harness import median as _median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "cdm_cbioportal_etl_spark"

# Smallest shape that still runs every phase; used by the benchmark's own
# tests (``--size tiny``), never by a measured run.
TINY = {
    "load_events": 4000, "load_batches": 2, "tail_events_per_commit": 1000,
    "tail_commits": 2, "lookups": 12, "scans": 1,
    "warmup": {"load_events": 1000, "load_batches": 1, "tail_commits": 1,
               "lookups": 2, "scans": 1},
}


def workload_params(name: str, size: str = "full") -> dict:
    """The workload's generator and run parameters: workloads.json's
    ``base`` with the workload's own entries on top (``TINY`` on top of
    that for ``size="tiny"``)."""
    cfg = json.loads((HERE / "workloads.json").read_text())
    p = {**cfg["base"], **cfg["workloads"][name]}
    if size == "tiny":
        p.update(TINY)
    return p


def end_to_end(reps, setup_s: float, peak_rss_kb: int) -> dict[str, tuple[float, str]]:
    last = reps[-1]
    return {
        "setup_s": (setup_s, "s"),
        "replay_events_per_s": (_median(
            (r.load_events + r.tail_events) / (r.load_wall_s + r.tail_wall_s) for r in reps
        ), "events/s"),
        "commit_p50_s": (_median(c.wall_s for r in reps for c in r.commits if c.phase == "tail"), "s"),
        "serve_s": (_median(r.serve_wall_s for r in reps), "s"),
        "bytes_per_live_row": (last.data_file_bytes / max(1, last.live_rows), "B/row"),
        "peak_rss_mb": (peak_rss_kb / 1024.0, "MB"),
    }


def per_layer(reps, tracer, gc_s: float, timed_wall_s: float) -> dict[str, tuple[float, str]]:
    commits = [c for r in reps for c in r.commits]
    tail = [c for c in commits if c.phase == "tail"]
    preps = [c.prepare_span for c in commits if c.prepare_span]
    applies = [c.apply_span for c in commits]
    events = sum(c.events for c in commits)
    prep_events = sum(c.events for c in commits if c.prepare_span)
    t = [c.stats.timings or {} for c in commits]
    k = max(1, min(4, len(tail) // 2))
    tail_walls = [c.apply_span["end"] - c.apply_span["start"] for c in tail]
    ingest = [s for s in tracer.spans
              if s["name"] in ("ingest.load", "ingest.tail", "lake.table.prepare", "lake.table.apply")]
    replayer_wall = sum(r.load_wall_s for r in reps)
    prep_s = sum(r.replayer_prepare_s for r in reps)
    apply_s = sum(r.replayer_apply_s for r in reps)
    lookups = [s for r in reps for s in r.lookup_spans]
    last = reps[-1]

    def wall(s):
        return s["end"] - s["start"]

    return {
        "cdc.replayer.events_per_s": (_median(r.load_events / r.load_wall_s for r in reps), "events/s"),
        "cdc.replayer.prepare_s": (prep_s / len(reps), "s"),
        "cdc.replayer.apply_s": (apply_s / len(reps), "s"),
        "cdc.replayer.overlap_frac": (
            min(1.0, max(0.0, (prep_s + apply_s - replayer_wall) / max(prep_s, 1e-9))), "ratio"),
        "lake.table.prepare.wall_s": (_median(wall(s) for s in preps), "s"),
        "lake.table.prepare.jobs": (_median(s["jobs"] for s in preps), "count"),
        "lake.table.prepare.shuffle_bytes_per_event": (
            sum(s["shuffleWriteBytes"] for s in preps) / max(1, prep_events), "B/event"),
        "lake.table.prepare.winners_per_event": (
            sum(c.winners for c in commits) / max(1, events), "ratio"),
        "lake.table.apply.wall_s": (_median(wall(s) for s in applies), "s"),
        "lake.table.apply.gate_s": (_median(x.get("gate_agg_sec", 0.0) for x in t), "s"),
        "lake.table.apply.write_s": (_median(x.get("write_sec", 0.0) for x in t), "s"),
        # MergeStats' own meta_commit_sec stops before the manifest write;
        # the rest of the apply wall after gate and write is the commit
        "lake.table.apply.meta_s": (_median(
            wall(c.apply_span) - x.get("gate_agg_sec", 0.0) - x.get("write_sec", 0.0)
            for c, x in zip(commits, t)), "s"),
        "lake.table.apply.jobs": (_median(s["jobs"] for s in applies), "count"),
        "lake.table.apply.tasks": (_median(s["tasks"] for s in applies), "count"),
        "lake.table.apply.growth": (
            _median(tail_walls[-k:]) / max(_median(tail_walls[:k]), 1e-9), "ratio"),
        "lake.table.apply.files_added": (_median(c.files_added for c in commits), "count"),
        "lake.table.apply.files_removed": (_median(c.files_removed for c in commits), "count"),
        "lake.table.apply.carried_files": (_median(c.stats.carried_files for c in commits), "count"),
        "lake.table.apply.touched_bucket_frac": (_median(
            c.stats.touched_buckets / max(1, c.stats.total_buckets) for c in commits), "ratio"),
        "lake.table.apply.bytes_written_per_event": (
            sum(c.data_bytes for c in commits) / max(1, events), "B/event"),
        "lake.table.apply.meta_bytes": (_median(c.meta_bytes for c in commits), "B"),
        "lake.table.files_live": (float(last.files_live), "count"),
        "lake.table.files_per_bucket_max": (float(last.files_per_bucket_max), "count"),
        "lake.table.point_lookup.p50_ms": (_median(x for r in reps for x in r.lookup_ms), "ms"),
        "lake.table.point_lookup.files_admitted_frac": (
            sum(x for r in reps for x in r.lookup_files_frac)
            / max(1, sum(len(r.lookup_files_frac) for r in reps)), "ratio"),
        "lake.table.point_lookup.jobs": (_median(s["jobs"] for s in lookups), "count"),
        "lake.datasource.scan.rows_per_s": (
            _median(r.live_rows / x for r in reps for x in r.scan_s), "rows/s"),
        "lake.datasource.scan.plan_s": (_median(r.scan_plan_s for r in reps), "s"),
        "lake.datasource.scan.partitions": (float(last.scan_partitions), "count"),
        "lake.datasource.scan.physical_per_logical_row": (
            last.physical_rows / max(1, last.live_rows), "ratio"),
        "spark.gc_s": (gc_s / len(reps), "s"),
        "spark.shuffle_bytes_per_event": (
            sum(s["shuffleWriteBytes"] for s in ingest) / max(1, events), "B/event"),
        "trace.self_s": (tracer.self_s / len(reps), "s"),
        "trace.rep_wall_s": (timed_wall_s / len(reps), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    try:
        p = workload_params(args.workload, args.size)
    except KeyError:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from harness import (RssSampler, Tracer, jvm_gc_seconds, spark_conf, start_spark,
                         stop_spark)
    from workload import make_inputs, run_rep

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    base = ROOT / ".perfbench-work"
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cpus = max(1, min(2, os.cpu_count() or 1))
    print(f"perfbench: local[{cpus}], conf {json.dumps(spark_conf(work, cpus, bool(args.trace)))}",
          file=sys.stderr)
    with RssSampler() as rss:
        t_setup = time.perf_counter()
        spark = start_spark(ROOT, work, cpus, traced=bool(args.trace))
        try:
            t1 = time.perf_counter()
            inputs = make_inputs(spark, p, args.seed, work / "wal")
            t2 = time.perf_counter()
            run_rep(spark, p, inputs, work / "warmup", Tracer(spark, run_id, False),
                    shape=p["warmup"], verify=False)
            shutil.rmtree(work / "warmup", ignore_errors=True)
            setup_s = time.perf_counter() - t_setup
            print(f"perfbench: setup {setup_s:.2f}s: session {t1 - t_setup:.2f}s, "
                  f"inputs {t2 - t1:.2f}s, warm-up {t_setup + setup_s - t2:.2f}s",
                  file=sys.stderr)

            tracer = Tracer(spark, run_id, bool(args.trace))
            gc0 = jvm_gc_seconds(spark)
            reps, t0 = [], time.perf_counter()
            while True:
                r0 = time.perf_counter()
                rep_dir = work / f"rep-{len(reps)}"
                r = run_rep(spark, p, inputs, rep_dir, tracer)
                reps.append(r)
                print(f"perfbench: rep {len(reps)}: load {r.load_wall_s:.2f}s, "
                      f"tail {[round(c.wall_s, 2) for c in r.commits if c.phase == 'tail']}, "
                      f"lookup p50 {_median(r.lookup_ms):.0f}ms, "
                      f"scans {[round(x, 2) for x in r.scan_s]}, serve {r.serve_wall_s:.2f}s",
                      file=sys.stderr)
                shutil.rmtree(rep_dir, ignore_errors=True)
                now = time.perf_counter()
                if now - t0 + (now - r0) > args.seconds:
                    break
            timed_wall_s = time.perf_counter() - t0
            gc_s = jvm_gc_seconds(spark) - gc0
            tracer.resolve()
        finally:
            stop_spark(spark)
    if args.trace:
        tracer.dump(base / "traces" / f"{run_id}.jsonl")
        metrics = per_layer(reps, tracer, gc_s, timed_wall_s)
    else:
        metrics = end_to_end(reps, setup_s, rss.peak_kb)
    shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r.attempted for r in reps)
    failed = sum(r.failed for r in reps)
    for r in reps:
        for msg in r.failures:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
