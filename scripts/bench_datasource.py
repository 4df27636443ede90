#!/usr/bin/env python
"""Python DataSource read path vs the native LakeTable read.

Replays a deterministic synthetic repos WAL (cdc/generator.py — the
BASELINE.json input shape) into one bloom-carrying lake table, then
times, median-of-reps on the SAME table:

- full-table scan + aggregate: native ``table.read()`` (JVM parquet
  scan) vs ``spark.read.format("laketable")`` (Python-planned, Arrow
  batches through Python workers) — the honest price of the registry
  surface on bulk reads;
- point lookup on the (repo, path) string key: ``table.point_lookup()``
  vs the datasource with equality filters.  Both run the same planner
  (driver-side vectorised xxhash64 bucket, then file stats, then bloom
  sidecars, lake/xxh64_vec.py) and the same key-filtered Arrow read;
  ``point_lookup()`` runs it on the driver with no Spark job, the
  datasource in a Python worker task of a Spark job.

Prints ONE JSON line.  Usage:
    python scripts/bench_datasource.py [--events N] [--reps N]
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import time

import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F, types as T  # noqa: E402

from cdm_cbioportal_etl_spark.cdc import (  # noqa: E402
    CdcReplayer,
    gen_change_events,
)
from cdm_cbioportal_etl_spark.cdc.generator import REPOS_SCHEMA  # noqa: E402
from cdm_cbioportal_etl_spark.lake import LakeTable  # noqa: E402
from cdm_cbioportal_etl_spark.lake.datasource import register  # noqa: E402
from cdm_cbioportal_etl_spark.session import get_spark  # noqa: E402


def _arg(flag: str, default: int) -> int:
    return (
        int(sys.argv[sys.argv.index(flag) + 1])
        if flag in sys.argv
        else default
    )


def _med(fn, reps):
    walls = []
    out = None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls), 3), out


def main() -> None:
    n_events = _arg("--events", 4_000_000)
    reps = _arg("--reps", 3)
    spark = get_spark("ds-bench")
    spark.sparkContext.setLogLevel("ERROR")
    ev = gen_change_events(
        spark, n_events, n_repos=200, paths_per_repo=500, seed=11,
        parallelism=64,
    )
    root = "/dev/shm/ds_bench"
    shutil.rmtree(root, ignore_errors=True)
    table = LakeTable.create(
        spark,
        root,
        T.StructType(list(REPOS_SCHEMA.fields)),
        key_cols=["repo", "path"],
        n_buckets=16,
        properties={"file_blooms": 262144},
    )
    CdcReplayer(table).replay_range_batches(
        ev, 0, n_events, batch_size=(n_events + 3) // 4
    )
    register(spark)
    ds = spark.read.format("laketable").option("path", root)

    def _agg(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("content")).alias("bytes"),
            F.countDistinct("repo").alias("repos"),
        ).collect()[0]

    scan_native, r1 = _med(lambda: _agg(table.read()), reps)
    scan_ds, r2 = _med(lambda: _agg(ds.load()), reps)
    assert tuple(r1) == tuple(r2), (r1, r2)  # integer aggregates: exact

    key = table.read().select("repo", "path").orderBy("repo", "path").first()
    pl_native, p1 = _med(
        lambda: table.point_lookup(
            {"repo": key.repo, "path": key.path}
        ).collect(),
        reps,
    )
    pl_ds, p2 = _med(
        lambda: ds.load()
        .filter(
            (F.col("repo") == key.repo) & (F.col("path") == key.path)
        )
        .collect(),
        reps,
    )
    assert sorted(map(tuple, p1)) == sorted(map(tuple, p2))

    print(
        json.dumps(
            {
                "metric": "datasource_vs_native",
                "events": n_events,
                "reps": reps,
                "table_rows": int(r1["n"]),
                "content_bytes": int(r1["bytes"]),
                "scan_agg_sec": {
                    "native": scan_native,
                    "datasource": scan_ds,
                    "ratio": round(scan_ds / scan_native, 2),
                },
                "point_lookup_sec": {
                    "native": pl_native,
                    "datasource": pl_ds,
                    "ratio": round(pl_ds / pl_native, 2),
                },
            }
        )
    )
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
