"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

A tiny-size run of each workload, untraced and traced, must print every
metric BENCHMARK.json names with its unit; a corrupted table must fail the
digest check; a directory holding only the benchmark must fail cleanly.
Each CLI case starts its own Spark JVM (about a minute each).
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload: str, trace: int) -> None:
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), m["name"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    sys.path.insert(0, str(HERE))
    from harness import start_spark, stop_spark

    session = start_spark(ROOT, tmp_path_factory.mktemp("work"), 1, traced=False)
    yield session
    stop_spark(session)


def test_corrupted_table_fails_digest_check(spark, tmp_path: Path) -> None:
    import pyarrow.parquet as pq
    from harness import Tracer
    from run import workload_params
    from workload import RepResult, ingest, make_inputs, serve

    p = {**workload_params("replay_trickle", "tiny"), "lookups": 0}
    inputs = make_inputs(spark, p, 5, tmp_path / "wal")
    tracer = Tracer(spark, "test", False)

    intact = RepResult()
    serve(spark, p, inputs, ingest(spark, p, p, inputs, tmp_path / "a", tracer, intact),
          tracer, intact)
    assert intact.failed == 0, intact.failures

    corrupted = RepResult()
    table = ingest(spark, p, p, inputs, tmp_path / "b", tracer, corrupted)
    # change one content value inside one live data file
    f = next(f for fs in table.snapshot["buckets"].values() for f in fs if f.get("rows"))
    path = Path(table.root) / f["path"]
    data = pq.ParquetFile(path).read()
    content = data.column("content").to_pylist()
    content[0] = (content[0] or "") + "!"
    data = data.set_column(data.schema.get_field_index("content"), "content", [content])
    pq.write_table(data, path)
    serve(spark, p, inputs, table, tracer, corrupted)
    assert corrupted.failed == 1
    assert corrupted.failures[0].startswith("final state digest")


def test_fails_without_the_engine(tmp_path: Path) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    for d in BENCH["paths"]:
        shutil.copytree(ROOT / d, tmp_path / d, ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert "correct" not in p.stdout
