"""Process-level plumbing of the replay benchmark: the Spark session, span
tracing, Spark job/stage attribution, JVM GC time and process-tree RSS.

Nothing here knows about workloads; ``workload.py`` drives the engine and
``run.py`` wires the two together.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

# Stage counters summed per span in a traced run (the REST field names of
# Spark's /stages endpoint, the same ones ``metrics.stage_byte_totals`` sums
# over the whole application).
STAGE_COUNTERS = ("shuffleWriteBytes", "inputBytes", "outputBytes")


def spark_conf(work: Path, cpus: int, traced: bool) -> dict[str, str]:
    """The Spark conf every run uses, on top of the engine's session
    defaults.  Every scratch path points inside the benchmark's work dir,
    so a run writes nothing outside its checkout.  The JVM flags are the
    engine's own; only the driver heap is smaller, so that a run fits
    next to other work on a small box."""
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.shuffle.partitions": str(cpus * 2),
        "spark.sql.files.maxPartitionBytes": str(8 << 20),
        "spark.sql.files.openCostInBytes": str(8 << 20),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        # the status REST API (per-span byte counters) needs the UI; the
        # untraced run keeps it off, as the engine's defaults do
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        # the traced run attributes every job and stage to a span at the
        # end, so none may be evicted from the status store before then
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        })
    return conf


def start_spark(root: Path, work: Path, cpus: int, traced: bool):
    """Start a local[cpus] session whose JVM, Python workers and temp
    files all live under ``work``, with the package importable in the
    Python DataSource workers (they are separate processes that only see
    PYTHONPATH, not the driver's sys.path)."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # no .pyc files next to installed packages, from this process or workers
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    # every JVM, the launcher's included: temp files under the work dir,
    # and no hsperfdata file (which the JVM always puts in /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # SPARK_LOCAL_DIRS overrides spark.local.dir in local mode
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.environ.pop("SPARK_MASTER", None)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))

    from cdm_cbioportal_etl_spark.lake import register_lake_datasource
    from cdm_cbioportal_etl_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      extra_conf=spark_conf(work, cpus, traced))
    spark.sparkContext.setLogLevel("ERROR")
    register_lake_datasource(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (local mode: the only JVM)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the Spark JVM and its Python workers) on a background thread.  Each
    process counts its PSS, so pages that forked Python workers share with
    their parent count once, not once per fork."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb() -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls into
    the engine.  When enabled, each span runs under its own Spark job
    group, so its jobs, tasks and stage byte counters are attributed to it
    after the run (``resolve``).  When disabled, ``span`` only yields a
    record and costs nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # wall time spent in tracing-only work
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans opened on a thread with no open span of its own (the
        # replayer's prepare thread) hang under the main thread's phase
        self._phase: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, **attrs}
        if not self.enabled:
            yield rec
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            self.spans.append(rec)
        parent = stack[-1] if stack else self._phase
        rec.update(id=sid, parent=parent, run_id=self.run_id,
                   group=f"{self.run_id}-s{sid}")
        stack.append(sid)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self._add_self(rec["start"] - t0)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                sc.setJobGroup(self.spans[stack[-1]]["group"], "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self._add_self(time.perf_counter() - rec["end"])

    @contextmanager
    def overhead(self):
        """Count a block of tracing-only work (file probes, input-file
        listing) as tracer overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._add_self(time.perf_counter() - t0)

    def _add_self(self, dt: float) -> None:
        with self._lock:
            self.self_s += dt

    @contextmanager
    def phase(self, name: str, **attrs):
        with self.span(name, **attrs) as rec:
            prev, self._phase = self._phase, rec.get("id")
            try:
                yield rec
            finally:
                self._phase = prev

    def resolve(self) -> None:
        """Attach jobs, completed tasks and stage counters to every span,
        from the application's status store (after the listener bus has
        drained)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        deadline = time.time() + 30
        while st.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        jobs = _rest(sc, "jobs")
        stages = _rest(sc, "stages")
        by_stage: dict[int, dict[str, int]] = {}
        for s in stages:
            acc = by_stage.setdefault(int(s["stageId"]), dict.fromkeys(STAGE_COUNTERS, 0))
            for k in STAGE_COUNTERS:
                acc[k] += int(s.get(k, 0))
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        for rec in self.spans:
            js = by_group.get(rec["group"], [])
            rec["jobs"] = len(js)
            rec["tasks"] = sum(int(j.get("numCompletedTasks", 0)) for j in js)
            # under AQE a shuffle stage runs in its own map-stage job and is
            # listed again (skipped) by the job that reads it: count each
            # stage of a span once
            sids = sorted({int(sid) for j in js for sid in j.get("stageIds", [])})
            rec["stage_ids"] = sids
            for k in STAGE_COUNTERS:
                rec[k] = sum(by_stage.get(sid, {}).get(k, 0) for sid in sids)
        self._add_self(time.perf_counter() - t0)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


def _rest(sc, endpoint: str) -> list[dict]:
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{endpoint}"
    with urllib.request.urlopen(url, timeout=60) as fh:
        return json.load(fh)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0

