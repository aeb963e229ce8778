"""Session, counters and sampling shared by every workload.

* :func:`start_session` sizes a local Spark session to the machine and keeps
  every file Spark writes inside the benchmark's work directory.
* :class:`Counters` reads one job group's jobs and stages from the Spark
  status store (never a before/after delta of the whole store, which goes
  wrong once ``spark.ui.retainedStages`` evicts).
* :class:`RssPeak` samples the resident memory of the JVM and its Python
  workers.
* :func:`fingerprint_cols` is the order-independent output signature: row
  count plus the sum of ``xxhash64`` over rows.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Spark keeps 100 generated classes by default; a job of either graded
# workload makes about 200, so with the default every timed job compiled
# them again and its time followed the JIT's progress on the fresh classes
# (measured: job times still falling 10-15% per job after the untimed pass).  Sized to hold
# every class a workload makes, the timed jobs reuse the untimed pass's
# classes; ``codegen.cold_compiles`` and ``codegen.compiles`` count them.
CODEGEN_CACHE_ENTRIES = 1000


def machine_cpus() -> int:
    return len(os.sched_getaffinity(0))


def machine_heap_gb() -> int:
    """A quarter of physical memory, between 1 and 2 GiB: the JVM shares
    the machine with the Python workers and everything else on it, and the
    inputs are small."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(2, total // (4 << 30)))


@dataclass
class Session:
    spark: object
    cpus: int
    heap_gb: int
    shuffle_partitions: int
    start_s: float

    def describe(self, seed: int) -> dict:
        sc = self.spark.sparkContext
        return {
            "seed": seed,
            "cpus": self.cpus,
            "master": sc.master,
            "heap_gb": self.heap_gb,
            "shuffle_partitions": self.shuffle_partitions,
            "codegen_cache_entries": CODEGEN_CACHE_ENTRIES,
            "spark": self.spark.version,
            "python": platform.python_version(),
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "git_sha": git_sha(),
        }


def git_sha() -> str:
    """The checked-out commit, or ``unknown`` outside a git work tree."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
            # never look above the checkout for a repository
            env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def start_session(work_dir: Path) -> Session:
    """``local[nproc]`` session with a machine-sized heap.  Spark's local
    dirs, warehouse and the JVM's temp dir all live under ``work_dir``."""
    t0 = time.perf_counter()
    tmp = work_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work_dir / "spark-local")
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from osm_wikidata_spark.session import build_session

    cpus = machine_cpus()
    heap = machine_heap_gb()
    partitions = 2 * cpus
    spark = build_session(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=partitions,
        extra_conf={
            "spark.driver.memory": f"{heap}g",
            # a fixed, pre-touched heap: otherwise the JVM's resident size
            # follows the collector's heap growth, which differs run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{heap}g -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": str(work_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return Session(spark, cpus, heap, partitions, time.perf_counter() - t0)


def stop_session(session: Session) -> None:
    """Stop Spark, then end the JVM and wait for it: the Python workers
    are its children and go with it."""
    from pyspark import SparkContext

    session.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------- counters


def codegen_compiles(spark) -> int:
    """Generated classes compiled so far in this JVM (each codegen cache
    miss compiles one)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _first_number(text: str | None) -> int:
    """SQL metric values are formatted: ``"12,345"`` for a single task, or
    ``"total (min, med, max ...)\\n12,345 (...)"`` when summed over tasks."""
    if not text:
        return 0
    line = text.split("\n")[-1] if "\n" in text else text
    token = line.strip().split(" ")[0].replace(",", "")
    try:
        return int(float(token))
    except ValueError:
        return 0


@dataclass
class GroupStats:
    """One job group's counters."""

    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    task_skew: float = 0.0


class Counters:
    """Job-group scoped reads of the Spark status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def drain(self, timeout_ms: int = 10_000) -> None:
        """The status store is fed asynchronously by the listener bus: wait
        until it has seen every event of the jobs that already ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def read(self, group: str, summaries: bool = False) -> GroupStats:
        """Shuffle (read + write), spill, task and GC numbers over the
        stages of ``group``'s jobs.  With ``summaries``, ``task_skew`` is
        max/median task run time of the group's heaviest stage."""
        self.drain()
        tracker = self.sc.statusTracker()
        jobs = self.job_ids(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        jvm = self.sc._jvm
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        # py4j sees no Scala default arguments: all five are required
        stages = _seq(
            self._store.stageList(
                None, False, summaries, quantiles, jvm.java.util.Collections.emptyList()
            )
        )
        out = GroupStats(jobs=len(jobs))
        heaviest = -1
        for s in stages:
            if s.stageId() not in stage_ids:
                continue
            out.stages += 1
            out.shuffle_bytes += s.shuffleReadBytes() + s.shuffleWriteBytes()
            out.spill_bytes += s.diskBytesSpilled()
            out.run_ms += s.executorRunTime()
            out.gc_ms += s.jvmGcTime()
            dist = s.taskMetricsDistributions()
            if summaries and dist.isDefined() and s.executorRunTime() > heaviest:
                heaviest = s.executorRunTime()
                q = _seq(dist.get().executorRunTime())
                out.task_skew = q[1] / q[0] if q[0] > 0 else 1.0
        return out

    def plan_node_rows(self, group: str, node_name: str) -> int:
        """Sum of ``number of output rows`` over plan nodes named
        ``node_name`` in the SQL executions that ran ``group``'s jobs — for
        ``ArrowEvalPython`` that is the rows crossing the Arrow boundary."""
        self.drain()
        jobs = set(self.job_ids(group))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for e in _seq(sql.executionsList()):
            exec_jobs = {int(j) for j in _seq(e.jobs().keys().toSeq())}
            if not exec_jobs & jobs:
                continue
            values = sql.executionMetrics(e.executionId())
            for node in _seq(sql.planGraph(e.executionId()).allNodes()):
                if node.name() != node_name:
                    continue
                for m in _seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        total += _first_number(v.get() if v.isDefined() else None)
        return total


# --------------------------------------------------------------- RSS peak


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Peak summed RSS of the JVM process tree (the JVM and the Python
    workers it forks), sampled every ``interval`` seconds while active."""

    def __init__(self, spark, interval: float = 0.1):
        self.root = spark.sparkContext._gateway.proc.pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in _proc_tree(self.root))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssPeak":
        self._stop.clear()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ fingerprints


def fingerprint_cols(cols: list[str]):
    """``(count, sum of xxhash64)`` aggregate columns over ``cols`` — the
    shape of ``connected_components``'s signature."""
    from pyspark.sql import functions as F

    return [
        F.count("*").alias("fp_n"),
        # decimal sum: xxhash64 values overflow bigint under ANSI mode
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fp_h"),
    ]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
