"""Benchmark of the entity-resolution pipeline and the curation operators.

    python3 perfbench/run.py --workload er_sparse --seed 1 --seconds 25 --trace 0

Run from the repository root.  One process runs one workload against a
``local[nproc]`` Spark session:

1. set-up: session start, input generation and materialisation (done
   twice; the median counts), then the workload's untimed passes: the
   first also starts the Python workers, and a workload whose second job
   still runs well slower than its third runs two;
2. ``--trace 0``: timed jobs, one after another (a closed loop with one
   client), for about ``--seconds`` seconds and at least two jobs; each
   job's counters come from its own Spark job group.  Prints the
   end-to-end metrics, medians over the jobs;
3. ``--trace 1``: one untimed-layer job, then the same work one layer at a
   time, each under its own job group.  Prints the per-layer metrics.

Every job's output is checked: its fingerprint (count + sum of xxhash64
over rows) must equal the untimed pass's, and the one in
``perfbench/expected.json`` for the seed recorded there; the ER workloads
must reach pairwise F1 >= 0.99 against the generator's truth, and the
curation workload must find its planted duplicates.  The last line of
standard output is one JSON object; the exit code is 0 only if every check
passed.  Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PREPARE_REPEATS = 2
# the timed loop runs at least this many jobs, so a median has company
MIN_JOBS = 2
MIN_F1 = 0.99
# the process must end within 180 s: stop sampling well before
SAMPLING_DEADLINE_S = 140.0


def _load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _load_expected() -> dict:
    with open(HERE / "expected.json") as f:
        return json.load(f)


def _say(text: str) -> None:
    print(f"# {text}", flush=True)


class Run:
    """One benchmark process: set-up, then the timed or traced part."""

    def __init__(self, args, session, work: Path):
        import workloads

        self.args = args
        self.session = session
        self.spark = session.spark
        self.workload = workloads.WORKLOADS[args.workload](work)
        self.expected = _load_expected().get(args.workload)
        self.failures: list[str] = []
        self.attempted = 0
        self.reference = None
        self.cold_compiles = 0

    def fail(self, why: str) -> None:
        self.failures.append(why)
        print(f"perfbench: check failed: {why}", file=sys.stderr, flush=True)

    def check(self, result, label: str) -> bool:
        """Fingerprint and quality gate for one job's output."""
        n_before = len(self.failures)
        if result.fingerprint != self.reference:
            self.fail(f"{label}: fingerprint {result.fingerprint} != {self.reference}")
        if result.f1 < MIN_F1:
            self.fail(f"{label}: f1 {result.f1:.4f} < {MIN_F1}")
        return len(self.failures) == n_before

    def setup(self) -> float:
        prepare = []
        for _ in range(PREPARE_REPEATS):
            t0 = time.perf_counter()
            self.workload.prepare(self.spark, self.args.seed)
            prepare.append(time.perf_counter() - t0)
        import harness

        warm_s = []
        for i in range(self.workload.warmup_passes):
            compiles = harness.codegen_compiles(self.spark)
            t0 = time.perf_counter()
            warm = self.workload.job(self.spark, f"warmup-{i}")
            warm_s.append(time.perf_counter() - t0)
            if i == 0:
                self.cold_compiles = harness.codegen_compiles(self.spark) - compiles
                self.reference = warm.fingerprint
            else:
                self.check(warm, f"warmup-{i}")
            self.spark.catalog.clearCache()
            gc.collect()
        if self.expected and self.expected["seed"] == self.args.seed:
            if self.reference != self.expected["fingerprint"]:
                self.fail(
                    f"warm-up fingerprint {self.reference} != expected"
                    f" {self.expected['fingerprint']}"
                )
        if warm.f1 < MIN_F1:
            self.fail(f"warm-up: f1 {warm.f1:.4f} < {MIN_F1}")
        setup_s = self.session.start_s + statistics.median(prepare) + sum(warm_s)
        _say(
            f"setup: session {self.session.start_s:.2f} s,"
            f" inputs {statistics.median(prepare):.2f} s (median of {len(prepare)}),"
            f" untimed passes {', '.join(f'{w:.2f}' for w in warm_s)} s (the first"
            f" starts the Python workers and compiled {self.cold_compiles} generated"
            f" classes), fingerprint {self.reference}"
        )
        return setup_s

    def _job(self, group: str):
        self.attempted += 1
        try:
            return self.workload.job(self.spark, group)
        except Exception:  # a failed job is counted, and the run goes on
            traceback.print_exc()
            self.fail(f"{group}: raised")
            return None

    def resume(self) -> float | None:
        """Resume the last durable job after losing its last two stages;
        the resumed components must equal the full run's."""
        self.attempted += 1
        try:
            result = self.workload.resume(self.spark, "resume")
        except Exception:
            traceback.print_exc()
            self.fail("resume: raised")
            return None
        self.check(result, "resume")
        _say(f"resume_s {result.wall_s:.4f}")
        return result.wall_s

    def timed(self, setup_s: float, started: float) -> dict:
        import harness

        counters = harness.Counters(self.spark)
        walls, jobs, shuffle, f1s, extras = [], [], [], [], []
        t_loop = time.perf_counter()
        with harness.RssPeak(self.spark) as rss:
            while True:
                group = f"run-{self.attempted}"
                compiles = harness.codegen_compiles(self.spark)
                result = self._job(group)
                if result is not None and self.check(result, group):
                    stats = counters.read(group)
                    _say(
                        f"{group}: wall {result.wall_s:.3f} s, task time"
                        f" {stats.run_ms / 1000:.3f} s, GC {stats.gc_ms / 1000:.3f} s,"
                        f" {stats.jobs} jobs, {stats.stages} stages, generated classes"
                        f" compiled {harness.codegen_compiles(self.spark) - compiles}"
                    )
                    walls.append(result.wall_s)
                    jobs.append(stats.jobs)
                    shuffle.append(stats.shuffle_bytes)
                    f1s.append(result.f1)
                    extras.append(result.extra)
                self.spark.catalog.clearCache()
                gc.collect()
                now = time.perf_counter()
                per_job = (now - t_loop) / self.attempted
                if now - started + per_job > SAMPLING_DEADLINE_S:
                    break
                if self.attempted >= MIN_JOBS and now - t_loop + per_job > self.args.seconds:
                    break
        if not walls:
            return {}
        n = len(walls)
        _say(f"wall_s samples: {', '.join(f'{w:.3f}' for w in walls)}")
        if self.workload.durable:
            stored = statistics.median(e["stored_bytes_per_input_byte"] for e in extras)
            _say(f"stored_bytes_per_input_byte {stored:.4f} (median of {n})")
        return {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "spark_jobs": statistics.median(jobs),
            "shuffle_bytes": statistics.median(shuffle),
            "peak_rss_mb": rss.peak_mb,
            "f1": min(f1s),
        }

    def traced(self) -> dict:
        import harness

        compiles = harness.codegen_compiles(self.spark)
        untraced = self._job("run-untraced")
        if untraced is None:
            return {}
        job_compiles = harness.codegen_compiles(self.spark) - compiles
        self.check(untraced, "untraced")
        self.attempted += 1
        try:
            m, fp = self.workload.trace(self.spark)
        except Exception:
            traceback.print_exc()
            self.fail("traced run: raised")
            return {}
        if fp != untraced.fingerprint:
            self.fail(f"traced decomposition fingerprint {fp} != {untraced.fingerprint}")
        if m.get("trace.f1", 1.0) < MIN_F1:
            self.fail(f"traced run: f1 {m['trace.f1']:.4f} < {MIN_F1}")
        m["trace.overhead_s"] = m["trace.wall_s"] - untraced.wall_s
        m["codegen.cold_compiles"] = self.cold_compiles
        m["codegen.compiles"] = job_compiles
        if m.get("kernel.pairs_per_s"):
            # single-core kernel seconds for the rows that crossed Arrow,
            # per second of the untraced job
            m["kernel.share"] = m["score.udf_rows"] / m["kernel.pairs_per_s"] / untraced.wall_s
        m.update(untraced.extra)
        if self.workload.durable:
            m["resume_s"] = self.resume() or 0.0
        _say(f"untraced wall_s {untraced.wall_s:.3f}, traced {m['trace.wall_s']:.3f}")
        return m


def _emit(spec: dict, args, values: dict, run: Run) -> bool:
    key = "per_layer" if args.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[key]
    }
    for name, v in metrics.items():
        _say(f"{name:34s} {v['value']:.6g} {v['unit']}")
    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    _say(f"fail_ratio {failed}/{attempted} = {failed / attempted:.3f}")
    correct = failed == 0 and bool(values)
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
    return correct


def main(argv=None) -> int:
    started = time.perf_counter()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=25)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import osm_wikidata_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = _load_spec()

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    session = None
    try:
        session = harness.start_session(work)
        _say("run " + json.dumps(session.describe(args.seed)))
        run = Run(args, session, work)
        setup_s = run.setup()
        values = run.traced() if args.trace else run.timed(setup_s, started)
        _say(f"elapsed {time.perf_counter() - started:.1f} s before shutdown")
        ok = _emit(spec, args, values, run)
    finally:
        if session is not None:
            harness.stop_session(session)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
