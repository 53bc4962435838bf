"""Seeded, oracle-checked benchmark of the KG pipeline and dedup jobs.

    python3 perfbench/run.py --workload kg_hmm_graph --seed 1 --seconds 12 --trace 0

Run from the repository root. One process is one client in a closed
loop: it runs the workload's batch job on ``local[nproc]``, one job at a
time, for ``--seconds`` seconds and at least two jobs, and checks every
job's output tables against the oracles. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of untraced jobs:

- ``setup_s``: the cold start a ``spark-submit`` user pays: JVM launch,
  session, Python workers, lazy resources (gazetteer tries) and codegen,
  measured as session start plus one job on a tiny corpus of the same
  workload. Generating the inputs is not part of set-up. A run sets up
  once: a second cold start needs a new process (about 25-30 s on four
  cores), and restarting the SparkContext inside the warm JVM measures a
  different, cheaper thing, so the median is taken across runs.
- ``job_s_p50`` and ``job_s_tail``: wall time per timed job, median and
  slowest. Timing starts after one untimed full-size job: the first
  full-size job of a JVM runs while HotSpot is still compiling the hot
  code, 15-30% slower than the next ones by an amount that varies from
  run to run. A run holds far fewer than the 20 jobs a percentile with
  ten samples beyond it needs, so the tail is the slowest job of the
  run; ``attempted`` is the sample count plus the warm-up job.
- ``docs_per_s``: input docs / ``job_s_p50``.
- ``cpu_s_per_kdoc``: CPU seconds of the whole process tree (this
  driver process, the JVM, the pyspark daemon and workers) per 1,000
  input docs, median over jobs. The JVM's JIT compiler threads are left
  out (see proctree.py): what they compile during a job varies by up
  to a third of the job's CPU between runs.
- ``peak_rss_mb``: peak summed RSS of that tree during a job, median
  over jobs. The JVM heap is fixed and pre-touched (see ``_isolate``),
  so this moves with the memory outside the Java heap.
- ``heap_live_mb``: JVM heap in use after full GCs at the end of a job
  (see ``live_heap_bytes``), before its caches are dropped, median over
  jobs: Spark's own state plus the tables the job keeps cached. Peaks of
  transient data inside a job do not show in it.

``failed`` counts jobs, the warm-up job included, that raised or whose
outputs did not match the oracles (ops_failed = failed / attempted).

``--trace 1`` runs untraced jobs for ``--seconds`` seconds, then one
traced job and one more untraced job, and reports the per-layer metrics
of tracing.py.

Everything the run writes stays under ``perfbench/_work/``; a run that
has not ended after 170 s fails without a result.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from proctree import TreeSampler, tree
from tracing import NullTracer, Tracer, metric_units, pipeline_hooks
from workloads import (
    WORKLOADS,
    check_outputs,
    expected_outputs,
    run_job,
    short_page_diffs,
    write_inputs,
)

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = "weak_supervision_for_ner_spark"
DRIVER_MEMORY = "2g"
WARMUP_DOCS = 32
MIN_JOBS = 2          # a median needs more than one sample
RUN_LIMIT_S = 170     # a run that has not ended by then fails


def _isolate(work: Path) -> None:
    """Keep every file the run writes under ``work`` and let the Python
    workers import the program from the checkout."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM writes its perf counters and extracted native libraries to
    # java.io.tmpdir, /tmp by default
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    # A fixed, pre-touched heap, smaller than the program's 8g default
    # (the jobs keep about 150 MB live): left to grow, the JVM's resident
    # size follows G1's sizing decisions and spread by about 20% between
    # runs. peak_rss_mb then moves with the memory outside the Java heap
    # (Python driver, daemon and workers, Arrow and other native
    # buffers), and heap_live_mb measures the heap.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch '
        # keeps the JIT compiler threads alive, so that their CPU can be
        # read and left out of cpu_s_per_kdoc (see proctree.py)
        f'-XX:-UseDynamicNumberOfCompilerThreads" pyspark-shell')
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


class Session:
    """The Spark session, pinned to this machine's cores; ``close``
    stops it and waits for the JVM and its Python workers to exit."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self):
        from weak_supervision_for_ner_spark.config import get_spark

        self.spark = get_spark("perfbench", cores=self.cores)
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        _wait_for_children(30)


def _wait_for_children(timeout: float) -> None:
    """Wait until no process started by this one is left."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if set(tree(me)) <= {me}:
            return
        time.sleep(0.2)
    for pid in set(tree(me)) - {me}:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


@dataclass
class Job:
    """One job that passed the gate."""
    wall_s: float
    cpu_s: float              # of the process tree
    peak_rss: int             # bytes, of the process tree
    live_heap: int            # bytes of JVM heap in use after a full GC at the job's end
    fitted: list              # the HMMs the job fitted


def live_heap_bytes(spark) -> int:
    """JVM heap in use after full collections, once Spark's ContextCleaner
    has let go of what the finished jobs' RDDs, shuffles and broadcasts
    held: Spark's own state plus the tables the job keeps cached. Each
    collection lets the cleaner drop one more layer of references, so a
    single reading spread by 30% from job to job; the heap is collected
    until two readings agree within 1 MB (three or four collections)."""
    # Java objects that Python reference cycles hold stay alive until
    # Python's cycle collector frees the py4j proxies
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(8):
        jvm.System.gc()
        prev, used = used, heap.getHeapMemoryUsage().getUsed()
        if prev is not None and abs(used - prev) < 2**20:
            break
        time.sleep(0.2)   # the cleaner polls its reference queue every 0.1 s
    return used


def _serve_oracles(conn) -> None:
    """Child process: receive one set of expected_outputs arguments and
    send back the result, or the exception it raised."""
    args = conn.recv()
    try:
        result = expected_outputs(*args)
    except Exception as exc:  # noqa: BLE001 — raised again in the parent
        result = exc
    conn.send(result)


class Oracles:
    """The oracles' expected outputs, computed in a child process while
    the warm-up job runs. The child is forked before the Spark session
    starts: a process forked while it holds py4j proxies can free them
    in its garbage collector and so send commands on the parent's
    gateway connection."""

    def __init__(self):
        ctx = multiprocessing.get_context("fork")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve_oracles, args=(child,), daemon=True)
        self._proc.start()
        child.close()
        self._expected = None

    def submit(self, *args) -> None:
        self._conn.send(args)

    def result(self):
        """The Expected; waits for the child the first time."""
        if self._expected is None:
            res = self._conn.recv()
            self._proc.join()
            if isinstance(res, Exception):
                raise res
            self._expected = res
        return self._expected

    def close(self) -> None:
        if self._proc.is_alive():
            self._proc.kill()
        self._proc.join()


class Bench:
    def __init__(self, wl, seed: int):
        self.wl = wl
        self.seed = seed
        self.work = BENCH_DIR / "_work" / f"{wl.name}-{os.getpid()}"
        self.cores = os.cpu_count() or 1
        self.session = Session(self.cores)
        self.attempted = 0
        self.failed = 0
        self.short_diffs: dict[str, int] = {}   # of the last job that passed the gate
        self.oracles: Oracles | None = None

    # -- phases ------------------------------------------------------

    def set_up(self) -> float:
        """Cold start plus one job on a tiny corpus; returns its time."""
        self.oracles = Oracles()   # forked before the session starts
        write_inputs(self.wl, WARMUP_DOCS, self.seed + 1, self.work / "warmup", self.cores)
        t0 = time.perf_counter()
        spark = self.session.start()
        self._job(spark, self.work / "warmup", self.work / "warmup_out")
        spark.catalog.clearCache()
        return time.perf_counter() - t0

    def prepare(self) -> None:
        """Main inputs, the oracles' expected outputs and one full-size
        warm-up job, none of them timed. The oracles run in a second
        process while the warm-up job runs, which shortens the run by
        their time; the job's check waits for them and for the process
        to end."""
        pages = write_inputs(self.wl, self.wl.n_docs, self.seed, self.work / "inputs", self.cores)
        self.oracles.submit(self.wl, pages, self.work / "inputs")
        self.checked_job()
        self.session.spark.catalog.clearCache()

    def _job(self, spark, inputs: Path, out: Path, tracer=None, sampler=None):
        tracer = tracer or NullTracer()
        fitted: list = []
        with pipeline_hooks(tracer, fitted), sampler or contextlib.nullcontext():
            t0 = time.perf_counter()
            mentions = run_job(spark, self.wl, inputs, out, tracer)
            wall = time.perf_counter() - t0
        return wall, mentions, fitted

    def checked_job(self, tracer=None) -> Job | None:
        """One attempted job; None when it raised or its outputs failed
        the gate. The job's caches stay until the caller clears them."""
        spark = self.session.spark
        out = self.work / "out"
        sampler = TreeSampler()
        self.attempted += 1
        try:
            wall, mentions, fitted = self._job(
                spark, self.work / "inputs", out, tracer, sampler)
            live_heap = live_heap_bytes(spark)
            expected = self.oracles.result()
            errors = check_outputs(self.wl, out, expected, mentions, fitted)
        except Exception:  # noqa: BLE001 — a failed job counts, the run goes on
            traceback.print_exc()
            errors = ["job raised"]
        if errors:
            self.failed += 1
            print(f"# output check failed: {'; '.join(errors)}", file=sys.stderr)
            return None
        self.short_diffs = short_page_diffs(out, expected)
        return Job(wall, sampler.cpu_s, sampler.peak_rss, live_heap, fitted)

    def timed_jobs(self, seconds: float) -> list[Job]:
        results = []
        first = self.attempted
        t0 = time.perf_counter()
        while self.attempted - first < MIN_JOBS or time.perf_counter() - t0 < seconds:
            res = self.checked_job()
            self.session.spark.catalog.clearCache()
            if res is not None:
                results.append(res)
        return results


def end_to_end(bench: Bench, setup_s: float, results: list[Job]) -> dict[str, tuple[float, str]]:
    p50 = statistics.median(j.wall_s for j in results)
    return {
        "setup_s": (setup_s, "s"),
        "job_s_p50": (p50, "s"),
        "job_s_tail": (max(j.wall_s for j in results), "s"),
        "docs_per_s": (bench.wl.n_docs / p50, "1/s"),
        "cpu_s_per_kdoc": (statistics.median(j.cpu_s for j in results) * 1000 / bench.wl.n_docs, "s"),
        "peak_rss_mb": (statistics.median(j.peak_rss for j in results) / 2**20, "MB"),
        "heap_live_mb": (statistics.median(j.live_heap for j in results) / 2**20, "MB"),
    }


def per_layer(bench: Bench, results: list[Job]) -> dict[str, tuple[float, str]]:
    """One traced job between two untraced ones. Job times still fall
    over the first jobs of a JVM, so the tracing overhead compares the
    traced job with the mean of its two untraced neighbours."""
    tracer = Tracer(bench.session.spark)
    traced = bench.checked_job(tracer)
    if traced is None:
        return {}
    print(f"# triples.extract path: {tracer.labels.get('triples.extract')}", file=sys.stderr)
    # the canonicalize outcome is read from the traced job's cached
    # output, so the report runs before the caches are dropped
    values = tracer.report(traced.wall_s, traced.fitted)
    bench.session.spark.catalog.clearCache()
    after = bench.checked_job()
    bench.session.spark.catalog.clearCache()
    if after is None:
        return {}
    values["trace.overhead_s"] = traced.wall_s - (results[-1].wall_s + after.wall_s) / 2
    values["dedup.drop_near_duplicates.short_page_diffs"] = bench.short_diffs.get("survivors", 0)
    values["dedup.ngram_jaccard_pairs.short_page_diffs"] = bench.short_diffs.get("pairs", 0)
    units = metric_units()
    return {name: (values[name], units[name]) for name in units}


def run(wl, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run; returns the result object."""
    bench = Bench(wl, seed)
    shutil.rmtree(bench.work, ignore_errors=True)
    _isolate(bench.work)
    try:
        t0 = time.perf_counter()
        setup_s = bench.set_up()
        t1 = time.perf_counter()
        bench.prepare()
        t2 = time.perf_counter()
        results = bench.timed_jobs(seconds)
        print(f"# phases: set-up {t1 - t0:.1f}s, inputs, oracles and warm-up job {t2 - t1:.1f}s, "
              f"timed jobs {time.perf_counter() - t2:.1f}s", file=sys.stderr)
        if not results:
            metrics = {}
        elif trace:
            metrics = per_layer(bench, results)
        else:
            metrics = end_to_end(bench, setup_s, results)
        print(f"# {wl.name} seed={seed} docs={bench.wl.n_docs} cores={bench.cores} "
              f"setup={setup_s:.2f}s "
              f"jobs={[round(j.wall_s, 3) for j in results]} "
              f"ops_failed={bench.failed}/{bench.attempted}", file=sys.stderr)
        short_docs = bench.oracles.result().short_docs
        if short_docs:
            print(f"# dedup pages of fewer than 3 words, outside the gate: "
                  f"{len(short_docs)}; rows in only one of the program's and the "
                  f"oracle's output: {bench.short_diffs}", file=sys.stderr)
    finally:
        if bench.oracles is not None:
            bench.oracles.close()
        bench.session.close()
        shutil.rmtree(bench.work, ignore_errors=True)
    return {
        "correct": bench.failed == 0 and bool(metrics),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: the program ({PACKAGE}/) is not in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    def give_up(_signum, _frame):
        raise TimeoutError(f"the run did not end within {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, give_up)
    signal.alarm(RUN_LIMIT_S)
    result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
