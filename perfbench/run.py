"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One run stages the workload's seeded inputs,
computes the reference answers, starts a ``local[nproc]`` session, warms
up, then repeats the workload's timed call for ``--seconds`` seconds and at
least the workload's ``min_calls`` times, checking every call's output.
The last stdout line is one JSON object:

* ``--trace 0``: the end-to-end metrics, with the CPU time of the driver
  JVM and its Python workers read from /proc;
* ``--trace 1``: the per-layer metrics.  The run measures a quarter of its
  time untraced (sampling peak RSS), then restarts the session with Spark's
  event log on, repeats the timed call under benchmark-owned job groups,
  times calls into each layer, restarts untraced for another quarter, and
  folds the event log per job group.

See ``perfbench/WORKLOADS.md`` for the workloads and what each metric is.

Everything the run writes goes under ``.bench_work/`` and is removed at
the end.  Host settings are the benchmark's (master, local dirs, one BLAS
thread per Python worker, the repository root on the workers' path); every
other session setting is the program's default.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

WORKLOADS = ("extract_crawl", "dedup_train")
# a timed call still running after this long is cancelled and counted failed
CALL_TIMEOUT_S = 90


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_host(root: str, work: str) -> dict[str, str]:
    """Process environment for the session and its workers; returns the
    session settings the benchmark owns."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "PYTHONPATH": os.pathsep.join(paths),
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}


def _start_spark(host_conf: dict[str, str], extra: dict[str, str] | None = None):
    from manga_translator_spark.session import get_spark

    return get_spark(app="perfbench", master=f"local[{_cores()}]", extra={**host_conf, **(extra or {})})


def _shutdown_jvm() -> None:
    """Stop the gateway JVM PySpark launched and wait for it to exit; its
    Python worker daemon exits with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_descendants(timeout: float = 30) -> None:
    from perfbench.procfs import descendants

    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


@dataclass
class Call:
    tag: str
    wall: float | None = None
    cpu: float | None = None
    result: object = None
    problems: list[str] = field(default_factory=list)


class Runner:
    """Times calls of one workload and keeps the attempted/failed tally."""

    def __init__(self, wl, spark):
        self.wl = wl
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self._pid = os.getpid()

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.wl.work, "out", tag)

    def call(self, tag: str) -> Call:
        """The timed call only; ``finish`` checks it."""
        from perfbench.procfs import cpu_seconds

        c = Call(tag)
        watchdog = threading.Timer(CALL_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        watchdog.start()
        cpu0 = cpu_seconds(self._pid)
        t0 = time.perf_counter()
        try:
            c.result = self.wl.run(self.spark, self.out_dir(tag), tag)
            c.wall = time.perf_counter() - t0
            c.cpu = cpu_seconds(self._pid) - cpu0
        except Exception as e:  # noqa: BLE001 - a failed call is a measured outcome
            traceback.print_exc(file=sys.stderr)
            c.problems.append(f"raised {type(e).__name__}: {str(e)[:200]}")
        finally:
            watchdog.cancel()
        return c

    def finish(self, c: Call, observe=None) -> Call:
        """Check the call's output, let ``observe`` read it, then drop it."""
        if not c.problems:
            try:
                c.problems = self.wl.check(self.out_dir(c.tag), c.result)
                if observe is not None:
                    observe(c, self.out_dir(c.tag))
            except Exception as e:  # noqa: BLE001 - unreadable output fails the check
                traceback.print_exc(file=sys.stderr)
                c.problems.append(f"check raised {type(e).__name__}: {str(e)[:200]}")
        self.tally(c.tag, c.problems)
        shutil.rmtree(self.out_dir(c.tag), ignore_errors=True)
        return c

    def tally(self, tag: str, problems: list[str]) -> None:
        """Count one checked call in attempted, and in failed if it has
        problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"perfbench: {self.wl.name} {tag} failed: {problems}", file=sys.stderr)

    def measure(self, seconds: float, prefix: str, min_calls: int = 1, tracer=None, observe=None) -> list[Call]:
        """Calls tagged prefix0, prefix1, ... until ``seconds`` have passed
        and at least ``min_calls`` ran; with a tracer, each call is a span
        named by its tag."""
        deadline = time.monotonic() + seconds
        done: list[Call] = []
        while len(done) < min_calls or time.monotonic() < deadline:
            tag = f"{prefix}{len(done)}"
            with tracer.span(tag) if tracer else nullcontext():
                c = self.call(tag)
            done.append(self.finish(c, observe))
        return done


def _walls(calls: list[Call]) -> list[float]:
    return [c.wall for c in calls if c.wall is not None]


def setup(wl_cls, work: str, seed: int, host_conf: dict[str, str], traced: bool = False):
    """Inputs, reference answers, session start and the checked warm-up
    calls, one after the other.  Returns (workload, spark, runner, set-up
    seconds)."""
    t0 = time.perf_counter()
    phases = {}

    def phase(name):
        phases[name] = round(time.perf_counter() - t0 - sum(phases.values()), 3)

    wl = wl_cls(work, seed, traced)
    wl.prepare()
    phase("prepare")
    spark = _start_spark(host_conf)
    phase("session")
    runner = Runner(wl, spark)
    warm_walls = warm(runner, "warm")
    phase("warm")
    print(f"perfbench: {wl.name} setup phases {phases} warm walls {warm_walls}", file=sys.stderr)
    return wl, spark, runner, time.perf_counter() - t0


def warm(runner: Runner, prefix: str) -> list[float]:
    """The workload's checked warm-up calls; returns their walls."""
    calls = [runner.finish(runner.call(f"{prefix}{k}")) for k in range(runner.wl.warm_calls)]
    return [round(w, 3) for w in _walls(calls)]


def end_to_end(wl_cls, work, seed, seconds, host_conf) -> tuple:
    from perfbench.procfs import host_steal

    wl, spark, runner, setup_s = setup(wl_cls, work, seed, host_conf)
    steal0 = host_steal()
    calls = runner.measure(seconds, "m", min_calls=wl.min_calls)
    steal = [b - a for a, b in zip(steal0, host_steal())]
    walls = _walls(calls)
    cpus = [c.cpu for c in calls if c.cpu is not None]
    metrics = {
        "rows_per_s": (statistics.median(wl.rows / w for w in walls) if walls else 0.0, "rows/s"),
        "cpu_s_per_krow": (statistics.median(c * 1000 / wl.rows for c in cpus) if cpus else 0.0, "s"),
        "setup_s": (setup_s, "s"),
    }
    print(
        f"perfbench: {wl.name} seed={seed} rows={wl.rows} calls={len(calls)} "
        f"walls_s={[round(w, 3) for w in walls]} cpu_s={[round(c, 3) for c in cpus]} "
        f"host_steal={steal[0] / max(steal[1], 1):.3f}",
        file=sys.stderr,
    )
    return runner, metrics


class Tracer:
    """Benchmark-owned job groups ("bench.<span>") around layer calls.
    ``run_extraction`` sets its own ``lineage_<run_id>_<n>`` groups; a call
    whose run_id is a span name belongs to that span."""

    def __init__(self, spark, runner: Runner):
        self.sc = spark.sparkContext
        self.runner = runner
        self.names: set[str] = set()
        self.main_walls: list[float] = []

    @contextmanager
    def span(self, name: str):
        s = Call(name)
        self.names.add(name)
        self.sc.setJobGroup(f"bench.{name}", name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def record(self, name: str, problems: list[str]) -> None:
        """Count one checked layer call in the run's attempted/failed."""
        self.runner.tally(name, problems)

    def span_of(self, group: str | None) -> str | None:
        if group is None:
            return None
        if group.startswith("bench."):
            return group[len("bench.") :]
        if group.startswith("lineage_"):
            run_id = group[len("lineage_") :].rsplit("_", 1)[0]
            return run_id if run_id in self.names else None
        return None


def _eventlog_conf(log_dir: str) -> dict[str, str]:
    """Spark's event log as one uncompressed JSON-lines file in log_dir."""
    os.makedirs(log_dir)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def per_layer(wl_cls, work, seed, seconds, host_conf) -> tuple:
    from perfbench import eventlog
    from perfbench.procfs import PeakRss
    from perfbench.workloads import ExtractCrawl

    wl, spark, runner, _ = setup(wl_cls, work, seed, host_conf, traced=True)

    def untraced(prefix: str) -> tuple[list[float], int]:
        """Untraced calls for a quarter of the run; (walls, peak RSS)."""
        with PeakRss(os.getpid()) as rss:
            walls = _walls(runner.measure(seconds / 4, prefix))
        return walls, rss.peak

    before, peak_before = untraced("u")
    spark.stop()

    log_dir = os.path.join(os.environ["SPARK_LOCAL_DIRS"], "eventlog")
    spark = runner.spark = _start_spark(host_conf, _eventlog_conf(log_dir))
    tr = Tracer(spark, runner)
    # a new context starts new Python workers; the JVM keeps its JIT state
    with tr.span("warm"):
        runner.finish(runner.call("warm_traced"))

    stage_ms: list[dict[str, float]] = []

    def observe(c: Call, out: str):
        tr.main_walls.append(c.wall)
        if wl_cls is ExtractCrawl:
            stage_ms.append(ExtractCrawl.lineage_stages(out))

    main_spans = [c.tag for c in runner.measure(seconds / 2, "main", tracer=tr, observe=observe)]
    layer = wl.layers(spark, tr)
    spark.stop()

    # untraced again, so that the traced calls sit between two untraced
    # phases and the JIT speeding up over the run does not read as tracing
    spark = runner.spark = _start_spark(host_conf)
    runner.finish(runner.call("warm_after"))
    after, peak_after = untraced("v")
    spark.stop()

    print(
        f"perfbench: {wl.name} untraced walls {[round(w, 3) for w in before]} then {[round(w, 3) for w in after]} "
        f"traced walls {[round(w, 3) for w in tr.main_walls]}",
        file=sys.stderr,
    )
    (log,) = [e.path for e in os.scandir(log_dir) if not e.name.startswith(".")]
    spans = eventlog.fold(log, tr.span_of, wl.pages if wl_cls is ExtractCrawl else None)
    n = len(main_spans)
    main = [spans.get(s, eventlog.SpanTasks()) for s in main_spans]

    def per_call(attr):
        return sum(getattr(s, attr) for s in main) / n

    task_ms = sorted(t for s in main for t in s.task_ms)
    traced_wall = statistics.median(tr.main_walls) if tr.main_walls else 0.0
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(
        {
            "session.task_cpu_s": per_call("cpu_ns") / 1e9,
            "session.task_run_s": per_call("run_ms") / 1e3,
            "session.gc_s": per_call("gc_ms") / 1e3,
            "session.jobs": per_call("jobs"),
            "session.tasks": per_call("tasks"),
            "session.failed_tasks": per_call("failed_tasks"),
            "session.task_skew": task_ms[-1] / max(statistics.median(task_ms), 1) if task_ms else 0.0,
            "session.shuffle_write_mb": per_call("shuffle_write") / 1e6,
            "session.shuffle_read_mb": per_call("shuffle_read") / 1e6,
            "session.spill_mb": per_call("spill") / 1e6,
            "session.python_in_mb": per_call("python_in") / 1e6,
            "session.python_out_mb": per_call("python_out") / 1e6,
            "session.peak_rss_mb": max(peak_before, peak_after) / 1e6,
            "bench.tracing_overhead": traced_wall / statistics.median(before + after) if before + after else 0.0,
        }
    )
    if stage_ms:
        for k in ("parse_ms", "recognize_ms", "assemble_ms"):
            m[f"operators.fused.{k}"] = statistics.median(s[k] for s in stage_ms)
        busy = sum(m[f"operators.fused.{k}"] for k in ("parse_ms", "recognize_ms", "assemble_ms"))
        m["operators.fused.udf_busy_share"] = busy / 1e3 / (traced_wall * _cores())
        m["operators.fused.arrow_in_mb"] = m["session.python_in_mb"]
        m["operators.fused.arrow_out_mb"] = m["session.python_out_mb"]
        m["sources.lineage.scan_amplification"] = per_call("scan_records") / wl.rows
        m["sources.lineage.groups"] = statistics.median(s["groups"] for s in stage_ms)
        m["sources.lineage.group_s_max"] = statistics.median(s["group_s_max"] for s in stage_ms)
    if "dedup.clusters" in spans:
        m["operators.dedup.cluster_jobs"] = spans["dedup.clusters"].jobs
    m.update(layer)
    return runner, {k: (v, PER_LAYER[k]) for k, v in m.items()}


# per-layer metric -> unit; every traced run reports all of them, 0 where
# the workload does not call the layer
PER_LAYER = {
    "operators.fused.parse_ms": "ms",
    "operators.fused.recognize_ms": "ms",
    "operators.fused.assemble_ms": "ms",
    "operators.fused.udf_busy_share": "ratio",
    "operators.fused.image_pages.parse_ms": "ms",
    "operators.fused.image_pages.recognize_ms": "ms",
    "operators.fused.arrow_in_mb": "MB",
    "operators.fused.arrow_out_mb": "MB",
    "functions.blocks.ms_per_page": "ms",
    "functions.recognize_kernel.images": "count",
    "functions.recognize_kernel.ms_per_image": "ms",
    "functions.recognize_kernel.nonblank_ratio": "ratio",
    "sources.pages.scan_s": "s",
    "sources.pages.input_mb": "MB",
    "sources.lineage.groups": "count",
    "sources.lineage.scan_amplification": "ratio",
    "sources.lineage.overhead_s": "s",
    "sources.lineage.group_s_max": "s",
    "operators.text_analysis.gate_s": "s",
    "operators.text_analysis.keep_ratio": "ratio",
    "operators.dedup.exact_s": "s",
    "operators.dedup.lsh_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.pair_yield": "ratio",
    "operators.dedup.clusters_s": "s",
    "operators.dedup.cluster_jobs": "count",
    "operators.similarity.near_dup_s": "s",
    "operators.similarity.in_bucket_s": "s",
    "operators.similarity.semantic_s": "s",
    "operators.similarity.candidate_pairs": "count",
    "operators.similarity.near_dup_pairs": "count",
    "operators.similarity.pair_yield": "ratio",
    "session.task_cpu_s": "s",
    "session.task_run_s": "s",
    "session.gc_s": "s",
    "session.jobs": "count",
    "session.tasks": "count",
    "session.failed_tasks": "count",
    "session.task_skew": "ratio",
    "session.shuffle_write_mb": "MB",
    "session.shuffle_read_mb": "MB",
    "session.spill_mb": "MB",
    "session.python_in_mb": "MB",
    "session.python_out_mb": "MB",
    "session.peak_rss_mb": "MB",
    "bench.tracing_overhead": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "manga_translator_spark", "session.py")):
        print("perfbench: run from the repository root (no manga_translator_spark package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    host_conf = _configure_host(root, work)
    try:
        from perfbench.workloads import WORKLOADS as CLASSES

        bench = per_layer if args.trace else end_to_end
        runner, metrics = bench(CLASSES[args.workload], work, args.seed, args.seconds, host_conf)
    finally:
        _shutdown_jvm()
        _wait_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
