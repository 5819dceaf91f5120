#!/usr/bin/env python3
"""Geo-pipeline benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload flood_forecast --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a Spark session through
``session.get_spark`` (``setup_s``), generates the workload's inputs
from the seed, runs one cold pass, then runs warm passes for
``--seconds`` and at least until the workload's warm-up passes and its
counted passes are done. Only the counted passes, which follow the JIT
warm-up, enter ``warm_s`` and ``warm_cpu_s``. Outputs of the cold and
the last pass are checked against references computed here. The session
is stopped and every process it started is waited for before the result
line is printed.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the session also writes Spark's
event log, every call into the program runs under its own job group,
and the metrics are the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procs  # noqa: E402

WORKLOADS = {
    "flood_forecast": "workloads.flood",
    "basin_treeloss": "workloads.basin",
    "dedup_stream": "workloads.dedup",
}
# Local threads plus at most one Python worker per thread stay within
# the 4 vCPUs the bounds were measured on; the heap is fixed so that
# garbage collection does not vary with the host's memory, and touched
# at start so that the resident size does not vary with how much of it
# a run happened to reach.
CPUS = 3
HEAP = "4g"
GIVE_UP_S = 100
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "warm_cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.tables.load_s": "s",
    "sources.tables.load_jobs": "count",
    "operators.flood.build_s": "s",
    "operators.flood.build_jobs": "count",
    "operators.flood.exec_s": "s",
    "operators.flood.shuffle_write_mb": "MB",
    "operators.flood.executor_cpu_s": "s",
    "operators.spatial.build_s": "s",
    "operators.spatial.exec_s": "s",
    "operators.spatial.candidates_per_pixel": "ratio",
    "operators.zonal.exec_s": "s",
    "operators.zonal.shuffle_write_mb": "MB",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.concurrency": "ratio",
}
# Filled by dedup_stream alone, which is not gated (README.md); printed
# by its traced run besides PER_LAYER.
STREAM_LAYER = {
    "streaming.dedup.batch_s": "s",
    "streaming.dedup.jobs_per_batch": "count",
    "streaming.dedup.persisted_rdds_end": "count",
}


def configure_env(work: str, trace: bool) -> None:
    """Everything Spark writes goes under ``work``; the event log is
    switched on from outside the program, through launch confs."""
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                                         f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    submit = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    # The Python workers import the program by name; the repository has
    # no packaging, so they only find it through PYTHONPATH.
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    })


class Spans:
    """Wall time per (pass, layer); in traced runs also a Spark job
    group named ``layer#pass`` around each call into the program."""

    def __init__(self, sc, trace: bool):
        self.sc, self.trace = sc, trace
        self.seconds: dict[tuple[int, str], float] = {}
        self.index = 0

    @contextmanager
    def __call__(self, layer: str):
        if self.trace:
            self.sc.setJobGroup(f"{layer}#{self.index}", layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            key = (self.index, layer)
            self.seconds[key] = self.seconds.get(key, 0.0) + time.perf_counter() - t0
            if self.trace:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it forked."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    tree = procs.descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while not procs.is_gone(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def result(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


def layer_metrics(spans: Spans, passes: list, setup_s: float, log_dir: str,
                  persisted_rdds: int) -> dict:
    """Per-layer metrics: the median over the counted passes of each
    pass's figure, from the spans and the event log."""
    stats, rows_in = eventlog.summarize(eventlog.log_file(log_dir))
    empty = eventlog.GroupStats()

    def groups(i, p):
        return [f"{layer}#{j}" for j, layer in spans.seconds if j == i] + p.get("groups", [])

    def total(i, p):
        out = eventlog.GroupStats()
        for name in groups(i, p):
            s = stats.get(name, empty)
            for f in out.__slots__:
                setattr(out, f, getattr(out, f) + getattr(s, f))
        return out

    def med(fn):
        return statistics.median(fn(i, p) for i, p in passes)

    def secs(layer):
        return med(lambda i, p: spans.seconds.get((i, layer), 0.0))

    def grp(layer, field, scale=1.0):
        return med(lambda i, p: getattr(stats.get(f"{layer}#{i}", empty), field) * scale)

    def stream_jobs(i, p):
        return sum(stats.get(g, empty).jobs for g in p.get("groups", []))

    mb = 1.0 / eventlog.MB
    return {
        "session.start_s": setup_s,
        "sources.tables.load_s": secs("sources.tables"),
        "sources.tables.load_jobs": grp("sources.tables", "jobs"),
        "operators.flood.build_s": secs("operators.flood.build"),
        "operators.flood.build_jobs": grp("operators.flood.build", "jobs"),
        "operators.flood.exec_s": secs("operators.flood"),
        "operators.flood.shuffle_write_mb": grp("operators.flood", "shuffle_write", mb),
        "operators.flood.executor_cpu_s": grp("operators.flood", "cpu_ns", 1e-9),
        "operators.spatial.build_s": secs("operators.spatial.build"),
        "operators.spatial.exec_s": secs("operators.spatial"),
        "operators.spatial.candidates_per_pixel": med(
            lambda i, p: rows_in.get(f"operators.spatial#{i}", 0) / p.get("pixels", 1)),
        "operators.zonal.exec_s": secs("operators.zonal"),
        "operators.zonal.shuffle_write_mb": grp("operators.zonal", "shuffle_write", mb),
        "streaming.dedup.batch_s": med(lambda i, p: p.get("batch_s", 0.0)),
        "streaming.dedup.jobs_per_batch": med(stream_jobs),
        "streaming.dedup.persisted_rdds_end": persisted_rdds,
        "exec.jobs": med(lambda i, p: total(i, p).jobs),
        "exec.stages": med(lambda i, p: total(i, p).stages),
        "exec.tasks": med(lambda i, p: total(i, p).tasks),
        "exec.executor_run_s": med(lambda i, p: total(i, p).run_ms * 1e-3),
        "exec.executor_cpu_s": med(lambda i, p: total(i, p).cpu_ns * 1e-9),
        "exec.gc_s": med(lambda i, p: total(i, p).gc_ms * 1e-3),
        "exec.shuffle_read_mb": med(lambda i, p: total(i, p).shuffle_read * mb),
        "exec.shuffle_write_mb": med(lambda i, p: total(i, p).shuffle_write * mb),
        "exec.spill_mb": med(lambda i, p: total(i, p).spill * mb),
        "exec.concurrency": med(lambda i, p: total(i, p).run_ms * 1e-3 / p["wall"]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("data_pipelines_spark") is None:
        # No program to measure: the cold pass, the one operation every
        # run attempts, fails. No result line goes to stdout, where it
        # would read as a measurement.
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                          "error": "data_pipelines_spark is not importable"}),
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace))
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


class Passes:
    """The operations of one run: a cold pass, then warm passes for the
    window and at least until the warm-up and counted ones are done. The
    outputs of the cold and of the last warm pass are checked."""

    def __init__(self, pipeline, spans: Spans, cpu):
        self.pipeline, self.spans, self.cpu = pipeline, spans, cpu
        self.attempted = self.failed = 0
        self.cold: dict | None = None
        self.warm: list[tuple[int, dict]] = []
        self.errors: list[str] = []

    def one(self) -> dict | None:
        i = self.spans.index = self.attempted
        self.attempted += 1
        cpu0, t0 = self.cpu(), time.perf_counter()
        try:
            info = self.pipeline.run(self.spans)
        except Exception as e:  # a failed pass is counted, the run goes on
            self.failed += 1
            print(f"pass {i} failed: {e!r}", file=sys.stderr)
            return None
        info.update(wall=time.perf_counter() - t0, cpu=self.cpu() - cpu0)
        print(f"pass {i}: wall {info['wall']:.3f} s, cpu {info['cpu']:.2f} s", file=sys.stderr)
        return info

    def verify(self, exp) -> None:
        try:
            self.errors += self.pipeline.verify(exp)
        except Exception as e:  # e.g. an output the program never wrote
            self.errors.append(f"outputs unreadable: {e!r}")

    def run(self, exp, seconds: float) -> None:
        p = self.pipeline
        self.cold = self.one()
        if self.cold is not None:
            self.verify(exp)
        # A run whose passes fail makes no more attempts than a run that
        # only just reaches its counted passes, and no run goes past
        # GIVE_UP_S, well inside the 180 s a run may take.
        t0 = time.perf_counter()
        while not p.exhausted:
            elapsed = time.perf_counter() - t0
            enough = self.attempted > p.warmup + p.counted
            if (enough and (elapsed >= seconds or self.failed)) or elapsed >= GIVE_UP_S:
                break
            info = self.one()
            if info is not None:
                self.warm.append((self.attempted - 1, info))
        if self.warm:
            self.verify(exp)

    @property
    def counted(self) -> list[tuple[int, dict]]:
        # The same pass indices count in every run, so a faster run does
        # not also count passes the JIT has had longer to optimise.
        p = self.pipeline
        return self.warm[p.warmup:p.warmup + p.counted]

    @property
    def correct(self) -> bool:
        """True only if the cold and a warm pass wrote outputs and every
        check of them held: a run with nothing checked is not correct."""
        return self.cold is not None and bool(self.warm) and not self.errors


def measure(args, work: str) -> int:
    from pyspark import SparkContext

    from data_pipelines_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    setup_s = procs.process_age_s()
    jvm = SparkContext._gateway.proc.pid

    mod = importlib.import_module(WORKLOADS[args.workload])
    in_dir = os.path.join(work, "in")
    exp = mod.expected(mod.generate(args.seed, in_dir))
    spans = Spans(spark.sparkContext, bool(args.trace))
    pipeline = mod.Pipeline(spark, in_dir, os.path.join(work, "out"))

    try:
        with procs.RssPeak(jvm) as rss:
            # The program's CPU: the JVM tree, plus this process, which
            # runs the program's Python side, less the memory sampler.
            def cpu() -> float:
                return procs.tree_cpu_s(jvm) + time.process_time() - rss.cpu_s

            passes = Passes(pipeline, spans, cpu)
            passes.run(exp, args.seconds)
            pipeline.close()
            persisted_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    finally:
        stop_session(spark)

    for e in passes.errors:
        print(f"check failed: {e}", file=sys.stderr)
    counted = passes.counted
    correct, attempted, failed = passes.correct, passes.attempted, passes.failed
    if passes.cold is None or not counted:
        print(result(correct, attempted, failed, {}, {}))
        return 1
    metrics = {
        "setup_s": setup_s,
        "cold_s": passes.cold["wall"],
        "warm_s": statistics.median(p["wall"] for _, p in counted),
        "warm_cpu_s": statistics.median(p["cpu"] for _, p in counted),
        "peak_rss_mb": rss.peak / eventlog.MB,
    }
    print(f"[{args.workload} seed={args.seed} trace={args.trace}] warm passes "
          f"{len(passes.warm)} (counted {len(counted)}), Python workers "
          f"{rss.workers / eventlog.MB:.0f} MB, sampler CPU {rss.cpu_s:.2f} s: "
          + json.dumps(metrics), file=sys.stderr)
    if args.trace:
        layers = layer_metrics(spans, counted, setup_s, os.path.join(work, "eventlog"),
                               persisted_rdds)
        units = dict(PER_LAYER, **STREAM_LAYER) if args.workload == "dedup_stream" else PER_LAYER
        print(result(correct, attempted, failed, layers, units))
    else:
        print(result(correct, attempted, failed, metrics, END_TO_END))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
