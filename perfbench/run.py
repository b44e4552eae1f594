#!/usr/bin/env python3
"""Benchmark of the building-energy Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run starts a Spark session on
``local[<cores>]``, stages the seed's inputs, runs one cold pass of the
workload, then warm passes until ``--seconds`` have passed and the
workload's minimum number of warm passes has run, checks every output
against DuckDB, and prints one JSON object as its last line of standard
output. With ``--trace 0`` the metrics are the
end-to-end ones in ``BENCHMARK.json``; with ``--trace 1`` the program's
public functions are wrapped in spans and the per-layer ones are
reported instead. The line before it holds the workload's detailed
figures (see NOTES.md). Everything the run writes stays under
``.perfbench_work/`` in the current directory and is removed at exit,
except the spans of a traced run: ``.perfbench_work/spans/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGE_REPEATS = 3  # input staging is repeated and its median reported
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    """Progress on standard error, with seconds since the process began."""
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _steal_s() -> float:
    """CPU time the hypervisor gave other guests, all CPUs, since boot
    (Linux ``/proc/stat``; 0 elsewhere). Its growth over the timed passes
    tells a slow run on a busy host from a slow program."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus its child processes
    (the driver JVM), sampled every 50 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._stop_event = threading.Event()

    def _children(self) -> list[int]:
        out = []
        try:
            with open(f"/proc/{os.getpid()}/task/{os.getpid()}/children") as fh:
                out = [int(p) for p in fh.read().split()]
        except OSError:
            pass
        return out

    def run(self) -> None:
        while not self._stop_event.wait(0.05):
            total = _rss_mb(os.getpid()) + sum(_rss_mb(p) for p in self._children())
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        self._stop_event.set()
        self.join(timeout=5)
        return self.peak


def _start_session(work: str, cores: int, trace: bool):
    from building_energy_data_pipeline_spark.session import get_spark

    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=extra
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # everything the run writes, Spark's and Python's temporary files
    # included, goes under the current directory
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM (Spark's launcher included) writes its perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    tempfile.tempdir = None
    # local[cores] with as many shuffle partitions, set before the program
    # reads its defaults at import
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)
    try:
        import building_energy_data_pipeline_spark  # noqa: F401 — fail before any work without the program
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return _run(args, work, cores, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
        _log("stopped")


def _run(args, work: str, cores: int, workload_cls) -> int:
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        wall0, t0 = time.time(), time.perf_counter()
        spark = _start_session(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
        _log("session started")

        from spans import NullTracer, Tracer

        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = workload_cls(spark, work, args.seed, tracer)

        # -- set-up: input staging (repeated, median), the workload's own
        # set-up, then a warm-up outside every measured code path
        stage_times = []
        for _ in range(STAGE_REPEATS):
            s0 = time.perf_counter()
            wl.stage(os.path.join(work, "in"))
            stage_times.append(time.perf_counter() - s0)
        s0 = time.perf_counter()
        with tracer.span("bench.setup"):
            wl.setup()
        rest_s = time.perf_counter() - s0
        w0 = time.perf_counter()
        with tracer.span("session.warmup"):
            wl.warmup()
        warmup_s = time.perf_counter() - w0
        setup_s = session_s + statistics.median(stage_times) + rest_s + warmup_s
        _log(f"set up: staging {stage_times}, set-up {rest_s:.1f}s, warm-up {warmup_s:.1f}s")

        if args.trace:
            from spans import install

            install(tracer)

        # -- timed passes: one cold, then warm ones until the window closes
        steal0 = _steal_s()
        deadline = time.perf_counter() + args.seconds
        with tracer.span("bench.cold"):
            wl.passes.append(wl.run_pass(cold=True))
        while time.perf_counter() < deadline or len(wl.passes) <= wl.min_warm:
            with tracer.span("bench.warm"):
                wl.passes.append(wl.run_pass(cold=False))

        steal_s = _steal_s() - steal0
        _log(f"{len(wl.passes)} passes run, {steal_s:.1f}s of CPU stolen by the host")
        if args.trace:
            tracer.uninstall()
        attempted, failed = wl.check()
        peak_rss = sampler.stop()
        _log("outputs checked")

        from report import detail, end_to_end, per_layer

        info = detail(wl, cores, setup_s, session_s, warmup_s, peak_rss, steal_s, attempted, failed)
        if args.trace:
            tracer.add("session.start", wall0, wall0 + session_s)
            tracer.attach_jobs()
            metrics = per_layer(wl, tracer, cores, session_s, warmup_s)
            spans_dir = os.path.join(os.path.dirname(work), "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.write(os.path.join(spans_dir, f"{wl.name}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(info)
        print(json.dumps({"workload": wl.name, "detail": info, "failures": wl.failures}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
            from pyspark import SparkContext

            gw = getattr(SparkContext, "_gateway", None)
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                # the JVM exits when its standard input closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)


if __name__ == "__main__":
    sys.exit(main())
