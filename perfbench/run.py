"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload lakehouse_rw --seed 1 --seconds 5 --trace 0

Run it from the root of a source checkout. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics of a traced
run and writes its spans and per-op records as JSON lines under
``.perfbench_work/traces/``. The line before the result holds the run
context (cpus, seed, commit, load average, DuckDB canary, fail ratio).
The inputs are the project's fixture tables at scale 0.01, kept in
``perfbench/data/sf0.01``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
REQUIRED = ("healthcare_etl_spark/__init__.py", "tests/oracle_harness.py", "bench.py")
DATA_DIR = ROOT / "perfbench" / "data" / "sf0.01"  # 60k lineitem rows, 500 documents
SETUPS = 2  # cold set-ups per run; setup_s is their median
MIN_PASSES = 2  # timed passes per run (and traced ones), however short --seconds is


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    res = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=False
    )
    return res.stdout.strip() or None


def _isolate(run_dir: Path) -> None:
    """Keep Spark, its workers and every temporary file inside ``run_dir``."""
    import tempfile

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [
            "-Dspark.ui.showConsoleProgress=false",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dderby.system.home={run_dir}",
            "-XX:-UsePerfData",  # no hsperfdata file outside the run dir
        ]
    )
    tempfile.tempdir = str(tmp)


def _steal_s() -> float:
    """CPU time this machine's virtual CPUs lost to other guests so far."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(spark) -> float:
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024


def spark_cores(cpus: int) -> int:
    """Task slots for ``local[n]``: half the CPUs, the other half left to
    the driver, its Python workers, the JIT and the garbage collector. In
    interleaved runs on a shared 4-vCPU host, ``local[4]`` took 15-30%
    longer per pass than ``local[2]``."""
    return max(1, cpus // 2)


def _start_spark(app_name: str, cpus: int):
    """A cold ``get_spark``: a new JVM. Returns (session, seconds)."""
    from healthcare_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name, cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> tuple[dict, dict]:
    import bench
    from perfbench import metrics
    from perfbench.harness import Runner, remove_tree
    from perfbench.workloads import Workload

    work = ROOT / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    remove_tree(str(run_dir))
    _isolate(run_dir)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": len(os.sched_getaffinity(0)),
        "spark_cores": spark_cores(len(os.sched_getaffinity(0))),
        "git_commit": _git_commit(),
        "loadavg_start": os.getloadavg(),
        "steal_s": -_steal_s(),
        "canary_start_s": bench.run_canary(1),
        "data_dir": str(DATA_DIR.relative_to(ROOT)),
    }
    app_name = f"perfbench-{args.workload}"

    tracer = None
    spark = None
    try:
        spark, t_spark = _start_spark(app_name, context["spark_cores"])
        t1 = time.perf_counter()
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
            tracer.install()
        from healthcare_etl_spark.plans.registry import get_registry

        registry = get_registry()
        t_registry = time.perf_counter() - t1

        runner = Runner(spark, str(run_dir), tracer)
        wl = Workload(
            args.workload, spark, registry, str(DATA_DIR), str(run_dir), str(ROOT), args.seed,
            str(work / "oracle"),
        )
        try:
            t_check = time.perf_counter()
            if tracer is not None:
                tracer.enabled = False
            runner.run_pass(wl.pass_ops(), "check")
            # The JIT is still compiling through an op's first few runs,
            # which read 10-40% slow; the warm pass leaves those out.
            runner.run_pass(wl.pass_ops(), "warm")
            amp = wl.space_amp(wl.live_rows())  # after a fixed number of commits
            t_timed = time.perf_counter()
            passes, traced_passes = [], []
            if tracer is not None:
                tracer.reset_counts()  # per-layer sums cover the traced passes

            def traced_pass():
                tracer.enabled = True
                traced_passes.append(runner.run_pass(wl.pass_ops(), "traced"))
                tracer.enabled = False

            # A traced run alternates untraced and traced passes, in the
            # order ABBA so that neither gains more from warming up; the
            # difference of the two is the tracing overhead.
            while len(passes) < MIN_PASSES or time.perf_counter() - t_timed < args.seconds:
                traced_first = tracer is not None and len(passes) % 2 == 1
                if traced_first:
                    traced_pass()
                passes.append(runner.run_pass(wl.pass_ops(), "timed"))
                if tracer is not None and not traced_first:
                    traced_pass()
            context["check_and_warm_s"] = t_timed - t_check
            context["timed_phase_s"] = time.perf_counter() - t_timed
        finally:
            wl.close()
        context["peak_rss_mb"] = _peak_rss_mb(spark)
        _stop_spark(spark)
        # More cold set-ups, each a new JVM, so setup_s is a median, not one draw.
        spark_starts = [t_spark]
        for _ in range(SETUPS - 1):
            spark, t = _start_spark(app_name, context["spark_cores"])
            _stop_spark(spark)
            spark_starts.append(t)
        spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        cleanup_problems = remove_tree(str(run_dir))

    context["canary_end_s"] = bench.run_canary(1)
    context["loadavg_end"] = os.getloadavg()
    context["steal_s"] += _steal_s()
    context["get_spark_s"] = spark_starts
    context["registry_load_s"] = t_registry
    context["space_amp_base"] = {
        "disk_bytes": amp[1],
        "live_bytes": amp[2],
        "definition": "live rows x bytes per row of each table's first write",
    }
    context["pass_walls_s"] = passes
    if tracer is not None:
        context["traced_pass_walls_s"] = traced_passes
    context["process_s"] = time.perf_counter() - T_START
    return metrics.summarize(
        args, context, runner, passes, statistics.median(spark_starts), t_registry, amp[0],
        tracer, cleanup_problems, str(work / "traces"),
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}, one of {WORKLOADS}",
              file=sys.stderr)
        return 2
    context, result = run(args)
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
