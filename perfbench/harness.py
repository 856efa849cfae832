"""Closed-loop runner: one client, one op at a time, back to back.

A run has four phases on one SparkSession:

1. set-up: ``get_spark`` plus the registry load, timed as ``setup_s``;
2. the check pass: every op once, untimed. Query outputs are compared
   with the DuckDB oracle, scans with the row counts the harness expects;
3. the warm pass: every op again, untimed, while the JIT compiles;
4. the timed passes: every op again, in seeded order, until ``seconds``
   have passed (at least two passes). From the warm pass on, each
   DataFrame is run into a ``noop`` sink, which computes every output
   column, with an ``Observation`` of its row count that is checked
   against the check pass.

Any op that raises or returns a wrong result counts as failed. Cached and
checkpointed blocks are released after every op; a failure to release
counts as a failed op too.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import tempfile
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class Op:
    """One operation of a workload.

    ``run`` builds (and for commits, performs) the work and returns a
    DataFrame to be sunk, or any other value. ``check`` gets the rows of
    the check pass (a pandas frame) or the observed row count of a timed
    pass, and returns a list of problems.
    """

    name: str
    kind: str  # query | commit | scan | ingest
    run: Callable[[], Any]
    check: Callable[[Any, str], list[str]] = lambda _out, _phase: []
    family: str | None = None
    prepare: Callable[[], None] | None = None


@dataclass
class Timing:
    op: str
    kind: str
    family: str | None
    phase: str
    wall_s: float
    problems: list[str] = field(default_factory=list)
    op_id: int = -1
    rows: int | None = None
    check_s: float = 0.0


def sink(df: DataFrame) -> int:
    """Compute every output column (``noop`` sink); return the row count."""
    obs = Observation("perfbench_rows")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["n"]


class Runner:
    def __init__(self, spark, run_dir: str, tracer=None) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.tracer = tracer
        self.timings: list[Timing] = []
        self.op_records: list[dict] = []
        self._n = 0

    # -- one op -------------------------------------------------------------
    def execute(self, op: Op, phase: str) -> Timing:
        """Run one op in its own temp dir; release its blocks afterwards."""
        op_id = self._n
        self._n += 1
        tmp = os.path.join(self.run_dir, "tmp", f"op{op_id}")
        os.makedirs(tmp)
        tempfile.tempdir = tmp
        problems: list[str] = []
        out: Any = None
        wall = check_s = 0.0
        rows = None
        try:
            if op.prepare is not None:
                op.prepare()
            if self.tracer is None or not self.tracer.enabled:
                t0 = time.perf_counter()
                out = op.run()
                if isinstance(out, DataFrame):
                    out = out.toPandas() if phase == "check" else sink(out)
                wall = time.perf_counter() - t0
            else:
                out, wall = self._traced(op, op_id, phase)
            if isinstance(out, int):
                rows = out
            elif hasattr(out, "shape"):
                rows = len(out)
            t_check = time.perf_counter()
            problems += op.check(out, phase)
            check_s = time.perf_counter() - t_check
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            problems.append(f"{type(exc).__name__}: {exc}"[:500])
        problems += self._release()
        timing = Timing(op.name, op.kind, op.family, phase, wall, problems, op_id, rows, check_s)
        self.timings.append(timing)
        return timing

    def _traced(self, op: Op, op_id: int, phase: str):
        tr = self.tracer
        sc = self.spark.sparkContext
        tr.op_id = op_id
        catalyst = {}
        try:
            with tr.span("op") as root:
                sc.setJobGroup(f"perfbench-{op_id}-build", op.name)
                with tr.span("plans.build"):
                    out = op.run()
                if isinstance(out, DataFrame):
                    with tr.span("catalyst"):
                        qe = out._jdf.queryExecution()
                        qe.executedPlan()
                    phases = qe.tracker().phases()
                    for k in ("analysis", "optimization", "planning"):
                        if phases.contains(k):
                            catalyst[k] = phases.apply(k).durationMs()
                    sc.setJobGroup(f"perfbench-{op_id}-exec", op.name)
                    with tr.span("exec"):
                        out = out.toPandas() if phase == "check" else sink(out)
            wall = root["end"] - root["start"]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tr.op_id = None
        build = tr.job_group_metrics(sc, f"perfbench-{op_id}-build")
        execm = tr.job_group_metrics(sc, f"perfbench-{op_id}-exec")
        self.op_records.append(
            {
                "op": op_id,
                "name": op.name,
                "kind": op.kind,
                "family": op.family,
                "phase": phase,
                "wall_s": wall,
                "catalyst_ms": catalyst,
                "build_jobs": build.get("jobs", 0),
                "exec": execm,
                "root_span": root["id"],
            }
        )
        return out, wall

    def _release(self) -> list[str]:
        """Drop cached and checkpointed blocks so ops do not share state."""
        try:
            self.spark.catalog.clearCache()
            for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception as exc:  # noqa: BLE001 - reported as a failed op
            return [f"block release failed: {type(exc).__name__}: {exc}"[:300]]
        finally:
            tempfile.tempdir = os.path.join(self.run_dir, "tmp")
        return []

    # -- passes -------------------------------------------------------------
    def run_pass(self, ops: list[Op], phase: str) -> float:
        """Run ``ops`` in order, one at a time; return the summed op time."""
        return sum(self.execute(op, phase).wall_s for op in ops)


# -- statistics ---------------------------------------------------------------
def percentile(values: list[float], q: int) -> float:
    """The ``q``-th percentile (inclusive method); the value itself for n=1."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def per_op_fastest(timings: list[Timing]) -> dict[str, float]:
    """Each op's fastest time. The JIT keeps speeding ops up through the
    first timed passes and other tenants only ever slow them down, so the
    fastest of several runs is the steadiest figure for an op."""
    by_op = defaultdict(list)
    for t in timings:
        by_op[t.op].append(t.wall_s)
    return {k: min(v) for k, v in by_op.items()}


def fastest_pass(timings: list[Timing], n_passes: int) -> float:
    """One pass with every op at its fastest. Each pass runs the same ops,
    so this is the sum over all timings of their op's fastest time, per pass."""
    fastest = per_op_fastest(timings)
    return sum(fastest[t.op] for t in timings) / n_passes


def remove_tree(path: str) -> list[str]:
    """Remove ``path``; return a problem if anything is left behind."""
    shutil.rmtree(path, ignore_errors=True)
    return [f"could not remove {path}"] if os.path.exists(path) else []
