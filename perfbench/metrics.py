"""Turn the timings of a run into the result line and the run record."""

from __future__ import annotations

import os
from collections import defaultdict

from perfbench.harness import fastest_pass, geomean, per_op_fastest, percentile
from perfbench.tracing import self_times

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_geomean_s": "s",
    "commit_p50_s": "s",
    "commit_p90_s": "s",
    "scan_p50_s": "s",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.registry.load_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.core_busy": "ratio",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.parquet_builds": "count",
    "sources.load_table.hit_ratio": "ratio",
    "sources.spread.calls": "count",
    "sources.spread.partitions": "count",
    "sources.delta.read_s": "s",
    "sources.delta.commit_s": "s",
    "sources.iceberg.read_s": "s",
    "sources.iceberg.commit_s": "s",
    "sources.lakehouse.bytes_written": "bytes",
    "sources.lakehouse.files_written": "count",
    "sources.writers.write_s": "s",
    "streaming.ingest_s": "s",
    "operators.dedup.s": "s",
    "operators.similarity.s": "s",
    "operators.text.s": "s",
    "operators.graph.s": "s",
    "operators.multimodal.s": "s",
    "trace.overhead_s": "s",
    "trace.max_unattributed_share": "ratio",
}
# span name -> per-layer self-time metric
SPAN_LAYERS = {
    "sources.load_table": "sources.load_table.s",
    "sources.delta.read": "sources.delta.read_s",
    "sources.delta.commit": "sources.delta.commit_s",
    "sources.iceberg.read": "sources.iceberg.read_s",
    "sources.iceberg.commit": "sources.iceberg.commit_s",
    "sources.writers.write": "sources.writers.write_s",
    "streaming.ingest": "streaming.ingest_s",
}
EXEC_KEYS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb")


def per_table_percentile(timed, kind: str, q: int) -> float:
    """The ``q``-th percentile of the ``kind`` ops on each table, as the
    geometric mean over the tables. Commit and scan ops are named
    ``<table>.<step>``. A Delta and an Iceberg table differ in their usual
    latencies, so a percentile pooled over both would jump between them."""
    by_table = defaultdict(list)
    for t in timed:
        if t.kind == kind:
            by_table[t.op.split(".")[0]].append(t.wall_s)
    return geomean([percentile(v, q) for v in by_table.values()])


def end_to_end(timed, passes, setup_s, space_amp, peak_rss_mb) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "wall_s": fastest_pass(timed, len(passes)),
        "op_geomean_s": geomean(list(per_op_fastest(timed).values())),
        "commit_p50_s": per_table_percentile(timed, "commit", 50),
        "commit_p90_s": per_table_percentile(timed, "commit", 90),
        "scan_p50_s": per_table_percentile(timed, "scan", 50),
        "space_amp": space_amp,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(runner, tracer, t_spark, t_registry, cores, passes, traced_passes):
    """Per-layer sums over the traced passes of a traced run."""
    traced_ids = {t.op_id for t in runner.timings if t.phase == "traced"}
    out: dict[str, float] = defaultdict(float)
    out["session.get_spark_s"] = t_spark
    out["plans.registry.load_s"] = t_registry
    exec_wall = 0.0
    worst_gap = 0.0
    for rec in runner.op_records:
        layers = self_times(tracer.spans, rec["root_span"])
        rec["self_s"] = layers
        if rec["op"] not in traced_ids:
            continue
        for span_name, metric in SPAN_LAYERS.items():
            out[metric] += layers.get(span_name, 0.0)
        build_span = next(
            s for s in tracer.spans if s["parent"] == rec["root_span"] and s["name"] == "plans.build"
        )
        out["plans.build_s"] += build_span["end"] - build_span["start"]
        out["plans.build_jobs"] += rec["build_jobs"]
        for phase, ms in rec["catalyst_ms"].items():
            out[f"catalyst.{phase}_ms"] += ms
        for k in EXEC_KEYS:
            out[f"exec.{k}"] += rec["exec"].get(k, 0.0)
        exec_wall += layers.get("exec", 0.0)
        if rec["family"]:
            out[f"operators.{rec['family']}.s"] += rec["wall_s"]
        # the root span's own time is what no layer span covers
        worst_gap = max(worst_gap, layers.get("op", 0.0) / rec["wall_s"])
    c = tracer.counters
    out["sources.load_table.calls"] = c["sources.load_table.calls"]
    out["sources.parquet_builds"] = c["sources.parquet_builds"]
    calls = c["sources.load_table.calls"]
    out["sources.load_table.hit_ratio"] = 1 - c["sources.parquet_builds"] / calls if calls else 0.0
    out["sources.spread.calls"] = c["sources.spread.calls"]
    out["sources.spread.partitions"] = c["sources.spread.partitions"]
    out["sources.lakehouse.bytes_written"] = c["sources.lakehouse.bytes_written"]
    out["sources.lakehouse.files_written"] = c["sources.lakehouse.files_written"]
    out["exec.core_busy"] = out["exec.run_s"] / (exec_wall * cores) if exec_wall else 0.0
    timed = [t for t in runner.timings if t.phase == "timed"]
    traced = [t for t in runner.timings if t.phase == "traced"]
    out["trace.overhead_s"] = (
        fastest_pass(traced, len(traced_passes)) - fastest_pass(timed, len(passes))
    )
    out["trace.max_unattributed_share"] = worst_gap
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def summarize(args, context, runner, passes, t_spark, t_registry, space_amp, tracer,
              cleanup_problems, trace_dir):
    timed = [t for t in runner.timings if t.phase == "timed"]
    failed = [t for t in runner.timings if t.problems]
    attempted = len(runner.timings) + 1  # + the run clean-up
    n_failed = len(failed) + (1 if cleanup_problems else 0)
    context["fail_ratio"] = n_failed / attempted
    context["failures"] = [
        {"op": t.op, "phase": t.phase, "problems": t.problems} for t in failed[:20]
    ] + ([{"op": "cleanup", "problems": cleanup_problems}] if cleanup_problems else [])
    context["check_s"] = sum(t.check_s for t in runner.timings)
    context["timeline"] = [(t.op, t.phase, round(t.wall_s, 4), t.rows) for t in runner.timings]
    context["ops"] = {
        name: round(s, 4) for name, s in sorted(per_op_fastest(timed).items())
    }
    if tracer is None:
        values = end_to_end(
            timed, passes, t_spark + t_registry, space_amp, context["peak_rss_mb"]
        )
        units = END_TO_END
    else:
        values = per_layer(
            runner, tracer, t_spark, t_registry, context["spark_cores"], passes,
            context["traced_pass_walls_s"],
        )
        units = PER_LAYER
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path, runner.op_records)
        context["trace_file"] = path
    result = {
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    return context, result
