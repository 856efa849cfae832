"""Spans and counters recorded from outside the package.

The tracer wraps the public functions of each source layer (by replacing
the module attribute before the query modules import it) and reads the
Spark status store per job group. Nothing inside ``healthcare_etl_spark``
is changed. Spans are kept in memory and written as JSON lines when the
run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# (module, public function, span name) for every source-layer call traced.
SOURCE_CALLS = [
    ("healthcare_etl_spark.sources.readers", "load_table", "sources.load_table"),
    ("healthcare_etl_spark.sources.readers", "spread_count", "sources.spread"),
    ("healthcare_etl_spark.sources.delta", "read_delta_table", "sources.delta.read"),
    ("healthcare_etl_spark.sources.iceberg", "read_iceberg_table", "sources.iceberg.read"),
    ("healthcare_etl_spark.sources.writers", "write_table", "sources.writers.write"),
    ("healthcare_etl_spark.streaming.incremental", "run_delta_ingest", "streaming.ingest"),
    ("healthcare_etl_spark.streaming.incremental", "run_iceberg_ingest", "streaming.ingest"),
    ("healthcare_etl_spark.streaming.sinks", "run_stream_to_parquet", "streaming.ingest"),
]
COMMIT_CALLS = {
    "healthcare_etl_spark.sources.delta": [
        "write_delta_table",
        "append_delta_table",
        "delete_rows",
        "delete_partition",
        "optimize_compact",
        "write_checkpoint",
        "write_checkpoint_v2",
    ],
    "healthcare_etl_spark.sources.iceberg": [
        "write_iceberg_table",
        "append_rows",
        "delete_rows",
        "delete_partition",
        "optimize_compact",
        "delete_rows_equality",
        "rename_column",
    ],
}


def dir_files(path: str) -> dict[str, int]:
    """Every regular file under ``path`` with its size."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            try:
                out[full] = os.path.getsize(full)
            except FileNotFoundError:
                pass
    return out


def _table_path(args, kwargs) -> str | None:
    path = kwargs.get("table_path") or kwargs.get("path")
    if path is None:
        path = next((a for a in args if isinstance(a, str)), None)
    return path


class Tracer:
    """Spans (name, start, end, parent, op id) plus per-op counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self.counters: dict[str, float] = defaultdict(float)
        self.enabled = True  # off: every wrapper calls straight through

    def reset_counts(self) -> None:
        """Start the counters afresh (spans stay)."""
        self.counters.clear()

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()

    def inside(self, name: str) -> bool:
        return any(self.spans[i]["name"] == name for i in self.stack)

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, module, attr: str, span_name: str, commit: bool = False) -> None:
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            # An outer commit span already counts what a nested one writes.
            outer = commit and tracer.inside(span_name)
            path = _table_path(args, kwargs) if commit and not outer else None
            before = tracer._snapshot(path)
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            tracer.counters[f"{span_name}.calls"] += 1
            if span_name == "sources.spread":
                tracer.counters["sources.spread.partitions"] += out
            if path is not None:
                new = {p: s for p, s in dir_files(path).items() if before.get(p) != s}
                tracer.counters["sources.lakehouse.files_written"] += len(new)
                tracer.counters["sources.lakehouse.bytes_written"] += sum(new.values())
            return out

        # Rebind every name already bound to the function (package
        # re-exports, ``from x import f`` in loaded modules).
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("healthcare_etl_spark") and (
                getattr(mod, attr, None) is fn
            ):
                setattr(mod, attr, traced)

    def _snapshot(self, path: str | None) -> dict[str, int]:
        return {} if path is None else dir_files(path)

    def install(self) -> None:
        """Wrap the source-layer functions; call before the registry loads."""
        import importlib

        from pyspark.sql.readwriter import DataFrameReader

        for mod_name, attr, span_name in SOURCE_CALLS:
            self._wrap(importlib.import_module(mod_name), attr, span_name)
        for mod_name, attrs in COMMIT_CALLS.items():
            module = importlib.import_module(mod_name)
            fmt = mod_name.rsplit(".", 1)[1]
            for attr in attrs:
                self._wrap(module, attr, f"sources.{fmt}.commit", commit=True)
        orig_parquet = DataFrameReader.parquet
        tracer = self

        @functools.wraps(orig_parquet)
        def parquet(reader, *paths, **options):
            if tracer.enabled and tracer.inside("sources.load_table"):
                tracer.counters["sources.parquet_builds"] += 1
            return orig_parquet(reader, *paths, **options)

        DataFrameReader.parquet = parquet

    # -- Spark status store -------------------------------------------------
    def job_group_metrics(self, sc, group: str) -> dict[str, float]:
        """Sum stage metrics of every job run under ``group``."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        agg = defaultdict(float)
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            agg["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage skipped: it never ran an attempt
                    continue
                agg["tasks"] += st.numCompleteTasks()
                agg["run_s"] += st.executorRunTime() / 1e3
                agg["cpu_s"] += st.executorCpuTime() / 1e9
                agg["gc_s"] += st.jvmGcTime() / 1e3
                agg["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                agg["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                agg["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return dict(agg)

    def write(self, path: str, op_records: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps({"record": "span", **rec}) + "\n")
            for rec in op_records:
                fh.write(json.dumps({"record": "op", **rec}) + "\n")


def self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Self time per span name within the subtree of ``root_id``."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)

    def visit(s: dict) -> None:
        kids = children[s["id"]]
        dur = s["end"] - s["start"]
        out[s["name"]] += dur - sum(k["end"] - k["start"] for k in kids)
        for k in kids:
            visit(k)

    visit(spans[root_id])
    return dict(out)
