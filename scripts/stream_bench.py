"""Micro-bench for the Structured Streaming jobs (r10, VERDICT task 10).

The 14 streaming jobs replay the events fixture to completion
(Trigger.availableNow semantics, memory/parquet/lakehouse sinks). This
harness times each job's full replay at the target SF and reports
wall seconds and rows/s (fixture input rows / wall), plus per-batch
state metrics where the job exposes progress. One JSON line on stdout
(prefix STREAMBENCH) and a markdown table for BASELINE.md.

Usage:
    python scripts/stream_bench.py [--sf-dir /root/testdata/sf0.1] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default="32")
    args = ap.parse_args()

    from healthcare_etl_spark.session import get_spark
    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.streaming.drift import run_streaming_psi_drift
    from healthcare_etl_spark.streaming.incremental import (
        run_delta_ingest,
        run_iceberg_ingest,
        run_incremental_ingest,
    )
    from healthcare_etl_spark.streaming.joins import (
        run_stream_static_enrichment,
        run_stream_stream_funnel,
        run_stream_stream_funnel_outer,
    )
    from healthcare_etl_spark.streaming.sinks import run_stream_to_parquet
    from healthcare_etl_spark.streaming.stateful import run_stateful_user_profiles
    from healthcare_etl_spark.streaming.windows import (
        run_streaming_dedup,
        run_streaming_hll_distinct,
        run_streaming_sessionization,
        run_streaming_sliding_topk,
        run_streaming_tumbling,
    )

    spark = get_spark(app_name="stream-bench", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf_dir
    n_events = load_table(spark, sf, "events").count()

    work = Path(tempfile.mkdtemp(prefix="stream_bench_"))
    land = work / "landing"
    land.mkdir()
    shutil.copy(f"{sf}/events.parquet", land / "events.parquet")

    jobs = {
        "stream_tumbling": lambda: run_streaming_tumbling(spark, sf),
        "stream_sessionization": lambda: run_streaming_sessionization(spark, sf),
        "stream_dedup": lambda: run_streaming_dedup(spark, sf),
        "stream_sliding_topk": lambda: run_streaming_sliding_topk(spark, sf),
        "stream_hll_distinct": lambda: run_streaming_hll_distinct(spark, sf),
        "stream_psi_drift": lambda: run_streaming_psi_drift(spark, sf),
        "stream_funnel": lambda: run_stream_stream_funnel(spark, sf),
        "stream_funnel_outer": lambda: run_stream_stream_funnel_outer(spark, sf),
        "stream_enrichment": lambda: run_stream_static_enrichment(spark, sf),
        "stream_user_profiles": lambda: run_stateful_user_profiles(spark, sf),
        "stream_to_parquet": lambda: run_stream_to_parquet(
            spark, sf, str(work / "pq_out"), str(work / "pq_ckpt")
        ),
        "incremental_ingest": lambda: run_incremental_ingest(
            spark, str(land), str(work / "incr_ckpt"), "t_stream_bench_sink"
        ),
        "delta_ingest": lambda: run_delta_ingest(
            spark, str(land), str(work / "delta_ckpt"), str(work / "delta_tbl")
        ),
        "iceberg_ingest": lambda: run_iceberg_ingest(
            spark, str(land), str(work / "ice_ckpt"), str(work / "ice_tbl")
        ),
    }

    results: dict[str, dict] = {}
    for name, fn in jobs.items():
        spark.sparkContext.setJobDescription(f"stream-bench: {name}")
        t0 = time.perf_counter()
        try:
            out = fn()
            rows_out = out if isinstance(out, int) else out.count()
            wall = time.perf_counter() - t0
            results[name] = {
                "wall_s": round(wall, 3),
                "rows_in": n_events,
                "rows_per_s": int(n_events / wall),
                "rows_out": int(rows_out),
            }
        except Exception as exc:  # pragma: no cover
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        spark.sparkContext.setJobDescription(None)
        print(f"  {name}: {results[name]}", file=sys.stderr)

    shutil.rmtree(work, ignore_errors=True)
    spark.sql("DROP TABLE IF EXISTS t_stream_bench_sink")

    print("| job | wall (s) | rows in | rows/s | rows out |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        if "error" in r:
            print(f"| {name} | ERROR {r['error']} | | | |")
        else:
            print(
                f"| {name} | {r['wall_s']} | {r['rows_in']} "
                f"| {r['rows_per_s']} | {r['rows_out']} |"
            )
    print("STREAMBENCH " + json.dumps({"sf_dir": sf, "cpus": args.cpus, "jobs": results}))


if __name__ == "__main__":
    main()
