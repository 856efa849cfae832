"""Interleaved A/B timing of registered queries, recorded to AB_RUNS.jsonl.

Two protocols, one tool:

- **Code A/B** (``--repo-b`` given): the same queries in two checkouts
  (e.g. HEAD vs an earlier round's snapshot), for regressions on
  untouched code where the competing variable is the checkout itself.
  Two Python processes cannot import two versions of the package, so
  the interleaving unit is a short subprocess: A B A B ...
- **Query A/B** (``--repo-b`` omitted): the listed queries interleave
  inside one session of one checkout, rep by rep (q1 q2 q1 q2 ...).

Each subprocess builds a fresh local Spark session from its checkout
(PYTHONPATH pinned), warms every target query once at the warm SF, then
times each query once per rep at the target SF. A query whose warm-up
fails is recorded like a failed timed run: the error takes its timing
slots. Alternation means all variants sample the same neighbor-steal
profile; the DuckDB canary brackets every subprocess so a noisy window
is visible in the record.

Usage:
    python scripts/ab_code_bench.py --label r8-movers \
        --repo-a /root/repo --repo-b /tmp/r7_snapshot \
        --queries q_hybrid_search_rrf q_dsir_weights --alternations 5
    python scripts/ab_code_bench.py --label pagerank-r8 \
        --queries q_pagerank q_kcore_peel --alternations 5
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

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import run_canary  # noqa: E402

_CHILD = r"""
import gc, json, sys, time
repo, sf_dir, warm_dir, cpus, reps = sys.argv[1:6]
names = sys.argv[6:]
sys.path.insert(0, repo)
from healthcare_etl_spark.session import get_spark
from healthcare_etl_spark.plans.registry import get_queries

spark = get_spark(app_name="ab-code-bench", cpus=cpus)
spark.sparkContext.setLogLevel("ERROR")
queries = get_queries()

def error(exc):
    return f"{type(exc).__name__}: {exc}"[:200]

failed = {}
for name in names:
    try:
        queries[name](spark, warm_dir).count()
    except Exception as exc:
        failed[name] = error(exc)
out = {name: [] for name in names}
for _rep in range(int(reps)):
    for name in names:
        if name in failed:
            out[name].append(failed[name])
            continue
        t0 = time.perf_counter()
        try:
            queries[name](spark, sf_dir).count()
            out[name].append(round(time.perf_counter() - t0, 4))
        except Exception as exc:
            out[name].append(error(exc))
    # Free checkpoint/broadcast blocks between reps (bench.py lesson).
    gc.collect()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
print("ABRESULT " + json.dumps(out))
spark.stop()
"""


def _run_child(repo: str, args: argparse.Namespace, reps: int) -> dict[str, list]:
    env = dict(os.environ)
    env["PYTHONPATH"] = repo
    env.setdefault("SPARK_SUBMIT_OPTS", "-Dspark.ui.showConsoleProgress=false")
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, repo, args.sf_dir, args.warm_dir, args.cpus,
         str(reps), *args.queries],
        capture_output=True,
        text=True,
        env=env,
        cwd=repo,
        timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"child produced no ABRESULT (rc={proc.returncode}):\n{proc.stderr[-2000:]}"
    )


def _summ(vals: list) -> dict:
    nums = [v for v in vals if isinstance(v, (int, float))]
    if not nums:
        return {"min": None, "median": None}
    return {"min": round(min(nums), 4), "median": round(statistics.median(nums), 4)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo-a", default=str(REPO), help="variant A checkout (default: this one)")
    ap.add_argument("--repo-b", help="variant B checkout; omit to A/B the queries in one checkout")
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--alternations", type=int, default=5)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--label", required=True)
    ap.add_argument("--out", default=str(REPO / "AB_RUNS.jsonl"))
    args = ap.parse_args()

    sides = {"a": args.repo_a, **({"b": args.repo_b} if args.repo_b else {})}
    times: dict[str, dict[str, list]] = {s: {q: [] for q in args.queries} for s in sides}
    canaries: list[list[float]] = [run_canary()]
    # Code A/B alternates one-rep subprocesses; query A/B is one
    # subprocess whose reps interleave the queries.
    for _alt in range(args.alternations if args.repo_b else 1):
        for side, repo in sides.items():
            res = _run_child(repo, args, 1 if args.repo_b else args.alternations)
            for q in args.queries:
                times[side][q].extend(res[q])
            canaries.append(run_canary())

    record = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "label": args.label,
        "protocol": (
            "interleaved-code-ab-subprocess" if args.repo_b else "interleaved-queries-one-session"
        ),
        "repo_a": args.repo_a,
        "repo_b": args.repo_b,
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "alternations": args.alternations,
        **{f"times_{s}": times[s] for s in sides},
        "summary": {q: {s: _summ(times[s][q]) for s in sides} for q in args.queries},
        "canary_s_per_subprocess": [round(sum(c) / len(c), 4) for c in canaries],
    }
    with open(args.out, "a", encoding="utf-8") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record["summary"], indent=2))
    print(f"appended to {args.out}")


if __name__ == "__main__":
    main()
