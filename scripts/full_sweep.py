"""Full-surface driver-style parity sweep: EVERY registered query vs
its DuckDB oracle in a vanilla SparkSession (no repo confs — the
library must self-configure through ``configure_session``), at an
arbitrary scale directory. This is the same compare the external
driver runs on its 50-query window, extended to the whole surface;
results are recorded per round in BASELINE.md's parity table.
``--queries`` narrows the sweep to the named queries, the per-change
equivalence check. Exits non-zero on any mismatch or error.

Usage:
    python scripts/full_sweep.py [sf_dir] [out_json] [--queries NAME ...]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _row_strings(pdf) -> list[str]:
    """Rows as sorted '|'-joined strings over the sorted columns; an empty
    frame gives an empty list (pandas' row-wise ``agg`` returns a frame,
    not a series, when there are no rows)."""
    cols = sorted(pdf.columns)
    return sorted(
        "|".join(row) for row in pdf[cols].astype(str).itertuples(index=False, name=None)
    )


def main() -> None:
    import __spark_entry__ as entry

    ap = argparse.ArgumentParser()
    # default: the sf0.01 fixtures beside __spark_entry__.SMOKE_SF_DIR
    ap.add_argument("sf_dir", nargs="?", default=str(Path(entry.SMOKE_SF_DIR).with_name("sf0.01")))
    ap.add_argument("out_json", nargs="?")
    ap.add_argument("--queries", nargs="+", metavar="NAME")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, osql = entry.queries(), entry.oracle_sql()
    if args.queries:
        unknown = sorted(set(args.queries) - set(qs))
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        qs = {name: qs[name] for name in args.queries}
    results: dict[str, dict] = {}
    n_match = n_mismatch = n_err = n_rows_only = 0
    t_start = time.time()
    for i, name in enumerate(sorted(qs)):
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
            if name not in osql:
                n_rows_only += 1
                results[name] = {"rows_only": len(spdf)}
                continue
            odf = con.sql(osql[name]).df()
            ok = _row_strings(spdf) == _row_strings(odf)
            results[name] = {"match": ok, "rows": len(spdf)}
            n_match += ok
            n_mismatch += not ok
            if not ok:
                print(f"MISMATCH {name} spark={len(spdf)} oracle={len(odf)}", flush=True)
        except Exception as exc:
            n_err += 1
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"ERROR {name}: {results[name]['error'][:120]}", flush=True)
        if (i + 1) % 50 == 0:
            print(
                f"# {i+1}/{len(qs)} match={n_match} mismatch={n_mismatch} "
                f"err={n_err} rows_only={n_rows_only} "
                f"({time.time()-t_start:.0f}s)",
                flush=True,
            )
        # Keep one query's leftover cached/checkpointed blocks from
        # skewing the next — same hygiene as bench.py.
        spark.catalog.clearCache()
    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(qs),
        "match": n_match,
        "mismatch": n_mismatch,
        "error": n_err,
        "rows_only": n_rows_only,
        "wall_s": round(time.time() - t_start, 1),
    }
    print(json.dumps(summary))
    out = {"summary": summary, "results": results}
    if args.out_json:
        Path(args.out_json).write_text(json.dumps(out, indent=1))
    sys.exit(1 if n_mismatch or n_err else 0)


if __name__ == "__main__":
    main()
