"""The two workloads and their ops.

- ``llm_curation``: dedup, similarity, tokenizer, graph and codec
  operators. Iterative loops, eager build-time jobs, Arrow workers.
- ``lakehouse_rw``: the reference ETL replica, streaming Delta ingest and
  a seeded commit loop on a Delta and an Iceberg table (append, delete by
  predicate, compact) with a scan after every commit. Short ops, so
  metadata, Catalyst and scheduling costs are a large share.

``llm_curation`` passes end with the reference's load step: the dedup
output is committed with ``write_table`` and read back, four times a pass,
so its commit and scan latencies pool samples of one operation.
"""

from __future__ import annotations

import importlib.util
import os
import random

import pyarrow.parquet as pq

from perfbench.harness import Op
from perfbench.tracing import dir_files

LLM_CURATION = {
    "q_dedup_exact": "dedup",
    "q_sim_topk": "similarity",
    "q_bpe_merges": "text",
    "q_degree_distribution": "graph",
    "q_multimodal_bmp_stats": "multimodal",
}
LAKEHOUSE_RW = ["q_etl_replica"]
WORKLOADS = ("llm_curation", "lakehouse_rw")
LOAD_COMMITS = 4  # llm_curation load-step commits per pass
APPENDS = 3  # appends per commit-loop cycle, so the median commit is an append


def _rows(out) -> int:
    return out if isinstance(out, int) else len(out)


def _expect_rows(expected):
    """A check that the row count equals ``expected()`` at check time."""

    def check(out, _phase):
        n, want = _rows(out), expected()
        return [] if n == want else [f"rows: got {n}, expected {want}"]

    return check


def _load_oracle_harness(root: str):
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", os.path.join(root, "tests", "oracle_harness.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Workload:
    def __init__(self, name, spark, registry, data_dir, run_dir, root, seed, oracle_dir) -> None:
        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.rng = random.Random(seed)
        self.oracle = _load_oracle_harness(root)
        self.con = self.oracle.duckdb_connection(data_dir)
        self.oracle_dir = oracle_dir
        os.makedirs(oracle_dir, exist_ok=True)
        # table path -> (data bytes, rows) of its first write: the base of space_amp
        self.first_write: dict[str, tuple[int, int]] = {}
        names = list(LLM_CURATION) if name == "llm_curation" else LAKEHOUSE_RW
        self.queries = [self._query_op(n, LLM_CURATION.get(n)) for n in names]
        self.load = self.ingest = None
        self.loops = []
        if name == "llm_curation":
            self.load = LoadStep(self)
        else:
            orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
            self.loops = [CommitLoop(self, fmt, orders) for fmt in ("delta", "iceberg")]
            self.ingest = Ingest(self, orders)

    def close(self) -> None:
        self.con.close()

    def pass_ops(self) -> list[Op]:
        """One pass in seeded order: queries (and ingest), commits, load."""
        ops = list(self.queries)
        self.rng.shuffle(ops)
        if self.ingest:
            at = self.rng.randrange(len(ops) + 1)
            ops[at:at] = self.ingest.ops()
        for loop in self.rng.sample(self.loops, len(self.loops)):
            ops += loop.cycle_ops()
        return ops + (self.load.ops() if self.load else [])

    # -- query ops ------------------------------------------------------------
    def _query_op(self, name: str, family: str | None) -> Op:
        q = self.registry[name]
        checked: dict[str, int] = {}

        def check(out, phase):
            if phase == "check":
                want = self.oracle_frame(q.oracle)
                problems = self.oracle.compare_frames(out, want)
                if not problems:
                    checked["rows"] = len(out)
                return problems
            if "rows" not in checked:
                return ["no oracle-checked row count to compare with"]
            return _expect_rows(lambda: checked["rows"])(out, phase)

        return Op(
            name, "query", lambda: q.fn(self.spark, self.data_dir), check, family
        )

    def oracle_frame(self, sql: str):
        """The DuckDB answer for ``sql`` on this run's tables.

        Answers are kept per (SQL text, table set) under the work dir, so
        only the first run in a checkout pays for the DuckDB queries; every
        run still compares its own Spark output with them.
        """
        import hashlib

        import pandas as pd

        key = hashlib.sha256(f"{self.data_dir}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.oracle_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        frame = self.con.sql(sql).df()
        frame.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return frame

    def live_rows(self) -> dict[str, int]:
        """Live rows of every lakehouse table the workload keeps."""
        live = self.load.live_rows() if self.load else {}
        for loop in self.loops:
            live[loop.path] = loop.live
        return live

    def record_first_write(self, path: str, rows: int) -> None:
        self.first_write[path] = (data_bytes(path), rows)

    def space_amp(self, live_rows: dict[str, int]) -> tuple[float, int, int]:
        """(amp, disk bytes, live bytes): all bytes under the tables over
        live rows times the bytes per row of each table's first write."""
        disk = live = 0
        for path, rows in live_rows.items():
            if path not in self.first_write:  # never created: already a failed op
                continue
            first_bytes, first_rows = self.first_write[path]
            disk += sum(dir_files(path).values())
            live += rows * first_bytes / first_rows
        return (disk / live if live else 0.0), disk, round(live)

    def lake_path(self, name: str) -> str:
        return os.path.join(self.run_dir, "lake", name)


def data_bytes(path: str) -> int:
    """Bytes of the parquet data files of a table, logs and metadata excluded."""
    return sum(
        size
        for f, size in dir_files(path).items()
        if f.endswith(".parquet") and "_delta_log" not in f
    )


def _modules():
    from healthcare_etl_spark.sources import delta, iceberg, writers

    return delta, iceberg, writers


class LoadStep:
    """Commit the dedup output with ``write_table``; read it back."""

    def __init__(self, wl: Workload) -> None:
        self.wl = wl
        self.src = os.path.join(wl.run_dir, "load_src")
        self.path = wl.lake_path("load")
        self.n_src = None

    def _prepare(self) -> None:
        if self.n_src is None:
            df = self.wl.registry["q_dedup_exact"].fn(self.wl.spark, self.wl.data_dir)
            df.write.mode("overwrite").parquet(self.src)
            self.n_src = self.wl.spark.read.parquet(self.src).count()

    def _commit(self) -> None:
        _, _, writers = _modules()
        writers.write_table(self.wl.spark.read.parquet(self.src), self.path)
        if self.path not in self.wl.first_write:
            self.wl.record_first_write(self.path, self.n_src)

    def ops(self) -> list[Op]:
        scan = Op("load.scan", "scan", lambda: self.wl.spark.read.parquet(self.path),
                  _expect_rows(lambda: self.n_src))
        commit = Op("load.commit", "commit", self._commit, prepare=self._prepare)
        return [commit, scan] * LOAD_COMMITS

    def live_rows(self) -> dict[str, int]:
        return {self.path: self.n_src}


class CommitLoop:
    """Seeded appends, deletes by predicate and compactions on one table.

    Rows come from ``orders``, whose keys are ``0..n-1``, so the harness
    knows every live row count from its own inputs. A delete only touches
    the newest appended batch, and a compaction follows every delete, so
    no file ever needs a second deletion vector.
    """

    def __init__(self, wl: Workload, fmt: str, orders) -> None:
        self.wl = wl
        self.fmt = fmt
        self.path = wl.lake_path(f"orders_{fmt}")
        self.n_orders = orders.num_rows
        self.next_key = wl.rng.randrange(0, self.n_orders // 10)
        self.live = 0
        self.batch = (0, 0)
        self.created = False

    def _orders(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        df = self.wl.spark.read.parquet(os.path.join(self.wl.data_dir, "orders.parquet"))
        return df.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))

    def _take(self, n: int) -> tuple[int, int]:
        lo = self.next_key
        if lo + n > self.n_orders:
            raise RuntimeError("commit loop ran out of orders keys")
        self.next_key = lo + n
        self.batch = (lo, lo + n)
        return self.batch

    def _append(self) -> None:
        delta, iceberg, _ = _modules()
        if not self.created:
            lo, hi = self._take(self.n_orders // 5)
            write = delta.write_delta_table if self.fmt == "delta" else iceberg.write_iceberg_table
            write(self._orders(lo, hi), self.path)
            self.created = True
            self.wl.record_first_write(self.path, hi - lo)
        else:
            # small batches, so the keys last at scale 0.001 too
            lo, hi = self._take(self.wl.rng.randrange(20, 61))
            append = delta.append_delta_table if self.fmt == "delta" else iceberg.append_rows
            append(self._orders(lo, hi), self.path)
        self.live += hi - lo

    def _delete(self) -> None:
        delta, iceberg, _ = _modules()
        lo, hi = self.batch
        r = self.wl.rng.randrange(3)  # a third of the batch, whatever the seed
        pred = f"o_orderkey >= {lo} AND o_orderkey < {hi} AND o_orderkey % 3 = {r}"
        (delta if self.fmt == "delta" else iceberg).delete_rows(self.wl.spark, self.path, pred)
        self.live -= sum(1 for k in range(lo, hi) if k % 3 == r)

    def _compact(self) -> None:
        delta, iceberg, _ = _modules()
        (delta if self.fmt == "delta" else iceberg).optimize_compact(self.wl.spark, self.path)

    def _scan(self):
        delta, iceberg, _ = _modules()
        if self.fmt == "delta":
            return delta.read_delta_table(self.wl.spark, self.path)
        return iceberg.read_iceberg_table(self.wl.spark, self.path)

    def cycle_ops(self) -> list[Op]:
        """Appends, a delete and a compaction, with a scan after each commit.

        A scan is named after the commit it follows: one after a delete
        merges deletes on read, the others do not.
        """
        steps = [("append", self._append)] * APPENDS + [
            ("delete", self._delete),
            ("compact", self._compact),
        ]
        ops = []
        for step, fn in steps:
            ops += [
                Op(f"{self.fmt}.{step}", "commit", fn),
                Op(f"{self.fmt}.scan_after_{step}", "scan", self._scan,
                   _expect_rows(lambda: self.live)),
            ]
        return ops


class Ingest:
    """Streaming ingest (``run_delta_ingest``) of a fresh seeded ``orders``
    batch file each pass."""

    def __init__(self, wl: Workload, orders) -> None:
        self.wl = wl
        self.orders = orders
        base = os.path.join(wl.run_dir, "ingest")
        self.src = os.path.join(base, "src")
        os.makedirs(self.src)
        self.ckpt = os.path.join(base, "ckpt")
        self.table = wl.lake_path("ingest")
        self.batches = 0
        self.batch_rows = 0

    def _write_batch(self) -> None:
        self.batch_rows = self.wl.rng.randrange(100, 301)
        lo = self.wl.rng.randrange(0, self.orders.num_rows - self.batch_rows)
        path = os.path.join(self.src, f"batch-{self.batches}.parquet")
        pq.write_table(self.orders.slice(lo, self.batch_rows), path)
        self.batches += 1

    def _ingest(self) -> int:
        from healthcare_etl_spark.streaming import incremental

        return incremental.run_delta_ingest(self.wl.spark, self.src, self.ckpt, self.table)

    def ops(self) -> list[Op]:
        return [
            Op("ingest.delta", "ingest", self._ingest, _expect_rows(lambda: self.batch_rows),
               prepare=self._write_batch)
        ]
