"""The parquet relation memo in sources.readers must be invisible except
for speed: same schema and rows on repeat loads, and exactly as fresh as
rebuilding when the files change (any rewrite or append, at any depth of
a table directory, changes the path signature, so the memo misses and
picks up the new schema and file listing)."""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from healthcare_etl_spark.sources import readers
from healthcare_etl_spark.sources.readers import load_table


def test_repeat_load_hits_memo_and_matches(spark, sf_smoke, monkeypatch):
    readers._PARQUET_MEMO.clear()
    calls = []
    real_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **options):
        calls.append(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    a = load_table(spark, sf_smoke, "lineitem")
    assert len(readers._PARQUET_MEMO) == 1
    assert len(calls) == 1
    b = load_table(spark, sf_smoke, "lineitem")
    assert len(calls) == 1  # the repeat load never reached the reader
    assert a.schema == b.schema
    assert a.count() == b.count()


def test_rewrite_invalidates_memo(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(5).select(F.col("id").alias("a")).write.parquet(p)
    readers._PARQUET_MEMO.clear()
    df1 = readers._read_parquet(spark, p)
    assert df1.columns == ["a"]
    assert len(readers._PARQUET_MEMO) == 1

    # Rewrite with a different schema; ensure the directory signature
    # moves even on coarse-mtime filesystems.
    time.sleep(0.01)
    spark.range(7).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    ).write.mode("overwrite").parquet(p)
    os.utime(p)

    df2 = readers._read_parquet(spark, p)
    assert df2.columns == ["a", "b"]
    assert df2.count() == 7


def test_remote_uris_bypass_memo(spark):
    assert readers._local_file_sig("s3://bucket/x.parquet") is None
    assert readers._local_file_sig("/definitely/missing/x.parquet") is None


def test_relation_memo_returns_same_lazy_handle(spark, sf_smoke):
    readers._PARQUET_MEMO.clear()
    p = f"{sf_smoke}/orders.parquet"
    a = readers._read_parquet(spark, p)
    b = readers._read_parquet(spark, p)
    assert a is b  # same immutable logical plan, no rebuild
    assert a.count() == b.count()


def test_relation_memo_is_session_identity_guarded(spark, sf_smoke):
    """A handle bound to another session object must never be returned,
    even under an identical key (same path signature and reader confs)."""
    other = spark.newSession()
    for k in ("spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.legacy.parquet.nanosAsLong"):
        other.conf.set(k, spark.conf.get(k))
    readers._PARQUET_MEMO.clear()
    p = f"{sf_smoke}/orders.parquet"
    df1 = readers._read_parquet(spark, p)
    df2 = readers._read_parquet(other, p)
    assert df2 is not df1
    assert df2.sparkSession is other
    assert df2.count() == df1.count()


def test_stopped_session_entries_are_dropped(spark, sf_smoke):
    """Entries whose session has stopped are dropped when looked up, so
    the memo never pins a stopped session's JVM objects."""
    stopped = SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None)))
    readers._PARQUET_MEMO.clear()
    p = f"{sf_smoke}/orders.parquet"
    readers._read_parquet(spark, p)
    (key,) = readers._PARQUET_MEMO
    readers._PARQUET_MEMO[key] = stopped
    readers._PARQUET_MEMO[("elsewhere",)] = stopped
    df = readers._read_parquet(spark, p)
    assert df.sparkSession is spark
    assert readers._PARQUET_MEMO == {key: df}


def test_part_file_added_inside_partition_dir_is_seen(spark, tmp_path):
    """A part-file added under an existing ``k=v/`` directory leaves the
    table root's own stat unchanged; the next load still sees it."""
    sf_dir = str(tmp_path)
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(
        f"{sf_dir}/t.parquet"
    )
    assert load_table(spark, sf_dir, "t").count() == 6
    root_stat = os.stat(f"{sf_dir}/t.parquet")
    part = tmp_path / "t.parquet" / "k=0"
    pq.write_table(pa.table({"id": pa.array([100, 102], pa.int64())}), str(part / "part-extra.parquet"))
    assert os.stat(f"{sf_dir}/t.parquet").st_mtime_ns == root_stat.st_mtime_ns
    df = load_table(spark, sf_dir, "t")
    assert df.count() == 8
    assert sorted(r.id for r in df.filter("k = 0").collect()) == [0, 2, 4, 100, 102]


def test_rewrite_keeping_size_and_mtime_misses_memo(spark, tmp_path):
    """A rewrite that restores both size and mtime_ns (a coarse mtime
    tick, or ``os.utime``) lands on a new inode and misses the memo."""
    sf_dir = str(tmp_path)
    p = f"{sf_dir}/t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), p)
    assert load_table(spark, sf_dir, "t").columns == ["a"]
    before = os.stat(p)
    tmp = f"{sf_dir}/t.parquet.tmp"
    pq.write_table(pa.table({"b": pa.array([1, 2, 3], pa.int64())}), tmp)
    os.replace(tmp, p)
    os.utime(p, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(p)
    assert (after.st_size, after.st_mtime_ns) == (before.st_size, before.st_mtime_ns)
    assert load_table(spark, sf_dir, "t").columns == ["b"]


def test_epoch_unit_cache_follows_a_rewrite(spark, tmp_path):
    """The detected epoch granularity of a bigint ``ts`` is cached per
    file version: rewriting the same path from nanoseconds to
    milliseconds must be sampled again, not decoded with the stale unit."""
    sf_dir = str(tmp_path)
    p = f"{sf_dir}/events.parquet"
    want = 1_700_000_000 * 1_000_000  # 2023-11-14 22:13:20 UTC in µs

    def ts_micros() -> int:
        return load_table(spark, sf_dir, "events").select(F.unix_micros("ts")).first()[0]

    pq.write_table(pa.table({"ts": pa.array([1_700_000_000 * 10**9], pa.int64())}), p)
    assert ts_micros() == want
    pq.write_table(pa.table({"ts": pa.array([1_700_000_000 * 10**3], pa.int64())}), p)
    assert ts_micros() == want
