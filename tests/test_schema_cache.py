"""The parquet schema memo in sources.readers must be invisible except
for speed: same schema and rows on repeat loads, and exactly as fresh as
re-inference when the file changes (rewrite/append changes the path
signature, so the memo misses and picks up the new schema)."""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from healthcare_etl_spark.sources import readers
from healthcare_etl_spark.sources.readers import load_table


def test_repeat_load_hits_memo_and_matches(spark, sf_smoke, monkeypatch):
    readers._SCHEMA_CACHE.clear()
    readers._RELATION_CACHE.clear()
    calls = []
    real_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **options):
        calls.append(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    a = load_table(spark, sf_smoke, "lineitem")
    assert len(readers._SCHEMA_CACHE) == 1
    assert len(calls) == 1
    b = load_table(spark, sf_smoke, "lineitem")
    assert len(calls) == 1  # the repeat load never reached the reader
    assert a.schema == b.schema
    assert a.count() == b.count()


def test_rewrite_invalidates_memo(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(5).select(F.col("id").alias("a")).write.parquet(p)
    readers._SCHEMA_CACHE.clear()
    df1 = readers._read_parquet(spark, p)
    assert df1.columns == ["a"]
    assert len(readers._SCHEMA_CACHE) == 1

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
    readers._SCHEMA_CACHE.clear()
    readers._RELATION_CACHE.clear()
    p = f"{sf_smoke}/orders.parquet"
    a = readers._read_parquet(spark, p)
    b = readers._read_parquet(spark, p)
    assert a is b  # same immutable logical plan, no rebuild
    assert a.count() == b.count()


def test_relation_memo_is_session_identity_guarded(spark, sf_smoke):
    """A handle bound to another session object must never be returned:
    simulate a different owner by overwriting the cached weakref."""
    import weakref

    class _Other:
        pass

    other = _Other()
    readers._RELATION_CACHE.clear()
    p = f"{sf_smoke}/orders.parquet"
    df1 = readers._read_parquet(spark, p)
    (key, (_, cached)) = next(iter(readers._RELATION_CACHE.items()))
    readers._RELATION_CACHE[key] = (weakref.ref(other), cached)
    df2 = readers._read_parquet(spark, p)
    assert df2 is not df1
    assert df2.count() == df1.count()
