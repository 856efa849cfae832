"""sources.lakehouse: the scan core both table formats share."""

from __future__ import annotations

import pytest

from healthcare_etl_spark.sources import delta, iceberg


@pytest.mark.parametrize("partitioned", [False, True])
@pytest.mark.parametrize("write_via", ["dir", "link"])
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_position_masks_across_space_and_symlink(spark, tmp_path, fmt, write_via, partitioned):
    """The position-mask key must match however the table root is
    spelled: under a directory name with a space (Spark reports
    ``_metadata.file_path`` percent-encoded) and through a symlink
    (Spark does not resolve it). Write and delete through one path,
    read and compact through the other."""
    real = tmp_path / "lake dir"
    real.mkdir()
    (tmp_path / "lake_link").symlink_to(real)
    paths = {"dir": str(real / "t"), "link": str(tmp_path / "lake_link" / "t")}
    one = paths[write_via]
    other = paths["link" if write_via == "dir" else "dir"]
    df = spark.createDataFrame(
        [(i, "a b" if i % 2 else "c+d") for i in range(20)], "id long, grp string"
    )
    mod = delta if fmt == "delta" else iceberg
    write = delta.write_delta_table if fmt == "delta" else iceberg.write_iceberg_table
    read = delta.read_delta_table if fmt == "delta" else iceberg.read_iceberg_table
    write(df.repartition(2), one, partition_by=["grp"] if partitioned else None)
    mod.delete_rows(spark, one, "id % 3 = 0")
    expected = sorted((i, "a b" if i % 2 else "c+d") for i in range(20) if i % 3)
    assert sorted(map(tuple, read(spark, other).collect())) == expected
    mod.optimize_compact(spark, other)
    for path in (one, other):
        assert sorted(map(tuple, read(spark, path).collect())) == expected
