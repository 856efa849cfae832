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


# ------------------------------------------------------ tiered compaction


@pytest.mark.parametrize(
    "files, rewritten",
    [
        ([], []),
        ([("a", 10, False)], []),
        ([("a", 10, True)], ["a"]),
        # the large file is at least twice everything below it
        ([("s1", 10, False), ("big", 100, False), ("s2", 10, False)], ["s1", "s2"]),
        ([("big", 40, False), ("s", 20, False)], []),  # exactly 2x keeps both
        ([("big", 100, False), ("mid", 60, False)], ["big", "mid"]),
        ([("big", 1000, False), ("m", 100, False), ("s", 30, False), ("t", 20, False)], ["s", "t"]),
        # a delete on the large file pulls it, and all below it, in
        ([("big", 100, True), ("s", 10, False)], ["big", "s"]),
        ([("big", 100, False), ("m", 40, True), ("s", 1, False)], ["m", "s"]),
        # equal sizes: the path breaks the tie
        ([("b", 10, False), ("a", 10, False)], ["a", "b"]),
    ],
)
def test_rewrite_set(files, rewritten):
    from healthcare_etl_spark.sources.lakehouse import rewrite_set

    assert rewrite_set(files) == rewritten


def test_local_path_decodes_like_path_key():
    from healthcare_etl_spark.sources.lakehouse import local_path

    assert local_path("file:/lake%20dir/a+b.parquet") == "/lake dir/a+b.parquet"
    assert local_path("file:///lake dir/x.parquet") == "/lake dir/x.parquet"
    assert local_path("/plain/x.parquet") == "/plain/x.parquet"


_WRITE = {"delta": delta.write_delta_table, "iceberg": iceberg.write_iceberg_table}
_APPEND = {"delta": delta.append_delta_table, "iceberg": iceberg.append_rows}
_MOD = {"delta": delta, "iceberg": iceberg}


def _read(spark, fmt, path, version=None):
    if fmt == "delta":
        return delta.read_delta_table(spark, path, version=version)
    return iceberg.read_iceberg_table(spark, path, snapshot_id=version)


def _live(fmt, path):
    """(live data files keyed by path, their add action / manifest entry;
    the deletion vectors or delete files still live)."""
    if fmt == "delta":
        live = delta._replay(path)[0]
        return live, [a for a in live.values() if a.get("deletionVector")]
    meta = iceberg._current_metadata(path)
    data_e, pos_e, eq_e = iceberg._current_entries(meta, path)
    return {e["data_file"]["file_path"]: e for e in data_e}, pos_e + eq_e


def _same_file(fmt, before, after):
    if fmt == "delta":
        return before == after
    keys = ("snapshot_id", "sequence_number", "file_sequence_number", "data_file")
    return all(before[k] == after[k] for k in keys) and after["status"] == 0


def _large_plus_small(spark, sf_smoke, path, fmt, n_small=3):
    """One large file (1000 orders rows) and ``n_small`` appends of 5
    rows each; returns the large file's key in ``_live``."""
    from healthcare_etl_spark.sources import load_table

    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    _WRITE[fmt](orders.filter("o_orderkey < 1000").coalesce(1), path)
    (large,) = _live(fmt, path)[0]
    for i in range(n_small):
        lo = 1000 + 5 * i
        _APPEND[fmt](orders.filter(f"o_orderkey >= {lo} AND o_orderkey < {lo + 5}"), path)
    return large


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_tiered_compaction_keeps_the_large_file(spark, sf_smoke, tmp_path, fmt):
    """OPTIMIZE after small appends merges the appends into one file and
    leaves the large file live as it was; rows are unchanged, time travel
    sees the old layout and a second OPTIMIZE is a no-op."""
    path = str(tmp_path / "t")
    large = _large_plus_small(spark, sf_smoke, path, fmt)
    files_before, _ = _live(fmt, path)
    assert len(files_before) == 4
    expected = sorted(_read(spark, fmt, path).collect())
    v = _MOD[fmt].optimize_compact(spark, path)
    files_after, deletes = _live(fmt, path)
    assert len(files_after) == 2 and large in files_after and not deletes
    assert _same_file(fmt, files_before[large], files_after[large])
    assert sorted(_read(spark, fmt, path).collect()) == expected
    old = _read(spark, fmt, path, version=v - 1)
    assert len(old.inputFiles()) == 4
    assert sorted(old.collect()) == expected
    assert _MOD[fmt].optimize_compact(spark, path) == v


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_delete_on_the_large_file_forces_its_rewrite(spark, sf_smoke, tmp_path, fmt):
    """A deletion vector / position delete against the large file puts
    it in the rewrite set, and no DV or delete file survives OPTIMIZE."""
    path = str(tmp_path / "t")
    large = _large_plus_small(spark, sf_smoke, path, fmt, n_small=2)
    _MOD[fmt].delete_rows(spark, path, "o_orderkey < 1000 AND o_orderkey % 7 = 0")
    assert _live(fmt, path)[1]
    expected = sorted(_read(spark, fmt, path).collect())
    _MOD[fmt].optimize_compact(spark, path)
    files_after, deletes = _live(fmt, path)
    assert large not in files_after and len(files_after) == 1 and not deletes
    assert sorted(_read(spark, fmt, path).collect()) == expected


def test_iceberg_equality_delete_forces_a_full_rewrite(spark, sf_smoke, tmp_path):
    """An equality delete applies to every older data file, so all of
    them are rewritten and the delete file is purged."""
    path = str(tmp_path / "t")
    _large_plus_small(spark, sf_smoke, path, "iceberg", n_small=2)
    iceberg.delete_rows_equality(
        spark, path, spark.createDataFrame([(1001,), (3,)], "o_orderkey long")
    )
    expected = sorted(_read(spark, "iceberg", path).collect())
    iceberg.optimize_compact(spark, path)
    files_after, deletes = _live("iceberg", path)
    assert len(files_after) == 1 and not deletes
    assert sorted(_read(spark, "iceberg", path).collect()) == expected


@pytest.mark.parametrize("write_via", ["dir", "link"])
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_delete_on_a_small_file_keeps_the_large_one(spark, sf_smoke, tmp_path, fmt, write_via):
    """Under a directory name with a space and through a symlink: a
    position delete that touches only a small file leaves the large file
    in place. For Iceberg this pins the footer path decoding (Spark
    writes ``file:/lake%20dir/...``, the manifests ``file:///lake dir/...``)."""
    real = tmp_path / "lake dir"
    real.mkdir()
    (tmp_path / "lake_link").symlink_to(real)
    paths = {"dir": str(real / "t"), "link": str(tmp_path / "lake_link" / "t")}
    one = paths[write_via]
    other = paths["link" if write_via == "dir" else "dir"]
    large = _large_plus_small(spark, sf_smoke, one, fmt, n_small=2)
    _MOD[fmt].delete_rows(spark, one, "o_orderkey = 1007")
    expected = sorted(_read(spark, fmt, one).collect())
    _MOD[fmt].optimize_compact(spark, other)
    files_after, deletes = _live(fmt, one)
    assert len(files_after) == 2 and large in files_after and not deletes
    assert sorted(_read(spark, fmt, other).collect()) == expected


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_escaped_partition_values_round_trip(spark, tmp_path, fmt):
    """Spark percent-escapes ':' and '/' in partition directory names;
    the table records the values themselves, so they read back as
    written and an equality filter on the partition column finds its
    row, after create, append and compaction alike."""
    path = str(tmp_path / "t")
    rows = [(1, "a:b"), (2, "c/d"), (3, "e%f")]
    _WRITE[fmt](spark.createDataFrame(rows[:2], "id long, k string"), path, partition_by=["k"])
    _APPEND[fmt](spark.createDataFrame(rows[2:], "id long, k string"), path)
    expected = rows
    for step in ("write", "compact"):
        if step == "compact":
            _MOD[fmt].delete_rows(spark, path, "id = 2")
            _MOD[fmt].optimize_compact(spark, path)
            expected = [r for r in rows if r[0] != 2]
        assert sorted(map(tuple, _read(spark, fmt, path).collect())) == expected, step
        assert [r.id for r in _read(spark, fmt, path).filter("k = 'a:b'").collect()] == [1]


def test_delta_compaction_is_one_write_per_table(spark, tmp_path, monkeypatch):
    """OPTIMIZE over several rewritten partition groups (typed partition
    values, one of them null) runs one Spark write; each group becomes
    one file whose add carries the group's partitionValues strings as
    the create wrote them, and the rows are unchanged."""
    import datetime

    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3 if i % 7 else None, datetime.date(2024, 1, 1 + i % 2)) for i in range(40)],
        "id long, k int, d date",
    )
    delta.write_delta_table(df.repartition(4), path, partition_by=["k", "d"])
    before = _live("delta", path)[0]
    groups = {tuple(sorted(a["partitionValues"].items())) for a in before.values()}
    assert len(groups) == 8 and len(before) > len(groups)
    writes = []
    parquet = DataFrameWriter.parquet
    monkeypatch.setattr(
        DataFrameWriter, "parquet", lambda w, *a, **k: writes.append(a) or parquet(w, *a, **k)
    )
    v = delta.optimize_compact(spark, path)
    monkeypatch.undo()
    assert len(writes) == 1
    after = _live("delta", path)[0]
    assert len(after) == len(groups)
    assert {tuple(sorted(a["partitionValues"].items())) for a in after.values()} == groups
    assert all(not a["dataChange"] for a in after.values())
    assert sorted(delta.read_delta_table(spark, path).collect()) == sorted(df.collect())
    assert sorted(delta.read_delta_table(spark, path, version=v - 1).collect()) == sorted(
        df.collect()
    )


def test_delta_classic_checkpoint_keeps_table_features(spark, tmp_path):
    """A row delete moves the protocol to reader features
    (minReaderVersion 3). Once OPTIMIZE has applied the deletion vectors,
    a classic checkpoint keeps the feature lists, so the table replays
    from the checkpoint alone."""
    import os

    path = str(tmp_path / "t")
    delta.write_delta_table(spark.createDataFrame([(i,) for i in range(10)], "id long"), path)
    delta.delete_rows(spark, path, "id < 3")
    v = delta.optimize_compact(spark, path)
    assert delta.write_checkpoint(spark, path) == v
    log = os.path.join(path, "_delta_log")
    for name in os.listdir(log):
        if name.endswith(".json"):
            os.remove(os.path.join(log, name))
    assert sorted(r.id for r in delta.read_delta_table(spark, path).collect()) == list(range(3, 10))


@pytest.mark.parametrize(
    "column_mapping, delete, features",
    [
        ("name", False, ["columnMapping", "v2Checkpoint"]),
        (False, True, ["deletionVectors", "v2Checkpoint"]),
        ("name", True, ["columnMapping", "deletionVectors", "v2Checkpoint"]),
    ],
    ids=["column_mapping", "deletion_vectors", "both"],
)
def test_delta_v2_checkpoint_keeps_the_table_features(
    spark, tmp_path, column_mapping, delete, features
):
    """A V2 checkpoint lists v2Checkpoint next to the features the table
    already needs: column mapping from a legacy (2, 5) protocol, and
    deletion vectors once a row delete has upgraded it to (3, 7)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, "a") for i in range(10)], "id long, s string")
    delta.write_delta_table(df, path, column_mapping=column_mapping)
    if delete:
        delta.delete_rows(spark, path, "id < 3")
        delta.optimize_compact(spark, path)
    delta.write_checkpoint_v2(spark, path)
    protocol = delta._replay(path).protocol
    assert (protocol["minReaderVersion"], protocol["minWriterVersion"]) == (3, 7)
    assert protocol["readerFeatures"] == protocol["writerFeatures"] == features
    assert sorted(r.id for r in delta.read_delta_table(spark, path).collect()) == list(
        range(3 if delete else 0, 10)
    )


@pytest.mark.parametrize("checkpoint", ["write_checkpoint", "write_checkpoint_v2"])
def test_delta_checkpoint_keeps_the_column_mapping_mode(spark, tmp_path, checkpoint):
    """A checkpoint's metaData carries the table configuration, so an
    ID-mode table still resolves columns by field id when it replays
    from the checkpoint."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    delta.write_delta_table(df, path, column_mapping="id")
    getattr(delta, checkpoint)(spark, path)
    assert delta._replay(path)[5]["delta.columnMapping.mode"] == "id"
    assert delta.read_delta_table(spark, path).collect() == df.collect()
