"""sources.avro + sources.iceberg: codec roundtrips, spec semantics,
fail-loud scope guards (an Iceberg reader that guesses is worse than
one that raises).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_etl_spark.sources.avro import read_avro_file, write_avro_file
from healthcare_etl_spark.sources.iceberg import (
    append_rows,
    delete_partition,
    delete_rows,
    delete_rows_equality,
    read_iceberg_table,
    rename_column,
    write_iceberg_table,
)

_ENTRY_SCHEMA = {
    "type": "record",
    "name": "rec",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snap", "type": ["null", "long"], "default": None},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "path", "type": "string"},
                    {"name": "vals", "type": {"type": "array", "items": "double"}},
                    {"name": "props", "type": {"type": "map", "values": "bytes"}},
                    {
                        "name": "fmt",
                        "type": {"type": "enum", "name": "E", "symbols": ["P", "A"]},
                    },
                    {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 2}},
                ],
            },
        },
        # Named-type REFERENCE — Iceberg manifests reuse record names.
        {"name": "again", "type": ["null", "r2"], "default": None},
    ],
}

_RECS = [
    {
        "status": 1,
        "snap": 123456789012345,
        "inner": {
            "path": "ü/ñ.parquet",
            "vals": [1.5, -2.25],
            "props": {"k": b"\x00\xff"},
            "fmt": "P",
            "fx": b"ab",
        },
        "again": None,
    },
    {
        "status": 2,
        "snap": None,
        "inner": {
            "path": "q",
            "vals": [],
            "props": {},
            "fmt": "A",
            "fx": b"xy",
        },
        "again": {"path": "r", "vals": [0.0], "props": {"a": b""}, "fmt": "P", "fx": b"12"},
    },
]


class TestAvroCodec:
    @pytest.mark.parametrize("codec", ["null", "deflate"])
    def test_roundtrip(self, tmp_path, codec):
        p = str(tmp_path / f"t_{codec}.avro")
        write_avro_file(p, _ENTRY_SCHEMA, _RECS, codec=codec)
        schema, recs = read_avro_file(p)
        assert schema == _ENTRY_SCHEMA
        assert recs == _RECS

    def test_negative_and_boundary_longs(self, tmp_path):
        schema = {"type": "record", "name": "n", "fields": [{"name": "v", "type": "long"}]}
        vals = [0, -1, 1, 63, -64, 64, 2**62, -(2**62), 2**63 - 1, -(2**63)]
        p = str(tmp_path / "longs.avro")
        write_avro_file(p, schema, [{"v": v} for v in vals])
        _, recs = read_avro_file(p)
        assert [r["v"] for r in recs] == vals

    def test_unknown_codec_raises(self, tmp_path):
        p = str(tmp_path / "t.avro")
        with pytest.raises(NotImplementedError, match="codec"):
            write_avro_file(p, _ENTRY_SCHEMA, _RECS, codec="snappy")

    def test_not_avro_raises(self, tmp_path):
        p = str(tmp_path / "junk.avro")
        with open(p, "wb") as fh:
            fh.write(b"PAR1 not avro")
        with pytest.raises(ValueError, match="not an Avro"):
            read_avro_file(p)

    def test_corrupt_sync_raises(self, tmp_path):
        p = str(tmp_path / "t.avro")
        write_avro_file(p, _ENTRY_SCHEMA, _RECS, codec="null")
        data = bytearray(open(p, "rb").read())
        data[-1] ^= 0xFF  # flip the trailing sync marker byte
        with open(p, "wb") as fh:
            fh.write(bytes(data))
        with pytest.raises(ValueError, match="sync"):
            read_avro_file(p)


@pytest.fixture
def nation(spark):
    return spark.read.parquet("/root/testdata/sf0.001/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


class TestIcebergRoundtrip:
    def test_partitioned_roundtrip(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t1")
        snap = write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        assert snap == 1
        back = read_iceberg_table(spark, tbl)
        # Names and types must match exactly; nullability may be STRICTER
        # (the reconstructed partition literal is provably non-null).
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in nation.schema.fields
        ]
        assert sorted(back.collect()) == sorted(nation.collect())

    def test_unpartitioned_roundtrip(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t2")
        write_iceberg_table(nation, tbl)
        back = read_iceberg_table(spark, tbl)
        assert sorted(back.collect()) == sorted(nation.collect())

    def test_null_partition_value(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")],
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("p", T.StringType()),
                ]
            ),
        )
        tbl = str(tmp_path / "t3")
        write_iceberg_table(df, tbl, partition_by=["p"])
        back = read_iceberg_table(spark, tbl)
        assert sorted(back.collect(), key=str) == sorted(df.collect(), key=str)

    def test_delete_partition_and_time_travel(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t4")
        snap1 = write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        snap2 = delete_partition(tbl, "n_regionkey", 0)
        cur = read_iceberg_table(spark, tbl)
        assert cur.filter(F.col("n_regionkey") == 0).count() == 0
        assert cur.count() == nation.filter("n_regionkey <> 0").count()
        old = read_iceberg_table(spark, tbl, snapshot_id=snap1)
        assert old.count() == nation.count()
        assert snap2 == 2

    def test_partition_pruning_is_metadata_plane(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t5")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        full = read_iceberg_table(spark, tbl)
        pruned = read_iceberg_table(spark, tbl, partition_filter={"n_regionkey": 2})
        # Pruning happens BEFORE the scan: the pruned plan's file list is
        # strictly smaller — Spark never even opens the other groups.
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        assert pruned.count() == nation.filter("n_regionkey = 2").count()
        assert pruned.select(F.count_distinct("n_regionkey")).first()[0] == 1

    def test_data_column_pushdown_reaches_scan(self, spark, tmp_path, nation):
        # A filter on a DATA column must reach the parquet scan as a
        # pushed filter — the Iceberg plumbing (field-id schema, union
        # of partition groups) must not break Spark's pushdown.
        tbl = str(tmp_path / "t5b")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        df = read_iceberg_table(spark, tbl).filter(F.col("n_nationkey") > 10)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "n_nationkey" in plan.split(
            "PushedFilters"
        )[1][:200]

    def test_version_hint_fallback(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t6")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        os.remove(os.path.join(tbl, "metadata", "version-hint.text"))
        back = read_iceberg_table(spark, tbl)  # falls back to max v*.metadata.json
        assert back.count() == nation.count()

    def test_unknown_snapshot_raises(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t7")
        write_iceberg_table(nation, tbl)
        with pytest.raises(ValueError, match="snapshot"):
            read_iceberg_table(spark, tbl, snapshot_id=999)

    def test_not_a_table_raises(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError):
            read_iceberg_table(spark, str(tmp_path / "nope"))


class TestIcebergTransforms:
    def test_murmur3_spec_vectors(self):
        # Public Iceberg spec Appendix B test vectors.
        from healthcare_etl_spark.sources.iceberg import _apply_transform, _murmur3_32

        assert _murmur3_32((34).to_bytes(8, "little", signed=True)) == 2017239379
        assert _murmur3_32(b"iceberg") == 1210000089
        d = _murmur3_32((17486).to_bytes(8, "little", signed=True))
        assert d - 2**32 == -653330422  # date 2017-11-16 as signed int32
        assert _apply_transform("truncate[10]", -1, "long") == -10  # spec example
        assert _apply_transform("truncate[3]", "iceberg", "string") == "ice"
        assert _apply_transform("bucket[16]", None, "long") is None

    def test_bucket_partition_roundtrip_and_pruning(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "tr1")
        write_iceberg_table(nation, tbl, partition_by=[("n_nationkey", "bucket[4]")])
        back = read_iceberg_table(spark, tbl)
        # Bucket is lossy: the source column must come from the data
        # files themselves, values intact.
        assert sorted(back.collect()) == sorted(nation.collect())
        # Pruning by SOURCE value maps through the murmur bucket.
        pruned = read_iceberg_table(
            spark, tbl, partition_filter={"n_nationkey": 7}
        )
        full = read_iceberg_table(spark, tbl)
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        assert pruned.filter("n_nationkey = 7").count() == 1

    def test_truncate_partition_roundtrip_and_pruning(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "tr2")
        # Fixture names are NATION_0..NATION_24; truncate[8] splits them
        # into 'NATION_0'..'NATION_9' prefix groups.
        write_iceberg_table(nation, tbl, partition_by=[("n_name", "truncate[8]")])
        back = read_iceberg_table(spark, tbl)
        assert sorted(back.collect()) == sorted(nation.collect())
        pruned = read_iceberg_table(spark, tbl, partition_filter={"n_name": "NATION_5"})
        assert len(pruned.inputFiles()) < len(read_iceberg_table(spark, tbl).inputFiles())
        assert pruned.filter("n_name = 'NATION_5'").count() == 1

    def test_mixed_identity_and_transform(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "tr3")
        write_iceberg_table(
            nation,
            tbl,
            partition_by=["n_regionkey", ("n_nationkey", "bucket[2]")],
        )
        back = read_iceberg_table(spark, tbl)
        assert sorted(back.collect()) == sorted(nation.collect())
        # Fixture mapping: n_regionkey = n_nationkey % 5, so nation 9
        # lives in region 4.
        pruned = read_iceberg_table(
            spark, tbl, partition_filter={"n_regionkey": 4, "n_nationkey": 9}
        )
        assert pruned.count() >= 1
        assert pruned.filter("n_nationkey = 9").count() == 1

    def test_unsupported_transform_raises(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "tr4")
        with pytest.raises(NotImplementedError, match="transform"):
            write_iceberg_table(nation, tbl, partition_by=[("n_name", "days")])


class TestIcebergPositionDeletes:
    def test_delete_rows_and_time_travel(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "pd1")
        s1 = write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        s2 = delete_rows(spark, tbl, "n_nationkey % 3 = 0")
        cur = read_iceberg_table(spark, tbl)
        exp = nation.filter("n_nationkey % 3 <> 0")
        assert sorted(cur.collect()) == sorted(exp.collect())
        assert read_iceberg_table(spark, tbl, snapshot_id=s1).count() == nation.count()
        assert s2 == 2

    def test_stacked_delete_files(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "pd2")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        delete_rows(spark, tbl, "n_nationkey % 3 = 0")
        delete_rows(spark, tbl, "n_regionkey = 2 and n_nationkey % 3 <> 0")
        cur = read_iceberg_table(spark, tbl)
        exp = nation.filter("n_nationkey % 3 <> 0 and n_regionkey <> 2")
        assert sorted(cur.collect()) == sorted(exp.collect())

    def test_partition_delete_carries_delete_files(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "pd3")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        delete_rows(spark, tbl, "n_nationkey % 3 = 0")
        delete_partition(tbl, "n_regionkey", 0)
        cur = read_iceberg_table(spark, tbl)
        exp = nation.filter("n_nationkey % 3 <> 0 and n_regionkey <> 0")
        assert sorted(cur.collect()) == sorted(exp.collect())

    def test_unpartitioned_delete_rows(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "pd4")
        write_iceberg_table(nation, tbl)
        delete_rows(spark, tbl, "n_name like 'A%'")
        cur = read_iceberg_table(spark, tbl)
        exp = nation.filter("n_name not like 'A%'")
        assert sorted(cur.collect()) == sorted(exp.collect())

    def test_delete_file_is_sorted_parquet(self, spark, tmp_path, nation):
        # Spec: position delete files sort by (file_path, pos).
        import pyarrow.parquet as pq

        tbl = str(tmp_path / "pd5")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        delete_rows(spark, tbl, "n_nationkey % 2 = 0")
        dd = os.path.join(tbl, "data", "deletes-2")
        files = [
            os.path.join(r, n)
            for r, _d, ns in os.walk(dd)
            for n in ns
            if n.endswith(".parquet")
        ]
        assert len(files) == 1
        t = pq.read_table(files[0]).to_pylist()
        assert t == sorted(t, key=lambda x: (x["file_path"], x["pos"]))
        assert all(set(r) == {"file_path", "pos"} for r in t)


class TestIcebergEqualityDeletes:
    def test_equality_delete_and_time_travel(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "eq1")
        s1 = write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        keys = spark.createDataFrame([(3,), (7,), (11,)], "n_nationkey int")
        delete_rows_equality(spark, tbl, keys)
        cur = read_iceberg_table(spark, tbl)
        exp = nation.filter("n_nationkey not in (3, 7, 11)")
        assert sorted(cur.collect()) == sorted(exp.collect())
        assert read_iceberg_table(spark, tbl, snapshot_id=s1).count() == nation.count()

    def test_rows_appended_after_delete_survive(self, spark, tmp_path, nation):
        # THE equality-delete semantic: the delete applies only to data
        # files with a strictly OLDER sequence number.
        tbl = str(tmp_path / "eq2")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        delete_rows_equality(
            spark, tbl, spark.createDataFrame([(3,), (7,)], "n_nationkey int")
        )
        newrows = nation.filter("n_nationkey in (3, 7)").withColumn(
            "n_name", F.concat(F.col("n_name"), F.lit("_v2"))
        )
        append_rows(newrows, tbl)
        cur = read_iceberg_table(spark, tbl)
        assert cur.count() == nation.count()  # 2 deleted + 2 re-added
        assert cur.filter("n_name like '%_v2'").count() == 2
        assert cur.filter("n_nationkey = 3 and n_name not like '%_v2'").count() == 0

    def test_multi_column_and_null_safe_keys(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a"), (4, "b")], "id long, k string"
        )
        tbl = str(tmp_path / "eq3")
        write_iceberg_table(df, tbl)
        # (2, null) must match the row with the null key — null-safe
        # equality, the spec rule.
        keys = spark.createDataFrame([(2, None), (4, "b")], "id long, k string")
        delete_rows_equality(spark, tbl, keys)
        cur = read_iceberg_table(spark, tbl)
        assert sorted(r["id"] for r in cur.collect()) == [1, 3]

    def test_composes_with_position_deletes(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "eq4")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        delete_rows(spark, tbl, "n_nationkey % 2 = 0")
        delete_rows_equality(
            spark, tbl, spark.createDataFrame([(3,), (5,)], "n_nationkey int")
        )
        cur = read_iceberg_table(spark, tbl)
        exp = nation.filter("n_nationkey % 2 <> 0 and n_nationkey not in (3, 5)")
        assert sorted(cur.collect()) == sorted(exp.collect())

    def test_unknown_equality_column_raises(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "eq5")
        write_iceberg_table(nation, tbl)
        with pytest.raises(ValueError, match="not in schema"):
            delete_rows_equality(
                spark, tbl, spark.createDataFrame([(1,)], "nope int")
            )


class TestIcebergSchemaEvolution:
    def test_rename_is_metadata_only(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "se1")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        before = {
            f
            for r, _d, ns in os.walk(os.path.join(tbl, "data"))
            for f in ns
        }
        rename_column(tbl, "n_name", "nation_name")
        after = {
            f
            for r, _d, ns in os.walk(os.path.join(tbl, "data"))
            for f in ns
        }
        assert before == after  # no data files touched
        back = read_iceberg_table(spark, tbl)
        assert "nation_name" in back.columns and "n_name" not in back.columns
        # Values resolve from the OLD physical column via field ids.
        assert sorted(r["nation_name"] for r in back.collect()) == sorted(
            r["n_name"] for r in nation.collect()
        )

    def test_append_rows_and_carry(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "se2")
        s1 = write_iceberg_table(
            nation.filter("n_nationkey < 20"), tbl, partition_by=["n_regionkey"]
        )
        s2 = append_rows(nation.filter("n_nationkey >= 20"), tbl)
        cur = read_iceberg_table(spark, tbl)
        assert sorted(cur.collect()) == sorted(nation.collect())
        assert read_iceberg_table(spark, tbl, snapshot_id=s1).count() == 20
        assert s2 == 2

    def test_append_after_rename(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "se3")
        write_iceberg_table(
            nation.filter("n_nationkey < 20"), tbl, partition_by=["n_regionkey"]
        )
        rename_column(tbl, "n_name", "nation_name")
        newer = nation.filter("n_nationkey >= 20").withColumnRenamed(
            "n_name", "nation_name"
        )
        append_rows(newer, tbl)
        cur = read_iceberg_table(spark, tbl)
        # Old files (physical n_name) and new files (physical
        # nation_name) both resolve into the renamed logical column.
        assert cur.count() == nation.count()
        assert sorted(r["nation_name"] for r in cur.collect()) == sorted(
            r["n_name"] for r in nation.collect()
        )

    def test_append_respects_position_deletes(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "se4")
        write_iceberg_table(
            nation.filter("n_nationkey < 20"), tbl, partition_by=["n_regionkey"]
        )
        delete_rows(spark, tbl, "n_nationkey % 2 = 0")
        append_rows(nation.filter("n_nationkey >= 20"), tbl)
        cur = read_iceberg_table(spark, tbl)
        exp = nation.filter("(n_nationkey < 20 and n_nationkey % 2 <> 0) or n_nationkey >= 20")
        assert sorted(cur.collect()) == sorted(exp.collect())

    def test_delete_rows_after_rename(self, spark, tmp_path):
        # The delete predicate names the CURRENT schema: the position
        # scan resolves columns by field id, like the reader.
        df = spark.createDataFrame([(i, f"n{i}") for i in range(6)], "id long, name string")
        tbl = str(tmp_path / "se7")
        write_iceberg_table(df, tbl)
        rename_column(tbl, "name", "label")
        delete_rows(spark, tbl, "label = 'n3'")
        cur = read_iceberg_table(spark, tbl)
        assert sorted(r["label"] for r in cur.collect()) == ["n0", "n1", "n2", "n4", "n5"]

    def test_append_missing_column_raises(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "se5")
        write_iceberg_table(nation, tbl)
        with pytest.raises(ValueError, match="missing"):
            append_rows(nation.drop("n_name"), tbl)

    def test_rename_guards(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "se6")
        write_iceberg_table(nation, tbl)
        with pytest.raises(ValueError, match="not in current schema"):
            rename_column(tbl, "nope", "x")
        with pytest.raises(ValueError, match="already exists"):
            rename_column(tbl, "n_name", "n_regionkey")


class TestIcebergScopeGuards:
    def _mangle_metadata(self, tbl: str, fn) -> None:
        hint = os.path.join(tbl, "metadata", "version-hint.text")
        with open(hint, encoding="utf-8") as fh:
            v = int(fh.read())
        mp = os.path.join(tbl, "metadata", f"v{v}.metadata.json")
        with open(mp, encoding="utf-8") as fh:
            meta = json.load(fh)
        fn(meta)
        with open(mp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)

    def test_equality_delete_without_ids_raises(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t8")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        # Hand-mark a manifest entry's data_file as an EQUALITY delete
        # file (content=2) without equality_ids: the reader must refuse
        # rather than guess which columns the delete keys are.
        meta_dir = os.path.join(tbl, "metadata")
        mf = [f for f in os.listdir(meta_dir) if f.startswith("manifest-") and f.endswith(".avro")][0]
        p = os.path.join(meta_dir, mf)
        schema, recs = read_avro_file(p)
        recs[0]["data_file"]["content"] = 2
        write_avro_file(p, schema, recs)
        with pytest.raises(ValueError, match="equality_ids"):
            read_iceberg_table(spark, tbl)

    def test_nonidentity_transform_raises(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t9")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])

        def daysify(meta):
            meta["partition-specs"][0]["fields"][0]["transform"] = "days"

        self._mangle_metadata(tbl, daysify)
        with pytest.raises(NotImplementedError, match="transform"):
            read_iceberg_table(spark, tbl)

    def test_future_format_version_raises(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t10")
        write_iceberg_table(nation, tbl)
        self._mangle_metadata(tbl, lambda m: m.update({"format-version": 4}))
        with pytest.raises(NotImplementedError, match="format-version"):
            read_iceberg_table(spark, tbl)

    def test_filter_on_nonpartition_column_raises(self, spark, tmp_path, nation):
        tbl = str(tmp_path / "t11")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        with pytest.raises(ValueError, match="non-partition"):
            read_iceberg_table(spark, tbl, partition_filter={"n_name": "FRANCE"})


class TestIcebergOptimize:
    def test_rewrite_purges_both_delete_kinds(self, spark, tmp_path, nation):
        from healthcare_etl_spark.sources.iceberg import optimize_compact

        tbl = str(tmp_path / "opt1")
        write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        delete_rows(spark, tbl, "n_nationkey % 2 = 0")
        delete_rows_equality(
            spark, tbl, spark.createDataFrame([(3,), (5,)], "n_nationkey int")
        )
        before = read_iceberg_table(spark, tbl)
        exp = sorted(before.collect())
        v = optimize_compact(spark, tbl)
        after = read_iceberg_table(spark, tbl)
        assert sorted(after.collect()) == exp
        # the rewritten snapshot carries NO delete files: its plan has no
        # anti-join inputs and its manifests hold only content=0 entries
        from healthcare_etl_spark.sources.iceberg import (
            _current_metadata,
            _live_entries,
        )

        meta = _current_metadata(tbl)
        snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
        d, p, q = _live_entries(meta, snaps[v], tbl)
        assert p == [] and q == []
        assert all(e["data_file"]["content"] == 0 for e in d)
        # pre-OPTIMIZE snapshot still time-travelable with deletes applied
        tt = read_iceberg_table(spark, tbl, snapshot_id=v - 1)
        assert sorted(tt.collect()) == exp

    def test_noop_when_nothing_to_compact(self, spark, tmp_path, nation):
        from healthcare_etl_spark.sources.iceberg import optimize_compact

        tbl = str(tmp_path / "opt2")
        s1 = write_iceberg_table(nation, tbl, partition_by=["n_regionkey"])
        assert optimize_compact(spark, tbl) == s1  # single file per group, no deletes

    def test_compacts_multifile_groups(self, spark, tmp_path, nation):
        from healthcare_etl_spark.sources.iceberg import optimize_compact

        tbl = str(tmp_path / "opt3")
        write_iceberg_table(
            nation.repartition(3), tbl, partition_by=["n_regionkey"]
        )
        n_before = len(read_iceberg_table(spark, tbl).inputFiles())
        optimize_compact(spark, tbl)
        after = read_iceberg_table(spark, tbl)
        assert len(after.inputFiles()) < n_before
        assert sorted(after.collect()) == sorted(nation.collect())
