"""sources.readers.local_frame: driver-side rows as an Arrow LocalRelation,
identical in rows and schema to ``createDataFrame(rows, schema)`` but
never a pickled ``PythonRDD`` (which starts a Python worker per scan)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import types as T

from healthcare_etl_spark.sources import delta
from healthcare_etl_spark.sources.readers import local_frame

_DDL = "s string, i int, l long, d double"
_STRUCT = T.StructType(
    [
        T.StructField("s", T.StringType(), True),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("l", T.LongType(), True),
        T.StructField("d", T.DoubleType(), False),
    ]
)
_ROWS = [("a", 1, 2**40, 0.5), (None, -3, None, 1.0), ("", 0, -1, -2.25)]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("schema", [_DDL, _STRUCT], ids=["ddl", "struct"])
@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, schema, rows):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    # select("*") asks the JVM for the schema instead of the Python copy.
    assert got.select("*").schema == want.select("*").schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_accepts_rows_and_rejects_null_in_non_nullable(spark):
    sunk = spark.createDataFrame(_ROWS[:1], _STRUCT)
    assert local_frame(spark, sunk.collect(), sunk.schema).collect() == sunk.collect()
    with pytest.raises(ValueError, match="non-nullable"):
        local_frame(spark, [("a", None, 1, 0.5)], _STRUCT)


def test_local_frame_is_a_local_relation(spark):
    plan = _optimized(local_frame(spark, _ROWS, _DDL))
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" in _optimized(spark.createDataFrame(_ROWS, _DDL))


def test_delta_deletion_vector_mask_is_not_a_python_rdd(spark, tmp_path):
    tbl = str(tmp_path / "dv")
    delta.write_delta_table(spark.range(50).selectExpr("id", "id % 7 AS g").repartition(2), tbl)
    delta.delete_rows(spark, tbl, "g = 3")
    df = delta.read_delta_table(spark, tbl)
    plan = _optimized(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    lineage = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in lineage, lineage
    assert sorted(r.id for r in df.collect()) == [i for i in range(50) if i % 7 != 3]


def test_no_pickled_local_frames():
    """Every driver-side frame goes through ``local_frame``: a
    ``createDataFrame(`` call anywhere else in the package fails here."""
    root = Path(__file__).resolve().parents[1] / "healthcare_etl_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
            for node in ast.walk(fn)
        }
        offenders += [
            f"{path.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and id(node) not in allowed
        ]
    assert offenders == []
