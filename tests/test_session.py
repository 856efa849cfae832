"""The session factory's settings that change how PySpark behaves."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F


def test_call_site_capture_is_off(spark):
    """Call-site capture walks the Python stack for every Column built;
    get_spark turns it off (a static conf, so only the builder can)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_misspelled_column_error_names_the_column(spark):
    """With call-site capture off, an analysis error still names the
    column that does not resolve."""
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(AnalysisException, match="doc_idd"):
        df.select(F.col("doc_idd").alias("x"))
    with pytest.raises(AnalysisException, match="doc_idd"):
        df.select("doc_idd")
