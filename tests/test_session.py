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


def test_python_workers_import_the_package_from_any_cwd(tmp_path, sf_smoke):
    """A driver started outside the repo, with no PYTHONPATH, still runs
    a query whose Arrow workers import ``healthcare_etl_spark``:
    ``configure_session`` puts the package's parent directory on the
    workers' PYTHONPATH."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(repo)!r})\n"
        "from healthcare_etl_spark.plans.registry import get_registry\n"
        "from healthcare_etl_spark.session import get_spark\n"
        "spark = get_spark(cpus=2)\n"
        "q = get_registry()['q_multimodal_bmp_stats']\n"
        f"print('rows', q.fn(spark, {sf_smoke!r}).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 500" in out.stdout
