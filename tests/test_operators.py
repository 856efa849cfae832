"""Semantics edge tests for the operator library (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from healthcare_etl_spark.operators import (
    broadcast_inner_join,
    coerce_numeric,
    drop_null_rows,
    normalize_column_name,
    normalize_columns,
)


def test_normalize_column_name():
    # reference etl_script.py:74 convention
    assert normalize_column_name(" Facility ID ") == "facility_id"
    assert normalize_column_name("City/Town") == "city_town"
    assert normalize_column_name("  Excess Readmission Ratio") == "excess_readmission_ratio"
    assert normalize_column_name("already_clean") == "already_clean"


def test_normalize_columns(spark):
    df = spark.createDataFrame([(1, 2)], [" A Col ", "B/Col"])
    assert normalize_columns(df).columns == ["a_col", "b_col"]


def test_coerce_numeric_sentinels(spark):
    # pandas to_numeric(errors='coerce') behavior: unparseable -> NULL
    df = spark.createDataFrame(
        [("1.5",), ("N/A",), ("Too Few to Report",), ("  2.25 ",), (None,)], ["x"]
    )
    out = coerce_numeric(df, ["x", "missing_col"]).collect()
    vals = [r.x for r in out]
    assert vals == [1.5, None, None, 2.25, None]


def test_drop_null_rows_subset(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0, None), (None, 1.0, 1.0), (1.0, None, 1.0), (2.0, 2.0, 2.0)],
        ["a", "b", "c"],
    )
    kept = drop_null_rows(df, ["a", "b"]).collect()
    assert sorted((r.a, r.b) for r in kept) == [(1.0, 1.0), (2.0, 2.0)]


def test_join_duplicate_keys_cross_product(spark):
    # pd.merge cross-products duplicate keys; Spark must match (SURVEY §7.3)
    left = spark.createDataFrame([("k", 1), ("k", 2)], ["id", "l"])
    right = spark.createDataFrame([("k", 10), ("k", 20)], ["id", "r"])
    out = broadcast_inner_join(left, right, on="id")
    assert out.count() == 4
    # joined on name -> single key column, like pandas' on='facility_id'
    assert out.columns.count("id") == 1


def test_inner_join_drops_nonmatching(spark):
    left = spark.createDataFrame([("a", 1), ("b", 2)], ["id", "l"])
    right = spark.createDataFrame([("a", 10)], ["id", "r"])
    assert broadcast_inner_join(left, right, on="id").count() == 1


def test_approx_count_distinct_tolerance(spark, sf_smoke):
    from healthcare_etl_spark.sources import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    exact = li.select(F.countDistinct("l_partkey")).first()[0]
    approx = li.select(F.approx_count_distinct("l_partkey", rsd=0.01)).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_csv_reader_explicit_schema(spark, tmp_path):
    from pyspark.sql import types as T

    from healthcare_etl_spark.sources import read_csv

    p = tmp_path / "facilities.csv"
    p.write_text("Facility ID,Score\n010001,1.5\n020002,N/A\n")
    schema = T.StructType(
        [
            T.StructField("Facility ID", T.StringType()),
            T.StructField("Score", T.StringType()),
        ]
    )
    df = read_csv(spark, str(p), schema=schema)
    rows = df.collect()
    # leading zeros preserved (the reference's dtype={'Facility ID': str} lesson)
    assert rows[0]["Facility ID"] == "010001"


def test_write_table_overwrite(spark, tmp_path):
    from healthcare_etl_spark.sources import write_table

    out = str(tmp_path / "t")
    df1 = spark.range(5)
    df2 = spark.range(3)
    write_table(df1, out)
    write_table(df2, out)  # if_exists='replace' semantics (etl_script.py:168)
    assert spark.read.parquet(out).count() == 3


def test_materialize_persists_and_serves_reads(spark, sf_smoke):
    """S5 (reference app.py:28 @st.cache_data): materialize() must leave
    the frame persisted at the requested level, populated (eager), and
    still correct on re-read; unpersist restores the unmaterialized
    state."""
    from healthcare_etl_spark.sources import load_table, materialize

    n = load_table(spark, sf_smoke, "nation")
    expected = n.count()
    cached = materialize(n)
    try:
        lvl = cached.storageLevel
        assert lvl.useMemory and lvl.useDisk
        # eager: the count inside materialize populated the cache
        assert cached.count() == expected
        assert {r.n_name for r in cached.collect()} == {r.n_name for r in n.collect()}
    finally:
        cached.unpersist(blocking=True)
    assert not cached.storageLevel.useMemory


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path, sf_smoke):
    """Live JDBC sink + scan (S2/S3 reference etl_script.py:164-168,
    app.py:31-32) against embedded Derby — the JDBC database shipped in
    Spark's own jars, so no external service is needed. Covers overwrite
    (write twice, second replaces) and read-back equality."""
    from healthcare_etl_spark.sources import load_table, read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/smokedb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    nation = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_jdbc(nation, url, "nation_sink", properties=props)
    # overwrite semantics: second write replaces, not appends
    write_jdbc(nation, url, "nation_sink", properties=props)

    back = read_jdbc(spark, url, "nation_sink", properties=props)
    assert back.count() == nation.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in nation.collect()}

    # partitioned parallel read: same rows, several range-bounded queries
    back_par = read_jdbc(
        spark,
        url,
        "nation_sink",
        properties=props,
        partition_column="n_nationkey",
        lower_bound=0,
        upper_bound=30,
        num_partitions=4,
    )
    assert back_par.rdd.getNumPartitions() == 4
    assert back_par.count() == nation.count()


def test_approx_quantiles_accuracy(spark, sf_smoke):
    from healthcare_etl_spark.plans.registry import get_queries
    from healthcare_etl_spark.sources import load_table

    approx = get_queries()["q_approx_quantiles"](spark, sf_smoke).first()
    li = load_table(spark, sf_smoke, "lineitem")
    exact = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    ).first()
    assert abs(approx.p50 - exact.p50) / exact.p50 < 0.01
    assert abs(approx.p95 - exact.p95) / exact.p95 < 0.01


def test_json_and_orc_roundtrip(spark, sf_smoke, tmp_path):
    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.readers import read_json, read_orc

    src = load_table(spark, sf_smoke, "region")
    jp, op = str(tmp_path / "r_json"), str(tmp_path / "r_orc")
    src.write.json(jp)
    src.write.orc(op)
    back_j = read_json(spark, jp, "r_regionkey INT, r_name STRING")
    back_o = read_orc(spark, op)
    assert sorted(r.r_name for r in back_j.collect()) == sorted(
        r.r_name for r in src.collect()
    )
    assert back_o.count() == src.count()
    # ORC pushdown works like parquet
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back_o.filter(F.col("r_regionkey") == 1).explain("formatted")
    assert "PushedFilters" in buf.getvalue()


# --- banded range join ------------------------------------------------------


def _range_join_inputs(spark, sf_smoke):
    from healthcare_etl_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    return purchases, clicks


def test_banded_range_join_equals_naive(spark, sf_smoke):
    """The banded equi-join rewrite returns exactly the nested-loop result."""
    from healthcare_etl_spark.operators.rangejoin import banded_range_join

    purchases, clicks = _range_join_inputs(spark, sf_smoke)
    banded = banded_range_join(
        purchases, clicks, on="user_id", left_ts="p_ts", right_ts="c_ts",
        lower_seconds=-7200.0,
    ).select("purchase_id", "c_ts")
    lo = F.col("p_ts") - F.expr("INTERVAL 2 HOURS")
    naive = (
        purchases.join(clicks, "user_id")
        .filter((F.col("c_ts") >= lo) & (F.col("c_ts") < F.col("p_ts")))
        .select("purchase_id", "c_ts")
    )
    b = sorted(map(tuple, banded.collect()))
    n = sorted(map(tuple, naive.collect()))
    assert b == n and len(b) > 0


def test_banded_range_join_no_nested_loop(spark, sf_smoke):
    """The physical plan must be an equi-join, never BroadcastNestedLoopJoin."""
    from healthcare_etl_spark.operators.rangejoin import banded_range_join

    purchases, clicks = _range_join_inputs(spark, sf_smoke)
    out = banded_range_join(
        purchases, clicks, on="user_id", left_ts="p_ts", right_ts="c_ts",
        lower_seconds=-3600.0,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "Join" in plan


def test_banded_range_join_rejects_bad_args(spark, sf_smoke):
    from healthcare_etl_spark.operators.rangejoin import banded_range_join

    purchases, clicks = _range_join_inputs(spark, sf_smoke)
    with pytest.raises(ValueError):
        banded_range_join(purchases, clicks, on="user_id", left_ts="p_ts",
                          right_ts="c_ts", lower_seconds=0.0)
    with pytest.raises(ValueError):
        banded_range_join(purchases, purchases, on="user_id", left_ts="p_ts",
                          right_ts="p_ts")


def test_event_time_operators_accept_timestamp_ntz(spark):
    """Round-4 regression: a producer whose parquet reads as TIMESTAMP_NTZ
    must not break the event-time operators. sessionize / banded_range_join /
    asof_join all route time arithmetic through functions.timeutils, which
    accepts both timestamp flavors (NTZ->TZ cast is value-preserving under
    the pinned UTC session tz). This test feeds deliberately NTZ-typed
    frames, independent of any read-boundary conf."""
    from healthcare_etl_spark.operators.asof import asof_join
    from healthcare_etl_spark.operators.rangejoin import banded_range_join
    from healthcare_etl_spark.operators.sessionize import sessionize

    ntz = lambda s: F.to_timestamp_ntz(F.lit(s))  # noqa: E731
    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:10:00"),
         (3, "2024-01-01 12:00:00")],
        "event_id long, ts_s string",
    ).select("event_id", ntz(F.col("ts_s")).alias("ts"), F.lit(7).alias("user_id"))
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"

    sessions = sessionize(ev)
    got = {r["event_id"]: r["session_seq"] for r in sessions.collect()}
    assert got == {1: 1, 2: 1, 3: 2}

    purchases = ev.filter(F.col("event_id") == 3).select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.select("user_id", F.col("ts").alias("c_ts"))
    banded = banded_range_join(
        purchases, clicks, on="user_id", left_ts="p_ts", right_ts="c_ts",
        lower_seconds=-3600.0 * 3,
    )
    assert banded.count() == 2  # both 10:00-ish events precede 12:00 within 3h

    rates = spark.createDataFrame(
        [("2024-01-01 09:00:00", 1.0), ("2024-01-01 11:00:00", 2.0)],
        "ts_s string, rate double",
    ).select(ntz(F.col("ts_s")).alias("ts"), "rate")
    joined = asof_join(ev.select("event_id", "ts"), rates, on="ts", value_cols=["rate"])
    got_rates = {r["event_id"]: r["rate"] for r in joined.collect()}
    assert got_rates == {1: 1.0, 2: 1.0, 3: 2.0}


def test_with_retry_semantics():
    """S4 (reference etl_script.py:133-155): bounded attempts, fixed
    delay between failures, success short-circuits, exhaustion re-raises
    the last error. Injected sleep keeps the test wall-clock-free."""
    from healthcare_etl_spark.sources import with_retry

    calls = {"n": 0}
    delays: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("db not up yet")
        return "ok"

    assert with_retry(flaky, attempts=5, delay_seconds=10.0, sleep=delays.append) == "ok"
    assert calls["n"] == 3
    assert delays == [10.0, 10.0]  # no sleep after the success

    calls["n"] = 0
    delays.clear()
    with pytest.raises(ConnectionError):
        with_retry(
            lambda: (_ for _ in ()).throw(ConnectionError("down")),
            attempts=4, delay_seconds=2.5, sleep=delays.append,
        )
    assert delays == [2.5, 2.5, 2.5]  # attempts-1 sleeps, then re-raise

    with pytest.raises(ValueError):
        with_retry(lambda: 1, attempts=0)


def test_jdbc_retry_wrappers_live_derby(spark, tmp_path, sf_smoke):
    """read/write_jdbc_with_retry against embedded Derby: a bad URL
    burns the full attempt budget and re-raises; the good URL succeeds
    (attempt 1, no sleeps) and round-trips the rows."""
    from healthcare_etl_spark.sources import (
        load_table,
        read_jdbc_with_retry,
        write_jdbc_with_retry,
    )

    url = f"jdbc:derby:{tmp_path}/retrydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nation = load_table(spark, sf_smoke, "nation").select("n_nationkey", "n_name")

    delays: list[float] = []
    write_jdbc_with_retry(
        nation, url, "nation_retry", properties=props,
        attempts=3, delay_seconds=1.0, sleep=delays.append,
    )
    back = read_jdbc_with_retry(
        spark, url, "nation_retry", properties=props,
        attempts=3, delay_seconds=1.0, sleep=delays.append,
    )
    assert back.count() == nation.count()
    assert delays == []  # both succeeded on the first attempt

    # non-creatable database: every attempt fails, delay recorded between
    bad_url = f"jdbc:derby:{tmp_path}/missingdb"  # no ;create=true
    with pytest.raises(Exception):
        read_jdbc_with_retry(
            spark, bad_url, "nope", properties=props,
            attempts=2, delay_seconds=0.5, sleep=delays.append,
        )
    assert delays == [0.5]


def test_load_table_events_error_propagates(spark, sf_smoke, monkeypatch):
    """A failing events read raises the original error; it is never
    swallowed into a driver-side decode of the whole file."""
    import pytest

    from healthcare_etl_spark.sources import load_table, readers

    def broken(*_args, **_kwargs):
        raise RuntimeError("scan failed")

    monkeypatch.setattr(readers, "_read_parquet", broken)
    with pytest.raises(RuntimeError, match="scan failed"):
        load_table(spark, sf_smoke, "events")


def test_bigint_epoch_granularity_detection(spark, tmp_path):
    """The raw-BIGINT ts fallback must detect the producer's epoch
    granularity from data magnitude instead of assuming nanos (the
    round-4 silent-corruption class: div-1000 applied to µs values made
    every timestamp 1000x too small with no error raised). Four files,
    same instant encoded as s/ms/µs/ns, must all read back identical."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from healthcare_etl_spark.sources import load_table

    instant = datetime.datetime(2024, 3, 1, 12, 34, 56, 789000, tzinfo=datetime.timezone.utc)
    epoch_us = int(instant.timestamp() * 1_000_000)
    # coarser units can't carry sub-unit precision; expected = truncated
    encodings = {
        "s": (epoch_us // 1_000_000, instant.replace(microsecond=0)),
        "ms": (epoch_us // 1_000, instant),
        "us": (epoch_us, instant),
        "ns": (epoch_us * 1_000, instant),
    }
    for unit, (raw, expected) in encodings.items():
        d = tmp_path / unit
        d.mkdir()
        # int64 column named ts with NO parquet logical type — Spark
        # reads it as plain bigint, triggering the detection path
        table = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([raw], pa.int64()),
                "user_id": pa.array([7], pa.int64()),
                "event_type": pa.array(["click"], pa.string()),
                "value": pa.array([1.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        pq.write_table(table, str(d / "events.parquet"))
        got = load_table(spark, str(d), "events").select("ts").first()["ts"]
        assert got.replace(tzinfo=datetime.timezone.utc) == expected, (
            f"{unit}: {got} != {expected}"
        )


def test_synthetic_datasource_partition_parallel(spark):
    """The custom Python DataSource must produce identical rows for any
    partition count (contiguous non-overlapping ranges), and actually
    run with >1 input partition."""
    from healthcare_etl_spark.sources.synthetic import (
        register_synthetic_source,
        synthetic_doc_text,
    )

    register_synthetic_source(spark)

    def read(nparts):
        return (
            spark.read.format("synthetic_docs")
            .option("n_rows", 100)
            .option("n_partitions", nparts)
            .load()
        )

    assert read(7).rdd.getNumPartitions() == 7
    one = read(1).orderBy("doc_id").collect()
    many = read(7).orderBy("doc_id").collect()
    assert one == many
    assert [r.doc_id for r in one] == list(range(100))
    assert one[13].text == synthetic_doc_text(13)
    assert one[13].source == "src1"


def test_salted_join_equals_plain_join(spark):
    """Salting is semantics-preserving: inner and left results must be
    row-for-row identical to the unsalted join, including duplicate dim
    keys (cross-product of matches) and unmatched fact rows (left)."""
    from healthcare_etl_spark.operators.relational import salted_join

    facts = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 20, 3.0), (4, 99, 4.0)],
        "fid long, k long, v double",
    )
    dim = spark.createDataFrame(
        [(10, "a"), (20, "b"), (20, "b2"), (30, "c")], "dk long, name string"
    )
    for how in ("inner", "left"):
        got = sorted(
            salted_join(facts, dim, "k", "dk", n_salts=4, salt_source="fid", how=how)
            .select("fid", "k", "v", "dk", "name")
            .collect()
        )
        want = sorted(
            facts.join(dim, facts["k"] == dim["dk"], how)
            .select("fid", "k", "v", "dk", "name")
            .collect()
        )
        assert got == want, how


def test_salted_join_spreads_and_guards(spark):
    """The executed join condition must actually include the salt (the
    whole point — each hot key spans n_salts shuffle partitions), the
    salt column must not leak into the output, and right/full joins are
    rejected (unmatched dim rows would appear once per salt)."""
    import pytest

    from healthcare_etl_spark.operators.relational import salted_join

    facts = spark.createDataFrame([(i, i % 2, float(i)) for i in range(40)], "fid long, k long, v double")
    dim = spark.createDataFrame([(0, "x"), (1, "y")], "dk long, name string")
    out = salted_join(facts, dim, "k", "dk", n_salts=8, salt_source="fid")
    assert "__salt" not in out.columns
    assert "__salt" in out._jdf.queryExecution().executedPlan().toString()
    # 2 distinct keys x 8 salts: the fact rows must occupy >2 distinct
    # (key, salt) join groups — i.e. the hot keys really were split.
    n_groups = (
        facts.withColumn("__salt", F.pmod(F.xxhash64("fid"), F.lit(8)))
        .select("k", "__salt").distinct().count()
    )
    assert n_groups > 2
    for how in ("right", "right_outer", "full", "full_outer", "cross"):
        with pytest.raises(ValueError):
            salted_join(facts, dim, "k", "dk", how=how)


def test_missing_input_raises_clear_error(spark, tmp_path):
    """Graceful missing-input parity with reference etl_script.py:55-57:
    a bad path must raise MissingInputError (a FileNotFoundError) whose
    message names the path — never a JVM AnalysisException trace."""
    import pytest as _pytest

    from healthcare_etl_spark.sources import MissingInputError, load_table, read_csv

    with _pytest.raises(MissingInputError) as ei:
        load_table(spark, str(tmp_path / "nope"), "events")
    msg = str(ei.value)
    assert "events" in msg and "nope" in msg and "sf_dir" in msg

    with _pytest.raises(MissingInputError) as ei:
        read_csv(spark, str(tmp_path / "missing.csv"))
    assert "missing.csv" in str(ei.value)
    assert isinstance(ei.value, FileNotFoundError)


def test_jdbc_postgres_dialect_matrix(spark):
    """S2/S3 against the reference's REAL target dialect (Postgres,
    etl_script.py:139-168) without a live server: Spark ships
    PostgresDialect in its own jars, so the exact DDL types an
    overwrite (to_sql if_exists='replace') would CREATE TABLE with on
    Postgres are pinned here next to Derby's (the dialect the live
    round-trip tests exercise). The delta between the proven path and
    the production path is therefore explicit and version-pinned:
    TEXT/CLOB for strings, FLOAT8/DOUBLE PRECISION, BYTEA/BLOB, and —
    the one semantic trap — Spark 4 maps TimestampType to Postgres
    TIMESTAMP WITH TIME ZONE (the reference's pandas to_sql used plain
    TIMESTAMP; both store UTC instants under this repo's pinned UTC
    session tz)."""
    jvm = spark._jvm
    dialects = jvm.org.apache.spark.sql.jdbc.JdbcDialects
    pg = dialects.get("jdbc:postgresql://host/db")
    derby = dialects.get("jdbc:derby:memory:db")
    assert pg.getClass().getName().endswith("PostgresDialect")
    DT = jvm.org.apache.spark.sql.types.DataTypes
    JdbcUtils = jvm.org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils

    def eff(dialect, jdt):
        opt = dialect.getJDBCType(jdt)
        if opt.isDefined():
            return opt.get().databaseTypeDefinition()
        common = JdbcUtils.getCommonJDBCType(jdt)
        return common.get().databaseTypeDefinition()

    expected = {
        # (catalyst type) -> (postgres DDL, derby DDL)
        "StringType": ("TEXT", "CLOB"),
        "LongType": ("BIGINT", "BIGINT"),
        "IntegerType": ("INTEGER", "INTEGER"),
        "DoubleType": ("FLOAT8", "DOUBLE PRECISION"),
        "FloatType": ("FLOAT4", "REAL"),
        "BooleanType": ("BOOLEAN", "BOOLEAN"),
        "BinaryType": ("BYTEA", "BLOB"),
        "TimestampType": ("TIMESTAMP WITH TIME ZONE", "TIMESTAMP"),
        "DateType": ("DATE", "DATE"),
        "ShortType": ("SMALLINT", "SMALLINT"),
    }
    for name, (pg_ddl, derby_ddl) in expected.items():
        jdt = getattr(DT, name)
        assert eff(pg, jdt) == pg_ddl, name
        assert eff(derby, jdt) == derby_ddl, name
    # Overwrite semantics switch: both dialects report non-cascading
    # TRUNCATE, so .option('truncate', true) takes the TRUNCATE path on
    # BOTH (table kept) and plain overwrite drops + recreates on both —
    # the Derby-proven behavior transfers to Postgres.
    assert pg.isCascadingTruncateTable().toString() == "Some(false)"
    assert derby.isCascadingTruncateTable().toString() == "Some(false)"


def test_jdbc_overwrite_truncate_vs_drop_live_derby(spark, tmp_path):
    """Replace-semantics contract (S2, reference if_exists='replace'):
    plain overwrite DROPS and recreates the table (new schema wins);
    overwrite+truncate KEEPS the table and only empties it. Proven live
    on Derby by observing the surviving schema: after truncate-overwrite
    with a narrower frame the old column is still there (NULL-filled);
    after plain overwrite it is gone."""
    from healthcare_etl_spark.sources import read_jdbc
    from healthcare_etl_spark.sources.writers import write_jdbc

    url = f"jdbc:derby:{tmp_path}/truncdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    wide = spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string")
    narrow = spark.createDataFrame([(7,), (8,)], "a long")

    write_jdbc(wide, url, "t", mode="overwrite", properties=props)
    # truncate path: table kept -> column b survives, NULL-filled
    narrow.write.mode("overwrite").option("truncate", "true").jdbc(
        url, "t", properties=props
    )
    back = read_jdbc(spark, url, "t", properties=props)
    assert sorted(c.lower() for c in back.columns) == ["a", "b"]
    rows = {r["A"] if "A" in r else r["a"]: r for r in back.collect()}
    assert set(rows) == {7, 8}
    assert all(r[1] is None for r in back.collect())
    # drop path: plain overwrite recreates with the narrow schema only
    write_jdbc(narrow, url, "t", mode="overwrite", properties=props)
    back2 = read_jdbc(spark, url, "t", properties=props)
    assert [c.lower() for c in back2.columns] == ["a"]


def test_parquet_schema_evolution_merge_and_pushdown(spark, tmp_path):
    """Schema evolution on the parquet sink/scan path: a second batch
    adds a column; reading with mergeSchema unions the schemas (old
    rows NULL-filled) and filters on the ORIGINAL column still push
    down to the scan. The lakehouse-adjacent behavior a long-lived
    100 TB table depends on when producers add fields."""
    from healthcare_etl_spark.sources.writers import write_table

    p = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    write_table(v1, p, mode="overwrite")
    v2 = spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    )
    write_table(v2, p, mode="append")

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert sorted(merged.columns) == ["id", "name", "score"]
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 9.5

    plan = (
        merged.filter(merged.id > 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "GreaterThan(id,1)" in plan


def test_jdbc_config_from_env_defaults_and_overrides():
    """Env-driven connection config parity (etl_script.py:133-136):
    reference defaults when unset, env values when set, credentials in
    properties (never in the URL)."""
    from healthcare_etl_spark.sources import jdbc_config_from_env

    url, props = jdbc_config_from_env(env={})
    assert url == "jdbc:postgresql://localhost:5432/postgres"
    assert props["user"] == "postgres" and props["driver"] == "org.postgresql.Driver"

    url2, props2 = jdbc_config_from_env(
        env={
            "DB_HOST": "db.internal",
            "DB_PORT": "6543",
            "DB_NAME": "etl",
            "DB_USER": "svc",
            "DB_PASSWORD": "s3cret",
        }
    )
    assert url2 == "jdbc:postgresql://db.internal:6543/etl"
    assert props2 == {
        "user": "svc",
        "password": "s3cret",
        "driver": "org.postgresql.Driver",
    }
    assert "s3cret" not in url2


def test_delta_round_trip_unpartitioned(spark, tmp_path):
    """Unpartitioned Delta write -> read returns exactly the written
    rows with the declared schema (commit replay + schema enforcement)."""
    from pyspark.sql import functions as F

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import read_delta_table, write_delta_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_nation")
    write_delta_table(nation, table)
    back = read_delta_table(spark, table)
    assert back.schema == nation.schema
    assert sorted(back.collect()) == sorted(nation.collect())
    # no partition columns -> single multi-file scan, still a parquet
    # relation (pushdown-capable), not a union of literals
    plan = back.filter(F.col("n_regionkey") > 1)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan


def test_delta_partition_delete_and_time_travel(spark, tmp_path):
    """Partitioned table: version 0 has every region; a metadata-only
    partition DELETE (remove actions) produces version 1 without that
    region; version= pins time travel; partition values come back with
    their declared types."""
    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        delete_partition,
        read_delta_table,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_part")
    write_delta_table(nation, table, partition_by=["n_regionkey"])
    v1 = delete_partition(table, "n_regionkey", "0")
    assert v1 == 1
    latest = read_delta_table(spark, table)
    v0 = read_delta_table(spark, table, version=0)
    assert v0.count() == 25 and latest.count() == 20
    assert latest.filter("n_regionkey = 0").count() == 0
    assert dict(latest.dtypes)["n_regionkey"] == "int"
    assert sorted(v0.collect()) == sorted(nation.collect())


def test_delta_unsupported_reader_version_raises(spark, tmp_path):
    """A protocol action demanding reader features we do not implement
    must raise, never silently misread the table."""
    import json
    import os

    import pytest

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import read_delta_table, write_delta_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_v3")
    write_delta_table(nation, table)
    commit = os.path.join(table, "_delta_log", f"{0:020d}.json")
    lines = open(commit).read().splitlines()
    lines[0] = json.dumps({"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}})
    open(commit, "w").write("\n".join(lines) + "\n")
    with pytest.raises(NotImplementedError):
        read_delta_table(spark, table)
    with pytest.raises(ValueError):
        read_delta_table(spark, str(tmp_path / "delta_v3"), version=99)


def test_delta_checkpoint_replay(spark, tmp_path):
    """Classic checkpoint parquet: after write_checkpoint, the reader
    replays [checkpoint] + [later JSON commits]; the checkpoint alone
    carries the full live set (proved by vacuuming every JSON commit);
    commits AFTER the checkpoint still apply on top."""
    import os

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        delete_partition,
        read_delta_table,
        write_checkpoint,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_ckpt")
    write_delta_table(nation, table, partition_by=["n_regionkey"])
    delete_partition(table, "n_regionkey", "0")
    assert write_checkpoint(spark, table) == 1
    # a post-checkpoint commit must still apply on top of the checkpoint
    delete_partition(table, "n_regionkey", "1")
    assert read_delta_table(spark, table).count() == 15
    assert read_delta_table(spark, table, version=1).count() == 20
    # vacuum the JSON commits at/below the checkpoint: replay must
    # come from the checkpoint parquet alone
    log_dir = os.path.join(table, "_delta_log")
    for v in (0, 1):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    assert read_delta_table(spark, table, version=1).count() == 20
    assert read_delta_table(spark, table).count() == 15


def test_delta_delete_partition_after_checkpoint_vacuum(spark, tmp_path):
    """delete_partition must resolve the live set through the checkpoint
    (ADVICE r8 medium): after write_checkpoint + vacuuming the
    checkpointed JSON commits, the add actions live only in the
    checkpoint parquet — a JSON-only replay would return a new version
    while silently removing nothing."""
    import os

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        delete_partition,
        read_delta_table,
        write_checkpoint,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_del_ckpt")
    write_delta_table(nation, table, partition_by=["n_regionkey"])
    assert write_checkpoint(spark, table) == 0
    os.remove(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    v = delete_partition(table, "n_regionkey", "2")
    assert v == 1
    latest = read_delta_table(spark, table)
    assert latest.count() == 20
    assert latest.filter("n_regionkey = 2").count() == 0
    # re-checkpoint on top of a checkpoint (JSON tail vacuumed) must
    # carry the checkpointed live set forward too
    assert write_checkpoint(spark, table) == 1
    os.remove(os.path.join(table, "_delta_log", f"{1:020d}.json"))
    assert read_delta_table(spark, table).count() == 20


def test_delta_null_partition_value(spark, tmp_path):
    """Null partition values (__HIVE_DEFAULT_PARTITION__ / JSON null)
    are legal Delta state (ADVICE r8 medium): the reader must group and
    order them None-safely, and reconstruct the column as NULL."""
    from pyspark.sql import functions as F

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import read_delta_table, write_delta_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey",
        "n_name",
        F.when(F.col("n_regionkey") == 0, F.lit(None))
        .otherwise(F.col("n_regionkey"))
        .alias("n_regionkey"),
    )
    table = str(tmp_path / "delta_null_part")
    write_delta_table(nation, table, partition_by=["n_regionkey"])
    back = read_delta_table(spark, table)
    assert back.count() == 25
    assert back.filter(F.col("n_regionkey").isNull()).count() == 5
    assert sorted(back.collect(), key=str) == sorted(nation.collect(), key=str)


def test_delta_checkpoint_unpartitioned_map_typed(spark, tmp_path):
    """write_checkpoint on an UNPARTITIONED table (ADVICE r8 low): the
    spec types checkpoint partitionValues as MAP<string,string>; struct
    inference breaks on the all-empty case. Assert the write succeeds,
    the parquet carries a map-typed column, and replay-from-checkpoint-
    only reproduces the table."""
    import os

    import pyarrow.parquet as papq

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        read_delta_table,
        write_checkpoint,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_unpart_ckpt")
    write_delta_table(nation, table)
    assert write_checkpoint(spark, table) == 0
    ckpt = os.path.join(table, "_delta_log", f"{0:020d}.checkpoint.parquet")
    schema = papq.read_schema(ckpt)
    add_type = schema.field("add").type
    pv_field = add_type.field(add_type.get_field_index("partitionValues"))
    assert "map" in str(pv_field.type), pv_field.type
    os.remove(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    back = read_delta_table(spark, table)
    assert sorted(back.collect()) == sorted(nation.collect())


def test_delta_partition_pruning_plan(spark, tmp_path):
    """An equality predicate on the partition column must prune whole
    file groups BEFORE scan (VERDICT r8 task 5): each partition group is
    a parquet relation with the partition value as a cast literal, so
    Catalyst constant-folds the filter per union branch and collapses
    non-matching branches to empty LocalRelations — the optimized plan
    must keep exactly ONE parquet relation."""
    from pyspark.sql import functions as F

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import read_delta_table, write_delta_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_prune")
    write_delta_table(nation, table, partition_by=["n_regionkey"])
    back = read_delta_table(spark, table)
    pruned = back.filter(F.col("n_regionkey") == 3)
    plan = pruned._jdf.queryExecution().optimizedPlan().toString()
    n_scans = plan.count("Relation")
    assert n_scans == 1, f"expected 1 surviving parquet relation, plan:\n{plan}"
    assert pruned.count() == 5


def test_delta_v2_checkpoint_sidecar_replay(spark, tmp_path):
    """V2 checkpoint (PROTOCOL.md V2 spec): top-level
    <version>.checkpoint.<uuid>.parquet with checkpointMetadata +
    sidecar actions, file actions in _delta_log/_sidecars/ parquet.
    After vacuuming every JSON commit the reader must reproduce the
    table from the v2 checkpoint alone (multi-sidecar merge), and a
    post-checkpoint JSON commit must still apply on top."""
    import os

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        delete_partition,
        read_delta_table,
        write_checkpoint_v2,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_v2_ckpt")
    write_delta_table(nation, table, partition_by=["n_regionkey"])
    delete_partition(table, "n_regionkey", "0")
    assert write_checkpoint_v2(spark, table, n_sidecars=2) == 1
    log_dir = os.path.join(table, "_delta_log")
    assert len(os.listdir(os.path.join(log_dir, "_sidecars"))) == 2
    for v in (0, 1):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    back = read_delta_table(spark, table)
    assert back.count() == 20
    assert back.filter("n_regionkey = 0").count() == 0
    assert dict(back.dtypes)["n_regionkey"] == "int"
    # a commit after the v2 checkpoint still applies on top
    delete_partition(table, "n_regionkey", "1")
    assert read_delta_table(spark, table).count() == 15
    # time travel pinned AT the checkpoint version still works
    assert read_delta_table(spark, table, version=1).count() == 20


def test_delta_v2_checkpoint_unpartitioned_and_single_sidecar(spark, tmp_path):
    """V2 checkpoint on an unpartitioned table with one sidecar; replay
    from checkpoint alone reproduces every row."""
    import os

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        read_delta_table,
        write_checkpoint_v2,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_v2_unpart")
    write_delta_table(nation, table)
    assert write_checkpoint_v2(spark, table, n_sidecars=1) == 0
    os.remove(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    back = read_delta_table(spark, table)
    assert sorted(back.collect()) == sorted(nation.collect())


def test_delta_unsupported_reader_feature_raises(spark, tmp_path):
    """minReaderVersion=3 with a reader feature we do NOT implement
    (typeWidening) must raise; with implemented features it must read."""
    import json
    import os

    import pytest

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import read_delta_table, write_delta_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_features")
    write_delta_table(nation, table)
    commit = os.path.join(table, "_delta_log", f"{0:020d}.json")
    lines = open(commit).read().splitlines()
    lines[0] = json.dumps(
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }
        }
    )
    open(commit, "w").write("\n".join(lines) + "\n")
    assert read_delta_table(spark, table).count() == 25
    lines[0] = json.dumps(
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint", "typeWidening"],
                "writerFeatures": ["v2Checkpoint", "typeWidening"],
            }
        }
    )
    open(commit, "w").write("\n".join(lines) + "\n")
    with pytest.raises(NotImplementedError):
        read_delta_table(spark, table)


def test_delta_deletion_vectors_inline_and_file(spark, tmp_path):
    """Deletion vectors (PROTOCOL.md): delete_rows appends a commit that
    re-adds files with DV descriptors (inline Z85 / CRC'd .bin) and the
    reader masks exactly those physical row indexes; time travel to the
    pre-DV version still returns every row; protocol upgrades to table
    features and an unknown feature still raises."""
    from pyspark.sql import functions as F

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        delete_rows,
        read_delta_table,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    for storage in ("i", "u"):
        table = str(tmp_path / f"delta_dv_{storage}")
        write_delta_table(nation, table, partition_by=["n_regionkey"])
        v = delete_rows(spark, table, "n_nationkey % 3 = 0", storage=storage)
        assert v == 1
        back = read_delta_table(spark, table)
        expected = nation.filter(~(F.col("n_nationkey") % 3 == 0))
        assert sorted(back.collect()) == sorted(expected.collect()), storage
        # pre-DV version intact
        assert read_delta_table(spark, table, version=0).count() == 25
    # unpartitioned + a second DV pass on remaining rows must refuse to
    # silently merge (fixture-grade guard)
    import pytest

    table2 = str(tmp_path / "delta_dv_unpart")
    write_delta_table(nation, table2)
    delete_rows(spark, table2, "n_regionkey = 2")
    assert read_delta_table(spark, table2).count() == 20
    with pytest.raises(NotImplementedError):
        delete_rows(spark, table2, "n_regionkey = 3")


def test_delta_dv_roundtrip_through_checkpoint(spark, tmp_path):
    """A DV'd add must survive classic checkpoint compaction: the
    checkpoint cannot carry the descriptor (fixture schema), so
    write_checkpoint must REFUSE on a DV table rather than silently
    dropping deletes."""
    import pytest

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        delete_rows,
        read_delta_table,
        write_checkpoint,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_dv_ckpt")
    write_delta_table(nation, table)
    delete_rows(spark, table, "n_nationkey < 5")
    assert read_delta_table(spark, table).count() == 20
    with pytest.raises(NotImplementedError):
        write_checkpoint(spark, table)


def test_delta_column_mapping_name_mode(spark, tmp_path):
    """NAME-mode column mapping (PROTOCOL.md): parquet files carry
    physical column names, partitionValues are keyed by physical name,
    and the reader renames back to the logical schema. 'id' mode and
    unknown modes raise."""
    import json
    import os

    import pytest

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import read_delta_table, write_delta_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_cm")
    write_delta_table(nation, table, partition_by=["n_regionkey"], column_mapping=True)
    # the parquet files must NOT contain logical names (mapping is real)
    import pyarrow.parquet as papq

    pq_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(table)
        if "_delta_log" not in r
        for f in fs
        if f.endswith(".parquet")
    ]
    names = set(papq.read_schema(pq_files[0]).names)
    assert "n_nationkey" not in names and any(n.startswith("col-") for n in names)
    back = read_delta_table(spark, table)
    assert back.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert sorted(back.collect()) == sorted(nation.collect())
    # DV on a mapped table composes: logical-name predicate, masked read
    from pyspark.sql import functions as F

    from healthcare_etl_spark.sources.delta import delete_rows

    delete_rows(spark, table, "n_nationkey % 5 = 0")
    masked = read_delta_table(spark, table)
    expected = nation.filter(~(F.col("n_nationkey") % 5 == 0))
    assert sorted(masked.collect()) == sorted(expected.collect())
    # partition DELETE with the LOGICAL column name must resolve the
    # physical partitionValues key (silently removing nothing = bug)
    from healthcare_etl_spark.sources.delta import delete_partition

    delete_partition(table, "n_regionkey", "2")
    after = read_delta_table(spark, table)
    assert after.filter("n_regionkey = 2").count() == 0
    assert after.count() == expected.filter("n_regionkey <> 2").count()
    # unknown mapping mode must raise (id mode is supported since r9,
    # so the guard probe uses a genuinely unknown mode)
    commit = os.path.join(table, "_delta_log", f"{0:020d}.json")
    lines = open(commit).read().splitlines()
    for i, line in enumerate(lines):
        action = json.loads(line)
        if "metaData" in action:
            action["metaData"]["configuration"]["delta.columnMapping.mode"] = "unknown"
            lines[i] = json.dumps(action)
    open(commit, "w").write("\n".join(lines) + "\n")
    # remove the later commit so version 0's metaData is current
    os.remove(os.path.join(table, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(NotImplementedError):
        read_delta_table(spark, table).count()
    # a table CLAIMING id mode whose files carry no field ids fails at
    # scan (fieldId.read with ignoreMissing=false) — fail-loud, never
    # silently name-matched
    for i, line in enumerate(lines):
        action = json.loads(line)
        if "metaData" in action:
            action["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
            lines[i] = json.dumps(action)
    open(commit, "w").write("\n".join(lines) + "\n")
    with pytest.raises(Exception):
        read_delta_table(spark, table).collect()


def test_delta_optimize_compact(spark, tmp_path):
    """OPTIMIZE bin-packing: multi-file partition groups rewrite to one
    file each with dataChange=false adds/removes; rows identical; time
    travel to the pre-OPTIMIZE version still sees the old layout."""
    import json as _json
    import os as _os

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        optimize_compact,
        read_delta_table,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_opt")
    # repartition(3) -> several files per partition dir
    write_delta_table(nation.repartition(3), table, partition_by=["n_regionkey"])
    before = read_delta_table(spark, table)
    n_files_before = len(before.inputFiles())
    v = optimize_compact(spark, table)
    after = read_delta_table(spark, table)
    assert sorted(after.collect()) == sorted(nation.collect())
    assert len(after.inputFiles()) < n_files_before
    assert len(after.inputFiles()) == 5  # one file per region
    # dataChange=false on every action of the OPTIMIZE commit
    commit = _os.path.join(table, "_delta_log", f"{v:020d}.json")
    acts = [_json.loads(line) for line in open(commit)]
    assert acts and all(
        not (a.get("add") or a.get("remove"))["dataChange"] for a in acts
    )
    # pre-OPTIMIZE version still readable with the old file layout
    old = read_delta_table(spark, table, version=v - 1)
    assert sorted(old.collect()) == sorted(nation.collect())
    assert len(old.inputFiles()) == n_files_before
    # second OPTIMIZE is a no-op (already one file per group)
    assert optimize_compact(spark, table) == v


def test_delta_optimize_applies_deletion_vectors(spark, tmp_path):
    """Compacting a DV'd file physically drops the masked rows and the
    compacted add carries NO deletionVector — the engine-OPTIMIZE
    contract (rewrite purges DVs)."""
    import json as _json
    import os as _os

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import (
        delete_rows,
        optimize_compact,
        read_delta_table,
        write_delta_table,
    )

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_opt_dv")
    write_delta_table(nation, table, partition_by=["n_regionkey"])
    delete_rows(spark, table, "n_nationkey % 3 = 0")
    v = optimize_compact(spark, table)
    after = read_delta_table(spark, table)
    exp = nation.filter("n_nationkey % 3 <> 0")
    assert sorted(after.collect()) == sorted(exp.collect())
    commit = _os.path.join(table, "_delta_log", f"{v:020d}.json")
    adds = [
        _json.loads(line)["add"]
        for line in open(commit)
        if '"add"' in line
    ]
    assert adds and all("deletionVector" not in a for a in adds)


def test_delta_column_mapping_id_mode(spark, tmp_path):
    """ID-mode column mapping: columns resolve by parquet FIELD ID, not
    name — proven adversarially by rewriting a data file with scrambled
    column names (field ids preserved): the read still returns correct
    values under the logical schema."""
    import os as _os

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.delta import read_delta_table, write_delta_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    table = str(tmp_path / "delta_idmode")
    write_delta_table(nation, table, partition_by=["n_regionkey"], column_mapping="id")
    back = read_delta_table(spark, table)
    assert [f.name for f in back.schema.fields] == ["n_nationkey", "n_name", "n_regionkey"]
    assert sorted(back.collect()) == sorted(nation.collect())

    # Scramble physical names in one data file, keeping field ids — a
    # name-matching reader now returns nulls/errors; an id-matching
    # reader is unaffected.
    some_file = None
    for root, _dirs, names in _os.walk(table):
        if "_delta_log" in root:
            continue
        for n in names:
            if n.endswith(".parquet"):
                some_file = _os.path.join(root, n)
                break
        if some_file:
            break
    t = _pq.read_table(some_file)
    new_fields = []
    for i, f in enumerate(t.schema):
        md = dict(f.metadata or {})
        assert b"PARQUET:field_id" in md, "spark must have stamped field ids"
        new_fields.append(_pa.field(f"scrambled_{i}", f.type, f.nullable, md))
    renamed = t.rename_columns([f.name for f in new_fields])
    # rename_columns drops metadata; rebuild schema with ids
    renamed = renamed.cast(_pa.schema(new_fields))
    _pq.write_table(renamed, some_file)
    # Drop Hadoop's checksum sidecar — the in-place rewrite invalidates
    # it and ChecksumFileSystem would refuse the read for the wrong
    # reason.
    crc = _os.path.join(
        _os.path.dirname(some_file), "." + _os.path.basename(some_file) + ".crc"
    )
    if _os.path.exists(crc):
        _os.remove(crc)
    again = read_delta_table(spark, table)
    assert sorted(again.collect()) == sorted(nation.collect())


def test_spread_count_is_size_derived(spark, sf_smoke):
    """spread_count derives the fixture-spread partition count from the
    scan's input bytes (~64 KiB/task), clamped to [1, defaultParallelism]
    — kilobyte fixtures must no longer be pinned to one partition per
    core (r10 partition hygiene)."""
    import os

    from healthcare_etl_spark.sources import load_table, spread, spread_count

    docs = load_table(spark, sf_smoke, "documents")
    n = spread_count(docs)
    size = os.path.getsize(os.path.join(sf_smoke, "documents.parquet"))
    expect = max(1, min(spark.sparkContext.defaultParallelism,
                        (size + 64 * 1024 - 1) // (64 * 1024)))
    assert n == expect
    assert spread(docs).rdd.getNumPartitions() == n
    # a frame with no file lineage falls back to a single partition
    assert spread_count(spark.range(10)) == 1


def test_spread_count_remote_input_gets_the_cap(spark):
    """Input on remote storage is not sized: the spread is the cap."""
    from healthcare_etl_spark.sources import spread_count

    class RemoteScan:
        sparkSession = spark

        def inputFiles(self):
            return ["s3a://bucket/t/part-0.parquet", "hdfs://nn:8020/t/part-1.parquet"]

    assert spread_count(RemoteScan()) == spark.sparkContext.defaultParallelism


def test_spread_count_local_paths(spark, tmp_path):
    """A local path with a space and a percent sign is sized (the URI is
    percent-decoded); a local input file deleted after the scan was
    planned raises instead of silently taking the cap."""
    import os

    from healthcare_etl_spark.sources import spread_count
    from healthcare_etl_spark.sources.readers import MissingInputError

    path = str(tmp_path / "a b%20c" / "t.parquet")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert spread_count(df) == 1
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            os.remove(os.path.join(path, name))
    with pytest.raises(MissingInputError, match="t.parquet"):
        spread_count(df)
