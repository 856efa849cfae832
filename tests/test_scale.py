"""Scale-pattern tests: upserts, SCD2, partition pruning, bucketed
shuffle-free joins."""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_latest_snapshot(spark):
    from healthcare_etl_spark.operators.scale import latest_snapshot

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 30.0)], ["k", "version", "val"]
    )
    out = latest_snapshot(df, key="k", order_by=[F.desc("version")])
    got = {(r.k, r.version, r.val) for r in out.collect()}
    assert got == {("a", 2, 20.0), ("b", 1, 30.0)}


def test_scd2_merge(spark):
    from healthcare_etl_spark.operators.scale import scd2_merge

    dim = spark.createDataFrame(
        [
            ("h1", "Acute", "2020-01-01 00:00:00", "9999-12-31 00:00:00"),
            ("h2", "Critical", "2020-01-01 00:00:00", "9999-12-31 00:00:00"),
            ("h2", "Acute", "2010-01-01 00:00:00", "2020-01-01 00:00:00"),
        ],
        ["facility_id", "hospital_type", "effective_from", "effective_to"],
    )
    updates = spark.createDataFrame(
        [
            ("h1", "2024-06-01 00:00:00", "Rehab"),      # changed -> new version
            ("h2", "2024-06-01 00:00:00", "Critical"),   # unchanged -> passthrough
        ],
        ["facility_id", "update_ts", "hospital_type"],
    )
    out = scd2_merge(dim, updates, key="facility_id", compare_cols=["hospital_type"])
    rows = {(r.facility_id, r.hospital_type, r.effective_to) for r in out.collect()}
    assert rows == {
        ("h1", "Acute", "2024-06-01 00:00:00"),          # closed out
        ("h1", "Rehab", "9999-12-31 00:00:00"),          # new open version
        ("h2", "Critical", "9999-12-31 00:00:00"),       # unchanged
        ("h2", "Acute", "2020-01-01 00:00:00"),          # historical untouched
    }
    assert out.count() == 4


def test_scd2_merge_carries_untracked_columns(spark):
    """Dim columns outside key+compare_cols (surrogate keys, non-tracked
    attributes) must survive into the new version rows."""
    from healthcare_etl_spark.operators.scale import scd2_merge

    dim = spark.createDataFrame(
        [
            (101, "h1", "Acute", "TX", "2020-01-01 00:00:00", "9999-12-31 00:00:00"),
            (102, "h2", "Critical", "CA", "2020-01-01 00:00:00", "9999-12-31 00:00:00"),
        ],
        ["sk", "facility_id", "hospital_type", "state", "effective_from", "effective_to"],
    )
    updates = spark.createDataFrame(
        [("h1", "2024-06-01 00:00:00", "Rehab")],
        ["facility_id", "update_ts", "hospital_type"],
    )
    out = scd2_merge(dim, updates, key="facility_id", compare_cols=["hospital_type"])
    assert set(out.columns) == set(dim.columns)
    new_open = out.filter(
        (F.col("facility_id") == "h1") & (F.col("effective_to") == "9999-12-31 00:00:00")
    ).collect()
    assert len(new_open) == 1
    r = new_open[0]
    # untracked columns carried from the matched dim row
    assert (r.sk, r.state, r.hospital_type) == (101, "TX", "Rehab")
    assert r.effective_from == "2024-06-01 00:00:00"


def test_partitioned_write_prunes(spark, sf_smoke, tmp_path):
    """Date-partitioned fact write -> a date-filtered read scans only the
    matching partition directories (partition pruning)."""
    from healthcare_etl_spark.sources import load_table, write_table

    o = load_table(spark, sf_smoke, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_table(o, out, partition_by=["order_year"])

    back = spark.read.parquet(out).filter(F.col("order_year") == 1995)
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(order_year" in plan.replace("#", "").replace(
        "order_year0", "order_year"
    ) or "PartitionFilters" in plan
    # the pruned read returns exactly the 1995 rows
    expected = o.filter(F.col("order_year") == 1995).count()
    assert back.count() == expected


def test_bucketed_join_has_no_shuffle(spark, sf_smoke, tmp_path):
    """Two tables bucketed on the join key co-locate: the join plan has
    zero Exchange operators — the write-time shuffle is amortized across
    every future join (SURVEY M5 / bucketing)."""
    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.writers import write_bucketed_table

    import shutil
    import uuid

    o = load_table(spark, sf_smoke, "orders")
    c = load_table(spark, sf_smoke, "customer")
    suffix = uuid.uuid4().hex[:8]
    t_o, t_c = f"b_orders_{suffix}", f"b_customer_{suffix}"
    # at fixture scale the planner would broadcast the small side (and
    # rightly skip bucketed reading); disable broadcast to exercise the
    # big-big sort-merge case bucketing exists for
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(o, t_o, bucket_cols=["o_custkey"], num_buckets=8)
        write_bucketed_table(c, t_c, bucket_cols=["c_custkey"], num_buckets=8)
        bo, bc = spark.table(t_o), spark.table(t_c)
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange (" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == o.join(c, o.o_custkey == c.c_custkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for t in (t_o, t_c):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)


def test_zorder_layout_prunes_both_dimensions(spark, sf_smoke, tmp_path):
    """Write events 16-ways (a) time-sorted and (b) Morton-sorted, then
    measure — from the REAL parquet footer min/max stats — how many
    files a reader with stats-based skipping must touch for a 2-d
    range predicate. The Z-ordered layout must touch fewer files than
    the time-sorted layout for user-range filters, and must stay
    competitive on time filters (the whole point of interleaving)."""
    import pyarrow.parquet as pq

    from healthcare_etl_spark.functions.zorder import morton_key
    from healthcare_etl_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id",
        "user_id",
        (F.hour("ts") * 60 + F.minute("ts")).alias("minute"),
    )
    n = ev.count()
    per_file = max(1, n // 16)
    zdir, tdir = str(tmp_path / "zorder"), str(tmp_path / "timesort")
    # Quantize both dimensions to the same bit width before
    # interleaving (user_id spans 4 bits here, minute 11 — raw
    # interleaving would let the wider column's high bits dominate the
    # sort and prune nothing on the narrow one; production Z-ORDER
    # implementations do exactly this via range-partition quantiles).
    (
        ev.withColumn(
            "zkey", morton_key(F.col("user_id"), F.col("minute") / 90, bits=4)
        )
        .repartition(1)
        .sortWithinPartitions("zkey")
        .write.option("maxRecordsPerFile", per_file)
        .parquet(zdir)
    )
    ev.repartition(1).sortWithinPartitions("minute").write.option(
        "maxRecordsPerFile", per_file
    ).parquet(tdir)

    def files_touched(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
        import glob

        touched, total = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for ci in range(rgm.num_columns):
                    c = rgm.column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        s = c.statistics
                        fmin = s.min if fmin is None else min(fmin, s.min)
                        fmax = s.max if fmax is None else max(fmax, s.max)
            total += 1
            if fmin is None or not (hi < fmin or lo > fmax):
                touched += 1
        return touched, total

    lo_u, hi_u = 10, 19  # narrow user range
    z_u, z_total = files_touched(zdir, "user_id", lo_u, hi_u)
    t_u, t_total = files_touched(tdir, "user_id", lo_u, hi_u)
    assert z_total >= 8 and t_total >= 8  # the split actually happened
    # time-sorted files each span ~the full user range: no pruning;
    # z-ordered files cover rectangles: strictly better
    assert z_u < t_u, (z_u, t_u)
    # and time filters still prune under z-order (not as tightly as the
    # perfect time sort, but well below reading everything)
    z_m, _ = files_touched(zdir, "minute", 0, 59)
    assert z_m < z_total, (z_m, z_total)


def test_scale_corpus_generator_schema_and_dups(spark, sf_smoke):
    """The scale-proof generator (sources.synthetic.scale_documents /
    scale_embeddings) must emit frames schema-identical to the driver
    fixtures (so every registered query runs unmodified against a
    generated directory) with deterministic content and a controlled,
    scale-linear duplicate fraction."""
    from healthcare_etl_spark.sources import load_table
    from healthcare_etl_spark.sources.synthetic import (
        scale_documents,
        scale_embeddings,
    )

    def shape(df):  # name/type pairs; nullability differs pre-parquet
        return [(f.name, f.dataType) for f in df.schema.fields]

    docs = scale_documents(spark, 2000, 8)
    fix_docs = load_table(spark, sf_smoke, "documents")
    assert shape(docs) == shape(fix_docs)
    emb = scale_embeddings(spark, 500, 4)
    fix_emb = load_table(spark, sf_smoke, "embeddings")
    assert shape(emb) == shape(fix_emb)
    assert emb.filter(F.size("embedding") != 64).count() == 0

    # determinism: two independent builds agree exactly
    a = docs.orderBy("doc_id").limit(50).collect()
    b = scale_documents(spark, 2000, 3).orderBy("doc_id").limit(50).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    # controlled dup structure: some exact duplicates, well under 20%
    n = docs.count()
    nd = docs.select("text").distinct().count()
    assert n == 2000
    assert 0 < n - nd < 0.2 * n
    # n_chars is the real text length (fixture invariant)
    assert docs.filter(F.length("text") != F.col("n_chars")).count() == 0
