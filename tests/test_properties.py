"""Property-based spot checks (SURVEY.md §5.2 item 4).

Small hypothesis-generated frames exercise algebraic invariants that
hold for ANY input — complementary to the oracle tests, which pin exact
values on fixed fixtures.
"""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

# one small, valid row: (key in {a,b,c}, float value without NaN/inf)
row = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
)
frames = st.lists(row, min_size=1, max_size=30)

N_EXAMPLES = 12  # each example spins Spark jobs; keep the budget tight


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(frames)
def test_groupby_avg_equals_sum_over_count(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    agg = df.groupBy("k").agg(
        F.avg("v").alias("avg_v"), F.sum("v").alias("sum_v"), F.count("v").alias("n")
    )
    for r in agg.collect():
        assert math.isclose(r.avg_v, r.sum_v / r.n, rel_tol=1e-9, abs_tol=1e-9)


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(frames)
def test_filter_partitions_counts(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    p = F.col("v") > 0
    assert df.filter(p).count() + df.filter(~p).count() == df.count()


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(frames, frames)
def test_inner_join_count_bounds(spark, lrows, rrows):
    left = spark.createDataFrame(lrows, ["k", "v"])
    right = spark.createDataFrame(rrows, ["k", "w"])
    n = left.join(right, "k").count()
    # inner join row count == sum over keys of count_l * count_r
    lc = pd.DataFrame(lrows, columns=["k", "v"]).groupby("k").size()
    rc = pd.DataFrame(rrows, columns=["k", "w"]).groupby("k").size()
    expected = sum(int(lc[k]) * int(rc[k]) for k in set(lc.index) & set(rc.index))
    assert n == expected


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(frames)
def test_exact_dedup_partitions_rows(spark, rows):
    from healthcare_etl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(rows)], ["doc_id", "text"]
    )
    out = exact_dedup(df).collect()
    # every group keeps exactly one representative; copies sum to total
    assert sum(r.n_copies for r in out) == len(rows)
    assert len({r.keeper_id for r in out}) == len(out)


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(frames)
def test_topk_is_prefix_of_sort(spark, rows):
    from healthcare_etl_spark.operators.relational import top_k

    df = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(rows)], ["id", "v"]
    )
    k = min(5, len(rows))
    got = [(r.id, r.v) for r in top_k(df, [F.desc("v"), F.asc("id")], k).collect()]
    full = [(r.id, r.v) for r in df.orderBy(F.desc("v"), F.asc("id")).collect()]
    assert got == full[:k]


# SCD2: a change log row (entity in {1,2}, attr in {x,y}, second 0-20,
# unique event ids come from enumerate())
scd_row = st.tuples(st.sampled_from([1, 2]), st.sampled_from(["x", "y"]), st.integers(0, 20))
scd_logs = st.lists(scd_row, min_size=1, max_size=25)


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(scd_logs)
def test_scd2_reconstructs_pointwise_state(spark, rows):
    """For every log row, the SCD2 interval containing its timestamp
    must carry the attribute value of the LAST log row at-or-before it
    (latest (ts, event_id) wins) — i.e. interval lookup == log replay.
    Also: intervals per key tile time with no gaps/overlaps and exactly
    one open interval."""
    import datetime as dt

    from healthcare_etl_spark.operators.scd import scd2_intervals

    data = [
        (k, a, dt.datetime(2024, 1, 1, 0, 0, sec), i)
        for i, (k, a, sec) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["k", "attr", "ts", "eid"])
    ivs = scd2_intervals(df, key="k", attr="attr", ts="ts", tiebreak="eid").collect()
    by_key: dict[int, list] = {}
    for r in ivs:
        by_key.setdefault(r.k, []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r.valid_from)
        # tiling: consecutive intervals abut exactly; one open end
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from, (k, a, b)
        assert rs[-1].valid_to is None and rs[-1].is_current
        assert all(not r.is_current for r in rs[:-1])
    # pointwise replay equality
    for k, a, ts, i in data:
        replay = max(
            ((t, e, attr) for kk, attr, t, e in data if kk == k and (t, e) <= (ts, i)),
        )[2]
        hits = [
            r
            for r in by_key[k]
            if r.valid_from <= ts and (r.valid_to is None or ts < r.valid_to)
        ]
        # a row at the boundary where its own run was closed by a
        # same-timestamp successor may fall in the successor's interval;
        # accept either interval whose boundary touches ts
        assert hits, (k, ts)
        touching = hits + [
            r for r in by_key[k] if r.valid_to is not None and r.valid_to == ts
        ]
        assert replay in {r.attr for r in touching}, (k, ts, replay)


# random "file" sizes for the compaction planner
_sizes = st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=40)


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(_sizes)
def test_compaction_sequential_fill_invariants(spark, sizes):
    """For ANY file-size sequence: bins tile the id order contiguously,
    totals sum to the input, and cumulative bytes through each non-final
    bin reach that bin's boundary (a file belongs to the bin its start
    offset falls in)."""
    target = 2048
    rows = [(i, "s", n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("cum", F.sum("n_chars").over(w))
        .withColumn("bin_id", F.expr(f"(cum - n_chars) div {target}"))
        .groupBy("bin_id")
        .agg(
            F.sum("n_chars").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
        .collect()
    )
    assert sum(r.total_bytes for r in out) == sum(sizes)
    for prev, nxt in zip(out, out[1:]):
        assert nxt.first_doc == prev.last_doc + 1
    cum = 0
    for r in out[:-1]:
        cum += r.total_bytes
        assert cum >= target * (r.bin_id + 1)


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(st.lists(st.text(alphabet="ab ", min_size=5, max_size=40), min_size=2, max_size=8))
def test_containment_dominates_jaccard(spark, texts):
    """containment >= jaccard holds for every pair, by construction
    (min(|A|,|B|) <= |A∪B|) — checked over arbitrary tiny corpora."""
    rows = [(i, t if t.strip() else "a") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from healthcare_etl_spark.operators.dedup import containment_pairs

    for r in containment_pairs(df, threshold=0.0).collect():
        assert r.containment >= r.jaccard - 1e-9


# events-shaped rows for the event-time properties: (user 0-3,
# type a/b, minute offset 0-120, value)
ev_row = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.sampled_from(["a", "b"]),
    st.integers(min_value=0, max_value=120),
    st.floats(min_value=0.0, max_value=500.0, allow_nan=False, allow_infinity=False),
)
ev_frames = st.lists(ev_row, min_size=1, max_size=25)


def _ev_df(spark, rows):
    import datetime

    base = datetime.datetime(2024, 1, 10, 0, 0, 0)
    data = [
        (i, base + datetime.timedelta(minutes=m), u, t, v)
        for i, (u, t, m, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(ev_frames)
def test_debounce_partition_and_keep_first_invariants(spark, rows):
    """kept + debounced == total per type; every (user, type) group
    keeps at least its first event; with a zero-length gap threshold
    nothing would ever be debounced (here: gap > 5 min drops only
    same-group events within 5 min of their predecessor — verified
    against a pandas replay)."""
    from pyspark.sql.window import Window

    df = _ev_df(spark, rows)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = df.select(
        "user_id",
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    kept = (F.col("gap_us").isNull() | (F.col("gap_us") > 300_000_000)).cast("long")
    out = g.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(kept).alias("n_kept"),
    ).collect()
    # pandas replay
    pdf = df.toPandas().sort_values(["user_id", "event_type", "ts", "event_id"])
    for r in out:
        grp = pdf[(pdf.user_id == r.user_id) & (pdf.event_type == r.event_type)]
        prev = None
        expect_kept = 0
        for _, row_ in grp.iterrows():
            if prev is None or (row_.ts - prev).total_seconds() > 300:
                expect_kept += 1
            prev = row_.ts
        assert r.n == len(grp)
        assert r.n_kept == expect_kept >= 1


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(ev_frames)
def test_ks_statistic_bounds_and_identity(spark, rows):
    """KS in [0, 1] always; comparing a distribution against ITSELF
    (same rows labeled ref and cur) gives exactly 0."""
    from pyspark.sql.window import Window

    df = _ev_df(spark, rows)
    doubled = df.select("event_type", "value", F.lit(0).alias("period")).unionAll(
        df.select("event_type", "value", F.lit(1).alias("period"))
    )
    g = doubled.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    c = g.select(
        "event_type",
        F.sum("n_ref").over(w_run).alias("cr"),
        F.sum("n_cur").over(w_run).alias("cc"),
        F.sum("n_ref").over(w_all).alias("tr"),
        F.sum("n_cur").over(w_all).alias("tc"),
    )
    gap = F.abs(F.col("cr") / F.col("tr") - F.col("cc") / F.col("tc"))
    for r in c.groupBy("event_type").agg(F.max(gap).alias("ks")).collect():
        assert 0.0 <= r.ks <= 1.0
        assert r.ks == 0.0  # identical samples -> identical ECDFs


@settings(max_examples=N_EXAMPLES, deadline=None)
@given(ev_frames)
def test_cdc_apply_equals_pandas_replay(spark, rows):
    """The MAX_BY collapse must equal an actual sequential replay of
    the op log (apply each op in ts order, delete removes the key)."""
    df = _ev_df(spark, rows)
    op = (
        F.when(F.col("event_type") == "a", "U").otherwise("D")
    )
    final = (
        df.select("user_id", "ts", "value", op.alias("op"))
        .groupBy("user_id")
        .agg(
            F.expr("max_by(op, ts)").alias("last_op"),
            F.expr("max_by(value, ts)").alias("last_value"),
        )
        .filter(F.col("last_op") != "D")
    )
    got = {r.user_id: r.last_value for r in final.collect()}
    state: dict = {}
    pdf = df.toPandas().sort_values(["ts", "event_id"])
    for _, r in pdf.iterrows():
        if r.event_type == "a":
            state[r.user_id] = r.value
        else:
            state.pop(r.user_id, None)
    # ties: (user_id, ts) may collide in generated data — max_by is only
    # deterministic on unique ts per user, so replay keys must match
    # whenever no user has duplicate timestamps
    if pdf.groupby(["user_id", "ts"]).size().max() == 1:
        assert got == state


def test_covariance_diagonal_nonnegative_and_symmetric_moment(spark, sf_smoke):
    """Var(x_i) >= 0 (up to the 1e-6 rounding) for every diagonal cell
    of q_embedding_covariance, and n_vecs is constant across cells."""
    from healthcare_etl_spark.plans.registry import get_queries

    rows = get_queries()["q_embedding_covariance"](spark, sf_smoke).collect()
    ns = {r.n_vecs for r in rows}
    assert len(ns) == 1
    diag = [r for r in rows if r.i == r.j]
    assert len(diag) == 64
    assert all(r.cov >= -1e-6 for r in diag)


# random small text corpora: 4-10 docs over a 6-word vocabulary
_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsi", "zeta"])
_doc = st.lists(_words, min_size=3, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=4, max_size=10)


@settings(max_examples=8, deadline=None)
@given(_corpus)
def test_prefix_filter_equals_inverted_index_on_random_corpora(spark, texts):
    """EXACTNESS of prefix filtering on arbitrary corpora: the pair set
    at the rational threshold 1/2 must equal the full inverted-index
    join's pairs refiltered with the same exact integer test."""
    from healthcare_etl_spark.operators.dedup import (
        hashed_shingle_rows,
        prefix_filter_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_jaccard_pairs(docs, t_num=1, t_den=2).collect()
    }
    inv = hashed_shingle_rows(docs).toPandas()
    sets = {d: set(g.hsh) for d, g in inv.groupby("doc_id")}
    want = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            o = len(sets[a] & sets[b])
            if 2 * o >= 1 * (len(sets[a]) + len(sets[b]) - o):
                want.add((a, b))
    assert got == want


_edges = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@settings(max_examples=8, deadline=None)
@given(_edges)
def test_ktruss_edges_subset_with_support_floor(spark, pairs):
    """On arbitrary graphs: every surviving 3-truss edge is an input
    edge and sits in >= 1 triangle of the surviving graph (recomputed
    here in Python on the final edge set)."""
    from healthcare_etl_spark.operators.graph import ktruss_edges

    df = spark.createDataFrame(pairs, "u long, v long")
    out = ktruss_edges(df, k=3).collect()
    inset = {(min(a, b), max(a, b)) for a, b in pairs}
    surv = {(r.u, r.v) for r in out}
    assert surv <= inset
    adj = {}
    for a, b in surv:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for r in out:
        # a triangle's three edges all carry support >= 1, so a 3-truss
        # peel never breaks a surviving triangle: every survivor still
        # closes one in the FINAL edge set
        common = adj.get(r.u, set()) & adj.get(r.v, set())
        assert len(common) >= 1
        assert r.support >= 1


@settings(max_examples=8, deadline=None)
@given(_edges)
def test_lpa_one_label_per_node_and_refines_components(spark, pairs):
    from healthcare_etl_spark.operators.graph import (
        connected_components,
        label_propagation_communities,
    )

    df = spark.createDataFrame(pairs, "src long, dst long")
    lpa = label_propagation_communities(df, rounds=3).collect()
    nodes = [r.node for r in lpa]
    assert len(nodes) == len(set(nodes))
    comp = {
        r.node: r.component
        for r in connected_components(df, src="src", dst="dst").collect()
    }
    lab = {r.node: r.community for r in lpa}
    assert set(lab) == set(comp)
    by_label = {}
    for n, c in lab.items():
        by_label.setdefault(c, []).append(n)
    for members in by_label.values():
        comps = {comp[m] for m in members}
        assert len(comps) == 1
