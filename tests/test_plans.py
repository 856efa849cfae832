"""Physical-plan assertions — the scale contract, enforced in CI.

Correctness tests prove the answers match; these prove the *plans* are
the ones that survive a 100x scale-up: filters reach the parquet scan,
projections prune the read schema, dimensions broadcast, fact tables
don't, and top-k never becomes a global sort.
"""

from __future__ import annotations

import pytest

from healthcare_etl_spark.plans.registry import get_registry


def plan_of(spark, sf, name: str) -> str:
    import contextlib
    import io

    df = get_registry()[name].fn(spark, sf)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q_filter_eq")
    assert "PushedFilters" in plan
    assert "EqualTo(l_returnflag,R)" in plan.replace(" ", "").replace("'", "")


def test_column_pruning(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q_scan_project")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    # only the 3 projected columns are read, not all 5
    assert "c_custkey" in read_schema[0] and "c_acctbal" not in read_schema[0]


def test_topk_fuses_to_take_ordered(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort" not in plan.replace("TakeOrderedAndProject", "")


def test_etl_replica_broadcasts_dimension_not_fact(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q_etl_replica")
    # both joins broadcast (nation into customer, dim into fact); count
    # tree nodes ("BroadcastHashJoin Inner"), not detail-section repeats
    assert plan.count("BroadcastHashJoin Inner") == 2
    # ... and the streaming (probe) side — node (1), the first scan in the
    # tree — is the fact table, never under a BroadcastExchange.
    scan1 = plan.split("(1) Scan parquet")[1]
    assert "orders.parquet" in scan1.split("ReadSchema")[0]
    # bonus: the coerce/dropna/filter chain collapsed into the scan filter
    # (predicate pushdown through the whole normalize pipeline)
    assert "atleastnnonnulls" in plan


def test_q5_does_not_broadcast_fact_tables(spark, sf_smoke):
    """lineitem and orders are fact-sized at scale: neither may sit under
    a *statically planned* BroadcastExchange (AQE may still convert at
    runtime from observed sizes, which is exactly the point)."""
    plan = plan_of(spark, sf_smoke, "q_tpch_q5")
    for segment in plan.split("BroadcastExchange")[1:]:
        scan_line = next(
            (ln for ln in segment.splitlines() if "Scan parquet" in ln), ""
        )
        assert "lineitem" not in scan_line


def test_groupby_has_partial_aggregation(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q_tpch_q1")
    # partial (map-side) + final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_window_single_shuffle(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q_topn_per_group")
    # one hashpartitioning exchange on the group key, then sort+window
    # ("Exchange (" counts tree nodes; the detail section prints "(n) Exchange")
    assert plan.count("Exchange (") == 1
    assert "Window" in plan
    # Spark 3.5+ pushes the rank limit below the shuffle (per-partition
    # pre-filtering) — keep it that way
    assert "WindowGroupLimit" in plan


def test_cosine_topk_pretruncates_before_shuffle(spark, sf_smoke):
    """Exact top-k must not shuffle all |corpus|x|queries| scored rows:
    Catalyst's rank-limit pushdown inserts a Partial WindowGroupLimit
    below the exchange so each partition ships at most k rows/query."""
    df = get_registry()["q_sim_topk"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Partial" in plan and "WindowGroupLimit" in plan
    partial_idx = plan.index("Partial")
    exchange_idx = plan.index("Exchange hashpartitioning")
    # tree prints top-down: the partial limit must sit BELOW (after) the
    # exchange line, i.e. executed before it
    assert partial_idx > exchange_idx


def test_minhash_signature_pipeline_single_exchange(spark, sf_smoke):
    """scan -> zip-shingle -> distinct -> 64-min signatures must run with
    exactly one shuffle: the up-front doc_id hash partitioning satisfies
    both the distinct and the signature groupBy distributions."""
    from healthcare_etl_spark.operators.dedup import (
        hashed_shingle_rows,
        minhash_signatures_from,
    )
    from healthcare_etl_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents")
    sigs = minhash_signatures_from(hashed_shingle_rows(docs))
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # the up-front repartition, nothing else
    assert "Window" not in plan  # shingles come from arrays_zip, not lead()


def test_tfidf_builds_lazily(spark, sf_smoke):
    """Building the TF-IDF plan must trigger no Spark jobs beyond the
    parquet footer read every load_table pays (the corpus count is a
    broadcast 1-row aggregate inside the plan, not a driver action)."""
    from healthcare_etl_spark.sources import load_table

    tracker = spark.sparkContext._jsc.sc().statusTracker()

    # Job ids are assigned sequentially, so the max retained id is a
    # monotonic "jobs started so far" counter even after the UI evicts old
    # entries (spark.ui.retainedJobs) — a len() diff goes negative once the
    # shared-session suite passes the retention boundary (order-dependent
    # flake adjudicated in VERDICT r6).
    def max_job_id():
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    before = max_job_id()
    load_table(spark, sf_smoke, "documents")
    footer_jobs = max_job_id() - before

    before = max_job_id()
    get_registry()["q_tfidf_topterms"].fn(spark, sf_smoke)
    assert max_job_id() - before <= footer_jobs


def test_corpus_pipeline_plan_hygiene(spark, sf_smoke):
    """The end-to-end corpus pipeline must stay JVM-side and join-safe:
    no Python eval operators, no nested-loop joins (the anti-joins and
    gram joins are all hash joins), no cartesian products."""
    df = get_registry()["q_corpus_pipeline"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"]:
        assert marker not in plan, marker
    assert "NestedLoop" not in plan


def test_kmeans_no_corpus_shuffle_per_round(spark, sf_smoke):
    """k-means rounds broadcast the centroids; the corpus-side join must
    be a broadcast nested-loop over the tiny centroid frame (k rows),
    never an exchange of the corpus for the join itself."""
    from healthcare_etl_spark.operators.similarity import kmeans_lloyd
    from healthcare_etl_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    df = kmeans_lloyd(emb, k=4, n_iter=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    # the only hash exchange is the per-vector argmax window
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan  # rn=1 pre-truncated before the shuffle


def test_pack_chunks_single_shuffle_window(spark, sf_smoke):
    """Chunked packing must be one shard-key exchange feeding one
    running-sum window — the irreducible sequential piece stays bounded
    to a shard; no extra exchanges, no Python."""
    df = get_registry()["q_pack_chunks"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    for marker in ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"]:
        assert marker not in plan, marker


def test_unigram_logprob_plan_hygiene(spark, sf_smoke):
    """The logprob scorer must stay JVM-side, partial-aggregate the word
    frequency map-side, and keep the corpus total a broadcast 1-row
    aggregate (BroadcastExchange / BroadcastNestedLoopJoin over one row),
    not a driver action."""
    df = get_registry()["q_unigram_logprob"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan  # map-side combine on the frequency agg
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    for marker in ["BatchEvalPython", "ArrowEvalPython"]:
        assert marker not in plan, marker


def test_minhash_no_python_in_plan(spark, sf_smoke):
    """The dedup hot path must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython / mapInPandas operators anywhere in the plan."""
    plan = plan_of(spark, sf_smoke, "q_dedup_minhash")
    for marker in ["BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"]:
        assert marker not in plan


def test_multimodal_uses_arrow_python(spark, sf_smoke):
    """The featurize kernel is the one sanctioned Python operator — it
    must go through Arrow (MapInArrow), never row-at-a-time python UDF."""
    plan = plan_of(spark, sf_smoke, "q_multimodal_features")
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan


def test_correlated_subquery_decorrelates_to_join(spark, sf_smoke):
    """The correlated scalar subquery must compile to aggregate + join
    (Catalyst decorrelation), never per-row subquery re-execution."""
    plan = plan_of(spark, sf_smoke, "q_correlated_subquery")
    assert "Join" in plan
    assert "HashAggregate" in plan


def test_exists_subquery_becomes_semi_join(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q_tpch_q4_shape")
    assert "LeftSemi" in plan


def test_q16_anti_join_broadcasts(spark, sf_smoke):
    """NOT IN (small supplier set) must execute as a broadcast anti join."""
    plan = plan_of(spark, sf_smoke, "q_tpch_q16_shape")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan


def test_q21_decorrelated_no_subquery_loop(spark, sf_smoke):
    """EXISTS/NOT-EXISTS semantics via one grouped pass — no nested loop,
    no repeated lineitem subquery per row."""
    plan = plan_of(spark, sf_smoke, "q_tpch_q21_shape")
    assert "NestedLoop" not in plan
    assert "HashAggregate" in plan


def test_decontaminate_narrow_grams_no_build_job(spark, sf_smoke):
    """Gram generation is a narrow arrays_zip explode (r10): no window
    shuffle, no plan-build-time checkpoint job — the lazy plan reads the
    parquet scan directly in both branches."""
    df = get_registry()["q_decontaminate"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "NestedLoop" not in plan
    # no materialized-RDD scan: constructing the DataFrame ran no job
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert "Generate" in plan  # the narrow explode survived planning


def test_driver_window_invariants():
    """The driver oracle-checks the FIRST 50 registered queries. The
    curated window must stay exactly 50 names, all registered, all
    oracle-backed. Round-6 policy (per the r5 verdict): the §2 core
    shrinks to flagship + one per family (every other §2 row already
    has >=2 driver-green rounds) and ~40 slots rotate to the
    never-driver-checked analytics/mlops surface."""
    from healthcare_etl_spark.plans.registry import DRIVER_WINDOW, get_registry

    reg = get_registry()
    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert list(reg)[:50] == list(DRIVER_WINDOW)
    for name in DRIVER_WINDOW:
        assert reg[name].oracle is not None, f"{name} is rows-only but in the window"
    core = DRIVER_WINDOW[:11]
    for name in (
        "q_etl_replica",       # flagship
        "q_csv_scan",          # S
        "q_try_cast_coerce",   # P
        "q_inner_join",        # J
        "q_groupby_avg_sorted",  # A
        "q_topk",              # O
        "q_format_number",     # F
        "q_etl_metrics",       # V
    ):
        assert name in core, f"§2-family representative {name} must stay pinned"


def test_keyless_asof_join_no_single_partition_exchange(spark, sf_smoke):
    """The keyless as-of join must never sort the unioned data in ONE
    partition (the round-4 scale sin): the two-phase bucketed carry
    windows by __bucket and fixes bucket boundaries via broadcast joins
    over metadata-sized summaries, so no Exchange SinglePartition may
    appear anywhere in the executed plan."""
    df = get_registry()["q_asof_join"].fn(spark, sf_smoke)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(__bucket" in plan


@pytest.mark.sf001
def test_plan_hygiene_sweep_no_cartesian_no_row_python(spark, sf_smoke):
    """Fleet-wide invariant over every batch query's executed plan:
    no CartesianProduct (an unbanded/unkeyed join would explode at any
    scale) and no BatchEvalPython (row-at-a-time Python in the hot path;
    the sanctioned Python escape hatches are Arrow-batched —
    ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas). Benign
    patterns deliberately NOT flagged: Exchange SinglePartition (the
    final reduce of an already-partial global aggregate) and
    BroadcastNestedLoopJoin (tiny broadcast probe sides in the
    similarity/asof operators). Runs under the heavy marker — it plans
    and executes all ~110 batch queries."""
    reg = get_registry()
    offenders = {}
    for name, q in reg.items():
        if name.startswith("q_stream"):
            continue  # streaming jobs need a sink; covered by their own tests
        df = q.fn(spark, sf_smoke)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [f for f in ("CartesianProduct", "BatchEvalPython") if f in plan]
        if hits:
            offenders[name] = hits
    assert offenders == {}


def test_scd2_single_shuffle_on_entity_key(spark, sf_smoke):
    """Both SCD2 windows share the (user_id; ts, event_id) sort, so the
    operator must compile to exactly one hashpartitioning Exchange —
    the one-shuffle-per-entity-key contract that survives 100 TB."""
    plan = plan_of(spark, sf_smoke, "q_scd2_intervals")
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(user_id" in plan
    assert plan.count("Window (") == 2


def test_mixture_balance_broadcasts_rates_corpus_unshuffled(spark, sf_smoke):
    """The k-row per-stratum rate table broadcasts; the documents scan
    must never hit a hashpartitioning exchange on the big side (only
    the tiny aggregate builds do, pre-broadcast)."""
    plan = plan_of(spark, sf_smoke, "q_mixture_balance")
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # the corpus-side probe of the broadcast join is a bare scan: no
    # SortMergeJoin anywhere in the plan
    assert "SortMergeJoin" not in plan


def test_train_shards_single_shuffle(spark, sf_smoke):
    """Hash -> shard -> within-shard rank is one exchange on the shard
    key (the write path then maps to partitionBy(shard) with
    sortWithinPartitions, still shuffle-once)."""
    plan = plan_of(spark, sf_smoke, "q_train_shards")
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning" in plan


def test_semantic_dedup_intra_cluster_join_not_cross_join(spark, sf_smoke):
    """The SemDeDup prune must pair vectors through an equi-join on the
    cluster id — never a cartesian/nested-loop over the corpus (the
    O(n^2) shape it exists to avoid). The only nested-loop joins allowed
    are the broadcast 1-row/k-row centroid combines from k-means."""
    plan = plan_of(spark, sf_smoke, "q_semantic_dedup")
    assert "CartesianProduct" not in plan
    # cluster-keyed equi-join present (SortMergeJoin or ShuffledHashJoin
    # on cluster, or broadcast at fixture scale)
    assert "Join" in plan


def test_vocab_coverage_broadcasts_vocab(spark, sf_smoke):
    """The 1000-row vocabulary must reach the token stream as a broadcast
    — a shuffle join keyed on raw tokens would reshuffle the whole
    corpus for a dimension that fits in one executor heap."""
    df = get_registry()["q_vocab_coverage"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hamming_topk_prefilter_shape(spark, sf_smoke):
    """Binary-prefilter ANN: query sketches broadcast (corpus never
    shuffles for the join) and the rerank's top-k is pre-truncated per
    partition before any exchange."""
    df = get_registry()["q_sim_hamming_topk"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Partial" in plan and "WindowGroupLimit" in plan


def test_funnel_steps_single_shuffle_for_three_windows(spark, sf_smoke):
    """All three stacked window-mins share the user_id partitioning —
    exactly one exchange feeds all three Window nodes. The only other
    hashpartitioning exchange allowed is the multi-count-distinct
    expand's dedup (Spark's `gid` rewrite); funnel depth must not add
    shuffles."""
    import re

    df = get_registry()["q_funnel_steps"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange keyed on user_id ALONE feeds the windows; the
    # expand's dedup exchange lists its (multi-)keys in nondeterministic
    # order, so match the single-key form precisely rather than a prefix
    assert len(re.findall(r"Exchange hashpartitioning\(user_id#\d+L?, \d+\)", plan)) == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Window") == 3


def test_target_encode_broadcasts_category_agg(spark, sf_smoke):
    """The per-category (sum, n) table is category-cardinality-sized and
    must broadcast onto the fact scan — a shuffle join here would shuffle
    the whole fact table for a 5-row dimension."""
    plan = plan_of(spark, sf_smoke, "q_target_encode_loo")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_attribution_join_free_single_shuffle(spark, sf_smoke):
    """Last-touch attribution must stay the ONE-pass window form: a
    single user_id exchange feeding one Window, and no join at all (the
    naive formulation is an as-of self-join of purchases x clicks)."""
    df = get_registry()["q_attribution_last_touch"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_covariance_partial_agg_before_exchange(spark, sf_smoke):
    """The pair-product moment aggregate must partial-aggregate inside
    the scan stage (map-side combine over the ~2080 (i,j) keys) so the
    shuffle carries per-partition sums, never the exploded products; the
    64-row means tables must broadcast."""
    plan = plan_of(spark, sf_smoke, "q_embedding_covariance")
    assert "Generate" in plan  # in-scan pair generation (posexplode)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # HashAggregate -> Exchange -> HashAggregate for the moment sums
    import re

    assert re.search(r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate", plan)


def test_ks_drift_windows_share_one_shuffle(spark, sf_smoke):
    """Running-CDF and total sums both partition on event_type — one
    exchange must feed every Window node (plus the final rollup reusing
    the same partitioning adds no exchange)."""
    df = get_registry()["q_ks_drift"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_peak_concurrency_sweep_partitions_by_day(spark, sf_smoke):
    """The sweep-line window must partition by day (daily spans never
    cross midnight), never collapse to a keyless single-partition sort —
    the scale sin the bucketed as-of rewrite eliminated."""
    df = get_registry()["q_peak_concurrency"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_token_budget_fill_partitions_by_source(spark, sf_smoke):
    """The cumulative-token window must partition by source — a single
    global budget would collapse the sort to one partition."""
    df = get_registry()["q_token_budget_fill"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_hybrid_rrf_truncates_both_rank_lists_before_fusion(spark, sf_smoke):
    """Both retrieval sides must hit the rank-limit pushdown
    (WindowGroupLimit) so the fusion join sees top-k lists, not full
    scored corpora."""
    df = get_registry()["q_hybrid_search_rrf"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_dsir_weights_no_cartesian_token_join(spark, sf_smoke):
    """DSIR scoring joins tokens on the token key and broadcasts only
    the 1-row smoothing totals — never a cartesian, never a fact-sized
    broadcast."""
    plan = plan_of(spark, sf_smoke, "q_dsir_weights")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pq_topk_plan_hygiene(spark, sf_smoke):
    """PQ-ADC search must never shuffle the float corpus for a join:
    the codebook (128 rows), per-query LUT, candidate list, and query
    table are all broadcast; there is no cartesian product and no
    Python eval operator; and the ADC path itself is hash joins over
    the 8-codes-per-vector frame."""
    df = get_registry()["q_sim_ann_pq"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"]:
        assert marker not in plan, marker
    assert "NestedLoop" not in plan
    assert "BroadcastExchange" in plan
    # argmin windows pre-truncate on the scan side before their exchange
    assert "WindowGroupLimit" in plan


def test_watermark_audit_data_window_is_bucketed(spark, sf_smoke):
    """The exclusive prefix-max over the DATA must ride the per-bucket
    window (hash-partitioned by bkt); only the bucket-count-sized prefix
    table may sort in one partition, and it must come back via a
    broadcast join, not a shuffle of the fact side."""
    df = get_registry()["q_watermark_audit"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(bkt" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_zipf_fit_topk_never_global_sort(spark, sf_smoke):
    """The top-1000 vocabulary cut must fuse to TakeOrderedAndProject —
    a global Sort of the vocab would shuffle the whole token table to
    one partition at 100 TB."""
    df = get_registry()["q_zipf_fit"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_heaps_prefix_windows_are_bucketed(spark, sf_smoke):
    """The doc-prefix cumulative sums must ride per-bucket windows
    (partition spec = [bkt], order = [doc_id]) with the bucket prefix
    broadcast back — never a keyless single-partition window over the
    docs table. Asserted on the Window spec itself, not the exchange:
    when the size-derived spread gives the tiny fixture one input
    partition, Spark elides the hashpartitioning(bkt) exchange while
    the window stays bucket-partitioned (the invariant that matters
    at scale)."""
    import re

    df = get_registry()["q_heaps_fit"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\], \[bkt#\d+L\], \[doc_id#\d+L ASC", plan), plan
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# Partitionless-window gate (the single-partition-sort class killer)
# ---------------------------------------------------------------------------

def _partitionless_windows(plan: str) -> list[str]:
    """Window nodes whose spec has an ORDER but no PARTITION (Spark moves
    the whole frame to ONE partition). A Window line prints
    ``Window [exprs], [partition], [order]`` — 3 top-level bracket
    groups — when partitioned; partitionless-with-order prints 2 groups
    with ASC/DESC markers in the second. ``[exprs], [partition]`` (an
    unordered per-partition frame) is distributed and not flagged."""
    import re

    out = []
    for line in plan.splitlines():
        m = re.search(r"(?:^|[\s\-])Window (\[.*)$", line)
        if not m or "WindowGroupLimit" in line:
            continue
        rest = m.group(1)
        depth = 0
        groups: list[str] = []
        cur: list[str] = []
        for ch in rest:
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue
        out.append(line.strip())
    return out


# Every query allowed to carry a partitionless (single-partition) window,
# with the reason its frame is provably bounded. Anything else with one
# fails the sweep — the same class-kill contract as the cartesian/row-UDF
# sweep above.
PARTITIONLESS_WINDOW_ALLOWLIST = {
    # two-phase bucketed carry: the keyless window rides the bucket
    # SUMMARY (data/4096 rows), never the data — operators/scale.py
    "q_id_gap_detection": "bucket-summary prefix (data/4096)",
    "q_rfm_segmentation": "bucket-summary offsets (3 axes)",
    "q_segment_migration": "bucket-summary offsets (2 activity axes)",
    "q_gini_concentration": "bucket-summary offsets",
    "q_mann_whitney": "bucket-summary prefix over distinct cents",
    "q_maxmin_fairshare": "bucket-summary prefix over distinct cents",
    "q_kruskal_wallis": "bucket-summary prefix over distinct cents",
    "q_wilcoxon_signed_rank": "bucket-summary prefix over distinct |diffs|",
    "q_ntile_percent_rank": "bucket-summary offsets (cents buckets)",
    "q_permutation_importance": "bucket-summary offsets (hash buckets)",
    "q_quality_gains_chart": "bucket-summary offsets",
    "q_quantile_normalize": "64-char-band summary offsets",
    "q_dedup_sorted_neighborhood": "prefix-char-bucket summary offsets",
    # r8: visible again after the pair-frame checkpoints were dropped
    # (the truncated plan used to stop at the checkpoint scan) — same
    # bucketed_rank bucket-summary window as the SNM query above
    "q_dedup_blocking_recall": "prefix-char-bucket summary offsets (SNM arm)",
    "q_lru_miss_curve": "order-month bucket summary offsets",
    "q_negative_sampling": "item-id-bucket summary offsets (dense index)",
    "q_watermark_audit": "bucket-maxima prefix (data/4096)",
    "q_ransac_fit": "bucket-summary offsets (users/1024)",
    "q_woe_iv_encoding": "bucket-summary offsets (per-activity-value buckets)",
    # q_chimerge_binning: same bucketed ntile carry as q_woe_iv_encoding,
    # but hidden behind its per-round localCheckpoint (executed plans stop
    # at the checkpoint scan) — bounded by construction, intentionally NOT
    # listed (stale-entry guard), same as q_forecast_eval / q_dp_median
    "q_perplexity_filter": "bucket-summary offsets (nano-bit bands)",
    "q_chunk_size_audit": "bucket-summary token prefix (docs/4096)",
    "q_pps_systematic": "bucket-summary weight prefix (users/1024)",
    "q_heaps_fit": "bucket-totals prefix (docs/4096)",
    "q_pareto_skyline": "bucket-maxima prefix (Pareto-front carry)",
    "q_lorenz_curve": "decile grid + bucket-summary offsets",
    "q_abc_analysis": "bucket-summary revenue prefix",
    "q_qini_curve": "decile grid + bucket-summary offsets",
    "q_energy_distance": "bucket-summary prefix over distinct cents",
    "q_fd_histogram": "cumulative counts over distinct cents (value-domain-bounded)",
    "q_cramer_von_mises": "bucket-summary prefix over distinct cents",
    # day-series frames: one row per day after a data-sized partial agg
    "q_moving_avg": "daily series",
    "q_autocorr": "daily series",
    "q_dod_growth": "daily series",
    "q_ewma_smoothing": "daily series (recursive CTE seed)",
    "q_error_budget_burn": "daily series",
    "q_holt_smoothing": "daily series",
    "q_cusum_changepoint": "daily series",
    "q_page_hinkley": "daily series",
    "q_yule_walker_ar2": "daily series",
    "q_pacf": "daily series",
    "q_granger_causality": "daily series",
    "q_seasonal_naive_backtest": "daily series",
    "q_sequential_ab_monitor": "daily series",
    "q_sprt_monitor": "daily series",
    "q_theil_sen": "daily series + day-pair slopes",
    "q_share_of_total": "daily-series global share",
    "q_stl_decompose": "daily series (7-day centered trend)",
    "q_holt_winters": "daily series (7 seasonal recursive chains)",
    "q_kalman_filter": "daily series (recursive CTE seed)",
    "q_hurst_exponent": "daily series (R/S prefix)",
    "q_peak_detection": "daily series (prominence frames)",
    "q_seasonality_strength": "daily series (7-day centered trend)",
    "q_ljung_box": "daily series + 7-lag grid",
    "q_regression_diagnostics": "daily series",
    "q_durbin_watson": "daily series",
    "q_interpolate_linear": "calendar-grid carries (days-sized)",
    "q_theta_forecast": "daily series (recursive SES seed)",
    "q_binary_segmentation": "daily series (prefix-moment split scan)",
    "q_croston": "daily series (nonzero-demand days)",
    # q_forecast_eval / q_dp_median: bounded frames hidden behind
    # localCheckpoint (the sweep reads executed plans, which stop at the
    # checkpoint scan) — bounded by construction, documented in their
    # descriptions, intentionally NOT listed (stale-entry guard)
    "q_synthetic_control": "daily series (post-period cumulative effect)",
    "q_adstock_fit": "daily series (recursive adstock seed)",
    "q_ucb1_replay": "daily series (day-grid dense_rank)",
    "q_spearman_corr": "distinct per-user-count frames (activity-bounded)",
    "q_decision_stump": "distinct per-user-count frames (activity-bounded)",
    # fixed-cardinality grids / bins
    "q_chi2_independence": "event_type x weekday grid",
    "q_decayed_popularity": "event-type aggregate rank (5 rows)",
    "q_bh_fdr": "hypothesis grid (types x weekdays)",
    "q_holm_correction": "hypothesis grid (event types)",
    "q_calibration_ece": "probability bins",
    "q_dedup_threshold_profile": "similarity-threshold bins",
    "q_kanonymity_audit": "k-class histogram (<=6 rows)",
    "q_concentration_indices": "source-cardinality share ranking (~20 rows)",
    "q_kaplan_meier": "distinct day-durations (horizon-bounded)",
    "q_nelson_aalen": "distinct day-durations (horizon-bounded)",
    "q_logrank_test": "distinct day-durations (horizon-bounded)",
    "q_survival_rmst": "distinct day-durations (horizon-bounded)",
    "q_aalen_johansen": "distinct day-durations (horizon-bounded)",
    "q_weibull_fit": "distinct hour-durations (horizon-bounded, <=60)",
    "q_hill_tail_index": "post-LIMIT-101 order-statistic rank",
    # q_cox_ph's horizon-bounded suffix windows run inside the Newton
    # loop (collected during construction); the returned plan is
    # window-free, so it is intentionally NOT an offender here.
    # bounded by construction
    "q_heavy_hitters_2phase": "merge rank over <=16*10 local-top-k candidates",
    "q_bootstrap_ci": "200 bootstrap replicates",
    "q_zipf_fit": "post-LIMIT-1000 rank",
    # q_sim_ann_pq left the list in r7: the trained codebook is
    # localCheckpointed, so the seed-rank window no longer appears in
    # the search plan (the training plan keeps it, bounded by limit(ksub)).
    "q_roc_auc": "bucket-summary prefix (micro-prob div 4096, <=245)",
    "q_auc_delong_ci": "bucket-summary prefix (micro-prob div 4096, <=245)",
    "q_wasserstein_drift": "bucket-summary prefix+lead carry (cents div 4096)",
    "q_pr_auc": "bucket-summary prefix (micro-prob div 4096, <=245)",
    # rank-limit pushdown: WindowGroupLimit pre-truncates every input
    # partition to k rows before the single-partition stage
    "q_hybrid_search_rrf": "WindowGroupLimit k-truncated",
    "q_bm25_search": "WindowGroupLimit k-truncated",
    "q_ql_dirichlet_search": "WindowGroupLimit k-truncated",
    "q_prf_expansion": "WindowGroupLimit k-truncated + 10-doc feedback vocab",
    "q_kneser_ney_bigram": "WindowGroupLimit k-truncated",
    "q_join_size_estimate": "WindowGroupLimit k-truncated (min-128 synopsis)",
    "q_fagin_ta_audit": "WindowGroupLimit top-10 + bucketed rank summaries",
    "q_cold_start_fallback": "WindowGroupLimit bottom-20 cohort + top-5 pop",
    "q_dp_topk_exponential": "WindowGroupLimit top-10 noisy scores",
    "q_symspell_candidates": "WindowGroupLimit top-10 probe words",
    "q_rank_biased_overlap": "WindowGroupLimit top-20 ranking heads",
}


@pytest.mark.sf001
def test_plan_sweep_no_unvetted_partitionless_window(spark, sf_smoke):
    """Fleet-wide: no batch query may sort a data-scale frame in a
    single partition. Offenders must appear in the allowlist above with
    a bounded-frame justification; the sets must match EXACTLY so both
    regressions (new offender) and stale entries (fixed query still
    listed) fail."""
    reg = get_registry()
    offenders = {}
    for name, q in reg.items():
        if name.startswith("q_stream"):
            continue
        df = q.fn(spark, sf_smoke)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = _partitionless_windows(plan)
        if hits:
            offenders[name] = hits
    unvetted = {k: v for k, v in offenders.items() if k not in PARTITIONLESS_WINDOW_ALLOWLIST}
    stale = sorted(set(PARTITIONLESS_WINDOW_ALLOWLIST) - set(offenders))
    assert unvetted == {}, f"unvetted single-partition windows: {unvetted}"
    assert stale == [], f"stale allowlist entries (no longer offenders): {stale}"


@pytest.mark.parametrize(
    ("name", "extra_ok"),
    [
        ("q_id_gap_detection", ()),
        ("q_rfm_segmentation", ()),
        ("q_gini_concentration", ()),
        ("q_mann_whitney", ()),
        # the gains fold itself is a 10-row decile window — bounded
        ("q_quality_gains_chart", ("decile",)),
        ("q_quantile_normalize", ()),
    ],
)
def test_bucketed_carry_windows_ride_summaries_only(spark, sf_smoke, name, extra_ok):
    """The six global-order rewrites (two-phase bucketed carry,
    operators/scale.py): phase 1 must be a DISTRIBUTED window
    (hashpartitioning on the __bkt key) and every remaining
    partitionless window must ride the __bkt bucket summary (or a
    named, provably tiny frame) — never the data rows."""
    df = get_registry()[name].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bkt" in plan
    for line in _partitionless_windows(plan):
        ok = "__bkt" in line or any(tok in line for tok in extra_ok)
        assert ok, f"{name}: data-scale keyless window: {line[:160]}"


def test_edit_distance_dedup_blocks_on_equi_join(spark, sf_smoke):
    """Candidate generation must be a (lang, blk) equi-join — the
    blocking contract that keeps edit-distance dedup O(corpus), never
    an all-pairs comparison."""
    plan = plan_of(spark, sf_smoke, "q_dedup_edit_distance")
    assert "CartesianProduct" not in plan
    assert "blk" in plan  # the prefix block key reaches the join


def test_record_linkage_blocks_on_equi_join(spark, sf_smoke):
    """FS linkage candidates join on the length bucket; a missing block
    key would silently degrade to all-pairs."""
    plan = plan_of(spark, sf_smoke, "q_record_linkage")
    assert "CartesianProduct" not in plan
    assert "len_bkt" in plan


def test_knn_classify_broadcast_probe_and_ranklimit(spark, sf_smoke):
    """kNN scoring follows the q_sim_topk contract: the query split
    broadcasts over the streaming corpus, and rank-limit pushdown
    pre-truncates each scan partition (Partial WindowGroupLimit) before
    the single query-id shuffle."""
    plan = plan_of(spark, sf_smoke, "q_knn_classify")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_psm_match_banded_join_not_cartesian(spark, sf_smoke):
    """Propensity matching must probe via the bucket band equi-join
    (floor(p/caliper) +- 1), never treated x control."""
    plan = plan_of(spark, sf_smoke, "q_psm_match")
    assert "CartesianProduct" not in plan
    assert "c_bkt" in plan or "t_bkt" in plan


def test_psi_drift_grid_joins_stay_broadcast(spark, sf_smoke):
    """The (event_type x bucket x period) fill grid is metadata-sized
    but its left side is an aggregate Catalyst cannot estimate — without
    explicit broadcast hints the cross joins degraded to CartesianProduct
    at 10x-fixture stats (caught by the r7 scale-proof sweep). Pin the
    hinted shape."""
    plan = plan_of(spark, sf_smoke, "q_psi_drift")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_duplicate_registration_raises():
    """A query name registers once: a second body under the same name
    raises instead of silently replacing the first."""
    from healthcare_etl_spark.plans.registry import register

    registry = get_registry()
    name = next(iter(registry))
    original = registry[name].fn
    with pytest.raises(ValueError, match="already registered"):
        register(name)(lambda spark, sf_dir: None)
    assert get_registry()[name].fn is original
