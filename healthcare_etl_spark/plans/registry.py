"""Query registry — single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 (and every extension
operator) registers here with:
- a Spark callable ``(spark, sf_dir) -> DataFrame``;
- where SQL-expressible, the equivalent ANSI SQL for the DuckDB oracle
  (the fixture tables are pre-registered views on the driver side).

Column names are aliased identically on both sides: the driver's compare
sorts columns by name before hashing values. Computed floating-point
columns are rounded on both sides because double summation order differs
between engines (last-ulp drift would break the value hash).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator registering a query program under ``name``. A name
    registers once: a second registration raises instead of silently
    replacing the first body."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, description=description, tags=tags)
        return fn

    return deco


_LOADED = False


def _load_all_modules() -> None:
    """Import every query module so its @register calls run (once)."""
    global _LOADED
    if _LOADED:
        return
    import healthcare_etl_spark.plans.healthcare  # noqa: F401
    import healthcare_etl_spark.plans.queries_core  # noqa: F401
    import healthcare_etl_spark.plans.queries_agg  # noqa: F401
    import healthcare_etl_spark.plans.queries_tpch  # noqa: F401
    import healthcare_etl_spark.plans.queries_tpch_deep  # noqa: F401
    import healthcare_etl_spark.plans.queries_pipeline_ops  # noqa: F401
    import healthcare_etl_spark.plans.queries_pipeline_ops2  # noqa: F401
    import healthcare_etl_spark.plans.queries_events  # noqa: F401
    import healthcare_etl_spark.plans.queries_text  # noqa: F401
    import healthcare_etl_spark.plans.queries_corpus  # noqa: F401
    import healthcare_etl_spark.plans.queries_subqueries  # noqa: F401
    import healthcare_etl_spark.plans.queries_dedup  # noqa: F401
    import healthcare_etl_spark.plans.queries_similarity  # noqa: F401
    import healthcare_etl_spark.plans.queries_similarity2  # noqa: F401
    import healthcare_etl_spark.plans.queries_multimodal  # noqa: F401
    import healthcare_etl_spark.plans.queries_analytics  # noqa: F401
    import healthcare_etl_spark.plans.queries_analytics_stats  # noqa: F401
    import healthcare_etl_spark.plans.queries_analytics_scale  # noqa: F401
    import healthcare_etl_spark.plans.queries_mlops  # noqa: F401
    import healthcare_etl_spark.plans.queries_mlops_stats  # noqa: F401
    import healthcare_etl_spark.plans.queries_mlops_recsys  # noqa: F401
    import healthcare_etl_spark.plans.queries_stats2  # noqa: F401
    import healthcare_etl_spark.plans.queries_patterns  # noqa: F401
    import healthcare_etl_spark.plans.queries_patterns2  # noqa: F401
    import healthcare_etl_spark.plans.queries_profiling  # noqa: F401
    import healthcare_etl_spark.plans.queries_stats3  # noqa: F401
    import healthcare_etl_spark.plans.queries_timeseries2  # noqa: F401

    from healthcare_etl_spark.streaming.joins import register_join_queries
    from healthcare_etl_spark.streaming.stateful import register_stateful_queries
    from healthcare_etl_spark.streaming.windows import register_streaming_queries

    register_streaming_queries()
    register_stateful_queries()
    register_join_queries()
    _LOADED = True


# The driver's correctness gate oracle-checks the FIRST 50 registered
# queries (registration order == dict order).  This list curates that
# window.  Rotation policy: the 22 SURVEY.md §2 core rows stay pinned
# every round (reference parity must never lose driver signal); the
# remaining 28 slots ROTATE each round over the oracle-backed extension
# queries so that every one of them regains a driver-green row at most
# a couple of rounds apart.  Round 2 covered the extension families
# (dedup/similarity/text/corpus/pipeline/events/multimodal); round 3
# swapped in the deep TPC-H shapes, set-ops, grouping, subqueries,
# temporal joins and multimodal kernels (all green in CORRECTNESS_r03/
# r04 except the round-4 ts regression); round 5 keeps q_range_join and
# q_sessionize in-window to prove the TIMESTAMP_NTZ fix and rotates the
# remaining slots back to the extension families last driver-checked in
# round 2 (dedup, similarity, text/corpus, pipeline ops, events).
# Queries outside the window keep their in-repo DuckDB-parity test
# (tests/test_oracle_parity.py runs ALL oracle-backed queries at
# sf0.001 and, under -m sf001, at sf0.01); rows-only (non-SQL-
# expressible) queries register last so they never burn a checked slot
# on `no_oracle`.
DRIVER_WINDOW: tuple[str, ...] = (
    # -- SURVEY.md §2 core, pinned (r6 policy carried: flagship + one
    #    per family — S/P/J/A/O/F/V; the remaining §2 rows have >=2
    #    driver-green rounds each and keep their in-repo parity tests)
    "q_etl_replica",            # flagship: full ETL chain
    "q_etl_replica_by_state",   # dashboard aggregate (V)
    "q_etl_metrics",            # dashboard metrics row (V)
    "q_csv_scan",               # S1: CSV reader with dtype override
    "q_try_cast_coerce",        # P2/F2: coerce-to-null cast
    "q_inner_join",             # J1: broadcast inner equi-join
    "q_groupby_avg_sorted",     # A5: group-mean + sort
    "q_topk",                   # O1/O2: sort + limit
    "q_format_number",          # F3: numeric formatting
    # -- round 9 rotation: 41 FIRST-TIME external checks (r8 verdict
    #    task 1: >=40 first-time rows from the 289 never-externally-
    #    checked pool). Leads with the three the r8 verdict named
    #    (landed after the r8 window froze; judge-verified but never
    #    driver-checked), then the never-sampled MODULES
    #    (profiling, timeseries2, patterns2 incl. the capstone
    #    q_curation_pipeline_v2), then new source classes
    #    (JSON/ORC scans), then a spread across every module that
    #    still has never-checked names — including two of the r8
    #    bench movers (q_embedding_covariance, q_boilerplate_filter)
    #    so their adjudication gets an external correctness row too.
    #    Every query rotated out keeps its in-repo parity test
    #    (tests/test_oracle_parity.py, all 500+ oracle rows at
    #    sf0.001; -m sf001 at sf0.01) plus its prior external green.
    # judge-named (r8 verdict task 1)
    "q_sim_ann_ivfpq",
    "q_delta_scan",
    "q_multimodal_mp4_meta",
    # landed in r9 after the plan above was drafted: the Iceberg reader
    # (new source class, mirrors r8's Delta marquee), its two deepest
    # semantics (equality-delete sequence scoping; field-id schema
    # evolution across rename+append), and the Gopher rule battery —
    # all first-time, swapped in for four plain-SQL-shape names so
    # new-in-r9 code gets external rows first (higher risk).
    "q_iceberg_scan",
    "q_iceberg_eq_delete_scan",
    "q_iceberg_evolution_scan",
    "q_gopher_rules_filter",
    # profiling module (never sampled)
    "q_sortedness_audit",
    "q_shuffle_skew_planner",
    "q_partition_count_advisor",
    "q_stratified_kfold",
    "q_data_freshness_audit",
    # timeseries2 module (never sampled)
    "q_trailing_hour_sum",
    "q_decayed_popularity",
    "q_temporal_split_audit",
    # patterns2 module (never sampled; capstone pipeline first)
    "q_curation_pipeline_v2",
    "q_synthetic_control",
    "q_split_leakage_audit",
    # source classes never externally scanned
    "q_json_scan",
    "q_orc_scan",
    # core SQL surface never sampled
    "q_window_analytics",
    "q_full_outer_join",
    "q_null_safe_join",
    "q_null_group_keys",
    "q_pivot_wide",
    # multimodal codec paths never sampled
    "q_multimodal_wav_meta",
    "q_multimodal_gif_stats",
    # dedup depth
    "q_dedup_blocking_recall",
    "q_dedup_sorted_neighborhood",
    "q_minhash_eval",
    # similarity / embeddings depth (covariance is an r8 bench mover)
    "q_pca_projection",
    "q_grid_dbscan",
    "q_mmr_rerank",
    "q_embedding_covariance",
    # text / corpus
    "q_quality_gate",
    "q_readability",
    "q_rouge_overlap",
    "q_vocab_coverage",
    "q_ql_dirichlet_search",
    "q_submodular_coverage",
    "q_boilerplate_filter",
)


def _ordered(reg: dict[str, Query]) -> dict[str, Query]:
    """Window names first, then remaining oracle-backed, then rows-only."""
    missing = [name for name in DRIVER_WINDOW if name not in reg]
    if missing:
        raise KeyError(
            "DRIVER_WINDOW names not present in the registry (renamed or "
            f"unregistered?): {missing}"
        )
    out: dict[str, Query] = {}
    for name in DRIVER_WINDOW:
        out[name] = reg[name]
    rest = [q for name, q in reg.items() if name not in out]
    for q in rest:
        if q.oracle is not None:
            out[q.name] = q
    for q in rest:
        if q.oracle is None:
            out[q.name] = q
    return out


def get_registry() -> dict[str, Query]:
    _load_all_modules()
    return _ordered(REGISTRY)


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in get_registry().items()}


def get_oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in get_registry().items() if q.oracle is not None}
