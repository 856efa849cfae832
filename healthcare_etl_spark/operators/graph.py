"""Iterative graph operators: connected components for dedup clustering,
PageRank, BFS hop distances, label propagation and k-truss.

Near-dup detection emits *pairs*; the pipeline step that actually drops
documents needs *clusters* (transitively connected groups) with one
keeper each. Connected components is the canonical iterative Spark
algorithm: small-step minimum-label propagation, one join + aggregate
per round, converging in O(graph diameter) rounds.

Scale notes: each round is a shuffle on the node id — fully distributed;
the driver only runs the (tiny) convergence loop. Diameter of near-dup
graphs is small in practice (dup clusters are cliques or short chains),
so rounds stay in the single digits. For billion-edge graphs the
large-star/small-star variant halves rounds; the propagation skeleton is
the same.

Iteration discipline, shared by every operator here through four
building blocks — ``_symmetric_edges``, ``_fixpoint``,
``_power_iteration`` and ``_bfs``:

- **Edges checkpointed once.** The edge set is re-read every round and
  its upstream (e.g. the full MinHash pipeline) must not re-execute per
  round, so it is eagerly ``localCheckpoint``-ed up front.
- **Bounded lineage.** Round state feeds several branches of the next
  round, so its lineage would double every round; a lazy
  ``localCheckpoint`` every few rounds truncates it (the round's action,
  if any, materializes the blocks, so the checkpoint costs no extra
  job). On a real cluster use reliable ``checkpoint()``/staging tables;
  local block storage is the single-JVM equivalent.
- **At most one action per round.** A convergence check compares this
  round's signature with last round's, which is remembered on the driver
  instead of re-executing the previous DAG.

Why not Spark 4's native ``WITH RECURSIVE``: recursive CTEs currently
allow only UNION ALL between the anchor and recursive terms
(``UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE``, probed on 4.1.2). Transitive
closure over a CYCLIC graph (any symmetric dup graph) needs UNION's
dedup-per-level to terminate — with UNION ALL the path multiset grows
without bound. The driver-side iterative loops here ARE the
deduplicating fixpoint recursion, with convergence checks and lineage
checkpointing the SQL form cannot express; the DuckDB oracles (which do
support recursive UNION) verify their results exactly.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# PageRank damping and teleport weight. TELEPORT is the literal 0.15, not
# ``1.0 - DAMPING``: the Python expression ``1.0 - 0.85`` is the IEEE
# double 0.15000000000000002, and the oracle SQL interpolates the literal
# 0.15 — per-round rounding can land exactly on a half boundary where
# that last-ulp difference flips the result.
DAMPING = 0.85
TELEPORT = 0.15


def _symmetric_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v) in both directions, distinct, eagerly checkpointed."""
    return (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    rounds: int,
    checkpoint_every: int,
    signature: Callable[[DataFrame], Any] | None = None,
    prev: Any = None,
    limit_error: str | None = None,
) -> DataFrame:
    """Run ``state = step(state)`` for at most ``rounds`` rounds.

    Every ``checkpoint_every`` rounds the new state takes a lazy
    ``localCheckpoint``. With a ``signature`` (one driver action over the
    new state), the loop returns as soon as a round's signature equals
    the previous one; ``prev`` is the signature of the input state when
    the caller already knows it. Running out of rounds returns the last
    state, or raises ``RuntimeError(limit_error)`` when that is given.
    """
    for i in range(rounds):
        state = step(state)
        if (i + 1) % checkpoint_every == 0:
            state = state.localCheckpoint(eager=False)
        if signature is not None:
            sig = signature(state)
            if sig == prev:
                return state
            prev = sig
    if limit_error is not None:
        raise RuntimeError(limit_error)
    return state


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Label every node of the pair graph with its component's min id.

    Returns (node, component). Deterministic: min-label propagation has
    a unique fixpoint. Raises if not converged within ``max_iter``
    (diameter bound exceeded — raise the bound, not the stakes). The
    convergence signature is the label sum, which strictly decreases
    until the fixpoint; labels checkpoint every third round.
    """
    edges = _symmetric_edges(pairs, src, dst)
    # Fused first round: with component(v) initialized to v, round 1's
    # neighbor-min is just min(neighbor id), so the initial labels can be
    # computed directly as least(node, min(neighbor)) in ONE aggregate —
    # saving a full join round (every node of a pair graph has >= 1
    # neighbor, so no node is lost).
    labels = edges.groupBy(F.col("u").alias("node")).agg(
        F.least(F.col("u"), F.min("v")).alias("component")
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        return labels.join(nbr_min, labels.node == nbr_min.u, "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )

    def label_sum(labels: DataFrame):
        return labels.agg(F.sum("component")).first()[0]

    return _fixpoint(
        labels,
        step,
        rounds=max_iter,
        checkpoint_every=3,
        signature=label_sum,
        prev=label_sum(labels),
        limit_error=f"connected_components did not converge in {max_iter} rounds",
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster near-dup pairs; mark the keeper (min doc id) per cluster.

    Returns (doc_id, cluster_id, is_keeper) for every document that
    appears in at least one pair — the rows a dedup pipeline uses to
    drop ``is_keeper = false`` documents.
    """
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def connected_components_two_phase(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the O(log n)-round scale path.

    ``connected_components`` above propagates labels one hop per round:
    O(diameter) rounds, ideal for near-dup graphs (cliques and short
    chains). On high-diameter graphs (paths, meshes, web graphs) the
    alternating star operations contract whole subtrees per round and
    converge in O(log n) rounds instead:

    - **large-star** (per node u over its symmetric neighborhood):
      connect every neighbor LARGER than u to the neighborhood minimum
      ``m = min(N(u) + {u})``;
    - **small-star**: connect every neighbor smaller than u (and u
      itself) to the minimum of that smaller set.

    Both steps are a groupBy on the node + a re-join — the same
    shuffle-on-node shape as label propagation, two of them per round.
    Terminates when the edge multiset is stable, at which point every
    component is a star whose center is the component minimum; the
    label read-off is one final aggregate. Returns (node, component),
    identical to ``connected_components`` (asserted in tests).
    """
    e = (
        pairs.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def step(e: DataFrame) -> DataFrame:
        # ---- large-star: symmetric view, group on u
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # no distinct here: duplicate edges cannot change the small-star
        # phase's min aggregates, and the round ends in a distinct — so
        # deduping now would only add a shuffle per round
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # ---- small-star over large-star's output (edges stored big->small)
        e2 = large.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        small_mins = e2.groupBy("u").agg(F.min("v").alias("m"))
        return (
            e2.join(small_mins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(small_mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )

    def edge_signature(e: DataFrame):
        # edge count + order-insensitive signature (bit_xor, not sum —
        # hash sums overflow under ANSI arithmetic)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("sig"),
        ).first()
        return (row["n"], row["sig"])

    # Checkpoint EVERY round: the signature action materializes the
    # round's plan regardless, so skipping the checkpoint only means the
    # NEXT round's action recomputes this round's two shuffles from
    # scratch (measured 6.8s -> 2.8s at sf0.1 going from every 2nd round
    # to every round).
    e = _fixpoint(
        e,
        step,
        rounds=max_iter,
        checkpoint_every=1,
        signature=edge_signature,
        limit_error=f"two-phase CC did not converge in {max_iter} rounds",
    )
    # stars: every edge is (node -> component min); nodes that are
    # centers appear only on the v side
    nodes = e.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    )
    return nodes.groupBy("node").agg(F.min("component").alias("component"))


def _rnd(c: Column) -> Column:
    """Per-round 10-digit stable rounding (multiply-round-divide)."""
    return F.round(c * 1e10) / 1e10


def _power_iteration(
    edges: DataFrame, base: DataFrame, init: Column, teleport: Column
) -> DataFrame:
    """Five-iteration power method over symmetric ``edges`` → (node, rank).

    ``base`` holds one row per node with its out-degree ``d`` plus the
    columns ``init`` and ``teleport`` read. Each round pushes
    contribution = rank/out-degree along the edges (join), sums it per
    target (hash agg) and adds the teleport term back. Ranks are
    stable-rounded after EVERY iteration so the per-node double is
    bit-identical to the unrolled-CTE oracle — cross-engine drift cannot
    compound across rounds.
    """
    cols = base.columns

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("u"), (F.col("rank") / F.col("d")).alias("c")
                ),
                "u",
            )
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        return base.join(contrib, base.node == contrib.v, "left").select(
            *cols, _rnd(teleport + DAMPING * F.coalesce("s", F.lit(0.0))).alias("rank")
        )

    ranks = base.select(*cols, _rnd(init).alias("rank"))
    ranks = _fixpoint(ranks, step, rounds=5, checkpoint_every=2)
    return ranks.select("node", "rank")


def pagerank(pairs: DataFrame, *, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """PageRank over the symmetrized pair graph → (node, rank).

    Five-iteration power method with damping ``DAMPING`` and uniform
    teleport ``TELEPORT / n``. Symmetrization guarantees every node has
    out-degree ≥ 1, so no dangling-mass correction term is needed and
    total rank stays 1.

    Scale: each round is one shuffle on the node id; degree and the node
    count ride along as columns (the count is a 1-row broadcast). At
    100 TB edge scale, pre-partition ``edges`` by ``u`` (bucketed
    staging table) so the per-round join is exchange-free on one side.
    """
    edges = _symmetric_edges(pairs, src, dst)
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    n_df = deg.agg(F.count(F.lit(1)).alias("n"))
    # (node, d, n) — the loop-invariant base every round rejoins against.
    base = (
        deg.select(F.col("u").alias("node"), "d")
        .crossJoin(F.broadcast(n_df))
        .localCheckpoint(eager=True)
    )
    return _power_iteration(
        edges,
        base,
        F.lit(1.0) / F.col("n"),
        F.lit(TELEPORT) / F.col("n"),
    )


def personalized_pagerank(pairs: DataFrame, seeds: DataFrame) -> DataFrame:
    """Personalized PageRank (five iterations over the symmetrized
    (doc_a, doc_b) graph): teleport mass restarts at the ``node`` SEED set
    instead of uniformly — rank becomes proximity TO the seeds, the
    similar-item / recommendation primitive (vs :func:`pagerank`'s
    global centrality). Seeds not present in the graph are ignored; an
    empty effective seed set yields all-zero ranks rather than an error.
    """
    edges = _symmetric_edges(pairs, "doc_a", "doc_b")
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    seed_nodes = seeds.select("node").distinct()
    marked = deg.select(F.col("u").alias("node"), "d").join(
        seed_nodes.withColumn("is_seed", F.lit(True)), "node", "left"
    ).select("node", "d", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
    ns_df = marked.agg(
        F.sum(F.when(F.col("is_seed"), 1).otherwise(0)).cast("long").alias("ns")
    )
    base = marked.crossJoin(F.broadcast(ns_df)).localCheckpoint(eager=True)
    teleport = F.when(
        F.col("is_seed") & (F.col("ns") > 0), F.lit(1.0) / F.col("ns")
    ).otherwise(F.lit(0.0))
    return _power_iteration(edges, base, teleport, F.lit(TELEPORT) * teleport)


def _bfs(pairs: DataFrame, seeds: DataFrame | None, keys: list[str], seed_filter) -> DataFrame:
    """Frontier BFS over the symmetrized (doc_a, doc_b) pair graph from
    the ``node`` seeds, at most 20 hops → (*keys, hops).

    ``keys`` is ``["node"]`` (one BFS from the whole seed set) or
    ``["seed", "node"]`` (one BFS per seed, all sharing each round's
    join). Every round expands the frontier by one join, anti-joins the
    settled labels away, checkpoints the new frontier eagerly and stops
    when it is empty (``isEmpty`` is the round's one action).
    """
    edges = _symmetric_edges(pairs, "doc_a", "doc_b")
    if seed_filter is not None:
        # Derive seeds from the checkpointed edges so the pair pipeline
        # runs exactly once.
        seeds = edges.select(F.col("u").alias("node")).distinct().filter(
            seed_filter(F.col("node"))
        )
    labels = (
        seeds.select(F.col("node").alias(keys[0]))
        .distinct()
        .select(*[F.col(keys[0]).alias(k) for k in keys], F.lit(0).cast("long").alias("hops"))
        .localCheckpoint(eager=True)
    )
    frontier = labels
    prev_frontier = None
    for _ in range(20):
        neighbors = (
            edges.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(*keys[:-1], F.col("v").alias("node"), (F.col("hops") + 1).alias("hops"))
            .distinct()
        )
        # Two-frontier anti-join (r10, guide §1.2/§2.3): in an undirected
        # graph a neighbor of a distance-r node has distance r-1, r or
        # r+1 (per seed, for per-seed keys), so the only SETTLED labels
        # `neighbors` can contain are in the current or previous
        # frontier — anti-joining against those two (frontier-sized)
        # frames is exactly equivalent to anti-joining against the full
        # accumulated label set, and shuffles O(frontier) instead of
        # O(all labels) per round.
        seen = (
            frontier if prev_frontier is None else frontier.union(prev_frontier)
        )
        new = neighbors.join(seen.select(*keys), keys, "left_anti").localCheckpoint(
            eager=True
        )
        if new.isEmpty():
            break
        # Labels are APPEND-ONLY: every constituent (seed labels + each
        # round's `new`) is already an eagerly-checkpointed RDD, so the
        # accumulator can stay a LAZY union of those checkpoints — no
        # recompute is possible through it, and re-checkpointing the
        # union each round re-materialized the entire accumulated label
        # set every round (O(labels) per round, quadratic across the
        # BFS; guide §1.2: don't compute things you throw away).
        labels = labels.union(new)
        prev_frontier = frontier
        frontier = new
    return labels


def bfs_hops(
    pairs: DataFrame, seeds: DataFrame | None = None, *, seed_filter=None
) -> DataFrame:
    """Minimum hop count from a seed set over the symmetrized pair graph.

    Returns (node, hops) for every node reachable within 20
    hops (seeds at 0). Classic distributed BFS: the frontier expands one
    join per round, already-labelled nodes are anti-joined away so each
    node is visited exactly once — total work is O(edges) across all
    rounds, not O(edges x rounds).

    Seeds come either as a frame (``seeds``) or as ``seed_filter``, a
    predicate over the node column applied to the node set of the
    ALREADY-CHECKPOINTED edges. Prefer the filter when the seed set
    derives from the pair graph itself (hash-probe centrality): passing
    a seeds frame built from the raw ``pairs`` subtree executes the
    whole pair pipeline a second time at the seed checkpoint — measured
    1.4x end-to-end on q_harmonic_centrality (AB_RUNS.jsonl
    r9-clean-bench-movers) once the band-frame checkpoint that used to
    absorb the recompute was (correctly) removed.
    """
    return _bfs(pairs, seeds, ["node"], seed_filter)


def bfs_hops_per_seed(
    pairs: DataFrame, seeds: DataFrame | None = None, *, seed_filter=None
) -> DataFrame:
    """Per-seed hop distances over the symmetrized pair graph: returns
    (seed, node, hops) for every (seed, reachable node) pair within
    20 hops — ``bfs_hops`` generalized from "min distance to
    the seed SET" to independent single-source BFS runs sharing one
    frontier pipeline (state keyed by (seed, node), so all sources
    expand in the same per-round join; the classic multi-source trick
    that makes k centrality probes cost one BFS, not k). Each (seed,
    node) is expanded exactly once. Feeds closeness / harmonic
    centrality estimates from a hash-chosen probe set.
    """
    return _bfs(pairs, seeds, ["seed", "node"], seed_filter)


def label_propagation_communities(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Deterministic SYNCHRONOUS label-propagation community detection
    (Raghavan et al. 2007, made deterministic): unlike connected
    components (which floods the min id across every reachable node),
    LPA lets DENSE regions keep their own label, so one connected
    component can split into several communities.

    Update rule, applied to all nodes simultaneously each round:
    new_label(v) = the label with the highest vote count among v's
    neighbors' current labels PLUS v's own current label (one self-vote
    — the standard damping that prevents two-coloring oscillation on
    bipartite-ish structures), ties broken to the SMALLEST label.
    Fixed ``rounds`` (no data-dependent stop) keeps the op oracle-
    expressible as an unrolled SQL chain.

    Scale shape: each round is one shuffle — edges join labels on the
    neighbor id, then a (node, label) count aggregate and a per-node
    argmax via the partitioned window (WindowGroupLimit prunes to one
    row per node before the final exchange). Labels are checkpointed
    every round. Returns (node, community).
    """
    e = _symmetric_edges(edges, src, dst)
    labels = e.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))

    def step(labels: DataFrame) -> DataFrame:
        nbr = e.join(labels, e.v == labels.node).select(
            F.col("u").alias("node"), "lbl"
        )
        votes = (
            nbr.unionByName(labels.select("node", "lbl"))
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "lbl")
        )

    labels = _fixpoint(labels, step, rounds=rounds, checkpoint_every=1)
    return labels.select("node", F.col("lbl").alias("community"))


def ktruss_edges(
    edges: DataFrame,
    *,
    src: str = "u",
    dst: str = "v",
    k: int = 4,
) -> DataFrame:
    """k-truss peel over an undirected graph (Cohen 2008): iteratively
    drop every edge supported by fewer than ``k - 2`` triangles among
    the SURVIVING edges. Where k-core keeps nodes by degree, k-truss
    keeps edges by triangle support — the stricter cohesion filter that
    removes the bridge/chance edges a near-dup graph accumulates while
    preserving genuine duplicate cliques.

    Three fixed rounds (no data-dependent stop) keep the op oracle-
    expressible as an unrolled SQL chain; a 4-clique stabilizes in one
    round, chains of bridges peel one layer per round. Returns the
    surviving canonical edges (u < v) with the support computed on the
    LAST round's graph (the value the final filter saw).

    Scale shape per round: the canonical ordered-triangle enumeration
    (two hash joins on 8-byte node keys, each triangle generated once
    as a<b<c), one UNION ALL + count for per-edge support, one
    left-join filter. Edges checkpoint per round so the triangle
    pipeline never re-executes transitively.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    min_sup = k - 2

    def step(scored: DataFrame) -> DataFrame:
        e = scored.select("u", "v")
        e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
        wedges = e.alias("e1").join(e2, F.col("e1.v") == F.col("b2")).select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), "c"
        )
        e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
        tri = wedges.join(
            e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
        ).select("a", "b", "c")
        sup = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        scored = e.join(sup, ["u", "v"], "left").select(
            "u", "v", F.coalesce("support", F.lit(0)).alias("support")
        )
        return scored.filter(F.col("support") >= min_sup)

    return _fixpoint(e, step, rounds=3, checkpoint_every=1)
