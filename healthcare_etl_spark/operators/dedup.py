"""Deduplication operators for LLM training-data pipelines.

Four families, all pure DataFrame programs (no Python in the hot path):

- **exact**: hash-groupBy on the content column. One shuffle; at 100 TB
  pre-hash to a 64-bit key (``xxhash64``) so the shuffle moves 8-byte
  keys, not document bodies.
- **n-gram Jaccard**: exact set similarity over word shingles via a
  shared-shingle self-join. Quadratic in the worst case — used as the
  *verifier* behind candidate generation, or standalone at small scale.
- **MinHash + LSH**: the scale path. Shingles -> md5-derived hashes ->
  32 permutations -> 8 bands of 4 rows -> bucket self-join produces
  candidates in ~linear time; exact Jaccard verifies (as
  ``array_intersect`` over carried shingle-hash sets). Every step is
  deterministic (reproducible in the DuckDB oracle). Hot buckets
  (boilerplate shingles) are the skew risk: AQE skew-join handles
  moderate skew; severe skew is handled by the ``max_shingle_doc_frac``
  guard, which drops über-frequent shingles before banding.
- **SimHash**: 31-bit sign-of-weighted-bit-sums fingerprint; hamming
  band join for near-dup candidates.

Performance notes (measured at sf0.1):

- Spark does NOT codegen lambda higher-order functions (``transform``/
  ``aggregate`` run interpreted), so the pipelines here are written in
  *exploded row* form — hashes via the native ``md5``/``conv``
  expressions, signatures via a single multi-column hash-aggregate —
  keeping every hot operator inside whole-stage codegen. This cut
  MinHash wall time ~5x vs the array/lambda formulation.
- Shingles are built with ``arrays_zip`` over shifted ``slice`` calls
  on the token array (shingle i = (t[i], t[i+1], t[i+2])), not a window
  ``lead`` — no ordering shuffle, measured ~1.4x faster.
- The input is hash-partitioned by doc_id up front, so the shingle
  ``distinct`` and the signature ``groupBy(doc_id)`` both satisfy their
  required distributions from that one exchange: the whole scan ->
  shingle -> distinct -> min-signature pipeline runs with a single
  shuffle (verified: 1 Exchange in the executed plan). The same
  partitioning strategy is what you'd bucket by at 100 TB.
- The LSH pair pipeline aggregates signatures AND the shingle-hash set
  in one pass (``minhash_band_frame``), so exact-Jaccard verification
  is two small joins plus ``array_intersect`` — no second scan of the
  exploded shingle frame. Measured ~2.3x faster end-to-end at sf0.1
  than the exploded-verify form.

Embedding near-dup (cosine) lives in ``operators.similarity``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from healthcare_etl_spark.functions.rounding import stable_round
from healthcare_etl_spark.functions.text import FINGERPRINT_MOD as P

N_PERM = 32
N_BANDS = 8
BAND_R = N_PERM // N_BANDS


def minhash_coefficients() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod P, one per
    permutation.

    A plain LCG from seed 12345 keeps this reproducible anywhere (the
    DuckDB oracle SQL embeds the same literals).
    """
    state = 12345
    out = []
    for _ in range(N_PERM):
        state = (state * 1103515245 + 12345) % (2**31)
        a = state % (P - 1) + 1
        state = (state * 1103515245 + 12345) % (2**31)
        b = state % P
        out.append((a, b))
    return out


def md5_hash31(col: Column | str) -> Column:
    """First 8 hex digits of md5, as an int in [0, P).

    ``md5``/``conv``/``substring`` are native codegen'd expressions —
    this replaces a per-character interpreted fold. DuckDB mirror:
    ``('0x' || substring(md5(x), 1, 8))::BIGINT % P``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % P


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep one representative (min doc_id) per identical text.

    Returns (text, keeper_id, n_copies). At scale, group on
    ``xxhash64(content)`` first so the shuffle key is 8 bytes; the full
    content comparison then only runs within hash buckets.
    """
    return df.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _shingle_text_rows(df: DataFrame, k: int) -> DataFrame:
    """(doc_id, shingle) rows (NOT distinct) — the exploded zip form.

    Word k-shingles as ``arrays_zip`` over shifted ``slice`` calls on the
    token array: shingle i = (t[i], ..., t[i+k-1]); ``arrays_zip`` null-
    pads the shifted arrays, so rows whose last member is null are the
    (k-1) tail positions and are filtered. Documents shorter than ``k``
    tokens contribute their whole text as a single shingle (the
    ``pos == 0`` row) so they still participate. No window, no ordering
    shuffle — every expression is codegen'd.

    The input is hash-partitioned by doc_id first. That serves two
    needs at once: the corpus fixtures arrive as one small parquet file
    (one scan partition) so downstream work needs spreading, and the
    doc_id partitioning lets the callers' ``distinct`` and
    ``groupBy(doc_id)`` aggregates run with no further exchange.
    """
    from healthcare_etl_spark.sources.readers import spread_count

    df = df.repartition(spread_count(df), F.col("doc_id"))
    toks = F.split(F.col("text"), " ")
    base = df.select(
        F.col("doc_id"), toks.alias("t"), F.size(toks).alias("n_tok")
    )
    zipped = F.arrays_zip(
        F.col("t").alias("w0"),
        *[
            F.slice("t", j + 1, F.greatest(F.col("n_tok") - j, F.lit(0))).alias(f"w{j}")
            for j in range(1, k)
        ],
    )
    z = base.select(
        "doc_id",
        "n_tok",
        F.array_join("t", " ").alias("whole"),
        F.posexplode(zipped).alias("pos", "z"),
    )
    return z.filter(
        ((F.col("n_tok") >= k) & F.col(f"z.w{k - 1}").isNotNull())
        | ((F.col("n_tok") < k) & (F.col("pos") == 0))
    ).select(
        "doc_id",
        F.when(F.col("n_tok") < k, F.col("whole"))
        .otherwise(F.concat_ws(" ", *[f"z.w{j}" for j in range(k)]))
        .alias("shingle"),
    )


def _shared_shingle_counts(df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, na, nb, n_common) for every pair doc_a < doc_b
    sharing at least one hashed 3-shingle: the inverted-index
    self-join on the 8-byte shingle hash, with the shared count folded
    into the join's immediate ``groupBy``. Each document's set size
    ``n_sh`` is a count window over the index, which is already
    hash-partitioned by doc_id, so it needs no exchange and no join."""
    inv_sized = hashed_shingle_rows(df).withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    return (
        inv_sized.alias("x")
        .join(
            inv_sized.alias("y"),
            (F.col("x.hsh") == F.col("y.hsh")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.n_sh").alias("na"),
            F.col("y.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def jaccard_pairs(df: DataFrame, *, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shared-shingle join.

    Pairs are generated only for documents sharing >= 1 shingle (the
    inverted-index trick), so disjoint documents never meet. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Jaccard is computed over the 31-bit *hashed* shingle sets (standard
    shingle hashing; the DuckDB oracle hashes identically, so the rare
    md5 collision is reproduced bit-for-bit on both engines). The
    inverted-index self-join therefore shuffles 8-byte hash keys, not
    shingle strings — the 100 TB shuffle-width argument — and the
    shared-shingle count folds into the join's immediate ``groupBy``
    (one aggregation over the join output; measured faster at sf0.1
    than the carried-set/``array_intersect`` form that wins for
    MinHash, because here the join output IS the intersection — no
    second verify pass exists to eliminate).
    """
    # No operator-internal checkpoint/persist (r9): under AQE,
    # localCheckpoint — eager OR lazy — finalizes the plan and EXECUTES
    # its shuffle stages at call time, so plan build on a 100 TB corpus
    # would run a corpus-sized job before any action (measured r8/r9),
    # and persist's columnar re-encode of the big index measured slower
    # than the recompute it saves (AB_RUNS.jsonl r9-dedup-*). The set
    # sizes are a window over the doc_id-partitioned index, not a third
    # consumer of it: the posexplode -> md5 -> distinct pipeline runs
    # once per self-join side (AQE broadcasts one side at fixture scale,
    # so the sides share only the spread exchange), twice in the executed
    # adaptive plan of q_degree_distribution at sf0.01.
    common = _shared_shingle_counts(df)
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.select("doc_a", "doc_b", stable_round(jac, 6).alias("jaccard"))
        .filter(stable_round(jac, 6) >= threshold)
    )


def hashed_shingle_rows(df: DataFrame) -> DataFrame:
    """Distinct (doc_id, hsh) rows: md5-derived 31-bit hashes of the word
    3-shingles of ``text``.

    Hashing *before* the distinct keeps every downstream shuffle numeric
    (8-byte keys instead of shingle strings) and needs only one dedup
    pass: distinct-of-hashes == hashes-of-distinct-strings, modulo md5
    collisions, which the oracle reproduces exactly (same hash).

    Single-exchange: the doc_id partitioning from ``_shingle_text_rows``
    satisfies this distinct, the signature ``groupBy(doc_id)`` and the
    per-document windows downstream, so scan -> shingle -> distinct ->
    signatures is one shuffle total. Across its consumers (the two
    sides of the Jaccard self-join; doc-frequency / ranked join /
    verify sets in the prefix filter) ReuseExchange shares only that
    bottom spread shuffle; there is no distinct shuffle to share, so
    the posexplode -> md5 -> distinct pipeline above it runs once per
    consumer. r9 measured the alternatives and kept this form —
    ``persist`` pays a columnar re-encode of the ~26M-row index
    that exceeds the recompute it saves, an explicit top
    ``repartition`` adds a second full shuffle of the index for no
    measured win (AB_RUNS.jsonl r9-dedup-{persist,top-exchange,
    combined-vs-head}), and ``localCheckpoint`` is banned because under
    AQE it executes corpus-sized shuffle stages at PLAN BUILD time.
    """
    return (
        _shingle_text_rows(df, 3)
        .select("doc_id", md5_hash31("shingle").alias("hsh"))
        .distinct()
    )


def minhash_signatures_from(inv_h: DataFrame) -> DataFrame:
    """(doc_id, n_sh, s0..s63) from a (doc_id, hsh) frame — one
    hash-aggregate with map-side partial aggregation; every permutation
    min is a plain arithmetic aggregate expression.
    """
    aggs = [
        F.min((F.col("hsh") * a + b) % P).alias(f"s{i}")
        for i, (a, b) in enumerate(minhash_coefficients())
    ]
    return inv_h.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"), *aggs)


def _band_key(band: int) -> Column:
    """Fold band ``band``'s R signature columns into one 64-bit bucket key."""
    fold = F.lit(0).cast("long")
    for r in range(BAND_R):
        fold = (fold * 31 + F.col(f"s{band * BAND_R + r}")) % P
    return F.lit(band).cast("long") * P + fold


def _pruned_hashed_rows(
    df: DataFrame, k: int, max_shingle_doc_frac: float | None
) -> DataFrame:
    """(doc_id, hsh) rows (non-distinct) of the word k-shingles,
    optionally dropping boilerplate.

    With ``max_shingle_doc_frac`` set, shingle hashes whose *document
    frequency* exceeds that fraction of the corpus are dropped before
    signatures/banding — the skew guard for boilerplate-heavy corpora
    (header/footer shingles otherwise dominate every min-signature and
    pile all documents into the same band buckets). The total-docs
    scalar stays lazy (broadcast 1-row aggregate, no driver action);
    the über-frequent hash set is small by construction and broadcast
    into a left-anti join. Dropped shingles are excluded from the
    verify sets too — i.e. similarity is computed over the
    de-boilerplated shingle sets, the standard semantic.
    """
    raw = _shingle_text_rows(df, k).select(
        "doc_id", md5_hash31("shingle").alias("hsh")
    )
    if max_shingle_doc_frac is not None:
        n_docs = df.select(F.count_distinct(F.col("doc_id")).alias("n_docs"))
        hot = (
            raw.groupBy("hsh")
            .agg(F.count_distinct("doc_id").alias("doc_freq"))
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("doc_freq") > F.col("n_docs") * F.lit(max_shingle_doc_frac))
            .select("hsh")
        )
        raw = raw.join(F.broadcast(hot), "hsh", "left_anti")
    return raw


def minhash_band_frame(df: DataFrame, *, max_shingle_doc_frac: float | None = None) -> DataFrame:
    """(doc_id, hs, n_sh, bks): 3-shingle-hash set, its size, and the
    N_BANDS LSH bucket keys — ONE aggregation pass over the shingle
    rows. NOT checkpointed and NOT persisted (r9 adjudication): under
    AQE, ``localCheckpoint`` — eager OR lazy — finalizes the plan and
    EXECUTES its shuffle stages at call time, so merely BUILDING a plan
    over a 100 TB corpus would run a corpus-sized job (r8's lazy
    variant fixed the resident-block OOM but still ran 2 jobs at build,
    measured); ``persist(MEMORY_AND_DISK)`` keeps build job-free but
    its interleaved A/Bs vs the plain form flip inside the host noise
    band (q_dedup_minhash -9..13%, q_dedup_blocking_recall +13%/tie
    across two runs — AB_RUNS.jsonl r9-dedup-persist-band-only-vs-head,
    r9-dedup-combined-vs-head), so the simpler form stands. Sharing
    across the band self-join probe+build and both verify sides comes
    from ReuseExchange: the signature aggregate's shuffle is written
    once and every consumer reads the same shuffle files (on a real
    cluster a reliable checkpoint / staging table is the equivalent).
    The join strategy cost is nil: the band self-join sits behind
    exchanges, so AQE re-plans it from actual runtime sizes.

    Carrying ``collect_set(hsh)`` through the signature aggregate is
    what makes verification cheap: the exact-Jaccard check becomes
    ``array_intersect`` over two ~shingles-per-doc arrays instead of
    two more joins against the exploded (doc_id, hsh) frame. ``min`` is
    duplicate-insensitive and ``collect_set`` dedupes, so the upstream
    ``distinct`` disappears as well. Measured at sf0.1 this halves the
    end-to-end wall time vs the exploded-verify form.
    """
    raw = _pruned_hashed_rows(df, 3, max_shingle_doc_frac)
    aggs = [
        F.min((F.col("hsh") * a + b) % P).alias(f"s{i}")
        for i, (a, b) in enumerate(minhash_coefficients())
    ]
    sigs = raw.groupBy("doc_id").agg(F.collect_set("hsh").alias("hs"), *aggs)
    return sigs.select(
        "doc_id",
        "hs",
        F.size("hs").alias("n_sh"),
        F.array(*[_band_key(j) for j in range(N_BANDS)]).alias("bks"),
    )


def lsh_candidate_pairs(band_frame: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing >= 1 LSH band bucket.

    The banded self-equi-join is the ~linear-time candidate generator;
    at fixture scale AQE broadcasts one side at runtime (the exploded
    band rows sit behind an exchange, so AQE sees their actual size),
    at cluster scale it becomes a plain shuffle equi-join on the bucket
    key — no all-pairs comparison either way.
    """
    bands = band_frame.select("doc_id", F.explode("bks").alias("bk"))
    return (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(df: DataFrame, *, max_shingle_doc_frac: float | None = None) -> DataFrame:
    """MinHash-LSH candidate pairs, verified with exact Jaccard.

    Candidate generation is the banded bucket join (linear-ish in corpus
    size); only candidates pay the exact set comparison, which runs as
    ``array_intersect`` over the carried shingle-hash sets (see
    ``minhash_band_frame``). Returns (doc_a, doc_b, jaccard) with
    doc_a < doc_b, jaccard >= 0.5.

    32 permutations / 8 bands of 4 rows: r=4 keeps false candidates
    quartically suppressed (a random pair must agree on 4 consecutive
    minhashes to collide), and recall vs exact Jaccard at the 0.5
    threshold is lossless on the planted fixtures at every scale
    factor — asserted by tests. ``max_shingle_doc_frac`` enables the
    boilerplate skew guard (``_pruned_hashed_rows``).
    """
    ba = minhash_band_frame(df, max_shingle_doc_frac=max_shingle_doc_frac)
    cand = lsh_candidate_pairs(ba)
    sa = ba.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("n_sh").alias("na")
    )
    sb = ba.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"), F.col("n_sh").alias("nb")
    )
    joined = cand.join(sa, "doc_a").join(sb, "doc_b")
    n_common = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = n_common.cast("double") / (F.col("na") + F.col("nb") - n_common)
    return (
        joined.select("doc_a", "doc_b", stable_round(jac, 6).alias("jaccard"))
        .filter(stable_round(jac, 6) >= 0.5)
    )


def simhash(df: DataFrame) -> DataFrame:
    """31-bit SimHash per document from md5-derived word hashes.

    bit_i(doc) = sign of sum over word occurrences of (2*((h>>i)&1) - 1).
    Exploded form: one codegen'd 31-column aggregate.
    """
    words = df.select(
        F.col("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    ).withColumn("hsh", md5_hash31("w"))
    sums = words.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright("hsh", i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{i}")
            for i in range(31)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(31):
        fp = fp + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_pairs(df: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidates come from a 4-band split of the fingerprint (pigeonhole:
    any pair within hamming 3 shares at least one exact band), then the
    exact popcount check verifies.
    """
    fp = simhash(df)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    (
                        F.lit(j).cast("long") * (1 << 31)
                        + F.shiftright("simhash", j * 8).bitwiseAND(F.lit(255))
                    )
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def cross_pairs_from_band_frames(bn: DataFrame, bc: DataFrame) -> DataFrame:
    """Cross-set candidate join + exact verify over two PRE-BUILT band
    frames (``minhash_band_frame`` outputs). Split out so callers that
    already hold a band frame — a maintained corpus band table, or one
    frame over all docs filtered into new/old sides (one shingling pass
    instead of two) — pay only the bucket join.
    """
    bands_new = bn.select(F.col("doc_id"), F.explode("bks").alias("bk"))
    bands_cor = bc.select(F.col("doc_id").alias("dup_of"), F.explode("bks").alias("bk"))
    cand = bands_new.join(bands_cor, "bk").select("doc_id", "dup_of").distinct()
    sa = bn.select(F.col("doc_id"), F.col("hs").alias("hs_a"), F.col("n_sh").alias("na"))
    sb = bc.select(
        F.col("doc_id").alias("dup_of"), F.col("hs").alias("hs_b"), F.col("n_sh").alias("nb")
    )
    joined = cand.join(sa, "doc_id").join(sb, "dup_of")
    n_common = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = n_common.cast("double") / (F.col("na") + F.col("nb") - n_common)
    return (
        joined.select("doc_id", "dup_of", stable_round(jac, 6).alias("jaccard"))
        .filter(stable_round(jac, 6) >= 0.5)
    )


def containment_pairs(df: DataFrame, *, threshold: float = 0.8) -> DataFrame:
    """Asymmetric near-dup detection: shingle-set *containment*.

    ``containment = |A ∩ B| / min(|A|, |B|)`` — 1.0 when the smaller
    document's shingles are entirely inside the larger's. This is the
    signal symmetric Jaccard structurally misses: a paragraph quoted
    verbatim inside a 100x longer article has Jaccard ~0.01 but
    containment 1.0, and subset-duplication is exactly how boilerplate,
    syndication, and quote-inclusion show up in web corpora (the
    Broder 1997 resemblance/containment pair).

    Same inverted-index join as ``jaccard_pairs`` — 8-byte hashed
    shingle keys, pair generation only for documents sharing a shingle,
    count folded into the join's groupBy — so the scale shape is
    identical; only the final formula differs. Returns
    (doc_a, doc_b, containment, jaccard) with doc_a < doc_b, both
    metrics so consumers can separate subset-dups (high containment,
    low Jaccard) from near-identical pairs (both high).
    """
    common = _shared_shingle_counts(df)
    cont = F.col("n_common").cast("double") / F.least("na", "nb")
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.select(
            "doc_a",
            "doc_b",
            stable_round(cont, 6).alias("containment"),
            stable_round(jac, 6).alias("jaccard"),
        )
        .filter(stable_round(cont, 6) >= threshold)
    )


def prefix_filter_candidates(
    inv: DataFrame, *, t_num: int = 3, t_den: int = 5
) -> DataFrame:
    """Prefix-filter CANDIDATE stage over hashed shingle rows ``inv``
    ((doc_id, hsh)): rank tokens rare-first per doc, keep the
    ``n - ceil(t*n) + 1`` prefix, equi-join prefixes with the length
    filter. Returns (doc_a, doc_b, na, nb) distinct candidates — the
    stage the x1000 scale proof measures in isolation.

    dfreq and sizes are AGGREGATE outputs that scale with the corpus
    (distinct shingles / distinct docs). Catalyst's static estimate for
    them is tiny, so without a hint it plans BroadcastHashJoin and at
    the 100x scale proof died building a 26M-row broadcast ("Not
    enough memory to build and broadcast") — the same
    aggregates-are-unestimable planner class as the r7 q_psi_drift
    CartesianProduct flip, in the opposite direction. merge (sort-
    merge join) is the only strategy whose memory is bounded at any
    scale: shuffle_hash was tried first and its UNSPILLABLE build
    side still died at x100 under 32-way task concurrency ("Can't
    acquire ... to build hash relation").
    """
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = inv.groupBy("hsh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("hsh"))
    ranked = (
        inv.join(dfreq.hint("merge"), "hsh")
        .select("doc_id", "hsh", F.row_number().over(w).alias("pos"))
        .join(sizes.hint("merge"), "doc_id")
    )
    # prefix length n - ceil(t*n) + 1, ceil in exact integer arithmetic
    ceil_tn = F.expr(f"({t_num} * n_sh + {t_den} - 1) div {t_den}")
    pref = ranked.filter(F.col("pos") <= F.col("n_sh") - ceil_tn + 1).select(
        "doc_id", "hsh", "pos", "n_sh"
    )
    # PPJoin POSITIONAL filter (Xiao et al. WWW'08 §4): for a shared
    # prefix token at positions (i, j) under the common total order,
    # overlap <= 1 + min(na - i, nb - j); a pair reaching Jaccard t
    # needs overlap >= alpha = ceil(t/(1+t) * (na+nb)). The bound is
    # maximal at the pair's FIRST shared token (which the prefix-filter
    # theorem guarantees lies inside both prefixes), so keeping a pair
    # if ANY matched row passes is exact — no false negatives. This is
    # the df-skew guard the x1000 proof demanded: when vocabulary
    # growth lags corpus growth (measured: 6.9x vocab per 10x docs,
    # avg df 1.44 -> 2.09), raw prefix-match pairs grow ~df^2
    # superlinearly (71.7x per decade at x1000); the positional bound
    # prunes row-wise BEFORE the pair distinct, restoring near-linear
    # candidate volume without touching the verified result.
    alpha = F.expr(
        f"({t_num} * (na + nb) + {t_num} + {t_den} - 1) div ({t_num} + {t_den})"
    )
    return (
        pref.alias("x")
        .join(
            pref.alias("y"),
            (F.col("x.hsh") == F.col("y.hsh"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            # length filter: J >= t implies t*max(na,nb) <= min(na,nb)
            & (
                F.lit(t_den) * F.least("x.n_sh", "y.n_sh")
                >= F.lit(t_num) * F.greatest("x.n_sh", "y.n_sh")
            ),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.n_sh").alias("na"),
            F.col("y.n_sh").alias("nb"),
            (
                F.lit(1)
                + F.least(
                    F.col("x.n_sh") - F.col("x.pos"), F.col("y.n_sh") - F.col("y.pos")
                )
            ).alias("ubound"),
        )
        .filter(F.col("ubound") >= alpha)
        .drop("ubound")
        .distinct()
    )


def prefix_filter_jaccard_pairs(df: DataFrame, *, t_num: int = 3, t_den: int = 5) -> DataFrame:
    """EXACT Jaccard-threshold similarity join via PREFIX FILTERING
    (SSJoin/PPJoin family: Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08) — the third candidate-generation strategy next to the full
    inverted index (``jaccard_pairs``) and banded MinHash-LSH: exact
    like the former (no false negatives, unlike LSH) but with LSH-like
    candidate volume.

    The filter: order every document's shingle-hash set by GLOBAL
    document frequency ascending (rarest token first, hsh tiebreak) and
    keep only the first ``n - ceil(t*n) + 1`` tokens as the *prefix*.
    Any pair with Jaccard >= t must share at least one prefix token
    under a common total order, so the equi-join runs over prefixes
    only. Rare-first ordering makes prefix tokens low-frequency by
    construction — the join fanout per key is bounded where the full
    inverted index explodes on stopword shingles. Candidates then pass
    the exact length filter (t*max <= min) and an exact integer
    verification: ``t_den*o >= t_num*(na+nb-o)`` — no float boundary.

    Threshold is the rational ``t_num/t_den`` (default 3/5 = 0.6) so
    prefix lengths and the final test stay in BIGINT arithmetic on both
    engines. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    100 TB shape: shingle+hash is the same single-exchange pipeline as
    MinHash; document frequency is one hash aggregate on the 8-byte
    hash key; the prefix join shuffles only prefix rows (a ~(1-t)
    fraction of the inverted index, biased to rare keys); verification
    joins candidate pairs back to the doc-partitioned index. Skew guard
    is inherent — a token appearing in f documents contributes at most
    f^2 candidate pairs only if it survives into prefixes, and frequent
    tokens are ordered OUT of prefixes.
    """
    inv = hashed_shingle_rows(df)
    cand = prefix_filter_candidates(inv, t_num=t_num, t_den=t_den)
    # Verify via carried shingle-hash SETS — the minhash verify shape
    # (array_intersect over two per-doc arrays), doc-count-sized frames
    # instead of rejoining the FULL inverted index (whose 26M rows the
    # x100 static plan tried to broadcast). merge hints for the same
    # unestimable-aggregate reason as above; the sorted frames here are
    # docs, not shingle rows, so the fixture-scale cost is small.
    doc_sets = inv.groupBy("doc_id").agg(F.collect_set("hsh").alias("hs"))
    sa = doc_sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    o = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    common = (
        cand.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .select("doc_a", "doc_b", "na", "nb", o.alias("o"))
    )
    jac = F.col("o").cast("double") / (F.col("na") + F.col("nb") - F.col("o"))
    return common.filter(
        F.lit(t_den) * F.col("o") >= F.lit(t_num) * (F.col("na") + F.col("nb") - F.col("o"))
    ).select("doc_a", "doc_b", stable_round(jac, 6).alias("jaccard"))
