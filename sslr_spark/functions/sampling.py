"""Deterministic dataset splitting and sampling for training-corpus
pipelines.

Every operator here is hash-deterministic — no RNG state, no
``rand()``: the split a document lands in is a pure function of its
key and the seed string. That is the property corpus pipelines
actually need at 100 TB: re-runs, backfills, and incremental appends
must route each document to the SAME split (a rand()-based sample
reshuffles the corpus every run and leaks val into train). Pure JVM
column expressions — codegen'd, no shuffle for the assignment itself —
and portable to the DuckDB oracle via the md5-derived h60 hash
(functions/hashing.py).

Beyond-reference surface (the reference syncs tables; these feed the
training-data use cases mandated for the rebuild).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sslr_spark.functions.hashing import h60

_RESOLUTION = 1_000_000


def split_bucket(key: Column, seed: str = "split") -> Column:
    """Uniform bucket in [0, 1e6) from a key column and a seed string.
    Deterministic across runs/engines; changing the seed re-deals the
    corpus. Null keys coalesce to a sentinel BEFORE hashing — Spark's
    concat_ws silently drops nulls while DuckDB's concat keeps the
    separator, so an un-coalesced null key would bucket differently
    per engine (hashing.key_string's convention)."""
    safe = F.coalesce(key.cast("string"), F.lit("\x00"))
    return F.pmod(
        h60(F.concat_ws(":", F.lit(seed), safe)),
        F.lit(_RESOLUTION),
    )


def split_bucket_sql(key_expr: str, seed: str = "split") -> str:
    """DuckDB spelling of :func:`split_bucket`."""
    from sslr_spark.functions.hashing import h60_sql

    h = h60_sql(
        f"concat('{seed}', ':', coalesce(cast({key_expr} as varchar), chr(0)))"
    )
    return f"{h} % {_RESOLUTION}"


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: str = "split",
) -> DataFrame:
    """Assign every row a split label ('train'/'val'/'test'/...) by
    hash-bucketing the key against cumulative weight thresholds.

    Weights need not sum to 1; they are normalized. Assignment is a
    row-local expression (no shuffle, no action) and stable under
    appends: new documents join their split without disturbing old
    ones — the property rand()-based splits lack."""
    if not weights:
        raise ValueError("hash_split: weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("hash_split: weights must be non-negative")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("hash_split: weights must sum to > 0")
    b = split_bucket(F.col(key_col), seed)
    expr = None
    acc = 0.0
    labels = list(weights.items())
    for name, w in labels[:-1]:
        acc += w / total
        cond = b < int(acc * _RESOLUTION)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: str = "sample"
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by key hash. The
    kept set is a fixed subset: running at 1% then 10% yields nested
    samples (the 1% is contained in the 10%), which is what iterative
    corpus experiments want."""
    return df.filter(
        split_bucket(F.col(key_col), seed) < int(fraction * _RESOLUTION)
    )


def stratified_exact_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fraction: float,
    seed: str = "strat",
) -> DataFrame:
    """EXACT per-stratum sampling: ceil(fraction * stratum_size) rows
    from each stratum, chosen by hash order (deterministic, no RNG).

    Selection rule: the ceil(fraction * n) smallest rows of each
    stratum by (hash bucket, key). Hash-order ties are broken by the
    key itself, so the selection is total and reproducible PROVIDED
    ``key_col`` is unique per row (it is a key); with duplicate key
    values the per-stratum counts stay exact but which physical
    duplicate lands inside the cutoff is partition-order dependent.

    Scale shape (two-phase, no per-stratum sort of raw rows — a naive
    ``row_number`` over ``partitionBy(strata)`` puts an 80%-language
    stratum of a real corpus into ONE task): phase 1 aggregates a
    per-(stratum, bucket) histogram (map-side combined; at most
    n_strata * 1e6 small rows) and derives, per stratum, the boundary
    bucket B* where the cumulative count crosses the take size plus
    how many rows to keep from B*. Phase 2 joins that tiny per-stratum
    bound back (broadcast — n_strata rows), keeps every row below B*
    outright, and sorts ONLY the boundary-bucket rows (expected
    stratum_size / 1e6 rows) with a window. Use :func:`hash_sample`
    when ~fraction is good enough and even the histogram shuffle is
    unaffordable."""
    b = split_bucket(F.col(key_col), seed)
    rows = df.withColumn("__b", b)
    hist = rows.groupBy(strata_col, "__b").agg(F.count(F.lit(1)).alias("__c"))
    wcum = Window.partitionBy(strata_col).orderBy("__b")
    cum = hist.withColumn("__cum", F.sum("__c").over(wcum))
    take = (
        hist.groupBy(strata_col)
        .agg(F.sum("__c").alias("__n"))
        .withColumn(
            "__take",
            F.least(F.ceil(F.col("__n") * F.lit(fraction)), F.col("__n")),
        )
        .withColumnRenamed(strata_col, "__strat_t")
    )
    bound = (
        cum.join(
            take, F.col(strata_col).eqNullSafe(F.col("__strat_t")), "inner"
        )
        .filter(F.col("__cum") >= F.col("__take"))
        .groupBy(strata_col)
        .agg(F.min(F.struct("__b", "__cum", "__c", "__take")).alias("__m"))
        .select(
            F.col(strata_col).alias("__strat"),
            F.col("__m.__b").alias("__bstar"),
            # rows still needed from the boundary bucket itself
            (
                F.col("__m.__take")
                - (F.col("__m.__cum") - F.col("__m.__c"))
            ).alias("__rem"),
        )
    )
    sel = rows.join(
        F.broadcast(bound), F.col(strata_col).eqNullSafe(F.col("__strat"))
    )
    below = sel.filter(F.col("__b") < F.col("__bstar"))
    wb = Window.partitionBy(strata_col).orderBy(F.col(key_col).asc())
    at_boundary = (
        sel.filter(F.col("__b") == F.col("__bstar"))
        .withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") <= F.col("__rem"))
        .drop("__rn")
    )
    return below.unionByName(at_boundary).drop(
        "__b", "__strat", "__bstar", "__rem"
    )


W_MAX = 64  # replication cap: tickets per row = its integer weight


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    by: str | None = None,
    seed: str = "wsample",
) -> DataFrame:
    """Deterministic WEIGHTED bottom-k sample (per stratum with
    ``by``): each row enters a lottery with ``weight`` independent
    hash tickets and its score is the BEST (minimum) ticket; the k
    lowest scores win. P(best ticket < t) = 1 - (1 - t)^w, so heavier
    rows win proportionally more — the classic bottom-k sketch with
    integer-weight replication (Cohen & Kaplan, "Summarizing data
    using bottom-k sketches"), chosen over the exponential-race form
    (Efraimidis-Spirakis u^(1/w)) because it needs NO transcendental
    math: every ticket is the same md5-derived 60-bit integer both
    engines compute bit-identically, where a cross-engine ln() could
    flip near-tied ranks (the correctness gate's no-float rule).

    Weights must be integers in [1, W_MAX] — quality tiers, not raw
    token counts; quantize upstream (heavier fan-out buys nothing
    once ranks separate). Deterministic and append-stable like the
    rest of the family: a re-run or an incremental append re-derives
    the identical winner set for unchanged rows.

    Scale shape: the ticket fan-out is a narrow per-row explode
    bounded by W_MAX; the per-row best ticket is a map-side-combined
    groupBy(key) min; the k-cut is one window over (stratum) ordered
    by (score, key) — one shuffle each. Nothing driver-side."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = F.col(weight_col).cast("long")
    # a NULL key is always a caller bug for a keyed sampler — all
    # null-key rows would share one ticket stream and collapse into
    # a single candidate (silently discarding rows), and Spark/DuckDB
    # disagree on null ordering in the tie-break — so it gets the
    # same raise_error treatment as a bad weight
    safe_key = F.when(
        F.col(key_col).isNotNull(), F.col(key_col).cast("string")
    ).otherwise(
        F.raise_error(
            F.lit(f"weighted_sample: key column {key_col!r} is NULL")
        )
    )
    ticket = h60(
        F.concat_ws(
            ":", F.lit(seed), safe_key, F.col("__ticket").cast("string")
        )
    )
    scored = (
        df.withColumn(
            "__w_ok",
            F.when(
                # the integrality check is as loud as the range check:
                # cast('long') silently TRUNCATES 2.9 -> 2 tickets,
                # a biased sample with no signal — compare the cast
                # back against the source value to reject fractions
                (w >= 1) & (w <= W_MAX)
                & (F.col(weight_col).cast("double") == w.cast("double")),
                w,
            ).otherwise(F.raise_error(
                F.concat(
                    F.lit(
                        f"weighted_sample: weight must be an integer "
                        f"in [1, {W_MAX}], got: "
                    ),
                    F.col(weight_col).cast("string"),
                )
            )),
        )
        .withColumn(
            "__ticket", F.explode(F.sequence(F.lit(0), F.col("__w_ok") - 1))
        )
        .withColumn("__score", ticket)
        .drop("__ticket", "__w_ok")
    )
    group = [by] if by else []
    best = scored.groupBy(*group, key_col, weight_col).agg(
        F.min("__score").alias("best_ticket")
    )
    if not by:
        # global k-cut: orderBy+limit is a parallel TakeOrdered — a
        # partitionBy(lit(1)) window would sort every key's row in
        # ONE task (the WindowExec shape the repo bans elsewhere)
        return best.orderBy(
            F.col("best_ticket").asc(), F.col(key_col).asc()
        ).limit(k)
    wnd = Window.partitionBy(by).orderBy(
        F.col("best_ticket").asc(), F.col(key_col).asc()
    )
    return (
        best.withColumn("__rn", F.row_number().over(wnd))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_sample_sql(
    table: str,
    key_expr: str,
    weight_expr: str,
    k: int,
    by: str | None = None,
    seed: str = "wsample",
) -> str:
    """DuckDB replay of :func:`weighted_sample` (same tickets, same
    ranks, same tie-breaks)."""
    from sslr_spark.functions.hashing import h60_sql

    t = h60_sql(
        f"concat('{seed}', ':', coalesce(cast({key_expr} as varchar), "
        f"chr(0)), ':', cast(i as varchar))"
    )
    part = f"partition by {by} " if by else ""
    by_sel = f"{by}, " if by else ""
    return f"""
with tickets as (
  select {by_sel}{key_expr} as k_, {weight_expr} as w_, {t} as ticket
  from {table}, generate_series(0, {W_MAX - 1}) as g(i)
  where i < {weight_expr}
),
best as (
  select {by_sel}k_, w_, min(ticket) as best_ticket
  from tickets group by {by_sel}k_, w_
),
ranked as (
  select *, row_number() over ({part}order by best_ticket, k_) as rn
  from best
)
select {by_sel}k_, w_, best_ticket from ranked where rn <= {k}
"""


def mix_allocation(
    df: DataFrame,
    strata_cols: list[str],
    weight_col: str,
    budget: int,
    alpha: float = 1.0,
) -> DataFrame:
    """Training-mix budgeting: how many tokens of ``budget`` each
    domain (lang x source x ...) contributes, with temperature-scaled
    weights — ``share_i = w_i^alpha / sum_j w_j^alpha`` where ``w_i``
    is the domain's total weight (token count). ``alpha=1`` samples
    proportionally; ``alpha<1`` upweights small domains (the standard
    multilingual-mix temperature trick); ``alpha=0`` is uniform.

    Scale shape: one map-side-combined aggregate over the corpus, then
    a global window over the AGGREGATED rows only — n_domains rows
    (hundreds, not corpus-sized), so the single-partition normalization
    is bounded by construction. ``share`` is TRUNCATED to 6dp (not
    rounded): truncated shares sum to <= 1, so the floored
    ``allocation`` provably never oversubscribes the budget — a
    half-up rounding could push the share sum to 1.000001 and the
    allocations past the budget by a few tokens. 6dp also keeps the
    value engine-portable for the oracle comparison.
    """
    tot = df.groupBy(*strata_cols).agg(
        F.sum(F.col(weight_col)).alias("domain_weight")
    )
    w = Window.partitionBy()  # n_domains aggregated rows — bounded
    return (
        tot.withColumn(
            "__p", F.pow(F.col("domain_weight").cast("double"), F.lit(alpha))
        )
        .withColumn(
            "share",
            F.floor(F.col("__p") / F.sum("__p").over(w) * F.lit(1e6)) / F.lit(1e6),
        )
        .withColumn(
            "allocation",
            F.floor(F.col("share") * F.lit(float(budget))).cast("long"),
        )
        .drop("__p")
    )


def leakage_safe_split(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    holdout: str = "test",
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    seed: str = "split",
    max_shingle_doc_freq: int | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Hash split with holdout leakage repair: a holdout document whose
    text has a near-dup (shingle Jaccard >= threshold) in any OTHER
    split is reassigned to the split of its BEST-MATCHING partner
    (highest Jaccard, ties to smallest partner key) — evaluating on a
    paraphrase of a training doc silently inflates scores, so the eval
    split must be near-dup-clean against the rest of the corpus, not
    just exact-hash disjoint. Joining the partner's split (rather than
    always 'train') means the repair can never CREATE new cross-split
    leakage: a test doc whose twin lives in val joins val (an
    intra-split dup — harmless) instead of planting a val near-dup
    into train.

    Output: (key_col, split) for every input row; only rows whose
    initial split == ``holdout`` can move. Deterministic (hash split +
    exact verified Jaccard — no RNG, no LSH recall variance).

    Scale shape: the contamination probe is an ASYMMETRIC inverted-
    index join (:func:`~sslr_spark.functions.dedup._asymmetric_jaccard`
    — the shared size/round-6 convention) — holdout-side shingles (the
    small side, a few percent of the corpus) against the rest — never
    all-pairs. Same hot-shingle cap as the pair generators.

    ``labels``: optional (key_col, split) DataFrame to repair INSTEAD
    of the internally-computed hash split — chain calls to repair
    several eval splits in turn::

        s1 = leakage_safe_split(df, weights=w, holdout="test")
        s2 = leakage_safe_split(df, weights=w, holdout="val", labels=s1)

    ``labels`` must be an assignment over the SAME key set as ``df``
    (i.e. a prior pass over this df): rows of df missing from labels
    would silently drop from both the output and the probe. The given
    labels plan is persisted internally for the pass (it feeds three
    joins — uncached, a chained pass would recompute the entire prior
    probe per consumer).

    A single pass per split is a greedy step, not a fixed point: a
    moved doc's partner can itself move in a LATER pass, re-creating
    a cross-split pair (T->val joins V, then V->train leaves T/V
    spanning val/train). Re-run the chain until assignments are
    stable — each re-pass can only move docs toward their partners'
    splits, and the planted-leak tests show one extra pass suffices
    for two-hop chains.
    """
    from sslr_spark.functions.dedup import (
        _asymmetric_jaccard,
        _cap_hot_shingles,
        _entry_release,
        persist,
        shingles,
    )

    if weights is None:
        weights = {"train": 0.9, "test": 0.1}
    if labels is None and holdout not in weights:
        # with labels= the weights dict is unused; validating holdout
        # against it would spuriously reject valid chained calls
        raise ValueError("weights must contain the holdout split")
    if key_col != "doc_id":
        # shingles() keys on doc_id; a second id column would silently
        # cross two key spaces in the joins below
        if "doc_id" in df.columns:
            raise ValueError(
                "key_col != 'doc_id' requires the input to have no "
                "'doc_id' column (shingles key on doc_id internally)"
            )
        df = df.withColumnRenamed(key_col, "doc_id")
        if labels is not None:
            labels = labels.withColumnRenamed(key_col, "doc_id")
    _entry_release()
    if labels is not None:
        # the labels plan (often a whole prior repair pass) feeds the
        # shingle join, the partner lookup and the output join
        labeled = persist(labels.select("doc_id", "split"))
    else:
        labeled = hash_split(df, "doc_id", weights, seed)
    sh = persist(
        _cap_hot_shingles(
            shingles(df, text_col, shingle_n), max_shingle_doc_freq
        ).join(labeled.select("doc_id", "split"), "doc_id")
    )
    sh.count()  # fill: both sides read it; it fills the labels too
    h = sh.filter(F.col("split") == holdout).select(
        F.col("doc_id").alias("key_a"), "shingle"
    )
    r = sh.filter(F.col("split") != holdout).select(
        F.col("doc_id").alias("key_b"), "shingle"
    )
    pairs = _asymmetric_jaccard(h, r).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    # best partner per contaminated holdout doc -> inherit ITS split
    partner_split = labeled.select(
        F.col("doc_id").alias("key_b"), F.col("split").alias("__psplit")
    )
    moved = (
        pairs.join(partner_split, "key_b")
        .groupBy("key_a")
        .agg(
            F.min(
                F.struct(
                    (-F.col("jaccard")).alias("neg_jac"),
                    F.col("key_b").alias("pid"),
                    F.col("__psplit").alias("psplit"),
                )
            ).alias("_best")
        )
        .select(
            F.col("key_a").alias("doc_id"),
            F.col("_best.psplit").alias("__to"),
        )
    )
    out = (
        labeled.select("doc_id", "split")
        .join(moved, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__to"), F.col("split")).alias("split"),
        )
    )
    if key_col != "doc_id":
        out = out.withColumnRenamed("doc_id", key_col)
    return out


def shard_assign(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    seed: str = "shard",
) -> DataFrame:
    """Deterministic training-shard assignment: ``shard = h60(seed:key)
    mod n_shards`` — the export step every pretraining pipeline ends
    with (fixed shard count, stable across re-runs and backfills, no
    RNG). Adds an int ``shard`` column.

    Scale shape: the assignment itself is a narrow projection; the
    subsequent write is ``df.repartition(n_shards, "shard")`` +
    ``sortWithinPartitions(key)`` — ONE hash shuffle keyed on a
    uniform 60-bit hash, so shards stay balanced regardless of key
    skew (sequential doc_ids, hot sources)."""
    return df.withColumn(
        "shard",
        F.pmod(
            h60(
                F.concat_ws(
                    ":",
                    F.lit(seed),
                    F.coalesce(F.col(key_col).cast("string"), F.lit("\x00")),
                )
            ),
            F.lit(n_shards),
        ).cast("int"),
    )


def shard_manifest(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    seed: str = "shard",
    content_cols: list[str] | None = None,
) -> DataFrame:
    """Per-shard export manifest: row count, distinct keys, key range,
    and an order-insensitive content checksum — what a downstream
    trainer (or a re-run) verifies against before trusting a shard set.

    The checksum is the decimal(38,0)-accumulated fold of per-row
    h60 signatures mod 1e12 (same overflow-proof shape as the
    files-roundtrip probe): commutative, so it parallelizes without
    any ordered aggregation, and exact in any engine.

    Exactly ``n_shards`` output rows regardless of corpus size —
    including shards no row hashed into (n_rows = 0, null key range):
    a trainer verifying shard-set completeness against the manifest
    must see the empty shard as an explicit zero row, not infer it
    from absence. The full-cover join is against an ``n_shards``-row
    range — broadcast-trivial next to the map-side-combined aggregate
    that does the real work."""
    from sslr_spark.functions.hashing import key_string

    cols = content_cols if content_cols is not None else [key_col]
    sig = F.pmod(h60(key_string(cols)), F.lit(1_000_000_000_000))
    agg = (
        shard_assign(df, n_shards, key_col, seed)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key_col).alias("n_keys"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
            F.pmod(
                F.sum(sig.cast("decimal(38,0)")),
                F.lit(1_000_000_000_000).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("content_sum"),
        )
    )
    shards = df.sparkSession.range(n_shards).select(
        F.col("id").cast("int").alias("shard")
    )
    return shards.join(agg, "shard", "left").select(
        "shard",
        F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_rows"),
        F.coalesce("n_keys", F.lit(0).cast("long")).alias("n_keys"),
        "min_key",
        "max_key",
        F.coalesce("content_sum", F.lit(0).cast("long")).alias("content_sum"),
    )


def shard_diff(
    old: DataFrame,
    new: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    seed: str = "shard",
    content_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental shard re-export: compare two corpus states' shard
    manifests and report, per shard, whether its content changed — at
    100 TB an export rewrites ONLY the changed shards (hash-stable
    assignment means an appended/edited/deleted doc perturbs exactly
    its own shard, so a small delta touches few of them).

    One manifest aggregate per side (bounded output), a broadcast-
    trivial n_shards-row join. Returns
    (shard, old_rows, new_rows, old_sum, new_sum, changed)."""
    mo = shard_manifest(old, n_shards, key_col, seed, content_cols).select(
        "shard",
        F.col("n_rows").alias("old_rows"),
        F.col("content_sum").alias("old_sum"),
    )
    mn = shard_manifest(new, n_shards, key_col, seed, content_cols).select(
        "shard",
        F.col("n_rows").alias("new_rows"),
        F.col("content_sum").alias("new_sum"),
    )
    return mo.join(mn, "shard").select(
        "shard",
        "old_rows",
        "new_rows",
        "old_sum",
        "new_sum",
        (
            (F.col("old_rows") != F.col("new_rows"))
            | (F.col("old_sum") != F.col("new_sum"))
        ).alias("changed"),
    )


def shuffle_order(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    seed: str = "shuffle",
) -> DataFrame:
    """Deterministic global training order: every row gets a
    ``(shard, pos)`` address — shard by 60-bit hash, position within
    the shard by hash order (ties on the key) — so the corpus reads
    back in a reproducible pseudo-random order with NO RNG state:
    re-runs, resumes from an arbitrary shard, and audits all see the
    same permutation (the property `orderBy(rand())` loses the moment
    a partition is retried).

    Scale shape: one hash shuffle to shards (uniform regardless of
    key skew) + a per-shard window sort — shard sizes are corpus/n,
    so the sort never sees the whole corpus; there is no global sort
    and no single ordered partition. A trainer consumes shards
    independently (or round-robin) and each is internally shuffled.

    Returns (key_col, shard, pos) with pos 0-based within shard.
    """
    order_hash = h60(
        F.concat_ws(
            ":",
            F.lit(seed + ".pos"),
            F.coalesce(F.col(key_col).cast("string"), F.lit("\x00")),
        )
    )
    w = Window.partitionBy("shard").orderBy(order_hash, F.col(key_col))
    return (
        shard_assign(df, n_shards, key_col, seed)
        .select(key_col, "shard", (F.row_number().over(w) - 1).alias("pos"))
    )


def source_cap(
    df: DataFrame,
    group_col: str,
    max_per_group: int,
    key_col: str = "doc_id",
    seed: str = "cap",
) -> DataFrame:
    """Per-group document cap: keep at most ``max_per_group`` rows per
    group, chosen by deterministic hash order — the per-domain /
    per-user cap every crawl pipeline applies so one hot site (or one
    prolific account, for privacy) cannot dominate the corpus.

    Selection order is ``(h60(seed:key), key)`` — the FULL 60-bit
    hash, not the 1e6-bucketed split_bucket form: mod-1e6 collisions
    (near-certain in groups past ~1500 rows) would fall through to
    the ascending-key tie-break, biasing the kept set toward small
    keys and letting a newly appended small-key row displace one it
    does not hash-sort ahead of. With the full hash the kept subset
    is an unbiased sample of the group, stable across re-runs and
    appends (new rows displace only rows they genuinely hash-sort
    ahead of; 60-bit ties are negligible and break on the key).

    Scale shape: one window keyed by the group column. Partitions are
    per-group; a pathological mega-group is exactly the input skew a
    per-group cap exists to remove, and the window sort is bounded by
    that group's size, not the corpus."""
    order_hash = h60(
        F.concat_ws(
            ":",
            F.lit(seed),
            F.coalesce(F.col(key_col).cast("string"), F.lit("\x00")),
        )
    )
    w = Window.partitionBy(group_col).orderBy(order_hash, F.col(key_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_per_group)
        .drop("__rn")
    )


def range_shard_assign(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    sample_mod: int | None = 16,
    target_sample: int = 65_536,
) -> DataFrame:
    """Globally ORDERED export shards: shard i holds a contiguous key
    range and every key in shard i sorts before every key in shard
    i+1 — the layout ordered training-data exports and range-prunable
    lakehouse tables need, where :func:`shard_assign`'s hash sharding
    deliberately destroys locality.

    Boundaries come from a DETERMINISTIC hash sample of the key column
    (``h60(key) % sample_mod == 0`` — no RNG, so reruns and engines
    agree bit-for-bit, unlike Spark's reservoir-sampled
    ``repartitionByRange``): the sample is ranked by key and the
    boundary for shard j is the sample key at rank
    ``ceil(j * m / n_shards)``; a key lands in
    ``shard = #boundaries <= key``. Shard populations are approximate
    (sampling error ~ 1/sqrt(m/n) per shard) — the price of never
    materializing a global sort; a small ``sample_mod`` tightens them.

    Keys must be non-null (raise_error, the family's loud-validation
    convention) and should be numeric or byte-ordered — string keys
    ride engine collation, which this function does not paper over.

    100 TB shape: the ONLY non-narrow work is over the sample
    (corpus/sample_mod keys): one rank window on it (global order — it
    must be BOUNDED, the same contract under which Spark's own
    RangePartitioner collects its sample), then ``n_shards - 1``
    boundary keys collect to the driver and ride the final shard
    expression as literals — a pure codegen comparison sum, zero
    shuffle over the corpus itself. A FIXED ``sample_mod`` keeps the
    sample LINEAR in corpus size — fine at a known scale, a
    single-partition-window scale killer on a corpus 1000× bigger than
    the mod was sized for. Pass ``sample_mod=None`` to derive it from
    one count pass: the smallest power of two keeping the expected
    sample under ``target_sample`` keys — corpus-deterministic (no
    RNG), so reruns still agree, and the window is bounded at ANY
    corpus size.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if sample_mod is None:
        n_rows = df.count()
        sample_mod = 1
        while n_rows // sample_mod > target_sample:
            sample_mod *= 2
    if sample_mod <= 0:
        raise ValueError(f"sample_mod must be positive, got {sample_mod}")
    safe_key = F.when(
        F.col(key_col).isNotNull(), F.col(key_col)
    ).otherwise(
        F.raise_error(
            F.lit(f"range_shard_assign: key column {key_col!r} is NULL")
        )
    )
    if n_shards == 1:
        return df.withColumn(
            "shard", F.when(safe_key.isNotNull(), F.lit(0)).cast("int")
        )
    from pyspark.sql import Window

    sample = df.select(F.col(key_col).alias("__k")).filter(
        F.pmod(h60(F.col(key_col).cast("string")), F.lit(sample_mod)) == 0
    )
    ranked = sample.select(
        "__k",
        F.row_number().over(Window.orderBy("__k")).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__m"),
    )
    ranks = F.expr(
        "transform(sequence(1, {n}), "
        "j -> cast(ceil(j * __m / {d}.0) as int))".format(
            n=n_shards - 1, d=n_shards
        )
    )
    bounds_rows = (
        ranked.filter(F.array_contains(ranks, F.col("__rn")))
        .select("__k")
        .collect()
    )
    bounds = sorted({r[0] for r in bounds_rows})
    # anchor the sum on a zero that still REFERENCES the key, so the
    # null guard fires even when the sample produced no boundaries
    zero = F.when(safe_key.isNotNull(), F.lit(0)).cast("int")
    shard = sum(
        ((safe_key >= F.lit(b)).cast("int") for b in bounds),
        zero,
    )
    return df.withColumn("shard", shard.cast("int"))


def shard_by_budget(
    df: DataFrame,
    budget: int,
    size_col: str = "n_chars",
    key_col: str = "doc_id",
    by: str = "source",
) -> DataFrame:
    """Byte-budget shard packing: within each ``by`` group, walk rows
    in ``key_col`` order and open a new shard whenever the running
    size would cross ``budget`` — the export layout for systems with
    object-size limits (tar shards, upload caps), where
    :func:`shard_assign`'s count-based split gives wildly uneven BYTES
    when document sizes are skewed.

    Greedy next-fit in one pass: shard = (running size BEFORE the row)
    div budget, so a shard overflows by at most one document (the
    standard streaming-packing guarantee — bin-packing optimally is
    NP-hard and needless here; an oversized single document gets a
    shard of its own rather than an error). Deterministic: the walk
    order is (by, key) — no RNG, append-restartable per group.

    Output: input rows + ``shard`` (int, numbered per group from 0).

    100 TB shape: ONE hash exchange on ``by`` and a running-sum frame
    (rowsBetween preceding — bounded, never a whole-partition sort
    buffer beyond the window sort itself). The window is per-group:
    groups must individually be sortable on their executors — the same
    contract as every per-key sessionize/cap operator here; for a
    corpus with one giant group, pre-split with
    :func:`range_shard_assign` and pack within the range slices.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(by)
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(size_col).cast("long")).over(w)
    # integer div, not float: a / then cast truncates the same way on
    # small sums but loses exactness past 2^53 cumulative bytes
    return (
        df.withColumn("__before", cum - F.col(size_col))
        .withColumn(
            "shard", F.expr(f"__before div {int(budget)}").cast("int")
        )
        .drop("__before")
    )


def dsir_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Hashed n-gram feature occurrences for DSIR (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS): word unigrams AND adjacent-word bigrams, each hashed
    into ``n_buckets`` buckets via the portable 60-bit md5 hash
    (hashing.h60 % n_buckets). One output row per feature OCCURRENCE:
    (``id_col``, ``__b``).

    Bigrams join their two words with the \\x1f separator (the
    text.bigram_logprob convention) so "a b" + "c" never collides
    with "a" + "b c". The token array materializes once per doc
    before the index lambda — inlining the split into the element
    accesses would re-split the text per bigram element (the
    shingles() O(tokens^2) pitfall).

    100 TB shape: pure per-row explode — zero shuffle here; every
    consumer aggregates map-side first.
    """
    from sslr_spark.functions.text import words

    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    tok = df.select(
        F.col(id_col),
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("__w"),
    )
    w = F.col("__w")
    bi = F.when(F.size(w) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat_ws(
                "\x1f", w[i.cast("int")], w[(i + 1).cast("int")]
            ),
        )
    )
    return tok.select(
        id_col, F.explode(F.concat(w, bi)).alias("__f")
    ).select(
        id_col, F.pmod(h60(F.col("__f")), F.lit(n_buckets)).alias("__b")
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every raw
    document by how much more likely its hashed n-gram features are
    under the TARGET distribution (the domain you want more of —
    e.g. wiki-quality text) than under the RAW distribution (the
    crawl you are selecting from).

        log w(x) = sum_b c_b(x) * (ln p_tgt[b] - ln p_raw[b])

    with c_b(x) the doc's occurrence count in hash bucket b and both
    distributions Laplace-smoothed: p[b] = (count_b + 1) /
    (total + n_buckets). The per-bucket log-ratio quantizes to
    integer MICROS before the per-doc sum, so the document weight is
    an order-free bigint sum — hash-exact across engines (the bm25
    convention; a float sum over shuffled rows has engine-dependent
    order). The log-ratio table's domain is the raw corpus's own
    buckets — every scored doc's features are raw-corpus features by
    construction, so no doc ever hits a bucket outside it.

    Output: (``id_col``, n_features, logratio_micros) — one row per
    raw doc; zero-token docs score (0, 0).

    100 TB shape: ONE extraction pass over the raw corpus — the
    SCORE pass's per-doc bucket counts — plus one pass over the
    (smaller) target. The FIT histogram sums the score pass's
    (doc, bucket) counts per bucket instead of re-aggregating
    straight off the feature explode: the totals are identical, and
    because both consumers share the (doc, bucket) exchange the plan
    serves the fit from a ReusedExchange — the tokenize + md5 feature
    extraction (the dominant cost) runs once, not twice (r11, guide
    §2.4; previously the fit re-paid the full extraction to save
    shuffling rows an exchange was already materializing anyway).
    Totals ride a single-partition window over the <= n_buckets-row
    joined histogram (bounded by construction — the
    quality_model.Window_all convention), NOT 1-row crossJoins,
    which would re-derive the whole count chain once per total.
    Nothing global ever shuffles by feature string — only by the
    integer bucket. (At crawl scale the fit pass can run on a
    hash-sample of the corpus — the estimator is an aggregate — but
    the exact fit is the verifiable default.)
    """
    feats = dsir_features(df, text_col, id_col, n_buckets)
    docb = feats.groupBy(id_col, "__b").agg(
        F.count(F.lit(1)).alias("__c")
    )
    raw_c = docb.groupBy("__b").agg(F.sum("__c").alias("__cr"))
    tgt_c = (
        dsir_features(target, text_col, id_col, n_buckets)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__ct"))
    )
    b = float(n_buckets)
    ct = F.coalesce(F.col("__ct"), F.lit(0)).cast("double")
    wa = Window.partitionBy()  # bounded: <= n_buckets rows
    lam = (
        raw_c.join(tgt_c, "__b", "left")
        .select(
            "__b",
            F.floor(
                (
                    F.log(ct + F.lit(1.0))
                    - F.log(F.sum(ct).over(wa) + F.lit(b))
                    - F.log(F.col("__cr").cast("double") + F.lit(1.0))
                    + F.log(
                        F.sum(F.col("__cr").cast("double")).over(wa)
                        + F.lit(b)
                    )
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("__lam"),
        )
    )
    scored = (
        docb.join(F.broadcast(lam), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_features"),
            F.sum(F.col("__c") * F.col("__lam")).alias("logratio_micros"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            F.coalesce("logratio_micros", F.lit(0)).alias(
                "logratio_micros"
            ),
        )
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    keep_fraction: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR selection: keep the ``keep_fraction`` of raw docs with the
    highest importance weights (the paper's deterministic top-k
    variant — its Gumbel-resampling variant needs RNG state, which
    every sampler in this module deliberately refuses; ties break on
    ``id_col`` so the cut is total and replayable).

    Output: (``id_col``, n_features, logratio_micros) for kept docs.

    100 TB shape: everything in :func:`dsir_weights`, then ONE
    TakeOrdered global cut (k = floor(fraction * N) — no full sort
    materializes, no Window over the whole corpus).
    """
    if not 0.0 < keep_fraction <= 1.0:
        raise ValueError(
            f"keep_fraction must be in (0, 1], got {keep_fraction}"
        )
    w = dsir_weights(df, target, text_col, id_col, n_buckets)
    n = df.count()  # one metadata-cheap action; bounds the cut
    k = int(keep_fraction * n)
    return w.orderBy(
        F.col("logratio_micros").desc(), F.col(id_col)
    ).limit(k)


def cluster_balance(
    df: DataFrame,
    centroid_ids: list[int],
    cap: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-capped diversity sampling over an embedding column:
    assign every vector to its nearest frozen centroid (spherical
    argmax-cosine, the similarity.assign_cells_fixed literal map —
    zero shuffle, fully oracle-replayable), then keep at most ``cap``
    vectors per cell, most-central first (round(cos, 9) desc, id asc
    — the prototype-selection convention: survivors are each region's
    most representative members, and head-heavy clusters stop
    drowning the tail). The embedding-space twin of source_cap.

    Output: (``id_col``, cell, rk) — rk is the 1-based centrality
    rank within the cell (bigint, row_number cast for engine parity).

    100 TB shape: assignment is a per-row expression over literal
    centroids (bounded by construction); the cap is ONE hash exchange
    on the cell id plus a per-cell window — never a global sort, never
    a pairwise join. Skewed cells cost their own size only.
    """
    from sslr_spark.functions.similarity import (
        assign_cells_fixed,
        fixed_centroid_rows,
    )

    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    rows = fixed_centroid_rows(df, centroid_ids, vec_col, id_col)
    assigned = assign_cells_fixed(df, rows, vec_col, score_col="__sim")
    w = Window.partitionBy("__cell").orderBy(
        F.col("__sim").desc(), F.col(id_col)
    )
    return (
        assigned.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
        .select(id_col, F.col("__cell").alias("cell"), "rk")
    )


def dsir_gate(
    df: DataFrame,
    target: DataFrame,
    keep_fraction: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Action-free DSIR gate for pipeline composition: rank docs by
    MEAN per-feature log-ratio in basis points and keep the top
    ``keep_fraction`` through the shared histogram threshold
    (quality_model.score_bp_quantile_gate, all-ties-kept; single
    global group — domain selection is corpus-level, unlike the
    per-language perplexity gates).

    Deviation from :func:`dsir_select`, on purpose: the paper's
    resampling weight is the SUM over features (the doc
    log-likelihood ratio), which grows with doc length — a gate
    ranking by the sum lets a long mediocre doc outrank a short
    on-target one, and the sum's unbounded micros domain would make
    the threshold histogram corpus-sized. The mean-per-feature bp
    score is length-free and lives in a bounded domain (|ratio| <=
    ln of the smoothed totals), which is what makes the histogram
    threshold legal at 100 TB — no count() action, no global sort.

    Output: (``id_col``, score_bp, threshold_bp) for kept docs.
    """
    from sslr_spark.functions.quality_model import (
        score_bp_quantile_gate,
    )

    w = dsir_weights(df, target, text_col, id_col, n_buckets)
    if id_col != "doc_id":  # the shared gate tail keys on doc_id
        w = w.withColumnRenamed(id_col, "doc_id")
    scored = w.select(
        "doc_id",
        F.lit("__all__").alias("__g"),
        F.when(F.col("n_features") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.col("logratio_micros")
                / (F.col("n_features") * F.lit(100.0))
            )
        )
        .cast("int")
        .alias("score_bp"),
    )
    out = score_bp_quantile_gate(scored, keep_fraction, "__g").select(
        "doc_id", "score_bp", "threshold_bp"
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def epoch_allocation(
    df: DataFrame,
    strata_cols: list[str],
    weight_col: str,
    budget: int,
    max_repeats: float = 4.0,
    alpha: float = 1.0,
) -> DataFrame:
    """Repeat-capped training-mix budgeting — the data-constrained
    regime (Muennighoff et al. 2023, "Scaling Data-Constrained
    Language Models": repeating data beyond ~4 epochs stops paying):
    split ``budget`` tokens across domains proportionally to
    temperature-scaled weights (``avail^alpha``, the mix_allocation
    convention) but never give a domain more than ``max_repeats``
    epochs of its available tokens. The budget a capped domain can't
    absorb flows to the uncapped ones — EXACT continuous
    water-filling, not a fixed number of redistribution rounds:

        allocation_i = min(cap_i, lam * w_i),  cap_i = R * avail_i,
        lam s.t. sum_i allocation_i = min(budget, sum_i cap_i).

    Closed form over the aggregated domain rows: sort by repeat
    pressure p_i = cap_i / w_i ascending — the water level rises past
    domains in exactly this order, so the capped set is always a
    prefix — and take the largest prefix j where p_j <= lam(j) with
    lam(j) = (budget - sum_{i<=j} cap_i) / sum_{i>j} w_i.

    Output: strata..., avail (tokens present once), cap, allocation
    (floored bigint tokens), epochs_bp (allocation / avail in integer
    basis points — 10000 = one epoch). Domains with zero available
    tokens are dropped (nothing to repeat).

    100 TB shape: ONE map-side-combined aggregate collapses the
    corpus to n_domains rows; every window after that runs on the
    bounded aggregate only (the mix_allocation convention). The
    water level is a deterministic expression — no iteration, no
    driver loop, no bisection.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if max_repeats <= 0:
        raise ValueError(
            f"max_repeats must be positive, got {max_repeats}"
        )
    tot = (
        df.groupBy(*strata_cols)
        .agg(F.sum(F.col(weight_col)).alias("avail"))
        .filter(F.col("avail") > 0)
    )
    r = float(max_repeats)
    b = float(budget)
    wa = Window.partitionBy()  # n_domains aggregated rows — bounded
    # cap and the temperature weight quantize to INTEGERS before any
    # multi-row sum: a float sum over an unordered frame accumulates
    # in engine-dependent order, and the water level is a ratio of
    # these sums — bigint sums are order-free, so lam is bit-identical
    # across engines (the bm25/micros convention; weights carry 1e6
    # resolution, plenty for a mix share)
    base = (
        tot.withColumn(
            "cap",
            F.floor(F.col("avail").cast("double") * F.lit(r)).cast(
                "long"
            ),
        )
        .withColumn(
            "__w",
            F.floor(
                F.pow(F.col("avail").cast("double"), F.lit(alpha))
                * F.lit(1e6)
            ).cast("long"),
        )
        .withColumn(
            "__p", F.col("cap").cast("double") / F.col("__w")
        )
    )
    # prefix sums in repeat-pressure order; ties broken on the strata
    # so the prefix is total and engine-exact
    wp = Window.partitionBy(F.lit(1)).orderBy(
        F.col("__p").asc(), *[F.col(c).asc() for c in strata_cols]
    )
    pref = (
        base.withColumn(
            "__cum_cap",
            F.sum("cap").over(
                wp.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "__suf_w",
            F.sum("__w").over(wa) - F.sum("__w").over(
                wp.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        # lam if every domain up to AND INCLUDING this row is capped
        .withColumn(
            "__lam_here",
            F.when(
                F.col("__suf_w") > 0,
                (F.lit(b) - F.col("__cum_cap")) / F.col("__suf_w"),
            ),
        )
        # this row is genuinely capped iff its pressure clears the
        # water level that remains after capping it
        .withColumn(
            "__capped",
            F.col("__lam_here").isNotNull()
            & (F.col("__p") <= F.col("__lam_here")),
        )
    )
    # the final water level: lam after the LAST capped prefix row
    # (budget >= total cap => everything capped, lam unused)
    lam = F.max(
        F.when(F.col("__capped"), F.col("__lam_here"))
    ).over(wa)
    total_cap = F.sum("cap").over(wa)
    alloc = F.when(
        F.lit(b) >= total_cap, F.col("cap").cast("double")
    ).otherwise(
        F.least(
            F.col("cap").cast("double"),
            F.coalesce(
                lam,
                F.lit(b) / F.sum("__w").over(wa).cast("double"),
            )
            * F.col("__w").cast("double"),
        )
    )
    return (
        pref.withColumn(
            "allocation", F.floor(alloc).cast("long")
        )
        .withColumn(
            "epochs_bp",
            F.floor(
                F.col("allocation")
                * F.lit(10_000.0)
                / F.col("avail").cast("double")
            ).cast("long"),
        )
        .select(
            *strata_cols, "avail", "cap", "allocation", "epochs_bp"
        )
    )


def dsir_fit(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> tuple[list[tuple[int, int]], int]:
    """Fit the DSIR log-ratio model on the ACCEPTED corpus and freeze
    it: returns (``[(bucket, lam_micros), ...]`` over the corpus's
    buckets, ``default_lam_micros`` for buckets the corpus never
    produced — the empty-bucket ratio ln(T_raw + B) - ln(T_tgt + B)).
    The model is bounded by ``n_buckets`` (caller-fixed), so the
    collect is bounded by construction — the frozen-centroid /
    codebook convention (similarity.fixed_centroid_rows): fit once on
    the corpus, score every incoming batch with the same literals,
    append-stable by design. Arithmetic is identical to
    :func:`dsir_weights` (Laplace +1, micros floor), evaluated
    driver-side over the collected histogram so fit and per-batch
    scoring cannot drift."""
    import math

    feats = dsir_features(raw, text_col, id_col, n_buckets)
    tfeats = dsir_features(target, text_col, id_col, n_buckets)
    raw_c = {
        r["__b"]: r["c"]
        for r in feats.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # bounded: <= n_buckets rows
    }
    tgt_c = {
        r["__b"]: r["c"]
        for r in tfeats.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # bounded: <= n_buckets rows
    }
    tr, tt, b = (
        float(sum(raw_c.values())),
        float(sum(tgt_c.values())),
        float(n_buckets),
    )

    def lam(ct: int, cr: int) -> int:
        return math.floor(
            (
                math.log(ct + 1.0)
                - math.log(tt + b)
                - math.log(cr + 1.0)
                + math.log(tr + b)
            )
            * 1e6
            + 0.5
        )

    rows = sorted(
        (bk, lam(tgt_c.get(bk, 0), cr)) for bk, cr in raw_c.items()
    )
    return rows, lam(0, 0)


def dsir_score_batch(
    batch: DataFrame,
    lam_rows: list[tuple[int, int]],
    default_lam: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Score a batch against a frozen :func:`dsir_fit` model — the
    incremental twin of :func:`dsir_weights` (batch features only;
    the corpus is never re-read): bucket counts join the broadcast
    literal model, buckets the corpus never produced score
    ``default_lam``. Same output columns as dsir_weights."""
    spark = batch.sparkSession
    lam = spark.createDataFrame(
        list(lam_rows), "__b long, __lam long"
    )
    docb = dsir_features(batch, text_col, id_col, n_buckets).groupBy(
        id_col, "__b"
    ).agg(F.count(F.lit(1)).alias("__c"))
    scored = (
        docb.join(F.broadcast(lam), "__b", "left")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_features"),
            F.sum(
                F.col("__c")
                * F.coalesce(F.col("__lam"), F.lit(int(default_lam)))
            ).alias("logratio_micros"),
        )
    )
    return (
        batch.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            F.coalesce("logratio_micros", F.lit(0)).alias(
                "logratio_micros"
            ),
        )
    )


def dsir_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Convenience composition: fit on (corpus, target), score the
    batch — production callers fit ONCE and reuse the model across
    batches via :func:`dsir_fit` / :func:`dsir_score_batch`."""
    rows, default = dsir_fit(
        corpus, target, text_col, id_col, n_buckets
    )
    return dsir_score_batch(
        batch, rows, default, text_col, id_col, n_buckets
    )


def curriculum_tiers(
    df: DataFrame,
    score_col: str,
    n_tiers: int = 10,
    id_col: str = "doc_id",
    seed: str = "curriculum",
    null_tier: int | None = None,
) -> DataFrame:
    """Curriculum-learning order: assign every row an easy-to-hard
    TIER (0 = lowest ``score_col``) plus a deterministic intra-tier
    shuffle key, so a trainer consuming ``(tier, order_key)`` order
    sees difficulty ramp globally while each tier is internally
    source-mixed (Bengio et al. 2009's staged curriculum, the way
    corpus pipelines actually serve it — tier boundaries exact, order
    within a tier hash-pseudo-random and replayable).

    Tier assignment is HISTOGRAM-exact, not windowed-over-rows: a
    (score, count) aggregate (at most |distinct scores| rows), one
    bounded cumulative window over that histogram, and a broadcast
    join back — the quantile-gate pattern, so no global row window
    ever sees the corpus. Rows sharing a score share a tier
    (tier = n_tiers * cum_count_before(score) div N), which keeps the
    boundary engine-exact under ties at the cost of tiers flexing by
    up to one score-value's multiplicity.

    Rows with a NULL ``score_col`` are EXCLUDED from the output by
    default (an inner join on the score can never match NULL, and a
    null difficulty has no place on an easy-to-hard ramp); pass
    ``null_tier`` to instead route them to that sentinel tier via a
    null-safe join.  Either way NULL rows never count toward the tier
    boundaries.

    Returns df columns + (tier int, order_key bigint). Downstream:
    ``repartitionByRange(tier, order_key)`` + ``sortWithinPartitions``
    writes the curriculum without any single-partition sort.
    """
    hist = (
        df.filter(F.col(score_col).isNotNull())
        .groupBy(F.col(score_col).alias("__s"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.orderBy("__s")  # bounded: one row per DISTINCT score
    tiers = hist.select(
        "__s",
        (
            F.sum("__c").over(w) - F.col("__c")
        ).alias("__cum_before"),
        F.sum("__c").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    ).select(
        "__s",
        F.expr(f"cast(({n_tiers} * __cum_before) div __n as int)").alias(
            "tier"
        ),
    )
    if null_tier is not None:
        sentinel = (
            df.sparkSession.range(1)
            .select(
                F.lit(None).cast(df.schema[score_col].dataType).alias("__s"),
                F.lit(int(null_tier)).cast("int").alias("tier"),
            )
        )
        tiers = tiers.unionByName(sentinel)
        cond = F.col(score_col).eqNullSafe(F.col("__s"))
    else:
        cond = F.col(score_col) == F.col("__s")
    keyed = df.join(F.broadcast(tiers), cond).drop("__s")
    return keyed.withColumn(
        "order_key",
        h60(
            F.concat_ws(
                ":", F.lit(seed), F.col(id_col).cast("string")
            )
        ),
    )


def length_batches(
    df: DataFrame,
    len_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 8,
    batch_size: int = 32,
    n_shards: int = 4,
    seed: str = "lenbatch",
) -> DataFrame:
    """Sequence-length bucketed batching — the trainer-side batcher
    that minimizes padding: rows tier into ``n_buckets`` length
    buckets (histogram-exact boundaries via
    :func:`curriculum_tiers`, so similar lengths batch together),
    then fixed-size batches of ``batch_size`` form inside each
    (bucket, shard) in deterministic hash order. Padding cost per
    batch is ``n_rows * max_len - sum_len`` — the tokens a dense
    rectangular batch wastes; bucketing by length is what keeps that
    number near zero.

    Scale shape: batch numbering needs a sequential order, which
    never scales corpus-wide — so batches form within (bucket,
    shard): the window partitions by both, each partition is
    corpus/(buckets*shards), and batches simply never cross shards
    (the standard trainer sharding contract; shuffle_order makes the
    same trade). Raise ``n_shards`` with the cluster, not the data.

    Rows with a NULL ``len_col`` are excluded (inherited from
    :func:`curriculum_tiers`; a row without a length cannot be packed
    into a rectangular batch).

    Output one row per batch: (tier, shard, batch_id, n_rows,
    max_len, sum_len, pad_waste).
    """
    tiers = curriculum_tiers(
        df, len_col, n_tiers=n_buckets, id_col=id_col, seed=seed
    ).select(
        F.col(id_col),
        F.col(len_col).alias("__len"),
        "tier",
        (F.col("order_key") % n_shards).cast("int").alias("shard"),
        "order_key",
    )
    batched = tiers.withColumn(
        "batch_id",
        F.expr(f"(row_number() over (partition by tier, shard "
               f"order by order_key, {id_col}) - 1) div {batch_size}")
        .cast("int"),
    )
    return (
        batched.groupBy("tier", "shard", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("__len").alias("max_len"),
            F.sum("__len").alias("sum_len"),
        )
        .withColumn(
            "pad_waste",
            (F.col("n_rows") * F.col("max_len") - F.col("sum_len")).cast(
                "long"
            ),
        )
    )
