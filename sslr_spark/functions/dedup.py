"""Deduplication operators for training-data pipelines.

Five dedup families, all beyond the reference surface (driver
contract / SURVEY §7 phase 5):

- exact: content-hash groupBy (one shuffle on a 128-bit hash).
- n-gram Jaccard: word-shingle inverted index -> shingle-equi-join ->
  per-pair intersection counts -> Jaccard. The shingle join is the
  scale path: pairs never materialize unless they share a shingle.
- MinHash + LSH: k hash "permutations" over shingles, banded into
  buckets; candidate pairs are an equi-join on (band, bucket-sig) —
  at 100 TB this is the only pairwise-dedup that avoids quadratic
  blowup; band/row parameters trade recall vs candidate count.
- SimHash: 32-bit weighted-majority fingerprint; near-dups have small
  Hamming distance (bit_count(xor)).
- Embedding cosine: near-dup by vector similarity, blocked to keep
  the pair space bounded.

Everything is built-in expressions (JVM codegen) — no UDFs — and every
formula has an exact DuckDB spelling for oracle parity.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark import SparkContext
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sslr_spark.functions.hashing import h60, h64_fast
from sslr_spark.functions.text import words

# ------------------------------------------------------------------
# cache registry: the only code in sslr_spark that stores a frame
#
# The rule: a frame that two or more consumers read is stored with the
# thread's current CacheOwner and, before any plan reads it through
# two branches, filled by an action that reads it alone (land()'s
# eager job, or the caller's count / aggregate right after the store);
# a frame that one consumer reads is not stored. Unfilled, two
# concurrent stages compute the same partitions ("Block rdd_N_M
# already exists"). Two forms: persist() keeps lineage, so a freed
# block recomputes; land() is a plan-truncating local checkpoint for
# iterative rounds and pipeline stages, and a frame read through it
# fails once freed. A bare .persist() elsewhere would leak across
# queries of a long-lived session; tests/test_cache.py rejects one.
#
# Only the owner that recorded a block frees it. Each thread has a
# base owner (the one release_caches() empties); ``with owner:`` makes
# ``owner`` current for the block, and cache_scope() is such a block
# that frees what it holds on exit. At the base owner each top-level
# operator frees the previous call's caches on entry (_entry_release),
# so a session of sequential calls holds one call's caches at a time;
# inside any other owner, that owner decides.
# ------------------------------------------------------------------

_CACHES = threading.local()  # per-thread: concurrent pipelines never
# evict each other's live caches


class CacheOwner:
    """The persisted frames and landed RDDs one owner made.

    ``with owner:`` makes it the thread's current owner for the block;
    :meth:`release` frees what it holds."""

    def __init__(self) -> None:
        self.dfs: list[DataFrame] = []
        # (SparkContext, id) of the RDDs behind land()ed frames: ids,
        # not handles, so a landing whose frames are all gone is still
        # cleaned up by Spark's ContextCleaner instead of pinned here
        self.rdds: list[tuple[SparkContext, int]] = []

    def __enter__(self) -> CacheOwner:
        _owners().append(self)
        return self

    def __exit__(self, *exc) -> None:
        _owners().pop()

    def release(self, keep: DataFrame | None = None) -> None:
        """Unpersist every cache and landing held here, except the
        landing behind ``keep``. Idempotent. A frame read through a
        released landing can no longer be evaluated (Spark raises
        CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); cached frames just
        recompute."""
        self.release_persisted()
        kept = _landed_rdd(keep) if keep is not None else None
        for rdd in self.rdds:
            if rdd != kept:
                _unpersist_rdd(rdd)
        self.rdds = [rdd for rdd in self.rdds if rdd == kept]

    def release_persisted(self) -> None:
        while self.dfs:
            self.dfs.pop().unpersist()


def _owners() -> list[CacheOwner]:
    if not hasattr(_CACHES, "owners"):
        _CACHES.owners = [CacheOwner()]
    return _CACHES.owners


def persist(df: DataFrame) -> DataFrame:
    """Cache ``df`` (memory, spilling to disk) and record it with the
    current owner. Lazy: the caller fills it (see the rule above)."""
    df = df.persist()
    _owners()[-1].dfs.append(df)
    return df


def _landed_rdd(landed: DataFrame) -> tuple[SparkContext, int]:
    # a local checkpoint plans as one LogicalRDD over the stored RDD
    rid = landed._jdf.queryExecution().analyzed().rdd().id()
    return SparkContext._active_spark_context, rid


def _unpersist_rdd(rdd: tuple[SparkContext, int]) -> None:
    sc, rid = rdd
    if sc is not SparkContext._active_spark_context:
        return  # that context is gone, and its blocks with it
    # the JVM registry holds its RDDs weakly: None once collected
    jrdd = sc._jsc.getPersistentRDDs().get(rid)
    if jrdd is not None:
        jrdd.unpersist(False)


def land(df: DataFrame, eager: bool = True) -> DataFrame:
    """Store ``df`` behind a plan-truncating local checkpoint (memory,
    spilling to disk) and record the stored RDD with the current
    owner. The returned frame plans as a single leaf, so whatever
    builds on it never re-analyzes or re-runs ``df``'s plan.
    ``eager=False`` defers the store to the first action on the
    returned frame, which must read it alone (the rule above).

    Trade-off: there is no lineage behind a landing — a block lost
    with its executor fails the job instead of recomputing, and so
    does any action after the owner released it."""
    landed = df.localCheckpoint(eager=eager)
    _owners()[-1].rdds.append(_landed_rdd(landed))
    return landed


def _unland(landed: DataFrame) -> None:
    """Free one superseded landing of the current owner now."""
    rdd = _landed_rdd(landed)
    owner = _owners()[-1]
    owner.rdds = [r for r in owner.rdds if r != rdd]
    _unpersist_rdd(rdd)


def release_caches() -> None:
    """Free every cache and landing the thread's current owner holds:
    outside any :class:`CacheOwner` block, everything this thread's
    operators stored. Frames read through a landing (the
    :func:`dup_clusters_star` labels, the ``bpe_train`` rules) cannot
    be evaluated after this call; cached frames just recompute."""
    _owners()[-1].release()


@contextlib.contextmanager
def cache_scope():
    """A :class:`CacheOwner` block that frees what it holds on exit,
    for interleaved pipelines and for scoped stores (a CDC change
    slice, a micro-batch)::

        with cache_scope():
            pairs_a = minhash_lsh_pairs(corpus_a)
            pairs_b = ngram_jaccard_pairs(corpus_b)  # no entry-release
            n_a, n_b = pairs_a.count(), pairs_b.count()  # both live
        # both calls' caches released here

    Like any owner block it stops entry-release inside it. On exit it
    frees its own caches and landings — never the enclosing owner's —
    so read a landed result (dup_clusters_star labels) inside it."""
    owner = CacheOwner()
    try:
        with owner:
            yield
    finally:
        owner.release()


def _entry_release() -> None:
    """Called by each top-level operator on entry: at the thread's base
    owner, free the previous call's caches. Inside a CacheOwner block
    (cache_scope included) it does nothing — that owner decides.
    Landings stay: a frame built on one may still be unevaluated."""
    owners = _owners()
    if len(owners) == 1:
        owners[0].release_persisted()


def _cap_hot_shingles(sh: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Drop shingles appearing in >= max_doc_freq documents before any
    inverted-index join. One boilerplate stop-shingle ("terms of
    service…") otherwise fans the join out quadratically — the known
    production failure mode of shingle joins. Dropping ubiquitous
    shingles is standard MinHash practice (they carry ~zero Jaccard
    signal: docs sharing only boilerplate are not near-dups)."""
    return _drop_hot(sh, _hot_shingle_set(sh, max_doc_freq))


def _drop_hot(sh: DataFrame, hot: DataFrame | None) -> DataFrame:
    """``sh`` without the shingles in ``hot`` (None: unchanged)."""
    if hot is None:
        return sh
    # The hot set is usually tiny (a handful of boilerplate shingles)
    # — but a small max_doc_freq or a heavily templated corpus can
    # make it big, and a FORCED broadcast of a big set OOMs the
    # driver. Leave the strategy to AQE: it broadcasts the build side
    # when its runtime size is under the threshold and falls back to a
    # shuffled anti-join when it isn't — exactly the guard, with no
    # extra driver-side count job.
    return sh.join(hot, "shingle", "left_anti")


def _index_shingles(
    df: DataFrame, text_col: str, n: int, max_doc_freq: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """The shingle half of :func:`minhash_index`: ``df``'s (doc_id,
    shingle) index with its own boilerplate set dropped, and that set
    (None when capping is off)."""
    raw = shingles(df, text_col, n)
    hot = _hot_shingle_set(raw, max_doc_freq)
    return _drop_hot(raw, hot), hot


# ------------------------------------------------------------------
# exact
# ------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Group documents by content hash; keeper = min doc_id.
    One hash-shuffle; map-side combine; no pairwise anything."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_fp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
    )


# ------------------------------------------------------------------
# shingles + n-gram Jaccard
# ------------------------------------------------------------------

def _parallel_floor(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism
    when the input arrives in fewer partitions (a small corpus read as
    one or two parquet splits would otherwise tokenize and explode on
    that many cores). No-op at scale — any real corpus scan already
    exceeds the floor; locally it moves the one unavoidable shuffle
    BEFORE the CPU-heavy tokenize instead of after it (r11, guide
    §2.5 input skew / idle capacity)."""
    sc = df.sparkSession.sparkContext
    floor = sc.defaultParallelism
    if df.rdd.getNumPartitions() < floor:
        return df.repartition(floor)
    return df


def _debug_assert_unique_doc_ids(df: DataFrame, where: str) -> None:
    """Opt-in guard for the doc_id-unique contract the r11
    ``array_distinct`` rewrite made load-bearing (VERDICT r11 item 5:
    a caller splitting one document across rows would get silently
    wrong shingle multiplicity). Costs one aggregate job, so it runs
    only under ``$SSLR_DEBUG_CONTRACTS`` — enable in tests/CI, never
    in a timed path."""
    import os

    if not os.environ.get("SSLR_DEBUG_CONTRACTS"):
        return
    dup = (
        df.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .take(1)
    )
    if dup:
        raise AssertionError(
            f"{where}: input violates the doc_id-unique contract "
            f"(doc_id {dup[0]['doc_id']!r} appears {dup[0]['__n']} "
            "times); pre-concatenate rows or distinct the result "
            "yourself (see shingles() docstring)"
        )


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Two projections on purpose: the word array is materialized first
    (its own alias), THEN the transform lambda indexes into it.
    Inlining the tokenizer into the lambda (one ``split`` subtree per
    shingle element) re-tokenizes the document once per shingle —
    O(words^2) per doc; measured 6x slower at sf0.1. Element lookups
    (``w[i]``) instead of ``slice`` skip the per-shingle array copy.

    Distinctness is enforced PER ROW (``array_distinct`` before the
    explode), not with a global ``.distinct()``: duplicate (doc_id,
    shingle) rows can only come from repeats inside one document, so
    the in-row dedup is equivalent — and it deletes a full shuffle of
    the exploded index from every consumer (r11, guide §2.4).
    Contract: ``doc_id`` must be unique per input row (true for every
    corpus frame in the engine); a caller splitting one document
    across rows must pre-concatenate or distinct the result itself.
    """
    _debug_assert_unique_doc_ids(df, "shingles")
    tok = _parallel_floor(df.select("doc_id", F.col(text_col))).select(
        "doc_id", words(F.col(text_col)).alias("__w")
    )
    w = F.col("__w")
    sh = F.when(F.size(w) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(
                " ", *[w[(i + off).cast("int")] for off in range(n)]
            ),
        )
    )
    return tok.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.15,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Inverted-index join: pairs form only where a shingle is shared.
    ``max_shingle_doc_freq`` prunes hot shingles before the join (see
    :func:`_cap_hot_shingles`) — set it in production; the default
    keeps exact oracle parity. With pruning on, both intersections and
    set sizes come from the pruned index, i.e. Jaccard over the
    informative (non-boilerplate) shingle space.
    """
    _entry_release()  # previous pair-generation caches die here
    sh = persist(
        _cap_hot_shingles(shingles(df, text_col, n), max_shingle_doc_freq)
    )
    sh.count()  # fill: the sizes and both join sides read it
    return (
        _pairwise_jaccard(sh, "doc_id")
        .select(
            F.col("key_a").alias("doc_a"),
            F.col("key_b").alias("doc_b"),
            "jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _pairwise_jaccard(
    sets: DataFrame, key_col: str, broadcast_sizes: bool = False
) -> DataFrame:
    """Shared tail of the inverted-index pair generators: per-key set
    sizes + shared-element counts (self-equi-join on ``shingle``) +
    Jaccard rounded to 6 decimals — the one place the rounding/
    tie-handling convention lives, so doc-level and source-level pair
    generators cannot drift apart.

    Input must be DISTINCT (key_col, shingle) rows. Output:
    (key_a, key_b, n_common, jaccard) with key_a < key_b; no threshold
    applied. ``broadcast_sizes`` forces broadcasting the size joins —
    only safe when the key space is small (e.g. sources), never for
    doc-level keys."""
    sizes = sets.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sets.select(F.col(key_col).alias("key_a"), "shingle")
        .join(sets.select(F.col(key_col).alias("key_b"), "shingle"), "shingle")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col(key_col).alias("key_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col(key_col).alias("key_b"), F.col("n_sh").alias("n_b")
    )
    if broadcast_sizes:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(sa, "key_a")
        .join(sb, "key_b")
        .select(
            "key_a", "key_b", "n_common", F.round(jac, 6).alias("jaccard")
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set CONTAINMENT >= threshold, where
    containment = n_common / min(|A|, |B|) — the excerpt/quote
    detector Jaccard structurally misses: a 50-shingle document fully
    embedded in a 5000-shingle one has containment 1.0 but Jaccard
    0.01, so a Jaccard gate at any usable threshold keeps both copies.
    Training-data pipelines run this ALONGSIDE the Jaccard pass
    (RefinedWeb-style dedup treats near-total overlap of the smaller
    side as duplication regardless of length ratio).

    Same inverted-index candidate generation as
    :func:`ngram_jaccard_pairs` — pairs form only where a shingle is
    shared, never all-pairs — with the same ``max_shingle_doc_freq``
    boilerplate cap (set it in production; the default keeps exact
    oracle parity). Output: (doc_a, doc_b, n_common, containment)
    with doc_a < doc_b, containment rounded to 6 like the family's
    jaccard convention.

    100 TB shape: one shingle exchange feeds sizes + both join sides
    (persisted once); the self-equi-join fans out per shared shingle
    (bounded by the cap); size joins are inner on the pair keys. No
    window, no cross join, no driver collection.
    """
    _entry_release()  # previous pair-generation caches die here
    sh = persist(
        _cap_hot_shingles(shingles(df, text_col, n), max_shingle_doc_freq)
    )
    sh.count()  # fill: the sizes and both join sides read it
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(cont, 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def _asymmetric_jaccard(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cross-side sibling of :func:`_pairwise_jaccard` — same size/
    intersection/round-6 convention, but pairs form only BETWEEN the
    two (key, shingle) set DataFrames, never within one: the shape for
    small-side-vs-corpus probes (holdout-vs-rest, batch-vs-accepted)
    where an all-pairs join over the big side would be ruinous.

    ``a``: (key_a, shingle) distinct rows; ``b``: (key_b, shingle)
    distinct rows; key spaces must be disjoint or the caller must not
    care about self-pairs. Output: (key_a, key_b, n_common, jaccard).
    """
    sa = a.groupBy("key_a").agg(F.count(F.lit(1)).alias("n_a"))
    sb = b.groupBy("key_b").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        a.join(b, "shingle")
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(sa, "key_a")
        .join(sb, "key_b")
        .select(
            "key_a", "key_b", "n_common", F.round(jac, 6).alias("jaccard")
        )
    )


def _doc_arrays(sh: DataFrame) -> DataFrame:
    """(doc_id, __arr): each document's distinct (doc_id, shingle)
    rows packed into one array — the per-doc side of
    :func:`_verify_jaccard`."""
    return sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("__arr"))


def _verify_jaccard(
    cand: DataFrame,
    arrs_a: DataFrame,
    arrs_b: DataFrame,
    threshold: float,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Exact Jaccard of candidate pairs — the one verify form of the
    candidate generators (MinHash-LSH in a frame and against a corpus,
    the PPJoin prefix filter). ``cand`` holds (``a``, ``b``) id pairs;
    ``arrs_a`` / ``arrs_b`` hold (doc_id, __arr) with each doc's
    DISTINCT shingles as an array. Returns (``a``, ``b``, jaccard)
    with jaccard = round(|A∩B| / (|A|+|B|-|A∩B|), 6) >= threshold.

    Shape (r11, guide §2.3/§2.4): two equi-joins of the pairs against
    doc-count-sized array tables and an array intersection per pair —
    the exploded (doc, shingle) index is never re-shuffled per verify,
    so the cost is candidates x set size however few pairs banding or
    prefixes left. Over distinct per-doc sets the intersection size
    is the count a shingle-join aggregate would produce."""

    def side(arrs: DataFrame, key: str, arr: str) -> DataFrame:
        return arrs.select(
            F.col("doc_id").alias(key), F.col("__arr").alias(arr)
        )

    ver = cand.join(side(arrs_a, a, "__arr_a"), a).join(
        side(arrs_b, b, "__arr_b"), b
    )
    n_common = F.size(F.array_intersect("__arr_a", "__arr_b"))
    jac = F.col("__nc") / (
        F.size("__arr_a") + F.size("__arr_b") - F.col("__nc")
    )
    return (
        ver.withColumn("__nc", n_common)
        .select(a, b, F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _t_ppm(threshold: float) -> int:
    """Integer ppm threshold with the one-ppm rounding-band slack (see
    :func:`prefix_candidates` — true J >= t - 1e-6 covers everything
    the round-6 verify keeps)."""
    return max(int(round(float(threshold) * 1_000_000)) - 1, 0)


def _prefix_per_doc(sh: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Each doc's canonically-ordered shingle list: (doc_id, __ord)
    with __ord = array_sort(collect_list(struct(__f, shingle))) —
    (document frequency asc, shingle asc), the PPJoin canonical order.

    The hot-shingle cap folds into the frequency aggregate as a
    filter on the joined __f (identical to :func:`_cap_hot_shingles`
    on the result — dropping hot shingles does not change the kept
    shingles' frequencies — minus that helper's separate aggregate
    and anti-join, two shuffles of the full index; r11, guide §2.4).
    The freq JOIN stays a join (not a per-shingle collect_list): a
    boilerplate shingle's doc list is unbounded, and AQE's skew
    handling splits a hot join key where a single collected array
    cannot be split."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__f"))
    # truthiness on purpose, matching _hot_shingle_set: 0 means
    # "cap off" across the whole dedup family (ADVICE r11 item 2 —
    # `is not None` here turned max_shingle_doc_freq=0 into an
    # always-false `__f < 0` filter, silently emptying the result
    # while the minhash siblings treated the same 0 as no cap)
    if max_doc_freq:
        freq = freq.filter(F.col("__f") < max_doc_freq)
    return (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__f", "shingle"))
            ).alias("__ord")
        )
    )


def _prefix_pairs(per_doc: DataFrame, threshold: float) -> DataFrame:
    """Distinct (key_a, key_b) whose canonical PREFIXES collide, plus
    the PPJoin length filter: J >= t implies min(|A|,|B|) >= t *
    max(|A|,|B|), in the same integer-ppm arithmetic (with the same
    one-ppm slack) as the prefix length — lossless for everything the
    round-6 verify keeps, and it prunes candidates BEFORE the verify
    join pays for them (guide §3.2 — reduce the big side first)."""
    t_ppm = _t_ppm(threshold)
    # integer ceil(t_ppm * n / 1e6) = (t_ppm*n + 999999) div 1e6.
    # size() is 32-bit: the product MUST widen to bigint first —
    # t_ppm * int overflows at ~2,700 shingles (a ~2,700-word doc),
    # an ANSI crash / silent negative-wrap that disables all pruning
    prefix = per_doc.select(
        "doc_id",
        F.size("__ord").alias("__n"),
        F.explode(
            F.slice(
                F.col("__ord"),
                1,
                F.greatest(
                    F.lit(0),
                    F.size("__ord")
                    - F.expr(
                        f"({t_ppm} * cast(size(__ord) as bigint)"
                        " + 999999) div 1000000"
                    ).cast("int")
                    + F.lit(1),
                ),
            )
        ).alias("__p"),
    ).select("doc_id", "__n", F.col("__p.shingle").alias("shingle"))
    return (
        prefix.select(
            F.col("doc_id").alias("key_a"), F.col("__n").alias("__na"),
            "shingle",
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("key_b"), F.col("__n").alias("__nb"),
                "shingle",
            ),
            "shingle",
        )
        .filter(F.col("key_a") < F.col("key_b"))
        # length filter: min * 1e6 >= t_ppm * max (bigint arithmetic)
        .filter(
            F.expr("least(__na, __nb) * cast(1000000 as bigint)")
            >= F.expr(f"{t_ppm} * cast(greatest(__na, __nb) as bigint)")
        )
        .select("key_a", "key_b")
        .distinct()
    )


def prefix_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Candidate (key_a, key_b) pairs under PPJoin prefix + length
    filtering over a distinct (doc_id, shingle) index — the pruned
    pair space :func:`ngram_jaccard_pairs_prefix` verifies. Exposed
    separately so the scale probes can measure the candidate-space
    cut directly.

    Canonical order = (document frequency asc, shingle asc); each doc
    indexes only its first ``n - ceil(t*n) + 1`` shingles. The
    ceiling runs in PURE INTEGER arithmetic on a ppm-scaled
    threshold: IEEE ``ceil(t * n)`` OVERSHOOTS for many (t, n) pairs
    (0.55 * 100 = 55.000000000000007 -> ceil 56), which would shorten
    the prefix by one and silently drop true pairs — a lossless-ness
    bug, not a tuning knob. ppm resolution caps threshold precision
    at 1e-6, exactly the round-6 convention the Jaccard values
    themselves use.

    The ceiling uses ``t_ppm - 1``, not ``t_ppm``: the verify stage
    filters on ROUND-6 Jaccard, which admits pairs with true J in
    [t - 5e-7, t) — outside the prefix guarantee at t itself. One
    ppm of slack extends the guarantee to exactly the rounding band
    (true J >= t - 1e-6 covers everything round-6 keeps), so the
    pruned plan stays bit-identical to the plain join at every
    boundary. Cost: prefixes grow by at most one element. The length
    filter (r11) carries the same slack: J >= t - 1e-6 implies
    min(|A|,|B|)/max(|A|,|B|) >= t - 1e-6."""
    return _prefix_pairs(_prefix_per_doc(sh, None), threshold)


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Prefix-filtered variant of :func:`ngram_jaccard_pairs` — the
    PPJoin family's candidate pruning (Xiao et al., WWW'08), LOSSLESS
    for Jaccard >= threshold (equality-tested against the plain
    inverted-index join).

    Principle: order every document's shingles by a global canonical
    order (document frequency ascending, then shingle text — rarest
    first); two sets with Jaccard >= t MUST share an element inside
    each one's first ``|d| - ceil(t*|d|) + 1`` shingles. Candidates
    therefore form only where PREFIXES collide, and only candidates
    pay for exact intersection counting.

    Why it matters at 100 TB: the plain inverted-index join fans out
    quadratically in every shingle's document frequency across the
    WHOLE set; the prefix join fans out only in prefix frequencies —
    at t=0.8 a 300-shingle document indexes 61 shingles instead of
    300, and (because prefixes hold each document's RAREST shingles)
    the per-shingle fan-out is far below average, compounding the
    cut. The verify stage is candidates x set size, not
    all-sharing-pairs x 1. At LOW thresholds the prefix is nearly the
    whole document and this degenerates to the plain join plus
    overhead — use the plain generator (or MinHash-LSH) below ~0.3.

    No global rank table is materialized: the canonical order rides
    directly on the (freq, shingle) sort key inside a per-document
    aggregate — bounded partitions, no unpartitioned window, no
    million-row rank dimension to join.

    Verify: the per-doc ordered list the prefix step already builds
    IS each doc's full shingle set, so its shingle array is the
    per-doc side of :func:`_verify_jaccard`. The PPJoin length filter
    inside :func:`prefix_candidates` prunes candidates before any of
    this runs.
    """
    _entry_release()
    # the one store of the query (the raw shingle index has one
    # consumer, so it is not stored)
    per_doc = persist(
        _prefix_per_doc(shingles(df, text_col, n), max_shingle_doc_freq)
    )
    per_doc.count()  # fill: the prefix self-join and both verify sides
    arrays = per_doc.select("doc_id", F.col("__ord.shingle").alias("__arr"))
    return _verify_jaccard(
        _prefix_pairs(per_doc, threshold), arrays, arrays, threshold,
        "key_a", "key_b",
    ).withColumnsRenamed({"key_a": "doc_a", "key_b": "doc_b"})


# ------------------------------------------------------------------
# winnowing — shared-substring span detection
# ------------------------------------------------------------------

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowed substring fingerprints (Schleimer et al., SIGMOD'03 —
    the MOSS algorithm): hash every k-token gram, then keep only the
    MINIMUM hash of each w-window of consecutive gram hashes.
    Guarantees: any shared token run of length >= k + w - 1 leaves at
    least one IDENTICAL fingerprint in both documents, while storing
    ~2/(w+1) of the grams — the standard scalable stand-in for
    suffix-array exact-substring dedup (Lee et al. 2021), which no
    shuffle-based engine runs at corpus scale.

    Output: distinct (doc_id, fp). Documents shorter than k tokens
    have no fingerprints; documents with fewer than w grams keep the
    single global minimum (every gram is then within one window).

    Scale shape: narrow per-row array lambdas + one explode/distinct
    — the same single-pass profile as :func:`shingles`; downstream
    consumers join on fp exactly like the shingle inverted index.
    Portable md5-derived hashes so the DuckDB oracle replays the
    identical fingerprint values.

    Derived from :func:`winnow_fingerprints_pos` (drop positions,
    re-distinct) so the two variants can never drift on the gram /
    hash / window-min pipeline the winnowing guarantee rests on."""
    return (
        winnow_fingerprints_pos(df, text_col, k, w)
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_fingerprints_pos(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """:func:`winnow_fingerprints` with gram POSITIONS: for each
    w-window the (leftmost) argmin gram's 1-based start index rides
    along, so consumers can excise the covered token span
    (:func:`strip_shared_spans`) instead of just counting exposure.

    Output: distinct (doc_id, fp, pos); ``pos`` is the gram start in
    token coordinates (gram covers tokens [pos, pos + k - 1])."""
    tok = df.select("doc_id", words(F.col(text_col)).alias("__w"))
    wa = F.col("__w")
    grams = F.when(
        F.size(wa) < k, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(wa) - k),
            lambda i: F.concat_ws(
                " ", *[wa[(i + off).cast("int")] for off in range(k)]
            ),
        )
    )
    hs = F.transform(grams, lambda g: h60(g))
    n_h = F.size(hs)
    # per window: (min hash, leftmost position of that min)
    pairs = (
        F.when(n_h == 0, F.array().cast("array<struct<fp:bigint,pos:int>>"))
        .when(
            n_h < w,
            F.array(
                F.struct(
                    F.array_min(hs).alias("fp"),
                    F.array_position(hs, F.array_min(hs))
                    .cast("int")
                    .alias("pos"),
                )
            ),
        )
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), n_h - w + 1),
                lambda i: F.struct(
                    F.array_min(F.slice(hs, i, w)).alias("fp"),
                    (
                        F.array_position(
                            F.slice(hs, i, w),
                            F.array_min(F.slice(hs, i, w)),
                        )
                        + i
                        - 1
                    )
                    .cast("int")
                    .alias("pos"),
                ),
            )
        )
    )
    return (
        tok.select("doc_id", F.explode(pairs).alias("__p"))
        .select("doc_id", F.col("__p.fp").alias("fp"),
                F.col("__p.pos").alias("pos"))
        .distinct()
    )


def strip_shared_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Excise recurring text spans: drop every token covered by a
    winnowed fingerprint occurring in >= ``min_docs`` documents — the
    SPAN-level analog of hot-shingle removal (strips the boilerplate
    segment itself while keeping the document's unique remainder,
    where document-level dedup would either keep the boilerplate or
    drop the whole doc).

    Output: (doc_id, clean_text, n_tokens, n_removed). Determinism:
    token masking is pure integer interval arithmetic over the
    (leftmost-argmin) winnowed positions, and the rebuilt string is a
    plain space join — exact in any engine.

    Scale shape: fingerprint pass -> doc-frequency aggregate (map-side
    combined) -> semi join back -> per-doc position list (bounded by
    the doc's fingerprint count) -> one narrow rebuild projection. No
    pairwise join; cost is linear in corpus tokens.

    Caveat (winnowing granularity): only the sampled window-min grams
    carry positions, so a long shared run is excised at its selected
    fingerprints' spans — ~2k/(w+1) tokens of every shared window —
    not necessarily wall-to-wall; k/w tune coverage vs index size."""
    _entry_release()
    fps = persist(winnow_fingerprints_pos(df, text_col, k, w))
    fps.count()  # fill: the shared-fp aggregate and the join read it
    shared = (
        fps.select("doc_id", "fp").distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("fp")
    )
    doc_pos = (
        fps.join(shared, "fp")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("__spans"))
    )
    tok = df.select(
        "doc_id", words(F.coalesce(F.col(text_col), F.lit(""))).alias("__w")
    )
    wa = F.col("__w")
    spans = F.coalesce(
        F.col("__spans"), F.array().cast("array<int>")
    )
    idx = F.when(
        F.size(wa) == 0, F.array().cast("array<int>")
    ).otherwise(F.sequence(F.lit(1), F.size(wa)))
    keep_idx = F.filter(
        idx,
        lambda t: ~F.exists(
            spans, lambda p: (t >= p) & (t <= p + F.lit(k - 1))
        ),
    )
    out = tok.join(doc_pos, "doc_id", "left").select(
        "doc_id",
        F.when(F.size(wa) == 0, F.lit(0))
        .otherwise(F.size(wa))
        .cast("long")
        .alias("n_tokens"),
        F.concat_ws(
            " ", F.transform(keep_idx, lambda t: F.element_at(wa, t))
        ).alias("clean_text"),
        (F.size(wa) - F.size(keep_idx)).cast("long").alias("n_removed"),
    )
    return out.select("doc_id", "clean_text", "n_tokens", "n_removed")


def incremental_span_exposure(
    batch: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Batch-vs-corpus shared-span exposure — the winnowing member of
    the incremental family (exact: incremental_exact_dedup, near-dup:
    incremental_minhash_dedup): how much of each INCOMING document
    consists of spans already present in the accepted corpus.

    ``corpus_index`` is the persisted corpus fingerprint set (any
    frame with an ``fp`` column — :func:`winnow_fingerprints` output
    or its distinct-fp projection reloaded from parquet), so ingests
    never rescan corpus text: the only per-ingest work is the batch's
    own fingerprint pass plus one batch-side semi join against the
    index. Batch x corpus only — never corpus x corpus.

    Output: (doc_id, n_fps, n_shared, shared_ppm) for batch docs,
    all-integer (same round-half-up ppm convention as
    :func:`shared_span_stats`)."""
    fps = winnow_fingerprints(batch, text_col, k, w)
    idx = corpus_index.select("fp").distinct()
    hits = (
        fps.join(idx, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    per_doc = (
        fps.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fps"))
        .join(hits, "doc_id", "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)))
    )
    ppm = F.expr(
        "(2000000 * n_shared + n_fps) div (2 * n_fps)"
    ).cast("long")
    return (
        batch.select("doc_id")
        .distinct()
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.coalesce(ppm, F.lit(0)).alias("shared_ppm"),
        )
    )


def shared_span_stats(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Per-document shared-substring exposure: how much of each doc's
    winnowed fingerprint set also occurs in ANY other document — the
    corpus-health metric behind span-level dedup decisions (a doc
    that is 60% shared spans is boilerplate/copy-paste even if no
    single partner clears a pairwise Jaccard bar).

    (doc_id, n_fps, n_shared, shared_ppm) — all integers
    (ppm = round-half-up parts-per-million via pure integer
    arithmetic), so the output is hash-exact by construction.

    Scale shape: fingerprint pass + ONE self-semi aggregation — fp
    doc-frequencies (map-side combined), broadcast-free equi-join
    back, per-doc count. No pairwise anything: cost is linear in
    total fingerprints, ~2/(w+1) of the corpus token count."""
    _entry_release()
    fps = persist(winnow_fingerprints(df, text_col, k, w))
    fps.count()  # fill: the frequency aggregate and the join read it
    freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        fps.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum((F.col("__df") >= 2).cast("long")).alias("n_shared"),
        )
    )
    # round-half-up ppm in PURE integer arithmetic (the bloom-key
    # convention: (2*1e6*num + den) div (2*den)) — bit-exact in any
    # engine, no double ever materializes
    ppm = F.expr(
        "(2000000 * n_shared + n_fps) div (2 * n_fps)"
    ).cast("long")
    return (
        df.select("doc_id")
        .distinct()
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.coalesce(ppm, F.lit(0)).alias("shared_ppm"),
        )
    )


# ------------------------------------------------------------------
# MinHash + LSH
# ------------------------------------------------------------------

def minhash_signatures(
    sh: DataFrame, n_hashes: int = 16, hash_mode: str = "portable"
) -> DataFrame:
    """Wide MinHash signatures: (doc_id, mh0..mh{k-1}) — min over
    shingles of k seeded hashes, the classic k-permutation
    approximation.

    All k hashes are computed as per-row expressions and aggregated
    with k element-wise ``min`` aggs — no seed explode, so the shuffle
    carries one row per (doc, shingle) instead of k. All map-side
    combinable; at 100 TB this is k x less shuffle volume.

    ``hash_mode``: 'portable' (md5-derived h60, DuckDB-reproducible —
    the oracle path) or 'fast' (seeded xxhash64 JVM intrinsic — the
    production path; k md5 digests per shingle dominated the pipeline
    cost)."""
    if hash_mode == "fast":
        seeded = [
            h64_fast(F.lit(i), F.col("shingle")).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    else:
        seeded = [
            h60(F.concat_ws(":", F.lit(str(i)), F.col("shingle"))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    hashed = sh.select("doc_id", *seeded)
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(n_hashes)]
    )


def lsh_band_buckets(
    sigs: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 4,
    hash_mode: str = "portable",
) -> DataFrame:
    """(doc_id, band, sig): band signature = hash of the band's minhash
    values joined in seed order (md5 string on the portable path,
    xxhash64 on the fast path). Bands unpivot via a small
    array+explode over the already-aggregated (1 row/doc) signatures —
    negligible."""

    def band_sig(b: int):
        cols = [
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        if hash_mode == "fast":
            return h64_fast(F.lit(b), *cols).cast("string")
        return F.md5(F.concat_ws(",", *[c.cast("string") for c in cols]))

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_sig(b).alias("sig"))
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def _band_keys(
    sh: DataFrame, n_hashes: int, n_bands: int, hash_mode: str
) -> DataFrame:
    """(doc_id, band, sig) band keys of a distinct (doc_id, shingle)
    index — the signing half of :func:`minhash_index`."""
    return lsh_band_buckets(minhash_signatures(sh, n_hashes, hash_mode),
                            n_bands, n_hashes // n_bands, hash_mode)


def lsh_candidates(buckets: DataFrame) -> DataFrame:
    """Raw banded-LSH candidate pairs: the (band, sig) self-join of
    (doc_id, band, sig) band keys — bucket collisions BEFORE any
    Jaccard verification, (doc_a, doc_b) with doc_a < doc_b. Shared
    by :func:`minhash_lsh_pairs` (which verifies them) and
    :func:`minhash_calibration` (which measures them)."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.05,
    hash_mode: str = "portable",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Measure a MinHash-LSH parameterization against exact-Jaccard
    ground truth: one row of counts — true pairs at ``threshold``,
    raw LSH candidates, their intersection, and the derived
    misses/false-candidates. This is how band/row settings are
    CHOSEN: recall (TP/true) says whether the S-curve catches the
    pairs dedup must find; false candidates price the verification
    stage banding is supposed to bound. Run on a sample before
    committing a parameterization to a 100 TB pass.

    Pure counts (bigint) — hash-exact by construction. The ground
    truth is the plain inverted-index generator, so calibration cost
    is quadratic in hot-shingle fan-out like any exact baseline:
    sample-sized inputs, by design."""
    _entry_release()
    sh = persist(
        _cap_hot_shingles(
            shingles(df, text_col, shingle_n), max_shingle_doc_freq
        )
    )
    sh.count()  # fill: the band keys and the truth's three sides read it
    cand = lsh_candidates(_band_keys(sh, n_hashes, n_bands, hash_mode))
    truth = (
        _pairwise_jaccard(sh, "doc_id")
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"))
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    tp = (
        cand.join(truth, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("true_positives"))
    )
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(tp)
        .select(
            "n_true",
            "n_candidates",
            "true_positives",
            (F.col("n_true") - F.col("true_positives")).alias(
                "false_negatives"
            ),
            (F.col("n_candidates") - F.col("true_positives")).alias(
                "false_positives"
            ),
        )
    )


def simhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 8,
    threshold: float = 0.05,
    bits: int = 32,
    shingle_n: int = 3,
    hash_mode: str = "portable",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Measure a SimHash Hamming threshold against exact-Jaccard
    ground truth — the proxy-quality twin of
    :func:`minhash_calibration`: SimHash predicts near-duplication
    from a 32-bit sketch, and this one row of counts says what the
    prediction is worth (recall of the true pairs AND the
    false-positive candidate bill exact verification would pay).
    On short documents the finding is usually sobering — e.g. on the
    sf0.01 corpus hamming<=8 recalls 27/29 true pairs while
    predicting 41k candidate pairs — which is precisely why the
    threshold must be calibrated on a sample before trusting the
    sketch at scale. Ground truth is the exact inverted-index
    generator: sample-sized inputs by design."""
    _entry_release()
    pred = simhash_pairs(
        df, text_col, max_hamming=max_hamming, bits=bits,
        hash_mode=hash_mode,
    ).select("doc_a", "doc_b")
    sh = _cap_hot_shingles(
        shingles(df, text_col, shingle_n), max_shingle_doc_freq
    )
    truth = (
        _pairwise_jaccard(sh, "doc_id")
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"))
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_pred = pred.agg(F.count(F.lit(1)).alias("n_predicted"))
    tp = (
        pred.join(truth, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("true_positives"))
    )
    return (
        n_true.crossJoin(n_pred)
        .crossJoin(tp)
        .select(
            "n_true",
            "n_predicted",
            "true_positives",
            (F.col("n_true") - F.col("true_positives")).alias(
                "false_negatives"
            ),
            (F.col("n_predicted") - F.col("true_positives")).alias(
                "false_positives"
            ),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    jaccard_threshold: float = 0.1,
    hash_mode: str = "portable",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Candidate pairs via banded MinHash-LSH, verified with true
    shingle Jaccard. This is the 100 TB dedup path: candidates come
    from an equi-join on (band, sig) — never a cross join — and the
    expensive exact Jaccard runs only on candidates.

    Production knobs (defaults preserve exact oracle parity):
    ``hash_mode='fast'`` switches the k seeded hashes from md5-derived
    h60 to xxhash64 (identical pair semantics — any k min-stable hash
    family works — at a fraction of the per-shingle cost);
    ``max_shingle_doc_freq`` prunes boilerplate shingles before the
    verification join (:func:`_cap_hot_shingles`)."""
    _entry_release()  # previous pair-generation caches die here
    sh, _ = _index_shingles(df, text_col, shingle_n, max_shingle_doc_freq)
    sh = persist(sh)
    sh.count()  # fill: the band self-join and the candidate prune read it
    return _lsh_pairs(
        sh, _band_keys(sh, n_hashes, n_bands, hash_mode), jaccard_threshold
    )


def _lsh_pairs(
    sh: DataFrame, buckets: DataFrame, threshold: float
) -> DataFrame:
    """Verified in-frame pairs (doc_a, doc_b, jaccard) of a built
    index: ``sh`` (doc_id, shingle) and its ``buckets`` (doc_id, band,
    sig). The core of :func:`minhash_lsh_pairs`, which the streaming
    ingest runs over its landed batch index."""
    cand = persist(lsh_candidates(buckets))
    cand.count()  # fill: the verify join and the candidate-doc set read it
    # verify arrays only for docs that appear in a candidate pair
    # (r11): a semi join prunes the index to candidate docs (the prune
    # set is |candidate docs| rows — AQE broadcasts it when small,
    # shuffled semi when not) before one aggregate packs each such
    # doc's shingles; the full index never reaches the verify joins
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    arrs = _doc_arrays(sh.join(cand_docs, "doc_id", "left_semi"))
    return _verify_jaccard(cand, arrs, arrs, threshold)


# ------------------------------------------------------------------
# SimHash
# ------------------------------------------------------------------

def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 32,
    hash_mode: str = "portable",
) -> DataFrame:
    """32-bit SimHash: per word, a word hash contributes +freq/-freq
    to each bit position; fingerprint sets bits with positive sums.
    ``hash_mode='fast'`` swaps the md5-derived word hash for xxhash64
    (production path; 'portable' is the DuckDB-reproducible oracle
    path).

    One tiny shuffle (r11, guide §2.3/§2.4; previously two). The
    per-bit sum over DISTINCT words weighted by frequency equals the
    plain sum over word OCCURRENCES (each occurrence contributes its
    word's ±1 exactly once), so the (doc, word) frequency aggregate —
    a full exchange of the exploded token strings — is unnecessary:
    hash each occurrence in the scan stage and feed one per-doc
    aggregate of ``bits`` conditional sums. Partial (map-side)
    aggregation collapses every doc to one row per input partition
    before the exchange, so the only shuffle carries ~n_docs rows of
    ``bits`` longs, never tokens. Fingerprints are bit-identical to
    the two-shuffle form (equality-tested)."""
    word_hash = (
        h64_fast(F.col("word")) if hash_mode == "fast" else h60(F.col("word"))
    )
    # no parallelism floor (unlike shingles): the explode feeds one
    # map-side partial aggregate, so there is no fan-out join to
    # starve, and a floor would only add a shuffle
    occ = (
        df.select("doc_id", F.explode(words(F.col(text_col))).alias("word"))
        .select("doc_id", word_hash.alias("h"))
    )
    # one aggregation with `bits` conditional sums — no bit explode and
    # no per-word pre-aggregate; the fingerprint assembles from the agg
    # columns without a further shuffle
    per_bit = occ.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"(((h >> {b}) & 1) * 2 - 1)")).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return per_bit.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame, text_col: str = "text", max_hamming: int = 4, bits: int = 32,
    hash_mode: str = "portable",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — pigeonhole-blocked.

    The 32-bit fingerprint is split into ``max_hamming + 1`` segments;
    any pair within Hamming distance ``max_hamming`` must agree exactly
    on at least one segment, so candidates come from an equi-join on
    (segment_index, segment_value) instead of an all-pairs cross join.
    Exact Hamming verification runs on candidates only. Recall is
    exactly 100% (pigeonhole), so the result equals the naive
    quadratic scan — which is what the DuckDB oracle runs.
    """
    n_seg = max_hamming + 1
    seg_w = (bits + n_seg - 1) // n_seg
    s = simhash(df, text_col, bits, hash_mode)
    segs = s.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_seg - 1))).alias("seg"),
    ).withColumn(
        "seg_val",
        F.expr(f"(simhash >> (seg * {seg_w})) & {(1 << seg_w) - 1}"),
    )
    a, b = segs.alias("a"), segs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    return (
        cand.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------------------
# embedding near-dup
# ------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.9,
    max_block_size: int | None = 100_000,
    mode: str = "portable",
) -> DataFrame:
    """Near-duplicate vectors by cosine similarity, blocked on
    ``block_col`` (a cluster/label/LSH-bucket column) so the pair space
    stays linear-ish. Blocks over ``max_block_size`` are excluded with
    a warning (similarity.guard_oversize_blocks) — one runaway block
    must not turn the scan quadratic silently.

    ``mode`` is the family's portable/fast split:

    - ``'portable'`` — the oracle-parity form: a block-equi self-join
      with JVM array-expression cosine (per-row norms precomputed once
      — the norm must not be re-derived per PAIR). The nested
      higher-order lambdas (aggregate-over-zip_with) run INTERPRETED
      in Spark's expression engine, so the per-pair constant is large;
      right for oracle verification and small blocks.
    - ``'fast'`` — the production form: ``applyInPandas`` per block
      computing the block's cosine matrix with numpy BLAS (row-chunked
      so the similarity buffer stays ~16 MB regardless of block size).
      The round-8 scale probe measured the interpreted join at 122 s
      for 20k vectors / 25M pairs where the BLAS form takes ~2 s —
      same ~60x the Arrow-encoder swap bought the residual PQ encoder
      in round 7. Pair sets agree with 'portable' except exactly at
      the threshold boundary (numpy sums in a different order), which
      is why the oracle path stays on 'portable'.
    """
    from sslr_spark.functions.similarity import (
        dot_expr,
        guard_oversize_blocks,
        norm_expr,
    )

    if mode not in ("portable", "fast"):
        raise ValueError(f"mode must be portable|fast, got {mode!r}")
    _entry_release()
    # the guard, both join sides (or the BLAS pass) and a caller's join
    # back onto ``df`` read it; the guard's size aggregate fills it
    df = persist(df)
    if max_block_size is not None:
        df = guard_oversize_blocks(
            df, block_col, max_block_size, "embedding_near_dup_pairs"
        )
    else:
        df.count()
    if mode == "fast":
        return _near_dup_pairs_numpy(df, vec_col, block_col, threshold)
    # per-row norm ONCE (n evaluations), not per pair (n^2): same
    # IEEE value (same array, same fold order), so round(cos, 6)
    # stays bit-identical to the oracle's spelling. try_divide: a
    # zero norm yields NULL (never passes the threshold) instead of
    # an ANSI DIVIDE_BY_ZERO killing the job
    df = df.withColumn("__nrm", norm_expr(vec_col))
    a, b = df.alias("a"), df.alias("b")
    cos = F.try_divide(
        dot_expr(f"a.{vec_col}", f"b.{vec_col}"),
        F.col("a.__nrm") * F.col("b.__nrm"),
    )
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _near_dup_pairs_numpy(
    df: DataFrame, vec_col: str, block_col: str, threshold: float
) -> DataFrame:
    """Per-block pairwise cosine via numpy BLAS (the 'fast' mode of
    :func:`embedding_near_dup_pairs`): each block arrives as one
    pandas group (bounded by max_block_size upstream), the similarity
    matrix is computed in row chunks sized so the chunk buffer stays
    ~16 MB (similarity.blas_chunk), and only the
    (vec_a < vec_b, sim >= threshold) pairs are emitted. Zero-norm
    vectors never match (similarity.unit_rows_matrix), and NULL block
    keys emit no pairs — both matching the expression join, where
    null never equals null and a null-propagating division never
    passes the threshold."""
    import numpy as np
    import pandas as pd

    from sslr_spark.functions.similarity import blas_chunk, unit_rows_matrix

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            ).astype({"vec_a": "int64", "vec_b": "int64"})
        U = unit_rows_matrix(pdf, vec_col)
        outs = []
        chunk = blas_chunk(n)
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            S = np.round(U[lo:hi] @ U.T, 6)
            ci, cj = np.nonzero(S >= threshold)
            keep = (ci + lo) < cj  # upper triangle only: id_a < id_b
            if keep.any():
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[ci[keep] + lo],
                            "vec_b": ids[cj[keep]],
                            "cos_sim": S[ci[keep], cj[keep]],
                        }
                    )
                )
        if not outs:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            ).astype({"vec_a": "int64", "vec_b": "int64"})
        return pd.concat(outs, ignore_index=True)

    return (
        df.select("vec_id", block_col, vec_col)
        # the equi-join never matches null blocks; groupBy WOULD pool
        # them into one giant pseudo-block — drop them to stay exact
        .filter(F.col(block_col).isNotNull())
        .groupBy(block_col)
        .applyInPandas(per_block, "vec_a long, vec_b long, cos_sim double")
    )


# ------------------------------------------------------------------
# eval-set contamination
# ------------------------------------------------------------------

def contamination_rates(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-corpus-doc n-gram overlap against an eval set — the
    decontamination scan every training pipeline runs before a corpus
    ships (eval examples leaking into train inflate benchmarks).

    (doc_id, n_shingles, n_contaminated, contamination) where
    ``contamination`` is the fraction of the doc's distinct n-gram
    shingles that appear ANYWHERE in the eval set.

    Shape at 100 TB: the eval side is tiny (benchmarks are thousands
    of examples, not billions) — its distinct shingle set broadcasts,
    so the corpus-side cost is one shingle pass + a broadcast semi
    probe + one map-side-combinable count agg. No shuffle of corpus
    text, ever. Left-anti of eval against corpus (the reverse check)
    reuses the same inverted shape.
    """
    _entry_release()  # previous pair-generation caches die here
    c_sh = persist(shingles(corpus, text_col, n))
    c_sh.count()  # fill: the hit probe and the totals read it
    e_sh = shingles(eval_df, text_col, n).select("shingle").distinct()
    hits = c_sh.join(F.broadcast(e_sh), "shingle", "left_semi")
    # totals start from the CORPUS doc list, not the shingle index:
    # a doc shorter than n tokens has zero shingles and must still
    # surface (contamination 0.0) or the per-doc report silently
    # drops rows relative to the corpus
    totals = (
        corpus.select("doc_id")
        .distinct()
        .join(
            c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles")),
            "doc_id",
            "left",
        )
        .na.fill(0, ["n_shingles"])
    )
    contaminated = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        totals.join(contaminated, "doc_id", "left")
        .na.fill(0, ["n_contaminated"])
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(
                F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
                    F.col("n_contaminated").cast("double") / F.col("n_shingles")
                ),
                6,
            ).alias("contamination"),
        )
    )


def dup_ngram_coverage(
    corpus: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-document duplicate n-gram coverage — the corpus-health
    quality signal (the "fraction of duplicated n-grams" family used
    by web-corpus curation pipelines): for each doc, the fraction of
    its DISTINCT word n-grams that also occur in at least one OTHER
    document corpus-wide.

    (doc_id, n_shingles, n_dup, dup_coverage)

    This is the cheap scan you run BEFORE committing to pairwise dedup
    (MinHash/Jaccard): it tells you how duplicated the corpus is and
    which docs are mostly boilerplate, with no pair materialization.

    Scale shape at 100 TB: one shingle pass (explode + per-doc
    distinct), one map-side-combined doc-frequency agg shuffled on the
    shingle, then a semi probe of the index against the df>=2 set —
    deliberately NOT broadcast (boilerplate makes the duplicated-
    shingle set huge at crawl scale); both sides of the semi join come
    out of the same shingle-hash exchange, so the probe is
    co-partitioned. Per-doc totals aggregate map-side. Nothing here is
    ever pairwise.
    """
    _entry_release()  # previous pair-generation caches die here
    c_sh = persist(shingles(corpus, text_col, n))
    c_sh.count()  # fill: doc frequency, the probe and the totals read it
    dup_sh = (
        c_sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("shingle")
    )
    hits = c_sh.join(dup_sh, "shingle", "left_semi")
    # totals start from the corpus doc list (a doc shorter than n
    # tokens has zero shingles and must still surface with 0.0)
    totals = (
        corpus.select("doc_id")
        .distinct()
        .join(
            c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles")),
            "doc_id",
            "left",
        )
        .na.fill(0, ["n_shingles"])
    )
    dups = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup"))
    return (
        totals.join(dups, "doc_id", "left")
        .na.fill(0, ["n_dup"])
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            F.round(
                F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
                    F.col("n_dup").cast("double") / F.col("n_shingles")
                ),
                6,
            ).alias("dup_coverage"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroid_ids: list[int],
    threshold: float = 0.8,
    vec_col: str = "embedding",
    max_block_size: int | None = 100_000,
    mode: str = "portable",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the fixed IVF coarse
    quantizer (similarity.ivf_index_fixed — literal centroids, pure
    per-row argmax, zero shuffle), then inside each cluster mark every
    vector whose cosine similarity to a LOWER-id vector of the same
    cluster reaches ``threshold`` as a semantic duplicate. The lowest
    id in each near-dup neighborhood is the keeper.

    Returns one row per input vector: (vec_id, cell, is_dup).

    Scale shape: SemDeDup's whole point is that clustering bounds the
    pair space — with n_cells sized so clusters hold ~1e3-1e5 vectors,
    the within-cell pair join (embedding_near_dup_pairs, blocked on
    the cell and guarded by ``max_block_size``) is linear-ish in
    corpus size, never all-pairs. Pinned centroids keep the whole
    operator SQL-reproducible for the oracle. ``mode='fast'`` swaps
    the pair join's interpreted expression cosine for per-block numpy
    BLAS (see embedding_near_dup_pairs) — the production path;
    'portable' is the oracle-parity default."""
    from sslr_spark.functions.similarity import ivf_index_fixed

    indexed, _ = ivf_index_fixed(df, centroid_ids, vec_col=vec_col)
    pairs = embedding_near_dup_pairs(
        indexed,
        vec_col=vec_col,
        block_col="__cell",
        threshold=threshold,
        max_block_size=max_block_size,
        mode=mode,
    )
    dup_ids = (
        pairs.select(F.col("vec_b").alias("vec_id")).distinct()
        .withColumn("__d", F.lit(True))
    )
    return (
        indexed.join(dup_ids, "vec_id", "left")
        .select(
            "vec_id",
            F.col("__cell").alias("cell"),
            F.coalesce(F.col("__d"), F.lit(False)).alias("is_dup"),
        )
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    centroid_ids: list[int],
    threshold: float = 0.8,
    vec_col: str = "embedding",
    max_cell_size: int | None = 100_000,
    mode: str = "portable",
) -> DataFrame:
    """Flag batch vectors that are SEMANTIC near-dups of the corpus —
    the embedding-side member of the incremental family
    (incremental_exact_dedup / incremental_minhash_dedup /
    incremental span dedup cover text): dedup the NEW batch against
    everything already accepted, without re-running corpus-wide
    SemDeDup.

    The quantizer is FROZEN ON THE CORPUS (fixed_centroid_rows from
    the corpus frame) and assigns both sides with the same literal
    centroids — append-stable cells, so a batch vector lands in the
    cell its corpus neighbors were indexed under. The comparison is
    batch x corpus WITHIN CELL only (never corpus x corpus, never
    cross-cell): cost is |batch_cell| * |corpus_cell| per cell,
    linear in the batch for bounded cells. Corpus cells over
    ``max_cell_size`` are excluded with a warning (same guard as the
    full-corpus operator).

    Returns one row per batch vector: (vec_id, cell, in_corpus).

    ``mode='fast'`` computes each cell's batch-vs-corpus cosine block
    with numpy BLAS via cogrouped applyInPandas — the production
    path; 'portable' is the oracle-parity expression join."""
    from sslr_spark.functions.similarity import (
        assign_cells_fixed,
        dot_expr,
        fixed_centroid_rows,
        guard_oversize_blocks,
        norm_expr,
    )

    if mode not in ("portable", "fast"):
        raise ValueError(f"mode must be portable|fast, got {mode!r}")
    _entry_release()  # previous pair-generation caches die here
    rows = fixed_centroid_rows(corpus, centroid_ids, vec_col)
    b_idx = assign_cells_fixed(batch, rows, vec_col).select(
        "vec_id", F.col("__cell").alias("cell"), vec_col
    )
    c_idx = assign_cells_fixed(corpus, rows, vec_col).select(
        "vec_id", F.col("__cell").alias("cell"), vec_col
    )
    if max_cell_size is not None:
        # the guard's size aggregate reads the cache alone and fills it
        # before the cell join, its second consumer
        c_idx = guard_oversize_blocks(
            persist(c_idx), "cell", max_cell_size,
            "incremental_semantic_dedup",
        )
    if mode == "fast":
        hits = _batch_corpus_hits_numpy(b_idx, c_idx, vec_col, threshold)
    else:
        bn = b_idx.withColumn("__nrm", norm_expr(vec_col)).alias("b")
        cn = c_idx.withColumn("__nrm", norm_expr(vec_col)).alias("c")
        cos = F.try_divide(
            dot_expr(f"b.{vec_col}", f"c.{vec_col}"),
            F.col("b.__nrm") * F.col("c.__nrm"),
        )
        hits = (
            bn.join(cn, F.col("b.cell") == F.col("c.cell"))
            .filter(F.col("b.vec_id") != F.col("c.vec_id"))
            .filter(F.round(cos, 6) >= threshold)
            .select(F.col("b.vec_id").alias("vec_id"))
            .distinct()
        )
    return (
        b_idx.join(hits.withColumn("__d", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("__d"), F.lit(False)).alias("in_corpus"),
        )
    )


def _batch_corpus_hits_numpy(
    b_idx: DataFrame, c_idx: DataFrame, vec_col: str, threshold: float
) -> DataFrame:
    """Per-cell batch-vs-corpus cosine via cogrouped applyInPandas +
    numpy BLAS (the 'fast' mode of incremental_semantic_dedup):
    emits the distinct batch vec_ids with a corpus neighbor at or
    above the threshold. Row-chunked like the other BLAS kernels."""
    import numpy as np
    import pandas as pd

    from sslr_spark.functions.similarity import blas_chunk, unit_rows_matrix

    def per_cell(bdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": []}).astype({"vec_id": "int64"})
        if bdf.empty or cdf.empty:
            return empty
        B = unit_rows_matrix(bdf, vec_col)
        C = unit_rows_matrix(cdf, vec_col)
        b_ids = bdf["vec_id"].to_numpy()
        c_ids = cdf["vec_id"].to_numpy()
        chunk = blas_chunk(len(c_ids))
        hit = np.zeros(len(b_ids), dtype=bool)
        for lo in range(0, len(b_ids), chunk):
            hi = min(len(b_ids), lo + chunk)
            S = np.round(B[lo:hi] @ C.T, 6)
            S[np.isnan(S)] = -np.inf
            # a batch vector present in the corpus must not match
            # ITSELF (same vec_id) — mask the identity pairs
            same = b_ids[lo:hi, None] == c_ids[None, :]
            S[same] = -np.inf
            hit[lo:hi] = (S >= threshold).any(axis=1)
        return pd.DataFrame({"vec_id": b_ids[hit]})

    return (
        b_idx.groupBy("cell")
        .cogroup(c_idx.groupBy("cell"))
        .applyInPandas(per_cell, "vec_id long")
    )


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    m: int = 1 << 20,
    k: int = 3,
    seed: str = "corpus",
    bits: DataFrame | None = None,
) -> DataFrame:
    """Flag batch documents whose exact content already exists in the
    corpus — the per-ingest dedup every growing corpus runs (dedup the
    NEW crawl against everything already accepted, without re-running
    corpus-wide dedup).

    Returns the batch with an ``in_corpus`` boolean appended. The
    result is EXACT: the Bloom filter only PRUNES (no false negatives,
    so bloom-negative rows are definitively new and skip the join;
    bloom-positive candidates are verified with an exact hash join, so
    false positives never leak into the output).

    Scale shape at 100 TB: the corpus is scanned for content hashes
    once to build the m-bounded bit table (``bits`` — pass a persisted
    one to amortize across batches; filters for successive ingests
    union cheaply since the bit table is just a position set), then
    once more column-pruned for the verify scan, where the candidate
    hash set (tiny: bloom survivors of a small batch) is broadcast —
    the corpus itself is never shuffled and never broadcast. Batch
    rows ruled out by the bloom pay zero join cost.
    """
    from sslr_spark.functions.membership import bloom_build, bloom_probe

    content = F.md5(F.col(text_col))
    corpus_h = corpus.select(content.alias("__h"))
    if bits is None:
        bits = bloom_build(corpus_h, "__h", m, k, seed)
    probed = bloom_probe(
        batch.withColumn("__h", content), bits, "__h", m, k, seed
    )
    cand = probed.filter(F.col("bloom_member")).select("__h").distinct()
    confirmed = (
        corpus_h.join(F.broadcast(cand), "__h", "left_semi")
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        probed.join(confirmed, "__h", "left")
        .withColumn("in_corpus", F.coalesce(F.col("__dup"), F.lit(False)))
        .drop("__h", "__dup", "bloom_member")
    )


def _hot_shingle_set(sh: DataFrame, max_doc_freq: int | None) -> DataFrame | None:
    """The boilerplate shingle set (doc-frequency >= cap), or None
    when capping is off — shared by corpus AND batch sides so both
    measure Jaccard over the same informative shingle space."""
    if not max_doc_freq:
        return None
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= max_doc_freq)
        .select("shingle")
    )


def minhash_index(
    corpus: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    hash_mode: str = "portable",
    max_shingle_doc_freq: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """The corpus-side MinHash artifacts incremental dedup reuses
    across ingests: ``(shingles, band_buckets, hot_shingles)``
    DataFrames (``hot_shingles`` is None when capping is off — persist
    it too, so ingest batches are capped against the SAME boilerplate
    set the corpus was). Write them to parquet once per corpus version
    and hand them to :func:`incremental_minhash_dedup` via
    ``corpus_index`` — each ingest then costs only the (tiny)
    batch-side work plus the candidate joins; the corpus is not
    rescanned at all. Appending a new accepted slice = union the new
    slice's index rows (the artifacts are row-per-(doc, shingle|band),
    so incremental index maintenance is a plain append)."""
    sh, hot = _index_shingles(
        corpus, text_col, shingle_n, max_shingle_doc_freq
    )
    return sh, _band_keys(sh, n_hashes, n_bands, hash_mode), hot


def _corpus_matches(
    b_sh: DataFrame,
    b_buckets: DataFrame,
    c_sh: DataFrame,
    c_buckets: DataFrame,
    threshold: float,
) -> DataFrame:
    """Verified (batch_id, corpus_id, jaccard) pairs between a batch
    index and a corpus index, each a (doc_id, shingle) frame plus its
    (doc_id, band, sig) band keys. The core of
    :func:`incremental_minhash_dedup`, which the streaming ingest runs
    over its landed batch index."""
    cand = persist(
        b_buckets.alias("b")
        .join(
            c_buckets.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.sig") == F.col("c.sig")),
        )
        .select(
            F.col("b.doc_id").alias("batch_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    # fill: the verify join and the corpus prune read it; each side's
    # band keys read its shingle cache alone, so this fills those too
    cand.count()
    # prune the CORPUS shingle index to candidate docs before its
    # verify arrays are built — the batch is tiny, so the LSH-bounded
    # candidate set is too, while c_sh is the whole accepted corpus;
    # without the prune every ingest aggregates the full corpus index.
    # AQE picks broadcast vs shuffled semi join.
    cands = cand.select(F.col("corpus_id").alias("doc_id")).distinct()
    return _verify_jaccard(
        cand,
        _doc_arrays(b_sh),
        _doc_arrays(c_sh.join(cands, "doc_id", "left_semi")),
        threshold,
        "batch_id",
        "corpus_id",
    )


def incremental_minhash_dedup(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    shingle_n: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    jaccard_threshold: float = 0.1,
    hash_mode: str = "portable",
    max_shingle_doc_freq: int | None = None,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Near-duplicate flag for each batch document against the
    accepted corpus — the MinHash sibling of
    :func:`incremental_exact_dedup` (exact content match misses
    rewrites; this catches "same doc, edited a bit" across crawls).

    One row per batch doc: (doc_id, near_dup, match_id, jaccard) —
    ``match_id``/``jaccard`` are the corpus doc with the highest
    verified shingle Jaccard >= threshold (null when clean). A batch
    doc whose content also sits in the corpus matches itself at 1.0.

    Scale shape at 100 TB: corpus-side work (shingle index, MinHash
    signatures, band buckets) is ONE pass over the corpus and is the
    part a real pipeline persists across ingests; candidates come from
    a batch-bands-vs-corpus-bands equi-join — the batch side is tiny,
    so the join broadcasts it and the corpus is never shuffled against
    itself (no corpus x corpus pair space, unlike full
    :func:`minhash_lsh_pairs`). Exact-Jaccard verification touches
    only candidate pairs' shingles. ``max_shingle_doc_freq`` derives
    the boilerplate shingle set from the CORPUS and drops it from BOTH
    sides — capping only the corpus would deflate nb-side Jaccard and
    silently miss near-dups whose shared content is partly boilerplate.

    Pass ``corpus_index`` (from :func:`minhash_index`, typically
    reloaded from parquet — a 3-tuple including the hot-shingle set)
    to skip the corpus scan entirely — ``corpus`` may then be None;
    the ingest pays only batch-side hashing plus the candidate
    joins."""
    _entry_release()  # previous pair-generation caches die here
    if corpus_index is not None:
        # a 2-tuple is an index built with capping off (no hot set),
        # e.g. the streaming ingest's stored shingle and bucket tables
        c_sh, c_buckets, *hot = corpus_index
        hot = hot[0] if hot else None
    elif corpus is not None:
        c_sh, c_buckets, hot = minhash_index(
            corpus, text_col, shingle_n, n_hashes, n_bands, hash_mode,
            max_shingle_doc_freq,
        )
        # signatures and the verify prune both read it; the cache
        # serves c_buckets too (lookup is by plan, at execution)
        c_sh = persist(c_sh)
    else:
        raise ValueError("pass either corpus or corpus_index")
    # the band keys and the verify arrays read it; _corpus_matches'
    # candidate count fills both shingle caches
    b_sh = persist(_drop_hot(shingles(batch, text_col, shingle_n), hot))
    scored = _corpus_matches(
        b_sh, _band_keys(b_sh, n_hashes, n_bands, hash_mode),
        c_sh, c_buckets, jaccard_threshold,
    )
    # best match per batch doc; candidate sets are LSH-bounded, so the
    # window partitions hold a handful of rows each
    w = Window.partitionBy("batch_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_id")
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("batch_id", "corpus_id", "jaccard")
    )
    return (
        batch.select("doc_id")
        .distinct()
        .join(best, F.col("doc_id") == F.col("batch_id"), "left")
        .select(
            "doc_id",
            F.col("corpus_id").isNotNull().alias("near_dup"),
            F.col("corpus_id").alias("match_id"),
            "jaccard",
        )
    )


def dup_clusters_star(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_rounds: int = 40,
) -> DataFrame:
    """Connected components by alternating large-star / small-star —
    O(log n) rounds regardless of component diameter (the published
    MapReduce CC recurrence; min-label propagation needs O(diameter)
    joins, which a 10k-long near-dup chain turns into 10k shuffles).

    Returns (doc_id, cluster_id) with cluster_id = the component's
    smallest doc_id — the canonical keeper, so dedup-apply is
    ``filter(doc_id == cluster_id)``.

    Each round:
    - large-star: every node u links its LARGER neighbors to the
      minimum of its closed neighborhood;
    - small-star: every node u links its smaller-or-equal neighbors
      (and itself) to that minimum.
    The edge set monotonically contracts to stars centered at
    component minima; convergence is detected by the edge multiset
    hash going stable. A lazily-stored landing (:func:`land`) per round
    keeps the plan flat while the signature aggregate doubles as the
    materializing action — ONE job per round. The symmetrized input is
    landed eagerly instead: round 0 reads it through two branches (the
    neighborhood minima and their join back), which must not both fill
    it. Each round frees the one it superseded; the symmetrized input
    and the final round stay registered (the labels read both) until
    the owner releases them.

    Round shape (r11 optimization, guide §2.4 — remove shuffles and
    jobs outright; round results equality-tested against the prior
    form):
    - the per-phase ``.distinct()`` and the between-phase
      symmetrize-``distinct`` are gone: duplicate edges cannot change
      a per-node MIN, the phase joins fan out only on exact ``src``
      matches, and the single end-of-round distinct canonicalizes the
      checkpointed set — three shuffles per round instead of six;
    - round checkpoints are marked LAZY and the signature aggregate
      is the materializing action — one job per round instead of two;
    - a direct star test short-circuits the final detection round:
      when every child has exactly one parent (row count ==
      distinct-src count, free in the signature aggregate) and no
      parent is itself a child (one tiny semi-join probe on the
      checkpointed set), the edges already ARE the fixpoint stars —
      running another large+small round would reproduce them exactly,
      so the loop exits without paying it.

    Every round state is a set of edge ROWS, so no node's neighbor
    set is ever collected into one row — components of any size
    survive. Labels come from a left join of the distinct input nodes
    onto the final stars, so a node whose only edge is a self-loop
    keeps its own label.
    """

    def swap(e: DataFrame) -> DataFrame:
        return e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

    def und(e: DataFrame) -> DataFrame:
        # undirected view WITHOUT a distinct: consumers below are
        # min-aggregations and equi-joins whose final distinct
        # canonicalizes — duplicates are harmless in between
        return e.unionByName(swap(e))

    def mins_of(e: DataFrame) -> DataFrame:
        # closed-neighborhood minimum per node
        return (
            e.groupBy("src")
            .agg(F.min("dst").alias("nmin"))
            .select("src", F.least(F.col("src"), F.col("nmin")).alias("m"))
        )

    def sig(e: DataFrame):
        # bit_xor: commutative AND overflow-free (ANSI mode errors on
        # summing 64-bit hashes). n_src rides along for the star test.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
            F.countDistinct("src").alias("n_src"),
        ).first()
        return (row["n"], row["h"]), row["n_src"]

    edges_sym = land(
        und(pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
        .distinct()
    )
    nodes = edges_sym.select("src").distinct()

    prev = None
    edges = edges_sym
    cur_und = edges_sym  # initial set enters already symmetric
    for _ in range(max_rounds):
        m1 = mins_of(cur_und)
        large = (
            cur_und.join(m1, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        u2 = und(large)
        m2 = mins_of(u2)
        small = (
            u2.join(m2, "src")
            .filter(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(m2.select("src", F.col("m").alias("dst")))
        )
        landed = land(
            small.filter(F.col("src") != F.col("dst")).distinct(),
            eager=False,
        )
        cur, n_src = sig(landed)
        if edges is not edges_sym:
            _unland(edges)  # superseded, and the new round is stored
        edges = landed
        if cur == prev:
            break
        if cur[0] == n_src:
            # every child points at exactly one parent; if additionally
            # no parent appears as a child, the edges are disjoint
            # stars centered at their components' minima (small-star
            # always emits dst = a closed-neighborhood min < src) —
            # the fixpoint, exit without a detection round
            overlap = (
                edges.select(F.col("dst").alias("src"))
                .join(edges, "src", "left_semi")
                .take(1)
            )
            if not overlap:
                break
        prev = cur
        cur_und = und(edges)
    else:
        import warnings

        warnings.warn(
            f"dup_clusters_star did not stabilize in {max_rounds} rounds",
            RuntimeWarning,
            stacklevel=2,
        )

    # edges now form stars: src -> component min. Nodes that ended up
    # as centers map to themselves.
    labels = (
        nodes.join(
            edges.groupBy("src").agg(F.min("dst").alias("m")), "src", "left"
        )
        .select(
            F.col("src").alias("doc_id"),
            F.coalesce(F.col("m"), F.col("src")).alias("cluster_id"),
        )
    )
    return labels


# ------------------------------------------------------------------
# canonical selection
# ------------------------------------------------------------------

def cluster_keep_best(
    clusters: DataFrame,
    docs: DataFrame,
    score,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: one keeper per near-dup
    cluster, chosen by a quality score instead of the min-id default
    the cluster label itself encodes (curation pipelines keep the
    *best* member of a duplicate cluster — longest, highest quality
    score, most trusted source — not the numerically smallest id).

    ``clusters``: (id_col, cluster_id) as produced by
    :func:`dup_clusters_star`.
    ``score``: a Column over ``docs`` columns; the keeper is the
    member with the LARGEST score, ties broken by smallest id (fully
    deterministic).

    Scale shape: one inner join on ``id_col`` (cluster membership is
    a tiny fraction of the corpus — AQE broadcasts the cluster side
    once runtime stats are known), then ONE shuffle for a two-level
    min-of-struct aggregation (Spark plans struct-min as partial +
    final SortAggregate — still map-side combinable). No window —
    nothing sorts a whole cluster in a single task, so a pathological
    million-member boilerplate cluster costs a combiner-friendly
    reduction, not a one-task sort.
    """
    scored = clusters.join(docs, id_col)
    best = (
        scored.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(
                F.struct(
                    # null scores must lose, but a null field sorts
                    # FIRST in ascending struct comparison — lead with
                    # an is-null flag so they sort last instead
                    score.isNull().cast("int").alias("null_flag"),
                    (-score).alias("neg_score"),
                    F.col(id_col).alias("id"),
                )
            ).alias("_best"),
        )
        .select(
            "cluster_id",
            "n_members",
            F.col("_best.id").alias("keep_id"),
        )
    )
    return best


# ------------------------------------------------------------------
# cross-source overlap
# ------------------------------------------------------------------

def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Cross-source duplication matrix: shingle-set Jaccard between
    every pair of sources — the corpus-health scan that answers "which
    feeds are re-crawls of each other" before any doc-level dedup runs.

    Output: (src_a, src_b, n_common, jaccard), src_a < src_b.

    Scale shape: the self-join fans out per shingle by the number of
    SOURCES containing it — bounded by n_sources² per shingle (a few
    hundred for realistic feed counts), never by document count, so
    the op stays linear in corpus size. ``max_shingle_doc_freq``
    additionally drops boilerplate shingles before the join (same
    guard as the doc-level pair generators). Group sizes broadcast
    (n_sources rows).
    """
    _entry_release()
    sh = shingles(df, text_col, n)
    sh = _cap_hot_shingles(sh, max_shingle_doc_freq)
    gsh = persist(
        sh.join(df.select("doc_id", group_col), "doc_id")
        .select(F.col(group_col).alias("src"), "shingle")
        .distinct()
    )
    gsh.count()  # fill: the sizes and both join sides read it
    return _pairwise_jaccard(gsh, "src", broadcast_sizes=True).select(
        F.col("key_a").alias("src_a"),
        F.col("key_b").alias("src_b"),
        "n_common",
        "jaccard",
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Content-level diff between two corpus snapshots: one row per
    key with status 'added' (key only in new), 'removed' (only in
    old), 'changed' (both, content fingerprint differs) or
    'unchanged' — the crawl-over-crawl report an incremental pipeline
    reads before deciding what to reprocess (only added+changed rows
    need re-curation; the removed set drives tombstones downstream).

    The comparison rides md5 content fingerprints, never the text:
    both sides collapse to (key, 16-byte fp) before the join, so the
    shuffle carries fingerprints, not documents. One full outer hash
    join on the key; no window, no pairwise anything. Output:
    (key, status, fp_old, fp_new) — the fingerprints ride along so a
    changed-set consumer can dedup repeated flips without rereading
    either snapshot.
    """
    o = old.select(
        F.col(key_col),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fp_old"),
    )
    n = new.select(
        F.col(key_col),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fp_new"),
    )
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, key_col, "full_outer").select(
        key_col, status.alias("status"), "fp_old", "fp_new"
    )


def incremental_containment_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Containment flag for each batch document against the accepted
    corpus — the excerpt-detecting member of the incremental family
    (exact: :func:`incremental_exact_dedup`, edited-re-crawl:
    :func:`incremental_minhash_dedup`, boilerplate spans:
    :func:`incremental_span_exposure`): a batch doc that is mostly a
    QUOTE of an accepted doc (or vice versa) slips past both — its
    Jaccard to the source is ~|A|/|B|, far under any usable minhash
    threshold, so the banding generator never even proposes the pair.

    One row per batch doc: (doc_id, contained, match_id, containment)
    — ``match_id``/``containment`` are the corpus doc maximizing
    smaller-set containment ``n_common / min(|A|,|B|)`` at >=
    ``threshold`` (nulls when clean; ties -> smallest corpus id).

    NOT banded on purpose: minhash-LSH's collision probability tracks
    JACCARD, so it structurally under-recalls exactly the pairs this
    operator exists for. Candidates come from the shingle inverted
    index instead (pairs form only where a shingle is shared — the
    batch side is tiny, so fan-out is batch-shingles x per-shingle
    corpus frequency, bounded by ``max_shingle_doc_freq``; derive the
    cap from the CORPUS and apply it to BOTH sides, the
    incremental-family convention). The corpus is never joined against
    itself.
    """
    _entry_release()
    c_sh, hot = _index_shingles(
        corpus, text_col, shingle_n, max_shingle_doc_freq
    )
    c_sh = persist(c_sh)
    b_sh = persist(_drop_hot(shingles(batch, text_col, shingle_n), hot))
    c_sh.count()  # fill: the intersection join and the sizes read them
    b_sh.count()
    inter = (
        b_sh.select(F.col("doc_id").alias("batch_id"), "shingle")
        .join(
            c_sh.select(F.col("doc_id").alias("corpus_id"), "shingle"),
            "shingle",
        )
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    zb = b_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb")).select(
        F.col("doc_id").alias("batch_id"), "nb"
    )
    zc = c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nc")).select(
        F.col("doc_id").alias("corpus_id"), "nc"
    )
    cont = F.col("n_common") / F.least(F.col("nb"), F.col("nc"))
    scored = (
        inter.join(zb, "batch_id")
        .join(zc, "corpus_id")
        .select("batch_id", "corpus_id", F.round(cont, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.col("containment").desc(), F.col("corpus_id")
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("batch_id", "corpus_id", "containment")
    )
    return (
        batch.select("doc_id")
        .distinct()
        .join(best, F.col("doc_id") == F.col("batch_id"), "left")
        .select(
            "doc_id",
            F.col("corpus_id").isNotNull().alias("contained"),
            F.col("corpus_id").alias("match_id"),
            "containment",
        )
    )


def image_phash_near_dup(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    n_bands: int = 8,
    band_bits: int = 7,
    max_hamming: int = 6,
) -> DataFrame:
    """Image near-dup pairs from perceptual hashes (multimodal.py
    dhash64): multi-index Hamming search — the 56-bit hash splits
    into ``n_bands`` bit-slices; two images are CANDIDATES iff some
    slice matches exactly (pigeonhole: any pair within
    ``n_bands - 1`` Hamming bits is guaranteed a clean slice), then
    candidates verify with ``bit_count(xor) <= max_hamming``.

    Output size caveat (K-scale probe finding): PAIR output is
    quadratic in duplicate-cluster size — a corpus where one image
    repeats c times emits C(c, 2) rows (the 10x probe's aliased
    pattern space yields ~5M pairs from 50k docs in ~8 s; the JOIN
    copes, the output explodes). This pair form is the CALIBRATION
    path (inspecting the Hamming histogram to pick thresholds); for
    actual dedup of a dup-heavy corpus use
    :func:`image_phash_clusters`, which collapses identical hashes
    before any pair is formed and emits one linear (doc, cluster)
    row per image.

    The banded-LSH join shape of minhash dedup, re-keyed on bit
    slices: the hash table is |docs| x n_bands tiny rows, the join is
    an equi-join on (band_idx, band_val) — never all-pairs — and the
    verify is a narrow integer expression on rows that already carry
    both hashes. 100 TB: same skew note as minhash LSH — a dominant
    slice value (e.g. flat-color images all hashing 0) hot-spots one
    key; cap or salt such bands upstream.

    Output: (doc_a, doc_b, hamming), doc_a < doc_b, one row per pair.
    """
    mask = (1 << band_bits) - 1
    banded = hashes.select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.shiftright(F.col(hash_col), band_bits * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("v"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__h", "__b.i", "__b.v")
    a = banded.withColumnsRenamed({"__id": "doc_a", "__h": "__ha"})
    b = banded.withColumnsRenamed({"__id": "doc_b", "__h": "__hb"})
    pairs = (
        a.join(b, ["i", "v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "__ha", "__hb")
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(
                F.col("__ha").bitwiseXOR(F.col("__hb"))
            ).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def image_phash_clusters(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    n_bands: int = 8,
    band_bits: int = 7,
    max_hamming: int = 6,
) -> DataFrame:
    """Image near-dup DEDUP (vs. :func:`image_phash_near_dup`'s
    calibration pair list): one ``(doc, cluster_id)`` row per image,
    ``cluster_id`` = the smallest ``id_col`` in the connected
    near-dup component — output LINEAR in corpus size even when one
    image repeats millions of times.

    The quadratic-pairs fix (VERDICT r9 item 3) is structural, not a
    post-collapse: a c-fold exact-duplicate cluster never exists as
    C(c, 2) rows at ANY stage.

    1. EXACT collapse first: identical hashes — the dominant mass of
       a dup-heavy crawl — group to one HUB node (min id per distinct
       hash value). One groupBy shuffle, c rows in → 1 node out.
    2. The banded Hamming candidate join runs over DISTINCT hash
       values only (delegates to :func:`image_phash_near_dup` on the
       hub table), so edge count is pairs of close-but-distinct
       hashes — independent of how often each hash repeats.
    3. O(log n) large-star/small-star connected components
       (:func:`dup_clusters_star`) label each hub with its component
       minimum; hubs carry the min doc id of their hash, so the
       component min IS the cluster's smallest doc id.
    4. One hash equi-join maps every input row to its hub's label;
       hash values with no near-dup neighbor keep their own hub as
       the cluster id.

    Output: (id_col, hash_col, cluster_id).
    """
    hubs = hashes.groupBy(hash_col).agg(F.min(id_col).alias("__hub"))
    edges = image_phash_near_dup(
        hubs.select(F.col("__hub").alias(id_col), hash_col),
        id_col=id_col,
        hash_col=hash_col,
        n_bands=n_bands,
        band_bits=band_bits,
        max_hamming=max_hamming,
    )
    comp = dup_clusters_star(edges).withColumnsRenamed(
        {"doc_id": "__hub"}
    )
    return (
        hashes.join(hubs, hash_col)
        .join(comp, "__hub", "left")
        .select(
            id_col,
            hash_col,
            F.coalesce(F.col("cluster_id"), F.col("__hub")).alias(
                "cluster_id"
            ),
        )
    )
