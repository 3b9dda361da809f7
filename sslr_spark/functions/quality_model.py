"""Model-based quality scoring for curation pipelines.

Heuristic metrics (functions/text.py::quality_metrics) are the weak
signal; production pipelines also run a trained quality classifier.
A trainer and a fixed-literal scorer, as in the IVF index (KMeans
trains centroids; fixed centroids make the oracle-checked form):

- :func:`train_quality_classifier` — distributed MLlib logistic
  regression over the heuristic feature columns (the library/trainer
  path; iterative, not SQL-expressible).
- :func:`quality_score` — score with FIXED published weights as one
  pure column expression (the serving path): sigmoid(w·x + b) is
  JVM-codegen arithmetic over engine-identical rounded features, so
  the driver hash-checks it against a DuckDB oracle end-to-end.

At 100 TB: training runs on a sample (quality labels are scarce);
scoring is a narrow map over the corpus — no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from sslr_spark.functions.text import quality_metrics

QUALITY_FEATURES = [
    "n_tokens",
    "n_subtokens",
    "stopword_ratio",
    "mean_word_len",
]


def quality_score(
    df: DataFrame,
    weights: list[float],
    bias: float,
    text_col: str = "text",
    decimals: int = 4,
    carry: tuple = (),
) -> DataFrame:
    """(doc_id[, carry...], score): sigmoid of the fixed linear model
    over the heuristic quality features. ``decimals`` rounds the score
    so both engines agree despite last-ULP libm differences in exp().
    ``carry`` threads extra input columns through (see
    quality_metrics) so consumers avoid a corpus self-join."""
    if len(weights) != len(QUALITY_FEATURES):
        raise ValueError(
            f"expected {len(QUALITY_FEATURES)} weights "
            f"(for {QUALITY_FEATURES})"
        )
    m = quality_metrics(df, text_col, carry=carry)
    z: Column = F.lit(float(bias))
    for w, c in zip(weights, QUALITY_FEATURES):
        z = z + F.lit(float(w)) * F.col(c).cast("double")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return m.select(
        "doc_id", *carry, F.round(score, decimals).alias("score")
    )


def quality_quantile_gate(
    df: DataFrame,
    keep_fraction: float,
    by: str = "lang",
    text_col: str = "text",
    weights: list[float] | None = None,
    bias: float | None = None,
) -> DataFrame:
    """Distribution-calibrated quality filtering: keep the top
    ``keep_fraction`` of documents PER GROUP (language, source, ...)
    by model quality score — the Gopher/CCNet-style gate that applies
    a per-language threshold instead of one global cutoff (a global
    cutoff keeps easy languages wholesale and guts hard ones, because
    score distributions differ by language).

    Exact, not approximate: scores quantize to basis points
    (``floor(score * 1e4 + 0.5)`` — `score` is already round-4, so
    this is lossless) and the per-group threshold is the largest
    score_bp whose descending cumulative count reaches
    ``ceil(keep_fraction * n_group)``. Ties at the threshold are all
    kept (deterministic; the kept count can exceed the target only by
    the tie run).

    100 TB shape: one map-side-combined histogram aggregate collapses
    the corpus to <= |groups| x 10001 rows; the cumulative window
    runs over THAT bounded frame (never over documents); thresholds
    broadcast back for the final narrow filter. No global sort, no
    per-document window, two corpus passes (score+histogram, filter).

    Returns kept rows: (doc_id, ``by``, score_bp, threshold_bp).
    """
    from pyspark.sql import Window

    if weights is None or bias is None:
        raise ValueError("quality_quantile_gate needs the published "
                         "model weights and bias")
    if not 0.0 < keep_fraction <= 1.0:
        # <=0 would keep the top tie-run per group (cum >= ceil(0)=0
        # matches the first histogram row); >1 would silently drop
        # every group (no row reaches the cumulative target)
        raise ValueError(
            f"keep_fraction must be in (0, 1], got {keep_fraction}"
        )
    # carry the group column through the scoring projection instead of
    # joining the corpus back onto itself by doc_id (r11, guide §2.4 —
    # that join shuffled the corpus twice for a column it already had)
    scored = quality_score(df, weights, bias, text_col, carry=(by,)).select(
        "doc_id",
        by,
        F.floor(F.col("score") * F.lit(1e4) + F.lit(0.5))
        .cast("int")
        .alias("score_bp"),
    )
    return score_bp_quantile_gate(scored, keep_fraction, by)


def _gate_frames(scored: DataFrame, by: str) -> tuple[DataFrame, DataFrame]:
    """(scored, hist) for the quantile gates. The narrow (doc_id, by,
    score_bp) projection is stored through the dedup cache registry,
    so the corpus-scoring pipeline runs ONCE — the histogram, the
    thresholds and the final join all read the cache, which the count
    here fills first. Like the pair generators, a gate frees the
    previous call's caches on entry; inside a CacheOwner
    (curate_documents) the owner frees it when the gate stage lands.
    At scale the projection is ~20 bytes/doc and spills to disk."""
    from sslr_spark.functions.dedup import _entry_release, persist

    _entry_release()
    scored = persist(scored)
    scored.count()  # fill: the histogram and the final join read it
    hist = scored.groupBy(by, "score_bp").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return scored, hist


def _cumulative(hist: DataFrame, by: str) -> DataFrame:
    """The gate histogram with, per row, ``__cum`` (docs scoring at or
    above its score_bp in its group) and ``__n`` (the group's size).
    Both sum ``__c`` over frames of one ordered ``by`` window, so they
    share one Window operator over one exchange of the bounded
    histogram — the group sizes need no second aggregate joined
    back."""
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(F.col("score_bp").desc())
    up_to = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    whole = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "*",
        F.sum("__c").over(up_to).alias("__cum"),
        F.sum("__c").over(whole).alias("__n"),
    )


def score_bp_quantile_gate(
    scored: DataFrame, keep_fraction: float, by: str
) -> DataFrame:
    """Shared tail of the quantile gates: given (doc_id, ``by``,
    score_bp int) rows, keep the top ``keep_fraction`` per group with
    all-ties-kept threshold semantics. Same 100 TB shape as documented
    on :func:`quality_quantile_gate` — histogram aggregate, cumulative
    window over the bounded histogram, broadcast thresholds. Any
    integer score works (negative log-prob basis points included);
    generic so model-score and LM-perplexity gates cannot drift."""
    scored, hist = _gate_frames(scored, by)
    thr = (
        _cumulative(hist, by)
        .filter(
            F.col("__cum")
            >= F.ceil(F.lit(float(keep_fraction)) * F.col("__n"))
        )
        .groupBy(by)
        .agg(F.max("score_bp").alias("threshold_bp"))
    )
    return scored.join(F.broadcast(thr), by).filter(
        F.col("score_bp") >= F.col("threshold_bp")
    ).select("doc_id", by, "score_bp", "threshold_bp")


def lm_quality_gate(
    df: DataFrame,
    keep_fraction: float,
    by: str = "lang",
    text_col: str = "text",
    vocab_size: int = 50_000,
) -> DataFrame:
    """CCNet-style language-model quality filter (Wenzek et al. 2019):
    score every document by mean BIGRAM log-probability under the
    corpus's own bigram model (text.bigram_logprob — the perplexity
    proxy) and keep the top ``keep_fraction`` PER GROUP. CCNet's
    insight carried over: perplexity distributions differ wildly by
    language, so the cut must be per-language or easy languages are
    kept wholesale while hard ones are gutted — the same reason
    :func:`quality_quantile_gate` gates per group.

    Scores quantize to basis points (``floor(mean_lp * 1e4 + 0.5)`` on
    the round-4 mean — lossless) and gate through the shared
    :func:`score_bp_quantile_gate` histogram plan; negative score_bp
    values order correctly through the descending cumulative window.
    Note the operator convention it inherits: a doc with < 2 tokens
    scores 0.0 — ABOVE every real (negative) log-prob — so run the
    Gopher word-count rule ahead of this gate (the production order;
    CCNet likewise LM-scores only structurally-valid text).

    Returns kept rows: (doc_id, ``by``, score_bp, threshold_bp).
    """
    from sslr_spark.functions.text import bigram_logprob

    # the group column rides the scorer's per-doc base frame instead
    # of a corpus self-join by doc_id (r11, guide §2.4)
    scored = bigram_logprob(
        df, text_col, vocab_size=vocab_size, carry=(by,)
    ).select(
        "doc_id",
        by,
        F.floor(
            F.col("mean_bigram_logprob") * F.lit(1e4) + F.lit(0.5)
        )
        .cast("int")
        .alias("score_bp"),
    )
    return score_bp_quantile_gate(scored, keep_fraction, by)


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    max_iter: int = 50,
    reg_param: float = 0.0,
) -> tuple[list[float], float]:
    """Fit logistic regression (MLlib, distributed) of ``label_col``
    on the heuristic features; returns (weights, bias) ready for
    :func:`quality_score`. Train on a labeled sample, publish the
    weights, score the full corpus with the fixed path."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = (
        quality_metrics(df, text_col)
        .join(df.select("doc_id", label_col), "doc_id")
        # null-text docs have NULL features (zero-token docs get 0.0
        # — text.py mean_word_len); one NULL row would fail the whole
        # distributed fit (assembler default = error)
        .na.drop(subset=QUALITY_FEATURES)
    )
    assembled = VectorAssembler(
        inputCols=QUALITY_FEATURES, outputCol="__features"
    ).transform(feats)
    model = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
    ).fit(assembled)
    return [float(w) for w in model.coefficients], float(model.intercept)


def distribution_psi(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    edges: list[float],
) -> DataFrame:
    """Population Stability Index between two corpora's distributions
    of ``value_col`` over FIXED bucket edges — the standard drift
    monitor a crawl pipeline runs between snapshots (PSI < 0.1 stable,
    0.1-0.25 drifting, > 0.25 the filter thresholds calibrated on the
    old snapshot no longer apply and must be re-derived).

    Buckets: ``len(edges)+1`` half-open intervals — bucket i counts
    rows with ``edges[i-1] <= v < edges[i]`` (open-ended tails). Edges
    are FIXED inputs, not data-derived quantiles, so consecutive runs
    compare against the same ruler (and the whole operator stays
    hash-reproducible). Counts get +1 Laplace smoothing before the log
    (the conventional guard for empty buckets — without it one empty
    bucket makes PSI infinite).

    Output: one row per bucket —
    (bucket, lo, hi, ref_count, cur_count, psi_contrib) with
    psi_contrib = (p - q) * ln(p / q) rounded to 6; total PSI is the
    SUM over buckets (a 1-row aggregate away; kept per-bucket because
    the per-bucket decomposition is what tells you WHERE the
    distribution moved).

    100 TB shape: one map-side-combined groupBy per side collapses
    each corpus to <= n_buckets rows; everything after joins frames of
    n_buckets rows. The bucket index is a pure codegen expression
    (sum of ``v >= edge`` over literal edges — no UDF, no
    width_bucket uniform-only limitation). Null values are excluded
    from both sides (they carry no position in a numeric
    distribution); count them separately if null-rate drift matters.
    """
    if not edges or sorted(edges) != list(edges):
        raise ValueError("edges must be a non-empty ascending list")
    k = len(edges) + 1

    def bucketed(df: DataFrame, cname: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        b = sum(
            (v >= F.lit(float(e))).cast("int") for e in edges
        )
        return (
            df.filter(v.isNotNull())
            .select(b.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(cname))
        )

    spark = ref.sparkSession
    buckets = spark.range(k).select(F.col("id").cast("int").alias("bucket"))
    lo = F.array(*[F.lit(None).cast("double")]
                 + [F.lit(float(e)) for e in edges])
    hi = F.array(*[F.lit(float(e)) for e in edges]
                 + [F.lit(None).cast("double")])
    r = bucketed(ref, "ref_count")
    c = bucketed(cur, "cur_count")
    tot_r = F.sum("ref_count").over(Window_all())
    tot_c = F.sum("cur_count").over(Window_all())
    p = (F.col("ref_count") + 1).cast("double") / (tot_r + k)
    q = (F.col("cur_count") + 1).cast("double") / (tot_c + k)
    return (
        buckets.join(r, "bucket", "left")
        .join(c, "bucket", "left")
        .na.fill(0, ["ref_count", "cur_count"])
        .select(
            "bucket",
            F.element_at(lo, F.col("bucket") + 1).alias("lo"),
            F.element_at(hi, F.col("bucket") + 1).alias("hi"),
            F.col("ref_count").cast("long").alias("ref_count"),
            F.col("cur_count").cast("long").alias("cur_count"),
            F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
        )
    )


def Window_all():
    """Unpartitioned whole-frame window — safe ONLY over bounded
    frames (here: the <= n_buckets-row bucket histogram; the corpus
    was already collapsed by the groupBy)."""
    from pyspark.sql import Window

    return Window.partitionBy()


def lm_perplexity_buckets(
    df: DataFrame,
    by: str = "lang",
    text_col: str = "text",
    vocab_size: int = 50_000,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2019): per
    group, cut the bigram-LM score distribution into thirds — head =
    the top third (lowest perplexity), tail = the bottom — the
    labeling CCNet ships so downstream training can sample
    perplexity-stratified mixes instead of hard-dropping the tail.

    Thresholds come from the same bounded basis-point histogram the
    gates use (one cumulative window over <= distinct-score rows per
    group, broadcast thresholds back) with all-ties-kept semantics at
    each boundary; the third-size targets are spelled
    ``ceil(n / 3.0)`` / ``ceil(n * 2.0 / 3.0)`` so both engines round
    the same doubles.

    Output: (doc_id, ``by``, score_bp, bucket 'head'|'middle'|'tail').
    """
    from sslr_spark.functions.text import bigram_logprob

    # the group column rides the scorer's per-doc base frame instead
    # of a corpus self-join by doc_id (r11, guide §2.4)
    scored = (
        bigram_logprob(df, text_col, vocab_size=vocab_size, carry=(by,))
        .select(
            "doc_id",
            by,
            F.floor(
                F.col("mean_bigram_logprob") * F.lit(1e4) + F.lit(0.5)
            )
            .cast("int")
            .alias("score_bp"),
        )
    )
    scored, hist = _gate_frames(scored, by)
    thr = _cumulative(hist, by).groupBy(by).agg(
        F.max(
            F.when(
                F.col("__cum") >= F.ceil(F.col("__n") / F.lit(3.0)),
                F.col("score_bp"),
            )
        ).alias("__head_thr"),
        F.max(
            F.when(
                F.col("__cum")
                >= F.ceil(F.col("__n") * F.lit(2.0) / F.lit(3.0)),
                F.col("score_bp"),
            )
        ).alias("__mid_thr"),
    )
    return (
        scored.join(F.broadcast(thr), by)
        .select(
            "doc_id",
            by,
            "score_bp",
            F.when(F.col("score_bp") >= F.col("__head_thr"), F.lit("head"))
            .when(F.col("score_bp") >= F.col("__mid_thr"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
