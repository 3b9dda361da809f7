"""Text-analysis operators for large-scale training-data pipelines.

These are additions beyond the reference surface (SURVEY §7 phase 5 /
driver contract): token counting, quality scoring, language-ID
heuristic, document fingerprinting. All pure built-in column
expressions — JVM-side, whole-stage-codegen'd, no Python in the hot
path — and each has an exact ANSI-SQL spelling for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A BPE-ish pre-tokenizer: runs of letters, runs of digits, or single
# non-space symbols (the classic GPT-2 pre-tokenization shape, minus
# unicode categories). Same regex semantics in Java regex and RE2.
SUBTOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

STOPWORDS = ["the", "a", "of", "and", "in", "to"]

# language -> marker words for the n-gram/stopword language-ID
# heuristic. Deterministic scoring; ties broken by language name.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and"],
    "fr": ["le", "la", "et", "des"],
    "de": ["der", "die", "und", "das"],
    "es": ["el", "los", "y", "las"],
    "zh": ["de", "le", "shi", "bu"],
}


def words(text: Column) -> Column:
    """Whitespace tokenization; empty text -> empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, "\\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(words(text)).cast("long")


def subtoken_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (regex matches)."""
    return F.size(F.regexp_extract_all(text, F.lit(SUBTOKEN_RE), 0)).cast("long")


def word_match_count(text: Column, vocab: list[str]) -> Column:
    """How many whitespace tokens are in ``vocab`` (exact match).
    Split-then-filter instead of regex so overlap semantics can't
    diverge between engines."""
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(words(text), lambda w: F.array_contains(arr, w))).cast(
        "long"
    )


def mean_word_len(text: Column) -> Column:
    ws = words(text)
    total = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(ws) == 0, F.lit(0.0)).otherwise(total / F.size(ws))


def quality_metrics(
    df: DataFrame, text_col: str = "text", carry: tuple = ()
) -> DataFrame:
    """Per-document quality scoring: token count, stopword ratio, mean
    word length, and a composite keep/drop flag (Gopher-rule shaped:
    drop too-short docs and docs with implausible word shape).

    ``carry`` threads extra input columns through the projection so a
    consumer needing (score, group) never has to join the corpus back
    onto itself by doc_id (r11, guide §2.4)."""
    t = F.col(text_col)
    n_tok = token_count(t)
    n_stop = word_match_count(t, STOPWORDS)
    mwl = mean_word_len(t)
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        n_stop.cast("double") / n_tok
    )
    return df.select(
        "doc_id",
        *carry,
        n_tok.alias("n_tokens"),
        subtoken_count(t).alias("n_subtokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mwl, 6).alias("mean_word_len"),
        (
            (n_tok >= 10) & (mwl >= 2.0) & (mwl <= 12.0)
        ).alias("keep"),
    )


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    return [
        (lang, word_match_count(text, markers))
        for lang, markers in sorted(LANG_MARKERS.items())
    ]


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: highest marker-hit count wins; ties go
    to the lexicographically smallest language; zero hits -> 'und'."""
    t = F.col(text_col)
    scored = lang_scores(t)
    # greatest score, then first language reaching it (sorted order)
    best = F.greatest(*[s for _, s in scored])
    pred = F.lit("und")
    for lang, s in reversed(scored):
        pred = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(pred)
    return df.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.alias("marker_hits"),
    )


def normalized(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def fingerprints(df: DataFrame, text_col: str = "text", prefix_len: int = 100) -> DataFrame:
    """Document fingerprints: full-text md5 of the normalized text plus
    a prefix fingerprint (cheap near-head-dup probe)."""
    norm = normalized(F.col(text_col))
    return df.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.md5(F.substring(norm, 1, prefix_len)).alias("prefix_fp"),
        F.length(norm).alias("norm_len"),
    )


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition analysis + collapse — the standard
    corpus-quality signal (token runs like "batch batch batch" mark
    low-quality/templated text; heavy repetition also skews n-gram
    stats downstream).

    Per doc: token count, immediate-repeat count (positions where
    w[i] == w[i-1]), repetition ratio, and the md5 fingerprint of the
    run-collapsed text (each run reduced to one token). All built-in
    array/lambda expressions over the materialized token array — one
    narrow projection, no shuffle, no Python.
    """
    # null text counts as empty — Spark's concat_ws would otherwise
    # turn a null token array into md5('') while the DuckDB oracle
    # yields NULL (engine divergence on the fingerprint column)
    tok = df.select(
        "doc_id",
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("__w"),
    )
    w = F.col("__w")
    n = F.size(w)
    rep = F.when(n <= 1, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(2), n),
            lambda i: F.element_at(w, i) == F.element_at(w, i - 1),
        )
    )
    keep = F.when(n == 0, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == 1) | (F.element_at(w, i) != F.element_at(w, i - 1)),
        )
    )
    collapsed = F.concat_ws(
        " ", F.transform(keep, lambda i: F.element_at(w, i))
    )
    return tok.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(rep).cast("long").alias("n_repeats"),
        F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(
                F.size(rep).cast("double") / n
            ),
            6,
        ).alias("rep_ratio"),
        F.md5(collapsed).alias("collapsed_fp"),
    )


def gopher_keep(text_col: str = "text") -> Column:
    """The :func:`gopher_flags` keep verdict as a BARE per-row Column —
    for composition sites that only need the filter: a plain
    ``df.filter(gopher_keep())`` fuses into the scan (one pass, whole-
    stage codegen), where materializing the flags frame and semi-
    joining it back costs a second scan plus a join. Exactly the
    conjunction gopher_flags emits as ``keep`` (shared code path, so
    the two cannot drift)."""
    return gopher_flags(None, text_col, _keep_only=True)


def gopher_flags(
    df: DataFrame, text_col: str = "text", _keep_only: bool = False
) -> DataFrame:
    """Per-document Gopher-style quality rule flags (Rae et al. 2021,
    "Scaling Language Models" §A1.1 — the standard rule battery every
    large-scale pretraining pipeline runs before model-based filters).

    Every emitted column is a bigint count or a boolean derived from
    PURE INTEGER comparisons (ratio thresholds are cross-multiplied:
    ``mean_word_len >= 3`` becomes ``sum_word_chars >= 3 * n_words``),
    so the output is hash-exact across engines by construction — no
    float ever materializes.

    Rules (thresholds are Gopher's):
      ok_word_count     50 <= n_words <= 100_000
      ok_mean_word_len  3 <= mean word length <= 10
      ok_bullets        <= 90% of non-blank lines start with a bullet
      ok_ellipsis       <= 30% of non-blank lines end with an ellipsis
      ok_alpha          >= 80% of words contain an alphabetic char
      ok_symbols        (# + '...') occurrences <= 10% of words
      ok_stopwords      >= 2 distinct common stopwords present
      keep              conjunction of all of the above

    Scale shape: one narrow projection — array lambdas over the
    per-row token/line arrays, no shuffle, no UDF; whole-stage
    codegen end to end. At 100 TB this is a single pass that
    saturates scan bandwidth."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    ws = words(t)
    n_words = F.size(ws).cast("long")
    sum_wchars = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lines = F.filter(
        F.split(t, "\n"), lambda l: F.length(F.trim(l)) > 0
    )
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    ).cast("long")
    n_ellipsis_l = F.size(
        F.filter(
            lines,
            lambda l: F.endswith(F.rtrim(l), F.lit("..."))
            | F.endswith(F.rtrim(l), F.lit("…")),
        )
    ).cast("long")
    n_alpha = F.size(
        F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))
    ).cast("long")
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast(
        "long"
    )
    n_dots = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.transform(ws, F.lower),
            F.array(*[F.lit(s) for s in STOPWORDS]),
        )
    ).cast("long")
    ok_wc = (n_words >= 50) & (n_words <= 100_000)
    ok_mwl = (n_words > 0) & (sum_wchars >= 3 * n_words) & (
        sum_wchars <= 10 * n_words
    )
    ok_bullets = 10 * n_bullet <= 9 * n_lines
    ok_ellipsis = 10 * n_ellipsis_l <= 3 * n_lines
    ok_alpha = 5 * n_alpha >= 4 * n_words
    ok_symbols = 10 * (n_hash + n_dots) <= n_words
    ok_stop = n_stop >= 2
    if _keep_only:
        return (
            ok_wc & ok_mwl & ok_bullets & ok_ellipsis & ok_alpha
            & ok_symbols & ok_stop
        )
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        sum_wchars.alias("sum_word_chars"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ellipsis_l.alias("n_ellipsis_lines"),
        n_alpha.alias("n_alpha_words"),
        (n_hash + n_dots).alias("n_symbol_hits"),
        n_stop.alias("n_stopwords_present"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_bullets.alias("ok_bullets"),
        ok_ellipsis.alias("ok_ellipsis"),
        ok_alpha.alias("ok_alpha"),
        ok_symbols.alias("ok_symbols"),
        ok_stop.alias("ok_stopwords"),
        (
            ok_wc & ok_mwl & ok_bullets & ok_ellipsis & ok_alpha
            & ok_symbols & ok_stop
        ).alias("keep"),
    )


def topk_ngrams(
    df: DataFrame, text_col: str = "text", k: int = 20
) -> DataFrame:
    """Corpus-level top-k word bigrams with counts — the vocabulary /
    boilerplate probe of corpus curation (the most frequent n-grams
    surface templated text long before per-doc dedup does).

    Scale shape: explode to one row per bigram, one hash aggregate
    (map-side combined — the heavy lifting happens before the
    shuffle), then a bounded global top-k: the ORDER BY + LIMIT plan
    is Spark's TakeOrderedAndProject, which take-orders k rows per
    partition and merges k x n_partitions rows on the driver — no
    global sort materializes. Ties break on the bigram text for
    engine-stable output."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != ""
    )
    grams = F.expr(
        "transform(sequence(0, size(__toks) - 2), i -> "
        "concat(__toks[i], ' ', __toks[i + 1]))"
    )
    return (
        df.select(toks.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram"))
        .limit(k)
    )


def bpe_merge_pairs(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Top-k BPE merge candidates: adjacent-character pair counts
    weighted by word frequency — one iteration of byte-pair-encoding
    tokenizer training, the counting step that dominates training a
    tokenizer over a pretraining corpus.

    Scale shape — the two-level plan real BPE trainers use: first
    collapse the token stream to the (word, freq) VOCABULARY (one
    map-side-combined aggregate; vocabulary cardinality, not corpus
    cardinality), then explode pairs from each DISTINCT word exactly
    once with its frequency as the weight. A 100 TB corpus has
    billions of token occurrences but a vocabulary in the millions —
    pair explosion over the vocabulary is ~1000x less work than over
    the raw token stream, with identical counts. Final top-k is
    TakeOrderedAndProject (k rows per partition, no global sort);
    ties break on the pair text for engine-stable output."""
    toks = F.explode(words(F.lower(F.col(text_col)))).alias("w")
    vocab = (
        df.select(toks)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("w") >= 2)
    )
    pairs = F.explode(
        F.expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
        )
    ).alias("pair")
    return (
        vocab.select(pairs, "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(k)
    )


def length_stats(
    df: DataFrame, strata_col: str = "lang", len_col: str = "n_chars"
) -> DataFrame:
    """Per-domain document-length distribution: count, mean, and
    exact interpolated p50/p95/p99 — the numbers length-filter
    thresholds are read off of in corpus curation.

    Scale shape: one hash aggregate per domain; Spark's exact
    ``percentile`` gathers the per-group values, which is bounded by
    the largest domain's document COUNT (scalars, not documents) —
    use approx_percentile in the library call sites where domains
    reach billions of rows. Linear interpolation matches DuckDB's
    quantile_cont for the oracle."""
    pcts = F.expr(
        f"percentile({len_col}, array(0.5D, 0.95D, 0.99D))"
    )
    return (
        df.groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col(len_col)), 6).alias("mean_len"),
            pcts.alias("__p"),
        )
        .select(
            strata_col,
            "n_docs",
            "mean_len",
            F.round(F.col("__p")[0], 6).alias("p50"),
            F.round(F.col("__p")[1], 6).alias("p95"),
            F.round(F.col("__p")[2], 6).alias("p99"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
) -> DataFrame:
    """Per-document mean unigram log-probability — the statistical
    perplexity proxy of corpus quality filtering (docs whose token
    distribution diverges from the corpus score low; gibberish and
    boilerplate both surface).

    Two passes, both scale-shaped: (1) token frequencies via one
    map-side-combined hash aggregate, truncated to the top
    ``vocab_size`` tokens (TakeOrdered, ties on token text — the
    deterministic cutoff); (2) explode + equi-join tokens against the
    vocabulary (the vocab side is bounded => Spark broadcasts it) and
    aggregate per document. OOV tokens score at the floor
    ``ln(0.5 / total)`` — half a count, strictly below any in-vocab
    token. Empty docs score 0 with n_tokens = 0.

    Output: ``id_col, n_tokens, n_oov, round(mean_logprob, 4)``.
    The mean is quantized to 4 decimals because avg() over per-token
    ln() values is an order-dependent float sum (same 6-decimal
    boundary fragility as word_entropy — see its docstring).
    """
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt")).first()[0] or 1
    vocab = freq.orderBy(F.col("cnt").desc(), F.col("tok")).limit(vocab_size)
    floor = float(-__import__("math").log(2.0 * total))  # ln(0.5/total)
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .select(
            id_col,
            F.coalesce(
                F.log(F.col("cnt").cast("double") / total), F.lit(floor)
            ).alias("lp"),
            F.col("cnt").isNull().cast("long").alias("oov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").alias("n_oov"),
            F.round(F.avg("lp"), 4).alias("mean_logprob"),
        )
    )
    # keep empty/null-text docs in the report (left join restores them)
    base = df.select(id_col)
    return base.join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        F.coalesce("mean_logprob", F.lit(0.0)).alias("mean_logprob"),
    )


def word_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document word-distribution Shannon entropy (nats) — the
    vocabulary-diversity quality signal (near-zero entropy = the doc
    is a handful of tokens repeated; templated/boilerplate text scores
    far below natural prose of the same length).

    (doc_id, n_tokens, n_distinct, entropy) with
    entropy = ln(n) - (sum c*ln(c))/n over per-word counts c — the
    algebraic form both engines can sum in one aggregate.

    The reported entropy is quantized to 4 decimals: the float sum's
    order is partition-dependent and ln() differs in the last ulp
    across engines, so a 6-decimal rounding can flip run-to-run for
    docs landing within ~1 ulp of a 0.5e-6 boundary (observed under
    the driver's exact-hash compare, round 3). Four decimals keeps
    the quality signal (entropy spans ~[0, 10] nats) while putting
    the boundary ~1e6 ulps away from any achievable float error.

    Scale shape: one explode + two map-side-combined aggregates
    ((doc, word) counts, then per-doc moments). Deliberately NOT the
    shuffle-free array-lambda form (count-within-array is O(tokens^2)
    per doc — fine at 100 tokens, hopeless at 100k); the (doc, word)
    shuffle is linear in corpus tokens and AQE-coalesced."""
    tok = df.select(
        "doc_id",
        F.explode(words(F.coalesce(F.col(text_col), F.lit("")))).alias("__w"),
    )
    counts = tok.groupBy("doc_id", "__w").agg(F.count(F.lit(1)).alias("__c"))
    moments = counts.groupBy("doc_id").agg(
        F.sum("__c").alias("__n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__s"),
    )
    return (
        df.select("doc_id")
        .distinct()
        .join(moments, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long").alias(
                "n_distinct"
            ),
            F.round(
                F.when(
                    F.coalesce(F.col("__n"), F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(
                    F.log(F.col("__n")) - F.col("__s") / F.col("__n")
                ),
                4,
            ).alias("entropy"),
        )
    )


def word_entropy_digest(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-deterministic companion to :func:`word_entropy`: the same
    tokenize → per-word counts → per-doc moments pipeline, but every
    emitted column is either integer-exact or quantized far coarser
    than any achievable cross-engine float error.

    (doc_id, n_tokens, n_distinct, sum_c_sq, entropy_centinats):

    - ``sum_c_sq`` = Σc² over per-word counts — pure integer, the
      Simpson/collision moment of the same count multiset entropy is
      computed from (repetition concentration; exact by construction).
    - ``entropy_centinats`` = round(entropy · 100) as bigint. Two
      decimals in nats: measured on the shipped test corpora, the
      closest any document sits to a 0.005-nat rounding boundary is
      1.5e-6 nats (sf0.01) — ~6 orders of magnitude above worst-case
      partition-order / libm float divergence, where the 4- and
      6-decimal forms of :func:`word_entropy` were observed to flip
      under exact-hash comparison across engine builds (rounds 3-4).

    Same scale shape as word_entropy: one explode, two map-side-
    combined aggregates, no per-doc O(tokens²) array lambdas."""
    tok = df.select(
        "doc_id",
        F.explode(words(F.coalesce(F.col(text_col), F.lit("")))).alias("__w"),
    )
    counts = tok.groupBy("doc_id", "__w").agg(F.count(F.lit(1)).alias("__c"))
    moments = counts.groupBy("doc_id").agg(
        F.sum("__c").alias("__n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("__c") * F.col("__c")).alias("__c2"),
        F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__s"),
    )
    return (
        df.select("doc_id")
        .distinct()
        .join(moments, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long").alias(
                "n_distinct"
            ),
            F.coalesce(F.col("__c2"), F.lit(0)).cast("long").alias("sum_c_sq"),
            F.round(
                F.when(
                    F.coalesce(F.col("__n"), F.lit(0)) == 0, F.lit(0.0)
                ).otherwise(
                    (F.log(F.col("__n")) - F.col("__s") / F.col("__n"))
                    * F.lit(100.0)
                ),
                0,
            )
            .cast("long")
            .alias("entropy_centinats"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
    carry: tuple = (),
) -> DataFrame:
    """Per-document mean BIGRAM log-probability — the stronger
    perplexity proxy (:func:`unigram_logprob` scores the token
    DISTRIBUTION; this scores local word ORDER, so shuffled, spliced,
    or keyword-stuffed text that keeps plausible unigram stats still
    surfaces).

    Model: conditional probability ``P(w2 | w1) = c(w1 w2) / c(w1 ·)``
    over corpus-adjacent pairs, truncated to the ``vocab_size`` most
    frequent bigrams (deterministic cutoff: count desc, then bigram
    text — same convention as the unigram vocab). Out-of-vocab
    bigrams score at the constant floor ``ln(0.5 / total_bigrams)`` —
    strictly below any in-vocab bigram and independent of context, so
    the score replays exactly in the oracle.

    Scale shape: bigrams form per doc with an index-lambda transform
    (zero shuffle), then two map-side-combined hash aggregates
    (bigram counts, context counts); the bounded vocab broadcasts to
    the scoring join. Docs with < 2 tokens score 0 with
    ``n_bigrams = 0``.

    Output: ``id_col[, carry...], n_bigrams, n_oov,
    round(mean_bigram_logprob, 4)`` — 4 decimals because avg() over
    per-pair ln() values is an order-dependent float sum (see
    word_entropy). ``carry`` threads extra input columns through the
    per-doc base frame so consumers needing (score, group) avoid a
    corpus self-join (r11, guide §2.4).
    """
    # materialize the token array BEFORE the lambda: inlining words()
    # into the element accesses would re-split the whole text once per
    # bigram element — O(tokens^2) per doc, the same pitfall the
    # shingles() docstring documents (fine at these doc lengths,
    # ruinous at 100k-token docs; warm-session cost at sf0.1 is
    # ~1.0 s either way because corpus docs are short — the
    # projection exists for the long-document case)
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
    pairs = tok.select(F.col(id_col), F.explode(bi).alias("bg"))
    counts = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    ctx = (
        counts.withColumn(
            "w1", F.split(F.col("bg"), "\x1f").getItem(0)
        )
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    # total bigrams = sum(max(0, n_tokens - 1)) — arithmetic over the
    # token COUNTS, not an aggregate over the exploded bigram rows:
    # this driver-side action would otherwise run the whole explode +
    # hash aggregate once more on top of the lazy result plan
    # (measured 6.6 s -> the explode dominates the sf0.1 bench row)
    total = (
        tok.select(
            F.sum(F.greatest(F.size(w) - 1, F.lit(0))).alias("t")
        ).first()["t"]
        or 1
    )
    floor = float(-__import__("math").log(2.0 * total))  # ln(0.5/total)
    vocab = (
        counts.orderBy(F.col("c12").desc(), F.col("bg"))
        .limit(vocab_size)
        .withColumn("w1", F.split(F.col("bg"), "\x1f").getItem(0))
        .join(ctx, "w1")
        .select("bg", "c12", "c1")
    )
    scored = (
        pairs.join(F.broadcast(vocab), "bg", "left")
        .select(
            id_col,
            F.coalesce(
                F.log(F.col("c12").cast("double") / F.col("c1")),
                F.lit(floor),
            ).alias("lp"),
            F.col("c12").isNull().cast("long").alias("oov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("oov").alias("n_oov"),
            F.round(F.avg("lp"), 4).alias("mean_bigram_logprob"),
        )
    )
    base = df.select(id_col, *carry)
    return base.join(scored, id_col, "left").select(
        id_col,
        *carry,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        F.coalesce("mean_bigram_logprob", F.lit(0.0)).alias(
            "mean_bigram_logprob"
        ),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 keyword retrieval: top-k documents for a bag of query
    terms — the standard lexical ranking (Robertson/Sparck Jones;
    Lucene's practical scoring), and the retrieval primitive of
    corpus tooling (finding contamination sources, spot-checking
    dedup clusters, building weak labels).

    score(d) = sum over query terms t of
        idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl)),
    idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))   (always > 0).

    Scale shape: only documents CONTAINING a query term ever score —
    the token explode is pre-filtered by the (tiny, literal) term
    array, corpus stats (N, avgdl) are one aggregate row broadcast
    everywhere, per-term document frequencies are |terms| rows
    broadcast, and the final cut is a TakeOrdered. Nothing global
    shuffles by document.

    Output: (id_col, score_micros, n_hit_terms) — the score in
    integer MICROS: each per-(doc, term) contribution is a fixed-
    order scalar expression quantized to floor(x*1e6 + 0.5) BEFORE
    the per-doc sum, so the total is an order-free bigint sum,
    hash-exact across engines (a float sum over group-by rows has
    engine-dependent order — the text_entropy lesson). Ties on id."""
    terms = sorted(set(query_terms))
    tarr = F.array(*[F.lit(t) for t in terms])
    base = df.select(
        id_col,
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("__w"),
    ).select(
        id_col,
        F.size("__w").alias("__dl"),
        F.explode(
            F.filter(F.col("__w"), lambda t: F.array_contains(tarr, t))
        ).alias("__t"),
    )
    tf = base.groupBy(id_col, "__t").agg(
        F.count(F.lit(1)).alias("__tf"), F.first("__dl").alias("__dl")
    )
    stats = df.select(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.size(words(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("__sumdl"),
    )
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    contrib = F.col("__idf") * F.col("__tf") / (
        F.col("__tf")
        + F.lit(float(k1))
        * (
            F.lit(1.0 - b)
            + F.lit(float(b)) * F.col("__dl") / F.col("__avgdl")
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "__t")
        .crossJoin(
            F.broadcast(
                stats.select(
                    "__n",
                    (F.col("__sumdl") / F.col("__n")).alias("__avgdl"),
                )
            )
        )
        .withColumn("__idf", idf)
        .withColumn(
            "__cm",
            F.floor(contrib * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__cm").alias("score_micros"),
            F.count(F.lit(1)).alias("n_hit_terms"),
        )
    )
    return scored.orderBy(
        F.col("score_micros").desc(), F.col(id_col)
    ).limit(k)


def blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    text_col: str = "text",
    max_banned_ppm: int = 0,
) -> DataFrame:
    """C4-style bad-word gate: per document, how many whitespace
    tokens (lowercased, exact match) are on ``blocklist``, and a keep
    flag — C4 dropped any page containing a listed word
    (``max_banned_ppm=0``); softer pipelines keep a token-share budget
    instead (e.g. 10_000 ppm = 1%).

    Entries may be MULTI-WORD PHRASES (the real C4 wordlist has
    them): an n-word entry matches any run of n consecutive tokens,
    counted per OCCURRENCE (overlaps each count — positional n-grams,
    not the dedup family's distinct shingles). ``n_banned`` totals
    word and phrase occurrences; the ppm denominator stays the
    document's word count.

    Output: (doc_id, n_words, n_banned, banned_ppm, keep), one row per
    input document (empty/whitespace-only docs count 0 words, 0 banned,
    keep=true). ``banned_ppm`` is round-half-up PURE integer ppm (the
    family convention: ``(2*1e6*num + den) div (2*den)``) so the gate
    hash-checks bit-exactly in any engine.

    100 TB shape: the blocklist is joined, not compiled into a per-
    token ``array_contains`` lambda — a few hundred literal list probes
    per token runs interpreted (the known higher-order slow path, fine
    for the 6-entry stopword probe, wrong for real wordlists). Tokens
    (and one positional n-gram stream per distinct phrase LENGTH —
    wordlists top out around 5, so that's <= 4 extra narrow explodes)
    explode narrow, each semi join broadcasts its (tiny, distinct)
    slice of the blocklist, and the only exchange is the per-doc count
    aggregate — map-side combinable. Left join back from the base
    keeps zero-hit docs without a second corpus pass.
    """
    if not blocklist:
        raise ValueError("blocklist_filter needs a non-empty blocklist")
    by_len: dict[int, list[str]] = {}
    for entry in sorted({" ".join(w.lower().split()) for w in blocklist}):
        if not entry:
            raise ValueError("blocklist_filter: empty blocklist entry")
        by_len.setdefault(len(entry.split()), []).append(entry)
    spark = df.sparkSession
    lw = words(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    base = df.select("doc_id", F.size(lw).cast("long").alias("n_words"))

    hit_parts = []
    for n, entries in sorted(by_len.items()):
        bl = spark.createDataFrame([(e,) for e in entries], "__w string")
        if n == 1:
            stream = df.select("doc_id", F.explode(lw).alias("__w"))
        else:
            # positional n-grams over the materialized token array —
            # element lookups, not slices, same shape as shingles()
            toks = df.select("doc_id", lw.alias("__t"))
            t = F.col("__t")
            grams = F.when(
                F.size(t) < n, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.concat_ws(
                        " ", *[t[(i + off).cast("int")] for off in range(n)]
                    ),
                )
            )
            stream = toks.select("doc_id", F.explode(grams).alias("__w"))
        hit_parts.append(stream.join(F.broadcast(bl), "__w", "left_semi"))
    all_hits = hit_parts[0]
    for part in hit_parts[1:]:
        all_hits = all_hits.unionByName(part)
    hits = all_hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_banned")
    )
    ppm = F.when(F.col("n_words") == 0, F.lit(0)).otherwise(
        F.expr("(2000000 * n_banned + n_words) div (2 * n_words)")
    ).cast("long")
    return (
        base.join(hits, "doc_id", "left")
        .na.fill(0, ["n_banned"])
        .select(
            "doc_id",
            "n_words",
            F.col("n_banned").cast("long").alias("n_banned"),
            ppm.alias("banned_ppm"),
            (
                F.col("n_banned") * F.lit(1_000_000)
                <= F.lit(int(max_banned_ppm)) * F.col("n_words")
            ).alias("keep"),
        )
    )


def mojibake_keep(text_col: str = "text") -> Column:
    """:func:`mojibake_flags`' keep verdict as a bare per-row Column —
    same composition rationale as :func:`gopher_keep` (a filter fuses
    into the scan; the flags frame + semi join costs a second scan).
    Shares the exact expressions, so the two cannot drift."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t).cast("long")
    n_repl = F.regexp_count(t, F.lit("\ufffd")).cast("long")
    n_ctl = F.regexp_count(
        t, F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
    ).cast("long")
    return (n_repl == 0) & (
        (n_repl + n_ctl) * 1000 < F.greatest(n_chars, F.lit(1))
    )


def mojibake_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-quality screen: count the two classic symptoms of a
    mis-decoded or binary-contaminated document — U+FFFD replacement
    characters (a decoder already gave up) and C0/C1 control
    characters outside tab/newline/carriage-return (binary junk,
    terminal escapes, truncated multibyte sequences) — plus a keep
    flag. Crawl pipelines run this ahead of language ID: mojibake
    poisons every downstream heuristic and n-gram statistic.

    Output: (doc_id, n_chars, n_replacement, n_control, bad_ppm, keep)
    — one row per document; ``bad_ppm`` is round-half-up integer ppm
    of symptom characters; keep = symptom share strictly under 0.1%
    (exact integer comparison ``1000*(n_repl+n_ctl) < n_chars``) AND
    no replacement character at all (a single U+FFFD proves
    information loss, whereas an isolated control char can be
    legitimate).

    Pure narrow per-row expressions (regexp_count) — zero shuffle,
    stays in whole-stage codegen, hash-exact integer arithmetic.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = df.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        F.regexp_count(t, F.lit("�")).cast("long").alias("n_replacement"),
        F.regexp_count(t, F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"))
        .cast("long")
        .alias("n_control"),
    )
    ppm = F.when(F.col("n_chars") == 0, F.lit(0)).otherwise(
        F.expr(
            "(2000000 * (n_replacement + n_control) + n_chars) "
            "div (2 * n_chars)"
        )
    ).cast("long")
    return counts.select(
        "doc_id",
        "n_chars",
        "n_replacement",
        "n_control",
        ppm.alias("bad_ppm"),
        (
            (F.col("n_replacement") == 0)
            & (
                (F.col("n_replacement") + F.col("n_control")) * 1000
                < F.greatest(F.col("n_chars"), F.lit(1))
            )
        ).alias("keep"),
    )


def dedup_doc_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document line dedup: rebuild each document keeping only
    the FIRST occurrence of every line (whitespace-trimmed match) —
    the page-local half of crawl line cleaning (nav bars, cookie
    banners and footers repeat within a page; Rae et al.'s repetition
    battery counts them, this removes them).

    Output: (doc_id, n_lines, n_dup_lines, text) with ``text``
    rebuilt in original order (blank lines dropped — they carry no
    content and a run of them would survive dedup as distinct
    ''/' '/'  ' variants).

    Pure narrow array expressions: split -> index-stable first-
    occurrence filter (``array_position`` returns the FIRST index, so
    line i survives iff ``array_position(lines, line_i) == i``) ->
    re-join. Per-doc cost is O(lines²) string compares in codegen —
    fine for real page line counts; no shuffle, no UDF.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    doc = df.select("doc_id", lines.alias("__ls"))
    ls = F.col("__ls")
    kept = F.filter(
        ls, lambda l, i: F.array_position(ls, l) == i + F.lit(1)
    )
    return doc.select(
        "doc_id",
        F.size(ls).cast("long").alias("n_lines"),
        (F.size(ls) - F.size(kept)).cast("long").alias("n_dup_lines"),
        F.concat_ws("\n", kept).alias("text"),
    )


def strip_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide boilerplate line removal — the C4 move ("we
    removed any line that occurred in more than one page" generalizes
    to a document-frequency threshold): a line appearing in >=
    ``min_docs`` DISTINCT documents is template chrome (cookie
    banners, nav, license footers) and is stripped from EVERY
    document, preserving each document's remaining line order.

    Output: (doc_id, n_lines, n_stripped, text) — one row per input
    document (docs reduced to nothing keep an empty text).

    100 TB shape: lines explode narrow with their positions; the
    document-frequency aggregate keys on the line text itself (exact
    semantics — a hashed key would let a 64-bit collision strip an
    innocent line from every document); the hot-line set joins as a
    plain (AQE-decided) anti join, never force-broadcast —
    boilerplate on a real crawl is a HUGE set (the exact lesson of
    the dedup family's hot-shingle cap). Rebuild is one groupBy over
    surviving (doc, pos) rows with an order-free sort_array collect —
    deterministic regardless of partition order; per-doc collected
    rows are bounded by the doc's own line count.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    base = df.select("doc_id", lines.alias("__ls"))
    pos = base.select(
        "doc_id",
        F.posexplode(F.col("__ls")).alias("__pos", "__line"),
    )
    hot = (
        pos.groupBy("__line")
        .agg(F.count_distinct("doc_id").alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__line")
    )
    kept = pos.join(hot, "__line", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("__kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda s: s["__line"],
            ),
        ).alias("text"),
    )
    return (
        base.select("doc_id", F.size(F.col("__ls")).cast("long").alias("n_lines"))
        .join(rebuilt, "doc_id", "left")
        .na.fill({"__kept": 0, "text": ""})
        .select(
            "doc_id",
            "n_lines",
            (F.col("n_lines") - F.col("__kept")).alias("n_stripped"),
            "text",
        )
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF — the classic keyword
    extraction a corpus pipeline runs for topic tagging, cluster
    labeling, and spot-check summaries (Sparck Jones 1972; smooth-idf
    spelling as popularized by scikit-learn:
    ``idf(t) = ln((1 + N) / (1 + df_t)) + 1`` — always > 0, never
    divides by zero, and a term in every doc still scores).

    score(t, d) = tf(t, d) * idf(t), with tf the raw occurrence
    count. Each (doc, term) score quantizes to integer MICROS
    (floor(x * 1e6 + 0.5)) BEFORE ranking, so the rank order is
    engine-exact (the bm25 convention); ties break on the term text.

    Output: (``id_col``, term, tf, score_micros, rk) — rk 1-based,
    bigint for engine parity; zero-token docs contribute no rows.

    100 TB shape: two passes over the corpus — FIT (document
    frequencies: map-side-combined term aggregate) and SCORE
    ((doc, term) counts joined to the df table on the term) — the
    same fit+score shape as dsir_weights. The df side collapses to
    one row per distinct term before the join; a per-term WINDOW
    would compute df in one pass but buffers each term's full row
    set in WindowExec — a stopword appearing in a billion docs
    makes that one partition's buffer, while the aggregate's
    map-side combine absorbs exactly that skew (and AQE skew-join
    handles the probe side). The final top-k is a per-doc window
    over each doc's DISTINCT terms — bounded by doc vocabulary,
    never a global sort. The df table is NOT force-broadcast
    (web-scale vocabularies run to billions of terms); AQE decides
    per-run.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    toks = df.select(
        F.col(id_col),
        F.explode(words(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "__t"
        ),
    )
    tf = toks.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    n = df.select(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.join(dfreq, "__t")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            F.col("__t").alias("term"),
            "tf",
            F.floor(
                F.col("tf")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("__n"))
                        / (F.lit(1.0) + F.col("__df"))
                    )
                    + F.lit(1.0)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("score_micros"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_micros").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


# html_to_text regex stages, in application order. Kept as literals
# shared with the DuckDB oracle spelling below: every pattern is
# chosen to mean the same thing under Java regex (Spark codegen) and
# RE2 (DuckDB) — inline (?is) flags, non-greedy spans, no backrefs,
# no lookaround.
HTML_STRIP_STAGES: list[tuple[str, str]] = [
    (r"(?is)<script\b.*?</script>", " "),  # executable payloads first
    (r"(?is)<style\b.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),              # comments (incl. markup)
    (r"(?is)</?(p|br|div|li|tr|h[1-6])\b[^>]*>", "\n"),  # block edges
    (r"(?s)<[^>]*>", " "),                 # every remaining tag
]
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"),
]


def html_to_text(col: Column) -> Column:
    """Extract visible text from HTML — the first transformation a
    crawl pipeline applies to every response body (the trafilatura /
    jusText problem, solved here with the regex-cascade heuristic
    that covers the bulk of it): drop script/style/comments, turn
    block-element boundaries into newlines, strip remaining tags,
    decode the six entities that dominate web text, collapse
    whitespace. Pure codegen expressions — no UDF, and every pattern
    is engine-portable (the shared literals above), so the oracle
    replays the cascade verbatim.

    Whitespace contract: runs of spaces/tabs collapse to one space,
    newline runs collapse to one newline, lines are trimmed, and the
    result is trimmed — so the output is stable however the source
    HTML was pretty-printed.
    """
    out = col
    for pat, rep in HTML_STRIP_STAGES:
        out = F.regexp_replace(out, pat, rep)
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, r"[ \t\r]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n+", "\n")
    # trim() strips only spaces in both engines — newline edges need
    # an explicit pass or every page starts with "\nTitle"
    out = F.regexp_replace(out, r"^\n+|\n+$", "")
    return F.trim(out)


def html_to_text_sql(expr: str) -> str:
    """DuckDB spelling of :func:`html_to_text` — the same cascade over
    the same literal patterns."""
    out = expr
    for pat, rep in HTML_STRIP_STAGES:
        p = pat.replace("'", "''")
        r = rep.replace("\n", "' || chr(10) || '")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    for ent, rep in HTML_ENTITIES:
        r = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{r}')"
    out = f"regexp_replace({out}, '[ \\t\\r]+', ' ', 'g')"
    out = (
        f"regexp_replace({out}, ' ?\\n ?', chr(10), 'g')"
    )
    out = f"regexp_replace({out}, '\\n+', chr(10), 'g')"
    out = f"regexp_replace({out}, '^\\n+|\\n+$', '', 'g')"
    return f"trim({out})"


def chat_flatten(
    df: DataFrame,
    json_col: str = "conversation",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flatten chat-transcript JSON into per-turn rows — the first
    step of every SFT/dialog data pipeline: ``{"turns": [{"role":
    ..., "text": ...}, ...]}`` parses with a REAL typed ``from_json``
    (malformed JSON yields null turns, surfaced as ``n_turns = -1``
    rows for quarantine rather than silently dropped), then
    ``posexplode`` emits (turn_idx, role, content, content_chars).
    All JVM-side: typed JSON path + explode, zero UDF, zero shuffle.

    At 100 TB the transcript column dominates row width — project it
    away immediately after the explode (this function keeps only the
    per-turn fields), and partition downstream work by ``id_col``
    so a conversation's turns stay co-located for windowed ops
    (turn-pair extraction, truncation-to-budget).
    """
    schema = "struct<turns: array<struct<role: string, text: string>>>"
    parsed = df.select(
        id_col,
        F.from_json(F.col(json_col), schema).alias("__c"),
    )
    good = parsed.filter(F.col("__c.turns").isNotNull()).select(
        id_col,
        F.posexplode(F.col("__c.turns")).alias("turn_idx", "__t"),
    ).select(
        id_col,
        "turn_idx",
        F.col("__t.role").alias("role"),
        F.col("__t.text").alias("content"),
        F.length(F.coalesce(F.col("__t.text"), F.lit("")))
        .cast("long")
        .alias("content_chars"),
    )
    bad = parsed.filter(F.col("__c.turns").isNull()).select(
        id_col,
        F.lit(-1).alias("turn_idx"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("content"),
        F.lit(0).cast("long").alias("content_chars"),
    )
    return good.unionByName(bad)


def chat_pairs(
    turns: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(prompt, response) pair extraction from :func:`chat_flatten`
    output — the SFT/DPO training-example shape: every user turn
    immediately followed by an assistant turn yields one pair; other
    adjacencies (assistant-assistant retries, trailing user turns,
    quarantine rows) yield none. One lead() window PARTITIONED BY the
    conversation id (turns are co-located per conversation; no global
    window), then a narrow filter.

    Output: (id_col, pair_idx, prompt, response, prompt_chars,
    response_chars) with pair_idx numbering a conversation's pairs
    0-based in turn order.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("turn_idx")
    nxt = turns.filter(F.col("turn_idx") >= 0).select(
        id_col,
        "turn_idx",
        "role",
        "content",
        F.lead("role").over(w).alias("__nrole"),
        F.lead("content").over(w).alias("__ncontent"),
    )
    pairs = nxt.filter(
        (F.col("role") == "user") & (F.col("__nrole") == "assistant")
    )
    return pairs.select(
        id_col,
        (
            F.row_number()
            .over(Window.partitionBy(id_col).orderBy("turn_idx"))
            - 1
        )
        .cast("int")
        .alias("pair_idx"),
        F.col("content").alias("prompt"),
        F.col("__ncontent").alias("response"),
        F.length(F.coalesce(F.col("content"), F.lit("")))
        .cast("long")
        .alias("prompt_chars"),
        F.length(F.coalesce(F.col("__ncontent"), F.lit("")))
        .cast("long")
        .alias("response_chars"),
    )


def chat_truncate(
    turns: DataFrame,
    budget_chars: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-budget truncation of conversations — keep the NEWEST
    turns whose total size fits ``budget_chars`` (the standard SFT
    packing rule: recent context survives, the oldest turns fall
    off). One suffix cumulative sum per conversation (window
    partitioned by ``id_col``, ordered by turn_idx DESC — turns are
    co-located, no global window), then a narrow filter; a single
    oversized turn that alone busts the budget is dropped like any
    other (cum > budget), never partially split — token-level
    splitting belongs to the chunker (:func:`chunk_text`).

    Output: the kept turn rows + ``suffix_chars`` (total size of this
    turn and everything after it — the number the cut was decided
    on)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = turns.filter(F.col("turn_idx") >= 0).withColumn(
        "suffix_chars", F.sum("content_chars").over(w).cast("long")
    )
    return sized.filter(F.col("suffix_chars") <= budget_chars)


def _bpe_merge_expr(lhs: str, rhs: str, merged: str) -> str:
    """One BPE merge round over a space-joined symbol string column
    ``s`` as a Spark SQL expression: the canonical greedy
    left-to-right fold, parameterized by SQL expressions for the
    rule's sides (column references in the trainer, quoted literals
    in the tokenizer)."""
    a = "split(s, ' ')"
    return (
        f"case when size({a}) = 1 then element_at({a}, 1) else "
        f"aggregate(slice({a}, 2, size({a}) - 1), element_at({a}, 1), "
        f"(acc, x) -> case when regexp_extract(acc, '([^ ]+)$', 1) = {lhs} "
        f"and x = {rhs} "
        f"then concat(substring(acc, 1, length(acc) - length({lhs})), "
        f"{merged}) "
        "else concat(acc, ' ', x) end) end"
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 5,
    word_re: str = "^[a-z]+$",
) -> DataFrame:
    """Byte-pair-encoding merge-RULE training (Sennrich et al. 2016)
    — the iterative trainer on top of :func:`bpe_merge_pairs`'s single
    counting step: ``n_merges`` rounds of (count adjacent symbol
    pairs over the word histogram) -> (pick the most frequent pair,
    ties by pair text) -> (merge every occurrence corpus-wide), the
    loop that actually produces a tokenizer's merge table.

    Words live as SPACE-JOINED symbol strings; a round's merge is the
    canonical greedy left-to-right fold (``aggregate`` over the
    symbol array: when the accumulator's last symbol is ``lhs`` and
    the next is ``rhs``, splice in ``merged``) — provably identical
    to the reference re.sub-on-the-pre-round-string semantics,
    including runs like 'aaaa' -> [aa, aa] (pinned in tests). The
    fold's lhs/rhs/merged come from a CROSS-JOINED broadcast 1-row
    argmax frame, so no training statistic ever rides through the
    driver and the whole loop replays as nested SQL CTEs in the
    oracle.

    Scale shape — the two-level plan real BPE trainers use: the
    corpus collapses ONCE to the (word, freq) vocabulary (billions of
    token occurrences -> millions of distinct words), and every round
    costs one map-side-combined pair aggregate + a TakeOrdered(1) +
    one narrow fold projection over the vocabulary only.
    Each round lands its argmax row and the merged vocabulary
    (dedup.land, a plan-truncating local checkpoint) and frees the
    vocabulary it superseded, so the plan stays flat; rounds are
    inherently sequential — that is BPE, not a Spark limitation.
    ``word_re`` restricts training to plain lowercase words by default
    so character splitting is engine-portable (no grapheme-cluster
    ambiguity).

    Output: one row per learned rule — (rank, lhs, rhs, merged,
    pair_count), rank 1 = first merge. The rules read landed rows held
    by the current cache owner (dedup.release_caches frees them), the
    same contract as the dup_clusters_star labels.
    """
    from sslr_spark.functions.dedup import _unland, land

    a = "split(s, ' ')"
    # guard: sequence(1, 0) DESCENDS in Spark, so a fully-merged
    # single-symbol word would index element_at(a, 2) out of bounds
    pair_expr = (
        f"case when size({a}) < 2 then "
        "array()::array<struct<lhs string, rhs string>> else "
        f"transform(sequence(1, size({a}) - 1), "
        f"i -> struct(element_at({a}, i) as lhs, "
        f"element_at({a}, i + 1) as rhs)) end"
    )
    merge_expr = _bpe_merge_expr("lhs", "rhs", "merged")
    vocab = (
        df.select(F.explode(words(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w").rlike(word_re) & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = land(
        vocab.select(
            F.array_join(F.split(F.col("w"), ""), " ").alias("s"), "freq"
        )
    )
    rounds = []
    for rank in range(1, n_merges + 1):
        best = land(
            cur.select(F.explode(F.expr(pair_expr)).alias("p"), "freq")
            .groupBy(
                F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs")
            )
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            .withColumn("merged", F.concat(F.col("lhs"), F.col("rhs")))
        )
        rounds.append(
            best.select(
                F.lit(rank).cast("int").alias("rank"),
                "lhs",
                "rhs",
                "merged",
                "pair_count",
            )
        )
        merged = land(
            cur.crossJoin(F.broadcast(best)).select(
                F.expr(merge_expr).alias("s"), "freq"
            )
        )
        _unland(cur)  # superseded, and the new round is stored
        cur = merged
    _unland(cur)  # the rules never read the final vocabulary
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out


def bpe_tokenize_count(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_re: str = "^[a-z]+$",
) -> DataFrame:
    """Apply a TRAINED merge table (:func:`bpe_train` output) to the
    corpus: per-document BPE token count — the number a token-budget
    packer or a price estimate actually needs, under the tokenizer the
    corpus itself trained.

    The merge table is bounded by construction (one row per learned
    rule), so it collects once and each rule becomes a literal greedy
    fold applied IN RANK ORDER over the DISTINCT word set — the same
    two-level trick as training: segmentation work scales with
    vocabulary, not corpus; docs then join their words' symbol counts
    back (one hash join on the word). Words outside ``word_re`` or
    shorter than 2 chars pass through untrained as a single token.

    Output: (id_col, n_words, n_bpe_tokens).
    """
    rules = [
        (r.lhs, r.rhs, r.merged)
        for r in merges.orderBy("rank").collect()
    ]
    for lhs, rhs, merged in rules:
        if "'" in lhs + rhs + merged:
            raise ValueError("merge rule symbols must not contain quotes")
    toks = df.select(
        F.col(id_col),
        F.explode(words(F.lower(F.col(text_col)))).alias("w"),
    ).filter(F.col("w") != "")
    trained = (
        toks.filter(F.col("w").rlike(word_re) & (F.length("w") >= 2))
        .select("w")
        .distinct()
        .withColumn("s", F.array_join(F.split(F.col("w"), ""), " "))
    )
    for lhs, rhs, merged in rules:
        trained = trained.withColumn(
            "s",
            F.expr(_bpe_merge_expr(f"'{lhs}'", f"'{rhs}'", f"'{merged}'")),
        )
    seg = trained.select(
        "w", F.size(F.split(F.col("s"), " ")).cast("long").alias("__n")
    )
    return (
        toks.join(seg, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.coalesce(F.col("__n"), F.lit(1).cast("long"))).alias(
                "n_bpe_tokens"
            ),
        )
    )
