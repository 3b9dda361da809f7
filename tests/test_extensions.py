"""Tests for the training-data-pipeline extension operators
(dedup / similarity / text / multimodal) on the sf0.001 tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_simhash_blocking_equals_naive(spark, docs):
    """Pigeonhole blocking must lose no pairs vs the quadratic scan."""
    from sslr_spark.functions.dedup import simhash, simhash_pairs

    blocked = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=4).collect()
    }
    s = simhash(docs)
    a, b = s.alias("a"), s.alias("b")
    naive = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 4)
        .collect()
    }
    assert blocked == naive


def test_exact_dedup_detects_planted_duplicates(spark, docs):
    from sslr_spark.functions.dedup import exact_dedup_groups

    doubled = docs.unionByName(
        docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    groups = exact_dedup_groups(doubled)
    assert groups.filter(F.col("n_docs") >= 2).count() >= 5
    # keeper is always the smallest doc_id
    assert groups.filter(F.col("keep_id") >= 1_000_000).count() == 0


def test_topk_lsh_subset_of_bruteforce_universe(spark, emb):
    from sslr_spark.functions.similarity import topk_bruteforce, topk_lsh

    exact = topk_bruteforce(emb, query_vec_id=0, k=10).collect()
    approx = topk_lsh(emb, query_vec_id=0, k=10, n_bits=6).collect()
    assert len(exact) == 10
    assert 0 < len(approx) <= 10
    # approximate scores can never beat the exact best
    assert approx[0].cos_sim <= exact[0].cos_sim + 1e-9


def test_decode_stub_plumbing(spark, docs):
    from sslr_spark.functions.multimodal import decode_metadata, with_binary_payload

    out = decode_metadata(with_binary_payload(docs))
    rows = out.collect()
    assert len(rows) == docs.count()
    r = rows[0]
    assert r.n_bytes > 0 and len(r.content_fp) == 32
    assert 64 <= r.width < 256 and 64 <= r.height < 256 and 1 <= r.n_frames <= 30
    # deterministic: same input -> same fake dimensions
    again = decode_metadata(with_binary_payload(docs)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


@pytest.mark.slow
def test_lang_id_and_quality_shapes(spark, docs):
    from sslr_spark.functions.text import lang_id, quality_metrics

    n = docs.count()
    li = lang_id(docs)
    assert li.count() == n
    assert set(li.select("pred_lang").distinct().toPandas()["pred_lang"]) <= {
        "en", "fr", "de", "es", "zh", "und",
    }
    qm = quality_metrics(docs).collect()
    assert all(0.0 <= r.stopword_ratio <= 1.0 for r in qm)
    assert all(r.n_subtokens >= r.n_tokens for r in qm)


def test_hot_shingle_cap_bounds_skewed_corpus(spark):
    """1k docs sharing one boilerplate line: uncapped, the inverted
    index join would materialize ~500k boilerplate pairs; capped, only
    genuine-overlap pairs form and the join stays bounded."""
    from sslr_spark.functions.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved contact support for help"
    rows = [(i, f"{boiler} unique words {i} alpha beta") for i in range(1000)]
    # two genuinely near-dup docs sharing non-boilerplate content
    rows += [
        (2000, "the quick brown fox jumps over the lazy dog today"),
        (2001, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = ngram_jaccard_pairs(
        df, threshold=0.3, max_shingle_doc_freq=100
    ).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (2000, 2001) in got
    # boilerplate-only pairs are gone (docs 0..999 share ONLY the
    # capped shingles, so they produce no candidates at all)
    assert all(a >= 2000 for a, _ in got)


def test_hash_split_deterministic_and_append_stable(spark, docs):
    """The same doc lands in the same split on re-run AND when the
    corpus grows — the property rand() splits lack."""
    from sslr_spark.functions.sampling import hash_split

    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    full = {r.doc_id: r.split for r in hash_split(docs, "doc_id", w).collect()}
    again = {r.doc_id: r.split for r in hash_split(docs, "doc_id", w).collect()}
    assert full == again
    half = docs.filter(F.col("doc_id") % 2 == 0)
    sub = {r.doc_id: r.split for r in hash_split(half, "doc_id", w).collect()}
    assert all(full[k] == v for k, v in sub.items())
    # proportions roughly hold
    from collections import Counter

    c = Counter(full.values())
    assert c["train"] > 0.8 * len(full)
    assert 0 < c["val"] < 0.15 * len(full)


def test_hash_sample_nested(spark, docs):
    """Smaller fractions are subsets of larger ones (nested samples)."""
    from sslr_spark.functions.sampling import hash_sample

    s1 = {r.doc_id for r in hash_sample(docs, "doc_id", 0.01).collect()}
    s10 = {r.doc_id for r in hash_sample(docs, "doc_id", 0.10).collect()}
    assert s1 <= s10
    assert len(s10) < 0.2 * docs.count()


def test_stratified_exact_sample_counts(spark, docs):
    """Each stratum contributes exactly ceil(fraction * size) rows."""
    import math

    from sslr_spark.functions.sampling import stratified_exact_sample

    frac = 0.1
    sizes = {r.lang: r.n for r in
             docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = stratified_exact_sample(docs, "lang", "doc_id", frac)
    counts = {r.lang: r.n for r in
              got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {k: math.ceil(v * frac) for k, v in sizes.items()}


def _legacy_stratified(df, strata_col, key_col, fraction, seed="strat"):
    """The pre-de-skew reference implementation (one window per
    stratum over all rows) — kept here as the selection-set oracle for
    the two-phase version."""
    from pyspark.sql import Window

    from sslr_spark.functions.sampling import split_bucket

    b = split_bucket(F.col(key_col), seed)
    w = Window.partitionBy(strata_col).orderBy(b.asc(), F.col(key_col).asc())
    wc = Window.partitionBy(strata_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * F.lit(fraction)))
        .drop("__rn", "__n")
    )


def test_stratified_two_phase_equals_legacy_window(spark, docs):
    """The de-skewed two-phase selection must pick EXACTLY the rows
    the single-window formulation picked, at every fraction."""
    from sslr_spark.functions.sampling import stratified_exact_sample

    for frac in (0.0, 0.02, 0.37, 1.0):
        want = {(r.doc_id, r.lang) for r in
                _legacy_stratified(docs, "lang", "doc_id", frac)
                .select("doc_id", "lang").collect()}
        got = {(r.doc_id, r.lang) for r in
               stratified_exact_sample(docs, "lang", "doc_id", frac)
               .select("doc_id", "lang").collect()}
        assert got == want, f"fraction {frac}: {len(got)} vs {len(want)}"


def test_stratified_sample_null_stratum_and_skew(spark):
    """Null strata sample like any other stratum; a 90%-skewed stratum
    still yields exact counts."""
    import math

    from sslr_spark.functions.sampling import stratified_exact_sample

    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 < 9, F.lit("big"))
        .when(F.col("id") % 10 == 9, F.lit(None))
        .alias("s"),
    )
    got = stratified_exact_sample(df, "s", "k", 0.1)
    counts = {r.s: r.n for r in
              got.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"big": math.ceil(0.9 * n * 0.1),
                      None: math.ceil(0.1 * n * 0.1)}


def test_repetition_metrics_known_values(spark):
    from sslr_spark.functions.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "batch batch batch stream"),
            (2, "a b c"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert rows[1].n_tokens == 4 and rows[1].n_repeats == 2
    assert abs(rows[1].rep_ratio - 0.5) < 1e-9
    assert rows[2].n_repeats == 0
    assert rows[3].n_tokens == 0 and rows[3].rep_ratio == 0.0
    # collapsed fingerprints: doc1 collapses to "batch stream"
    import hashlib

    assert rows[1].collapsed_fp == hashlib.md5(b"batch stream").hexdigest()
    assert rows[2].collapsed_fp == hashlib.md5(b"a b c").hexdigest()


def test_contamination_rates_known_values(spark):
    """A doc identical to an eval doc is fully contaminated; a
    disjoint-vocabulary doc is clean; partial overlap is fractional."""
    from sslr_spark.functions.dedup import contamination_rates

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),      # == eval doc
            (2, "one two three four five six seven"),        # disjoint
            (3, "alpha beta gamma delta unrelated words x"), # partial
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in
            contamination_rates(corpus, eval_df, n=4).collect()}
    assert rows[1].contamination == 1.0
    assert rows[2].contamination == 0.0
    assert rows[3].n_contaminated == 1  # only "alpha beta gamma delta"
    assert 0 < rows[3].contamination < 1


def test_contamination_includes_short_docs(spark):
    """Docs with fewer than n tokens still surface (contamination 0.0)
    instead of silently dropping from the per-doc report."""
    from sslr_spark.functions.dedup import contamination_rates

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "too short")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in
            contamination_rates(corpus, eval_df, n=4).collect()}
    assert set(rows) == {1, 2}
    assert rows[2].n_shingles == 0 and rows[2].contamination == 0.0
    assert rows[1].contamination == 1.0


def test_hash_split_rejects_degenerate_weights(spark):
    import pytest as pt

    from sslr_spark.functions.sampling import hash_split

    df = spark.range(5).withColumnRenamed("id", "doc_id")
    with pt.raises(ValueError, match="non-empty"):
        hash_split(df, "doc_id", {})
    with pt.raises(ValueError, match="sum to > 0"):
        hash_split(df, "doc_id", {"a": 0.0, "b": 0.0})
    with pt.raises(ValueError, match="non-negative"):
        hash_split(df, "doc_id", {"a": 1.0, "b": -0.5})


def test_mix_allocation_invariants(spark):
    """Temperature math: alpha=0 is uniform, alpha=1 proportional;
    allocations never oversubscribe the budget."""
    from sslr_spark.functions.sampling import mix_allocation

    df = spark.createDataFrame(
        [("en", 900), ("de", 90), ("fr", 10)], "lang string, w long"
    )
    uni = mix_allocation(df, ["lang"], "w", budget=1000, alpha=0.0).collect()
    assert {round(r.share, 4) for r in uni} == {round(1 / 3, 4)}
    prop = {r.lang: r for r in
            mix_allocation(df, ["lang"], "w", budget=1000, alpha=1.0).collect()}
    assert prop["en"].share == 0.9 and prop["en"].allocation == 900
    assert prop["fr"].share == 0.01
    for alpha in (0.0, 0.5, 1.0):
        rows = mix_allocation(df, ["lang"], "w", 1000, alpha).collect()
        assert sum(r.allocation for r in rows) <= 1000
    # temperature <1 upweights the small domain
    warm = {r.lang: r.share for r in
            mix_allocation(df, ["lang"], "w", 1000, 0.5).collect()}
    assert warm["fr"] > prop["fr"].share


def test_topk_ngrams_known_counts(spark):
    from sslr_spark.functions.text import topk_ngrams

    df = spark.createDataFrame(
        [("a b a b",), ("a b",), ("  a  ",), (None,), ("solo",)],
        "text string",
    )
    got = [(r.ngram, r.cnt) for r in topk_ngrams(df, k=3).collect()]
    # 'a b' appears 2x in doc1 + 1x in doc2; 'b a' once; short/null
    # docs contribute nothing
    assert got == [("a b", 3), ("b a", 1)]


def test_unigram_logprob_oov_floor_and_empty_docs(spark):
    """OOV tokens score strictly below every in-vocab token; empty and
    null docs stay in the report with zeros."""
    from pyspark.sql import functions as F

    from sslr_spark.functions.text import unigram_logprob

    rows = [
        (1, "the the the cat"),
        (2, ""),
        (3, None),
        (4, "zzz"),  # OOV once vocab is capped below 3 tokens? no:
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           unigram_logprob(df, vocab_size=2).collect()}
    # vocab = top-2 tokens (the, cat); zzz is OOV
    assert out[1].n_oov == 0 and out[1].n_tokens == 4
    assert out[2].n_tokens == 0 and out[2].mean_logprob == 0.0
    assert out[3].n_tokens == 0
    assert out[4].n_oov == 1
    # floor below the rarest in-vocab logprob
    assert out[4].mean_logprob < out[1].mean_logprob


def test_word_entropy_known_values(spark):
    import math

    from sslr_spark.functions.text import word_entropy

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one word repeated -> entropy 0
            (2, "a b c d"),          # uniform -> ln(4)
            (3, "a a b b"),          # 2x2 uniform -> ln(2)
            (4, ""),                 # empty -> 0, zero tokens
            (5, None),               # null text behaves like empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in word_entropy(docs).collect()}
    assert len(out) == 5
    assert out[1]["entropy"] == 0.0 and out[1]["n_distinct"] == 1
    assert abs(out[2]["entropy"] - math.log(4)) < 1e-4  # 4-decimal quantization
    assert abs(out[3]["entropy"] - math.log(2)) < 1e-4  # 4-decimal quantization
    assert out[4]["n_tokens"] == 0 and out[4]["entropy"] == 0.0
    assert out[5]["n_tokens"] == 0 and out[5]["entropy"] == 0.0


def test_word_entropy_digest_known_values(spark):
    import math

    from sslr_spark.functions.text import word_entropy_digest

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one word x4: c2=16, entropy 0
            (2, "a b c d"),          # uniform: c2=4, entropy ln(4)
            (3, "a a b b"),          # 2x2: c2=8, entropy ln(2)
            (4, ""),                 # empty
            (5, None),               # null behaves like empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in word_entropy_digest(docs).collect()}
    assert len(out) == 5
    assert out[1]["sum_c_sq"] == 16 and out[1]["entropy_centinats"] == 0
    assert out[2]["sum_c_sq"] == 4
    assert out[2]["entropy_centinats"] == round(math.log(4) * 100)
    assert out[3]["sum_c_sq"] == 8
    assert out[3]["entropy_centinats"] == round(math.log(2) * 100)
    for k in (4, 5):
        assert out[k]["n_tokens"] == 0 and out[k]["sum_c_sq"] == 0
        assert out[k]["entropy_centinats"] == 0
    # every column is integer-typed: nothing hash-fragile remains
    for f in word_entropy_digest(docs).schema.fields:
        assert f.dataType.simpleString() in ("bigint", "int"), f


def test_source_overlap_known_values(spark):
    from sslr_spark.functions.dedup import release_caches, source_overlap

    # 3-gram shingles: doc text "w1 w2 w3 w4" has shingles
    # {w1 w2 w3, w2 w3 w4}. Sources A and B share one doc text
    # exactly; C shares nothing.
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "A"),   # A: {abc, bcd}
            (2, "a b c", "B"),     # B: {abc}
            (3, "x y z", "C"),     # C: {xyz}
            (4, "a b c d", "A"),   # duplicate within A: no size change
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r.src_a, r.src_b): (r.n_common, r.jaccard)
        for r in source_overlap(docs, "source").collect()
    }
    release_caches()
    # A={abc,bcd} B={abc}: common 1, union 2 -> 0.5; C overlaps nothing
    assert got == {("A", "B"): (1, 0.5)}


def test_source_overlap_hot_shingle_cap(spark):
    from sslr_spark.functions.dedup import release_caches, source_overlap

    # the shared shingle appears in 3 docs; the cap drops shingles
    # with doc_freq >= max_shingle_doc_freq, so 3 removes it and no
    # pair survives
    docs = spark.createDataFrame(
        [
            (1, "a b c", "A"),
            (2, "a b c", "B"),
            (3, "a b c x", "C"),
        ],
        "doc_id long, text string, source string",
    )
    out = source_overlap(docs, "source", max_shingle_doc_freq=3).collect()
    release_caches()
    # shingle "a b c" has doc_freq 3 >= 3 -> dropped; "b c x" unique
    assert out == []


def test_pairwise_jaccard_matches_bruteforce_property(spark):
    """The shared inverted-index Jaccard tail must equal the naive
    per-pair set computation on arbitrary small corpora."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from sslr_spark.functions.dedup import _pairwise_jaccard

    word = st.sampled_from(["w%d" % i for i in range(8)])

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        corpora=st.dictionaries(
            st.integers(0, 5),
            st.sets(word, min_size=0, max_size=6),
            min_size=2,
            max_size=6,
        )
    )
    def check(corpora):
        rows = [
            (k, s) for k, items in corpora.items() for s in sorted(items)
        ]
        if not rows:
            return
        sets_df = spark.createDataFrame(rows, "doc_id long, shingle string")
        got = {
            (r.key_a, r.key_b): (r.n_common, r.jaccard)
            for r in _pairwise_jaccard(sets_df, "doc_id").collect()
        }
        want = {}
        keys = sorted(k for k, items in corpora.items() if items)
        for i, a in enumerate(keys):
            for b in keys[i + 1:]:
                inter = len(corpora[a] & corpora[b])
                if inter:
                    union = len(corpora[a] | corpora[b])
                    want[(a, b)] = (inter, round(inter / union, 6))
        assert got == want

    check()


def test_leakage_safe_split_reassigns_to_partner_split(spark):
    from sslr_spark.functions.dedup import release_caches
    from sslr_spark.functions.sampling import hash_split, leakage_safe_split

    base_t = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    base_v = "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12"
    weights = {"train": 0.4, "val": 0.3, "test": 0.3}
    probe = spark.createDataFrame(
        [(i,) for i in range(400)], "doc_id long"
    ).withColumn("text", F.lit(""))
    lab = {
        r["doc_id"]: r["split"]
        for r in hash_split(probe, "doc_id", weights).collect()
    }
    ids = {s: [k for k, v in lab.items() if v == s] for s in weights}
    train_id, val_id = ids["train"][0], ids["val"][0]
    t_leak_train, t_leak_val, t_clean = ids["test"][:3]
    docs = spark.createDataFrame(
        [
            (train_id, base_t),
            (val_id, base_v),
            (t_leak_train, base_t + " tail"),  # twin lives in train
            (t_leak_val, base_v + " tail"),    # twin lives in val
            (t_clean, "z1 z2 z3 z4 z5 z6"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            docs, weights=weights, jaccard_threshold=0.5,
        ).collect()
    }
    release_caches()
    assert out[train_id] == "train" and out[val_id] == "val"
    assert out[t_leak_train] == "train"  # joins its train twin
    # joins its VAL twin — moving it to train would CREATE train/val
    # leakage where none existed
    assert out[t_leak_val] == "val"
    assert out[t_clean] == "test"


def test_quality_quantile_gate_per_group_exact_with_ties(spark):
    """Per-group quantile thresholds are exact and independent: each
    language keeps its own top fraction even when the distributions
    don't overlap, and a tie run AT the threshold is kept whole."""
    from sslr_spark.functions.quality_model import quality_quantile_gate

    # scores are driven by text length via the n_tokens feature;
    # build two langs with disjoint, known score orders: lang a has
    # 10 docs of strictly increasing length, lang b has 10 identical
    # docs (all tie -> all kept at any fraction)
    rows = [(i, "a", "w " * (2 * i + 2)) for i in range(10)]
    rows += [(100 + i, "b", "x y z") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = quality_quantile_gate(
        df, keep_fraction=0.3, by="lang",
        weights=[0.5, 0.0, 0.0, 0.0], bias=-2.0,
    ).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    # lang a: ceil(0.3*10)=3 -> top-3 longest docs (7, 8, 9), exact
    assert by_lang["a"] == {7, 8, 9}
    # lang b: every doc ties at the threshold -> the whole run is kept
    assert by_lang["b"] == {100 + i for i in range(10)}
    # threshold column is the group's cut, uniform within the group
    thr = {r.lang: r.threshold_bp for r in kept}
    assert all(
        r.score_bp >= thr[r.lang] for r in kept
    )


def test_quality_quantile_gate_window_is_bounded(spark):
    """The cumulative window must run over the per-group score
    HISTOGRAM (bounded at 10001 rows/group), never over documents,
    and the threshold map must broadcast back to the corpus."""
    from sslr_spark.functions.quality_model import quality_quantile_gate
    from tests.test_plans import SF, plan_of

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(
        quality_quantile_gate(
            docs, 0.5, weights=[0.02, -0.005, 1.0, 0.1], bias=-2.0
        )
    )
    assert p.count("Window") == 1
    assert "BroadcastHashJoin" in p
    # histogram aggregate combines map-side before the window's shuffle
    assert "partial" in p.lower()


def test_quality_classifier_train_and_serve_parity(spark):
    """MLlib-trained weights, pushed through the fixed serving formula
    (quality_score), must reproduce the model's own probabilities; the
    model must actually learn the weak label."""
    from sslr_spark.functions.quality_model import (
        quality_score,
        train_quality_classifier,
    )

    rows = []
    for i in range(200):
        if i % 2:  # "good": natural-ish text with stopwords
            rows.append((i, "the quick brown fox and the lazy dog " * 3, 1))
        else:      # "bad": symbol soup, no stopwords
            rows.append((i, "@@ ## $$ %% ^^ && ** (( )) !! " * 2, 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")

    weights, bias = train_quality_classifier(docs, "label")
    scored = {
        r["doc_id"]: r["score"]
        for r in quality_score(docs, weights, bias, decimals=6).collect()
    }
    good = [scored[i] for i in range(1, 200, 2)]
    bad = [scored[i] for i in range(0, 200, 2)]
    assert min(good) > max(bad)  # separable weak label actually learned

    # serving parity: fixed formula == MLlib transform probability
    from pyspark.ml.classification import LogisticRegressionModel  # noqa: F401
    from pyspark.ml.feature import VectorAssembler

    from sslr_spark.functions.quality_model import QUALITY_FEATURES
    from sslr_spark.functions.text import quality_metrics

    import math

    feats = quality_metrics(docs).collect()
    for r in feats[:10]:
        z = bias + sum(
            w * float(r[c]) for w, c in zip(weights, QUALITY_FEATURES)
        )
        assert abs(scored[r["doc_id"]] - round(1 / (1 + math.exp(-z)), 6)) < 1e-9


def test_quantized_topk_recall_vs_float(spark, emb):
    """int8 quantization must preserve neighbor ranking to high
    recall: the quantized top-10 overlaps the exact float top-10 and
    scores differ only by quantization error."""
    from sslr_spark.functions.similarity import topk_bruteforce, topk_quantized

    exact = {r.vec_id: r.cos_sim for r in topk_bruteforce(emb, 0, k=10).collect()}
    quant = {r.vec_id: r.score for r in topk_quantized(emb, 0, k=10).collect()}
    assert len(set(exact) & set(quant)) >= 8
    for vid in set(exact) & set(quant):
        assert abs(exact[vid] - quant[vid]) < 0.05


def test_quantized_topk_zero_norm_and_missing_id(spark, emb):
    """ANSI-mode robustness (ADVICE r3): a vector whose coords all
    quantize to int8 zero (|x| < 0.5/127) must be silently dropped —
    not crash the query with DIVIDE_BY_ZERO under Spark 4's default
    ANSI sessions — and a missing query id must raise, matching
    topk_bruteforce's contract."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from sslr_spark.functions.similarity import topk_quantized

    dims = len(emb.select("embedding").first()[0])
    tiny = spark.createDataFrame(
        [(99_990, [1e-4] * dims)], "vec_id long, embedding array<double>"
    ).select("vec_id", F.col("embedding").cast("array<float>"))
    corpus = emb.select("vec_id", "embedding").unionByName(tiny)
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = topk_quantized(corpus, 0, k=1000).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)
    ids = {r.vec_id for r in got}
    assert 99_990 not in ids and ids  # degenerate row dropped, rest kept

    with _pt.raises(ValueError, match="not found"):
        topk_quantized(emb, -12345, k=5)


def test_leakage_safe_split_chains_multiple_holdouts(spark):
    """Chained repair: first clean the test split, then feed the
    result back to clean val — a val doc twinned with a train doc
    joins train on the second pass, while the first pass's repairs
    stay intact."""
    from sslr_spark.functions.dedup import release_caches
    from sslr_spark.functions.sampling import hash_split, leakage_safe_split

    weights = {"train": 0.4, "val": 0.3, "test": 0.3}
    probe = spark.createDataFrame(
        [(i,) for i in range(400)], "doc_id long"
    ).withColumn("text", F.lit(""))
    lab = {
        r["doc_id"]: r["split"]
        for r in hash_split(probe, "doc_id", weights).collect()
    }
    ids = {s: [k for k, v in lab.items() if v == s] for s in weights}
    train_id = ids["train"][0]
    val_leak = ids["val"][0]
    test_leak = ids["test"][0]
    base = "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12"
    docs = spark.createDataFrame(
        [
            (train_id, base),
            (val_leak, base + " tail"),   # val twin of a train doc
            (test_leak, base + " end"),   # test twin of the same doc
        ],
        "doc_id long, text string",
    )
    s1 = leakage_safe_split(
        docs, weights=weights, holdout="test", jaccard_threshold=0.5
    )
    s2 = leakage_safe_split(
        docs, weights=weights, holdout="val", jaccard_threshold=0.5,
        labels=s1,
    )
    out = {r["doc_id"]: r["split"] for r in s2.collect()}
    release_caches()
    assert out[train_id] == "train"
    assert out[test_leak] == "train"  # pass 1 repair survives pass 2
    assert out[val_leak] == "train"   # pass 2 repair


def test_binary_topk_recall_and_exactness(spark, emb):
    """Two-stage binary ANN: recall grows with the rerank budget, a
    rerank window covering the corpus reproduces the exact brute-force
    result bit-for-bit (the rerank IS exact cosine), and a missing
    query id raises like the sibling entry points."""
    import pytest as _pt

    from sslr_spark.functions.similarity import topk_binary, topk_bruteforce

    exact = [(r.vec_id, r.cos_sim) for r in
             topk_bruteforce(emb, 0, k=10).collect()]
    ids = {v for v, _ in exact}
    r4 = {r.vec_id for r in
          topk_binary(emb, 0, k=10, rerank_factor=4).collect()}
    r8 = {r.vec_id for r in
          topk_binary(emb, 0, k=10, rerank_factor=8).collect()}
    # sign bits on synthetic (near-random) embeddings are the worst
    # case for binary quantization; bounds are deliberately loose
    assert len(ids & r4) >= 4
    assert len(ids & r8) >= len(ids & r4) - 1  # budget helps, never hurts much
    assert len(ids & r8) >= 6

    full = [(r.vec_id, r.cos_sim) for r in
            topk_binary(emb, 0, k=10, rerank_factor=10_000).collect()]
    assert full == exact

    with _pt.raises(ValueError, match="not found"):
        topk_binary(emb, -5, k=3)


def test_sign_pack_words_bit_layout(spark):
    """The packed words must place dimension d's sign at bit (d mod
    32) of word d//32 — pinned against a hand-computed vector so the
    DuckDB oracle spelling cannot drift."""
    from sslr_spark.functions.similarity import hamming_words, sign_pack_words

    # dims 0,1,33 non-negative -> word0 = 0b11 = 3, word1 = 1 << 1 = 2
    vec = [1.0, 0.5] + [-1.0] * 31 + [2.0] + [-0.5] * 31
    assert len(vec) == 65
    df = spark.createDataFrame([(vec,)], "v array<float>")
    row = df.select(
        sign_pack_words("v", 65).alias("sig")
    ).first()
    assert row.sig == [3, 2, 0]
    # hamming: flip dim 0 and dim 33 -> distance 2
    vec2 = list(vec)
    vec2[0] = -1.0
    vec2[33] = -2.0
    both = spark.createDataFrame([(vec, vec2)], "a array<float>, b array<float>")
    got = both.select(
        hamming_words(
            sign_pack_words("a", 65), sign_pack_words("b", 65)
        ).alias("h")
    ).first()
    assert got.h == 2

    # ADVICE r4: names needing quoting must survive the raw-SQL
    # interpolation (dots, spaces, even embedded backticks)
    for name in ("my vec", "v.col", "odd`tick"):
        odd = spark.createDataFrame([([1.0, -1.0],)]).toDF(name)
        row = odd.select(sign_pack_words(name, 2).alias("sig")).first()
        assert row.sig == [1]


def test_bigram_logprob_known_values(spark):
    """Hand-computed conditional bigram model on a 4-doc corpus:
    P(b|a)=2/3, P(c|a)=1/3, b->c falls out of a size-2 vocab and
    scores the ln(0.5/total) floor; 1-token and empty docs score 0
    with n_bigrams = 0."""
    import math

    from sslr_spark.functions.text import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "a c"), (4, "x"), (5, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(docs, vocab_size=2).collect()}
    floor = math.log(0.5 / 4)  # 4 corpus bigrams total
    assert out[1].n_bigrams == 2 and out[1].n_oov == 1
    assert out[1].mean_bigram_logprob == round(
        (math.log(2 / 3) + floor) / 2, 4
    )
    assert out[2].n_oov == 0
    assert out[2].mean_bigram_logprob == round(math.log(2 / 3), 4)
    assert out[3].mean_bigram_logprob == round(math.log(1 / 3), 4)
    assert out[4].n_bigrams == 0 and out[4].mean_bigram_logprob == 0.0
    assert out[5].n_bigrams == 0 and out[5].mean_bigram_logprob == 0.0


def test_gopher_flags_known_values(spark):
    """Hand-built docs hitting each rule: a clean doc passes all
    flags; a bullet-list doc fails ok_bullets; a symbol-heavy doc
    fails ok_symbols; a stopword-free doc fails ok_stopwords."""
    from sslr_spark.functions.text import gopher_flags

    clean = " ".join(
        ["the quick brown fox and dogs of note in every den to"] * 5
    )  # 60 words, all alpha, plenty of stopwords, mwl ~3.4
    bullets = "the of\n- one\n- two\n- three\n- four\n- five\n- six\n- seven\n- eight\n- nine"
    symbols = "the of " + "# " * 10  # 12 words, 10 '#'
    nostop = "alpha beta gamma delta " * 15  # 60 words, no stopwords
    docs = spark.createDataFrame(
        [(1, clean), (2, bullets), (3, symbols), (4, nostop), (5, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_flags(docs).collect()}
    assert out[1]["n_words"] == 60
    assert out[1]["keep"] is True
    # 10 nonblank lines, 9 bullets -> 90 <= 90 ok; make sure count is right
    assert out[2]["n_lines"] == 10 and out[2]["n_bullet_lines"] == 9
    assert out[2]["ok_bullets"] is True  # exactly at the 90% boundary
    assert out[2]["ok_word_count"] is False  # too short anyway
    assert out[3]["n_symbol_hits"] == 10 and out[3]["ok_symbols"] is False
    assert out[4]["n_stopwords_present"] == 0
    assert out[4]["ok_stopwords"] is False and out[4]["ok_alpha"] is True
    assert out[5]["n_words"] == 0 and out[5]["keep"] is False
    # hash-safety: no float column in the schema
    for f in gopher_flags(docs).schema.fields:
        assert f.dataType.simpleString() in ("bigint", "boolean"), f


def test_shard_manifest_covers_corpus_and_balances(spark):
    from sslr_spark.functions.sampling import shard_assign, shard_manifest

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    n = 8
    man = shard_manifest(df, n).collect()
    assert len(man) == n
    assert sum(r["n_rows"] for r in man) == 2000
    # uniform hash: no shard more than 2x the mean
    assert max(r["n_rows"] for r in man) < 2 * (2000 / n)
    # deterministic: same assignment on re-run, and seed changes it
    a = shard_assign(df, n).collect()
    b = shard_assign(df, n).collect()
    assert {(r["doc_id"], r["shard"]) for r in a} == {
        (r["doc_id"], r["shard"]) for r in b
    }
    c = shard_assign(df, n, seed="other").collect()
    assert {(r["doc_id"], r["shard"]) for r in a} != {
        (r["doc_id"], r["shard"]) for r in c
    }


def test_hard_negatives_labels_and_ranks(spark):
    from sslr_spark.functions.similarity import hard_negatives

    # label 0: ids 0,1 ; label 1: ids 10,11,12 — query 0 must only
    # surface label-1 ids, ranked by cosine to id 0's vector
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (10, [1.0, 0.05], 1),   # nearly parallel to query -> rank 1
        (11, [0.0, 1.0], 1),    # orthogonal -> rank 3
        (12, [0.7, 0.3], 1),    # in between -> rank 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label long")
    out = hard_negatives(df, [0], k=3).orderBy("neg_rank").collect()
    assert [r["neg_id"] for r in out] == [10, 12, 11]
    assert all(r["neg_label"] == 1 for r in out)
    assert [r["neg_rank"] for r in out] == [1, 2, 3]
    # k caps the list
    out2 = hard_negatives(df, [0], k=2).collect()
    assert len(out2) == 2


@pytest.mark.slow
def test_prefix_jaccard_equals_plain_at_all_thresholds(spark, docs):
    """Prefix filtering (PPJoin) must be LOSSLESS: identical pair set
    and jaccard values as the plain inverted-index join at every
    threshold, including with the hot-shingle cap composed in."""
    from sslr_spark.functions.dedup import (
        cache_scope,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    for t in (0.3, 0.5, 0.8):
        with cache_scope():
            plain = {(r.doc_a, r.doc_b): r.jaccard for r in
                     ngram_jaccard_pairs(docs, threshold=t).collect()}
            pref = {(r.doc_a, r.doc_b): r.jaccard for r in
                    ngram_jaccard_pairs_prefix(docs, threshold=t).collect()}
        assert plain == pref, t
    with cache_scope():
        plain = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_doc_freq=50).collect()}
        pref = {(r.doc_a, r.doc_b): r.jaccard for r in
                ngram_jaccard_pairs_prefix(
                    docs, threshold=0.5, max_shingle_doc_freq=50).collect()}
    assert plain == pref


def test_prefix_jaccard_prunes_candidate_space(spark):
    """The point of the prefix filter: on a corpus where every doc
    shares COMMON shingles but few share RARE ones, the prefix join
    must generate far fewer candidate pairs than documents sharing any
    shingle. Asserted structurally: prefixes index ~ (1-t) of each
    doc's shingles, so pair-forming rows shrink accordingly."""
    from pyspark.sql import functions as F

    from sslr_spark.functions.dedup import (
        release_caches,
        shingles,
    )

    # 100 docs share a common tail; only 2 docs share their rare head
    rows = [(i, f"unique{i} words{i} here{i} common tail shared by all")
            for i in range(100)]
    rows += [(200, "rare head pair one two three four five"),
             (201, "rare head pair one two three four six")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from sslr_spark.functions.dedup import ngram_jaccard_pairs_prefix

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs_prefix(df, threshold=0.5).collect()}
    release_caches()
    assert (200, 201) in got
    # the boilerplate-sharing docs (jaccard ~0.4 max) are correctly out
    assert all(a >= 200 for a, _ in got)


def test_winnowing_guarantee_and_stats(spark):
    """Winnowing invariant: any shared token run of length
    >= k + w - 1 (here 8) must leave at least one identical
    fingerprint in both docs; disjoint docs share none. Stats are
    all-integer with the round-half-up ppm convention."""
    from sslr_spark.functions.dedup import (
        release_caches,
        shared_span_stats,
        winnow_fingerprints,
    )

    shared_run = "one two three four five six seven eight"  # 8 tokens
    rows = [
        (1, f"aaa bbb {shared_run} ccc ddd"),
        (2, f"xxx yyy zzz {shared_run} www"),
        (3, "totally different words with no overlap at all here"),
        (4, "tiny"),          # < k tokens -> no fingerprints
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: set() for r in df.collect()}
    for r in winnow_fingerprints(df, k=5, w=4).collect():
        fps[r.doc_id].add(r.fp)
    assert fps[1] & fps[2], "shared 8-token run must share a fingerprint"
    assert not (fps[3] & (fps[1] | fps[2]))
    assert fps[4] == set() and fps[5] == set()

    stats = {r.doc_id: r for r in shared_span_stats(df, k=5, w=4).collect()}
    release_caches()
    assert stats[1].n_shared >= 1 and stats[2].n_shared >= 1
    assert stats[3].n_shared == 0 and stats[3].shared_ppm == 0
    assert stats[4].n_fps == 0 and stats[4].shared_ppm == 0
    for r in stats.values():  # integer-only output
        assert isinstance(r.shared_ppm, int) and 0 <= r.shared_ppm <= 10**6


def test_ivf_recall_full_probe_is_perfect(spark, emb):
    """Recall calibration sanity: probing ALL cells must recover the
    exact top-k for every query (the pruned scan degenerates to brute
    force), and a 1-cell probe can only do worse or equal."""
    from sslr_spark.functions.similarity import ivf_recall

    cents = [1, 2, 3, 4, 5, 6, 7, 8]
    full = ivf_recall(emb, cents, [0, 20], k=10, n_probe=len(cents))
    rows = {r.query_id: r.recalled for r in full.collect()}
    assert rows == {0: 10, 20: 10}
    one = {
        r.query_id: r.recalled
        for r in ivf_recall(emb, cents, [0, 20], k=10, n_probe=1).collect()
    }
    assert all(one[q] <= 10 for q in one)
    assert set(one) == {0, 20}


def test_minhash_calibration_counts_consistent(spark):
    """Calibration counts must be internally consistent and catch
    planted near-identical pairs: identical docs collide in EVERY
    band (TP), unrelated docs collide in none, and the derived
    FN/FP columns reconcile with the raw counts."""
    from sslr_spark.functions.dedup import minhash_calibration

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(10):  # 5 identical pairs -> J = 1.0, always recalled
        rows.append((i, base + f" pair{i // 2}"))
    for i in range(10, 30):  # unrelated docs
        rows.append((i, f"unique u{i} v{i} w{i} x{i} y{i} z{i} q{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # t=0.9: only the identical pairs qualify (cross-pair base docs
    # share exactly 8 of 10 union shingles -> J = 0.8, excluded)
    r = minhash_calibration(df, threshold=0.9).first()
    assert r.n_true == 5
    assert r.true_positives == 5          # J=1.0 pairs collide in all bands
    assert r.false_negatives == 0
    assert r.false_negatives == r.n_true - r.true_positives
    assert r.false_positives == r.n_candidates - r.true_positives
    assert r.false_positives >= 0


def test_simhash_calibration_counts_consistent(spark):
    """Identical docs have identical sketches (hamming 0) and Jaccard
    1.0 — always recalled at any threshold; derived columns reconcile
    with the raw counts."""
    from sslr_spark.functions.dedup import simhash_calibration

    rows = [(i, "alpha beta gamma delta epsilon zeta " + f"p{i // 2}")
            for i in range(8)]
    rows += [(100 + i, f"unrelated u{i} v{i} w{i} x{i} y{i} z{i}")
             for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = simhash_calibration(df, max_hamming=3, threshold=0.9).first()
    assert r.n_true == 4                      # the identical pairs
    assert r.true_positives == 4              # hamming 0 <= 3
    assert r.false_negatives == r.n_true - r.true_positives == 0
    assert r.false_positives == r.n_predicted - r.true_positives >= 0


def test_shard_diff_flags_only_touched_shards(spark):
    """A one-doc delta flips exactly the shard that doc hashes into;
    identical corpora diff clean across all full-cover rows."""
    from sslr_spark.functions.sampling import shard_assign, shard_diff

    df = spark.range(400).withColumnRenamed("id", "doc_id")
    clean = shard_diff(df, df, 16).collect()
    assert len(clean) == 16
    assert not any(r.changed for r in clean)
    new = df.filter(F.col("doc_id") != 123)
    hit = {
        r.shard
        for r in shard_diff(df, new, 16).collect()
        if r.changed
    }
    victim = shard_assign(
        spark.createDataFrame([(123,)], "doc_id long"), 16
    ).first().shard
    assert hit == {victim}


def test_shuffle_order_is_reproducible_permutation(spark):
    """(shard, pos) addresses form an exact permutation: positions are
    contiguous 0..n_shard-1 within every shard, the whole assignment
    reproduces bit-for-bit on re-run (no RNG), the order is not just
    the key order, and the plan sorts per shard — never one global
    partition."""
    from sslr_spark.functions.sampling import shuffle_order
    from tests.test_plans import plan_of

    df = spark.range(3000).withColumnRenamed("id", "doc_id")
    out = shuffle_order(df, 8)
    rows = out.collect()
    assert len(rows) == 3000
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))  # contiguous, dense
    # deterministic re-run
    again = {(r.doc_id, r.shard, r.pos) for r in shuffle_order(df, 8).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}
    # genuinely shuffled: within a shard, pos order != doc_id order
    s0 = sorted((r.pos, r.doc_id) for r in rows if r.shard == 0)
    assert [d for _, d in s0] != sorted(d for _, d in s0)
    # per-shard window, no global single-partition sort
    p = plan_of(out)
    assert "Window" in p
    assert "hashpartitioning(shard" in p
    assert "SinglePartition" not in p


def test_source_cap_deterministic_and_bounded(spark):
    from sslr_spark.functions.sampling import source_cap

    df = spark.range(1000).selectExpr(
        "id as doc_id", "concat('s', id % 3) as source"
    )
    capped = source_cap(df, "source", 10)
    counts = {r["source"]: r["count"] for r in
              capped.groupBy("source").count().collect()}
    assert counts == {"s0": 10, "s1": 10, "s2": 10}
    a = {tuple(r) for r in capped.select("doc_id", "source").collect()}
    b = {tuple(r) for r in
         source_cap(df, "source", 10).select("doc_id", "source").collect()}
    assert a == b  # re-run stable
    # append-stability: adding rows to an UNRELATED source never
    # changes another source's kept set
    more = df.unionByName(spark.range(5000, 5500).selectExpr(
        "id as doc_id", "'s99' as source"))
    c = {tuple(r) for r in source_cap(more, "source", 10)
         .filter("source != 's99'").select("doc_id", "source").collect()}
    assert c == a
    # small groups pass through untouched
    assert source_cap(df.limit(5), "source", 10).count() == 5


def test_bm25_known_values(spark):
    """Hand-computed BM25 on a 3-doc corpus (k1=1.2, b=0.75; every dl
    equals avgdl so the length norm is exactly k1)."""
    import math

    from sslr_spark.functions.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark join x"),
            (2, "spark other words here"),
            (3, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           bm25_topk(docs, ["spark", "join"], k=10).collect()}
    assert set(out) == {1, 2}  # doc 3 never scores

    def m(x):
        return math.floor(x * 1_000_000 + 0.5)

    idf_spark = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    idf_join = math.log(1.0 + (3 - 1 + 0.5) / (1 + 0.5))
    d1 = m(idf_spark * 2 / (2 + 1.2)) + m(idf_join * 1 / (1 + 1.2))
    d2 = m(idf_spark * 1 / (1 + 1.2))
    assert out[1].score_micros == d1 and out[1].n_hit_terms == 2
    assert out[2].score_micros == d2 and out[2].n_hit_terms == 1
    assert out[1].score_micros > out[2].score_micros


def test_strip_shared_spans_excises_recurring_run(spark):
    from sslr_spark.functions.dedup import release_caches, strip_shared_spans

    shared = "one two three four five six seven eight"
    rows = [
        (1, f"aaa bbb {shared} ccc ddd"),
        (2, f"xxx yyy zzz {shared} www"),
        (3, "totally different words with no overlap at all here"),
        (4, "tiny"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_shared_spans(df, k=5, w=4).collect()}
    release_caches()
    # the shared run's winnowed spans are gone from both docs; the
    # unique head/tail tokens survive
    for d, head, tail in ((1, "aaa bbb", "ccc ddd"), (2, "xxx yyy zzz", "www")):
        r = out[d]
        assert r.clean_text.startswith(head) and r.clean_text.endswith(tail)
        assert r.n_removed >= 5  # most of the 8-token run masked
        assert "four five six seven" not in r.clean_text
    assert out[3].n_removed == 0 and out[3].clean_text.startswith("totally")
    assert out[4].clean_text == "tiny" and out[4].n_removed == 0
    assert out[5].n_tokens == 0 and out[5].clean_text == ""


def test_prefix_candidates_integer_ceiling_lossless(spark):
    """IEEE ceil(0.55 * 100) overshoots to 56 (55.000000000000007) —
    with the float ceiling doc A's prefix would be one shingle short
    and this true 0.55-Jaccard pair would silently vanish. The
    integer-ppm ceiling keeps it."""
    from sslr_spark.functions.dedup import prefix_candidates

    # A: 45 unique shingles (df=1, canonical-first) + 55 shared;
    # B: exactly the 55 shared. jaccard = 55/100 = 0.55.
    rows = [(1, f"u{i}") for i in range(45)]
    rows += [(1, f"s{i}") for i in range(55)]
    rows += [(2, f"s{i}") for i in range(55)]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    cand = {(r.key_a, r.key_b) for r in prefix_candidates(sh, 0.55).collect()}
    assert (1, 2) in cand


def test_strip_spans_oracle_ignores_internal_repeats():
    """A doc repeating the same >=8-token run TWICE internally (one fp
    at two positions) is NOT shared corpus-wide; the DuckDB oracle
    must count distinct documents, not fingerprint occurrences."""
    import duckdb
    import pandas as pd

    from sslr_spark.queries_ext import EXT_ORACLES

    run = "one two three four five six seven eight"
    df = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [f"{run} middle words here {run}",
                     "entirely different content with no shared runs x y"],
        }
    )
    con = duckdb.connect()
    con.register("documents", df)
    out = {r[0]: r for r in
           con.execute(EXT_ORACLES["dedup_strip_spans"]).fetchall()}
    # nothing excised anywhere: the repeat is intra-doc only
    assert out[1][3] == 0 and out[2][3] == 0  # n_removed
    assert out[1][1].startswith("one two three")  # clean_text intact


def test_source_cap_orders_by_full_hash(spark):
    """The kept set must be the top-N by the FULL h60(seed:key) hash
    (bucketed mod-1e6 ordering would bias ties toward small keys)."""
    import hashlib

    from sslr_spark.functions.sampling import source_cap

    df = spark.range(500).selectExpr("id as doc_id", "'s' as source")
    got = sorted(r.doc_id for r in source_cap(df, "source", 10).collect())

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = sorted(
        sorted(range(500), key=lambda i: (h60py(f"cap:{i}"), i))[:10]
    )
    assert got == want


def test_incremental_span_exposure_batch_vs_corpus(spark):
    """Batch docs report exposure vs the CORPUS index only: a batch
    doc sharing a run with the corpus scores > 0; a batch doc sharing
    a run only with ANOTHER BATCH doc scores 0 (never batch x batch);
    the corpus is never rescanned (index frame is the only input)."""
    from sslr_spark.functions.dedup import (
        incremental_span_exposure,
        winnow_fingerprints,
    )

    run_c = "c1 c2 c3 c4 c5 c6 c7 c8"          # lives in the corpus
    run_b = "b1 b2 b3 b4 b5 b6 b7 b8"          # batch-internal only
    corpus = spark.createDataFrame(
        [(100, f"corp head {run_c} corp tail"),
         (101, "other corpus words entirely different")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, f"batch doc with {run_c} inside"),
         (2, f"first {run_b} carrier"),
         (3, f"second {run_b} carrier"),
         (4, "nothing shared with anything at all here")],
        "doc_id long, text string",
    )
    idx = winnow_fingerprints(corpus, k=5, w=4)
    out = {r.doc_id: r for r in
           incremental_span_exposure(batch, idx, k=5, w=4).collect()}
    assert out[1].n_shared >= 1 and out[1].shared_ppm > 0
    assert out[2].n_shared == 0 and out[3].n_shared == 0
    assert out[4].n_shared == 0
    assert set(out) == {1, 2, 3, 4}


def test_prefix_candidates_wide_doc_no_overflow(spark):
    """t_ppm * n_shingles must widen to bigint: a ~2,800-shingle doc
    at t=0.8 overflowed 32-bit int (ANSI crash; silent negative wrap
    otherwise, which disabled all pruning on exactly the large docs
    the filter exists for)."""
    from sslr_spark.functions.dedup import prefix_candidates

    rows = [(1, f"w{i}") for i in range(2800)]
    rows += [(2, f"w{i}") for i in range(2800)]  # true dup partner
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        cand = {(r.key_a, r.key_b)
                for r in prefix_candidates(sh, 0.8).collect()}
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")
    assert cand == {(1, 2)}
