"""Round-9 operator additions + the candidate-pruned verify joins:

- ngram_containment_pairs: smaller-set containment catches a short
  doc embedded in a long one (Jaccard structurally misses it).
- blocklist_filter: C4-style bad-word gate — broadcast-join wordlist,
  integer-ppm budget, one exchange.
- mojibake_flags: encoding screen — narrow codegen, zero shuffle.
- ngram_jaccard_pairs_prefix verifies over per-doc shingle arrays,
  never a re-shuffle of the exploded (doc, shingle) index (the
  MinHash generators' candidate-doc prune is pinned in
  test_minhash.py).
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import sslr_spark.functions.dedup as D
from sslr_spark.functions.text import blocklist_filter, mojibake_flags


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def corpus(spark):
    body = " ".join(f"tok{i}" for i in range(40))
    return spark.createDataFrame(
        [
            (1, "intro words here " + body + " closing words here"),
            (2, body),  # fully contained in doc 1
            (3, "completely different content about other things entirely "
                "with many unrelated tokens going on and on"),
        ],
        "doc_id long, text string",
    )


# ------------------------------------------------------------------
# containment
# ------------------------------------------------------------------

def test_containment_catches_embedded_doc(corpus):
    with D.cache_scope():
        rows = {
            (r.doc_a, r.doc_b): r.containment
            for r in D.ngram_containment_pairs(corpus, threshold=0.9).collect()
        }
    assert (1, 2) in rows
    assert rows[(1, 2)] == 1.0  # every shingle of 2 occurs in 1


def test_jaccard_misses_what_containment_catches(corpus):
    """The motivating asymmetry: the embedded pair's Jaccard is far
    below any usable dedup threshold while containment is 1.0."""
    with D.cache_scope():
        jac = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in D.ngram_jaccard_pairs(corpus, threshold=0.0).collect()
        }
    assert jac[(1, 2)] < 0.9


def test_containment_threshold_filters(corpus):
    with D.cache_scope():
        out = D.ngram_containment_pairs(corpus, threshold=1.01).collect()
    assert out == []


def test_containment_no_cross_join(corpus):
    with D.cache_scope():
        p = plan_of(D.ngram_containment_pairs(corpus))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


# ------------------------------------------------------------------
# blocklist gate
# ------------------------------------------------------------------

@pytest.fixture()
def bdocs(spark):
    return spark.createDataFrame(
        [
            (1, "clean text with ordinary words only"),
            (2, "one BAD word inside a longer otherwise clean document"),
            (3, "bad bad bad"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )


def test_blocklist_counts_and_flags(bdocs):
    out = {
        r.doc_id: r
        for r in blocklist_filter(
            bdocs, ["bad"], max_banned_ppm=200_000
        ).collect()
    }
    assert out[1].n_banned == 0 and out[1].keep
    # case-insensitive exact-token match
    assert out[2].n_banned == 1
    assert out[2].banned_ppm == round(1e6 / out[2].n_words)
    assert out[2].keep  # 1/9 words > 200000 ppm? 111111 <= 200000 -> keep
    assert out[3].n_banned == 3 and out[3].banned_ppm == 1_000_000
    assert not out[3].keep
    # empty and null docs: zero words, keep
    assert out[4].n_words == 0 and out[4].keep
    assert out[5].n_words == 0 and out[5].keep


def test_blocklist_zero_budget_is_c4_drop_any(bdocs):
    out = {r.doc_id: r.keep for r in blocklist_filter(bdocs, ["bad"]).collect()}
    assert out == {1: True, 2: False, 3: False, 4: True, 5: True}


def test_blocklist_requires_words():
    with pytest.raises(ValueError):
        blocklist_filter(None, [])


def test_blocklist_broadcasts_wordlist_single_exchange(bdocs):
    p = plan_of(blocklist_filter(bdocs, ["bad", "worse"]))
    # the wordlist probe must broadcast — a shuffled semi join against
    # a few hundred literal words would exchange the full token stream
    assert "BroadcastHashJoin" in p


# ------------------------------------------------------------------
# mojibake screen
# ------------------------------------------------------------------

def test_mojibake_flags(spark):
    docs = spark.createDataFrame(
        [
            (1, "perfectly fine text"),
            (2, "lost byte � here"),
            (3, "ctrl\x01\x02 chars" + "x" * 4000),
            (4, "tab\tand\nnewline\rare fine"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in mojibake_flags(docs).collect()}
    assert out[1].keep and out[1].bad_ppm == 0
    assert out[2].n_replacement == 1 and not out[2].keep
    # two control chars in ~4014 chars is under 0.1% -> keep
    assert out[3].n_control == 2 and out[3].keep
    assert out[4].n_control == 0 and out[4].keep
    assert out[5].n_chars == 0 and out[5].keep


def test_mojibake_zero_shuffle(spark):
    docs = spark.range(10).selectExpr("id as doc_id", "'t' as text")
    assert "Exchange" not in plan_of(mojibake_flags(docs))


# ------------------------------------------------------------------
# candidate-pruned verify joins
# ------------------------------------------------------------------

def test_prefix_verify_uses_array_intersect(corpus):
    """r11: the prefix verify counts intersections over the per-doc
    ordered ARRAYS the prefix step already built (two doc-count-sized
    equi-joins + array_intersect), never a re-shuffle of the exploded
    (doc, shingle) index — the stronger form of the key_b prune the
    r9 semi join provided."""
    with D.cache_scope():
        df = D.ngram_jaccard_pairs_prefix(corpus, threshold=0.8)
        txt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "array_intersect" in txt


# ------------------------------------------------------------------
# PSI drift monitor
# ------------------------------------------------------------------

def test_psi_zero_for_identical_distributions(spark):
    from sslr_spark.functions.quality_model import distribution_psi

    d = spark.range(400).selectExpr("cast(id % 50 as double) as v")
    out = distribution_psi(d, d, "v", [10.0, 25.0, 40.0]).collect()
    assert len(out) == 4
    assert all(r.psi_contrib == 0.0 for r in out)


def test_psi_detects_shift_and_buckets_correctly(spark):
    from sslr_spark.functions.quality_model import distribution_psi

    ref = spark.range(1000).selectExpr("cast(id % 100 as double) as v")
    cur = spark.range(1000).selectExpr("cast((id % 100) + 20 as double) as v")
    rows = {r.bucket: r for r in distribution_psi(
        ref, cur, "v", [25.0, 50.0, 75.0]).collect()}
    # middle buckets unchanged, mass moved from bucket 0 to bucket 3
    assert rows[1].psi_contrib == 0.0 and rows[2].psi_contrib == 0.0
    assert rows[0].psi_contrib > 0 and rows[3].psi_contrib > 0
    assert rows[0].ref_count == 250 and rows[0].cur_count == 50
    # boundary columns expose the ruler
    assert rows[0].lo is None and rows[0].hi == 25.0
    assert rows[3].lo == 75.0 and rows[3].hi is None


def test_psi_laplace_smoothing_handles_empty_bucket(spark):
    from sslr_spark.functions.quality_model import distribution_psi

    ref = spark.range(100).selectExpr("cast(1.0 as double) as v")
    cur = spark.range(100).selectExpr("cast(99.0 as double) as v")
    out = distribution_psi(ref, cur, "v", [50.0]).collect()
    import math
    assert all(math.isfinite(r.psi_contrib) for r in out)


def test_psi_rejects_unsorted_edges(spark):
    from sslr_spark.functions.quality_model import distribution_psi

    d = spark.range(10).selectExpr("cast(id as double) as v")
    with pytest.raises(ValueError):
        distribution_psi(d, d, "v", [5.0, 1.0])
    with pytest.raises(ValueError):
        distribution_psi(d, d, "v", [])


def test_psi_nulls_excluded(spark):
    from sslr_spark.functions.quality_model import distribution_psi

    ref = spark.createDataFrame(
        [(1.0,), (None,), (3.0,)], "v double")
    out = distribution_psi(ref, ref, "v", [2.0]).collect()
    assert sum(r.ref_count for r in out) == 2


# ------------------------------------------------------------------
# ordered range shards
# ------------------------------------------------------------------

def test_range_shards_ordered_non_overlapping(spark):
    from sslr_spark.functions.sampling import range_shard_assign

    df = spark.range(5000).selectExpr("id as doc_id")
    stats = (
        range_shard_assign(df, 8, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .orderBy("shard")
        .collect()
    )
    assert sum(r.n for r in stats) == 5000  # total preservation
    for a, b in zip(stats, stats[1:]):
        assert a.hi < b.lo  # contiguous, strictly ordered ranges
    # sampled boundaries keep populations within a loose factor
    sizes = [r.n for r in stats]
    assert max(sizes) < 4 * (5000 // 8)


def test_range_shards_deterministic(spark):
    from sslr_spark.functions.sampling import range_shard_assign

    df = spark.range(2000).selectExpr("id as doc_id")
    a = {(r.doc_id, r.shard) for r in range_shard_assign(df, 4).collect()}
    b = {(r.doc_id, r.shard) for r in range_shard_assign(df, 4).collect()}
    assert a == b


def test_range_shards_single_shard_and_validation(spark):
    from sslr_spark.functions.sampling import range_shard_assign

    df = spark.range(10).selectExpr("id as doc_id")
    out = range_shard_assign(df, 1).collect()
    assert {r.shard for r in out} == {0}
    with pytest.raises(ValueError):
        range_shard_assign(df, 0)
    with pytest.raises(ValueError):
        range_shard_assign(df, 4, sample_mod=0)


def test_range_shards_null_key_raises(spark):
    from sslr_spark.functions.sampling import range_shard_assign

    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    with pytest.raises(Exception, match="NULL"):
        range_shard_assign(df, 2).collect()


def test_range_shards_corpus_side_stays_narrow(spark):
    """The corpus never shuffles: after boundary collection the shard
    column is a literal-comparison sum — the only Exchange in the
    final plan may come from the caller's own aggregation."""
    from sslr_spark.functions.sampling import range_shard_assign

    df = spark.range(3000).selectExpr("id as doc_id")
    out = range_shard_assign(df, 4, "doc_id")
    assert "Exchange" not in plan_of(out)


def test_range_shards_auto_sample_mod_bounds_the_window(spark):
    """sample_mod=None derives a power-of-two mod from one count pass
    so the rank window's input stays under target_sample at any corpus
    size — and stays deterministic across reruns."""
    from sslr_spark.functions.sampling import range_shard_assign

    df = spark.range(40_000).selectExpr("id as doc_id")
    a = (
        range_shard_assign(df, 4, sample_mod=None, target_sample=1000)
        .groupBy("shard").count().orderBy("shard").collect()
    )
    b = (
        range_shard_assign(df, 4, sample_mod=None, target_sample=1000)
        .groupBy("shard").count().orderBy("shard").collect()
    )
    assert a == b
    assert sum(r["count"] for r in a) == 40_000
    # expected sample 40000/64 = 625 <= 1000; 32 would give 1250 > 1000
    # (the derivation is observable only via determinism + correctness,
    # so pin the arithmetic directly)
    n, mod = 40_000, 1
    while n // mod > 1000:
        mod *= 2
    assert mod == 64


# ------------------------------------------------------------------
# corpus snapshot diff
# ------------------------------------------------------------------

def test_corpus_diff_statuses(spark):
    from sslr_spark.functions.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "goes away"), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new"), (5, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert out == {
        1: "unchanged", 2: "changed", 3: "removed", 4: "added",
        5: "unchanged",  # null text fingerprints equal, not 'added'
    }


def test_corpus_diff_fingerprints_ride_along(spark):
    from sslr_spark.functions.dedup import corpus_diff

    old = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "b")], "doc_id long, text string")
    r = corpus_diff(old, new).collect()[0]
    assert r.fp_old != r.fp_new and len(r.fp_old) == 32


def test_corpus_diff_shuffles_fingerprints_not_documents(spark):
    """The exchange must carry (key, fp), not documents: md5 collapses
    the text BELOW the join, so the optimized plan's join inputs
    project only the two fingerprint columns."""
    from sslr_spark.functions.dedup import corpus_diff

    old = spark.range(100).selectExpr("id as doc_id", "repeat('x', 10) as text")
    df = corpus_diff(old, old)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # the join node sees fp columns; the text column appears only
    # inside the md5 projections beneath it
    join_part = opt.split("Join")[0]
    assert "text" not in join_part


# ------------------------------------------------------------------
# IVF cell drift
# ------------------------------------------------------------------

def test_ivf_cell_drift_flags_hot_cell(spark):
    from sslr_spark.functions.similarity import ivf_cell_drift

    # two well-separated unit centroids on axes 0 and 1
    def vec(axis, n=4, eps=0.0):
        v = [eps] * n
        v[axis] = 1.0
        return v

    corpus = spark.createDataFrame(
        [(0, vec(0)), (1, vec(1))]
        + [(i, vec(i % 2, eps=0.01)) for i in range(2, 42)],
        "vec_id long, embedding array<double>",
    )
    # batch piles entirely into cell 0's neighborhood
    batch = spark.createDataFrame(
        [(100 + i, vec(0, eps=0.02)) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = {r.cell: r for r in ivf_cell_drift(
        corpus, batch, [0, 1], warn_ratio=1.5).collect()}
    assert len(out) == 2
    assert out[0].drifted  # 100% of batch vs ~50% of corpus
    assert not out[1].drifted
    assert out[0].batch_count == 10 and out[1].batch_count == 0
    assert out[0].corpus_ppm + out[1].corpus_ppm in (999999, 1000000, 1000001)


def test_ivf_cell_drift_empty_corpus_cell_drifts_on_any_batch(spark):
    from sslr_spark.functions.similarity import ivf_cell_drift

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(10, [0.1, 0.99])], "vec_id long, embedding array<double>"
    )
    out = {r.cell: r for r in ivf_cell_drift(
        corpus, batch, [0, 1]).collect()}
    assert out[1].drifted  # batch landed where corpus share is minority


# ------------------------------------------------------------------
# phrase blocklist
# ------------------------------------------------------------------

def test_blocklist_phrases_count_occurrences(spark):
    docs = spark.createDataFrame(
        [
            (1, "click here now to win big money click here"),
            (2, "no matches at all in this one"),
            (3, "heretical clicks here"),  # substrings must NOT match
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in blocklist_filter(
            docs, ["click here", "win big money"]
        ).collect()
    }
    assert out[1].n_banned == 3  # two 'click here' + one phrase
    assert not out[1].keep
    assert out[2].n_banned == 0 and out[2].keep
    assert out[3].n_banned == 0 and out[3].keep


def test_blocklist_phrases_overlap_counts_each(spark):
    docs = spark.createDataFrame(
        [(1, "a a a")], "doc_id long, text string"
    )
    out = blocklist_filter(docs, ["a a"]).collect()[0]
    assert out.n_banned == 2  # positions 0 and 1 both match


def test_blocklist_rejects_empty_entry(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        blocklist_filter(docs, ["ok", "  "])


def test_blocklist_mixed_lengths_still_broadcast(spark):
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4")], "doc_id long, text string"
    )
    p = plan_of(blocklist_filter(docs, ["w1", "w2 w3", "w2 w3 w4"]))
    # one broadcast semi join per phrase length; the only non-broadcast
    # join allowed is the final doc_id join back to the base
    assert p.count("BroadcastHashJoin") == 3
    for line in p.splitlines():
        if "SortMergeJoin" in line:
            assert "doc_id" in line


# ------------------------------------------------------------------
# incremental containment
# ------------------------------------------------------------------

def test_incremental_containment_flags_excerpt(spark, corpus):
    from sslr_spark.functions.dedup import incremental_containment_dedup

    # batch doc 10 is an excerpt (the body) of corpus doc 1
    batch = spark.createDataFrame(
        [(10, " ".join(f"tok{i}" for i in range(40))),
         (11, "completely novel text having nothing in common at all")],
        "doc_id long, text string",
    )
    with D.cache_scope():
        out = {
            r.doc_id: r
            for r in incremental_containment_dedup(
                batch, corpus, threshold=0.9
            ).collect()
        }
    assert out[10].contained and out[10].match_id == 1
    assert out[10].containment == 1.0
    assert not out[11].contained and out[11].match_id is None


def test_incremental_containment_never_corpus_x_corpus(spark, corpus):
    from sslr_spark.functions.dedup import incremental_containment_dedup

    batch = spark.createDataFrame(
        [(10, "tok1 tok2 tok3 tok4")], "doc_id long, text string"
    )
    with D.cache_scope():
        df = incremental_containment_dedup(batch, corpus)
        p = plan_of(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


# ------------------------------------------------------------------
# byte-budget shards
# ------------------------------------------------------------------

def test_shard_by_budget_packs_greedy_next_fit(spark):
    from sslr_spark.functions.sampling import shard_by_budget

    df = spark.createDataFrame(
        [(1, "a", 40), (2, "a", 40), (3, "a", 40), (4, "a", 200),
         (5, "a", 10), (6, "b", 60)],
        "doc_id long, source string, n_chars long",
    )
    out = {r.doc_id: r.shard for r in shard_by_budget(df, 100).collect()}
    # 40+40 fill shard 0; third 40 starts at 80 -> still shard 0
    # (next-fit: shard = before div budget), 200 starts at 120 ->
    # shard 1 (overflows by one doc), 10 starts at 320 -> shard 3
    assert out[1] == 0 and out[2] == 0 and out[3] == 0
    assert out[4] == 1 and out[5] == 3
    assert out[6] == 0  # group 'b' numbers independently


def test_shard_by_budget_validation_and_single_exchange(spark):
    from sslr_spark.functions.sampling import shard_by_budget

    df = spark.createDataFrame(
        [(1, "a", 10)], "doc_id long, source string, n_chars long"
    )
    with pytest.raises(ValueError):
        shard_by_budget(df, 0)
    p = plan_of(shard_by_budget(df, 100))
    assert p.count("Exchange") <= 2  # one hash exchange (+AQE read)
    assert "rangepartitioning" not in p.lower()  # no global sort


# ------------------------------------------------------------------
# curation pipeline: round-9 gate stages
# ------------------------------------------------------------------

def test_curation_gates_order_and_funnel(spark):
    from sslr_spark.curation import curate_documents

    docs = spark.createDataFrame(
        [
            (1, "en", "a", "the quick brown fox jumps over the lazy dog "
                           "and keeps running through the field today"),
            (2, "en", "a", "mojibake poison � " + "word " * 20),
            (3, "en", "a", "the quick brown fox jumps over the lazy dog "
                           "and keeps running through the field today"),
            (4, "en", "b", "banned content here " + "the a of and " * 10),
        ],
        "doc_id long, lang string, source string, text string",
    )
    res = curate_documents(
        docs,
        quality_weights=[0.0, 0.0, 0.0, 0.0],
        quality_bias=1.0,
        keep_fraction=1.0,
        gopher=False,
        mojibake=True,
        blocklist=["banned"],
        with_funnel=True,
    )
    ids = {r.doc_id for r in res.df.collect()}
    assert 2 not in ids  # mojibake screen
    assert 4 not in ids  # blocklist
    assert ids == {1}   # 3 is an exact dup of 1
    # funnel records the stages in production order
    stages = list(res.funnel)
    assert stages.index("mojibake") < stages.index("blocklist")
    assert stages.index("blocklist") < stages.index("exact_dedup")
    assert res.funnel["mojibake"] == 3
    assert res.funnel["blocklist"] == 2


def test_curation_config_accepts_gate_keys(tmp_path):
    from sslr_spark.curation import load_curation_config

    cfg = load_curation_config(
        '{"source": "/s", "output": "/o", "mojibake": true, '
        '"blocklist": ["bad word"], "blocklistMaxPpm": 5000, '
        '"keepFraction": 1.0}'
    )
    assert cfg.mojibake and cfg.blocklist == ["bad word"]
    assert cfg.blocklist_max_ppm == 5000
    from sslr_spark.config import ConfigError
    import pytest as _pt
    with _pt.raises(ConfigError):
        load_curation_config(
            '{"source": "/s", "output": "/o", "blockList": []}'
        )


# ------------------------------------------------------------------
# dataset card
# ------------------------------------------------------------------

def test_dataset_card_sections(spark):
    from sslr_spark.functions.report import dataset_card

    docs = spark.createDataFrame(
        [
            (1, "en", "a", "one two three"),          # 13 chars
            (2, "en", "a", "one two three"),          # exact dup of 1
            (3, "fr", "b", "quatre cinq"),
            (4, None, "b", None),                     # null lang/text
        ],
        "doc_id long, lang string, source string, text string",
    )
    rows = {
        (r.section, r.k): r.v for r in dataset_card(docs).collect()
    }
    assert rows[("total", "docs")] == 4
    assert rows[("total", "chars")] == 13 + 13 + 11 + 0
    assert rows[("total", "words")] == 3 + 3 + 2 + 0
    assert rows[("lang", "en")] == 2 and rows[("lang", "?")] == 1
    assert rows[("source", "a")] == 2 and rows[("source", "b")] == 2
    assert rows[("dup", "exact_groups")] == 3
    # 1 of 4 docs is a non-keeper duplicate -> 250000 ppm
    assert rows[("dup", "exact_dup_ppm")] == 250_000
    # p50: smallest length with cum >= ceil(0.5*4)=2 -> lengths
    # sorted [0, 11, 13, 13]; cum at 11 is 2 -> p50 = 11
    assert rows[("len_quantile", "p50")] == 11
    assert rows[("len_quantile", "p99")] == 13


def test_dataset_card_no_raw_row_window(spark):
    """The quantile window must run over the length histogram, not
    raw documents: the plan's only unpartitioned window sits above a
    (len, count) aggregate."""
    from sslr_spark.functions.report import dataset_card

    docs = spark.range(100).selectExpr(
        "id as doc_id", "'en' as lang", "'s' as source",
        "repeat('x', cast(id % 7 as int)) as text"
    )
    df = dataset_card(docs)
    rows = {(r.section, r.k): r.v for r in df.collect()}
    assert rows[("total", "docs")] == 100
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" in opt  # the histogram cumulative exists


def test_curation_gate_semi_joins_reuse_exchange(spark, monkeypatch):
    """The rule stages are flags-frame semi joins ON PURPOSE (round 9:
    when the survivor frame fed several subtrees of one composed plan,
    the semi join's broadcast keep-id exchange materialized once where
    a scan-fused predicate re-evaluated its heavy token lambdas per
    subtree — 3.0-3.2 s vs 3.9-5.5 s warm at sf0.1 for the full chain).
    Each stage now lands, so the shape is pinned on the frame each rule
    stage lands. The bare-column gopher_keep / mojibake_keep helpers
    remain for single-consumer chains and must stay expression-equal
    to the flags (pinned in their own tests)."""
    import sslr_spark.curation as curation

    landed_plans = []
    real_land = curation.land

    def recording_land(frame, *args, **kwargs):
        landed_plans.append(plan_of(frame))
        return real_land(frame, *args, **kwargs)

    monkeypatch.setattr(curation, "land", recording_land)
    docs = spark.createDataFrame(
        [(1, "en", "s", "text here")],
        "doc_id long, lang string, source string, text string",
    )
    res = curation.curate_documents(
        docs,
        quality_weights=[0, 0, 0, 0],
        quality_bias=0.0,
        keep_fraction=1.0,
        exact_dedup=False,
        mojibake=True,
        n_shards=None,
    )
    res.release()
    # one landing per gate stage (mojibake, gopher), each a semi join
    assert len(landed_plans) == 2
    assert all("LeftSemi" in p for p in landed_plans)


# ------------------------------------------------------------------
# LM quality gate
# ------------------------------------------------------------------

def test_lm_gate_drops_shuffled_text_keeps_natural(spark):
    """The bigram model scores local word order: natural repeated
    phrasing outscores token salad with identical unigram stats."""
    from sslr_spark.functions.quality_model import lm_quality_gate

    natural = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, "en", natural) for i in range(8)]
    # two docs of the same words, shuffled (broken bigrams)
    rows += [(100, "en", "mat the on sat cat rug and dog the sat on the"),
             (101, "en", "on rug the sat and mat dog cat the on sat the")]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    kept = {
        r.doc_id
        for r in lm_quality_gate(docs, 0.8, vocab_size=20).collect()
    }
    assert 100 not in kept and 101 not in kept
    assert all(i in kept for i in range(8))


def test_lm_gate_per_group_thresholds(spark):
    from sslr_spark.functions.quality_model import lm_quality_gate

    docs = spark.createDataFrame(
        [(i, "en" if i < 10 else "fr",
          ("one two three four " * 3) if i % 2 else
          ("four three two one " * 3))
         for i in range(20)],
        "doc_id long, lang string, text string",
    )
    out = lm_quality_gate(docs, 0.5).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    # each group gated independently at ~50% (ties may widen)
    assert set(by_lang) == {"en", "fr"}
    assert 5 <= len(by_lang["en"]) <= 10
    assert 5 <= len(by_lang["fr"]) <= 10


def test_score_bp_gate_handles_negative_scores(spark):
    from sslr_spark.functions.quality_model import score_bp_quantile_gate

    scored = spark.createDataFrame(
        [(i, "g", -i * 100) for i in range(10)],
        "doc_id long, g string, score_bp int",
    )
    kept = {r.doc_id for r in score_bp_quantile_gate(scored, 0.3, "g").collect()}
    assert kept == {0, 1, 2}  # highest (least negative) three


# ------------------------------------------------------------------
# line-level cleaning
# ------------------------------------------------------------------

def test_dedup_doc_lines(spark):
    from sslr_spark.functions.text import dedup_doc_lines

    docs = spark.createDataFrame(
        [
            (1, "a\ncookie banner\nb\ncookie banner\n\n  \na"),
            (2, ""),
            (3, None),
            (4, "  padded  \npadded"),  # trimmed match collapses them
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_doc_lines(docs).collect()}
    assert out[1].text == "a\ncookie banner\nb"
    assert out[1].n_lines == 5 and out[1].n_dup_lines == 2
    assert out[2].n_lines == 0 and out[2].text == ""
    assert out[3].n_lines == 0
    assert out[4].text == "padded" and out[4].n_dup_lines == 1


def test_dedup_doc_lines_zero_shuffle(spark):
    from sslr_spark.functions.text import dedup_doc_lines

    docs = spark.range(5).selectExpr("id as doc_id", "'a\nb' as text")
    assert "Exchange" not in plan_of(dedup_doc_lines(docs))


def test_strip_boilerplate_lines(spark):
    from sslr_spark.functions.text import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "unique A\nfooter\nmore A"),
            (2, "footer\nunique B"),
            (3, "unique C\nfooter"),
            (4, "footer"),  # reduced to nothing
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_boilerplate_lines(docs, 3).collect()}
    assert out[1].text == "unique A\nmore A" and out[1].n_stripped == 1
    assert out[2].text == "unique B"
    assert out[4].text == "" and out[4].n_stripped == 1
    # min_docs counts DISTINCT docs: a line twice in ONE doc survives
    docs2 = spark.createDataFrame(
        [(1, "x\nx"), (2, "y")], "doc_id long, text string"
    )
    out2 = {r.doc_id: r for r in strip_boilerplate_lines(docs2, 2).collect()}
    assert out2[1].n_stripped == 0


def test_strip_boilerplate_never_broadcasts_hot_set(spark):
    """The hot-line anti join must stay AQE-decided: boilerplate on a
    real crawl is a huge set — a forced broadcast is the scale bug the
    hot-shingle cap exists to avoid."""
    from sslr_spark.functions.text import strip_boilerplate_lines

    docs = spark.range(20).selectExpr("id as doc_id", "'l1\nl2' as text")
    opt = strip_boilerplate_lines(docs)._jdf.queryExecution() \
        .optimizedPlan().toString()
    import re
    # no broadcast HINT on the anti join's build side (AQE may still
    # choose broadcast at runtime, which is fine)
    assert "ResolvedHint" not in opt


# ------------------------------------------------------------------
# embedding hygiene screen
# ------------------------------------------------------------------

def test_embedding_quality_flags(spark):
    from sslr_spark.functions.similarity import embedding_quality

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.0, 0.0]), (3, [float("nan"), 1.0]),
         (4, [1.0]), (5, None), (6, [float("inf"), 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in embedding_quality(df, 2).collect()}
    assert out[1].keep and out[1].norm_sq_micros == 5_000_000
    assert not out[2].keep  # zero norm
    assert not out[3].keep and out[3].n_bad == 1
    assert not out[4].keep  # wrong dim
    assert not out[5].keep and out[5].dim == 0  # null vector
    assert not out[6].keep and out[6].n_bad == 1  # inf
    assert out[3].norm_sq_micros == 0  # poisoned norm is no norm


def test_embedding_quality_zero_shuffle(spark):
    from sslr_spark.functions.similarity import embedding_quality

    df = spark.range(10).selectExpr(
        "id as vec_id", "array(1.0, 2.0) as embedding"
    )
    assert "Exchange" not in plan_of(embedding_quality(df, 2))


def test_curation_lm_stage_runs_after_quality_gate(spark):
    from sslr_spark.curation import curate_documents

    natural = "the cat sat on the mat and the dog sat on the rug here now"
    rows = [(i, "en", "s", natural) for i in range(8)]
    rows += [(100, "en", "s",
              "mat the on sat cat rug and dog the sat on the here now")]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    res = curate_documents(
        docs,
        quality_weights=[0.0, 0.0, 0.0, 0.0],
        quality_bias=1.0,
        keep_fraction=1.0,
        gopher=False,
        exact_dedup=False,
        lm_keep_fraction=0.8,
        lm_vocab_size=20,
        with_funnel=True,
    )
    ids = {r.doc_id for r in res.df.collect()}
    assert 100 not in ids  # the shuffled doc loses the LM cut
    assert "lm_gate" in res.funnel
    stages = list(res.funnel)
    assert stages.index("quality_gate" if "quality_gate" in stages
                        else "input") < stages.index("lm_gate")


def test_curation_config_lm_keys(tmp_path):
    from sslr_spark.curation import load_curation_config

    cfg = load_curation_config(
        '{"source": "/s", "output": "/o", "keepFraction": 1.0, '
        '"lmKeepFraction": 0.7, "lmVocabSize": 1000}'
    )
    assert cfg.lm_keep_fraction == 0.7 and cfg.lm_vocab_size == 1000
    cfg2 = load_curation_config(
        '{"source": "/s", "output": "/o", "keepFraction": 1.0}'
    )
    assert cfg2.lm_keep_fraction is None
