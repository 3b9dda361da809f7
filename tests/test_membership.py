"""Bloom-filter membership + duplicate-n-gram coverage + semantic
dedup behavior tests (functions/membership.py, functions/dedup.py
round-3 additions)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sslr_spark.functions import dedup as D
from sslr_spark.functions import membership as B

M, K = 2048, 3


def _keys(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "k string")


def test_bloom_no_false_negatives(spark):
    """Classic Bloom guarantee: every inserted key probes member."""
    built = _keys(spark, [f"key{i}" for i in range(200)])
    bits = B.bloom_build(built, "k", M, K)
    probed = B.bloom_probe(built, bits, "k", M, K)
    assert probed.filter(~F.col("bloom_member")).count() == 0


def test_bloom_rejects_most_nonmembers(spark):
    """With ~10 bits/key the FP rate is a few percent, not ~100%."""
    built = _keys(spark, [f"key{i}" for i in range(200)])
    bits = B.bloom_build(built, "k", M, K)
    other = _keys(spark, [f"other{i}" for i in range(500)])
    fp = B.bloom_probe(other, bits, "k", M, K).filter("bloom_member").count()
    assert fp < 100  # expected ~ (1 - e^(-K*200/M))^K * 500 ≈ 10


def test_bloom_build_bounded_and_deterministic(spark):
    built = _keys(spark, [f"key{i}" for i in range(200)])
    bits = B.bloom_build(built, "k", M, K)
    n = bits.count()
    assert n <= min(M, 200 * K)
    assert bits.agg(F.min("pos"), F.max("pos")).first() >= (0,)
    assert bits.first() is not None
    # deterministic: same build twice -> identical bit sets
    again = B.bloom_build(built, "k", M, K)
    assert bits.exceptAll(again).count() == 0
    assert again.exceptAll(bits).count() == 0


def test_bloom_null_and_duplicate_keys(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("a",), ("b",)], "k string"
    )
    bits = B.bloom_build(df, "k", M, K)
    probed = B.bloom_probe(df, bits, "k", M, K)
    # every input row (incl. the null key and both duplicate rows)
    # keeps exactly one flag, and all are members of their own build
    assert probed.count() == 4
    assert probed.filter(~F.col("bloom_member")).count() == 0


def test_bloom_probe_seed_isolation(spark):
    """A filter built under one seed says nothing under another."""
    built = _keys(spark, [f"key{i}" for i in range(50)])
    bits = B.bloom_build(built, "k", M, K, seed="s1")
    probed = B.bloom_probe(built, bits, "k", M, K, seed="s2")
    # under the wrong seed the member rate collapses to the FP rate
    assert probed.filter("bloom_member").count() < 25


def test_dup_ngram_coverage_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # shares the 3-gram run with doc 2
            (2, "a b c d x y"),
            (3, "p q r s t u"),        # unique content
            (4, "a b"),                # shorter than n -> zero shingles
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.dup_ngram_coverage(docs, n=3).collect()
    }
    assert out[4]["n_shingles"] == 0 and out[4]["dup_coverage"] == 0.0
    assert out[3]["n_dup"] == 0
    # docs 1 and 2 share exactly the shingles 'a b c' and 'b c d'
    assert out[1]["n_dup"] == 2 and out[2]["n_dup"] == 2
    assert abs(out[1]["dup_coverage"] - 2 / 4) < 1e-9


def test_semantic_dedup_invariants(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = D.semantic_dedup(emb, [1, 2, 3, 4], threshold=0.3)
    rows = out.collect()
    assert len(rows) == emb.count()  # one verdict per vector
    # per cell, the minimum id is never a duplicate (it has no
    # lower-id neighbor to be a duplicate OF)
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        keeper = min(members, key=lambda r: r["vec_id"])
        assert not keeper["is_dup"]


def test_incremental_exact_dedup_is_exact(spark):
    """Bloom prefilter must only prune: result equals the plain exact
    semi-join, including under a deliberately tiny (FP-heavy) m."""
    corpus = spark.createDataFrame(
        [(i, f"text {i % 30}") for i in range(100)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(200 + i, f"text {i}") for i in range(60)], "doc_id long, text string"
    )
    # m=64 forces lots of bloom false positives; exactness must hold
    out = D.incremental_exact_dedup(batch, corpus, m=64, k=3)
    got = {r["doc_id"]: r["in_corpus"] for r in out.collect()}
    assert len(got) == 60
    for i in range(60):
        assert got[200 + i] == (i < 30), i
    assert set(out.columns) == {"doc_id", "text", "in_corpus"}


def test_incremental_exact_dedup_reuses_prebuilt_bits(spark):
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], "doc_id long, text string"
    )
    bits = B.bloom_build(
        corpus.select(F.md5("text").alias("__h")), "__h", M, K, seed="corpus"
    ).persist()
    batch = spark.createDataFrame(
        [(100, "doc 7"), (101, "brand new")], "doc_id long, text string"
    )
    out = D.incremental_exact_dedup(batch, corpus, m=M, k=K, bits=bits)
    got = {r["doc_id"]: r["in_corpus"] for r in out.collect()}
    assert got == {100: True, 101: False}
    bits.unpersist()


# -- property tests -------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_key_st = st.text(min_size=0, max_size=40)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    members=st.sets(_key_st, min_size=1, max_size=30),
    probes=st.sets(_key_st, max_size=30),
)
@pytest.mark.slow
def test_bloom_property_no_false_negatives_any_unicode(
    spark, members, probes
):
    """For ANY unicode key set (quotes, separators, surrogate-adjacent
    chars): every member probes true, and every probe verdict is
    consistent with the classic guarantee (non-members may flip true,
    members never flip false)."""
    mdf = spark.createDataFrame([(m,) for m in members], "k string")
    bits = B.bloom_build(mdf, "k", 512, 3)
    both = spark.createDataFrame(
        [(x,) for x in members | probes], "k string"
    )
    got = {
        r["k"]: r["bloom_member"]
        for r in B.bloom_probe(both, bits, "k", 512, 3).collect()
    }
    for m in members:
        assert got[m] is True, repr(m)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus_texts=st.lists(_key_st, min_size=1, max_size=25),
    batch_texts=st.lists(_key_st, min_size=1, max_size=25),
)
@pytest.mark.slow
def test_incremental_dedup_property_matches_exact_join(
    spark, corpus_texts, batch_texts
):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(batch_texts)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["in_corpus"]
        for r in D.incremental_exact_dedup(batch, corpus, m=256, k=2).collect()
    }
    corpus_set = set(corpus_texts)
    for i, t in enumerate(batch_texts):
        assert got[1000 + i] == (t in corpus_set), repr(t)

