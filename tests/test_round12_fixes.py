"""Round 12 fixes: the two ADVICE r11 engine items and the opt-in
doc_id-unique contract guard.
"""

from __future__ import annotations

import math

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "pack my box with five dozen liquor jugs"),
    (4, "sphinx of black quartz judge my vow"),
    (5, "the quick brown fox jumps over the lazy dog again today"),
]


class TestDocIdContractGuard:
    def test_duplicate_doc_id_fails_loudly_in_debug_mode(self, spark, monkeypatch):
        from sslr_spark.functions.dedup import shingles

        monkeypatch.setenv("SSLR_DEBUG_CONTRACTS", "1")
        df = _docs(spark, DOCS + [(1, "split tail of document one")])
        with pytest.raises(AssertionError, match="doc_id-unique contract"):
            shingles(df).count()

    def test_unique_doc_ids_pass_in_debug_mode(self, spark, monkeypatch):
        from sslr_spark.functions.dedup import shingles

        monkeypatch.setenv("SSLR_DEBUG_CONTRACTS", "1")
        assert shingles(_docs(spark, DOCS)).count() > 0

    def test_guard_off_by_default(self, spark, monkeypatch):
        from sslr_spark.functions.dedup import shingles

        monkeypatch.delenv("SSLR_DEBUG_CONTRACTS", raising=False)
        df = _docs(spark, DOCS + [(1, "split tail of document one")])
        # no guard: the (documented) silent-wrong-multiplicity case
        shingles(df).count()


class TestMaxDocFreqZeroMeansOff:
    """ADVICE r11 item 2: max_shingle_doc_freq=0 must mean 'cap off'
    across the whole dedup family, not an empty result."""

    def test_prefix_generator_treats_zero_as_no_cap(self, spark):
        from sslr_spark.functions.dedup import ngram_jaccard_pairs_prefix

        df = _docs(spark, DOCS)
        with_zero = ngram_jaccard_pairs_prefix(
            df, threshold=0.5, max_shingle_doc_freq=0
        ).collect()
        with_none = ngram_jaccard_pairs_prefix(
            df, threshold=0.5, max_shingle_doc_freq=None
        ).collect()
        assert sorted(map(tuple, with_zero)) == sorted(map(tuple, with_none))
        assert with_zero  # docs 1/2/5 share most shingles


class TestDoubleArrayLiteral:
    def test_finite_values_round_trip_bitwise(self, spark):
        from sslr_spark.functions.similarity import _double_array_literal

        vals = [0.1, -3.7e300, 5e-324, 0.0, 123456.789]
        got = (
            spark.range(1)
            .select(_double_array_literal(vals).alias("a"))
            .first()["a"]
        )
        assert got == vals

    def test_non_finite_values_guard_to_lit(self, spark):
        from sslr_spark.functions.similarity import _double_array_literal

        vals = [1.0, float("inf"), float("-inf"), float("nan")]
        got = (
            spark.range(1)
            .select(_double_array_literal(vals).alias("a"))
            .first()["a"]
        )
        assert got[0] == 1.0
        assert got[1] == float("inf") and got[2] == float("-inf")
        assert math.isnan(got[3])
