"""Unit tests for the composite-key range operators (P6/P7/O3/O4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sslr_spark.operators.keyrange import (
    key_at_offset,
    min_key,
    range_predicate,
)


def _df(spark):
    rows = [(t, s) for t in ["a", "b", "c"] for s in range(10)]
    return spark.createDataFrame(rows, "tenant string, seq long")


def test_range_predicate_per_column_conjunction(spark):
    """The reference's semantics are per-column conjunction, NOT
    lexicographic tuple order (internal/deletes.go:334-336): the range
    ('a',5)..('c',2) over-covers by excluding seq>2 rows even for
    middle tenants."""
    df = _df(spark)
    pred = range_predicate(["tenant", "seq"], ("a", 2), ("c", 7))
    got = {(r.tenant, r.seq) for r in df.filter(pred).collect()}
    # per-column conjunction: every column independently bounded
    assert got == {(t, s) for t in "abc" for s in range(2, 8)}
    # NOT the lexicographic slice, which would include e.g. ('b', 0):
    assert ("b", 0) not in got


def test_range_predicate_lower_bound_only(spark):
    df = _df(spark)
    pred = range_predicate(["tenant", "seq"], ("b", 3), None)
    got = {(r.tenant, r.seq) for r in df.filter(pred).collect()}
    assert got == {(t, s) for t in "bc" for s in range(3, 10)}


def test_key_at_offset_and_clamp(spark):
    df = _df(spark)
    assert key_at_offset(df, ["tenant", "seq"], 1) == ("a", 0)
    assert key_at_offset(df, ["tenant", "seq"], 12) == ("b", 1)
    # offset past the end clamps to the last key (reference :140-156)
    assert key_at_offset(df, ["tenant", "seq"], 10_000) == ("c", 9)
    # with a start key: offset counts from there
    assert key_at_offset(df, ["tenant", "seq"], 1, start_key=("b", 0)) == ("b", 0)


def test_min_key(spark):
    df = _df(spark)
    assert min_key(df, ["tenant", "seq"]) == ("a", 0)
    assert min_key(df.filter(F.col("tenant") == "zz"), ["tenant", "seq"]) is None


def test_discover_primary_keys_sorts_names():
    """Composite PK columns are name-sorted before use, preserving the
    reference's deterministic key order (internal/job.go:214-221)."""
    from pyspark.sql import types as T

    from sslr_spark.catalog import discover_primary_keys

    schema = T.StructType(
        [T.StructField("tenant", T.StringType()), T.StructField("seq", T.LongType())]
    )
    for pks in (["seq", "tenant"], ["tenant", "seq"]):
        assert discover_primary_keys({"t": pks}, "t", schema) == ["seq", "tenant"]


@pytest.mark.slow
def test_key_at_offset_scalable_equals_window(spark):
    """The quantile+top-k scale path returns exactly the window
    form's answer, offset by offset — including clamps and scoping."""
    from sslr_spark.operators.keyrange import key_at_offset, key_at_offset_scalable

    df = spark.createDataFrame(
        [(i % 97, i) for i in range(2000)], "grp long, seq long"
    ).repartition(8)
    for off in (1, 2, 500, 1000, 1999, 2000, 50_000):
        assert key_at_offset_scalable(df, ["grp", "seq"], off) == key_at_offset(
            df, ["grp", "seq"], off
        ), f"offset {off}"
    # scoped lower bound
    assert key_at_offset_scalable(
        df, ["grp", "seq"], 5, start_key=(90, 0)
    ) == key_at_offset(df, ["grp", "seq"], 5, start_key=(90, 0))
    # non-numeric leading key falls back to the window form
    sdf = spark.createDataFrame([(f"k{i:04d}", i) for i in range(100)], "k string, v long")
    assert key_at_offset_scalable(sdf, ["k"], 42) == ("k0041",)


def test_key_at_offset_scalable_no_single_partition_sort(spark):
    """The ordered step must be a distributed top-k
    (TakeOrderedAndProject), never a single-reducer global sort."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, i) for i in range(1000)], "a long, b long"
    ).repartition(8)
    plan = (
        df.orderBy(F.col("a").asc(), F.col("b").asc())
        .limit(17)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan
