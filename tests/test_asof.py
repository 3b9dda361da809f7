"""As-of join: the union+window operator against an independent
pandas ``merge_asof`` over the collected rows; edge cases (no prior
right row, equal timestamps)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from sslr_spark.operators.asof import asof_join


def _data(spark):
    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [
            (1, t(0), "e1"), (1, t(5), "e2"), (1, t(10), "e3"),
            (2, t(3), "e4"), (3, t(1), "e5"),
        ],
        "user_id long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, t(5), 100.0), (1, t(8), 200.0), (2, t(4), 300.0)],
        "user_id long, ts timestamp, price double",
    )
    return left, right


def test_asof_semantics(spark):
    left, right = _data(spark)
    got = {
        (r.user_id, r.name): r.price_asof
        for r in asof_join(left, right, ["user_id"], "ts", ["price"]).collect()
    }
    assert got == {
        (1, "e1"): None,       # no right row at-or-before t0
        (1, "e2"): 100.0,      # equal timestamp is inclusive
        (1, "e3"): 200.0,
        (2, "e4"): None,       # right row is after the left row
        (3, "e5"): None,       # user with no right rows at all
    }


def _merge_asof_reference(left, right, key, value) -> dict:
    """Independent reference: ``pd.merge_asof(by="user_id")`` over the
    collected rows, as {left key: as-of value}."""
    import pandas as pd

    lp = left.toPandas().sort_values("ts")
    rp = right.select(
        "user_id", "ts", F.col(value).alias(f"{value}_asof")
    ).toPandas().sort_values("ts")
    out = pd.merge_asof(lp, rp, on="ts", by="user_id")
    keys = out[key].itertuples(index=False, name=None)
    return {
        k: None if pd.isna(v) else v for k, v in zip(keys, out[f"{value}_asof"])
    }


def _asof(left, right, key, value) -> dict:
    out = asof_join(left, right, ["user_id"], "ts", [value])
    return {tuple(r[c] for c in key): r[f"{value}_asof"] for r in out.collect()}


def test_asof_equals_merge_asof_reference(spark):
    left, right = _data(spark)
    key = ["user_id", "name"]
    assert _asof(left, right, key, "price") == _merge_asof_reference(
        left, right, key, "price"
    )


def test_asof_equals_merge_asof_reference_on_events(spark):
    from sslr_spark.queries import read_events

    ev = read_events(spark, "/root/testdata/sf0.001/").drop("ts_us")
    purchases = ev.filter(F.col("event_type") == "purchase")
    got = _asof(ev, purchases, ["event_id"], "value")
    assert got == _merge_asof_reference(ev, purchases, ["event_id"], "value")
    assert len(got) == 1000
