"""Sampling operators: weighted reservoir sampling."""
from __future__ import annotations

import pytest


# ------------------------------------------------------------------
# weighted_sample: NULL keys are a loud caller bug
# ------------------------------------------------------------------

def test_weighted_sample_null_key_raises(spark):
    from py4j.protocol import Py4JJavaError

    from sslr_spark.functions.sampling import weighted_sample

    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("c", 3)], "doc_id string, w int"
    )
    with pytest.raises(Exception) as exc:
        weighted_sample(df, "doc_id", "w", k=2).collect()
    assert "NULL" in str(exc.value)


def test_weighted_sample_still_deterministic_after_null_guard(spark):
    from sslr_spark.functions.sampling import weighted_sample

    df = spark.createDataFrame(
        [(f"d{i}", 1 + i % 4) for i in range(100)], "doc_id string, w int"
    )
    a = {r.doc_id for r in weighted_sample(df, "doc_id", "w", 10).collect()}
    b = {r.doc_id for r in weighted_sample(df, "doc_id", "w", 10).collect()}
    assert a == b and len(a) == 10
