"""As-of (time-travel) join — an operator Spark lacks natively.

For each left row, attach the latest right row with
``right.ts <= left.ts`` within the same ``by`` partition (the classic
point-in-time / market-data join; DuckDB spells it ASOF JOIN, which is
what the oracle runs).

Implementation is the scale-correct union+window form, not a join:
tag both sides, union, and take ``last_value(ignorenulls)`` of the
right payload over (by, ts) order. One shuffle on the ``by`` key,
no range-explosion, no per-group Python (contrast a merge_asof via
applyInPandas, which ships both sides through Arrow). Skewed ``by``
keys are handled by AQE; a salt column can be threaded through
``by_cols`` if one partition's timeline is pathologically hot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus for each name in
    ``value_cols`` a ``<name><suffix>`` column holding that column's
    value from the latest ``right`` row at-or-before the left row's
    ``ts_col`` (null if none)."""
    lt = left.withColumn("__is_left", F.lit(1))
    rt = right.select(
        *by_cols,
        ts_col,
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
    ).withColumn("__is_left", F.lit(0))

    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    for c in rt.columns:
        if c not in lt.columns:
            lt = lt.withColumn(c, F.lit(None).cast(dict(rt.dtypes)[c]))
    unioned = lt.unionByName(rt.select(*lt.columns))

    # right rows sort before left rows at equal ts => inclusive (<=)
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col(ts_col).asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = unioned
    for c in value_cols:
        out = out.withColumn(
            f"{c}{suffix}", F.last(F.col(f"{c}{suffix}"), ignorenulls=True).over(w)
        )
    return out.filter(F.col("__is_left") == 1).drop("__is_left")

