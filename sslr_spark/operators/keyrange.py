"""Composite-key range utilities (reference P6/P7/O3/O4).

The reference defines a key-range chunk as a closed interval
[startKey, endKey] over composite PK values, with a deliberately
simplified *per-column conjunction* predicate — ``pk_i >= s_i AND
pk_i <= e_i`` for every key column — rather than true lexicographic
tuple comparison (documented at reference internal/deletes.go:334-336).
The over-coverage is safe because the repair rewrites whole chunks.
We replicate that exact semantic for parity.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_predicate(
    pk_cols: Sequence[str],
    start_key: Sequence | None,
    end_key: Sequence | None,
) -> Column:
    """Per-column conjunction range predicate (P6), matching
    ``whereClauseFromKeyRange`` (reference internal/deletes.go:331-357).
    ``start_key``/``end_key`` may be None for an open end (P7 uses a
    lower bound only)."""
    preds: list[Column] = []
    if start_key is not None:
        preds += [F.col(c) >= F.lit(v) for c, v in zip(pk_cols, start_key)]
    if end_key is not None:
        preds += [F.col(c) <= F.lit(v) for c, v in zip(pk_cols, end_key)]
    if not preds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, preds)


def key_at_offset(
    df: DataFrame, pk_cols: Sequence[str], offset: int, start_key: Sequence | None = None
) -> tuple | None:
    """The key ``offset`` rows into PK order from ``start_key``
    (reference getKeyAtOffset, internal/deletes.go:91-164), clamped to
    the last key when the offset runs past the end.

    Implemented with a window row_number. The reference only needs
    this to carve equal-count chunks — at scale prefer hash buckets
    (deletes.py) or ``repartitionByRange``, which carve chunks without
    a total order.
    """
    scoped = df.filter(range_predicate(pk_cols, start_key, None)).select(*pk_cols)
    w = Window.orderBy(*[F.col(c).asc() for c in pk_cols])
    ranked = scoped.withColumn("__rn", F.row_number().over(w))
    row = ranked.filter(F.col("__rn") == offset).drop("__rn").first()
    if row is None:
        # clamp at table end: return the last key (reference :140-156)
        row = ranked.orderBy(F.col("__rn").desc()).drop("__rn").first()
    return tuple(row) if row is not None else None


_NUMERIC_TYPES = (
    # approxQuantile supports NumericType only (DateType is rangeable
    # but rejected by Spark's quantile sketch — such keys take the
    # window fallback)
    "byte", "short", "integer", "long", "float", "double",
)


def key_at_offset_scalable(
    df: DataFrame,
    pk_cols: Sequence[str],
    offset: int,
    start_key: Sequence | None = None,
    max_tail_rows: int = 10_000,
) -> tuple | None:
    """Scale path for :func:`key_at_offset` — same result, no global
    single-reducer sort (an empty-partition Window over a 100 TB key
    set is one straggler task doing all the work).

    Strategy: ``approxQuantile`` on the leading key column finds a
    pivot with ~``offset`` rows below it (error bounded so the
    residual fits ``max_tail_rows``); one exact count below the pivot;
    then only the residual gap is ordered — and that runs as a
    distributed top-k (TakeOrderedAndProject: per-partition heaps
    merged on the driver), never an Exchange SinglePartition.

    Falls back to the window form when the leading key column is not
    rangeable (approxQuantile needs numeric/date).
    """
    if offset <= 0:
        # degenerate input: keep exact parity with the window form's
        # clamp semantics rather than replicate them here
        return key_at_offset(df, pk_cols, offset, start_key)
    scoped = df.filter(range_predicate(pk_cols, start_key, None)).select(*pk_cols)
    first = pk_cols[0]
    if scoped.schema[first].dataType.typeName() not in _NUMERIC_TYPES:
        return key_at_offset(df, pk_cols, offset, start_key)

    n = scoped.count()
    if n == 0:
        return None
    offset = min(offset, n)  # clamp at table end (reference :140-156)

    rel_err = max(1e-6, min(0.001, max_tail_rows / (2.0 * n)))
    pivot = scoped.stat.approxQuantile(first, [offset / n], rel_err)[0]
    c = scoped.filter(F.col(first) < pivot).count()

    if abs(offset - c) > 10 * max_tail_rows:
        # heavy duplication on the leading key column defeated the
        # quantile (ties sit on one side of the strict-< count) —
        # fall back to the exact window form rather than collect an
        # unbounded tail
        return key_at_offset(df, pk_cols, offset, start_key)

    order = [F.col(x).asc() for x in pk_cols]
    if c < offset:
        # target is in [pivot, ...): ascending top-k of the residual,
        # positions c+1 .. offset
        tail = (
            scoped.filter(F.col(first) >= pivot).orderBy(*order)
            .limit(offset - c).collect()
        )
        row = tail[-1] if tail else None
    else:
        # quantile overshot: target sits just below the pivot —
        # descending top-k, positions c down to offset
        tail = (
            scoped.filter(F.col(first) < pivot)
            .orderBy(*[F.col(x).desc() for x in pk_cols])
            .limit(c - offset + 1).collect()
        )
        row = tail[-1] if tail else None
    return tuple(row) if row is not None else None


def min_key(df: DataFrame, pk_cols: Sequence[str]) -> tuple | None:
    """Smallest key in PK order plus nothing else (reference
    getPrimaryKeyRange's min-key probe, internal/deletes.go:271-323).
    One aggregate on a struct — no total sort."""
    row = df.agg(F.min(F.struct(*[F.col(c) for c in pk_cols])).alias("k")).first()
    return tuple(row["k"]) if row and row["k"] is not None else None

