"""Maintenance-I/O scale probe for the streaming near-dup index
compactors (VERDICT r3 task #5's measured evidence).

Simulates a long-running ingest — N epochs of R bucket rows landing
one at a time — under the two maintenance policies:

- ``incremental``: :func:`compact_neardup_index_incremental` after
  every epoch (the in-stream default since round 4) — folds the new
  epoch into a sealed segment and size-tiered-merges the smallest
  segments only when over ``max_segments``;
- ``full``: the offline full rewrite (``max_segments=1``) run at the
  same cadence (the pre-round-4 in-stream behavior) — every call
  rewrites the whole base.

Prints one JSON line with total and worst-single-call rewritten rows
for each policy. The point is the SHAPE: full-rewrite grows
O(N^2 * R) total with O(N * R) worst calls; incremental stays
O(N log N * R) total with calls bounded by the folded batch plus the
merged small segments. Double N and the ratio should roughly double.

Usage: python tools/stress_compaction.py [N_EPOCHS] [ROWS_PER_EPOCH]
Temp data under .bench_tmp/compact_probe (gitignored), removed after.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TMP = os.path.join(REPO, ".bench_tmp", "compact_probe")


def _mk_epoch(spark, target, e, n_rows, id_stride: int = 100_000):
    """One committed synthetic epoch across the three near-dup
    tables. CANONICAL synthesizer — tests/test_streaming.py imports
    this so the probe and the compactor tests can never drift on the
    table layout."""
    from pyspark.sql import functions as F

    base = spark.range(n_rows).selectExpr(
        f"id + {e * id_stride} as doc_id"
    ).withColumn("__epoch", F.lit(e))
    target.replace_partitions(
        "accepted", base.withColumn("text", F.lit(f"t{e}")), "__epoch"
    )
    target.replace_partitions(
        "__neardup_index_shingles",
        base.withColumn("shingle", F.concat(F.lit("s"), F.col("doc_id"))),
        "__epoch",
    )
    target.replace_partitions(
        "__neardup_index_buckets",
        base.withColumn("band", (F.col("doc_id") % 4).cast("int"))
        .withColumn("bucket", F.col("doc_id")),
        "__epoch",
    )


def main() -> None:
    n_epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from sslr_spark.session import get_spark
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.streaming.pipeline import (
        compact_neardup_index_incremental,
    )

    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    spark = get_spark(app_name="sslr_compact_probe")

    # -- incremental policy -------------------------------------------
    inc = ParquetDatabase(spark, os.path.join(TMP, "inc"))
    inc_total, inc_max = 0, 0
    for e in range(n_epochs):
        _mk_epoch(spark, inc, e, rows)
        s = compact_neardup_index_incremental(
            inc, keep_last=2, max_segments=8
        )
        inc_total += s["rewritten_rows"]
        inc_max = max(inc_max, s["rewritten_rows"])

    # -- full-rewrite policy ------------------------------------------
    full = ParquetDatabase(spark, os.path.join(TMP, "full"))
    full_total, full_max = 0, 0
    for e in range(n_epochs):
        _mk_epoch(spark, full, e, rows)
        # the whole live corpus lands in one freshly sealed segment
        s = compact_neardup_index_incremental(
            full, keep_last=2, max_segments=1
        )
        full_total += s["rewritten_rows"]
        full_max = max(full_max, s["rewritten_rows"])

    shutil.rmtree(TMP, ignore_errors=True)
    corpus = n_epochs * rows
    print(json.dumps({
        "epochs": n_epochs,
        "rows_per_epoch": rows,
        "corpus_rows": corpus,
        "incremental": {"total_rewritten": inc_total,
                        "max_single_call": inc_max},
        "full_rewrite": {"total_rewritten": full_total,
                         "max_single_call": full_max},
        "io_ratio_full_over_incremental": round(
            full_total / max(1, inc_total), 2
        ),
    }))


if __name__ == "__main__":
    main()
