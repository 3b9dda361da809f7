"""Delete detection + repair via one-pass bucketed hash diff.

The reference walks the PK space in chunks, comparing an *ordered* md5
fingerprint of each key range between source and target, recursing by
halving on mismatch until ranges are small, then rewriting the range
(divide-and-conquer, reference internal/deletes.go:13-89; fingerprint
:237-269; repair :166-235). That design minimizes *round trips* for a
single-connection tool — the wrong constraint for Spark.

Spark reformulation (SURVEY §2.8 T4): assign every key to a hash
bucket, aggregate a commutative (count, bit_xor-of-key-hash)
fingerprint per bucket on BOTH sides in one parallel pass each, then a
tiny equi-join of the two fingerprint tables finds every mismatched
bucket at once — O(2 scans + 1 small join) instead of O(k log n) round
trips. Repair replaces exactly the mismatched buckets' rows with the
source's rows for those buckets (the J3 range-repair semantics, with
hash buckets instead of key ranges).

Scale notes: both fingerprint scans are key-column-only (column-pruned
at the parquet/JDBC scan) and reduce map-side before a shuffle of at
most n_buckets rows; the fingerprint join is broadcast-sized. Repair
joins stream the full tables but only against the (small) mismatched
bucket set — broadcast. Bucket count should be sized so a bucket ~=
the reference's minDeleteChunkSize rows (the repair unit).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sslr_spark.functions.hashing import (
    bucket_id,
    bucket_id_fast,
    key_hash,
    key_hash_fast,
)


from sslr_spark.operators.copy import filtered_source
from sslr_spark.sources.parquet import ParquetDatabase


def _hash_fns(hash_mode: str):
    """(bucket_id, key_hash) pair for a diff pass. 'portable' = md5
    (oracle-checkable, the driver-contract default); 'fast' = xxhash64
    (single JVM intrinsic — the production path, like dedup's
    hash_mode). Both sides of one diff MUST use the same mode; stored
    partition layouts always use the portable bucket_id."""
    if hash_mode == "fast":
        return bucket_id_fast, key_hash_fast
    if hash_mode == "portable":
        return bucket_id, key_hash
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


@dataclass
class DeleteSyncStats:
    n_buckets: int
    mismatched_buckets: int
    rows_rewritten: int


def effective_buckets(target, table: str, n_buckets: int | None) -> int | None:
    """Reconcile configured bucketing with the STORED layout.

    Flipping ``targetBuckets`` in config does not migrate data, and
    merging with a bucket count DIFFERENT from the one the table was
    written with is silent corruption (a key's new row lands in a
    different partition than its old row — duplicates). So:

    - table stored unpartitioned -> ``None`` (unpartitioned operators;
      the next full copy migrates the layout);
    - table stored with a recorded bucket count -> THAT count, with a
      warning if config disagrees (a full copy re-buckets);
    - bucket column present but no layout marker (pre-marker layout)
      -> ``None``, safe fallback;
    - fresh table -> the configured count.
    """
    import warnings

    if not hasattr(target, "replace_partitions"):
        # bucket-partitioned layout is a lake/parquet concept; an
        # in-place (JDBC) target can never take the bucketed branch —
        # returning the configured count here would send callers that
        # don't pre-zero it (e.g. streaming) into overwrite_partitioned
        # on an adapter without one
        return None
    if not n_buckets:
        return None
    if not target.table_exists(table):
        return n_buckets  # fresh table: created in the configured layout
    if BUCKET_COL not in target.read(table, with_meta=True).columns:
        warnings.warn(
            f"table {table!r} has no {BUCKET_COL} layout; running "
            "unpartitioned merge/repair (a full copy migrates it)",
            stacklevel=2,
        )
        return None
    meta = target.layout_meta(table) if hasattr(target, "layout_meta") else None
    stored = (meta or {}).get("n_buckets")
    if not stored:
        warnings.warn(
            f"table {table!r} is bucket-partitioned but has no layout "
            "marker (pre-marker layout); running unpartitioned "
            "merge/repair (a full copy re-buckets it)",
            stacklevel=2,
        )
        return None
    if stored != n_buckets:
        warnings.warn(
            f"table {table!r} stored with {stored} buckets; config asks "
            f"for {n_buckets} — using the stored count (a full copy "
            "re-buckets)",
            stacklevel=2,
        )
    return int(stored)


def bucket_fingerprints(
    df: DataFrame, pk_cols: list[str], n_buckets: int,
    hash_mode: str = "portable",
) -> DataFrame:
    """Per-bucket (count, fingerprint) over the key columns only.

    Equal key multisets => equal fingerprints; commutative aggregation
    keeps the whole computation map-side-combinable.
    """
    _bucket, _kh = _hash_fns(hash_mode)
    return _fingerprints(df, _bucket(pk_cols, n_buckets), _kh(pk_cols))


def _fingerprints(df: DataFrame, bucket, kh) -> DataFrame:
    """(bucket, cnt, fp): the row count and bit_xor of the key hash
    ``kh`` per value of the ``bucket`` column expression."""
    return (
        df.select(bucket.alias("bucket"), kh.alias("kh"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr("bit_xor(kh)").alias("fp"),
        )
    )


def _fingerprint_diff(s: DataFrame, t: DataFrame) -> DataFrame:
    """Full-outer join of source and target fingerprints, kept where
    they differ (a bucket missing on one side differs too)."""
    joined = s.withColumnsRenamed({"cnt": "s_cnt", "fp": "s_fp"}).join(
        t.withColumnsRenamed({"cnt": "t_cnt", "fp": "t_fp"}),
        on="bucket",
        how="full_outer",
    )
    diff = ~(
        F.col("s_cnt").eqNullSafe(F.col("t_cnt"))
        & F.col("s_fp").eqNullSafe(F.col("t_fp"))
    )
    return joined.filter(diff)


def mismatched_buckets(
    source_df: DataFrame, target_df: DataFrame, pk_cols: list[str],
    n_buckets: int, hash_mode: str = "portable",
) -> DataFrame:
    """Bucket ids whose key multiset differs between source and target
    (J4: the source/target hash comparison as an equi-join)."""
    s = bucket_fingerprints(source_df, pk_cols, n_buckets, hash_mode)
    t = bucket_fingerprints(target_df, pk_cols, n_buckets, hash_mode)
    return _fingerprint_diff(s, t).select("bucket")


def repair_buckets(
    source_df: DataFrame,
    target_df: DataFrame,
    pk_cols: list[str],
    n_buckets: int,
    bad_buckets: DataFrame,
    hash_mode: str = "portable",
) -> DataFrame:
    """Replace the mismatched buckets' rows in the target with the
    source's rows for those buckets (range repair J3, hash-bucket
    flavor). ``bad_buckets`` is small — broadcast both membership
    joins. ``hash_mode`` must match the diff that produced
    ``bad_buckets``."""
    _bucket, _ = _hash_fns(hash_mode)
    bad = F.broadcast(bad_buckets)
    tgt_b = target_df.withColumn("__b", _bucket(pk_cols, n_buckets))
    src_b = source_df.withColumn("__b", _bucket(pk_cols, n_buckets))
    kept = tgt_b.join(bad, tgt_b["__b"] == bad["bucket"], "left_anti").drop("__b")
    replaced = src_b.join(bad, src_b["__b"] == bad["bucket"], "left_semi").drop("__b")
    return kept.unionByName(replaced.select(*kept.columns))


MAX_DIFF_BUCKETS = 1 << 20


def choose_bucket_count(row_count: int, rows_per_bucket: int) -> int:
    """Bucket sizing: one bucket ~= the repair unit
    (reference minDeleteChunkSize, internal/config.go:42), capped at
    ~1M buckets — beyond that the fingerprint tables stop being
    broadcast-sized and the mismatch list stops being collectable; a
    trillion-row table simply gets coarser repair units (its bucket
    still holds only ~rows/2^20 rows)."""
    return max(1, min(MAX_DIFF_BUCKETS, (row_count + rows_per_bucket - 1) // rows_per_bucket))


BUCKET_COL = "__sslr_bucket"


def with_bucket(
    df: DataFrame, pk_cols: list[str], n_buckets: int,
    hash_mode: str = "portable",
) -> DataFrame:
    _bucket, _ = _hash_fns(hash_mode)
    return df.withColumn(BUCKET_COL, _bucket(pk_cols, n_buckets))


def stored_bucket_hash(target, table: str) -> str:
    """The hash mode a table's bucket-partitioned layout was written
    with ('portable' for pre-bucket_hash markers). Partitioned merges
    and repairs MUST assign buckets with this mode — mixing modes
    writes a key's new row into a different partition than its old
    row (silent duplication), exactly like mixing bucket counts."""
    meta = target.layout_meta(table) if hasattr(target, "layout_meta") else None
    return (meta or {}).get("bucket_hash", "portable")


def sync_deletes_partitioned(
    source_df: DataFrame,
    target: ParquetDatabase,
    table: str,
    pk_cols: list[str],
    n_buckets: int,
    where: str | None = None,
    throttle=None,
    hash_mode: str = "portable",
) -> DeleteSyncStats:
    """Delete sync against a bucket-partitioned target
    (``<table>.parquet/__sslr_bucket=N/``): identical diff protocol to
    :func:`sync_deletes`, but repair rewrites ONLY the mismatched
    partitions via dynamic partition overwrite — cost proportional to
    divergence, not table size. This is the 100 TB path; the
    whole-table variant remains for unpartitioned targets.
    """
    src = filtered_source(source_df, where)
    tgt = target.read(table, with_meta=True)

    # bucket assignment must match the STORED layout's hash mode on
    # both sides; only the ephemeral fingerprint hash follows hash_mode
    bmode = stored_bucket_hash(target, table)
    _bucket, _ = _hash_fns(bmode)
    _, _kh = _hash_fns(hash_mode)
    s_fp = _fingerprints(src, _bucket(pk_cols, n_buckets), _kh(pk_cols))
    # the stored partition column prunes the target scan to key columns
    t_fp = _fingerprints(tgt, F.col(BUCKET_COL).cast("long"), _kh(pk_cols))
    bad = _fingerprint_diff(s_fp, t_fp).select("bucket", "s_cnt")
    if throttle is None:
        from sslr_spark.throttle import Throttle

        throttle = Throttle(100)
    with throttle:  # fingerprint scan reads the source key columns
        bad_rows = bad.collect()
    if not bad_rows:
        return DeleteSyncStats(n_buckets, 0, 0)

    nonempty = [int(r.bucket) for r in bad_rows if r.s_cnt]
    empty = [int(r.bucket) for r in bad_rows if not r.s_cnt]
    if nonempty:
        repl = with_bucket(src, pk_cols, n_buckets, bmode).filter(
            F.col(BUCKET_COL).isin(nonempty)
        )
        target.replace_partitions(table, repl, BUCKET_COL, sort_cols=pk_cols)
    if empty:
        target.drop_partitions(table, BUCKET_COL, empty)
    return DeleteSyncStats(n_buckets, len(bad_rows), len(bad_rows))


def sync_deletes(
    source_df: DataFrame,
    target: ParquetDatabase,
    table: str,
    pk_cols: list[str],
    where: str | None = None,
    rows_per_bucket: int = 1000,
    version_col: str | None = "xmin",
    throttle=None,
    hash_mode: str = "portable",
) -> DeleteSyncStats:
    """Detect and repair rows present in the target but gone from the
    (filtered) source — and any other key-set divergence.

    ``hash_mode='fast'`` switches the ephemeral diff hashes (bucket
    assignment + fingerprint) to xxhash64 — the production path, like
    dedup's ``hash_mode``; the default stays md5-portable so the
    driver-contract queries remain DuckDB-checkable.

    Runs after the update phase, like the reference's SyncDeletes
    (internal/job.go:246-292). Payload differences with identical keys
    are the update phase's job; this phase compares *keys only*, same
    as the reference's key-list fingerprints.
    """
    src = filtered_source(source_df, where)
    if hasattr(target, "read_auto_partitioned"):
        # JDBC target: the fingerprint pass reads every target key —
        # through ONE connection unless the scan is range-partitioned
        # on the leading PK, same as source reads (at scale a single-
        # socket key scan dwarfs the diff itself)
        tgt = target.read_auto_partitioned(table, pk_cols[0])
    else:
        tgt = target.read(table)
    if throttle is None:
        from sslr_spark.throttle import Throttle

        throttle = Throttle(100)  # 100% = measuring no-op
    # Compare key sets only; the version column is engine metadata and
    # participates in neither side's fingerprint payload.
    # The throttle wraps the source-scanning steps (count + fingerprint
    # pass) per operation, like the reference (internal/deletes.go:29-43).
    with throttle:
        n_rows = src.count()
    n_buckets = choose_bucket_count(n_rows, rows_per_bucket)

    bad = mismatched_buckets(src, tgt, pk_cols, n_buckets, hash_mode)
    with throttle:
        bad_rows = bad.collect()  # at most n_buckets ids; typically ~0
    if not bad_rows:
        return DeleteSyncStats(n_buckets, 0, 0)

    bad_df = src.sparkSession.createDataFrame(bad_rows, schema=bad.schema)
    if hasattr(target, "delete_keys"):
        # In-place-capable target (JDBC): rewrite only the mismatched
        # buckets' rows — DELETE the target's keys in those buckets,
        # INSERT the source's rows for them (the reference's repair
        # transaction, internal/deletes.go:166-235). Cost ∝ divergent
        # buckets, never a table rewrite.
        bcast = F.broadcast(bad_df)
        _bucket, _ = _hash_fns(hash_mode)
        tgt_b = tgt.withColumn("__b", _bucket(pk_cols, n_buckets))
        doomed = tgt_b.join(
            bcast, tgt_b["__b"] == bcast["bucket"], "left_semi"
        ).select(*pk_cols)
        target.delete_keys(table, doomed, pk_cols)
        src_b = src.withColumn("__b", _bucket(pk_cols, n_buckets))
        repl = src_b.join(
            bcast, src_b["__b"] == bcast["bucket"], "left_semi"
        ).select(*tgt.columns)  # align to target schema (drops xmin etc.)
        target.append(table, repl)
    else:
        repaired = repair_buckets(
            src, tgt, pk_cols, n_buckets, bad_df, hash_mode
        )
        target.overwrite(table, repaired)
    rows = len(bad_rows)  # buckets; row count reported by caller if needed
    return DeleteSyncStats(n_buckets, len(bad_rows), rows)
