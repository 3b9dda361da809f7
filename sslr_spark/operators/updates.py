"""Incremental (CDC) update path.

Reference semantics (internal/updates.go):
- ``getUpdateRange`` (:23-65): no state / forced / stale target =>
  full copy; else incremental scan from ``last_seen+1``.
- Staleness: ``target_count < source_count * fullCopyThreshold``
  (:53-62) => catching up incrementally would be slower than a copy.
- ``updateTableRange`` (:67-169): versioned scan ordered by
  (version, pk), chunked OFFSET/LIMIT pagination, upsert apply.
- T2 commit rule (:127-165): the watermark only advances to the
  highest *fully consumed* version, so a transaction spanning chunks
  is never half-committed.

Spark reformulation: never OFFSET/LIMIT-paginate (O(n^2) server-side;
SURVEY §4). The whole version slice ``version >= start`` is one
partitioned, filter-pushed read; the merge apply is one shuffle on the
primary key; the watermark commits once per applied batch, after the
data commit. Optional version batching bounds sink-transaction size
while keeping batch boundaries on version boundaries — which *is* the
T2 rule (a version is never split across commits).

Scale notes (100 TB): the anti-join shuffles on the PK — with a
bucketed / Delta target this becomes a partition-pruned MERGE; the
incremental slice is typically tiny relative to the target, so Spark's
AQE will broadcast it when it fits, turning the merge into a
shuffle-free broadcast anti-join. Updates with few distinct keys are
deduplicated (last version wins) before the merge.
"""

from __future__ import annotations

import contextlib
import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sslr_spark.operators.copy import copy_full_table, filtered_source
from sslr_spark.sources.parquet import ParquetDatabase
from sslr_spark.state import StateStore, TableState


@dataclass
class UpdateRange:
    """Mirror of the reference's updateRange (internal/updates.go:13-17).

    ``source_rows`` rides along from the A1 probe when known — the
    full-copy branch feeds it to the in-flight progress reporter
    (operators/copy.py CopyProgressReporter) so tier logging costs no
    extra count."""

    full_table: bool
    start_version: int
    end_version: int
    source_rows: int | None = None


def get_update_range(
    source_df: DataFrame,
    target: ParquetDatabase,
    table: str,
    state: TableState,
    where: str | None = None,
    version_col: str = "xmin",
    full_copy_threshold: float = 0.5,
    force_full: bool = False,
    versionless_source: bool = False,
    probe=None,
) -> UpdateRange:
    """Decide full-copy vs incremental and compute the version range.

    One aggregate over the filtered source gives (count, max version)
    in a single pass (reference A1, internal/updates.go:44-51).

    ``probe``: optional zero-arg callable returning ``(count, max)``
    — adapters that can answer the A1 probe server-side supply it
    (JdbcDatabase.agg_probe pushes one count/max subquery round trip;
    Spark's V1 JDBC relation would otherwise stream the whole table
    because it pushes filters, not aggregates). The Spark aggregate
    remains the fallback for every other source.

    A source WITHOUT the version column degrades to full-copy-every-
    pass. The reference cannot hit this case (its version column is
    Postgres's ``xmin`` system column, present on every table,
    internal/updates.go:44); it exists here for version-less sources
    — file drops (sources/files.py), views, exports — where per-pass
    full copy is the only correct behavior. Sources that EXPECT this
    declare it (``versionless_source=True``, wired from the adapter's
    ``versionless`` attribute); for everything else a missing version
    column is far more likely a typo'd config than a design choice,
    and silently full-copying the table every pass would hide it — so
    the degrade is taken loudly, with a WARNING naming the column.
    """
    src = filtered_source(source_df, where)
    if version_col not in src.columns:
        if not versionless_source:
            logging.getLogger("sslr_spark").warning(
                "version column %r not found on source table %r — "
                "degrading to FULL COPY EVERY PASS (and skipping "
                "delete sync). If the source is genuinely "
                "version-less this is expected; otherwise check "
                "versionColumn in the job config (available columns: "
                "%s)",
                version_col,
                table,
                ", ".join(src.columns[:20]),
            )
        return UpdateRange(True, 0, 0)
    counts = None
    if probe is not None:
        try:
            counts = probe()
        except Exception:
            # the pushed probe inlines the user's `where` into BACKEND
            # SQL; a Spark-dialect-only predicate (or any server
            # hiccup) must degrade to the Spark aggregate — loudly,
            # because if the dialects PARSE differently they might
            # also EVALUATE differently, and that deserves a look
            logging.getLogger("sslr_spark").warning(
                "pushed watermark probe failed for table %r — falling "
                "back to the Spark-side aggregate (if the `where` "
                "predicate uses Spark-only syntax, the pushdown "
                "cannot apply; check it also EVALUATES identically "
                "in both dialects)",
                table,
                exc_info=True,
            )
    if counts is not None:
        n, hi = counts
        source_count = n or 0
        end_version = int(hi) if hi is not None else 0
    else:
        row = src.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col(version_col)).alias("hi"),
        ).first()
        source_count = row["n"] or 0
        end_version = int(row["hi"]) if row["hi"] is not None else 0

    if force_full or state.last_seen_version == 0 or not target.table_exists(table):
        return UpdateRange(True, 0, end_version, source_rows=source_count)
    if getattr(target, "copy_pending", None) and target.copy_pending(table):
        # A previous MOR full copy dropped the upsert log and then
        # died before the overwrite swap landed. The log rows are
        # gone, so incremental catch-up from the old watermark would
        # silently skip them — the copy-pending marker forces full
        # copy until a swap succeeds (the swap replaces the table dir,
        # which clears the marker atomically with the data commit).
        logging.getLogger("sslr_spark").warning(
            "table %r has a pending interrupted full copy — forcing "
            "full copy to recover the dropped upsert log",
            table,
        )
        return UpdateRange(True, 0, end_version, source_rows=source_count)

    # metadata-only when the adapter can answer from file footers
    # (parquet: exact, zero Spark jobs); count job otherwise
    target_count = None
    if hasattr(target, "table_rows"):
        target_count = target.table_rows(table)
    if target_count is None:
        target_count = target.read(table).count()
    if target_count < source_count * full_copy_threshold:
        # Stale target: incremental catch-up would be slower than copy
        # (reference internal/updates.go:53-62).
        return UpdateRange(True, 0, end_version, source_rows=source_count)

    return UpdateRange(
        False, state.last_seen_version + 1, end_version,
        source_rows=source_count,
    )


def dedup_latest_version(
    updates: DataFrame, pk_cols: list[str], version_col: str = "xmin"
) -> DataFrame:
    """Keep only the newest version of each key within a slice
    (last-writer-wins before the merge).

    Expressed as a hash aggregation — max_by of the payload struct
    keyed on (version, orderable payload) — rather than a row_number
    window: the aggregate combines map-side and never sorts the
    slice, where the window form sorts every partition (at 100 TB
    the slice can be huge on a catch-up run). Version ties break
    deterministically on the ORDERABLE payload columns; non-orderable
    payload types (maps) ride along in the max_by value without ever
    being compared, so they don't regress vs the old window form.

    When the MOR tombstone marker rides in the payload, an equal-
    version tie breaks in favor of the UPSERT (NOT-tombstone sorts
    right after the version): synthesized tombstone versions (delete
    phase: watermark+1) can collide with a genuine next-pass upsert —
    with Postgres xmin the next transaction id is often exactly
    watermark+1 — and a tombstone must never silently eat a
    legitimate re-insert at the same version."""
    payload = [c for c in updates.columns if c not in pk_cols]
    rest = [c for c in payload if c != version_col]
    dtypes = dict(updates.dtypes)
    orderable = [c for c in rest if not dtypes[c].startswith("map<")]
    head = [F.col(version_col)]
    if TOMBSTONE_COL in orderable:
        orderable.remove(TOMBSTONE_COL)
        head.append((~F.col(TOMBSTONE_COL)).cast("int"))
    key = F.struct(*head, *[F.col(c) for c in orderable])
    packed = F.max_by(
        F.struct(*[F.col(c) for c in [version_col, *rest]]), key
    ).alias("__m")
    out = updates.groupBy(*pk_cols).agg(packed).select(
        *pk_cols, *[F.col(f"__m.{c}").alias(c) for c in [version_col, *rest]]
    )
    return out.select(*updates.columns)  # original column order


def merge_upsert(
    target_df: DataFrame,
    updates: DataFrame,
    pk_cols: list[str],
    *,
    broadcast_keys: bool = False,
) -> DataFrame:
    """Upsert semantics of the reference's delete-then-COPY transaction
    (J2, internal/updates.go:171-222): rows matching an updated key are
    replaced, new keys are inserted.

    Expressed as anti-join + union so Catalyst picks the join strategy
    (broadcast when the update slice is small — the common CDC case).
    ``broadcast_keys`` forces the key side's broadcast: the MOR read's
    byte-gated decision (a hint on ``updates`` would also sit on the
    union branch, which Spark logs as a join hint without a join).
    With a transactional table format this is MERGE INTO.

    The module's one keyed overlay — the copy-on-write merges, the MOR
    read and its compaction apply changes through it. Rows flagged by
    :data:`TOMBSTONE_COL` remove their keys and are never inserted."""
    keys = updates.select(*pk_cols).distinct()
    if broadcast_keys:
        keys = F.broadcast(keys)
    kept = target_df.join(keys, on=pk_cols, how="left_anti")
    if TOMBSTONE_COL in updates.columns:
        updates = updates.filter(~F.col(TOMBSTONE_COL))
    return kept.unionByName(updates.select(*target_df.columns))


_FULL_REWRITE_FRACTION = 0.5  # see merge_upsert_partitioned's guard


def merge_upsert_partitioned(
    target: ParquetDatabase,
    table: str,
    updates: DataFrame,
    pk_cols: list[str],
    n_buckets: int,
    affected: list[int] | None = None,
) -> None:
    """Partition-pruned merge against a bucket-partitioned target:
    only the partitions containing updated keys are read (pruned scan)
    and rewritten (dynamic partition overwrite) — the plain-parquet
    equivalent of MERGE INTO with file pruning. Cost ∝ touched
    buckets, not table size.

    Stores nothing of its own: :func:`upsert_batch` passes the slice
    it stored, bucketed, with ``affected`` from the aggregate that
    filled it. Without ``affected`` one job probes the buckets, and
    the probe, key set and union each read ``updates``.

    Scattered-update guard: when the batch touches more than
    ``_FULL_REWRITE_FRACTION`` of the buckets, pruning buys nothing —
    the merge would rewrite most of the table anyway, plus pay the
    dynamic-overwrite bookkeeping per partition. That case takes one
    shuffled anti-join and one clustered whole-table rewrite
    (:func:`_write_bucketed`). The design point remains CDC batches
    clustered on key ranges (measured sublinear at the 100x probe);
    the guard keeps the pathological scattered-keys case near
    full-copy cost.

    Tombstones (the MOR compaction's :data:`TOMBSTONE_COL`) remove
    their keys. Dynamic overwrite cannot express a bucket they leave
    empty, so only such a change set probes the surviving buckets and
    drops the emptied ones after a pruned rewrite; the scattered
    rewrite replaces the whole table and needs no extra step."""
    from sslr_spark.functions.dedup import cache_scope, persist
    from sslr_spark.operators.deletes import (
        BUCKET_COL,
        stored_bucket_hash,
        with_bucket,
    )

    # bucket assignment must match the STORED layout's hash mode —
    # mixing modes scatters a key's new row into a different partition
    # than its old row (same failure as mixing bucket counts)
    bmode = stored_bucket_hash(target, table)
    upd = updates
    if BUCKET_COL not in upd.columns:
        upd = with_bucket(upd, pk_cols, n_buckets, bmode)
    if affected is None:
        affected = [
            int(r[0]) for r in upd.select(BUCKET_COL).distinct().collect()
        ]
    if not affected:
        return
    tgt = target.read(table, with_meta=True)
    scattered = len(affected) > _FULL_REWRITE_FRACTION * n_buckets
    if not scattered:
        tgt = tgt.filter(F.col(BUCKET_COL).isin(affected))  # pruning
    out = merge_upsert(tgt.drop(BUCKET_COL), upd.drop(BUCKET_COL), pk_cols)
    if scattered:
        _write_bucketed(target, table, out, pk_cols, n_buckets, bmode)
        return
    out = with_bucket(out, pk_cols, n_buckets, bmode)
    with cache_scope():
        emptied = []
        if TOMBSTONE_COL in updates.columns:
            # the probe fills it before the rewrite replaces the files
            # it reads; the write reads the stored rows
            out = persist(out)
            left = {
                int(r[0]) for r in out.select(BUCKET_COL).distinct().collect()
            }
            emptied = [b for b in affected if b not in left]
        target.replace_partitions(table, out, BUCKET_COL, sort_cols=pk_cols)
        target.drop_partitions(table, BUCKET_COL, emptied)


def _write_bucketed(
    target: ParquetDatabase,
    table: str,
    df: DataFrame,
    pk_cols: list[str],
    n_buckets: int,
    bucket_hash: str,
) -> None:
    """Write ``df`` as the whole of ``table`` in the bucket-partitioned
    layout — the one writer behind the full copy, the scattered-batch
    rewrite and a stream's first batch. Each bucket is salted across
    ``shuffle.partitions // n_buckets`` writers, so a bucket count
    below the session's task slots still uses the cluster, and rows
    sort by key inside each file."""
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    sp = int(target.spark.conf.get("spark.sql.shuffle.partitions", "200"))
    target.overwrite_partitioned(
        table, with_bucket(df, pk_cols, n_buckets, bucket_hash), BUCKET_COL,
        n_buckets=n_buckets,
        files_per_bucket=max(1, sp // n_buckets),
        bucket_hash=bucket_hash,
        sort_cols=pk_cols,
    )


def upsert_batch(
    target: ParquetDatabase,
    table: str,
    updates: DataFrame,
    pk_cols: list[str],
    version_col: str = "xmin",
    n_buckets: int | None = None,
    bucket_hash: str = "portable",
    throttle=None,
) -> int:
    """Apply one CDC change slice to ``table``; returns its row count.

    The one upsert path of :func:`sync_updates`, of the streams
    (``stream_incremental_sync``, ``stream_mor_sync``'s first batch)
    and of :func:`compact_upsert_log`; a change set may carry
    :data:`TOMBSTONE_COL` (deleted keys). It collapses the slice to
    the latest version per key and stores it once (bucketed when the
    target merges by bucket); one aggregate fills the store and gives
    the row count and the affected buckets (under ``throttle``: it
    scans the source). It applies by the STORED layout
    (``effective_buckets``): bucketed -> :func:`merge_upsert_partitioned`;
    in-place targets (``apply_upsert``) -> DELETE+INSERT / MERGE
    without the version column, which they never store (reference
    internal/updates.go:117-124); else :func:`merge_upsert` and an
    atomic overwrite. No apply stores the slice again. A missing table
    is created from the slice's live rows in the configured layout
    (``n_buckets`` / ``bucket_hash``)."""
    from sslr_spark.functions.dedup import cache_scope, persist
    from sslr_spark.operators.deletes import (
        BUCKET_COL,
        effective_buckets,
        stored_bucket_hash,
        with_bucket,
    )

    n_buckets = effective_buckets(target, table, n_buckets)
    exists = target.table_exists(table)
    by_bucket = bool(n_buckets and exists)
    updates = dedup_latest_version(updates, pk_cols, version_col)
    fill = [F.count(F.lit(1)).alias("n")]
    if by_bucket:
        updates = with_bucket(
            updates, pk_cols, n_buckets, stored_bucket_hash(target, table)
        )
        fill.append(F.collect_set(BUCKET_COL).alias("buckets"))
    with cache_scope():
        updates = persist(updates)
        with throttle or contextlib.nullcontext():
            filled = updates.agg(*fill).first()
        n = filled["n"]
        if not n:
            return 0
        rows = updates
        if not exists and TOMBSTONE_COL in updates.columns:
            # after the collapse, so a key upserted then deleted inside
            # the slice stays deleted; a new table holds no tombstone
            rows = updates.filter(~F.col(TOMBSTONE_COL)).drop(TOMBSTONE_COL)
        if by_bucket:
            merge_upsert_partitioned(
                target, table, updates, pk_cols, n_buckets,
                affected=sorted(filled["buckets"]),
            )
        elif n_buckets:
            _write_bucketed(
                target, table, rows, pk_cols, n_buckets, bucket_hash
            )
        elif hasattr(target, "apply_upsert"):
            applied = rows.drop(version_col)
            if not exists and hasattr(target, "create_table"):
                target.create_table(table, applied.schema)
            target.apply_upsert(table, applied, pk_cols)
        elif exists:
            target.overwrite(
                table, merge_upsert(target.read(table), updates, pk_cols)
            )
        else:
            target.overwrite(table, rows)
    return n


def plan_version_batches(
    slice_df: DataFrame,
    version_col: str,
    rows_per_batch: int,
    max_planned_versions: int = 100_000,
) -> list[tuple[int, int]]:
    """Split a version slice into [start, end] version windows of
    ~rows_per_batch rows, never splitting a version (T2).

    Driver-side planning over per-version counts — fine while distinct
    versions per slice stay modest; above ``max_planned_versions`` the
    plan degrades to a single batch (the merge itself is still fully
    distributed, only sink-transaction granularity is affected).
    """
    counts = (
        slice_df.groupBy(version_col).count().orderBy(version_col)
        .limit(max_planned_versions + 1)
        .collect()
    )
    if not counts:
        return []
    if len(counts) > max_planned_versions:
        return [(int(counts[0][0]), int(counts[-1][0]))]
    batches: list[tuple[int, int]] = []
    start = acc = None
    for r in counts:
        v, n = int(r[0]), int(r["count"])
        if start is None:
            start, acc, end = v, n, v
        else:
            acc += n
            end = v
        if acc >= rows_per_batch:
            batches.append((start, end))
            start = acc = None
    if start is not None:
        batches.append((start, end))
    return batches


def sync_updates(
    source_df: DataFrame,
    target: ParquetDatabase,
    state_store: StateStore,
    table: str,
    pk_cols: list[str],
    where: str | None = None,
    version_col: str = "xmin",
    full_copy_threshold: float = 0.5,
    force_full: bool = False,
    rows_per_batch: int | None = None,
    n_buckets: int | None = None,
    strip_version: bool = False,
    throttle=None,
    bucket_hash: str = "portable",
    versionless_source: bool = False,
    probe=None,
    merge_on_read: bool = False,
    max_log_fraction: float = 0.1,
    max_log_bytes: int | None = None,
) -> int:
    """Run the update phase for one table; returns rows written.

    ``bucket_hash`` ('portable' md5 | 'fast' xxhash64) selects the
    bucket-assignment hash for NEW partitioned layouts written by the
    full-copy branch; incremental merges always follow the layout the
    table was stored with (see stored_bucket_hash).

    Data commit precedes state commit (idempotent re-apply on crash —
    see state.py). With ``rows_per_batch`` set, the slice is applied in
    version-aligned batches, each with its own data+state commit pair,
    mirroring the reference's bounded chunk transactions. With
    ``n_buckets`` set, the target is maintained bucket-partitioned and
    merges rewrite only touched partitions (the scale path).

    ``strip_version`` drops the version column from the full copy's
    payload — JDBC targets never store the source's transaction id,
    exactly as the reference strips xmin from copied columns
    (internal/updates.go:117-124). Incremental batches apply through
    :func:`upsert_batch`.

    ``merge_on_read`` applies incremental batches as upsert-log
    APPENDS (the log writer behind append_upsert_log collapses and
    appends each batch once) instead of merges — the small-batch
    scale mode: write cost per batch is the batch itself, readers
    overlay via read_merged, and the pass compacts when the log
    exceeds ``max_log_fraction`` of the base. Requires the version
    column in the payload (the overlay resolves by version), so it
    rejects ``strip_version`` and in-place targets. The full-copy
    branch drops any existing log BEFORE the overwrite: a stale log
    overlaying a fresher base would serve stale rows, while the
    reverse crash (log dropped, copy lost) just re-copies on the
    next pass because the watermark never advanced.
    """
    from sslr_spark.throttle import Throttle

    if merge_on_read and strip_version:
        raise ValueError(
            "merge_on_read needs the version column in the payload; "
            "strip_version must be off"
        )
    if merge_on_read and hasattr(target, "apply_upsert"):
        raise ValueError(
            "merge_on_read is a lake/parquet mode; in-place targets "
            "apply upserts directly"
        )

    # Per-operation throttle wrapping only source-reading steps (range
    # probe, slice scan), sleeping after each apply — the reference's
    # shape (internal/updates.go:69,87,145,154: fresh throttle,
    # start/end around fetch, wait after apply). Unlike the reference
    # (which documents its unthrottled full copy as a known gap,
    # README.md:203), the full-copy branch here IS throttled: the copy
    # is one read->write Spark job, so the whole job counts as source
    # time (conservative — over-counts the write half, so it sleeps
    # MORE than strictly needed, never less) and the adaptive sleep
    # runs after it, padding the next poll round in continuous mode.
    throttle = throttle or Throttle(100)  # 100% = measuring no-op
    state = state_store.get(table)
    with throttle:
        rng = get_update_range(
            source_df, target, table, state, where, version_col,
            full_copy_threshold, force_full,
            versionless_source=versionless_source,
            probe=probe,
        )
    drop_col = version_col if strip_version else None

    if rng.full_table:
        if merge_on_read and target.table_exists(upsert_log_table(table)):
            # Drop-then-copy: a stale log overlaying a fresher base
            # would serve stale rows, so the log goes first. The
            # marker closes the crash window between the drop and
            # the overwrite swap: with the log gone but the old base
            # still committed, incremental catch-up from the old
            # watermark would skip the dropped log's rows — the
            # marker forces the NEXT pass to full-copy too (the swap
            # replaces the table directory, clearing the marker
            # atomically with the data commit).
            if hasattr(target, "set_copy_pending"):
                target.set_copy_pending(table)
            target.drop(upsert_log_table(table))
        if n_buckets:
            from sslr_spark.operators.copy import CopyProgressReporter
            from sslr_spark.operators.deletes import BUCKET_COL

            # layout migration is loud: a resync of a table stored
            # unpartitioned rewrites it into the bucket-partitioned
            # directory layout (default targetBuckets=64 — external
            # parquet readers see __sslr_bucket=N dirs after this)
            if (
                target.table_exists(table)
                and hasattr(target, "layout_meta")
                and (target.layout_meta(table) or {}).get("n_buckets")
                != n_buckets
            ):
                logging.getLogger("sslr_spark").warning(
                    "full copy migrates target %r to the bucket-"
                    "partitioned layout (%d buckets, %s=N directories)",
                    table, n_buckets, BUCKET_COL,
                )
            with throttle:  # the copy job reads the source end-to-end
                with CopyProgressReporter(
                    target.spark, rng.source_rows, table
                ):
                    _write_bucketed(
                        target, table, filtered_source(source_df, where),
                        pk_cols, n_buckets, bucket_hash,
                    )
            # footer-exact, no count job over the just-written table
            rows = target.table_rows(table)
            if rows is None:
                rows = target.read(table).count()
        else:
            with throttle:  # the copy job reads the source end-to-end
                rows = copy_full_table(
                    source_df, target, table, where, drop_version=drop_col,
                    expected_rows=rng.source_rows,
                )
        state_store.set(TableState(table, rng.end_version, where or ""))
        return rows

    slice_df = filtered_source(source_df, where).filter(
        F.col(version_col) >= F.lit(rng.start_version)
    )

    if rows_per_batch:
        with throttle:  # per-version counts scan the source slice
            batches = plan_version_batches(slice_df, version_col, rows_per_batch)
    else:
        batches = [(rng.start_version, rng.end_version)] if rng.end_version >= rng.start_version else []

    total = 0
    for lo, hi in batches:
        batch = slice_df.filter(
            (F.col(version_col) >= F.lit(lo)) & (F.col(version_col) <= F.lit(hi))
        )
        if merge_on_read:
            # the log's footer row count gives the appended rows with
            # no count job (the range probe saw the slice non-empty)
            log_t = upsert_log_table(table)
            before = target.table_rows(log_t) or 0
            with throttle:  # the append job scans the source slice
                append_upsert_log(
                    target, table, batch, pk_cols, version_col
                )
            n = target.table_rows(log_t) - before
        else:
            # incremental merges honor the STORED layout: an existing
            # unpartitioned table merges unpartitioned even if config
            # asks for buckets (the flip migrates on the next full copy)
            n = upsert_batch(
                target, table, batch, pk_cols, version_col,
                n_buckets, bucket_hash, throttle,
            )
        total += n
        # watermark advances to the end of the fully applied batch (T2)
        state_store.set(TableState(table, hi, where or ""))
    if not batches:
        # Empty slice: never move the watermark backwards — a drained
        # source reports max(version) = None => end_version 0, and
        # rewinding would force a spurious full copy next pass (the
        # delete phase already reconciles removals).
        new_mark = max(state.last_seen_version, rng.end_version)
        state_store.set(TableState(table, new_mark, where or ""))
    if merge_on_read and should_compact_upsert_log(
        target, table, max_log_fraction, max_log_bytes=max_log_bytes
    ):
        # maintenance after the state commits: a crash mid-compaction
        # loses no sync progress (same placement as file compaction)
        compact_upsert_log(target, table, pk_cols, version_col)
    return total



# ------------------------------------------------------------------
# merge-on-read upsert log (round 8): the small-batch scale path
# ------------------------------------------------------------------
#
# The copy-on-write merge above rewrites every TOUCHED bucket per
# batch — write amplification W = bucket_bytes / batch_bytes_in_bucket,
# which at 100 TB with frequent small CDC batches means rewriting
# gigabytes to land kilobytes. The merge-on-read (MOR) path is the
# standard answer (Hudi MOR / Iceberg v2 the public references):
# batches APPEND to a per-table log; reads overlay the log with
# latest-version-wins; a periodic compaction folds the log into the
# base and truncates it. Write cost per batch drops to the batch
# itself; the read pays one broadcast anti-join while the log stays
# small (the design invariant — compact when it isn't).

UPSERT_LOG_SUFFIX = "__upsert_log"
TOMBSTONE_COL = "__sslr_tombstone"


def upsert_log_table(table: str) -> str:
    return table + UPSERT_LOG_SUFFIX


def append_upsert_log(
    target: ParquetDatabase,
    table: str,
    updates: DataFrame,
    pk_cols: list[str],
    version_col: str = "xmin",
) -> None:
    """MOR write path: land a CDC batch as a log APPEND — no base
    read, no bucket rewrite, cost = the batch itself. ACROSS batches
    the read/compaction overlay resolves versions (versions must be
    distinct per key across upsert and delete batches — CDC
    transaction ids are).

    The one writer of upsert-log rows: checks the batch's columns
    against the base table (names AND types), collapses it to
    latest-version-per-key (bounded, map-side max_by) so replaying one
    log file never carries intra-batch stale rows, nulls the payload
    of tombstoned rows (key + version only) and appends it with the
    :data:`TOMBSTONE_COL` marker — False for a batch that does not
    carry one. One Spark job, no count: callers that must skip an
    empty set count it themselves. Columns align to the base's order
    so the overlay union never reorders fields."""
    base_schema = target.read(table).schema
    base_cols = [f.name for f in base_schema]
    missing = [c for c in base_cols if c not in updates.columns]
    if missing:
        raise ValueError(
            f"upsert log batch for {table!r} lacks base columns: {missing}"
        )
    # TYPE guard, not just names: the log is one parquet directory —
    # appending a batch whose column types differ from the base (e.g.
    # an int literal version against a bigint base) writes MIXED
    # physical types into that directory, and the read then fails
    # NONDETERMINISTICALLY (whichever file schema-inference samples
    # wins until a scan hits the other). Surface it here, loudly,
    # at write time.
    batch_types = {f.name: f.dataType for f in updates.schema}
    mismatched = [
        f"{f.name}: batch {batch_types[f.name].simpleString()} "
        f"!= base {f.dataType.simpleString()}"
        for f in base_schema
        if batch_types[f.name] != f.dataType
    ]
    if mismatched:
        raise ValueError(
            f"upsert log batch for {table!r} has column types that "
            f"differ from the base table — a mixed-type log directory "
            f"fails nondeterministically at read; cast the batch "
            f"first: {mismatched}"
        )
    if TOMBSTONE_COL not in updates.columns:
        rows = dedup_latest_version(
            updates.select(*base_cols), pk_cols, version_col
        ).withColumn(TOMBSTONE_COL, F.lit(False))
    else:
        dead = F.col(TOMBSTONE_COL)
        rows = dedup_latest_version(
            updates.select(*base_cols, TOMBSTONE_COL), pk_cols, version_col
        ).select(
            *[
                F.col(f.name)
                if f.name in pk_cols or f.name == version_col
                else F.when(dead, F.lit(None).cast(f.dataType))
                .otherwise(F.col(f.name)).alias(f.name)
                for f in base_schema
            ],
            dead,
        )
    target.append(upsert_log_table(table), rows)


def append_delete_log(
    target: ParquetDatabase,
    table: str,
    keys: DataFrame,
    pk_cols: list[str],
    version: int,
    version_col: str = "xmin",
) -> None:
    """MOR delete path: land deletions as TOMBSTONE log rows — key +
    ``version`` + null payload — instead of the bucket-diff repair
    rewrite. The overlay read (and compaction) drops a key whose
    latest log row is a tombstone; a later upsert at a higher version
    resurrects it, exactly like the in-place DELETE+INSERT sequence
    would."""
    base = target.read(table)
    dtypes = dict(base.dtypes)
    batch = keys.select(
        *pk_cols,
        *[
            (F.lit(version) if c == version_col else F.lit(None))
            .cast(dtypes[c]).alias(c)
            for c in base.columns
            if c not in pk_cols
        ],
    ).withColumn(TOMBSTONE_COL, F.lit(True))
    append_upsert_log(target, table, batch, pk_cols, version_col)


def read_merged(
    target: ParquetDatabase,
    table: str,
    pk_cols: list[str],
    version_col: str = "xmin",
    broadcast_key_bytes: int = 64 << 20,
    as_of_version: int | None = None,
) -> DataFrame:
    """MOR read path: base overlaid with the upsert/delete log,
    latest-version-wins per key, tombstone winners dropped. Scale
    shape: the LOG (small by the compaction invariant) is collapsed
    to latest-per-key and overlaid with :func:`merge_upsert` — its key
    set probes the base with an anti-join, so the base is never
    shuffled and never sorted. A log key's row always supersedes the
    base row (equal versions included), which is what makes
    crash-replayed compactions idempotent (within the log, an upsert
    beats a tombstone at an equal version — see dedup_latest_version).
    With no log the base returns as-is.

    Broadcast gate: the anti-join's broadcast is FORCED only when the
    log's estimated key bytes (footer row count x a bounded-sample
    key width) fit under ``broadcast_key_bytes``. The compaction invariant bounds log ROWS
    at a fraction of the base — at 100 TB that is billions of keys,
    far past driver capacity, and a forced hint would disable Spark's
    own size check. Above the gate the anti-join is left plain and
    AQE picks the strategy (shuffled anti-join at worst); such a log
    is also past every compaction trigger, so the expensive read is
    transient by construction.

    Invariant (the Hudi-MOR contract): appended batches are never
    OLDER than a version already folded into the base — CDC versions
    are monotone and compaction drops the whole log atomically after
    the swap, so a crash replays the full log (which carries each
    key's newest row), never a stale fragment.

    ``as_of_version``: snapshot (time-travel) read — resolve the
    overlay as it stood when the CDC watermark was that version: log
    rows (upserts AND tombstones) with a HIGHER version are ignored
    before the collapse. The horizon is the compaction boundary, the
    standard MOR limitation: the base holds only the latest folded
    state, so a version older than the last compaction cannot be
    reconstructed (versions at-or-after it can, because compaction
    drops the log wholesale and appended batches are monotone).
    Useful for CDC debugging ("what did the replica serve when the
    watermark was V?") and for pinning a consistent read across
    several tables sharing a transaction-id sequence."""
    base = target.read(table)
    log_t = upsert_log_table(table)
    if not target.table_exists(log_t):
        return base
    # with_meta: the tombstone marker is an __sslr column the public
    # read() strips by design
    raw_log = target.read(log_t, with_meta=True).select(
        *base.columns, TOMBSTONE_COL
    )
    if as_of_version is not None:
        raw_log = raw_log.filter(
            F.col(version_col) <= F.lit(int(as_of_version))
        )
    log = dedup_latest_version(raw_log, pk_cols, version_col)
    # pre-collapse footer count is an upper bound on distinct keys —
    # zero Spark jobs; the width sample (bounded collect of 100 keys)
    # only runs when the 16-byte-minimum lower bound already fits.
    # Sample from the RAW log, not the collapsed one: key width is
    # identical (same columns) but the collapsed frame would drag the
    # latest-version window's shuffle into the probe — the r9
    # mor_append_read regression (clean 1.34 s vs r8 0.80 s) was
    # exactly that extra per-read log shuffle.
    log_rows = (
        target.table_rows(log_t) if hasattr(target, "table_rows") else None
    )
    force_broadcast = False
    if log_rows is not None and log_rows * 16 <= broadcast_key_bytes:
        sample = raw_log.select(*pk_cols).limit(100).collect()
        row_bytes = max(  # conservative: max sampled width
            (sum(len(str(v)) for v in r) + 16 for r in sample),
            default=16,
        )
        force_broadcast = log_rows * row_bytes <= broadcast_key_bytes
    return merge_upsert(base, log, pk_cols, broadcast_keys=force_broadcast)


def should_compact_upsert_log(
    target: ParquetDatabase,
    table: str,
    max_log_fraction: float = 0.1,
    max_log_bytes: int | None = None,
) -> bool:
    """Compaction trigger: log rows exceed ``max_log_fraction`` of
    the base (both counts answered from parquet footers — zero Spark
    jobs, same as the T3 staleness probe), OR — when
    ``max_log_bytes`` is set — the log's on-disk bytes exceed the
    absolute cap (file sizes, zero jobs). The bytes cap exists for
    WIDE-row logs: a 1%-of-rows log of 10 KB documents is still
    gigabytes of overlay state the read path must collapse and probe,
    so it must compact long before the row fraction binds."""
    log_t = upsert_log_table(table)
    if not target.table_exists(log_t):
        return False
    if (
        max_log_bytes is not None
        and hasattr(target, "table_bytes")
        and target.table_bytes(log_t) > max_log_bytes
    ):
        return True
    log_rows = target.table_rows(log_t)
    base_rows = target.table_rows(table)
    if log_rows is None or base_rows is None:
        return True  # cannot probe cheaply — err on folding
    return log_rows > max_log_fraction * max(1, base_rows)


def compact_upsert_log(
    target: ParquetDatabase,
    table: str,
    pk_cols: list[str],
    version_col: str = "xmin",
) -> dict:
    """Fold the log into the base and truncate it.

    The log applies as one change set through :func:`upsert_batch` —
    the copy-on-write apply, at the STORED layout: a bucketed base
    rewrites only the buckets the log touches (or, past the scattered
    guard, the whole table; see :func:`merge_upsert_partitioned`), an
    unpartitioned base takes the whole-table staged-rename swap.

    Crash contract, whole-table path: the overwrite is the atomic
    staged-rename swap; a crash BEFORE the swap leaves the old base +
    intact log (nothing lost), a crash AFTER the swap but before the
    log drop leaves the new base + a stale log whose rows re-apply as
    no-ops (log supersedes base at equal versions with the identical
    payload — idempotent by the read path's overlay rule). Bucketed
    path: dynamic partition overwrite is not atomic ACROSS
    partitions, but any partition mix a crash leaves is the same
    idempotent re-apply — the log is still intact, each bucket's
    rewrite is a pure function of (base bucket, log), and replaying
    it converges (same argument as the repair paths,
    tests/test_mor.py crash cases).

    Returns {"folded_rows": n} (0 = no log)."""
    log_t = upsert_log_table(table)
    if not target.table_exists(log_t):
        return {"folded_rows": 0}
    folded = target.table_rows(log_t) or 0
    layout = (
        target.layout_meta(table) if hasattr(target, "layout_meta") else None
    ) or {}
    log = target.read(log_t, with_meta=True).select(
        *target.read(table).columns, TOMBSTONE_COL
    )
    upsert_batch(
        target, table, log, pk_cols, version_col, layout.get("n_buckets")
    )
    target.drop(log_t)
    if hasattr(target, "write_table_meta"):
        import time

        target.write_table_meta(
            table,
            "compaction",
            {"folded_rows": int(folded), "at_epoch_s": int(time.time())},
        )
    return {"folded_rows": folded}
