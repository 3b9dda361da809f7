"""Continuous sync as Structured Streaming (reference T6, upgraded).

The reference's continuous mode is a poll loop: run job, sleep 5 s,
repeat (reference main.go:38-82). The Spark-native formulation is a
streaming query: ``readStream`` over the source, ``foreachBatch``
applying the same idempotent merge the batch engine uses, checkpointed
offsets supplying exactly-once-per-batch semantics — the T2
"never half-commit a version" rule falls out of micro-batch atomicity
plus the idempotent merge.

Late data: the reference has none (T9 — xmin monotonicity assumed,
wraparound unhandled, README.md:202). The streaming rebuild fixes
this properly: event-time watermarks bound state for windowed
aggregations, and versions are unbounded 64-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sslr_spark.operators.updates import (
    TOMBSTONE_COL,
    append_upsert_log,
    compact_upsert_log,
    should_compact_upsert_log,
    upsert_batch,
)
from sslr_spark.sources.parquet import ParquetDatabase


def _watermarked(df: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """``df`` watermarked on event time ``ts_col``. withWatermark
    requires TIMESTAMP; testdata parquet may carry TIMESTAMP_NTZ. Cast
    NTZ wall-clock to session-tz TIMESTAMP — window boundaries stay
    wall-clock aligned, so batch/stream parity holds as long as both
    paths go through the same cast."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark)


def _file_stream(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The one streaming reader: parquet files under ``source_path``
    with ``schema``, at most ``max_files_per_trigger`` per micro-batch
    when set."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_path)


def _drain(df: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Run one checkpointed availableNow pass of the streaming ``df``,
    appending its output rows to ``out_dir`` as parquet, and wait for
    it to finish."""
    (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _start_foreach_batch(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    apply_batch,
    checkpoint_dir: str,
    trigger_seconds: float | None,
    max_files_per_trigger: int | None,
):
    """Start a checkpointed file-source stream that hands each
    micro-batch to ``apply_batch(batch_df, epoch_id)``. Trigger:
    processingTime every ``trigger_seconds``, else availableNow."""
    writer = _file_stream(
        spark, source_path, schema, max_files_per_trigger
    ).writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_incremental_sync(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    target: ParquetDatabase,
    table: str,
    pk_cols: list[str],
    checkpoint_dir: str,
    version_col: str = "xmin",
    trigger_seconds: float | None = None,
    max_files_per_trigger: int | None = None,
    n_buckets: int | None = 64,
    bucket_hash: str = "portable",
):
    """Start a streaming sync: each micro-batch of newly arrived source
    files is merged (last-version-wins upsert) into the target table.

    - ``checkpoint_dir`` holds the stream's offsets — the streaming
      analog of the reference's state table watermark (T1).
    - ``max_files_per_trigger`` is the rate cap (throttle analog, T5).
    - trigger: processingTime mirrors the reference's poll interval;
      None => availableNow semantics are up to the caller's stop.
    - ``n_buckets`` (default on): maintain the target
      bucket-partitioned and merge each micro-batch via pruned
      dynamic-partition overwrite — per-trigger cost ∝ touched
      buckets, not table size. ``None`` falls back to whole-table
      read-merge-overwrite (small targets only).

    Each micro-batch applies through the batch pass's own upsert,
    :func:`~sslr_spark.operators.updates.upsert_batch`.

    Returns the StreamingQuery.
    """
    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # an empty micro-batch counts 0 on the slice upsert_batch
        # persists, so the files are read once
        upsert_batch(
            target, table, batch_df, pk_cols, version_col,
            n_buckets, bucket_hash,
        )

    return _start_foreach_batch(
        spark, source_path, schema, apply_batch, checkpoint_dir,
        trigger_seconds, max_files_per_trigger,
    )


def stream_mor_sync(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    target: ParquetDatabase,
    table: str,
    pk_cols: list[str],
    checkpoint_dir: str,
    version_col: str = "xmin",
    tombstone_flag: str | None = None,
    trigger_seconds: float | None = None,
    max_files_per_trigger: int | None = None,
    max_log_fraction: float = 0.1,
    max_log_bytes: int | None = None,
):
    """Streaming MERGE-ON-READ sync: every CDC micro-batch lands as
    one upsert-log APPEND — per-trigger write cost is the batch
    itself, never a bucket rewrite. This is MOR's design point taken
    to its native cadence: continuous small batches are exactly where
    copy-on-write amplification (W = bucket_bytes/batch_bytes) is
    worst, and where the log append is O(batch). Readers overlay via
    ``read_merged``; the stream compacts inline (layout-aware, see
    compact_upsert_log) when the log crosses ``max_log_fraction`` of
    the base or ``max_log_bytes`` on disk.

    ``tombstone_flag``: optional boolean column marking CDC deletes —
    flagged rows land as tombstone log rows carrying their OWN
    per-row versions (unlike the batch delete phase, which
    synthesizes watermark+1); unflagged rows are upserts. The flag
    column itself never reaches the log payload. Every log row goes
    through ``append_upsert_log``, so a batch whose column types
    differ from the base is rejected, flagged or not.

    The first non-empty micro-batch BOOTSTRAPS the base table through
    :func:`~sslr_spark.operators.updates.upsert_batch`'s creation path
    (an atomic overwrite of the collapsed batch's live rows: a key
    whose latest row is flagged never exists downstream); every later
    batch appends. Crash semantics:
    foreachBatch replays an epoch after a crash — a replayed APPEND
    would duplicate log rows, which the overlay's
    latest-version-wins collapse already makes invisible to readers
    and which compaction folds away; the epoch sidecar
    (``_sslr_stream_mor.json``) additionally makes the common replay
    a no-op, mirroring the batch engine's data-before-state commit
    order. Returns the StreamingQuery."""
    from sslr_spark.functions.dedup import cache_scope, persist

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # filled by the emptiness count; the apply reads stored rows
        with cache_scope():
            batch_df = persist(batch_df)
            if not batch_df.count():
                return
            meta = (
                target.read_table_meta(table, "stream_mor")
                if hasattr(target, "read_table_meta") else None
            ) or {}
            if int(epoch_id) <= int(meta.get("epoch", -1)):
                return  # replayed epoch: already applied
            batch = batch_df
            if tombstone_flag and tombstone_flag in batch.columns:
                batch = batch.withColumnRenamed(tombstone_flag, TOMBSTONE_COL)
            if not target.table_exists(table):
                upsert_batch(target, table, batch, pk_cols, version_col)
            else:
                append_upsert_log(target, table, batch, pk_cols, version_col)
                if should_compact_upsert_log(
                    target, table, max_log_fraction, max_log_bytes=max_log_bytes
                ):
                    compact_upsert_log(target, table, pk_cols, version_col)
            if hasattr(target, "write_table_meta"):
                target.write_table_meta(
                    table, "stream_mor", {"epoch": int(epoch_id)}
                )

    return _start_foreach_batch(
        spark, source_path, schema, apply_batch, checkpoint_dir,
        trigger_seconds, max_files_per_trigger,
    )


def streaming_neardup_ingest(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    target: ParquetDatabase,
    checkpoint_dir: str,
    accepted_table: str = "accepted",
    index_table: str = "__neardup_index",
    text_col: str = "text",
    shingle_n: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    jaccard_threshold: float = 0.5,
    hash_mode: str = "portable",
    trigger_seconds: float | None = None,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    force: bool = False,
):
    """Continuous near-dup-deduped ingest: every arriving micro-batch
    is collapsed within itself, probed against the ACCEPTED corpus's
    persisted MinHash index, and only genuinely new documents land —
    the streaming composition of :func:`minhash_lsh_pairs` ->
    :func:`incremental_minhash_dedup` -> :func:`minhash_index`, with
    the same results.

    Per micro-batch (epoch), the batch is shingled and signed ONCE:
    its (doc_id, shingle) index and (doc_id, band, sig) band keys are
    landed in the batch's own cache scope, and each step below reads
    a slice of them through the cores of those three functions:

    1. in-batch collapse: LSH-verified pairs, min-id keeper (the
       ``doc_b`` side of each verified pair drops — conservative on
       transitive chains, same policy as the batch pair queries);
    2. corpus probe: the survivors' slice runs against the stored
       index tables — candidate joins and verification only, the
       accepted corpus itself is NEVER rescanned (its shingles and
       band keys were stored when its docs were accepted);
    3. landing: fresh docs append to ``accepted_table`` and their
       slice of the index (shingles + band keys) appends to the index
       tables — index maintenance is a plain append because the
       artifacts are row-per-(doc, shingle|band).

    Exactly-once for CHECKPOINTED replays (the crash-recovery path,
    where a replayed epoch carries the same id and file set): all
    three writes go through per-epoch dynamic partition overwrite
    (``replace_partitions`` on an ``__epoch`` column), and the index
    load EXCLUDES the current epoch's partition — so a replayed batch
    recomputes against exactly the pre-crash corpus state and
    overwrites its own partitions with identical rows instead of
    appending duplicates or (worse) self-matching into data loss.

    A FRESH checkpoint over an already-populated target is a rebuild,
    not a replay: epoch numbering restarts at 0 while the target still
    holds higher-epoch partitions, and changed batch boundaries can
    legitimately change which member of a near-dup pair wins, so
    results may differ from the original run and stale high-epoch
    partitions are never reconciled. Rebuild into a FRESH target
    instead: the epoch-0-on-used-target case RAISES (a warning is too
    easy to miss in the driver logs of a 100 TB rebuild misroute);
    pass ``force=True`` to acknowledge the rebuild semantics and
    proceed anyway (the acknowledgement still logs a warning).

    LSH parameters (``shingle_n / n_hashes / n_bands / hash_mode``)
    are baked into the stored index — keep them constant for the life
    of the target, or rebuild the index with :func:`minhash_index`.

    ``compact_every``: run :func:`compact_neardup_index_incremental`
    automatically after every Nth epoch (its ``keep_last`` default
    protects the replayable recent epochs) — long-running ingests then
    never accumulate unbounded per-trigger partitions. Each call
    seals only the NEW epochs into a segment and size-tiered-merges
    the smallest segments, so per-call rewrite is bounded by the new
    batches plus the smallest segments and total maintenance I/O over
    the stream's life amortizes to O(corpus · log corpus) — safe to
    leave on for very long-lived ingests. Between restarts,
    ``compact_neardup_index_incremental(target, max_segments=1)`` is
    the offline full rewrite that collapses everything to one base.

    Returns the StreamingQuery. Accepted reads carry the ``__epoch``
    partition column (drop it downstream if unwanted).
    """
    from sslr_spark.functions.dedup import (
        _band_keys,
        _corpus_matches,
        _lsh_pairs,
        cache_scope,
        land,
        shingles,
    )

    sh_table = f"{index_table}_shingles"
    bk_table = f"{index_table}_buckets"

    def _has_committed_data(table: str) -> bool:
        """True only when the table dir holds at least one COMMITTED
        data file. A crash during the very first epoch's write can
        leave the directory with only an uncommitted ``_temporary``
        subtree — ``table_exists`` then passes but ``read`` fails
        schema inference on every replay, wedging the stream. The
        bucket table is written LAST each epoch, so committed data
        there implies the shingle table has data too; partial writes
        from a crashed later epoch are invisible to reads (Spark
        ignores ``_``-prefixed paths), so older epochs stay usable."""
        root = target.path(table)
        if not os.path.isdir(root):
            return False
        for dirpath, dirnames, filenames in os.walk(root):
            # skip uncommitted/hidden subtrees (_temporary, .staging)
            # but KEEP partition dirs — they contain '=' and are read
            # by Spark even with the __-prefixed partition column name
            dirnames[:] = [
                d
                for d in dirnames
                if "=" in d or not d.startswith(("_", "."))
            ]
            if any(not f.startswith(("_", ".")) for f in filenames):
                return True
        return False

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # the batch owns every block it stores (its landings, the pair
        # generators' caches) and frees them when it ends
        with cache_scope():
            # every step below reads this landing, the emptiness probe
            # included, so the batch's files are read once
            batch = land(batch_df)
            if batch.isEmpty():
                return
            index_ready = _has_committed_data(bk_table)
            if int(epoch_id) == 0 and index_ready:
                msg = (
                    "streaming_neardup_ingest: epoch 0 over an already-"
                    "populated target — this is a rebuild with a fresh "
                    "checkpoint, not a crash replay; stale higher-epoch "
                    "partitions are not reconciled. Rebuild into a fresh "
                    "target instead, or pass force=True to acknowledge."
                )
                if not force:
                    raise RuntimeError(msg)
                import warnings

                warnings.warn(msg, RuntimeWarning, stacklevel=2)
            ep = F.lit(int(epoch_id))
            # the batch is shingled and signed ONCE; the in-batch
            # pairs, the corpus probe and the new index rows all read
            # slices of these two landings (shingles are per-row and
            # signatures per-doc, so a slice equals re-indexing the
            # sliced docs)
            sh = land(shingles(batch, text_col, shingle_n))
            bk = land(_band_keys(sh, n_hashes, n_bands, hash_mode))
            # in-batch collapse: the doc_b side of each verified pair
            drop = _lsh_pairs(sh, bk, jaccard_threshold).select(
                F.col("doc_b").alias("doc_id")
            )
            if index_ready:
                # live partitions only: after a compaction crash,
                # folded epochs can coexist on disk with the sealed
                # segment holding the same rows — the manifest says
                # which copy counts
                live = live_epoch_filter(
                    load_segment_manifest(target, index_table),
                    exclude_epoch=int(epoch_id),
                )
                near = _corpus_matches(
                    sh.join(drop, "doc_id", "left_anti"),
                    bk.join(drop, "doc_id", "left_anti"),
                    target.read(sh_table).filter(live).drop("__epoch"),
                    target.read(bk_table).filter(live).drop("__epoch"),
                    jaccard_threshold,
                )
                drop = drop.unionByName(
                    near.select(F.col("batch_id").alias("doc_id"))
                )
            # stored once: each of the three writes below reads it
            drop = land(drop.distinct())
            for table, rows in (
                (accepted_table, batch),
                (sh_table, sh),
                (bk_table, bk),
            ):
                target.replace_partitions(
                    table,
                    rows.join(drop, "doc_id", "left_anti")
                    .withColumn("__epoch", ep),
                    "__epoch",
                )
        if (
            compact_every
            and int(epoch_id) > 0
            and int(epoch_id) % compact_every == 0
        ):
            # runs after this epoch's table writes but BEFORE the
            # streaming checkpoint commits the epoch — replay stays
            # safe because compaction converges under replay and
            # keep_last leaves the replayable epochs separately
            # addressable
            compact_neardup_index_incremental(
                target, index_table, accepted_table
            )

    return _start_foreach_batch(
        spark, source_path, schema, apply_batch, checkpoint_dir,
        trigger_seconds, max_files_per_trigger,
    )


# ------------------------------------------------------------------
# segment manifest — LSM bookkeeping for the near-dup index tables
#
# Sealed segments are partitions with NEGATIVE ``__epoch`` ids. Which
# negative partitions are LIVE (and which >= 0 epochs have been folded
# away) is recorded in a tiny JSON manifest in the bucket table's
# directory (underscore-prefixed: invisible to Spark scans, same
# convention as _sslr_layout.json). Compaction writes new partitions
# FIRST (invisible until tracked), commits the manifest ATOMICALLY
# (os.replace), and only then garbage-collects dead partitions — a
# crash at any point leaves a state the next call converges from,
# with readers (live_epoch_filter) never seeing duplicates.
#
# No manifest = never compacted: every partition is a live epoch.
# ------------------------------------------------------------------

_SEG_MANIFEST = "_sslr_segments.json"


def load_segment_manifest(
    target: ParquetDatabase, index_table: str = "__neardup_index"
) -> dict | None:
    """The index's segment manifest, or None for an index that was
    never compacted. Shape: ``{"folded_upto": int, "segments": {id: rows},
    "next_seg": int}`` — epochs <= folded_upto are dead (their rows
    live in segments); negative partitions are live iff listed."""
    import json

    p = os.path.join(target.path(f"{index_table}_buckets"), _SEG_MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        m = json.load(fh)
    m["segments"] = {int(k): v for k, v in m["segments"].items()}
    return m


def _write_segment_manifest(
    target: ParquetDatabase, index_table: str, m: dict
) -> None:
    import json

    root = target.path(f"{index_table}_buckets")
    os.makedirs(root, exist_ok=True)
    p = os.path.join(root, _SEG_MANIFEST)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {**m, "segments": {str(k): v for k, v in m["segments"].items()}},
            fh,
        )
    os.replace(tmp, p)  # the atomic commit point


def live_epoch_filter(manifest: dict | None, exclude_epoch: int | None = None):
    """Column predicate selecting LIVE ``__epoch`` partitions under
    ``manifest`` (None = never compacted: everything live). Readers of the
    near-dup tables must apply this — after a crashed compaction the
    folded epochs may still be on disk next to the sealed segment
    holding the same rows, and only the manifest says which copy
    counts."""
    c = F.col("__epoch")
    if manifest is None:
        cond = F.lit(True)
    else:
        segs = [int(s) for s in manifest["segments"]]
        cond = (c > int(manifest["folded_upto"])) & (c >= 0)
        if segs:
            cond = cond | c.isin(segs)
    if exclude_epoch is not None:
        cond = cond & (c != int(exclude_epoch))
    return cond


def read_accepted(
    target: ParquetDatabase,
    accepted_table: str = "accepted",
    index_table: str = "__neardup_index",
) -> DataFrame:
    """The accepted corpus restricted to LIVE partitions — the
    crash-correct way to consume :func:`streaming_neardup_ingest`'s
    output once compaction is in play (a plain ``target.read`` can
    transiently double-count rows left by a compaction crash until the
    next call GCs them)."""
    m = load_segment_manifest(target, index_table)
    return (
        target.read(accepted_table)
        .filter(live_epoch_filter(m))
        .drop("__epoch")
    )


def compact_neardup_index_incremental(
    target: ParquetDatabase,
    index_table: str = "__neardup_index",
    accepted_table: str = "accepted",
    keep_last: int = 2,
    max_segments: int = 8,
) -> dict:
    """Size-tiered INCREMENTAL compaction of the streaming near-dup
    tables (VERDICT r3 task #5): the bounded in-stream maintenance
    that keeps a long-running ingest from accumulating one tiny
    partition per trigger (a year of 1-minute triggers is ~500k
    directories; every index load lists them all).
    ``max_segments=1`` is the OFFLINE full rewrite (cost ∝ corpus):
    every live partition past ``keep_last`` folds into ONE base
    segment, each row written once.

    ``keep_last`` recent epochs stay untouched: Structured Streaming
    only ever replays the most recent uncommitted epoch, and a
    replayed epoch relies on its own partition staying separately
    addressable (the exactly-once design excludes it from the index
    load — folding it into a segment would make replays self-match
    into data loss).

    One call:

    1. folds every foldable epoch (all live >= 0 epochs except the
       ``keep_last`` newest) into ONE new sealed segment — rewrite ∝
       the folded batches, never the corpus;
    2. while more than ``max_segments`` sealed segments exist, merges
       the SMALLEST ones into a fresh segment (size-tiered policy:
       small segments merge often, big ones rarely — per-item rewrite
       amortizes to O(log n) over the stream's life, the LSM-tree
       argument);
    3. commits the manifest atomically, then GCs dead partitions.

    Crash-safety: new segments are written under ids allocated from
    the manifest's ``next_seg`` counter and stay INVISIBLE (not in the
    manifest, excluded by :func:`live_epoch_filter`) until the single
    ``os.replace`` manifest commit; a replay after a crash overwrites
    the same orphan partitions and converges. Dead partitions linger
    only until the next call's GC and are never read.

    Returns ``{"folded_epochs", "merged_segments", "rewritten_rows",
    "segments"}`` — ``rewritten_rows`` (bucket-table rows written this
    call) is the cost metric the tests bound.
    """
    sh_table = f"{index_table}_shingles"
    bk_table = f"{index_table}_buckets"
    tables = [t for t in (accepted_table, sh_table, bk_table)
              if target.table_exists(t)]
    stats = {"folded_epochs": 0, "merged_segments": 0,
             "rewritten_rows": 0, "segments": 0}
    if bk_table not in tables:  # no committed-epoch reference: skip
        return stats
    m = load_segment_manifest(target, index_table)
    if m is None:
        m = {"folded_upto": -1, "segments": {}, "next_seg": -2}
        # bootstrap commit BEFORE any segment write: with no manifest
        # on disk every partition reads as live, so a crash between a
        # first segment write and its manifest commit would leave the
        # orphan visible (duplicates). Once this no-op manifest
        # exists, untracked negatives are invisible and every later
        # crash window converges.
        _write_segment_manifest(target, index_table, m)
    all_parts = sorted(
        r[0]
        for r in target.read(bk_table).select("__epoch").distinct().collect()
        if r[0] is not None
    )
    live_epochs = sorted(
        e for e in all_parts if e >= 0 and e > m["folded_upto"]
    )
    fold = live_epochs[:-keep_last] if keep_last > 0 else live_epochs
    segs: dict[int, int] = dict(m["segments"])
    dead: list[int] = []

    def _seal(ids: list[int]) -> None:
        """Write the union of partitions ``ids`` as one new segment
        across all three tables; the segment supersedes ``ids``."""
        seg_id = m["next_seg"]
        m["next_seg"] -= 1
        for t in tables:
            part = (
                target.read(t)
                .filter(F.col("__epoch").isin(ids))
                .withColumn("__epoch", F.lit(seg_id))
            )
            target.replace_partitions(t, part, "__epoch")
        rows = (
            target.read(bk_table)
            .filter(F.col("__epoch") == seg_id)
            .count()
        )
        for p in ids:
            segs.pop(p, None)  # folded epochs are not segments
        segs[seg_id] = rows
        stats["rewritten_rows"] += rows
        dead.extend(ids)

    # the size-tiered merge below would take every segment, the new
    # fold segment included: seal the folded epochs and the old
    # segments together instead, so each row is written once
    merge_all = (
        bool(fold) and max_segments <= 1 and len(segs) + 1 > max_segments
    )
    if fold:
        old = sorted(segs) if merge_all else []
        _seal(fold + old)
        stats["folded_epochs"] = len(fold)
        if merge_all:
            stats["merged_segments"] = len(old) + 1
        m["folded_upto"] = max(fold)
    # size-tiered merge: collapse the smallest (excess + 1) segments
    if len(segs) > max_segments and not merge_all:
        pick = sorted(segs, key=lambda k: (segs[k], k))[
            : len(segs) - max_segments + 1
        ]
        _seal(pick)
        stats["merged_segments"] = len(pick)
    m["segments"] = segs
    stats["segments"] = len(segs)
    if dead:
        _write_segment_manifest(target, index_table, m)
    # GC: everything just superseded plus leftovers of crashed runs
    # (dead-but-undropped partitions from a crash between a previous
    # call's manifest commit and its GC)
    live_now = {e for e in all_parts
                if (e >= 0 and e > m["folded_upto"]) or e in segs}
    gc = sorted((set(all_parts) | set(dead)) - live_now)
    if gc:  # dead ⊆ gc; the manifest exists since the bootstrap
        for t in tables:
            target.drop_partitions(t, "__epoch", gc)
    return stats


def stream_dedup(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    select_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> None:
    """Stateful streaming dedup via ``dropDuplicatesWithinWatermark``
    — the at-least-once ingest guard: retried/replayed events carry
    the same key, and exactly one copy may pass. Plain streaming
    ``dropDuplicates`` keeps key state FOREVER (unbounded at 100 TB);
    the watermark variant expires a key's state once the event-time
    watermark passes it, so state is bounded by the lateness horizon
    — duplicates arriving within ``watermark`` of each other are
    suppressed, later replays land below the watermark and drop as
    late data (also suppressed). Either way exactly one copy is
    emitted; rows are emitted immediately (dedup does not hold rows
    back the way windowed aggregation does).

    ``max_files_per_trigger`` splits the availableNow drain into
    multiple micro-batches so duplicates genuinely cross batch
    boundaries through the state store (the shape a test should pin).

    Scale shape: state partitions by ``key_cols``; per-key payload is
    just the event-time entry. One availableNow pass drains the
    source and writes the survivors to ``out_dir`` as parquet."""
    df = _watermarked(
        _file_stream(spark, source_path, schema, max_files_per_trigger),
        ts_col, watermark,
    )
    deduped = df.dropDuplicatesWithinWatermark(key_cols).select(
        *select_cols,
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
    )
    _drain(deduped, out_dir, checkpoint_dir)


def stream_interval_join(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    out_dir: str,
    checkpoint_dir: str,
    left_filter: str,
    right_filter: str,
    join_keys: list[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
    window_seconds: int = 600,
    watermark: str = "30 minutes",
) -> None:
    """Stream-STREAM interval join with event-time watermarks — the
    Structured Streaming join the reference's poll loop cannot
    express: left events pair with right events of the same key whose
    timestamp falls in ``[left.ts, left.ts + window_seconds]``.

    Both sides watermark on ``ts_col``; the time-range predicate lets
    Spark bound the join state (right rows expire once the watermark
    passes their eligibility window — without the range condition a
    stream-stream inner join would buffer both sides forever). One
    availableNow pass drains the source and writes the joined pairs
    to ``out_dir`` as parquet.

    Scale shape: state is partitioned by the join keys; each side
    keeps only rows inside the watermark horizon. Late data beyond
    the watermark drops on BOTH sides — the documented Structured
    Streaming semantics (T9)."""
    left, right = (
        _watermarked(
            _file_stream(spark, source_path, schema).filter(side),
            ts_col, watermark,
        )
        for side in (left_filter, right_filter)
    )
    lcols = [F.col(f"l.{c}").alias(c) for c in join_keys]
    joined = (
        left.alias("l")
        .join(
            right.alias("r"),
            [F.col(f"l.{c}") == F.col(f"r.{c}") for c in join_keys]
            + [
                F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"),
                F.col(f"r.{ts_col}")
                <= F.col(f"l.{ts_col}")
                + F.expr(f"interval {window_seconds} seconds"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
            *lcols,
            F.unix_micros(F.col(f"l.{ts_col}")).alias("left_ts_us"),
            F.unix_micros(F.col(f"r.{ts_col}")).alias("right_ts_us"),
        )
    )
    _drain(joined, out_dir, checkpoint_dir)


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start_us", T.LongType(), False),
        T.StructField("session_end_us", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), False),
        T.StructField("last_us", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)


def stream_sessionize(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 240,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
    metrics: dict | None = None,
) -> None:
    """CUSTOM stateful streaming operator: gap-timeout sessionization
    via ``applyInPandasWithState`` — the arbitrary-state primitive the
    built-in streaming operators (windowed agg, dropDuplicates*,
    stream-stream join) cannot express, because a session's extent
    depends on the DATA (the gap structure), not on a fixed window.

    Per user, consecutive events less than ``gap_minutes`` apart
    belong to one session. Within a micro-batch, sessions separated
    by a closed gap emit immediately; the trailing open session per
    user persists as (start, last, n) state with an EVENT-TIME
    TIMEOUT at ``last + gap`` — when the watermark passes that
    instant no event can extend the session any more (later arrivals
    would be dropped as late), so the state emits and is removed.
    State is therefore bounded by the set of users active within the
    lateness horizon — nothing lives past its watermarked timeout.

    Out-of-order events inside the watermark horizon MERGE into the
    open session interval (start=min, last=max) — an aggregate-state
    sessionizer cannot re-split an interval it already merged, which
    is the standard applyInPandasWithState trade (same as Spark's own
    session-window aggregation).

    Late-event contract (pinned by test): Spark does NOT auto-filter
    below-watermark rows into applyInPandasWithState, so the operator
    enforces CLOSED-SESSION IMMUTABILITY itself — an event more than
    ``gap`` older than the open session's start belongs to a session
    that already emitted and is DROPPED (it can neither resurrect the
    closed session nor glue onto the newer one it has no business
    in). Events within ``gap`` of the open session's start merge
    backward (start=min).

    Event times travel as tz-free epoch MICROSECONDS alongside the
    watermark column — the pandas view of a TIMESTAMP column is
    session-tz wall clock, which would corrupt epoch arithmetic under
    a non-UTC driver session (the hostile-config matrix runs one).

    Scale shape: state partitions by ``key_col``; per-key payload is
    three longs regardless of session length (never the events
    themselves); emission is append-mode incremental. One
    availableNow pass drains the source and appends closed sessions
    to ``out_dir`` as parquet.

    Source-ordering sensitivity (production note, see README): the
    watermark advances with the max event time SEEN, so feeding a
    backfill's files in arbitrary order can push the watermark past
    entire files, silently dropping their events as late. For
    replays/backfills either stage files one-per-trigger in time
    order (``max_files_per_trigger=1``) or use the batch
    :func:`sessionize_batch` operator, which is order-free.

    Observability: pass ``metrics={}`` to receive
    ``metrics["late_dropped"]`` — the count of events dropped by
    closed-session immutability (an accumulator total; approximate
    under task retries, like any Spark accumulator-backed metric).

    State partitions and the state-store provider follow the session
    conf: A/Bs at sf0.1 found no pinned partition count (1, 4, 32) and
    not the RocksDB provider faster than the defaults — the per-batch
    cost is compute that parallelizes, and RocksDB's per-partition
    commit dwarfs this operator's three-long-per-key state.

    Batch-coalescing the source (one availableNow batch instead of
    three) was considered and REJECTED without measurement: the bench
    source's two sentinel files exist to advance the watermark
    BETWEEN batches so open sessions time out and emit; one batch
    would change what the section computes (open sessions would stay
    unflushed), violating the results-identical bar.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = int(gap_minutes) * 60 * 1_000_000
    dropped_acc = spark.sparkContext.accumulator(0)

    def sessionize(key, pdfs, state):
        (user,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start_us": [start_us],
                    "session_end_us": [last_us],
                    "n_events": [n],
                }
            )
            return
        ts = []
        for pdf in pdfs:
            ts.extend(int(v) for v in pdf["__ts_us"])
        ts.sort()
        cur = tuple(state.get) if state.exists else None
        out_start, out_end, out_n = [], [], []
        for t in ts:
            if cur is None:
                cur = (t, t, 1)
            elif t < cur[0] - gap_us:
                # below the open session's own horizon: belongs to a
                # session that already closed and emitted — DROP (see
                # the late-event contract; Spark does not pre-filter
                # late rows into this operator)
                dropped_acc.add(1)
                continue
            elif t - cur[1] <= gap_us:
                # within gap of the session's last event: extend/merge
                cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1)
            else:
                out_start.append(cur[0])
                out_end.append(cur[1])
                out_n.append(cur[2])
                cur = (t, t, 1)
        # trailing open session: persist, time out at last + gap. The
        # timeout fires only once the WATERMARK passes last + gap, so
        # an in-horizon arrival always finds the state alive; an event
        # arriving later still (beyond the lateness bound the
        # watermark declares) finds no state and starts a fresh
        # session — the standard once-state-expires trade of
        # watermarked processing, same as dropDuplicatesWithinWatermark
        if cur is None:
            # every event in the batch was dropped as late and no
            # prior state exists — nothing to persist or emit
            return
        # Spark rejects a timeout timestamp at/below the CURRENT
        # watermark (INVALID_TIMEOUT_TIMESTAMP) — reachable when a
        # below-watermark event starts a fresh session (no live
        # state) or merges into a stale recovered one. Clamp to
        # watermark+1ms: the session then times out (emits) on the
        # very next watermark advance, preserving the "late arrival
        # starts a fresh session" contract without crashing the query
        timeout_ms = cur[1] // 1000 + gap_us // 1000
        wm_ms = state.getCurrentWatermarkMs()
        state.update(cur)
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
        if out_start:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(out_start),
                    "session_start_us": out_start,
                    "session_end_us": out_end,
                    "n_events": out_n,
                }
            )

    df = _watermarked(
        _file_stream(spark, source_path, schema, max_files_per_trigger),
        ts_col, watermark,
    )
    sessions = (
        df.select(
            F.col(key_col),
            F.col(ts_col),
            F.unix_micros(F.col(ts_col)).alias("__ts_us"),
        )
        .groupBy(key_col)
        .applyInPandasWithState(
            sessionize,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    _drain(sessions, out_dir, checkpoint_dir)
    if metrics is not None:
        metrics["late_dropped"] = int(dropped_acc.value)


def sessionize_batch(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 240,
) -> DataFrame:
    """ORDER-FREE batch counterpart of :func:`stream_sessionize` for
    backfills and replays: the same gap-session assignment as a
    gaps-and-islands window — flag gaps > ``gap_minutes`` with
    ``lag``, running-sum the flags into session ids, aggregate. No
    watermark, no state store, no sensitivity to file-arrival order
    (the streaming operator's watermark advances with the max event
    time SEEN, so an out-of-time-order backfill silently drops whole
    files as late — this is the replay-safe path; see README).

    Emits the streaming operator's exact output shape
    (key, session_start_us, session_end_us, n_events) and, on data
    within the streaming lateness horizon, its exact rows
    (property-tested equivalence in tests/test_round8_fixes.py).

    Scale shape: ONE shuffle on ``key_col``; both window frames are
    running (bounded) frames, never whole-partition, so no
    WindowExec buffering warning; the aggregate is map-side partial
    over (key, session). Epoch-µs arithmetic, tz-safe like the
    streaming twin."""
    from pyspark.sql import Window

    gap_us = int(gap_minutes) * 60 * 1_000_000
    w = Window.partitionBy(key_col).orderBy("__ts_us")
    marked = df.select(
        key_col, F.unix_micros(F.col(ts_col)).alias("__ts_us")
    ).withColumn(
        "__brk",
        F.when(
            F.col("__ts_us") - F.lag("__ts_us").over(w) > gap_us, 1
        ).otherwise(0),
    )
    return (
        marked.withColumn(
            "__sess",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(key_col, "__sess")
        .agg(
            F.min("__ts_us").alias("session_start_us"),
            F.max("__ts_us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("__sess")
    )


def stream_hll(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    out_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "30 minutes",
    p: int = 6,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming build of MERGEABLE HyperLogLog registers per
    (event-time window, group) — continuous distinct counting whose
    state is CONSTANT per group (<= 2^p register rows) instead of one
    entry per distinct value (what a streaming count_distinct would
    need; Spark refuses it on streams for exactly that reason).

    The registers written are the same portable form
    ``functions/sketches.py hll_build`` produces in batch: today's
    streamed registers and last month's batch backfill merge with one
    register-wise MAX (hll_merge), then estimate — the
    batch/streaming LAMBDA UNION for cardinality, no raw re-scan.

    Watermark + append output: a window's registers emit once its
    close passes the watermark; late events inside the horizon fold
    into the open window's max like any other row. The LAST window
    only closes when a later micro-batch advances the watermark past
    it — drain with ``max_files_per_trigger`` and a far-future
    sentinel batch (the stream_sessionize flush pattern) when the
    source is finite and every window must emit. One availableNow
    drain writes (win_start_us, group..., bucket, rho) parquet rows —
    win_start_us as TZ-free epoch micros (windows align to the epoch,
    so boundaries are session-timezone-independent)."""
    from sslr_spark.functions.hashing import h60
    from sslr_spark.functions.sketches import _hll_rho

    df = _watermarked(
        _file_stream(spark, source_path, schema, max_files_per_trigger),
        ts_col, watermark,
    )
    h = h60(
        F.coalesce(F.col(value_col).cast("string"), F.lit("\x00"))
    ).alias("__h")
    regs = (
        df.select(F.window(F.col(ts_col), window).alias("__w"), *group_cols, h)
        .select(
            "__w",
            *group_cols,
            (F.col("__h") % F.lit(1 << p)).cast("int").alias("bucket"),
            _hll_rho(F.col("__h"), p).alias("rho"),
        )
        .groupBy("__w", *group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
        .select(
            F.unix_micros(F.col("__w.start")).alias("win_start_us"),
            *group_cols,
            "bucket",
            "rho",
        )
    )
    _drain(regs, out_dir, checkpoint_dir)


def stream_cms(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    out_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "30 minutes",
    depth: int = 4,
    width: int = 256,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming build of MERGEABLE count-min registers per
    (event-time window, group) — continuous per-item frequency
    monitoring whose state is CONSTANT per group (<= depth*width
    counter rows) instead of one entry per distinct item (what a
    streaming per-item count would keep). The counting twin of
    :func:`stream_hll`, same lambda-union contract: the registers
    written are the exact portable form ``sketches.py cms_build``
    produces in batch, so streamed windows and batch backfills merge
    with one cell-wise SUM (cms_merge) and point-query with
    cms_query — no raw re-scan.

    Watermark + append output: a window's registers emit once its
    close passes the watermark (drain a finite source with
    ``max_files_per_trigger`` + a far-future sentinel batch — the
    stream_hll flush pattern). One availableNow drain writes
    (win_start_us, group..., row, col, cnt) parquet rows."""
    from sslr_spark.functions.sketches import _cms_cells

    df = _watermarked(
        _file_stream(spark, source_path, schema, max_files_per_trigger),
        ts_col, watermark,
    )
    v = F.coalesce(F.col(value_col).cast("string"), F.lit("\x00"))
    regs = (
        df.select(
            F.window(F.col(ts_col), window).alias("__w"),
            *group_cols,
            F.explode(_cms_cells(v, depth, width)).alias("__c"),
        )
        .groupBy(
            "__w",
            *group_cols,
            F.col("__c.row").alias("row"),
            F.col("__c.col").alias("col"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_micros(F.col("__w.start")).alias("win_start_us"),
            *group_cols,
            "row",
            "col",
            "cnt",
        )
    )
    _drain(regs, out_dir, checkpoint_dir)
