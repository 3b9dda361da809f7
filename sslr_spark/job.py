"""Job orchestration: connect -> validate -> update, per table.

Mirrors the reference's job layer (internal/job.go):
- dependency-ordered validation over the 'uses' DAG with cycle
  detection via the validating-state re-entry rule (:96-212);
- schema drift -> abort or recreate+force-resync (:129-153);
- where-clause drift detected through the state table (:185-209);
- update phase = incremental upsert sync then delete sync (:246-292);
- run-once vs continuous polling loop (reference main.go:38-82).

Filtered tables' predicates may reference their 'uses' dependencies;
those are registered as temp views before evaluation (reference P9 —
arbitrary SQL incl. subqueries in `where`, sslr.json:15-24).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sslr_spark.catalog import (
    ValidationStatus,
    discover_primary_keys,
    validate_target_schema,
)
from sslr_spark.config import Config
from sslr_spark.state import StateStore
from sslr_spark.operators.updates import sync_updates
from sslr_spark.operators.deletes import sync_deletes
from sslr_spark.throttle import Throttle


class DependencyLoop(Exception):
    """'uses' cycle discovered during validation (reference
    internal/job.go:101-103)."""


@dataclass
class JobResult:
    updated_rows: int = 0
    repaired_buckets: int = 0
    compacted_partitions: int = 0
    deleted_rows: int = 0  # merge-on-read tombstones appended
    repaired_rows: int = 0  # merge-on-read repair rows appended
    full_copies: list[str] = field(default_factory=list)
    validated: list[str] = field(default_factory=list)
    # merge-on-read log health per table (rows/bytes/pending
    # tombstones/last compaction) — overlay debt operators can watch
    # before the read path starts paying for it
    mor_log: dict = field(default_factory=dict)


class Job:
    def __init__(
        self,
        spark: SparkSession,
        config: Config,
        source_db=None,
        target_db=None,
    ):
        """Adapters are chosen from the config's location strings
        (postgres:///jdbc: URL -> JdbcDatabase, else ParquetDatabase —
        reference internal/job.go:81-92 connects both sides from the
        same strings). ``source_db``/``target_db`` override the
        factory (tests inject in-memory fakes)."""
        from sslr_spark.sources.factory import open_database

        config.validate()
        self.spark = spark
        self.config = config
        self.source = source_db or open_database(
            spark, config.source, role="source",
            version_column=config.version_column,
        )
        self.target = target_db or open_database(
            spark, config.target, role="target",
            version_column=config.version_column,
        )
        self.state = StateStore(self.target, config.state_table)
        self.status: dict[str, ValidationStatus] = {
            t: ValidationStatus.UNKNOWN for t in config.all_tables()
        }
        self.primary_keys: dict[str, list[str]] = {}
        self.force_full: set[str] = set()
        self._stop = threading.Event()

    # -- validation (reference internal/job.go:96-212) -----------------
    def _validate_table(self, table: str) -> None:
        st = self.status.get(table, ValidationStatus.UNKNOWN)
        if st == ValidationStatus.VALID:
            return
        if st == ValidationStatus.VALIDATING:
            raise DependencyLoop(f"dependency loop involving {table!r}")
        self.status[table] = ValidationStatus.VALIDATING

        ft = self.config.filtered_source_tables.get(table)
        for dep in ft.uses if ft else []:
            self._validate_table(dep)

        try:
            schema = self.source.schema(table)
            self.primary_keys[table] = discover_primary_keys(
                self.config.primary_keys, table, schema
            )
            needs_full = validate_target_schema(
                schema, self.target, table, self.config.resync_on_schema_change,
                ignore_cols=self._target_ignored_cols(),
            )
            if needs_full:
                self.force_full.add(table)
                self._mirror_target_ddl(table, schema)
            if ft is not None:
                # where-clause drift -> force resync (reference :185-209)
                prev = self.state.get(table)
                if prev.last_seen_version > 0 and prev.where_clause != ft.where:
                    self.force_full.add(table)
        except Exception:
            self.status[table] = ValidationStatus.INVALID
            raise
        self.status[table] = ValidationStatus.VALID

    def validate_tables(self) -> list[str]:
        order = self.config.validation_order()
        for t in order:
            self._validate_table(t)
        return order

    def _strip_version(self) -> bool:
        """In-place (JDBC) targets never store the source's version
        column (reference targets hold no xmin,
        internal/updates.go:117-124)."""
        return hasattr(self.target, "apply_upsert")

    def _target_ignored_cols(self) -> set[str] | None:
        return {self.config.version_column} if self._strip_version() else None

    def _mirror_target_ddl(self, table: str, source_schema) -> None:
        """S8 + S6/A5/A6 for DDL-capable targets: create the missing
        (or just-dropped) target table and replay the source's indexes
        (reference internal/job.go:155-183 create/recreate path).
        Postgres sources supply extracted DDL + indexes; other sources
        fall back to StructType-generated DDL and a synthesized unique
        PK index — the merge key always ends up indexed."""
        if not hasattr(self.target, "create_table") or self.target.table_exists(table):
            return
        from pyspark.sql import types as T

        from sslr_spark.sources.ddl import pk_index

        ddl = None
        indices = None
        if hasattr(self.source, "extract_table_schema"):
            try:
                ddl = self.source.extract_table_schema(table)
                indices = self.source.extract_table_indices(table)
            except Exception:
                ddl = None  # non-Postgres JDBC source: fall back
        if ddl is None:
            skip = self._target_ignored_cols() or set()
            ddl = T.StructType(
                [f for f in source_schema.fields if f.name not in skip]
            )
        self.target.create_table(table, ddl)
        if not indices:
            indices = [pk_index(table, self.primary_keys[table])]
        self.target.apply_indices(table, indices)

    # -- update phase (reference internal/job.go:223-292) --------------
    def _register_uses_views(self, table: str) -> None:
        """Register the table's 'uses' dependencies as temp views so the
        filter predicate can reference them (P9)."""
        ft = self.config.filtered_source_tables.get(table)
        for dep in ft.uses if ft else []:
            self.source.read(dep).createOrReplaceTempView(dep)

    def _watermark_probe(self, table: str, src: DataFrame, where):
        """Server-side A1 probe when the source adapter offers one
        (JdbcDatabase.agg_probe: one pushed count/max round trip —
        Spark's V1 JDBC relation pushes filters, not aggregates, so
        the DataFrame fallback would stream the table each poll).
        None for every other source (the Spark aggregate runs) and
        when the version column is absent (the loud degrade in
        get_update_range must see the missing column itself)."""
        vcol = self.config.version_column
        if not hasattr(self.source, "agg_probe") or vcol not in src.columns:
            return None
        return lambda: self.source.agg_probe(table, vcol, where)

    def source_df(self, table: str) -> DataFrame:
        self._register_uses_views(table)
        if hasattr(self.source, "read_auto_partitioned"):
            # JDBC source: range-partitioned parallel scan on the
            # first PK column (bounds probed with one min/max pushdown)
            pk = (self.primary_keys.get(table) or [None])[0]
            return self.source.read_auto_partitioned(table, pk)
        return self.source.read(table)

    def update_table(
        self, table: str, result: JobResult, throttle: Throttle | None = None
    ) -> None:
        """Sync one table. Each phase gets a FRESH per-operation
        throttle measuring only its own source reads (the reference
        creates one per operation, internal/updates.go:69,
        internal/deletes.go:29) — a shared instance would sum source
        time across tables/threads and overshoot the sleep. An
        explicitly passed ``throttle`` is used for both phases
        (tests / callers that want a shared budget)."""
        where = self.config.where_for(table)
        pks = self.primary_keys[table]
        src = self.source_df(table)
        n_buckets = self.config.target_buckets or None
        if n_buckets and not hasattr(self.target, "replace_partitions"):
            # bucket-partitioned layout is a lake/parquet concept;
            # in-place targets repair per-key instead
            n_buckets = None
        pct = self.config.throttle_percentage
        if not self.config.sync_updates:
            # Phase toggle (reference internal/job.go:254): skip the
            # update phase entirely; delete sync may still run below.
            if self.config.sync_deletes:
                self._sync_deletes_phase(
                    table, src, pks, where, n_buckets, result,
                    throttle or Throttle(pct),
                )
            self._maintenance(table, result)
            return
        rows = sync_updates(
            src,
            self.target,
            self.state,
            table,
            pks,
            where=where,
            version_col=self.config.version_column,
            full_copy_threshold=self.config.full_copy_threshold,
            force_full=table in self.force_full,
            # The reference's chunk bounds a single-connection txn's
            # memory (default 1000 rows); a Spark sink transaction
            # has no such bound, so the batch unit is 100 chunks —
            # it exists to bound sink-commit granularity (T2), not
            # memory.
            rows_per_batch=self.config.update_chunk_size * 100 or None,
            n_buckets=n_buckets,
            strip_version=self._strip_version(),
            throttle=throttle or Throttle(pct),
            bucket_hash=self.config.bucket_hash,
            versionless_source=getattr(self.source, "versionless", False),
            probe=self._watermark_probe(table, src, where),
            merge_on_read=self.config.merge_on_read,
            max_log_fraction=self.config.merge_on_read_max_log,
            max_log_bytes=self.config.merge_on_read_max_log_bytes,
        )
        result.updated_rows += rows
        versionless = self.config.version_column not in src.columns
        if table in self.force_full or versionless:
            # Full copy just ran — the target IS the source snapshot,
            # so delete sync is skipped this pass (reference
            # internal/job.go:261-271 returns before SyncDeletes).
            # Version-less sources (file drops) full-copy EVERY pass
            # (get_update_range degrade), so the same reasoning skips
            # their delete phase every pass — without this, a
            # continuous jsonl: sync would pay two full key scans plus
            # bucket fingerprints per pass for nothing.
            result.full_copies.append(table)
            self.force_full.discard(table)
        elif self.config.sync_deletes:
            self._sync_deletes_phase(
                table, src, pks, where, n_buckets, result,
                throttle or Throttle(self.config.throttle_percentage),
            )
        self._maintenance(table, result)

    def _maintenance(self, table: str, result: JobResult) -> None:
        """Post-sync small-file compaction (compactFilesPerBucket > 0,
        partitioned lake targets only): rewrite just the bucket
        partitions whose file count exceeds the cap, PK-sorted so the
        compacted files regain row-group skipping. Runs after the
        watermark/state commits — a crash mid-compaction loses no sync
        progress, only maintenance (the next pass redoes it)."""
        cap = self.config.compact_files_per_bucket
        if self.config.merge_on_read:
            result.mor_log[table] = self._mor_log_health(table)
        if cap <= 0 or not hasattr(self.target, "compact_partitions"):
            return
        stats = self.target.compact_partitions(
            table,
            max_files_per_partition=cap,
            sort_cols=self.primary_keys.get(table),
        )
        result.compacted_partitions += stats["compacted"]

    def _mor_log_health(self, table: str) -> dict:
        """Merge-on-read overlay debt, surfaced per pass: log
        rows/bytes come straight from parquet footers/file sizes
        (zero Spark jobs), the last-compaction record from the table
        sidecar, and the pending-tombstone count from one pruned scan
        of the LOG only — bounded by the compaction invariant, never
        the base."""
        from sslr_spark.operators.updates import (
            TOMBSTONE_COL,
            upsert_log_table,
        )

        log_t = upsert_log_table(table)
        out = {
            "log_rows": 0,
            "log_bytes": 0,
            "pending_tombstones": 0,
            "last_compaction": None,
        }
        tgt = self.target
        if hasattr(tgt, "read_table_meta"):
            out["last_compaction"] = tgt.read_table_meta(table, "compaction")
        if not tgt.table_exists(log_t):
            return out
        if hasattr(tgt, "table_rows"):
            out["log_rows"] = tgt.table_rows(log_t) or 0
        if hasattr(tgt, "table_bytes"):
            out["log_bytes"] = tgt.table_bytes(log_t)
        out["pending_tombstones"] = (
            tgt.read(log_t, with_meta=True)
            .filter(F.col(TOMBSTONE_COL))
            .count()
        )
        return out

    def _sync_deletes_phase(
        self, table, src, pks, where, n_buckets, result, throttle
    ) -> None:
        from sslr_spark.operators.deletes import effective_buckets

        if self.config.merge_on_read:
            self._sync_deletes_mor(table, src, pks, where, result, throttle)
            return
        # Runs after the update phase, so this sees the layout the
        # update phase just wrote (a full copy may have migrated it).
        n_buckets = effective_buckets(self.target, table, n_buckets)
        if not self.target.table_exists(table):
            # Nothing to reconcile (syncUpdates=false before the first
            # copy ever ran): the delete phase would read a missing
            # table. The reference hits the same ordering because it
            # creates target DDL during validation; parquet tables
            # exist only once data lands.
            return
        if n_buckets:
            from sslr_spark.operators.deletes import sync_deletes_partitioned

            stats = sync_deletes_partitioned(
                src, self.target, table, pks, n_buckets, where=where,
                throttle=throttle, hash_mode=self.config.bucket_hash,
            )
        else:
            stats = sync_deletes(
                src,
                self.target,
                table,
                pks,
                where=where,
                rows_per_bucket=self.config.min_delete_chunk_size,
                version_col=self.config.version_column,
                throttle=throttle,
                hash_mode=self.config.bucket_hash,
            )
        result.repaired_buckets += stats.mismatched_buckets

    def _sync_deletes_mor(
        self, table, src, pks, where, result, throttle
    ) -> None:
        """Key-set reconciliation in merge-on-read mode — the T4
        bucket-diff's job, done entirely with LOG APPENDS so MOR mode
        never reintroduces copy-on-write amplification:

        - keys present in the OVERLAY view but absent from the source
          become tombstone log rows (silent removals);
        - source rows whose keys are absent from the overlay are
          appended as upsert log rows verbatim (silent target loss —
          the CoW path repairs these by rewriting the whole bucket).

        No bucket fingerprints and no partition rewrites; cost is two
        key-only column-pruned scans and two anti-joins. The CoW diff
        buckets exist to LOCALIZE rewrites — with appends there is
        nothing to localize, so the direct anti-join is the right
        shape. The tombstone's version is watermark+1: it must
        outrank the same pass's upserts at the watermark (a row
        updated then deleted within one poll interval dies
        immediately), while a genuine later upsert resurrects the key
        — at a version > watermark, or AT watermark+1, where the
        equal-version tie deliberately breaks for the upsert
        (dedup_latest_version). Repair rows keep their source
        versions: with a version-monotone source (Postgres xmin — any
        UPDATE or re-INSERT allocates a new transaction id) a
        re-appearing row's version is always >= any tombstone ever
        written for the key, so the verbatim append wins the overlay."""
        from sslr_spark.functions.dedup import cache_scope, persist
        from sslr_spark.operators.copy import filtered_source
        from sslr_spark.operators.updates import (
            append_delete_log,
            append_upsert_log,
            read_merged,
        )

        if not self.target.table_exists(table):
            return
        vcol = self.config.version_column
        with throttle, cache_scope():
            merged = read_merged(self.target, table, pks, vcol)
            merged_keys = merged.select(*pks)
            src_f = filtered_source(src, where)
            # each diff is read by its count (the fill) and its append
            gone = persist(
                merged_keys.join(src_f.select(*pks), pks, "left_anti")
            )
            missing = persist(src_f.join(merged_keys, pks, "left_anti"))
            n = gone.count()
            if n:
                mark = self.state.get(table).last_seen_version
                append_delete_log(
                    self.target, table, gone, pks, version=mark + 1,
                    version_col=vcol,
                )
                result.deleted_rows += n
            m = missing.count()
            if m:
                append_upsert_log(self.target, table, missing, pks, vcol)
                result.repaired_rows += m

    def plan(self) -> dict:
        """Dry run: per-table sync analysis with ZERO writes and ZERO
        state commits — what the next pass WOULD do. Composes the same
        read-only probes the real pass starts with (A1 watermark probe,
        staleness branch, bucket fingerprint diff), so the report is
        the pass's actual decision, not an estimate. Safe to run
        against production targets at any time; cost is two key-only
        column-pruned scans per table."""
        from sslr_spark.operators.deletes import (
            effective_buckets,
            mismatched_buckets,
        )
        from sslr_spark.operators.updates import (
            filtered_source,
            get_update_range,
        )

        out: dict[str, dict] = {}
        vcol = self.config.version_column
        for table in self.validate_tables():
            pks = self.primary_keys[table]
            where = self.config.where_for(table)
            src = self.source_df(table)
            st = self.state.get(table)
            rng = get_update_range(
                src, self.target, table, st,
                where=where,
                version_col=vcol,
                full_copy_threshold=self.config.full_copy_threshold,
                force_full=table in self.force_full,
                versionless_source=getattr(self.source, "versionless", False),
                probe=self._watermark_probe(table, src, where),
            )
            fsrc = filtered_source(src, where)
            entry: dict = {
                "action": "full_copy" if rng.full_table else "incremental",
                "start_version": rng.start_version,
                "end_version": rng.end_version,
                "last_seen_version": st.last_seen_version,
            }
            if not rng.full_table:
                entry["pending_rows"] = fsrc.filter(
                    F.col(vcol) > st.last_seen_version
                ).count()
                if self.config.sync_deletes and self.target.table_exists(
                    table
                ):
                    if self.config.merge_on_read:
                        # MOR plans report pending tombstones against
                        # the OVERLAY view (the base alone would call
                        # log-only inserts "deletes")
                        from sslr_spark.operators.updates import (
                            read_merged,
                        )

                        entry["pending_tombstones"] = (
                            read_merged(self.target, table, pks, vcol)
                            .select(*pks)
                            .join(fsrc.select(*pks), pks, "left_anti")
                            .count()
                        )
                    else:
                        from sslr_spark.operators.deletes import (
                            choose_bucket_count,
                        )

                        n_buckets = effective_buckets(
                            self.target, table,
                            self.config.target_buckets or None,
                        ) or choose_bucket_count(
                            fsrc.count(), self.config.min_delete_chunk_size
                        )
                        entry["mismatched_buckets"] = mismatched_buckets(
                            fsrc.select(pks),
                            self.target.read(table).select(pks),
                            pks,
                            n_buckets,
                            self.config.bucket_hash,
                        ).count()
            out[table] = entry
        return out

    # -- entry points (reference main.go:38-82) ------------------------
    def run(self) -> JobResult:
        """One sync pass. With ``parallel_tables > 1``, independent
        tables sync concurrently — Spark's scheduler interleaves their
        jobs across the cluster. The reference only offers table
        parallelism via separate OS processes (README.md:97-101);
        in-driver threads share one SparkSession and its resource
        management. Validation stays serial (it is cheap and
        dependency-ordered); per-table update phases are independent
        by design (distinct target tables; state upserts are locked).
        """
        result = JobResult()
        result.validated = self.validate_tables()
        n_par = max(1, self.config.parallel_tables)
        if n_par == 1 or len(result.validated) <= 1:
            for table in result.validated:
                self.update_table(table, result)
            return result

        import concurrent.futures
        import threading

        res_lock = threading.Lock()

        def run_one(table: str) -> None:
            local = JobResult()
            self.update_table(table, local)  # per-phase throttles inside
            with res_lock:
                result.updated_rows += local.updated_rows
                result.repaired_buckets += local.repaired_buckets
                result.compacted_partitions += local.compacted_partitions
                result.deleted_rows += local.deleted_rows
                result.repaired_rows += local.repaired_rows
                result.full_copies.extend(local.full_copies)
                result.mor_log.update(local.mor_log)

        with concurrent.futures.ThreadPoolExecutor(max_workers=n_par) as ex:
            futures = [ex.submit(run_one, t) for t in result.validated]
            for f in futures:
                f.result()  # propagate the first failure
        return result

    def stop(self) -> None:
        self._stop.set()

    def run_continuous(self, max_iterations: int | None = None) -> list[JobResult]:
        """Polling loop: run, sleep wait_between_jobs, repeat until
        stop() or max_iterations. Graceful: finishes the in-flight
        pass before exiting (the reference drains on SIGINT)."""
        results: list[JobResult] = []
        i = 0
        while not self._stop.is_set():
            results.append(self.run())
            i += 1
            if max_iterations is not None and i >= max_iterations:
                break
            self._stop.wait(self.config.wait_between_jobs_seconds)
        return results
