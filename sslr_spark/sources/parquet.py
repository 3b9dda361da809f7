"""Parquet-directory database adapter.

A "database" is a directory holding one parquet dataset per table at
``<root>/<table>.parquet``. Writes are atomic: stage to a temp
directory, then swap via rename — this is the parquet-world analog of
the reference's transactional apply (BEGIN ... COPY ... COMMIT,
reference internal/updates.go:172-221). A reader either sees the old
table or the new one, never a partial write, and a crash mid-write
leaves the previous committed table intact.

At scale this adapter maps to a real lakehouse table format (Delta /
Iceberg provide the same atomic-swap semantics natively); the staged
rename is the dependency-free local equivalent.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


LAYOUT_MARKER = "_sslr_layout.json"


def write_layout(
    table_dir: str, partition_col: str, n_buckets: int,
    bucket_hash: str | None = None,
) -> None:
    """Record a bucket-partitioned layout in ``table_dir``'s
    ``_sslr_layout.json`` marker (``_``-prefixed: ignored by Spark
    scans and by Delta's VACUUM)."""
    with open(os.path.join(table_dir, LAYOUT_MARKER), "w") as fh:
        json.dump(
            {
                "partition_col": partition_col,
                "n_buckets": int(n_buckets),
                "bucket_hash": bucket_hash or "portable",
            },
            fh,
        )


def read_layout(table_dir: str) -> dict | None:
    """The layout marker :func:`write_layout` left in ``table_dir``, or
    None for unpartitioned and pre-marker layouts."""
    p = os.path.join(table_dir, LAYOUT_MARKER)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


class ParquetDatabase:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    # -- catalog probes (reference internal/schemas.go:195-200) --------
    def table_exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def list_tables(self) -> list[str]:
        return sorted(
            f[: -len(".parquet")]
            for f in os.listdir(self.root)
            if f.endswith(".parquet")
        )

    # -- read ----------------------------------------------------------
    def read(self, table: str, with_meta: bool = False) -> DataFrame:
        """Read a table. Engine-metadata columns (``__sslr*`` — e.g.
        the bucket partition column of the default partitioned layout)
        are stripped unless ``with_meta`` — a reader of the published
        table sees exactly the replicated schema, like a reference
        target table. Sync internals pass ``with_meta=True`` to prune
        on the bucket column."""
        df = self.spark.read.parquet(self.path(table))
        if not with_meta:
            meta = [c for c in df.columns if c.startswith("__sslr")]
            if meta:
                df = df.drop(*meta)
        return df

    # -- write ---------------------------------------------------------
    def overwrite(self, table: str, df: DataFrame) -> None:
        """Atomically replace ``table`` with ``df`` (stage + swap)."""
        stage = self._stage_dir(table)
        df.write.mode("overwrite").parquet(stage)
        self._swap(stage, self.path(table), table)

    def overwrite_partitioned(
        self,
        table: str,
        df: DataFrame,
        partition_col: str,
        n_buckets: int | None = None,
        files_per_bucket: int = 1,
        bucket_hash: str | None = None,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Full overwrite of a partitioned table layout
        (``<table>.parquet/<partition_col>=v/...``). Reads of the table
        recover ``partition_col`` as an ordinary column.

        ``n_buckets`` is recorded in a ``_sslr_layout.json`` marker in
        the table root (Spark ignores ``_``-prefixed files): merges and
        repairs MUST reuse the stored bucket count — mixing counts
        writes a key's new row to a different partition than its old
        row lives in, i.e. silent duplication. ``files_per_bucket > 1``
        salts the write clustering to raise write parallelism when the
        bucket count is below the cluster's task slots (at the cost of
        that many files per bucket)."""
        stage = self._stage_dir(table)
        self._cluster_by_partition(
            df, partition_col, files_per_bucket, n_buckets, sort_cols
        ).write.mode("overwrite").partitionBy(partition_col).parquet(stage)
        if n_buckets:
            write_layout(stage, partition_col, n_buckets, bucket_hash)
        self._swap(stage, self.path(table), table)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.root, f".stage-{name}-{uuid.uuid4().hex}")

    def _swap(self, stage: str, final: str, name: str) -> None:
        """Swap the written ``stage`` dir in at ``final`` by rename:
        the old dir aside, the stage into place, the old dir removed.
        A failure before the swap completes restores the previous
        committed dir and drops the stage."""
        old = os.path.join(self.root, f".old-{name}-{uuid.uuid4().hex}")
        try:
            if os.path.exists(final):
                os.rename(final, old)
            os.rename(stage, final)
        except BaseException:
            # roll back: restore the previous committed dir
            if not os.path.exists(final) and os.path.exists(old):
                os.rename(old, final)
            shutil.rmtree(stage, ignore_errors=True)
            raise
        shutil.rmtree(old, ignore_errors=True)

    def replace_partitions(
        self, table: str, df: DataFrame, partition_col: str,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Dynamic partition overwrite: only the partitions present in
        ``df`` are replaced; all others are untouched. This is the
        plain-parquet equivalent of Delta's ``replaceWhere`` — the
        scale path for repairs that touch a small fraction of a huge
        table (cost ∝ changed partitions, not table size).

        Not atomic across partitions (a crash can leave a partition
        mix); safe here because every caller re-applies idempotently
        until the watermark/state commit succeeds."""
        (
            self._cluster_by_partition(df, partition_col, sort_cols=sort_cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(self.path(table))
        )

    @staticmethod
    def _cluster_by_partition(
        df: DataFrame,
        partition_col: str,
        files_per_bucket: int = 1,
        n_buckets: int | None = None,
        sort_cols: list[str] | None = None,
    ) -> DataFrame:
        """Repartition on the partition column before a partitionBy
        write. Without this, EVERY write task opens a file in EVERY
        partition dir — P partitions x T tasks files. Measured at 10x
        sf0.1 (6M rows, 640 buckets x 32 tasks): ~20k tiny files made
        the scattered-update merge superlinear (19x time for 10x
        rows). Clustering first caps output at ``files_per_bucket``
        files per partition and turns the later pruned reads back into
        few-file scans.

        Plain clustering caps write parallelism at the number of
        distinct buckets; when that is below the cluster's task slots
        (big initial copy, small bucket count), pass
        ``files_per_bucket > 1`` — a deterministic row-hash salt
        splits each bucket across that many writers (shuffled into
        bucket x salt partitions so the salt groups actually land in
        distinct tasks)."""
        if files_per_bucket > 1:
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]),
                F.lit(files_per_bucket),
            )
            if n_buckets:
                out = df.repartition(
                    n_buckets * files_per_bucket, F.col(partition_col), salt
                )
            else:
                out = df.repartition(F.col(partition_col), salt)
        else:
            out = df.repartition(F.col(partition_col))
        if sort_cols:
            # Key-clustered row groups: sorting each write task by
            # (partition_col, PK) gives every parquet row group a tight
            # min/max span on the key columns, so range predicates (P6
            # scans, repair reads) skip row groups instead of scanning
            # the bucket. Leading with partition_col satisfies the
            # partitionBy writer's required ordering — otherwise
            # FileFormatWriter inserts a SECOND per-task sort on the
            # partition column and the PK clustering would rest on that
            # sort being stable. One post-shuffle sort per task total.
            out = out.sortWithinPartitions(partition_col, *sort_cols)
        return out

    def table_rows(self, table: str) -> int | None:
        """Exact row count from parquet FOOTER metadata only — every
        data file's footer carries num_rows, so this is a handful of
        footer reads, no Spark job and no data pages. Parquet has no
        delete vectors, so the footer sum equals ``read().count()``
        exactly; the staleness probe (operators/updates.py
        get_update_range) runs every incremental pass and must not
        pay a full scan of a wide target for one integer. Returns
        None for a missing table (callers fall back to a count job
        on adapters without footer statistics)."""
        if not self.table_exists(table):
            return None
        import pyarrow.parquet as pq

        total = 0
        for dirpath, _, files in os.walk(self.path(table)):
            for f in files:
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    total += pq.ParquetFile(
                        os.path.join(dirpath, f)
                    ).metadata.num_rows
        return total

    def table_bytes(self, table: str) -> int:
        """On-disk size of a table (data files only) — a free cost
        signal (e.g. the merge-on-read log's bytes cap)."""
        total = 0
        for dirpath, _, files in os.walk(self.path(table)):
            for f in files:
                if not f.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(dirpath, f))
        return total

    def layout_meta(self, table: str) -> dict | None:
        """The ``_sslr_layout.json`` marker written by
        :meth:`overwrite_partitioned` (None for unpartitioned or
        pre-marker layouts)."""
        return read_layout(self.path(table))

    # -- per-table sidecar markers ---------------------------------
    # ``_``-prefixed files inside the table directory: invisible to
    # Spark's parquet reader and to table_rows/table_bytes, and —
    # because overwrite() swaps the WHOLE directory — cleared
    # atomically with any full rewrite of the table.

    def set_copy_pending(self, table: str) -> None:
        """Mark an in-flight destructive full copy (MOR mode drops
        the upsert log before the overwrite; the marker forces full
        copy on the next pass if the overwrite never lands — see
        operators/updates.py sync_updates). A no-op for a table that
        does not exist yet (nothing to lose)."""
        if not self.table_exists(table):
            return
        p = os.path.join(self.path(table), "_sslr_copy_pending")
        with open(p, "w") as fh:
            fh.write("{}")

    def copy_pending(self, table: str) -> bool:
        return os.path.exists(
            os.path.join(self.path(table), "_sslr_copy_pending")
        )

    def write_table_meta(self, table: str, name: str, meta: dict) -> None:
        """Small JSON sidecar in the table directory (e.g. the MOR
        compaction record) — footer-class metadata, zero Spark jobs
        to read back."""
        import json

        if not self.table_exists(table):
            return
        with open(
            os.path.join(self.path(table), f"_sslr_{name}.json"), "w"
        ) as fh:
            json.dump(meta, fh)

    def read_table_meta(self, table: str, name: str) -> dict | None:
        import json

        p = os.path.join(self.path(table), f"_sslr_{name}.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def drop_partitions(
        self, table: str, partition_col: str, values: list
    ) -> None:
        """Remove whole partitions (used when a repair leaves a bucket
        empty — dynamic overwrite cannot express an empty partition)."""
        for v in values:
            shutil.rmtree(
                os.path.join(self.path(table), f"{partition_col}={v}"),
                ignore_errors=True,
            )

    def partition_file_counts(self, table: str) -> dict[str, int]:
        """Data-file count per partition dir of a partitioned layout
        (one local/object-store LIST per partition — the metadata scan
        every lakehouse maintenance job starts with)."""
        meta = self.layout_meta(table)
        if not meta:
            return {}
        pcol = meta["partition_col"]
        root = self.path(table)
        out: dict[str, int] = {}
        for d in os.listdir(root):
            if not d.startswith(f"{pcol}="):
                continue
            full = os.path.join(root, d)
            if not os.path.isdir(full):
                continue
            out[d.split("=", 1)[1]] = sum(
                1
                for f in os.listdir(full)
                if not f.startswith((".", "_")) and not f.endswith(".crc")
            )
        return out

    def compact_partitions(
        self,
        table: str,
        max_files_per_partition: int = 4,
        sort_cols: list[str] | None = None,
    ) -> dict:
        """Small-file compaction for the bucket-partitioned layout:
        rewrite ONLY the partitions whose data-file count exceeds the
        cap, one clustered (and optionally PK-sorted) file each.

        The bucketed whole-table rewrite salts each bucket across
        ``files_per_bucket`` writers, so a bucket can hold many small
        files; the pruned reads the layout exists for then degrade
        into many-small-file scans. This is the plain-parquet
        VACUUM/OPTIMIZE analog: cost ∝ oversize partitions only, never
        the table; untouched buckets keep their files byte-identical.

        Crash safety differs from :meth:`replace_partitions` on
        purpose: the repair path's dynamic overwrite is safe because
        its callers re-derive the rewrite from the SOURCE, but here
        the target itself is the only copy of the rows — a dynamic
        overwrite's delete-then-commit window would lose a bucket
        permanently on a crash. So compaction stages the rewritten
        partitions to a side directory first, then swaps each bucket
        dir with the same rename+rollback protocol as
        :meth:`overwrite`. Worst crash case (between the two renames
        of one bucket — no Spark job runs in that window): that
        bucket's files are parked in a ``.old-`` dir instead of lost;
        rolled back automatically on an in-process failure, rename
        back by hand after a hard kill. Re-running compaction
        converges.

        Returns {"compacted": n, "skipped": n, "values": [...]}."""
        meta = self.layout_meta(table)
        if not meta:
            return {"compacted": 0, "skipped": 0, "values": []}
        pcol = meta["partition_col"]
        counts = self.partition_file_counts(table)
        over = sorted(
            v for v, n in counts.items() if n > max_files_per_partition
        )
        if not over:
            return {"compacted": 0, "skipped": len(counts), "values": []}
        df = self.read(table, with_meta=True)
        # partition values parse back through the column's own type
        vals = [int(v) for v in over] if dict(
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ).get(pcol, "string") in ("int", "bigint", "long") else over
        oversize = df.filter(F.col(pcol).isin(vals))  # partition pruning
        stage = os.path.join(self.root, f".compact-{table}-{uuid.uuid4().hex}")
        (
            self._cluster_by_partition(oversize, pcol, sort_cols=sort_cols)
            .write.mode("overwrite")
            .partitionBy(pcol)
            .parquet(stage)
        )
        try:
            for v in over:
                part = f"{pcol}={v}"
                staged = os.path.join(stage, part)
                # a bucket can vanish between the list and the read
                if os.path.exists(staged):
                    self._swap(
                        staged, os.path.join(self.path(table), part), part
                    )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return {
            "compacted": len(over),
            "skipped": len(counts) - len(over),
            "values": vals,
        }

    def append(self, table: str, df: DataFrame) -> None:
        """Append rows (bulk-load sink, reference COPY protocol analog,
        internal/copy.go:47). Not atomic with respect to concurrent
        readers of the same table; the sync engine only uses
        ``overwrite`` for published tables."""
        df.write.mode("append").parquet(self.path(table))

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)

    def schema(self, table: str):
        return self.read(table).schema

    # -- snapshots -----------------------------------------------------
    # Reproducible-training-run support: a snapshot pins the table's
    # current committed files under a tag. Files are HARDLINKED, not
    # copied — O(files) metadata ops, zero data bytes moved — and
    # because every writer in this adapter creates NEW files (staged
    # overwrite swaps, per-epoch/bucket partition overwrites) and only
    # ever deletes old ones, the linked inodes keep snapshot data
    # alive through any later rewrite of the live table. On an object
    # store this maps to manifest-based snapshotting (Delta/Iceberg
    # time travel); hardlinks are the dependency-free local analog.

    def _snap_dir(self, table: str, tag: str) -> str:
        return os.path.join(self.root, ".snapshots", table, tag)

    def snapshot(self, table: str, tag: str) -> int:
        """Pin ``table``'s current committed files under ``tag``.
        Returns the number of files linked. Atomic: built in a stage
        dir, renamed into place — a crash leaves either no snapshot or
        a complete one. Fails if the tag already exists (snapshots are
        immutable; drop first to retag)."""
        final = self._snap_dir(table, tag)
        if os.path.exists(final):
            raise ValueError(f"snapshot {table}@{tag} already exists")
        src_root = self.path(table)
        if not os.path.isdir(src_root):
            raise ValueError(
                f"snapshot: table {table!r} does not exist"
            )
        snap_root = os.path.join(self.root, ".snapshots")
        # sweep stage dirs a CRASHED snapshot() left behind (hardlinks
        # only — removal never touches table data). Age-gated: a live
        # concurrent snapshot()'s stage dir is seconds old, a crashed
        # one outlives its process; 1 h is far beyond any build time.
        if os.path.isdir(snap_root):
            import time

            cutoff = time.time() - 3600
            for d in os.listdir(snap_root):
                p = os.path.join(snap_root, d)
                try:
                    if d.startswith(".stage-") and os.path.getmtime(p) < cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
        stage = os.path.join(snap_root, f".stage-{uuid.uuid4().hex}")
        n = 0
        for dirpath, dirnames, filenames in os.walk(src_root):
            # skip uncommitted write temp dirs; keep partition dirs
            dirnames[:] = [
                d for d in dirnames if "=" in d or not d.startswith(("_", "."))
            ]
            rel = os.path.relpath(dirpath, src_root)
            dst_dir = os.path.join(stage, rel) if rel != "." else stage
            os.makedirs(dst_dir, exist_ok=True)
            for f in filenames:
                if f.startswith("."):
                    continue  # CRC/hidden; keep _sslr_layout.json
                os.link(
                    os.path.join(dirpath, f), os.path.join(dst_dir, f)
                )
                n += 1
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.rename(stage, final)
        return n

    def read_snapshot(self, table: str, tag: str, with_meta: bool = False):
        df = self.spark.read.parquet(self._snap_dir(table, tag))
        if not with_meta:
            meta = [c for c in df.columns if c.startswith("__sslr")]
            if meta:
                df = df.drop(*meta)
        return df

    def list_snapshots(self, table: str) -> list[str]:
        d = os.path.join(self.root, ".snapshots", table)
        if not os.path.isdir(d):
            return []
        return sorted(t for t in os.listdir(d) if not t.startswith("."))

    def drop_snapshot(self, table: str, tag: str) -> None:
        shutil.rmtree(self._snap_dir(table, tag), ignore_errors=True)
