"""Delta Lake target adapter — the transactional-lakehouse mapping of
the sync engine's write surface (SURVEY §1.1 recommended Delta MERGE
as the J2 mapping; VERDICT r2 task #7).

Same interface as :class:`~sslr_spark.sources.parquet.ParquetDatabase`
(location prefix ``delta:`` selects it in sources/factory.py), with
the parquet adapter's hand-rolled mechanics replaced by Delta's native
transactional equivalents:

- staged-rename atomic swap        -> Delta's transaction log (every
  write is atomic and multi-writer-safe via optimistic concurrency)
- read-merge-overwrite upsert      -> ``MERGE INTO`` keyed on the PK
  (cost ∝ touched files via data skipping, the reference's J2
  transaction, internal/updates.go:171-222)
- dynamic partition overwrite      -> ``replaceWhere`` on the bucket
  partition column (atomic, unlike the parquet path's
  partition-by-partition swap)
- delete-by-keyset                 -> ``MERGE ... WHEN MATCHED THEN
  DELETE`` (reference internal/deletes.go:166-235)

Two incremental modes, chosen by config exactly like parquet targets:
with ``targetBuckets`` set (the default), the Job maintains the
bucket-partitioned layout and incremental slices go through the
partition-pruned merge (`replaceWhere` repairs, atomic here unlike
the parquet dynamic overwrite); with ``"targetBuckets": 0`` the
adapter's ``apply_upsert``/``delete_keys`` MERGEs apply in place with
no synthetic partitioning — Delta's data skipping prunes on the PK
ranges instead. In both modes the version column is stripped exactly
like a JDBC target (the adapter is in-place-capable).

Scale: MERGE shuffles only the update slice against the matched files
(Delta file-skips on the PK ranges); ``replaceWhere`` rewrites only
listed partitions. Both inherit AQE/broadcast behavior from the
session. 100 TB posture matches the partitioned-parquet path but with
snapshot isolation for concurrent readers and multi-writer commits.

The ``delta-spark`` package (and its jars + session extensions) are
imported lazily at first use, so plan-construction helpers
(:func:`merge_condition`, :func:`replace_where_predicate`) and factory
selection stay unit-testable in environments without Delta; live
round trips are covered by tests/test_delta_adapter.py under
``pytest.importorskip('delta')``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sslr_spark.sources.parquet import ParquetDatabase, read_layout, write_layout


def merge_condition(pk_cols: list[str], target_alias: str = "t",
                    source_alias: str = "s") -> str:
    """Null-safe PK equality for MERGE ON (composite keys join on
    every column; ``<=>`` keeps null keys matchable, same as the
    DataFrame merge paths)."""
    return " AND ".join(
        f"{target_alias}.`{c}` <=> {source_alias}.`{c}`" for c in pk_cols
    )


def spark_sql_literal(v) -> str:
    """Render one partition value for a predicate SPARK SQL parses —
    not the JDBC dialect: Spark's default parser treats backslash as
    an escape inside ``'...'``, so backslashes must double and quotes
    escape as ``\\'`` (the Postgres renderer's ``''`` doubling would
    be wrong here, and its ``::bytea`` casts unparseable)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        raise ValueError(
            "binary partition values are not supported in replaceWhere"
        )
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def replace_where_predicate(partition_col: str, values: list) -> str:
    """``replaceWhere`` predicate for a bounded partition list (the
    mismatched-bucket set — capped upstream, deletes.py)."""
    lits = ", ".join(spark_sql_literal(v) for v in values)
    return f"`{partition_col}` in ({lits})"


class DeltaDatabase:
    """Delta-backed table store rooted at a directory; one Delta table
    per replicated table at ``<root>/<table>``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- lazy dependency -----------------------------------------------
    def _delta_table(self, table: str):
        from delta.tables import DeltaTable  # lazy: see module doc

        return DeltaTable.forPath(self.spark, self.path(table))

    # -- paths / catalog ----------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def table_exists(self, table: str) -> bool:
        return os.path.exists(os.path.join(self.path(table), "_delta_log"))

    def list_tables(self) -> list[str]:
        return sorted(
            t for t in os.listdir(self.root) if self.table_exists(t)
        )

    # -- read ----------------------------------------------------------
    def read(self, table: str, with_meta: bool = False) -> DataFrame:
        df = self.spark.read.format("delta").load(self.path(table))
        if not with_meta:
            meta = [c for c in df.columns if c.startswith("__sslr")]
            if meta:
                df = df.drop(*meta)
        return df

    def schema(self, table: str):
        return self.read(table).schema

    # -- write ---------------------------------------------------------
    def overwrite(self, table: str, df: DataFrame) -> None:
        (
            df.write.format("delta").mode("overwrite")
            .option("overwriteSchema", "true")
            .save(self.path(table))
        )

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
        df = ParquetDatabase._cluster_by_partition(
            df, partition_col, files_per_bucket, n_buckets, sort_cols
        )
        (
            df.write.format("delta").mode("overwrite")
            .option("overwriteSchema", "true")
            .partitionBy(partition_col)
            .save(self.path(table))
        )
        if n_buckets:
            write_layout(
                self.path(table), partition_col, n_buckets, bucket_hash
            )

    def replace_partitions(
        self, table: str, df: DataFrame, partition_col: str,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Atomic bounded-partition replacement: Delta's native
        ``replaceWhere`` — the operation the parquet adapter's dynamic
        overwrite approximates non-atomically."""
        values = [
            r[0] for r in df.select(partition_col).distinct().collect()
        ]  # bounded: callers pass the mismatched-bucket slice
        if not values:
            return
        if sort_cols:
            df = df.repartition(F.col(partition_col)).sortWithinPartitions(
                partition_col, *sort_cols
            )
        (
            df.write.format("delta").mode("overwrite")
            .option(
                "replaceWhere",
                replace_where_predicate(partition_col, values),
            )
            .partitionBy(partition_col)
            .save(self.path(table))
        )

    def drop_partitions(
        self, table: str, partition_col: str, values: list
    ) -> None:
        if values:
            self._delta_table(table).delete(
                replace_where_predicate(partition_col, values)
            )

    def layout_meta(self, table: str) -> dict | None:
        return read_layout(self.path(table))

    def append(self, table: str, df: DataFrame) -> None:
        df.write.format("delta").mode("append").save(self.path(table))

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)

    # -- in-place incremental apply (J2/J1/D1 as MERGE) ----------------
    def apply_upsert(
        self, table: str, updates: DataFrame, pk_cols: list[str]
    ) -> None:
        """MERGE INTO keyed on the PK: one atomic commit, cost ∝
        matched files (data skipping), multi-writer safe — the
        lakehouse form of the reference's chunked
        DELETE+COPY transaction."""
        (
            self._delta_table(table).alias("t")
            .merge(updates.alias("s"), merge_condition(pk_cols))
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )

    def delete_keys(
        self, table: str, keys: DataFrame, pk_cols: list[str]
    ) -> None:
        (
            self._delta_table(table).alias("t")
            .merge(
                keys.select(*pk_cols).distinct().alias("s"),
                merge_condition(pk_cols),
            )
            .whenMatchedDelete()
            .execute()
        )
