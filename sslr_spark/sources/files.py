"""File-format source adapter: JSONL / CSV / text table drops as a
sync SOURCE and pipeline ingestion input.

The reference reads only PostgreSQL (internal/job.go:81-92). A
training-data pipeline's upstream is just as often a directory of
JSONL/CSV drops (crawl exports, vendor deliveries, annotation dumps),
so this adapter gives those the same surface the Job and the
extension operators consume: ``read`` / ``schema`` / ``table_exists``
/ ``read_auto_partitioned``. One table = ``<root>/<table>.<ext>`` (a
single file or a directory of part files — Spark treats both as one
dataset and parallelizes by file split, so ``read_auto_partitioned``
needs no key-range slicing).

File sources are READ-ONLY (``files:`` locations are rejected as sync
targets in the factory) and VERSION-LESS: rows carry no CDC column,
so the Job's update phase degrades to full-copy-every-pass
(operators/updates.py get_update_range) — the correct semantics for
a drop directory that is replaced wholesale between passes.

Corrupt-record handling (the part plain ``spark.read.json`` gets
wrong silently): malformed JSONL/CSV lines are captured via
PERMISSIVE mode into a quarantine column rather than dropped or
nulled invisibly. ``read`` returns clean rows only;
``read_with_quarantine`` returns (clean, quarantined-raw-lines) so
ingest jobs can land the rejects next to the data — at 100 TB a
silent 0.1% parse-loss is a million lost documents, so loss must be
observable. The split caches the parsed frame: Spark refuses
filters that reference ONLY the corrupt column on an uncached lazy
scan (SPARK-38523 semantics), and the cache also keeps the
double-pass (clean + quarantine) from re-reading the files.

Export side: :func:`export_jsonl` writes a DataFrame as
gzip-compressed JSONL part files — the handoff format most training
stacks ingest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sslr_spark.functions.dedup import CacheOwner, persist

CORRUPT_COL = "_sslr_corrupt_record"

_EXTS = {"jsonl": (".jsonl", ".json", ".ndjson"), "csv": (".csv",),
         "text": (".txt", ".text")}


class FilesDatabase:
    """Read-only table store over a directory of JSONL/CSV/text files.

    Declares itself ``versionless``: file drops carry no transaction
    id, so the sync engine's full-copy-every-pass degrade is the
    EXPECTED behavior here and runs silently — sources without this
    flag get a loud warning instead (a missing version column on a
    JDBC/parquet source is far more likely a typo'd config than a
    design choice; see operators/updates.py get_update_range).

    ``fmt``: 'jsonl' | 'csv' | 'text'. ``schemas`` optionally pins a
    per-table StructType (recommended in production: schema inference
    is one extra full read per pass AND an inferred schema can drift
    between drops; a pinned schema makes drops with missing fields
    load as nulls and drops with extra fields fail loudly in
    quarantine). ``options`` pass through to the reader (e.g. CSV
    ``{"header": "true", "sep": "\\t"}``). CSV tables REQUIRE a
    pinned schema (inference cannot capture corrupt records — see
    _parse).
    """

    versionless = True

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        fmt: str = "jsonl",
        schemas: dict[str, T.StructType] | None = None,
        options: dict[str, str] | None = None,
    ):
        if fmt not in _EXTS:
            raise ValueError(f"unsupported file format {fmt!r}")
        self.spark = spark
        self.root = root
        self.fmt = fmt
        self.schemas = dict(schemas or {})
        self.options = dict(options or {})
        # per table, the owner of its last parse (read_with_quarantine)
        self._owners: dict[str, CacheOwner] = {}

    # -- catalog -------------------------------------------------------
    def path(self, table: str) -> str:
        for ext in _EXTS[self.fmt]:
            p = os.path.join(self.root, table + ext)
            if os.path.exists(p):
                return p
        p = os.path.join(self.root, table)  # directory of part files
        if os.path.isdir(p):
            return p
        return os.path.join(self.root, table + _EXTS[self.fmt][0])

    def table_exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def list_tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        exts = _EXTS[self.fmt]
        out = set()
        for name in os.listdir(self.root):
            full = os.path.join(self.root, name)
            if os.path.isdir(full) and not name.startswith((".", "_")):
                out.add(name)
            else:
                for ext in exts:
                    if name.endswith(ext):
                        out.add(name[: -len(ext)])
        return sorted(out)

    # -- read ----------------------------------------------------------
    def _parse(self, table: str) -> DataFrame:
        p = self.path(table)
        if self.fmt == "text":
            # text has no parse failures: every line is a row; the
            # always-null corrupt column keeps the quarantine split
            # uniform across formats
            return (
                self.spark.read.options(**self.options).text(p)
                .withColumn(CORRUPT_COL, F.lit(None).cast("string"))
            )
        schema = self.schemas.get(table)
        if self.fmt == "csv" and schema is None:
            # Unlike JSON, Spark's CSV INFERENCE path never
            # materializes columnNameOfCorruptRecord: malformed rows
            # get silently truncated/padded and types degrade to
            # string — exactly the invisible parse loss this adapter
            # exists to prevent. A pinned schema is what makes CSV
            # malformation detectable, so it is required, not
            # advisory.
            raise ValueError(
                f"csv table {table!r} needs a pinned schema "
                "(schemas={...}): Spark CSV inference cannot "
                "capture corrupt records, so parse loss would be "
                "silent"
            )
        if schema is not None and CORRUPT_COL not in schema.fieldNames():
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(CORRUPT_COL, T.StringType())]
            )
        reader = (
            self.spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .options(**self.options)
        )
        if self.fmt == "csv":
            reader = reader.option("header", self.options.get("header", "true"))
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.json(p) if self.fmt == "jsonl" else reader.csv(p)
        if CORRUPT_COL not in df.columns:
            # inference saw only clean rows — normalize the shape
            df = df.withColumn(CORRUPT_COL, F.lit(None).cast("string"))
        return df

    def read_with_quarantine(self, table: str) -> tuple[DataFrame, DataFrame]:
        """(clean rows without the corrupt column, quarantined raw
        lines). Cached: see module docstring.

        Each call parses FRESH (drop directories are replaced
        wholesale between sync passes — serving a stale cache would
        silently miss the new delivery) and the PREVIOUS call's cache
        for the table is unpersisted, so a long-running continuous
        sync holds at most one cached parse per table instead of one
        per pass. ``release_caches`` drops everything."""
        prev = self._owners.pop(table, None)
        if prev is not None:
            prev.release()
        # the clean and the quarantine filters both read the parse
        owner = self._owners[table] = CacheOwner()
        with owner:
            df = persist(self._parse(table))
        clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
        bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
            F.col(CORRUPT_COL).alias("raw_line")
        )
        return clean, bad

    def release_caches(self) -> None:
        """Unpersist every cached parse this adapter holds."""
        for owner in self._owners.values():
            owner.release()
        self._owners.clear()

    def read(self, table: str, with_meta: bool = False) -> DataFrame:
        clean, _ = self.read_with_quarantine(table)
        return clean

    def read_auto_partitioned(
        self, table: str, partition_column: str | None
    ) -> DataFrame:
        # file sources parallelize by split (maxPartitionBytes);
        # key-range slicing is a JDBC-ism
        return self.read(table)

    def schema(self, table: str) -> T.StructType:
        pinned = self.schemas.get(table)
        if pinned is not None:
            return pinned
        s = self._parse(table).schema
        return T.StructType(
            [f for f in s.fields if f.name != CORRUPT_COL]
        )

    def quarantine_count(self, table: str) -> int:
        _, bad = self.read_with_quarantine(table)
        return bad.count()


def export_jsonl(
    df: DataFrame, path: str, compression: str = "gzip",
    coalesce: int | None = None,
) -> None:
    """Write ``df`` as JSONL part files (default gzip) — the training-
    stack handoff format. ``coalesce`` caps output file count for
    small exports; leave None at scale (one file per task keeps the
    write parallel)."""
    if coalesce:
        df = df.coalesce(coalesce)
    df.write.mode("overwrite").option("compression", compression).json(path)
