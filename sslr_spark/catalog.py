"""Schema layer: extraction, drift detection, create/recreate policy.

The reference mirrors schemas by generating a ``create table`` string
from pg_catalog and comparing *strings* (reference
internal/schemas.go:91-139, internal/job.go:129-146). Spark-side we
compare ``StructType`` structurally — strictly better (field order,
names, types, nullability-insensitive option) — and keep the same
drift policy: mismatch either aborts the table's sync or, with
``resync_on_schema_change``, drops + recreates + forces a full resync
(reference internal/job.go:136-142, internal/schemas.go:227-239).

Index mirroring (reference internal/schemas.go:147-193, 241-256) has
no parquet analog; the engine instead records primary-key metadata per
table (the reference's PK discovery, internal/job.go:214-221) and —
at scale — that metadata is where a bucketing / Z-order / partition
spec would hang.
"""

from __future__ import annotations

import re

from enum import Enum

from pyspark.sql import types as T

from sslr_spark.sources.parquet import ParquetDatabase


class ValidationStatus(Enum):
    """Per-table validation state machine (reference
    internal/job.go:14-22): 'validating' re-entry marks a dependency
    cycle."""

    UNKNOWN = "unknown"
    VALIDATING = "validating"
    VALID = "valid"
    INVALID = "invalid"


class SchemaMismatch(Exception):
    """Source and target schemas differ and resync is not allowed
    (reference errSchemaMismatch, internal/job.go:94)."""


class MissingPrimaryKey(Exception):
    """Table has no usable primary key (reference
    internal/job.go:216-218)."""


def schemas_equal(
    a: T.StructType,
    b: T.StructType,
    ignore_nullability: bool = True,
    ignore_cols: set[str] | None = None,
) -> bool:
    """Structural schema equality; nullability is presentation-level
    for parquet round-trips, so it is ignored by default.
    ``ignore_cols`` excludes engine metadata (the version column is
    not stored in stripped targets — reference targets never hold
    xmin, internal/updates.go:117-124).

    Types are compared up to JDBC round-trip equivalence: Postgres has
    no tinyint (stored as smallint, read back as short) and one
    timestamp-without-tz type — without collapsing those classes, a
    byte or timestamp_ntz source column would pass validation on the
    run that CREATEs the target and then raise SchemaMismatch on every
    later run though nothing drifted."""
    skip = ignore_cols or set()
    equiv = {"tinyint": "smallint", "timestamp_ntz": "timestamp"}

    def canon(dt: T.DataType) -> str:
        s = dt.simpleString()
        for frm, to in equiv.items():
            s = re.sub(rf"\b{frm}\b", to, s)
        return s

    def norm(s: T.StructType):
        fields = [
            f for f in s.fields
            if not f.name.startswith("__sslr") and f.name not in skip
        ]
        return [(f.name, canon(f.dataType)) for f in fields] if ignore_nullability \
            else [(f.name, canon(f.dataType), f.nullable) for f in fields]

    return norm(a) == norm(b)


def discover_primary_keys(
    configured: dict[str, list[str]], table: str, schema: T.StructType
) -> list[str]:
    """PK columns for a table: from config, name-sorted (the reference
    sorts key column names before use, internal/job.go:219), validated
    against the schema. No PK => hard error, same as the reference."""
    pks = sorted(configured.get(table, []))
    if not pks:
        raise MissingPrimaryKey(f"table {table!r} has no primary key configured")
    names = {f.name for f in schema.fields}
    missing = [k for k in pks if k not in names]
    if missing:
        raise MissingPrimaryKey(f"table {table!r}: pk column(s) {missing} not in schema")
    return pks


def validate_target_schema(
    source_schema: T.StructType,
    target: ParquetDatabase,
    table: str,
    resync_on_schema_change: bool = False,
    ignore_cols: set[str] | None = None,
) -> bool:
    """Compare source vs target schema; returns True when the caller
    must force a full resync (target was dropped), raises on
    un-resolvable drift. Creating the missing target table is left to
    the copy path (first overwrite creates it)."""
    if not target.table_exists(table):
        return True  # fresh table -> full sync
    tgt_schema = target.schema(table)
    if schemas_equal(source_schema, tgt_schema, ignore_cols=ignore_cols):
        return False
    if resync_on_schema_change:
        target.drop(table)
        return True
    raise SchemaMismatch(
        f"schema mismatch for {table!r}: source={source_schema.simpleString()} "
        f"target={tgt_schema.simpleString()}"
    )
