"""Engine configuration: JSON file -> validated Config with defaults.

Mirrors the semantics of the reference config layer
(reference internal/config.go:13-151): unknown-key rejection, per-table
filter ("where") definitions with declared cross-table dependencies
("uses"), defaults for chunk sizing / throttle / sync policy. Chunk
sizes steer Spark partitioning instead of OFFSET/LIMIT pagination.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any


class ConfigError(ValueError):
    """Raised for malformed or inconsistent engine configuration."""


@dataclass
class FilteredTable:
    """A replicated table with a SQL predicate pushed into every source
    read, optionally depending on other replicated tables (evaluated
    first; the predicate may reference them as views).

    Reference: FilteredSourceTables, internal/config.go:17-21.
    """

    where: str
    uses: list[str] = field(default_factory=list)


@dataclass
class Config:
    """Validated engine configuration (defaults follow the reference,
    internal/config.go:36-49, adapted to Spark semantics where noted).
    """

    source: str = ""  # source database: parquet dir path or postgres/jdbc URL
    target: str = ""  # target database: parquet dir path or postgres/jdbc URL
    source_tables: list[str] = field(default_factory=list)
    filtered_source_tables: dict[str, FilteredTable] = field(default_factory=dict)
    primary_keys: dict[str, list[str]] = field(default_factory=dict)
    version_column: str = "xmin"  # CDC version/watermark column
    # Chunk sizes size Spark partitions, not OFFSET/LIMIT pages:
    update_chunk_size: int = 1000
    # No effect (the one-pass diff has one bucket level, sized by
    # min_delete_chunk_size); loaded so reference configs still load.
    delete_chunk_size: int = 1000
    min_delete_chunk_size: int = 100  # rows per diff (repair-unit) bucket
    throttle_percentage: int = 80
    full_copy_threshold: float = 0.5
    # Phase toggles (reference internal/config.go:27-28, defaults true;
    # syncDeletes=false is the reference's documented mitigation for
    # slow delete scans on very large tables, README.md:101).
    sync_updates: bool = True
    sync_deletes: bool = True
    resync_on_schema_change: bool = False
    wait_between_jobs_seconds: float = 5.0
    shuffle_partitions: int = 32
    state_table: str = "__sslr_state"
    # >0: maintain targets bucket-partitioned on the PK hash so merges
    # and repairs rewrite only touched partitions. This is the DEFAULT:
    # the unpartitioned path full-rewrites the target per merge — fine
    # for small tables, a scale-killer at 100 TB. Set 0 to opt out
    # (plain single-dataset layout). Ignored by in-place (JDBC)
    # targets, which repair per-key.
    target_buckets: int = 64
    # bucket-assignment hash for NEW partitioned layouts: 'portable'
    # (md5 — cross-engine checkable) or 'fast' (xxhash64 — the
    # production mode; ~3x cheaper per row). Existing tables keep the
    # mode recorded in their layout marker until the next full copy.
    bucket_hash: str = "portable"
    # tables synced concurrently per pass (the reference only offers
    # process-level table parallelism, README.md:97-101)
    parallel_tables: int = 1
    # >0: after each sync pass, compact bucket partitions whose data-
    # file count exceeds this cap (incremental merges leave 2-4 files
    # per touched bucket per pass; without maintenance pruned reads
    # degrade into many-small-file scans). 0 = no maintenance.
    compact_files_per_bucket: int = 0
    # merge-on-read mode (lake/parquet targets): incremental batches
    # APPEND to a per-table upsert log and deletes land as tombstones
    # instead of bucket rewrites — the small-frequent-batch scale
    # path; readers overlay via operators.updates.read_merged, and
    # the pass auto-compacts when the log exceeds mergeOnReadMaxLog
    # of the base. Requires the version column in the target payload.
    merge_on_read: bool = False
    merge_on_read_max_log: float = 0.1
    # absolute byte cap on the upsert log (None = off): wide-row logs
    # compact when their on-disk size crosses this even while the row
    # FRACTION stays under mergeOnReadMaxLog — overlay read cost
    # follows bytes, not row ratio (mergeOnReadMaxLogBytes)
    merge_on_read_max_log_bytes: int | None = None

    def all_tables(self) -> list[str]:
        return list(self.source_tables) + list(self.filtered_source_tables)

    def where_for(self, table: str) -> str | None:
        ft = self.filtered_source_tables.get(table)
        return ft.where if ft else None

    def validate(self) -> None:
        if not self.source or not self.target:
            raise ConfigError("source and target must both be set")
        names = self.all_tables()
        if not names:
            raise ConfigError("no tables configured")
        dupes = {t for t in names if names.count(t) > 1}
        if dupes:
            raise ConfigError(f"table(s) configured twice: {sorted(dupes)}")
        if not (1 <= self.throttle_percentage <= 100):
            raise ConfigError("throttle_percentage must be in [1, 100]")
        if self.bucket_hash not in ("portable", "fast"):
            raise ConfigError("bucketHash must be 'portable' or 'fast'")
        if self.min_delete_chunk_size > self.delete_chunk_size:
            raise ConfigError("min_delete_chunk_size > delete_chunk_size")
        for table, ft in self.filtered_source_tables.items():
            if not ft.where.strip():
                raise ConfigError(f"filtered table {table!r} has empty where")
            for dep in ft.uses:
                if dep not in names:
                    # Reference rejects unknown 'uses' targets
                    # (internal/config.go:135-139).
                    raise ConfigError(
                        f"table {table!r} uses unknown table {dep!r}"
                    )
        self._check_cycles()

    def _check_cycles(self) -> None:
        """Detect dependency loops in the 'uses' DAG up front (the
        reference only detects them lazily mid-validation,
        internal/job.go:101-103)."""
        WHITE, GRAY, BLACK = 0, 1, 2
        color = {t: WHITE for t in self.all_tables()}

        def visit(t: str, path: list[str]) -> None:
            color[t] = GRAY
            ft = self.filtered_source_tables.get(t)
            for dep in ft.uses if ft else []:
                if color[dep] == GRAY:
                    cycle = path + [t, dep]
                    raise ConfigError(f"dependency loop: {' -> '.join(cycle)}")
                if color[dep] == WHITE:
                    visit(dep, path + [t])
            color[t] = BLACK

        for t in list(color):
            if color[t] == WHITE:
                visit(t, [])

    def validation_order(self) -> list[str]:
        """Topological order over the 'uses' DAG: dependencies first
        (reference validates recursively, internal/job.go:111-118)."""
        order: list[str] = []
        seen: set[str] = set()

        def visit(t: str) -> None:
            if t in seen:
                return
            seen.add(t)
            ft = self.filtered_source_tables.get(t)
            for dep in ft.uses if ft else []:
                visit(dep)
            order.append(t)

        for t in self.all_tables():
            visit(t)
        return order


# Reference key names (internal/config.go:13-32) plus Spark-side
# extensions. 'sourceTables'/'filteredSourceTables'/
# 'waitBetweenJobsSeconds' are accepted as aliases so round-1 configs
# keep loading; the reference names are canonical.
_KNOWN_TOP = {
    "source",
    "target",
    "tables",
    "sourceTables",  # alias of "tables"
    "filteredTables",
    "filteredSourceTables",  # alias of "filteredTables"
    "primaryKeys",
    "versionColumn",
    "updateChunkSize",
    "deleteChunkSize",
    "minDeleteChunkSize",
    "throttlePercentage",
    "fullCopyThreshold",
    "syncUpdates",
    "syncDeletes",
    "resyncOnSchemaChange",
    "waitBetweenJobs",
    "waitBetweenJobsSeconds",  # alias of "waitBetweenJobs" (seconds)
    "shufflePartitions",
    "stateTable",
    "targetBuckets",
    "bucketHash",
    "parallelTables",
    "compactFilesPerBucket",
    "mergeOnRead",
    "mergeOnReadMaxLog",
    "mergeOnReadMaxLogBytes",
}
_KNOWN_FILTERED = {"where", "wheres", "uses"}

_COMMENT_RE = re.compile(r"/\*.*?\*/", re.S)

_DURATION_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")
_DURATION_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
    "m": 60.0, "h": 3600.0,
}


def parse_duration(value: Any, number_unit_seconds: float = 1.0) -> float:
    """Duration -> seconds. Accepts a Go-style duration string like
    "5s" / "1m30s" / "500ms", or a bare number scaled by
    ``number_unit_seconds``.

    The reference's field is a plain time.Duration
    (internal/config.go:31), which encoding/json unmarshals from a
    JSON number as NANOSECONDS — so the canonical ``waitBetweenJobs``
    key passes ``number_unit_seconds=1e-9`` (a reference config's
    5000000000 means 5 s here too, not 158 years). The
    ``waitBetweenJobsSeconds`` alias keeps bare numbers as seconds."""
    if isinstance(value, (int, float)):
        return float(value) * number_unit_seconds
    s = str(value).strip()
    if not s:
        raise ConfigError("empty duration")
    if not re.fullmatch(f"({_DURATION_RE.pattern})+", s):
        raise ConfigError(f"malformed duration: {value!r}")
    return sum(
        float(n) * _DURATION_UNITS[u] for n, u in _DURATION_RE.findall(s)
    )


def _strip_comments(raw: dict[str, Any]) -> dict[str, Any]:
    """Drop the reference's comment-hack entries — JSON pairs whose key
    starts with "/*" (internal/config.go:83-86) — at the top level and
    inside each filtered-table spec."""
    out = {k: v for k, v in raw.items() if not k.lstrip().startswith("/*")}
    for section in ("filteredTables", "filteredSourceTables"):
        if isinstance(out.get(section), dict):
            out[section] = {
                t: {
                    k: v
                    for k, v in spec.items()
                    if not k.lstrip().startswith("/*")
                }
                for t, spec in out[section].items()
            }
    return out


def _alias(raw: dict[str, Any], canonical: str, alias: str) -> Any:
    if canonical in raw and alias in raw:
        raise ConfigError(f"cannot set both {canonical!r} and {alias!r}")
    return raw.get(canonical, raw.get(alias))


def load_config(path_or_text: str) -> Config:
    """Load config from a JSON file path or a JSON string.

    Comment handling matches the reference (internal/config.go:83-86):
    entries whose key starts with ``/*`` are ignored, so the
    reference's own ``sslr.json`` loads verbatim. Non-JSON ``/* ... */``
    block comments are also stripped as a fallback. Unknown keys are
    rejected at both the top level and inside filtered-table entries
    (internal/config.go:97-113); ``wheres`` lines are joined with
    spaces and conflict with ``where`` (internal/config.go:141-148).
    """
    text = path_or_text
    if not path_or_text.lstrip().startswith("{"):
        with open(path_or_text, encoding="utf-8") as f:
            text = f.read()
    try:
        raw: dict[str, Any] = json.loads(text)
    except json.JSONDecodeError:
        raw = json.loads(_COMMENT_RE.sub("", text))
    raw = _strip_comments(raw)

    unknown = set(raw) - _KNOWN_TOP
    if unknown:
        raise ConfigError(f"unknown config key(s): {sorted(unknown)}")

    filtered: dict[str, FilteredTable] = {}
    raw_filtered = _alias(raw, "filteredTables", "filteredSourceTables") or {}
    for table, spec in raw_filtered.items():
        bad = set(spec) - _KNOWN_FILTERED
        if bad:
            raise ConfigError(
                f"unknown key(s) in filtered table {table!r}: {sorted(bad)}"
            )
        wheres = list(spec.get("wheres") or [])
        if wheres and spec.get("where"):
            # reference internal/config.go:142-144
            raise ConfigError(
                f"cannot set both 'where' and 'wheres' for table {table!r}"
            )
        where = " ".join(wheres) if wheres else spec.get("where")
        if where is None:
            raise ConfigError(f"filtered table {table!r} missing 'where'")
        filtered[table] = FilteredTable(
            where=where, uses=list(spec.get("uses", []))
        )

    # canonical key: bare numbers are Go time.Duration nanoseconds;
    # the *Seconds alias keeps bare numbers as seconds (see
    # parse_duration)
    if "waitBetweenJobs" in raw and "waitBetweenJobsSeconds" in raw:
        raise ConfigError(
            "cannot set both 'waitBetweenJobs' and 'waitBetweenJobsSeconds'"
        )
    if "waitBetweenJobs" in raw:
        wait = parse_duration(raw["waitBetweenJobs"], number_unit_seconds=1e-9)
    elif "waitBetweenJobsSeconds" in raw:
        wait = parse_duration(raw["waitBetweenJobsSeconds"])
    else:
        wait = None
    cfg = Config(
        source=raw.get("source", ""),
        target=raw.get("target", ""),
        source_tables=list(_alias(raw, "tables", "sourceTables") or []),
        filtered_source_tables=filtered,
        primary_keys={k: list(v) for k, v in (raw.get("primaryKeys") or {}).items()},
        version_column=raw.get("versionColumn", "xmin"),
        update_chunk_size=int(raw.get("updateChunkSize", 1000)),
        delete_chunk_size=int(raw.get("deleteChunkSize", 1000)),
        min_delete_chunk_size=int(raw.get("minDeleteChunkSize", 100)),
        throttle_percentage=int(raw.get("throttlePercentage", 80)),
        full_copy_threshold=float(raw.get("fullCopyThreshold", 0.5)),
        sync_updates=bool(raw.get("syncUpdates", True)),
        sync_deletes=bool(raw.get("syncDeletes", True)),
        resync_on_schema_change=bool(raw.get("resyncOnSchemaChange", False)),
        wait_between_jobs_seconds=wait if wait is not None else 5.0,
        shuffle_partitions=int(raw.get("shufflePartitions", 32)),
        state_table=raw.get("stateTable", "__sslr_state"),
        target_buckets=int(raw.get("targetBuckets", 64)),
        bucket_hash=str(raw.get("bucketHash", "portable")),
        parallel_tables=int(raw.get("parallelTables", 1)),
        compact_files_per_bucket=int(raw.get("compactFilesPerBucket", 0)),
        merge_on_read=bool(raw.get("mergeOnRead", False)),
        merge_on_read_max_log=float(raw.get("mergeOnReadMaxLog", 0.1)),
        merge_on_read_max_log_bytes=(
            int(raw["mergeOnReadMaxLogBytes"])
            if raw.get("mergeOnReadMaxLogBytes") is not None
            else None
        ),
    )
    cfg.validate()
    return cfg
