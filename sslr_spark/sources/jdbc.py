"""JDBC database adapter — the production replication path, mirroring
the reference's PostgreSQL source/target (reference internal/job.go:81-92
opens one pgx connection per side; here every Spark partition opens its
own connection, which is the intra-table parallelism the reference
lacks, README.md:97-101).

Key mappings:
- ``xmin`` system column: exposed through a subquery projection
  ``(select xmin::text::bigint as xmin, t.* from <table> t) q``
  (the reference casts the same way, internal/updates.go:44,94).
- chunked reads: partitionColumn/lowerBound/upperBound/numPartitions
  replace OFFSET/LIMIT pagination (SURVEY §4 — never OFFSET-paginate);
  bounds are probed with a one-row min/max pushdown on the PK.
- in-place apply: updates are DELETE-by-key + batched INSERT inside
  the same adapter call (the reference's J2 transaction,
  internal/updates.go:171-222) — never truncate-and-rewrite, so a
  100 TB target pays per changed row, not per table.
- COPY-protocol bulk load: ``batchsize`` + reWriteBatchedInserts on
  the write path.
- DDL/index mirroring (S6/S8/A5/A6): see sources/ddl.py; statements
  run through ``_execute`` on a driver-side java.sql connection.
- throttle: ``fetchsize`` bounds per-round-trip row counts (T5's
  passive half; the active utilization cap wraps reads driver-side).

All Spark/JDBC I/O funnels through ``_load`` / ``_save`` /
``_execute`` / ``_scalar`` so tests can subclass with an in-memory
backend and exercise the full Job layer without a server (no real
database exists in this container; see tests/test_jdbc_job.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from sslr_spark.sources import ddl as D


def sql_literal(v, backslash_escapes: bool = False) -> str:
    """Render one key value as a SQL literal for the chunked DELETE
    path. Strings escape quotes; floats guard inf/nan (their repr()s
    are not SQL — rendered as the cast form, and a 'NaN' never equals
    a stored NaN under IN, same as SQL's own semantics); bytes render
    as a bytea hex literal.

    ``backslash_escapes``: set for backends where backslash is an
    escape character inside '' literals (MySQL's default sql_mode) —
    backslashes in data-controlled keys are then doubled. Leave unset
    for standard-conforming backends (PostgreSQL with
    standard_conforming_strings — the default since 9.1 — treats
    backslash literally; doubling would corrupt values there). The
    adapter wires this from its ``BACKSLASH_ESCAPES`` attribute."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isfinite(v):
            return repr(v)
        return f"cast('{v}' as double precision)"
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return f"'\\x{bytes(v).hex()}'::bytea"
    s = str(v)
    if backslash_escapes:
        s = s.replace("\\", "\\\\")
    return "'" + s.replace("'", "''") + "'"


class JdbcDatabase:
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        properties: dict[str, str] | None = None,
        fetchsize: int = 10_000,
        batchsize: int = 10_000,
        num_partitions: int = 8,
        expose_xmin: bool = False,
        delete_key_chunk: int = 1000,
    ):
        self.spark = spark
        self.url = url
        self.properties = dict(properties or {})
        self.fetchsize = fetchsize
        self.batchsize = batchsize
        self.num_partitions = num_partitions
        self.expose_xmin = expose_xmin
        # keys per DELETE statement (reference applies deletions in
        # minDeleteChunkSize batches, internal/deletes.go:166-205)
        self.delete_key_chunk = delete_key_chunk
        # backends where backslash escapes inside '' literals (MySQL
        # default sql_mode) need doubling in rendered key literals;
        # standard-conforming backends (PostgreSQL) must NOT double.
        # Match the SCHEME, never a substring — a Postgres host named
        # e.g. mysql-migration.internal must not flip the dialect
        # (doubled backslashes there would make chunked DELETEs match
        # nothing and the sync silently diverge).
        self.backslash_escapes = url.lower().startswith(
            ("jdbc:mysql:", "jdbc:mariadb:")
        )

    # -- option assembly (unit-testable without a server) --------------
    def read_options(
        self,
        table: str,
        partition_column: str | None = None,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
    ) -> dict[str, str]:
        dbtable = (
            f"(select xmin::text::bigint as xmin, t.* from {table} t) q"
            if self.expose_xmin
            else table
        )
        opts = {
            "url": self.url,
            "dbtable": dbtable,
            "fetchsize": str(self.fetchsize),
            **self.properties,
        }
        if partition_column is not None:
            opts.update(
                {
                    "partitionColumn": partition_column,
                    "lowerBound": str(lower_bound),
                    "upperBound": str(upper_bound),
                    "numPartitions": str(self.num_partitions),
                }
            )
        return opts

    def write_options(self, table: str) -> dict[str, str]:
        return {
            "url": self.url,
            "dbtable": table,
            "batchsize": str(self.batchsize),
            "reWriteBatchedInserts": "true",
            **self.properties,
        }

    # -- transport layer (overridden by in-memory test fakes) ----------
    def _load(self, options: dict[str, str]) -> DataFrame:
        return self.spark.read.format("jdbc").options(**options).load()

    def _save(
        self, df: DataFrame, options: dict[str, str], mode: str,
        truncate: bool = False,
    ) -> None:
        writer = df.write.format("jdbc").options(**options).mode(mode)
        if truncate:
            writer = writer.option("truncate", "true")
        writer.save()

    def _execute(self, sql: str) -> None:
        """Run a DDL/DML statement on a driver-side java.sql connection
        (Spark's JDBC data source only reads/writes tables; statements
        like CREATE INDEX go through the raw driver)."""
        jvm = self.spark._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def _scalar(self, sql: str):
        """One-row-one-column catalog probe, pushed down as a subquery
        scan (stays a single round trip)."""
        row = self._load(
            {"url": self.url, "dbtable": f"({sql}) q", **self.properties}
        ).first()
        return None if row is None else row[0]

    # -- adapter interface (same shape as ParquetDatabase) -------------
    def read(
        self,
        table: str,
        partition_column: str | None = None,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
    ) -> DataFrame:
        return self._load(
            self.read_options(table, partition_column, lower_bound, upper_bound)
        )

    def read_auto_partitioned(
        self, table: str, partition_column: str | None
    ) -> DataFrame:
        """Partitioned scan with probed bounds: one min/max pushdown on
        the key, then numPartitions range-sliced parallel readers —
        the scan parallelism the reference's single connection lacks.
        Falls back to a single-stream read when the key is missing or
        non-numeric (Spark JDBC range-partitions numeric/date keys)."""
        if not partition_column:
            return self.read(table)
        try:
            # decide numeric-ness by the column's TYPE, not its values:
            # a varchar key holding digit strings would pass an int()
            # probe but Spark rejects non-numeric partitionColumns
            ftype = self.schema(table)[partition_column].dataType.typeName()
            if ftype not in (
                "byte", "short", "integer", "long", "float", "double", "decimal",
            ):
                return self.read(table)
            row = self._load(
                {
                    "url": self.url,
                    "dbtable": (
                        f"(select min({partition_column}) as lo, "
                        f"max({partition_column}) as hi from {table}) b"
                    ),
                    **self.properties,
                }
            ).first()
            # positional: alias labels case-fold per backend (Derby
            # upcases, Postgres downcases); column order is stable
            lo, hi = (row[0], row[1]) if row else (None, None)
            lo, hi = int(lo), int(hi)  # non-numeric keys raise here
        except (TypeError, ValueError, KeyError):
            return self.read(table)
        if hi <= lo:
            return self.read(table)
        return self.read(table, partition_column, lo, hi + 1)

    def agg_probe(
        self,
        table: str,
        version_col: str = "xmin",
        where: str | None = None,
    ) -> tuple[int, int | None]:
        """A1 watermark probe PUSHED to the database: one
        ``(count(*), max(version))`` subquery scan — a single JDBC
        round trip returning ONE row, instead of streaming the whole
        table through the reader. Spark's V1 JDBC relation pushes
        FILTERS but not aggregates (``PushedFilters`` only; aggregate
        pushdown needs the DSv2 ``JDBCTableCatalog`` path with
        ``pushDownAggregate``, SURVEY §4), so without this the probe
        that decides full-copy-vs-incremental would transfer every row
        each poll. count/max are simple enough for any backend; the
        engine's md5 bucket fingerprints and array_agg catalog shapes
        are NOT pushable anywhere and always run Spark-side over the
        filtered V1 read — that split is the documented fallback.

        ``where`` is the user's SQL predicate (P9), inlined verbatim
        like the read-side filtered views — so its FIRST use per
        (table, where) is cross-checked against the Spark-side
        aggregate (_crosscheck_probe): parse-compatibility is not
        evaluation-compatibility."""
        out = self.agg_probe_raw(table, version_col, where)
        if where:
            out = self._crosscheck_probe(table, version_col, where, out)
        return out

    def _crosscheck_probe(
        self,
        table: str,
        version_col: str,
        where: str,
        pushed: tuple[int, int | None],
    ) -> tuple[int, int | None]:
        """First-use validation of an inlined ``where`` predicate: a
        predicate that PARSES in both dialects can still EVALUATE
        differently (collation order, date/string coercion), and a
        silently-larger pushed count/max advances the watermark past
        rows the Spark-side slice scan would select — skipped forever
        with no signal. So the first probe per (table, where, version
        column) also runs the Spark-side aggregate over the filtered
        read and FAILS LOUDLY on divergence instead of trusting
        parse-compatibility. A concurrent write between the two
        queries can produce a transient mismatch, so a mismatch is
        retried once with a fresh pushed probe before raising; a
        dialect divergence is persistent and survives the retry.
        Validated combinations are cached per adapter instance —
        steady-state polling pays nothing."""
        from pyspark.sql import functions as F

        key = (table, version_col, where)
        cache = getattr(self, "_probe_checked", None)
        if cache is None:
            cache = self._probe_checked = set()
        if key in cache:
            return pushed
        for attempt in (0, 1):
            df = self.read(table).filter(F.expr(where))
            srow = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.col(version_col)).alias("hi"),
            ).first()
            spark_side = (
                int(srow[0] or 0),
                None if srow[1] is None else int(srow[1]),
            )
            if spark_side == pushed:
                cache.add(key)
                return pushed
            if attempt == 0:
                pushed = self.agg_probe_raw(table, version_col, where)
        raise ValueError(
            f"pushed watermark probe diverges from the Spark-side "
            f"aggregate for table {table!r} with where={where!r}: "
            f"pushed={pushed} spark={spark_side}. The predicate "
            f"evaluates differently in the backend dialect than in "
            f"Spark SQL — fix the predicate; a silently wrong probe "
            f"would skip rows forever."
        )

    def agg_probe_raw(
        self,
        table: str,
        version_col: str = "xmin",
        where: str | None = None,
    ) -> tuple[int, int | None]:
        """The pushed probe WITHOUT the first-use cross-check (the
        retry path of the cross-check itself)."""
        inner = (
            f"(select xmin::text::bigint as xmin, t.* from {table} t)"
            if self.expose_xmin
            else table
        )
        sql = (
            f"select count(*) as n, max({version_col}) as hi "
            f"from {inner} q"
        )
        if where:
            sql += f" where {where}"
        row = self._load(
            {"url": self.url, "dbtable": f"({sql}) p", **self.properties}
        ).first()
        if row is None:
            return 0, None
        return int(row[0] or 0), (None if row[1] is None else int(row[1]))

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Truncate + reload (the reference's full-copy transaction,
        internal/copy.go:21-45). Incremental paths never call this —
        they go through apply_upsert/delete_keys."""
        self._save(df, self.write_options(table), "overwrite", truncate=True)

    def append(self, table: str, df: DataFrame) -> None:
        self._save(df, self.write_options(table), "append")

    def drop(self, table: str) -> None:
        self._execute(D.drop_table_ddl(table))

    def table_exists(self, table: str) -> bool:
        try:
            return bool(self._scalar(
                f"select to_regclass('{table}') is not null as e"
            ))
        except Exception:
            return False

    def schema(self, table: str):
        return self.read(table).schema

    # -- in-place incremental apply (J2/J1/D1 transactions) ------------
    def _delete_key_chunks(
        self, table: str, key_rows: list, pk_cols: list[str]
    ) -> None:
        """Chunked composite-key DELETEs (reference deleteRows,
        internal/deletes.go:207-235: ``delete ... where (k1,k2) in
        (...)`` per chunk)."""
        def lit(v):
            return sql_literal(v, backslash_escapes=self.backslash_escapes)

        cols = "(" + ",".join(pk_cols) + ")"
        for i in range(0, len(key_rows), self.delete_key_chunk):
            chunk = key_rows[i : i + self.delete_key_chunk]
            tuples = ",".join(
                "(" + ",".join(lit(r[c]) for c in pk_cols) + ")" for r in chunk
            )
            self._execute(f"delete from {table} where {cols} in ({tuples})")

    def delete_keys(self, table: str, keys: DataFrame, pk_cols: list[str]) -> None:
        """Delete the target rows matching ``keys``. Keys stream to the
        driver in bounded chunks — the key volume is the *changed* row
        count (CDC slice / mismatched buckets), not table size, the
        same driver-side bound the reference accepts for its key
        lists (internal/deletes.go:91-164)."""
        it = keys.select(*pk_cols).toLocalIterator()
        buf: list = []
        for r in it:
            buf.append(r)
            if len(buf) >= self.delete_key_chunk:
                self._delete_key_chunks(table, buf, pk_cols)
                buf = []
        if buf:
            self._delete_key_chunks(table, buf, pk_cols)

    def apply_upsert(
        self, table: str, updates: DataFrame, pk_cols: list[str]
    ) -> None:
        """The reference's chunk apply (internal/updates.go:171-222):
        DELETE the updated keys, INSERT the new rows. Executors batch
        the inserts (reWriteBatchedInserts); only the keys visit the
        driver. Cost ∝ update-slice size — the in-place alternative to
        read-merge-overwrite for mutable stores.

        DOCUMENTED DEVIATION from the reference's single-connection
        BEGIN..DELETE..COPY..COMMIT: Spark's executor-side JDBC writes
        commit per partition, so delete and insert are NOT one
        transaction. Durability still holds — the watermark commits
        only after the apply, so a crash between the phases re-applies
        the same slice idempotently on restart — but a concurrent
        reader can observe the deleted-not-yet-reinserted window.
        Point the target at a staging schema if readers need snapshot
        isolation (or use a lakehouse target, where the partitioned
        merge path is atomic per partition swap).

        The key delete and the insert each read ``updates``; this
        method stores nothing, because ``upsert_batch`` hands it the
        slice that it already stored."""
        self.delete_keys(table, updates, pk_cols)
        self.append(table, updates)

    # -- DDL / index mirroring (S6 / S8 / A5 / A6) ---------------------
    def extract_table_schema(self, table: str) -> str | None:
        """A5: the assembled ``create table`` statement, built by the
        source database from pg_catalog (reference
        internal/schemas.go:91-139)."""
        return self._scalar(D.schema_extract_sql(table))

    def extract_table_indices(self, table: str) -> list[D.TableIndex]:
        """S6/A6: the table's indexes with their key columns (reference
        internal/schemas.go:147-193)."""
        rows = self._load(
            {
                "url": self.url,
                "dbtable": f"({D.index_extract_sql(table)}) q",
                **self.properties,
            }
        ).collect()
        return [
            D.TableIndex(
                index_name=r["index_name"],
                primary=bool(r["is_primary"]),
                columns=[c for c in (r["columns"] or "").split(",") if c],
            )
            for r in rows
        ]

    def create_table(self, table: str, schema_or_ddl) -> None:
        """S8: bootstrap namespace + create the mirrored table, from
        either an extracted DDL string (Postgres source) or a Spark
        StructType (any other source). Reference
        internal/schemas.go:213-225."""
        self._execute(D.create_schema_ddl(table))
        stmt = (
            schema_or_ddl
            if isinstance(schema_or_ddl, str)
            else D.create_table_ddl(table, schema_or_ddl)
        )
        self._execute(stmt)

    def recreate_table(self, table: str, schema_or_ddl) -> None:
        """Schema-drift recovery (reference internal/schemas.go:227-239)."""
        self._execute(D.drop_table_ddl(table))
        self.create_table(table, schema_or_ddl)

    def apply_indices(self, table: str, indices: list[D.TableIndex]) -> None:
        """Replay source indexes on the target (reference
        internal/schemas.go:241-256): concurrent build, idempotent."""
        for index in indices:
            self._execute(D.index_ddl(table, index))
