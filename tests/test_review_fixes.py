"""Regression tests for the round-2 review findings: layout-compat
guard, bucket-clustered writes, scalable-probe type fallback, SQL
literal rendering, state blast radius.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F


def test_bucketed_config_against_unpartitioned_target(spark, source_db, target_db):
    """Flipping targetBuckets against a pre-existing UNPARTITIONED
    target must not crash on the missing bucket column — the merge
    falls back to the unpartitioned path until a full copy migrates
    the layout."""
    from sslr_spark.operators.updates import sync_updates
    from sslr_spark.state import StateStore, TableState

    df = spark.createDataFrame(
        [(i, i * 10, 1) for i in range(200)], "id long, v long, xmin long"
    )
    source_db.overwrite("t", df)
    target_db.overwrite("t", df)  # old layout: no __sslr_bucket
    store = StateStore(target_db)
    store.set(TableState("t", 1, ""))

    upd = df.withColumn(
        "xmin", F.when(F.col("id") < 10, F.lit(5)).otherwise(F.lit(1))
    ).withColumn(
        "v", F.when(F.col("id") < 10, F.col("v") + 1).otherwise(F.col("v"))
    )
    source_db.overwrite("t", upd)
    with pytest.warns(UserWarning, match="no __sslr_bucket layout"):
        n = sync_updates(
            source_db.read("t"), target_db, store, "t", ["id"], n_buckets=64
        )
    assert n == 10
    got = {r.id: r.v for r in target_db.read("t").collect()}
    assert got[0] == 1 and got[9] == 91 and got[10] == 100


def test_job_sync_updates_off_fresh_target_no_crash(spark, tmp_path):
    """syncUpdates=false before the first copy ever ran: the delete
    phase must skip the nonexistent target, not crash."""
    from sslr_spark.config import Config
    from sslr_spark.job import Job
    from sslr_spark.sources.parquet import ParquetDatabase

    src = ParquetDatabase(spark, str(tmp_path / "s"))
    src.overwrite(
        "t",
        spark.createDataFrame([(1, 1)], "id long, xmin long"),
    )
    cfg = Config(
        source=str(tmp_path / "s"),
        target=str(tmp_path / "t"),
        source_tables=["t"],
        primary_keys={"t": ["id"]},
        sync_updates=False,
    )
    res = Job(spark, cfg).run()  # must not raise
    assert res.repaired_buckets == 0


def test_partitioned_write_is_clustered_one_file_per_bucket(spark, target_db):
    """The partitioned writers must cluster rows by the partition
    column first: P partitions x T tasks tiny files is the measured
    superlinear scale-killer (19x time at 10x rows). After the write,
    each bucket dir holds exactly one data file."""
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    df = spark.range(2000).withColumn("v", F.col("id")).repartition(4)
    target_db.overwrite_partitioned("t", with_bucket(df, ["id"], 8), BUCKET_COL)
    for d in glob.glob(os.path.join(target_db.path("t"), f"{BUCKET_COL}=*")):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: {files}"


def test_key_at_offset_scalable_date_leading_key_falls_back(spark):
    """DateType is not supported by approxQuantile — a date leading
    key must take the window fallback, not crash."""
    import datetime

    from sslr_spark.operators.keyrange import key_at_offset, key_at_offset_scalable

    rows = [
        (datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 40), i)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "d date, seq long")
    assert key_at_offset_scalable(df, ["d", "seq"], 123) == key_at_offset(
        df, ["d", "seq"], 123
    )


def test_sql_literal_rendering():
    from sslr_spark.sources.jdbc import sql_literal

    assert sql_literal(None) == "null"
    assert sql_literal(True) == "true"
    assert sql_literal(42) == "42"
    assert sql_literal(1.5) == "1.5"
    assert sql_literal(float("inf")) == "cast('inf' as double precision)"
    assert sql_literal(float("nan")) == "cast('nan' as double precision)"
    assert sql_literal(b"\x01\xff") == "'\\x01ff'::bytea"
    assert sql_literal("o'brien") == "'o''brien'"


def test_state_store_parquet_unaffected_by_upsert_path(spark, target_db):
    """Parquet targets have no apply_upsert — set() keeps the atomic
    staged-rename whole-table path and round-trips correctly."""
    from sslr_spark.state import StateStore, TableState

    store = StateStore(target_db)
    store.set(TableState("a", 5, ""))
    store.set(TableState("b", 7, "x > 1"))
    store.set(TableState("a", 9, ""))
    assert store.get("a").last_seen_version == 9
    assert store.get("b").last_seen_version == 7


def test_layout_marker_roundtrip_and_count_mismatch(spark, source_db, target_db):
    """The layout marker records the bucket count; a config flip to a
    DIFFERENT count must merge with the STORED count (mixing counts
    writes a key's new row into a different partition than its old
    row — silent duplication)."""
    from sslr_spark.operators.deletes import (
        BUCKET_COL,
        effective_buckets,
        with_bucket,
    )
    from sslr_spark.operators.updates import sync_updates
    from sslr_spark.state import StateStore, TableState

    df = spark.createDataFrame(
        [(i, i * 10, 1) for i in range(500)], "id long, v long, xmin long"
    )
    source_db.overwrite("t", df)
    target_db.overwrite_partitioned(
        "t", with_bucket(df, ["id"], 16), BUCKET_COL, n_buckets=16
    )
    assert target_db.layout_meta("t") == {
        "partition_col": BUCKET_COL, "n_buckets": 16,
        "bucket_hash": "portable",
    }
    store = StateStore(target_db)
    store.set(TableState("t", 1, ""))

    upd = df.withColumn(
        "xmin", F.when(F.col("id") < 20, F.lit(5)).otherwise(F.lit(1))
    ).withColumn(
        "v", F.when(F.col("id") < 20, F.col("v") + 1).otherwise(F.col("v"))
    )
    source_db.overwrite("t", upd)
    # config now asks for 64 buckets; stored layout has 16
    with pytest.warns(UserWarning, match="stored with 16 buckets"):
        assert effective_buckets(target_db, "t", 64) == 16
    with pytest.warns(UserWarning, match="stored with 16 buckets"):
        sync_updates(
            source_db.read("t"), target_db, store, "t", ["id"], n_buckets=64
        )
    got = target_db.read("t").collect()
    assert len(got) == 500  # no duplicated keys
    vals = {r.id: r.v for r in got}
    assert vals[0] == 1 and vals[19] == 191 and vals[20] == 200


def test_files_per_bucket_salting(spark, target_db):
    """files_per_bucket > 1 raises write parallelism: each bucket dir
    gets up to that many files, and reads stay correct."""
    import glob as g
    import os as o

    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    df = spark.range(4000).withColumn("v", F.col("id"))
    target_db.overwrite_partitioned(
        "t", with_bucket(df, ["id"], 4), BUCKET_COL,
        n_buckets=4, files_per_bucket=3,
    )
    counts = []
    for d in g.glob(o.path.join(target_db.path("t"), f"{BUCKET_COL}=*")):
        counts.append(
            len([f for f in o.listdir(d) if f.endswith(".parquet")])
        )
    assert sum(counts) > 4  # more writers than buckets
    assert max(counts) <= 3
    assert target_db.read("t").count() == 4000


def test_schemas_equal_jdbc_roundtrip_classes(spark):
    """byte<->short and timestamp_ntz<->timestamp compare equal (the
    Postgres round-trip classes); a genuine drift still differs."""
    from pyspark.sql import types as T

    from sslr_spark.catalog import schemas_equal

    a = T.StructType([
        T.StructField("b", T.ByteType()),
        T.StructField("ts", T.TimestampNTZType()),
    ])
    b = T.StructType([
        T.StructField("b", T.ShortType()),
        T.StructField("ts", T.TimestampType()),
    ])
    assert schemas_equal(a, b)
    c = T.StructType([
        T.StructField("b", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    assert not schemas_equal(a, c)


def test_key_at_offset_scalable_nonpositive_offset_parity(spark):
    from sslr_spark.operators.keyrange import key_at_offset, key_at_offset_scalable

    df = spark.createDataFrame([(i,) for i in range(50)], "k long")
    for off in (0, -3):
        assert key_at_offset_scalable(df, ["k"], off) == key_at_offset(
            df, ["k"], off
        )
