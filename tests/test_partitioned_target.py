"""Bucket-partitioned target tests: partition-pruned merge and
partition-selective repair must produce byte-identical logical state to
the whole-table paths, while rewriting only touched partitions."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from sslr_spark.config import Config
from sslr_spark.job import Job
from sslr_spark.operators.deletes import BUCKET_COL
from tests.conftest import make_timestamps


def _mk_job(spark, tmp, **kw):
    d = dict(
        source=str(tmp / "s"),
        target=str(tmp / "t"),
        source_tables=["t1"],
        primary_keys={"t1": ["id"]},
        target_buckets=16,
    )
    d.update(kw)
    return Job(spark, Config(**d))


def _logical(df):
    cols = [c for c in df.columns if not c.startswith("__sslr")]
    return sorted(tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect())


def test_partitioned_full_sync_and_layout(spark, tmp_path):
    job = _mk_job(spark, tmp_path)
    src = make_timestamps(spark, 1000)
    job.source.overwrite("t1", src)
    r = job.run()
    assert r.updated_rows == 1000
    # physical layout: one dir per bucket
    table_dir = job.target.path("t1")
    parts = [d for d in os.listdir(table_dir) if d.startswith(f"{BUCKET_COL}=")]
    assert len(parts) == 16
    assert _logical(job.target.read("t1")) == _logical(src)


def test_partitioned_merge_touches_only_affected_partitions(spark, tmp_path):
    job = _mk_job(spark, tmp_path)
    src = make_timestamps(spark, 1000)
    job.source.overwrite("t1", src)
    job.run()

    table_dir = job.target.path("t1")
    mtimes_before = {
        d: os.path.getmtime(os.path.join(table_dir, d))
        for d in os.listdir(table_dir)
        if d.startswith(f"{BUCKET_COL}=")
    }

    # update 3 rows with a new version
    import datetime

    upd = spark.createDataFrame(
        [(i, datetime.datetime(2030, 1, 1), 500) for i in (1, 2, 3)],
        "id long, ts timestamp, xmin long",
    )
    src2 = src.filter(~F.col("id").isin([1, 2, 3])).unionByName(upd)
    job.source.overwrite("t1", src2)
    job2 = _mk_job(spark, tmp_path)
    job2.run()

    mtimes_after = {
        d: os.path.getmtime(os.path.join(table_dir, d))
        for d in os.listdir(table_dir)
        if d.startswith(f"{BUCKET_COL}=")
    }
    rewritten = [d for d in mtimes_after if mtimes_after[d] != mtimes_before.get(d)]
    # at most one partition per updated key was rewritten, not all 16
    assert 1 <= len(rewritten) <= 3
    assert _logical(job2.target.read("t1")) == _logical(src2)


def test_partitioned_scattered_merge_falls_back_to_full_rewrite(
    spark, tmp_path
):
    """When a batch touches most buckets, the pruned-merge machinery
    buys nothing — the guard must take the plain whole-table merge +
    partitioned overwrite and still converge to the same logical
    state."""
    import datetime

    job = _mk_job(spark, tmp_path)
    src = make_timestamps(spark, 1000)
    job.source.overwrite("t1", src)
    job.run()

    # touch ~every bucket: update every 3rd key
    touched = list(range(0, 1000, 3))
    upd = spark.createDataFrame(
        [(i, datetime.datetime(2030, 1, 1), 500) for i in touched],
        "id long, ts timestamp, xmin long",
    )
    src2 = src.filter(~F.col("id").isin(touched)).unionByName(upd)
    job.source.overwrite("t1", src2)
    job2 = _mk_job(spark, tmp_path)
    job2.run()

    assert _logical(job2.target.read("t1")) == _logical(src2)
    # layout survives the fallback write: still one dir per bucket
    table_dir = job2.target.path("t1")
    parts = [d for d in os.listdir(table_dir) if d.startswith(f"{BUCKET_COL}=")]
    assert len(parts) == 16


def test_scattered_merge_clustered_rewrite_layout(spark, tmp_path):
    """A scattered batch (touching most buckets) takes the clustered
    whole-table rewrite: the expected rows, a bounded file count and
    the layout marker all survive it."""
    import datetime

    from sslr_spark.operators.deletes import with_bucket
    from sslr_spark.operators.updates import merge_upsert_partitioned
    from sslr_spark.sources.parquet import ParquetDatabase

    src = make_timestamps(spark, 1000)
    upd = spark.createDataFrame(
        [(i, datetime.datetime(2030, 1, 1), 500) for i in range(0, 1000, 3)],
        "id long, ts timestamp, xmin long",
    )
    want = _logical(
        src.filter(F.col("id") % 3 != 0).unionByName(upd)
    )
    db = ParquetDatabase(spark, str(tmp_path / "clustered"))
    db.overwrite_partitioned(
        "t", with_bucket(src, ["id"], 16), BUCKET_COL, n_buckets=16
    )
    merge_upsert_partitioned(db, "t", upd, ["id"], 16)
    assert _logical(db.read("t")) == want
    files = [
        f for _, _, fs in os.walk(db.path("t")) for f in fs
        if not f.startswith((".", "_"))
    ]
    # bounded: no tasks-x-buckets explosion from an unclustered write
    assert len(files) <= 16 * 6, f"{len(files)} files"
    assert db.layout_meta("t")["n_buckets"] == 16


def test_partitioned_delete_repair_selective(spark, tmp_path):
    job = _mk_job(spark, tmp_path)
    src = make_timestamps(spark, 2000)
    job.source.overwrite("t1", src)
    job.run()

    # delete a contiguous range from the source
    src2 = src.filter((F.col("id") < 700) | (F.col("id") >= 760))
    job.source.overwrite("t1", src2)
    job2 = _mk_job(spark, tmp_path)
    r = job2.run()
    assert r.repaired_buckets > 0
    assert _logical(job2.target.read("t1")) == _logical(src2)


@pytest.mark.slow
def test_partitioned_random_workload_property(spark, tmp_path):
    """Random delete+update workloads against a partitioned target
    converge exactly like the whole-table path (hypothesis-lite: a few
    seeded variants to keep runtime bounded)."""
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        tmp = tmp_path / f"w{seed}"
        job = _mk_job(spark, tmp, target_buckets=8)
        src = make_timestamps(spark, 500)
        job.source.overwrite("t1", src)
        job.run()

        deleted = rng.sample(range(500), rng.randint(0, 50))
        updated = rng.sample(range(500), rng.randint(0, 50))
        import datetime

        upd_rows = [
            (i, datetime.datetime(2031, 1, 1), 900)
            for i in updated
            if i not in deleted
        ]
        src2 = src.filter(
            ~F.col("id").isin(deleted + [u[0] for u in upd_rows])
        ).unionByName(
            spark.createDataFrame(upd_rows, "id long, ts timestamp, xmin long")
        )
        job.source.overwrite("t1", src2)
        job2 = _mk_job(spark, tmp, target_buckets=8)
        job2.run()
        assert _logical(job2.target.read("t1")) == _logical(src2), f"seed {seed}"


def test_partitioned_bucket_emptied_entirely(spark, tmp_path):
    """A bucket whose every source row disappears must end empty in the
    target too (dynamic overwrite can't express this; the engine drops
    the partition dir)."""
    job = _mk_job(spark, tmp_path, target_buckets=4)
    src = make_timestamps(spark, 400)
    job.source.overwrite("t1", src)
    job.run()
    # empty the source completely except a handful of rows; at 4
    # buckets some bucket will lose all its rows
    src2 = src.filter(F.col("id") < 3)
    job.source.overwrite("t1", src2)
    job2 = _mk_job(spark, tmp_path, target_buckets=4)
    job2.run()
    assert _logical(job2.target.read("t1")) == _logical(src2)


def test_fast_bucket_layout_end_to_end(spark, source_db, target_db):
    """A table written with bucket_hash='fast' must merge and repair
    with xxhash bucket assignment automatically (from the stored
    marker), and never mix modes: after a merge + delete sync, the
    table equals the source and every row sits in its fast-bucket
    partition."""
    from pyspark.sql import functions as F

    from sslr_spark.functions.hashing import bucket_id_fast
    from sslr_spark.operators.deletes import (
        BUCKET_COL,
        stored_bucket_hash,
        sync_deletes_partitioned,
        with_bucket,
    )
    from sslr_spark.operators.updates import merge_upsert_partitioned

    df = spark.createDataFrame(
        [(i, i * 10) for i in range(2000)], "id long, v long"
    )
    target_db.overwrite_partitioned(
        "t", with_bucket(df, ["id"], 16, "fast"), BUCKET_COL,
        n_buckets=16, bucket_hash="fast",
    )
    assert stored_bucket_hash(target_db, "t") == "fast"

    # clustered update batch
    upd = df.filter(F.col("id") % 97 == 0).withColumn("v", F.col("v") + 1)
    merge_upsert_partitioned(target_db, "t", upd, ["id"], 16)
    got = target_db.read("t")
    assert got.count() == 2000
    assert got.filter(F.col("id") % 97 == 0).filter(
        F.col("v") != F.col("id") * 10 + 1
    ).count() == 0
    # no row drifted out of its fast-hash partition (mode mixing would
    # duplicate keys across partitions)
    misplaced = (
        target_db.read("t", with_meta=True)
        .withColumn("__expect", bucket_id_fast(["id"], 16))
        .filter(F.col(BUCKET_COL).cast("long") != F.col("__expect"))
    )
    assert misplaced.count() == 0

    # delete sync with source missing some keys
    src = df.filter(F.col("id") % 251 != 0).withColumn(
        "v", F.when(F.col("id") % 97 == 0, F.col("v") + 1).otherwise(F.col("v"))
    )
    source_db.overwrite("s", src)
    stats = sync_deletes_partitioned(
        source_db.read("s"), target_db, "t", ["id"], 16, hash_mode="fast"
    )
    assert stats.mismatched_buckets > 0
    assert {r.id for r in target_db.read("t").collect()} == {
        r.id for r in src.collect()
    }
