"""Sync-semantics tests for the update path (FIXTURES.md §3 scenarios:
fresh-sync, incremental, big-txn, stale-target)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sslr_spark.operators.updates import sync_updates
from sslr_spark.state import StateStore
from tests.conftest import assert_df_equal, make_timestamps


def test_fresh_sync_full_copy(spark, source_db, target_db):
    src = make_timestamps(spark, 500)
    source_db.overwrite("timestamps", src)
    store = StateStore(target_db)

    rows = sync_updates(
        source_db.read("timestamps"), target_db, store, "timestamps", ["id"]
    )
    assert rows == 500
    assert_df_equal(target_db.read("timestamps"), src, ["id"])
    assert store.get("timestamps").last_seen_version == 50  # max xmin


def test_incremental_upsert(spark, source_db, target_db):
    src = make_timestamps(spark, 1000)
    source_db.overwrite("timestamps", src)
    store = StateStore(target_db)
    sync_updates(source_db.read("timestamps"), target_db, store, "timestamps", ["id"])

    # mutate: update rows 0-9 (new xmin=200), insert rows 1000-1019 (xmin=201)
    import datetime

    new_ts = datetime.datetime(2030, 1, 1)
    updated = spark.createDataFrame(
        [(i, new_ts, 200) for i in range(10)]
        + [(i, new_ts, 201) for i in range(1000, 1020)],
        schema="id long, ts timestamp, xmin long",
    )
    src2 = src.filter(~F.col("id").isin(list(range(10)))).unionByName(updated)
    source_db.overwrite("timestamps", src2)

    rows = sync_updates(
        source_db.read("timestamps"), target_db, store, "timestamps", ["id"]
    )
    assert rows == 30  # only the changed slice was applied
    assert_df_equal(target_db.read("timestamps"), src2, ["id"])
    assert store.get("timestamps").last_seen_version == 201


def test_big_txn_version_batches_never_split_a_version(spark, source_db, target_db):
    # 300 rows share xmin=7 (one big transaction) amid others
    src = make_timestamps(spark, 600, xmin_of=lambda i: 7 if i < 300 else 8 + i % 3)
    source_db.overwrite("timestamps", src)
    store = StateStore(target_db)
    # fresh full copy first, then force incremental re-apply in batches
    sync_updates(source_db.read("timestamps"), target_db, store, "timestamps", ["id"])
    store.set_version("timestamps", 1)  # pretend we only saw version 1

    rows = sync_updates(
        source_db.read("timestamps"),
        target_db,
        store,
        "timestamps",
        ["id"],
        rows_per_batch=100,  # batches of ~100 rows, but version 7 has 300
    )
    assert rows == 600
    assert_df_equal(target_db.read("timestamps"), src, ["id"])
    assert store.get("timestamps").last_seen_version == 10


def test_stale_target_triggers_full_copy(spark, source_db, target_db):
    src = make_timestamps(spark, 1000)
    source_db.overwrite("timestamps", src)
    store = StateStore(target_db)
    # target holds only 100 rows (< 0.5 * 1000) but state claims sync'd
    target_db.overwrite("timestamps", src.filter(F.col("id") < 100))
    store.set_version("timestamps", 100)

    rows = sync_updates(
        source_db.read("timestamps"), target_db, store, "timestamps", ["id"]
    )
    assert rows == 1000  # full copy path
    assert_df_equal(target_db.read("timestamps"), src, ["id"])


def test_staleness_probe_is_metadata_only(spark, source_db, target_db):
    """The staleness branch must answer the target count from parquet
    footers, never a scan: get_update_range runs every incremental
    pass, and a count job over a wide 100 TB target would dwarf the
    incremental work it gates. Proven by making any target READ blow
    up — only footer metadata may be touched — and checking both
    decision directions still come out right."""
    from sslr_spark.operators.updates import get_update_range
    from sslr_spark.state import TableState

    src = make_timestamps(spark, 1000)
    source_db.overwrite("timestamps", src)
    target_db.overwrite("timestamps", src.filter(F.col("id") < 600))

    def _no_reads(*a, **k):
        raise AssertionError("staleness probe ran a Spark read on the target")

    target_db.read = _no_reads  # instance-level: footer path only
    state = TableState("timestamps", 100, "")
    rng = get_update_range(
        source_db.read("timestamps"), target_db, "timestamps", state
    )
    assert not rng.full_table  # 600 >= 0.5 * 1000: incremental

    # footer-exact count also flips the decision the other way
    assert target_db.table_rows("timestamps") == 600
    src_big = make_timestamps(spark, 2000)
    source_db.overwrite("timestamps", src_big)
    rng = get_update_range(
        source_db.read("timestamps"), target_db, "timestamps", state
    )
    assert rng.full_table  # 600 < 0.5 * 2000: stale => full copy


def test_filtered_sync(spark, source_db, target_db):
    src = make_timestamps(spark, 400)
    source_db.overwrite("timestamps", src)
    store = StateStore(target_db)
    rows = sync_updates(
        source_db.read("timestamps"),
        target_db,
        store,
        "timestamps",
        ["id"],
        where="id % 2 = 0",
    )
    assert rows == 200
    assert target_db.read("timestamps").count() == 200
    assert store.get("timestamps").where_clause == "id % 2 = 0"


def test_watermark_never_rewinds_on_drained_source(spark, tmp_path):
    """A source that empties out reports max(version)=None => range end
    0; the committed watermark must stay at the old high-water mark —
    rewinding would force a spurious full copy next pass (the delete
    phase already reconciles the removals)."""
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.state import StateStore
    from sslr_spark.operators.updates import sync_updates

    target = ParquetDatabase(spark, str(tmp_path / "t"))
    state = StateStore(target)
    df = spark.createDataFrame(
        [(i, i, 5) for i in range(20)], "id long, v long, xmin long"
    )
    sync_updates(df, target, state, "t", ["id"])
    assert state.get("t").last_seen_version == 5

    empty = spark.createDataFrame([], "id long, v long, xmin long")
    sync_updates(empty, target, state, "t", ["id"])
    assert state.get("t").last_seen_version == 5  # not rewound to 0


def test_full_copy_is_throttled(spark, source_db, target_db):
    """The full-copy branch must count the copy job as source time and
    sleep afterwards when over the utilization level — the reference
    documents its unthrottled full copy as a known gap (reference
    README.md:203); here the copy is covered. Both branches: bucketed
    and flat."""
    from sslr_spark.throttle import Throttle

    src = make_timestamps(spark, 200)
    source_db.overwrite("timestamps", src)

    def run(n_buckets):
        sleeps = []
        th = Throttle(50, sleep=sleeps.append)
        store = StateStore(target_db)
        rows = sync_updates(
            source_db.read("timestamps"), target_db, store, "timestamps",
            ["id"], n_buckets=n_buckets, throttle=th,
        )
        assert rows == 200
        # the copy dominated wall time -> utilization way over 50% ->
        # an adaptive sleep fired, and source time was accounted
        assert th._source_time > 0
        assert sleeps and sleeps[0] > 0
        target_db.drop("timestamps")
        store.clear("timestamps")

    run(None)
    run(4)


def test_dedup_latest_version_no_sort_deterministic_ties(spark):
    """dedup_latest_version must (a) keep the max-version row per key,
    (b) break version TIES deterministically (lexicographic payload),
    and (c) plan as a partial hash aggregation, not a window sort."""
    from pyspark.sql import functions as F

    from sslr_spark.operators.updates import dedup_latest_version

    df = spark.createDataFrame(
        [
            (1, 10, "old"), (1, 20, "new"),
            (2, 5, "only"),
            # version tie: lexicographically larger payload must win
            (3, 7, "aaa"), (3, 7, "zzz"),
        ],
        "k long, xmin long, v string",
    )
    out = {r.k: (r.xmin, r.v) for r in dedup_latest_version(df, ["k"]).collect()}
    assert out == {1: (20, "new"), 2: (5, "only"), 3: (7, "zzz")}

    plan = dedup_latest_version(df, ["k"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "partial" in plan.lower()


def test_missing_version_column_degrade_is_loud(
    spark, source_db, target_db, caplog
):
    """A source missing the configured version column degrades to
    full-copy-every-pass; unless the source declares itself
    versionless (FilesDatabase), the degrade must WARN — a typo'd
    versionColumn silently becoming a full table copy per pass is the
    expensive failure mode ADVICE r4 flagged."""
    import logging

    from sslr_spark.operators.updates import UpdateRange, get_update_range
    from sslr_spark.state import StateStore

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    store = StateStore(target_db)
    st = store.get("t")

    with caplog.at_level(logging.WARNING, logger="sslr_spark"):
        rng = get_update_range(df, target_db, "t", st, version_col="xmin")
    assert rng == UpdateRange(True, 0, 0)
    assert any(
        "xmin" in r.message and "FULL COPY" in r.message
        for r in caplog.records
    ), caplog.records

    # a self-declared versionless source degrades silently
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="sslr_spark"):
        rng = get_update_range(
            df, target_db, "t", st, version_col="xmin",
            versionless_source=True,
        )
    assert rng == UpdateRange(True, 0, 0)
    assert not caplog.records

    # FilesDatabase carries the flag the job wires through
    from sslr_spark.sources.files import FilesDatabase

    assert getattr(FilesDatabase, "versionless", False) is True


def _record_stores(monkeypatch, df_class) -> list[str]:
    """Names of the DataFrame storage calls made from now on."""
    calls: list[str] = []
    for name in ("persist", "cache"):
        def wrapped(self, *a, _name=name, _orig=getattr(df_class, name), **k):
            calls.append(_name)
            return _orig(self, *a, **k)

        monkeypatch.setattr(df_class, name, wrapped)
    return calls


def _change_slice(spark):
    """29 keys, two of them with an older version the collapse drops."""
    import datetime

    ts = datetime.datetime(2030, 1, 1)
    return spark.createDataFrame(
        [(i, ts, 500) for i in range(0, 200, 7)] + [(0, ts, 400), (7, ts, 400)],
        "id long, ts timestamp, xmin long",
    )


def test_cdc_batch_stores_its_slice_once_bucketed(spark, tmp_path, monkeypatch):
    """A bucketed CDC batch stores its collapsed slice once: the
    partitioned merge reads upsert_batch's store instead of storing a
    bucketed copy, and the scope frees it when the batch ends."""
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket
    from sslr_spark.operators.updates import upsert_batch
    from sslr_spark.sources.parquet import ParquetDatabase

    src = make_timestamps(spark, 200)
    db = ParquetDatabase(spark, str(tmp_path / "bucketed"))
    db.overwrite_partitioned(
        "t", with_bucket(src, ["id"], 8), BUCKET_COL, n_buckets=8
    )
    upd = _change_slice(spark)
    stored = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    calls = _record_stores(monkeypatch, type(upd))
    assert upsert_batch(db, "t", upd, ["id"], n_buckets=8) == 29
    assert calls == ["persist"]
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == stored
    got = {r.id: r.xmin for r in db.read("t").collect()}
    assert len(got) == 200
    assert all(got[i] == 500 for i in range(0, 200, 7))


def test_cdc_batch_stores_its_slice_once_in_place(spark, monkeypatch):
    """An in-place target's apply (the JDBC key delete + insert) reads
    upsert_batch's stored slice and stores nothing of its own."""
    from sslr_spark.operators.updates import upsert_batch
    from sslr_spark.sources.jdbc import JdbcDatabase

    class InPlaceTarget:
        def __init__(self):
            self.spark = spark
            self.deleted, self.inserted = [], []

        def table_exists(self, table):
            return True

        apply_upsert = JdbcDatabase.apply_upsert

        def delete_keys(self, table, keys, pk_cols):
            self.deleted = sorted(r.id for r in keys.select(*pk_cols).collect())

        def append(self, table, df):
            self.inserted = sorted(df.collect())

    target = InPlaceTarget()
    upd = _change_slice(spark)
    calls = _record_stores(monkeypatch, type(upd))
    assert upsert_batch(target, "t", upd, ["id"]) == 29
    assert calls == ["persist"]
    assert target.deleted == list(range(0, 200, 7))
    assert [tuple(r) for r in target.inserted] == [
        (r.id, r.ts) for r in sorted(upd.filter("xmin = 500").collect())
    ]
