"""Merge-on-read upsert log (round 8): append-only CDC batches, a
latest-wins overlay read that never shuffles the base, and an
idempotent crash-safe compaction."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sslr_spark.operators.updates import (
    append_delete_log,
    append_upsert_log,
    compact_upsert_log,
    read_merged,
    should_compact_upsert_log,
    upsert_log_table,
)
from sslr_spark.sources.parquet import ParquetDatabase


def _db(spark, tmp_path):
    return ParquetDatabase(spark, str(tmp_path / "mor"))


def _base(spark):
    return spark.createDataFrame(
        [(i, f"v{i}", 100) for i in range(50)],
        "id long, payload string, xmin long",
    )


def _rows(df):
    return {(r.id, r.payload, r.xmin) for r in df.collect()}


def test_mor_overlay_updates_inserts_and_latest_wins(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    # batch 1: update ids 0-4, insert 100
    b1 = spark.createDataFrame(
        [(i, f"u{i}", 200) for i in range(5)] + [(100, "new", 200)],
        "id long, payload string, xmin long",
    )
    append_upsert_log(db, "t", b1, ["id"])
    # batch 2: re-update id 0 (a newer version) and a stale dup of 1
    b2 = spark.createDataFrame(
        [(0, "uu0", 300), (1, "stale", 150)],
        "id long, payload string, xmin long",
    )
    append_upsert_log(db, "t", b2, ["id"])

    got = _rows(read_merged(db, "t", ["id"]))
    expect = {(i, f"v{i}", 100) for i in range(5, 50)}
    expect |= {(0, "uu0", 300)}           # newest across batches
    expect |= {(i, f"u{i}", 200) for i in range(1, 5)}  # 200 > 150
    expect |= {(100, "new", 200)}         # insert
    assert got == expect


def test_mor_no_log_is_passthrough_and_schema_checked(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    assert _rows(read_merged(db, "t", ["id"])) == _rows(db.read("t"))
    assert not should_compact_upsert_log(db, "t")
    bad = spark.createDataFrame([(1, 500)], "id long, xmin long")
    with pytest.raises(ValueError, match="lacks base columns"):
        append_upsert_log(db, "t", bad, ["id"])


def test_mor_compaction_folds_and_is_crash_idempotent(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    b1 = spark.createDataFrame(
        [(i, f"u{i}", 200) for i in range(10)] + [(100, "new", 200)],
        "id long, payload string, xmin long",
    )
    append_upsert_log(db, "t", b1, ["id"])
    assert should_compact_upsert_log(db, "t", max_log_fraction=0.1)
    before = _rows(read_merged(db, "t", ["id"]))

    out = compact_upsert_log(db, "t", ["id"])
    assert out["folded_rows"] == 11
    assert not db.table_exists(upsert_log_table("t"))
    assert _rows(db.read("t")) == before  # fold changed nothing

    # crash simulation: the swap committed but the log drop was lost —
    # re-appending the SAME batch must be a no-op through the overlay
    # (log supersedes base at equal versions with identical payload)
    append_upsert_log(db, "t", b1, ["id"])
    assert _rows(read_merged(db, "t", ["id"])) == before
    out2 = compact_upsert_log(db, "t", ["id"])
    assert out2["folded_rows"] == 11
    assert _rows(db.read("t")) == before
    # and compacting with no log is a recorded no-op
    assert compact_upsert_log(db, "t", ["id"]) == {"folded_rows": 0}


def test_mor_delete_tombstones_and_resurrection(spark, tmp_path):
    """Deletes land as tombstone log rows: the overlay drops a key
    whose LATEST log row is a tombstone; a later higher-version
    upsert resurrects it; compaction folds deletions into the base
    and stays idempotent under crash replay."""
    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    keys = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    append_delete_log(db, "t", keys, ["id"], version=200)
    # id 2 comes back at a higher version; id 5 gets deleted after an
    # update (tombstone wins by version)
    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(2, "back", 300), (5, "u5", 250)],
            "id long, payload string, xmin long",
        ),
        ["id"],
    )
    append_delete_log(
        db, "t", spark.createDataFrame([(5,)], "id long"), ["id"],
        version=260,
    )
    got = _rows(read_merged(db, "t", ["id"]))
    expect = {(i, f"v{i}", 100) for i in range(50)} - {
        (0, "v0", 100), (1, "v1", 100), (2, "v2", 100), (5, "v5", 100)
    }
    expect |= {(2, "back", 300)}
    assert got == expect

    # crash replay contract: a crash between the compaction swap and
    # the log drop replays the WHOLE log — which always carries each
    # key's newest row (the v300 upsert that outranks id 2's v200
    # tombstone), so the overlay resolves to the same state. Simulate
    # by snapshotting the log, compacting, and restoring it.
    log_df = spark.createDataFrame(
        db.read(upsert_log_table("t"), with_meta=True).collect(),
        db.read(upsert_log_table("t"), with_meta=True).schema,
    )
    out = compact_upsert_log(db, "t", ["id"])
    assert out["folded_rows"] == 6  # 4 tombstones + 2 upserts
    assert _rows(db.read("t")) == expect
    db.append(upsert_log_table("t"), log_df)  # the "undropped" log
    assert _rows(read_merged(db, "t", ["id"])) == expect
    out2 = compact_upsert_log(db, "t", ["id"])
    assert out2["folded_rows"] == 6
    assert _rows(db.read("t")) == expect


def test_mor_job_mode_end_to_end(spark, tmp_path):
    """mergeOnRead as an ENGINE mode: first pass full-copies (no
    log), the incremental pass lands updates as log appends and
    deletions as tombstones, read_merged equals the live source, and
    a tight mergeOnReadMaxLog triggers auto-compaction back to a
    clean base."""
    from sslr_spark.config import Config
    from sslr_spark.job import Job, JobResult
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.throttle import Throttle

    src_db = ParquetDatabase(spark, str(tmp_path / "src"))
    rows = [(i, f"v{i}", 100) for i in range(200)]
    src_db.overwrite(
        "t",
        spark.createDataFrame(rows, "id long, payload string, xmin long"),
    )
    cfg = Config(
        source=str(tmp_path / "src"),
        target=str(tmp_path / "tgt"),
        source_tables=["t"],
        primary_keys={"t": ["id"]},
        target_buckets=0,
        merge_on_read=True,
        merge_on_read_max_log=10.0,  # don't compact during the test
    )

    def run_pass():
        job = Job(spark, cfg)
        job.validate_tables()
        r = JobResult()
        job.update_table("t", r, Throttle(100))
        return job, r

    job, r1 = run_pass()
    assert r1.full_copies == ["t"] and r1.updated_rows == 200
    assert not job.target.table_exists(upsert_log_table("t"))

    # mutate: update 5, delete 3, insert 2
    rows2 = [
        (i, ("U" + str(i)) if i < 5 else f"v{i}", 200 if i < 5 else 100)
        for i in range(200)
        if i not in (50, 51, 52)
    ] + [(500, "new", 200), (501, "new", 200)]
    src_db.overwrite(
        "t",
        spark.createDataFrame(rows2, "id long, payload string, xmin long"),
    )
    job2, r2 = run_pass()
    assert r2.updated_rows == 7 and r2.deleted_rows == 3
    assert r2.full_copies == []
    assert job2.target.table_exists(upsert_log_table("t"))
    merged = read_merged(job2.target, "t", ["id"])
    assert _rows(merged) == set(rows2)

    # third pass with a tight log cap: no source change, the pass
    # auto-compacts — base == live source, log gone
    cfg.merge_on_read_max_log = 0.001
    job3, r3 = run_pass()
    assert r3.updated_rows == 0 and r3.deleted_rows == 0
    assert not job3.target.table_exists(upsert_log_table("t"))
    assert _rows(job3.target.read("t")) == set(rows2)


def test_mor_job_mode_update_then_delete_same_pass(spark, tmp_path):
    """A key updated at the watermark and deleted within the same
    poll interval dies immediately: the tombstone (watermark+1)
    outranks the pass's own upsert."""
    from sslr_spark.config import Config
    from sslr_spark.job import Job, JobResult
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.throttle import Throttle

    src_db = ParquetDatabase(spark, str(tmp_path / "src"))
    src_db.overwrite(
        "t",
        spark.createDataFrame(
            [(i, f"v{i}", 100) for i in range(20)],
            "id long, payload string, xmin long",
        ),
    )
    cfg = Config(
        source=str(tmp_path / "src"),
        target=str(tmp_path / "tgt"),
        source_tables=["t"],
        primary_keys={"t": ["id"]},
        target_buckets=0,
        merge_on_read=True,
        merge_on_read_max_log=10.0,
    )

    def run_pass():
        job = Job(spark, cfg)
        job.validate_tables()
        r = JobResult()
        job.update_table("t", r, Throttle(100))
        return job, r

    run_pass()  # initial copy
    # id 0 updated at the NEW watermark (200)... and id 1 deleted;
    # id 0 ALSO deleted — its upsert lands at 200, the tombstone at
    # 201, so the delete wins in the same pass
    src_db.overwrite(
        "t",
        spark.createDataFrame(
            [(i, f"v{i}", 100) for i in range(2, 20)],
            "id long, payload string, xmin long",
        ),
    )
    # note: id 0's update is invisible (the row is gone from the
    # source), so the slice is empty and both 0 and 1 are tombstoned
    job2, r2 = run_pass()
    assert r2.deleted_rows == 2
    got = {r.id for r in read_merged(job2.target, "t", ["id"]).collect()}
    assert got == set(range(2, 20))


def test_mor_mode_rejects_strip_version_and_in_place(spark, tmp_path):
    """The mode needs the version column in the payload and a
    lake-style target — both misuses fail loudly up front."""
    from sslr_spark.operators.updates import sync_updates
    from sslr_spark.state import StateStore

    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    store = StateStore(db)
    src = _base(spark)
    with pytest.raises(ValueError, match="strip_version"):
        sync_updates(
            src, db, store, "t", ["id"], strip_version=True,
            merge_on_read=True,
        )

    class InPlace(ParquetDatabase):
        def apply_upsert(self, *a, **k):  # pragma: no cover - marker
            raise AssertionError

    ip = InPlace(spark, str(tmp_path / "ip"))
    with pytest.raises(ValueError, match="in-place"):
        sync_updates(src, ip, store, "t", ["id"], merge_on_read=True)


def test_mor_full_copy_drops_stale_log(spark, tmp_path):
    """A forced full copy must drop the log FIRST: a stale log
    overlaying a fresher base would serve stale rows."""
    from sslr_spark.operators.updates import sync_updates
    from sslr_spark.state import StateStore, TableState

    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(0, "stale", 90)], "id long, payload string, xmin long"
        ),
        ["id"],
    )
    store = StateStore(db)
    store.set(TableState("t", 50, ""))
    sync_updates(
        _base(spark), db, store, "t", ["id"], force_full=True,
        merge_on_read=True,
    )
    assert not db.table_exists(upsert_log_table("t"))
    assert _rows(read_merged(db, "t", ["id"])) == _rows(_base(spark))


def test_mor_plan_reports_pending_tombstones(spark, tmp_path):
    """Dry-run plan in MOR mode counts deletions against the OVERLAY
    view — the base alone would misreport log-only inserts as
    pending deletes."""
    from sslr_spark.config import Config
    from sslr_spark.job import Job, JobResult
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.throttle import Throttle

    src_db = ParquetDatabase(spark, str(tmp_path / "src"))
    src_db.overwrite(
        "t",
        spark.createDataFrame(
            [(i, f"v{i}", 100) for i in range(30)],
            "id long, payload string, xmin long",
        ),
    )
    cfg = Config(
        source=str(tmp_path / "src"),
        target=str(tmp_path / "tgt"),
        source_tables=["t"],
        primary_keys={"t": ["id"]},
        target_buckets=0,
        merge_on_read=True,
        merge_on_read_max_log=10.0,
    )
    job = Job(spark, cfg)
    job.validate_tables()
    r = JobResult()
    job.update_table("t", r, Throttle(100))
    # insert 2 (will live only in the log) and delete 3 in the source
    src_db.overwrite(
        "t",
        spark.createDataFrame(
            [(i, f"v{i}", 100) for i in range(3, 30)]
            + [(900, "n", 200), (901, "n", 200)],
            "id long, payload string, xmin long",
        ),
    )
    job2 = Job(spark, cfg)
    job2.validate_tables()
    job2.update_table("t", JobResult(), Throttle(100))
    plan = Job(spark, cfg).plan()["t"]
    # log-only inserts (900, 901) must NOT appear as tombstones
    assert plan["pending_tombstones"] == 0
    assert "mismatched_buckets" not in plan


def test_mor_read_broadcasts_log_and_never_shuffles_base(
    spark, tmp_path
):
    """The scale contract: the base side of the overlay is scan +
    broadcast anti-join — no Exchange, no Sort, no window on the
    base; only the (small) log side aggregates."""
    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(1, "u1", 200)], "id long, payload string, xmin long"
        ),
        ["id"],
    )
    p = (
        read_merged(db, "t", ["id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p
    assert "Window" not in p