"""Merge-on-read upsert log (round 8): append-only CDC batches, a
latest-wins overlay read that never shuffles the base, and an
idempotent crash-safe compaction."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sslr_spark.operators.updates import (
    append_delete_log,
    append_upsert_log,
    compact_upsert_log,
    get_update_range,
    read_merged,
    should_compact_upsert_log,
    sync_updates,
    upsert_log_table,
)
from sslr_spark.sources.parquet import ParquetDatabase
from sslr_spark.state import StateStore, TableState


def _db(spark, tmp_path, name="mor"):
    return ParquetDatabase(spark, str(tmp_path / name))


def _base(spark, n=50):
    return spark.createDataFrame(
        [(i, f"v{i}", 100) for i in range(n)],
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


# ------------------------------------------------------------------
# broadcast byte gate
# ------------------------------------------------------------------

def test_read_merged_broadcasts_under_gate(spark, tmp_path):
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


def test_read_merged_no_forced_broadcast_over_gate(spark, tmp_path):
    """Above the byte gate the hint is NOT forced: with Spark's own
    auto-broadcast disabled, the anti-join must plan WITHOUT a
    BroadcastHashJoin — the forced hint would have overridden the
    size check, which is exactly the 100 TB failure mode."""
    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(1, "u1", 200)], "id long, payload string, xmin long"
        ),
        ["id"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        merged = read_merged(db, "t", ["id"], broadcast_key_bytes=0)
        p = merged._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in p
        assert "LeftAnti" in p
        # the plain anti-join stays CORRECT, just differently planned
        assert {r.id for r in merged.filter("id <= 1").collect()} == {0, 1}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_read_merged_gate_uses_sampled_key_width(spark, tmp_path):
    """The gate estimates bytes as footer row count x sampled key
    width: a ~1 KB string PK must NOT broadcast under a 512-byte
    threshold (row count alone would wave it through)."""
    db = _db(spark, tmp_path)
    wide = spark.createDataFrame(
        [("k" * 1000 + str(i), 100) for i in range(3)],
        "id string, xmin long",
    )
    db.overwrite("t", wide)
    append_upsert_log(
        db, "t",
        spark.createDataFrame([("k" * 1000 + "0", 200)], "id string, xmin long"),
        ["id"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = (
            read_merged(db, "t", ["id"], broadcast_key_bytes=512)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ------------------------------------------------------------------
# absolute-bytes compaction trigger
# ------------------------------------------------------------------

def test_should_compact_on_bytes_while_rows_stay_under_fraction(
    spark, tmp_path
):
    import hashlib

    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark, n=10_000))
    wide = spark.createDataFrame(
        [
            (
                i,
                "".join(  # incompressible ~2 KB payload
                    hashlib.md5(f"{i}:{j}".encode()).hexdigest()
                    for j in range(64)
                ),
                200,
            )
            for i in range(50)
        ],
        "id long, payload string, xmin long",
    )
    append_upsert_log(db, "t", wide, ["id"])
    # 50 / 10_000 = 0.005 << 0.1 — the row fraction does NOT trigger
    assert should_compact_upsert_log(db, "t", 0.1) is False
    # ... but ~100 KB of 2 KB payloads crosses a 10 KB byte cap
    assert db.table_bytes(upsert_log_table("t")) > 10_000
    assert (
        should_compact_upsert_log(db, "t", 0.1, max_log_bytes=10_000)
        is True
    )
    # a generous cap defers to the row fraction
    assert (
        should_compact_upsert_log(db, "t", 0.1, max_log_bytes=1 << 30)
        is False
    )


# ------------------------------------------------------------------
# tombstone/upsert equal-version tie
# ------------------------------------------------------------------

def test_mor_equal_version_reinsert_beats_tombstone(spark, tmp_path):
    """ADVICE r8: the delete phase synthesizes tombstones at
    watermark+1, and with Postgres xmin the NEXT transaction is often
    exactly watermark+1 — a re-insert at that same version must win
    the tie, even when its payload is all NULL (the case where the
    old payload-struct tie-break let the tombstone win)."""
    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    append_delete_log(
        db, "t", spark.createDataFrame([(1,), (2,)], "id long"),
        ["id"], version=201,
    )
    assert {r.id for r in read_merged(db, "t", ["id"]).collect()} & {1, 2} == set()
    # re-inserts at the SAME version 201: one real payload, one NULL
    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(1, "re", 201), (2, None, 201)],
            "id long, payload string, xmin long",
        ),
        ["id"],
    )
    got = _rows(read_merged(db, "t", ["id"]))
    assert (1, "re", 201) in got
    assert (2, None, 201) in got


# ------------------------------------------------------------------
# interrupted full copy: the copy-pending marker
# ------------------------------------------------------------------

def _sync(src_df, db, state, merge_on_read=True, force_full=False):
    return sync_updates(
        src_df, db, state, "t", ["id"],
        merge_on_read=merge_on_read, force_full=force_full,
    )


def test_interrupted_mor_full_copy_forces_full_on_next_pass(
    spark, tmp_path
):
    """Crash window: marker set -> log dropped -> overwrite DIES.
    The log rows are gone and the watermark never advanced past
    them, so an incremental next pass would skip them forever; the
    marker must force full copy instead, and a successful copy (the
    directory swap) must clear it."""
    db = _db(spark, tmp_path)
    state = StateStore(db)
    src1 = _base(spark, n=200)
    _sync(src1, db, state)  # initial full copy (state 0 -> full)
    assert state.get("t").last_seen_version == 100

    upd = spark.createDataFrame(
        [(5, "u5", 150)], "id long, payload string, xmin long"
    )
    src2 = src1.filter("id != 5").unionByName(upd)
    _sync(src2, db, state)  # lands as a log append
    assert db.table_exists(upsert_log_table("t"))
    assert state.get("t").last_seen_version == 150

    # force a full copy whose overwrite crashes AFTER the log drop
    real_overwrite = db.overwrite

    def boom(table, df):
        raise RuntimeError("simulated crash mid full copy")

    db.overwrite = boom
    with pytest.raises(RuntimeError):
        _sync(src2, db, state, force_full=True)
    db.overwrite = real_overwrite

    assert not db.table_exists(upsert_log_table("t"))  # log is gone
    assert db.copy_pending("t") is True
    # the watermark still points at the applied log batch; WITHOUT
    # the marker this pass would be incremental-and-empty and the
    # target would serve the stale base row for id 5 forever
    rng = get_update_range(src2, db, "t", state.get("t"))
    assert rng.full_table is True

    rows = _sync(src2, db, state)  # recovery pass: full copy
    assert rows == 200
    assert db.copy_pending("t") is False  # swap cleared the marker
    assert _rows(db.read("t")) == _rows(src2)


def test_copy_pending_noop_without_table(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.set_copy_pending("missing")  # no-op, no crash
    assert db.copy_pending("missing") is False


# ------------------------------------------------------------------
# MOR delete phase: silent-loss repair via log appends only
# ------------------------------------------------------------------

def _file_snapshot(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getmtime(p)
    return out


def test_mor_delete_phase_repairs_via_log_appends(spark, tmp_path):
    """T4 parity in MOR mode: a target missing a source row (silent
    loss) and carrying a bogus extra row is reconciled entirely with
    LOG APPENDS — tombstone for the extra, verbatim upsert append for
    the missing — and the base files are untouched (no CoW rewrite)."""
    from sslr_spark.config import Config
    from sslr_spark.job import Job, JobResult
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
        merge_on_read_max_log=10.0,  # no compaction in-test
    )

    def run_pass():
        job = Job(spark, cfg)
        job.validate_tables()
        r = JobResult()
        job.update_table("t", r, Throttle(100))
        return job, r

    job, r1 = run_pass()
    assert r1.full_copies == ["t"]

    # silently corrupt the TARGET: drop id 10, add bogus id 999
    corrupted = (
        job.target.read("t").filter("id != 10")
        .unionByName(
            spark.createDataFrame(
                [(999, "bogus", 100)], "id long, payload string, xmin long"
            )
        )
    )
    job.target.overwrite("t", corrupted)

    before = _file_snapshot(job.target.path("t"))
    job2, r2 = run_pass()
    after = _file_snapshot(job2.target.path("t"))
    assert before == after, "MOR repair must not rewrite the base"
    assert r2.repaired_rows == 1  # id 10 re-appended from the source
    assert r2.deleted_rows == 1   # id 999 tombstoned
    assert _rows(read_merged(job2.target, "t", ["id"])) == set(rows)


def test_mor_log_health_in_job_result(spark, tmp_path):
    """VERDICT r8 item 7: per-table overlay debt in the job result —
    log rows/bytes, pending tombstones, last compaction record."""
    from sslr_spark.config import Config
    from sslr_spark.job import Job, JobResult
    from sslr_spark.throttle import Throttle

    src_db = ParquetDatabase(spark, str(tmp_path / "src"))
    rows = [(i, f"v{i}", 100) for i in range(100)]
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
        merge_on_read_max_log=10.0,
    )

    def run_pass():
        job = Job(spark, cfg)
        job.validate_tables()
        r = JobResult()
        job.update_table("t", r, Throttle(100))
        return job, r

    _, r1 = run_pass()
    h1 = r1.mor_log["t"]
    assert h1["log_rows"] == 0 and h1["pending_tombstones"] == 0
    assert h1["last_compaction"] is None

    # mutate source: 2 updates, 1 delete
    rows2 = [
        (i, ("U" if i < 2 else "v") + str(i), 200 if i < 2 else 100)
        for i in range(100) if i != 50
    ]
    src_db.overwrite(
        "t",
        spark.createDataFrame(rows2, "id long, payload string, xmin long"),
    )
    _, r2 = run_pass()
    h2 = r2.mor_log["t"]
    assert h2["log_rows"] == 3  # 2 upserts + 1 tombstone
    assert h2["log_bytes"] > 0
    assert h2["pending_tombstones"] == 1
    assert h2["last_compaction"] is None

    # tight cap -> the pass compacts; health reflects the fold
    cfg.merge_on_read_max_log = 0.001
    job3, r3 = run_pass()
    h3 = r3.mor_log["t"]
    # health is sampled in _maintenance (before the post-state
    # compaction hook) OR after — either way a LATER pass must show
    # the clean state and the compaction record
    _, r4 = run_pass()
    h4 = r4.mor_log["t"]
    assert h4["log_rows"] == 0 and h4["pending_tombstones"] == 0
    assert h4["last_compaction"] is not None
    assert h4["last_compaction"]["folded_rows"] == 3
    assert not job3.target.table_exists(upsert_log_table("t"))


def test_compaction_writes_sidecar_record(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.overwrite("t", _base(spark))
    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(1, "u1", 200)], "id long, payload string, xmin long"
        ),
        ["id"],
    )
    out = compact_upsert_log(db, "t", ["id"])
    assert out["folded_rows"] == 1
    meta = db.read_table_meta("t", "compaction")
    assert meta["folded_rows"] == 1 and meta["at_epoch_s"] > 0


# ------------------------------------------------------------------
# bucket-pruned compaction
# ------------------------------------------------------------------

def _bucketed_db(spark, tmp_path, n=400, buckets=8):
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    db = _db(spark, tmp_path, "mor_bucketed")
    base = _base(spark, n=n)
    db.overwrite_partitioned(
        "t",
        with_bucket(base, ["id"], buckets, "portable"),
        BUCKET_COL,
        n_buckets=buckets,
        bucket_hash="portable",
    )
    return db, base


def test_compaction_rewrites_only_affected_buckets(spark, tmp_path):
    """A log touching keys in a few buckets folds via dynamic
    partition overwrite: untouched partitions keep their exact files,
    a fully-tombstoned bucket's directory is dropped, the log is
    truncated, and the compacted base equals the pre-compaction
    overlay read."""
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    db, base = _bucketed_db(spark, tmp_path)
    buckets = {
        r.id: r[BUCKET_COL]
        for r in with_bucket(base, ["id"], 8, "portable").collect()
    }
    # pick one bucket to update and another to annihilate
    upd_bucket = buckets[0]
    kill_bucket = next(b for b in set(buckets.values()) if b != upd_bucket)
    upd_ids = [i for i, b in buckets.items() if b == upd_bucket][:3]
    kill_ids = [i for i, b in buckets.items() if b == kill_bucket]

    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(i, f"u{i}", 200) for i in upd_ids],
            "id long, payload string, xmin long",
        ),
        ["id"],
    )
    append_delete_log(
        db, "t", spark.createDataFrame([(i,) for i in kill_ids], "id long"),
        ["id"], version=200,
    )
    expect = _rows(read_merged(db, "t", ["id"]))

    import os

    untouched = {
        b for b in set(buckets.values()) if b not in (upd_bucket, kill_bucket)
    }
    snap_before = {
        b: _file_snapshot(
            os.path.join(db.path("t"), f"{BUCKET_COL}={b}")
        )
        for b in untouched
    }
    out = compact_upsert_log(db, "t", ["id"])
    assert out["folded_rows"] == 3 + len(kill_ids)
    assert not db.table_exists(upsert_log_table("t"))
    for b in untouched:
        assert snap_before[b] == _file_snapshot(
            os.path.join(db.path("t"), f"{BUCKET_COL}={b}")
        ), f"untouched bucket {b} was rewritten"
    assert not os.path.exists(
        os.path.join(db.path("t"), f"{BUCKET_COL}={kill_bucket}")
    ), "fully-tombstoned bucket dir must be dropped"
    assert _rows(db.read("t")) == expect
    # layout marker survives the pruned rewrite (merges depend on it)
    assert db.layout_meta("t")["n_buckets"] == 8


def test_compaction_scattered_log_takes_clustered_rewrite(spark, tmp_path):
    """A log touching more than half the buckets — one of them fully
    tombstoned — folds through the scattered guard's clustered
    whole-table rewrite, like a scattered copy-on-write batch: every
    bucket is rewritten, the annihilated bucket has no directory, the
    base equals the pre-compaction overlay read and the layout marker
    survives."""
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    db, base = _bucketed_db(spark, tmp_path)
    buckets = {
        r.id: r[BUCKET_COL]
        for r in with_bucket(base, ["id"], 8, "portable").collect()
    }
    kill_bucket = buckets[0]
    kill_ids = [i for i, b in buckets.items() if b == kill_bucket]
    others = sorted(set(buckets.values()) - {kill_bucket})
    # one updated key in each of five other buckets: 6 of 8 touched
    upd_ids = [
        next(i for i, b in sorted(buckets.items()) if b == ub)
        for ub in others[:5]
    ]
    untouched = others[5:]
    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(i, f"u{i}", 200) for i in upd_ids],
            "id long, payload string, xmin long",
        ),
        ["id"],
    )
    append_delete_log(
        db, "t", spark.createDataFrame([(i,) for i in kill_ids], "id long"),
        ["id"], version=200,
    )
    expect = _rows(read_merged(db, "t", ["id"]))
    snap_before = {
        b: _file_snapshot(os.path.join(db.path("t"), f"{BUCKET_COL}={b}"))
        for b in untouched
    }

    out = compact_upsert_log(db, "t", ["id"])
    assert out["folded_rows"] == len(upd_ids) + len(kill_ids)
    assert not db.table_exists(upsert_log_table("t"))
    assert _rows(db.read("t")) == expect
    assert not os.path.exists(
        os.path.join(db.path("t"), f"{BUCKET_COL}={kill_bucket}")
    ), "fully-tombstoned bucket dir must be gone"
    for b in untouched:
        assert snap_before[b] != _file_snapshot(
            os.path.join(db.path("t"), f"{BUCKET_COL}={b}")
        ), f"bucket {b} kept its files: not the whole-table rewrite"
    assert db.layout_meta("t")["n_buckets"] == 8
    assert db.layout_meta("t")["bucket_hash"] == "portable"


def test_partitioned_merge_drops_bucket_emptied_by_tombstones(
    spark, tmp_path
):
    """A change set carrying the tombstone marker deletes its
    tombstoned keys and never writes them; a bucket it leaves empty
    is removed (dynamic overwrite cannot express an empty partition)."""
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket
    from sslr_spark.operators.updates import (
        TOMBSTONE_COL,
        merge_upsert_partitioned,
    )

    db, base = _bucketed_db(spark, tmp_path)
    buckets = {
        r.id: r[BUCKET_COL]
        for r in with_bucket(base, ["id"], 8, "portable").collect()
    }
    kill_bucket = buckets[0]
    kill_ids = [i for i, b in buckets.items() if b == kill_bucket]
    upd_id = next(i for i, b in buckets.items() if b != kill_bucket)
    changes = spark.createDataFrame(
        [(i, None, 200, True) for i in kill_ids]
        + [(upd_id, "u", 200, False)],
        f"id long, payload string, xmin long, {TOMBSTONE_COL} boolean",
    )
    merge_upsert_partitioned(db, "t", changes, ["id"], 8)
    expect = {
        (r.id, r.payload, r.xmin) for r in base.collect()
        if r.id not in kill_ids and r.id != upd_id
    } | {(upd_id, "u", 200)}
    assert _rows(db.read("t")) == expect
    assert not os.path.exists(
        os.path.join(db.path("t"), f"{BUCKET_COL}={kill_bucket}")
    )


def test_compaction_pruned_path_is_crash_idempotent(spark, tmp_path):
    """Crash AFTER the partition rewrite but BEFORE the log drop:
    the stale log re-applies as no-ops (each bucket's rewrite is a
    pure function of base bucket + log) — the retry converges to the
    same rows and then truncates the log."""
    db, base = _bucketed_db(spark, tmp_path)
    append_upsert_log(
        db, "t",
        spark.createDataFrame(
            [(1, "u1", 200), (2, "u2", 200)],
            "id long, payload string, xmin long",
        ),
        ["id"],
    )
    expect = _rows(read_merged(db, "t", ["id"]))

    real_drop = db.drop

    def crash_drop(t):
        raise RuntimeError("crash before log drop")

    db.drop = crash_drop
    with pytest.raises(RuntimeError):
        compact_upsert_log(db, "t", ["id"])
    db.drop = real_drop
    # log still present, base partially/fully rewritten — both the
    # overlay read and a replayed compaction converge
    assert db.table_exists(upsert_log_table("t"))
    assert _rows(read_merged(db, "t", ["id"])) == expect
    out = compact_upsert_log(db, "t", ["id"])
    assert out["folded_rows"] == 2
    assert not db.table_exists(upsert_log_table("t"))
    assert _rows(db.read("t")) == expect


# ------------------------------------------------------------------
# as-of (time travel) read
# ------------------------------------------------------------------

def test_read_merged_as_of_version(spark, tmp_path):
    """Snapshot read ignores log rows — upserts AND tombstones —
    above the pinned version; None reads latest; the horizon is the
    compaction boundary (post-compaction, old versions are gone)."""
    db = _db(spark, tmp_path, "asof")
    base = _base(spark, 30)
    db.overwrite("t", base)
    append_upsert_log(
        db, "t",
        base.filter("id % 5 = 0").withColumn("payload", F.lit("v200"))
        .withColumn("xmin", F.lit(200).cast("long")),
        ["id"],
    )
    append_delete_log(
        db, "t", base.filter("id % 10 = 0").select("id"), ["id"],
        version=300,
    )
    # as of 100: the pristine base
    at100 = _rows(read_merged(db, "t", ["id"], as_of_version=100))
    assert at100 == _rows(base)
    # as of 250: upserts visible, tombstones not yet
    at250 = {r.id: r.payload for r in
             read_merged(db, "t", ["id"], as_of_version=250).collect()}
    assert len(at250) == 30
    assert at250[5] == "v200" and at250[7] == "v7"
    # latest: every 10th gone
    latest = {r.id for r in read_merged(db, "t", ["id"]).collect()}
    assert latest == {i for i in range(30) if i % 10 != 0}
    # a batch whose version type differs from the base is rejected at
    # write time (a mixed-type log dir fails nondeterministically at
    # read — the bug this very test flushed out before the guard)
    import pytest as _pt
    with _pt.raises(ValueError, match="column types"):
        append_upsert_log(
            db, "t",
            base.limit(1).withColumn("xmin", F.lit(999)),  # int, not long
            ["id"],
        )
    # past compaction, the pre-compaction snapshot is unreachable:
    # the log is dropped and the base holds only the latest state
    compact_upsert_log(db, "t", ["id"])
    post = _rows(read_merged(db, "t", ["id"], as_of_version=100))
    assert {r[0] for r in post} == latest
