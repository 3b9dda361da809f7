"""Job-orchestration tests: config validation branches, schema drift,
where-drift, dependency ordering/cycles, filtered tables with
subquery predicates over 'uses' views, throttle math, continuous mode.
(FIXTURES.md scenarios: drift, where-drift, dep-cycle, no-pk.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sslr_spark.catalog import MissingPrimaryKey, SchemaMismatch
from sslr_spark.config import Config, ConfigError, FilteredTable, load_config
from sslr_spark.job import Job, JobResult
from sslr_spark.throttle import Throttle
from tests.conftest import assert_df_equal, make_timestamps


def make_job(spark, tmp_path, **cfg_kw) -> Job:
    defaults = dict(
        source=str(tmp_path / "source"),
        target=str(tmp_path / "target"),
        source_tables=["timestamps"],
        primary_keys={"timestamps": ["id"]},
        min_delete_chunk_size=100,
    )
    defaults.update(cfg_kw)
    return Job(spark, Config(**defaults))


# -- config validation (reference internal/config.go rejections) -------

def test_unknown_top_level_key_rejected():
    with pytest.raises(ConfigError, match="unknown config key"):
        load_config('{"source": "/s", "target": "/t", "sourceTables": ["a"], "bogus": 1}')


def test_unknown_filtered_key_rejected():
    with pytest.raises(ConfigError, match="unknown key"):
        load_config(
            '{"source": "/s", "target": "/t", '
            '"filteredSourceTables": {"a": {"where": "1=1", "extra": 2}}}'
        )


def test_comments_stripped_and_defaults():
    cfg = load_config(
        '{/* a comment */ "source": "/s", "target": "/t", "sourceTables": ["a"],'
        ' "primaryKeys": {"a": ["id"]}}'
    )
    assert cfg.update_chunk_size == 1000
    assert cfg.throttle_percentage == 80
    assert cfg.full_copy_threshold == 0.5


def test_uses_unknown_table_rejected():
    with pytest.raises(ConfigError, match="unknown table"):
        Config(
            source="/s", target="/t", source_tables=["a"],
            filtered_source_tables={"b": FilteredTable(where="1=1", uses=["zzz"])},
        ).validate()


def test_dependency_cycle_rejected():
    with pytest.raises(ConfigError, match="dependency loop"):
        Config(
            source="/s", target="/t",
            filtered_source_tables={
                "a": FilteredTable(where="1=1", uses=["b"]),
                "b": FilteredTable(where="1=1", uses=["a"]),
            },
        ).validate()


def test_validation_order_dependencies_first():
    cfg = Config(
        source="/s", target="/t", source_tables=["base"],
        filtered_source_tables={
            "mid": FilteredTable(where="1=1", uses=["base"]),
            "top": FilteredTable(where="1=1", uses=["mid"]),
        },
    )
    order = cfg.validation_order()
    assert order.index("base") < order.index("mid") < order.index("top")


# -- job runs ----------------------------------------------------------

@pytest.mark.slow
def test_job_end_to_end_sync(spark, tmp_path):
    job = make_job(spark, tmp_path)
    src = make_timestamps(spark, 800)
    job.source.overwrite("timestamps", src)

    r1 = job.run()
    assert r1.updated_rows == 800
    assert_df_equal(job.target.read("timestamps"), src, ["id"])

    # second pass: no changes -> no rows, no repairs
    r2 = job.run()
    assert r2.updated_rows == 0
    assert r2.repaired_buckets == 0

    # now delete some source rows; update phase sees nothing new but
    # the delete phase must repair
    src2 = src.filter(F.col("id") % 7 != 0)
    job.source.overwrite("timestamps", src2)
    r3 = job.run()
    assert r3.repaired_buckets > 0
    assert_df_equal(job.target.read("timestamps"), src2, ["id"])


def test_no_pk_hard_error(spark, tmp_path):
    job = make_job(spark, tmp_path, primary_keys={})
    job.source.overwrite("timestamps", make_timestamps(spark, 10))
    with pytest.raises(MissingPrimaryKey):
        job.run()


def test_schema_drift_aborts_without_resync_flag(spark, tmp_path):
    job = make_job(spark, tmp_path)
    src = make_timestamps(spark, 100)
    job.source.overwrite("timestamps", src)
    job.run()
    # drift: source gains a column
    job.source.overwrite("timestamps", src.withColumn("extra", F.lit("x")))
    job2 = make_job(spark, tmp_path)
    with pytest.raises(SchemaMismatch):
        job2.run()


def test_schema_drift_resyncs_with_flag(spark, tmp_path):
    job = make_job(spark, tmp_path)
    src = make_timestamps(spark, 100)
    job.source.overwrite("timestamps", src)
    job.run()
    drifted = src.withColumn("extra", F.lit("x"))
    job.source.overwrite("timestamps", drifted)
    job2 = make_job(spark, tmp_path, resync_on_schema_change=True)
    res = job2.run()
    assert "timestamps" in res.full_copies
    assert_df_equal(job2.target.read("timestamps"), drifted, ["id"])


def test_filtered_table_with_subquery_over_uses(spark, tmp_path):
    """P9: where clause containing a subquery over a 'uses' table."""
    job = make_job(
        spark,
        tmp_path,
        source_tables=["timestamps"],
        filtered_source_tables={
            "strings": FilteredTable(
                where="exists (select 1 from timestamps) and key like 'k%'",
                uses=["timestamps"],
            )
        },
        primary_keys={"timestamps": ["id"], "strings": ["key"]},
    )
    job.source.overwrite("timestamps", make_timestamps(spark, 50))
    strings = spark.createDataFrame(
        [(f"k{i}", f"v{i}", 1) for i in range(40)]
        + [(f"x{i}", f"v{i}", 1) for i in range(10)],
        schema="key string, val string, xmin long",
    )
    job.source.overwrite("strings", strings)
    res = job.run()
    assert job.target.read("strings").count() == 40  # filter applied
    assert res.updated_rows == 50 + 40


def test_where_drift_forces_resync(spark, tmp_path):
    def mk(where):
        return make_job(
            spark, tmp_path,
            source_tables=[],
            filtered_source_tables={"timestamps": FilteredTable(where=where)},
        )

    job = mk("id < 30")
    job.source.overwrite("timestamps", make_timestamps(spark, 100))
    job.run()
    assert job.target.read("timestamps").count() == 30

    job2 = mk("id < 60")  # changed filter -> full resync
    res = job2.run()
    assert "timestamps" in res.full_copies
    assert job2.target.read("timestamps").count() == 60


def test_continuous_mode_runs_and_stops(spark, tmp_path):
    job = make_job(spark, tmp_path, wait_between_jobs_seconds=0.01)
    job.source.overwrite("timestamps", make_timestamps(spark, 50))
    results = job.run_continuous(max_iterations=3)
    assert len(results) == 3
    assert results[0].updated_rows == 50
    assert results[1].updated_rows == 0


def test_throttle_math():
    from sslr_spark.throttle import Throttle

    sleeps = []
    t = {"now": 0.0}

    def clock():
        return t["now"]

    th = Throttle(50, clock=clock, sleep=sleeps.append)
    with th:
        t["now"] += 8.0  # 8s of source work in 8s wall -> 100% util
    # utilization 1.0, level 0.5 -> excess 0.5*8s=4s -> sleep 8s
    assert sleeps == [pytest.approx(8.0)]

    # 100% level disables throttling entirely
    th2 = Throttle(100, clock=clock, sleep=sleeps.append)
    with th2:
        t["now"] += 5.0
    assert len(sleeps) == 1


# -- reference config parity (round 2: wheres / toggles / key names) ----

def test_reference_sslr_json_loads_verbatim():
    """The reference's own example config (reference sslr.json) must
    load: reference key names (tables/filteredTables/waitBetweenJobs),
    JSON-pair comments ("/* ... ":"*/"), empty wheres list."""
    cfg = load_config("/root/reference/sslr.json")
    assert cfg.source.startswith("postgres://")
    assert cfg.all_tables() == ["timestamps", "strings"]
    assert cfg.filtered_source_tables["strings"].uses == ["timestamps"]
    assert cfg.throttle_percentage == 75
    assert cfg.sync_updates is True and cfg.sync_deletes is True


def test_wheres_joined_with_spaces():
    cfg = load_config(
        '{"source": "/s", "target": "/t", "tables": ["a"],'
        ' "primaryKeys": {"a": ["id"], "b": ["id"]},'
        ' "filteredTables": {"b": {"wheres": ["id > 1", "and id < 9"]}}}'
    )
    assert cfg.filtered_source_tables["b"].where == "id > 1 and id < 9"


def test_where_and_wheres_conflict_rejected():
    with pytest.raises(ConfigError, match="both 'where' and 'wheres'"):
        load_config(
            '{"source": "/s", "target": "/t", "tables": ["a"],'
            ' "filteredTables": {"b": {"where": "1=1", "wheres": ["2=2"]}}}'
        )


def test_tables_alias_conflict_rejected():
    with pytest.raises(ConfigError, match="cannot set both"):
        load_config(
            '{"source": "/s", "target": "/t", "tables": ["a"],'
            ' "sourceTables": ["b"], "primaryKeys": {"a": ["id"]}}'
        )


def test_duration_forms():
    from sslr_spark.config import parse_duration

    assert parse_duration(5) == 5.0
    assert parse_duration("1m30s") == 90.0
    assert parse_duration("500ms") == 0.5
    with pytest.raises(ConfigError, match="malformed duration"):
        parse_duration("5 parsecs")


def test_wait_between_jobs_number_units():
    """Canonical waitBetweenJobs: a bare JSON number is Go
    time.Duration NANOSECONDS (encoding/json into time.Duration —
    reference internal/config.go:31), so a reference config's
    5000000000 means 5 s. Duration strings and the *Seconds alias
    (bare number = seconds) are unambiguous. Both keys together is an
    error."""
    base = '{"source": "/s", "target": "/t", "tables": ["a"], "primaryKeys": {"a": ["id"]},'
    cfg = load_config(base + ' "waitBetweenJobs": 5000000000}')
    assert cfg.wait_between_jobs_seconds == 5.0
    cfg = load_config(base + ' "waitBetweenJobs": "5s"}')
    assert cfg.wait_between_jobs_seconds == 5.0
    cfg = load_config(base + ' "waitBetweenJobsSeconds": 5}')
    assert cfg.wait_between_jobs_seconds == 5.0
    with pytest.raises(ConfigError, match="cannot set both"):
        load_config(
            base + ' "waitBetweenJobs": "5s", "waitBetweenJobsSeconds": 5}'
        )


def test_sync_toggles_thread_through_job(spark, tmp_path):
    """syncUpdates=false leaves new source rows unapplied; the delete
    phase still repairs key-set divergence (reference
    internal/job.go:254,283 gate the two phases independently)."""
    from sslr_spark.sources.parquet import ParquetDatabase

    src = ParquetDatabase(spark, str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(i, i * 10, 1) for i in range(100)], "id long, v long, xmin long"
    )
    src.overwrite("t", df)
    base = dict(
        source=str(tmp_path / "s"), target=str(tmp_path / "t"),
        source_tables=["t"], primary_keys={"t": ["id"]},
    )
    # initial full sync with both phases on
    job = Job(spark, Config(**base))
    job.validate_tables()
    r = JobResult()
    job.update_table("t", r, Throttle(100))
    assert r.updated_rows == 100

    # new rows + deletes in source; updates off, deletes on
    df2 = spark.createDataFrame(
        [(i, i * 10, 2) for i in range(5, 110)], "id long, v long, xmin long"
    )
    src.overwrite("t", df2)
    job2 = Job(spark, Config(**base, sync_updates=False))
    job2.validate_tables()
    r2 = JobResult()
    job2.update_table("t", r2, Throttle(100))
    assert r2.updated_rows == 0  # update phase skipped
    # delete-phase repair reconciles the key set anyway
    got = sorted(r.id for r in job2.target.read("t").select("id").collect())
    assert got == list(range(5, 110))

    # both phases off: nothing happens at all
    src.overwrite("t", df)
    job3 = Job(spark, Config(**base, sync_updates=False, sync_deletes=False))
    job3.validate_tables()
    r3 = JobResult()
    job3.update_table("t", r3, Throttle(100))
    assert r3.updated_rows == 0 and r3.repaired_buckets == 0
    assert job3.target.read("t").count() == 105  # unchanged


def test_compaction_knob_runs_after_sync(spark, tmp_path):
    """compactFilesPerBucket > 0: after the sync pass, fragmented
    bucket partitions are rewritten down to one file; sync results
    and target contents are unaffected."""
    job = make_job(
        spark, tmp_path, target_buckets=8, compact_files_per_bucket=2
    )
    src = make_timestamps(spark, 500)
    job.source.overwrite("timestamps", src)
    job.run()  # initial full copy (clustered: 1 file/bucket)

    from sslr_spark.operators.deletes import BUCKET_COL

    # fragment one bucket WITHOUT changing its rows (so delete-sync
    # sees clean fingerprints and only maintenance defragments):
    # rewrite bucket 0's rows as several files
    frag = (
        job.target.read("timestamps", with_meta=True)
        .filter(F.col(BUCKET_COL) == 0)
        .repartition(5)
        .persist()
    )
    frag.count()  # materialize before the source dir is dropped
    job.target.drop_partitions("timestamps", BUCKET_COL, [0])
    frag.write.mode("append").partitionBy(BUCKET_COL).parquet(
        job.target.path("timestamps")
    )
    frag.unpersist()
    assert job.target.partition_file_counts("timestamps")["0"] > 2
    res = JobResult()
    job.update_table("timestamps", res)
    counts = job.target.partition_file_counts("timestamps")
    assert all(n <= 2 for n in counts.values()), counts
    assert res.compacted_partitions >= 1
    assert_df_equal(job.target.read("timestamps"), src, ["id"])


def test_compaction_off_by_default(spark, tmp_path):
    cfg = load_config(
        '{"source": "/s", "target": "/t", "sourceTables": ["a"],'
        ' "primaryKeys": {"a": ["id"]}}'
    )
    assert cfg.compact_files_per_bucket == 0
    cfg2 = load_config(
        '{"source": "/s", "target": "/t", "sourceTables": ["a"],'
        ' "primaryKeys": {"a": ["id"]}, "compactFilesPerBucket": 4}'
    )
    assert cfg2.compact_files_per_bucket == 4


def test_merge_on_read_keys_load(tmp_path):
    path = tmp_path / "mor.json"
    path.write_text(
        '{"source": "/s", "target": "/t", "tables": ["a"], '
        '"mergeOnRead": true, "mergeOnReadMaxLog": 0.25, '
        '"mergeOnReadMaxLogBytes": 1048576}'
    )
    cfg = load_config(str(path))
    assert cfg.merge_on_read is True
    assert cfg.merge_on_read_max_log == 0.25
    assert cfg.merge_on_read_max_log_bytes == 1048576


def test_plan_dry_run_reports_without_writing(spark, tmp_path):
    """job.plan(): first pass says full_copy; after a sync + source
    changes it reports pending rows and mismatched buckets — and the
    target + state stay byte-untouched by planning."""
    import os

    job = make_job(spark, tmp_path, target_buckets=8)
    src = make_timestamps(spark, 400)
    job.source.overwrite("timestamps", src)

    p1 = job.plan()
    assert p1["timestamps"]["action"] == "full_copy"
    assert not job.target.table_exists("timestamps")  # nothing written

    job.run()
    p2 = job.plan()
    assert p2["timestamps"]["action"] == "incremental"
    assert p2["timestamps"]["pending_rows"] == 0
    assert p2["timestamps"]["mismatched_buckets"] == 0

    # new + updated rows in the source; deletes too
    import datetime

    changed = spark.createDataFrame(
        [(i, datetime.datetime(2032, 1, 1), 500) for i in range(390, 410)],
        schema="id long, ts timestamp, xmin long",
    )
    newsrc = (
        src.filter(F.col("id") < 380)  # 20 deletes
        .unionByName(changed.filter(F.col("id") < 400))
        .filter(F.col("id") >= 10)  # 10 more deletes
        .unionByName(changed.filter(F.col("id") >= 400))
    )
    job.source.overwrite("timestamps", newsrc)

    mtime = os.path.getmtime(job.target.path("timestamps"))
    p3 = job.plan()
    assert p3["timestamps"]["action"] == "incremental"
    assert p3["timestamps"]["pending_rows"] == 20  # version 500 rows
    assert p3["timestamps"]["mismatched_buckets"] > 0
    assert os.path.getmtime(job.target.path("timestamps")) == mtime

    # and the real pass then converges
    job.update_table("timestamps", JobResult())
    p4 = job.plan()
    assert p4["timestamps"]["pending_rows"] == 0
    assert p4["timestamps"]["mismatched_buckets"] == 0


def test_cli_dry_run_and_metrics_file(spark, tmp_path):
    import json
    import os

    from sslr_spark.__main__ import main as cli_main

    src_dir, tgt_dir = str(tmp_path / "s"), str(tmp_path / "t")
    from sslr_spark.sources.parquet import ParquetDatabase

    ParquetDatabase(spark, src_dir).overwrite(
        "timestamps", make_timestamps(spark, 100)
    )
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "source": src_dir, "target": tgt_dir,
        "sourceTables": ["timestamps"],
        "primaryKeys": {"timestamps": ["id"]},
    }))
    assert cli_main(["-cfg", str(cfg), "--dry-run"]) == 0
    assert not os.path.exists(os.path.join(tgt_dir, "timestamps.parquet"))

    metrics = str(tmp_path / "m.json")
    assert cli_main(["-cfg", str(cfg), "--metrics-file", metrics]) == 0
    m = json.load(open(metrics))
    assert m["updated_rows"] == 100 and m["validated"] == ["timestamps"]
