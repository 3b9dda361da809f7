#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, output checks.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_steady --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the run also
wraps the library's layers (perfbench/spans.py) and reports the
per-layer metrics instead. Lines before it give each metric with its
sample count, and in a traced run each span's self time.

See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from concurrent.futures import ProcessPoolExecutor

import proc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WATCHDOG_S = 175.0
DRIVER_MEMORY = "4g"

# Timings are wall seconds rescaled to a fixed host speed: each is
# multiplied by REF_NOMINAL_S / (median time of the run's reference
# job, ref_job below). The shared 4-core host's speed is not
# constant: across runs of the same code, the wall and CPU times of an
# operation moved by up to 3x, with no steal or frequency change
# visible in the guest. The reference job is timed before the first
# operation and after every one, so it sees the same host. Rescaling
# cancels most of such a slowdown, not all of it (perfbench/README.md
# has the measurements). REF_NOMINAL_S is a constant near the
# reference job's time on a fast host, so a rescaled time reads about
# as seconds there.
REF_NOMINAL_S = 0.1
CURATION_STAGES = (
    "input", "mojibake", "gopher", "blocklist", "exact_dedup",
    "near_dup", "quality_gate", "source_cap",
)
LAYER_SPANS = {  # per-layer metric -> span name (seconds per op)
    "job.validate_s": "job.validate",
    "job.update_table_s": "job.update_table",
    "updates.sync_updates_s": "updates.sync_updates",
    "updates.get_update_range_s": "updates.get_update_range",
    "updates.merge_upsert_partitioned_s": "updates.merge_upsert_partitioned",
    "deletes.sync_deletes_partitioned_s": "deletes.sync_deletes_partitioned",
    "state.set_s": "state.set",
    "parquet.replace_partitions_s": "parquet.replace_partitions",
    "curation.run_s": "curation.run",
    "dedup.minhash_lsh_pairs_s": "dedup.minhash_lsh_pairs",
    "dedup.dup_clusters_star_s": "dedup.dup_clusters_star",
    "dedup.cluster_keep_best_s": "dedup.cluster_keep_best",
}
LAYER_COUNTS = {  # per-layer metric -> tracer counter (per op)
    "updates.rows": "updates.rows",
    "deletes.buckets_repaired": "deletes.buckets_repaired",
    "state.calls": "state.calls",
    "throttle.sleep_s": "throttle.sleep_s",
    "parquet.partitions_replaced": "parquet.partitions_replaced",
    "parquet.files_written": "parquet.files_written",
    "parquet.bytes_written": "parquet.bytes_written",
}
SPARK_KEYS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["cdc_steady", "curate_neardup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "small"], default="full",
                   help="input size; 'small' is for the benchmark's tests")
    p.add_argument("--corrupt-after", type=int, default=None,
                   help="negative test: corrupt one target row after "
                        "this cdc_steady pass")
    return p.parse_args(argv)


def start_watchdog() -> None:
    def fire():
        print(f"perfbench: no result after {WATCHDOG_S:.0f} s; aborting",
              file=sys.stderr, flush=True)
        pids = proc.descendants(os.getpid())
        for pid in pids:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        proc.wait_gone(pids, 3.0)
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()


# -- metrics ---------------------------------------------------------------


def layer_metrics(run, tracer, eventlog: str) -> dict[str, float]:
    tops = set(run.op_spans)
    n = max(1, len(tops))
    secs = tracer.layer_seconds(tops)
    counts = run.extra.get("counts_at_end", tracer.counts)
    base = run.extra.get("counts_at_start", {})
    delta = {k: counts.get(k, 0) - base.get(k, 0) for k in counts}
    m: dict[str, float] = {}
    for name, span in LAYER_SPANS.items():
        m[name] = secs.get(span, 0.0) / n
    for name, key in LAYER_COUNTS.items():
        m[name] = delta.get(key, 0) / n
    checks = delta.get("throttle.checks", 0)
    m["throttle.utilization"] = (
        delta.get("throttle.utilization_sum", 0) / checks if checks else 0.0
    )
    repaired = delta.get("deletes.buckets_repaired", 0)
    m["deletes.repair_useful_ratio"] = (
        run.extra.get("useful_buckets", 0) / repaired if repaired else 0.0
    )
    boot = run.extra.get("bootstrap_span")
    m["copy.full_copy_s"] = (
        tracer.layer_seconds({boot}).get("copy.full_copy", 0.0)
        if boot else 0.0
    )
    ingest = run.extra.get("ingest_span")
    m["stream.compaction_s"] = (
        tracer.layer_seconds({ingest}).get("stream.compaction", 0.0)
        if ingest else 0.0
    )
    funnel = run.extra.get("funnel", {})
    for stage in CURATION_STAGES:
        m[f"curation.rows.{stage}"] = funnel.get(stage, 0)
    m["dedup.neardup_recall"] = run.extra.get("neardup_recall", 0.0)
    batches = run.extra.get("batches", [])
    m["stream.batch_s"] = median([b[1] for b in batches])
    m["stream.batch_rows"] = median([b[0] for b in batches])
    busy = sum(b[1] for b in batches)
    m["stream.docs_per_s"] = run.extra.get("docs", 0) / busy if busy else 0.0
    m["stream.dup_recall"] = run.extra.get("dup_recall", 0.0)

    spark = tracer.spark_by_top(eventlog)
    by_id = {s["id"]: s for s in tracer.spans}
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = sum(spark.get(t, {}).get(k, 0) for t in tops) / n
    wall = sum(by_id[t]["end"] - by_id[t]["start"] for t in tops)
    busy = sum(spark.get(t, {}).get("busy_s", 0.0) for t in tops)
    sleep = delta.get("throttle.sleep_s", 0.0)
    # wall time with no stage running and no throttle sleep: driver
    # work, planning and scheduling gaps
    m["spark.overhead_s"] = (wall - busy - sleep) / n
    m["trace.op_wall_s"] = median(run.ops_s)
    return m


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# -- main ------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sslr_spark")):
        print("perfbench: run from the repository root "
              "(no sslr_spark/ package here)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {
        m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]
    }
    start_watchdog()
    # a run that is told to stop still stops what it started (below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # an outer tag (the benchmark's tests set one) is kept
    os.environ.setdefault(proc.TAG_VAR, f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    try:
        result = bench(args, units, tmp)
    finally:
        # on every way out: the JVM, its Python workers and the
        # reference pool end before this process does
        left = proc.stop_all(_gateway_process())
        shutil.rmtree(tmp, ignore_errors=True)
    if left:
        print(f"perfbench: processes {left} did not stop", file=sys.stderr)
        return 4
    print(json.dumps(result), flush=True)
    return 0


def _gateway_process():
    """The ``Popen`` of the Spark JVM, if this process started one."""
    if "pyspark" not in sys.modules:
        return None
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def bench(args, units, tmp) -> dict:
    """Set up, run the workload and check it; returns the result line."""
    t_setup = time.perf_counter()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "local"))
    os.environ["TMPDIR"] = tmp
    # every JVM Spark starts (launcher and driver): temp files in the
    # run directory and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # the session defaults to local[32]; never more threads than cores
    cpus = min(4, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SSLR_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path[:0] = [ROOT, HERE]

    import workloads

    # The reference job: one SHA-256 chain per Spark core, all at once,
    # in worker processes forked before Spark starts any thread. It
    # loads every core, as a Spark stage does, so it sees a host that
    # is slow on some cores only; a single chain in the driver spread
    # by 15% within a run when the host was slow.
    ref_pool = ProcessPoolExecutor(cpus, mp_context=mp.get_context("fork"))

    def ref_job(rounds=workloads.REF_ROUNDS):
        list(ref_pool.map(workloads.reference_chain, [rounds] * cpus))

    ref_job(1)

    from sslr_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    events = os.path.join(tmp, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()  # warm-up
    session_s = time.perf_counter() - t_setup

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install()
    run = workloads.Run(
        spark, ref_job, tmp, args.seed, args.seconds, args.size, tracer,
        corrupt_after=args.corrupt_after,
    )
    run.reference()
    try:
        out = workloads.WORKLOADS[args.workload](run)
        rss = proc.peak_rss_mb()
    finally:
        if tracer:
            tracer.uninstall()
        spark.stop()
        ref_pool.shutdown()

    setup_wall = session_s + median(run.gen_s) + run.staged_s
    scale = REF_NOMINAL_S / median(run.ref_s)
    e2e = {
        "setup_s": (setup_wall * scale, 1),
        "op_s": (median(run.ops_s) * scale, len(run.ops_s)),
        "bytes_ratio": (out["bytes_ratio"], 1),
    }
    info = {
        "ref_s": (median(run.ref_s), "s", len(run.ref_s)),
        "setup_wall_s": (setup_wall, "s", 1),
        "op_wall_s": (median(run.ops_s), "s", len(run.ops_s)),
        "op_cpu_s": (median(run.ops_cpu_s), "s", len(run.ops_cpu_s)),
        "peak_rss_mb": (rss, "MB", 1),
    }
    print("inputs " + json.dumps(run.extra.get("inputs", {})))
    for p in run.problems:
        print(f"check failed: {p}")
    if tracer:
        log = [os.path.join(events, f) for f in os.listdir(events)]
        metrics = layer_metrics(run, tracer, log[0])
        metrics["peak_rss_mb"] = rss
        metrics["trace.op_cpu_s"] = info["op_cpu_s"][0]
        metrics["trace.ref_s"] = info["ref_s"][0]
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json"
        ))
        for name, row in sorted(
            tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"]
        ):
            print(f"span {name:40s} calls={row['calls']:4d} "
                  f"total_s={row['total_s']:8.3f} self_s={row['self_s']:8.3f}")
    else:
        metrics = {k: v for k, (v, _) in e2e.items()}
    for k, (v, n) in e2e.items():
        print(f"metric {k} = {v:.6g} {units[k]} (samples={n})")
    for k, (v, unit, n) in info.items():
        print(f"info {k} = {v:.6g} {unit} (samples={n})")
    return {
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())
        },
    }


if __name__ == "__main__":
    sys.exit(main())
