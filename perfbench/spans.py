"""Tracing harness for the traced benchmark run.

Only the traced run installs it. It wraps the public functions of the
``sslr_spark`` layers by replacing module (or class) attributes, so no
library code changes. Every wrapped call becomes a span: name, start,
end and parent span. Spans are kept in memory and summarised when the
run ends.

Each span tags the Spark jobs it launches with ``setJobGroup``, so the
event log's stage metrics can be attributed to the span that caused
them (and from there to the top-level operation span). A span around
a lazy DataFrame builder (``minhash_lsh_pairs``) covers planning only;
the jobs that execute its plan run later, under the enclosing span.

A streaming query runs its micro-batches on another thread. A span
opened on a thread with no open span of its own becomes a child of
the top-level span open at that moment, so the micro-batches of an
ingest count under the ingest operation.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict

from workloads import data_files

GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self._top: int | None = None  # the open top-level span

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                stack = tracer._stack()
                self.rec = {
                    "id": next(tracer._ids),
                    "name": name,
                    "parent": stack[-1] if stack else tracer._top,
                    "start": time.perf_counter(),
                }
                if self.rec["parent"] is None:
                    tracer._top = self.rec["id"]
                self.prev = [tracer.sc.getLocalProperty(k) for k in GROUP_KEYS]
                tag = f"span:{self.rec['id']}"
                tracer.sc.setJobGroup(tag, tag)
                stack.append(self.rec["id"])
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.perf_counter()
                tracer._stack().pop()
                if tracer._top == self.rec["id"]:
                    tracer._top = None
                for k, v in zip(GROUP_KEYS, self.prev):
                    tracer.sc.setLocalProperty(k, v)
                tracer.spans.append(self.rec)

        return _Span()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(args, kwargs, result)`` records counts at the same
        boundary."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(args, kwargs, out)
                return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- install on the sslr_spark layers --------------------------------
    def install(self) -> None:
        import sslr_spark.curation as curation
        import sslr_spark.functions.dedup as dedup
        import sslr_spark.job as job
        import sslr_spark.operators.copy as copy
        import sslr_spark.operators.deletes as deletes
        import sslr_spark.operators.updates as updates
        import sslr_spark.sources.parquet as parquet
        import sslr_spark.state as state
        import sslr_spark.streaming.pipeline as pipeline
        import sslr_spark.throttle as throttle

        c = self.counts
        self.wrap(job.Job, "validate_tables", "job.validate")
        self.wrap(job.Job, "update_table", "job.update_table")

        def upserted(a, k, rows):
            c["updates.rows"] += rows

        # job.py binds sync_updates at import: patch both names
        self.wrap(updates, "sync_updates", "updates.sync_updates", upserted)
        job.sync_updates = updates.sync_updates
        self._undo.append((job, "sync_updates", updates.sync_updates.__wrapped__))
        self.wrap(updates, "get_update_range", "updates.get_update_range")
        self.wrap(
            updates, "merge_upsert_partitioned",
            "updates.merge_upsert_partitioned",
        )

        def repaired(a, k, stats):
            c["deletes.buckets_repaired"] += stats.mismatched_buckets

        self.wrap(
            deletes, "sync_deletes_partitioned",
            "deletes.sync_deletes_partitioned", repaired,
        )

        self.wrap(copy, "copy_full_table", "copy.full_copy")
        updates.copy_full_table = copy.copy_full_table
        self._undo.append(
            (updates, "copy_full_table", copy.copy_full_table.__wrapped__)
        )
        # the bucketed full copy runs inside a CopyProgressReporter
        # block; a timing subclass turns that block into a span
        base = copy.CopyProgressReporter
        tracer = self

        class TracedReporter(base):
            def __enter__(self):
                self._span = tracer.span("copy.full_copy")
                self._span.__enter__()
                return super().__enter__()

            def __exit__(self, *exc):
                try:
                    return super().__exit__(*exc)
                finally:
                    self._span.__exit__(*exc)

        copy.CopyProgressReporter = TracedReporter
        self._undo.append((copy, "CopyProgressReporter", base))

        def state_set(a, k, out):
            c["state.calls"] += 1

        self.wrap(state.StateStore, "set", "state.set", state_set)

        orig_sleep = throttle.Throttle.maybe_sleep

        def maybe_sleep(thr):
            util = thr.utilization
            pause = orig_sleep(thr)
            c["throttle.sleep_s"] += pause
            c["throttle.checks"] += 1
            c["throttle.utilization_sum"] += util
            return pause

        throttle.Throttle.maybe_sleep = maybe_sleep
        self._undo.append((throttle.Throttle, "maybe_sleep", orig_sleep))

        orig_replace = parquet.ParquetDatabase.replace_partitions

        def replace_partitions(db, table, *args, **kwargs):
            before = _files(db.path(table))
            with self.span("parquet.replace_partitions"):
                out = orig_replace(db, table, *args, **kwargs)
            after = _files(db.path(table))
            new = {p: s for p, s in after.items() if before.get(p) != s}
            gone = set(before) - set(after)
            c["parquet.files_written"] += len(new)
            c["parquet.bytes_written"] += sum(new.values())
            c["parquet.partitions_replaced"] += len(
                {os.path.dirname(p) for p in list(new) + list(gone)}
            )
            return out

        parquet.ParquetDatabase.replace_partitions = replace_partitions
        self._undo.append(
            (parquet.ParquetDatabase, "replace_partitions", orig_replace)
        )

        self.wrap(curation, "run_curation", "curation.run")
        self.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs")
        self.wrap(dedup, "dup_clusters_star", "dedup.dup_clusters_star")
        self.wrap(dedup, "cluster_keep_best", "dedup.cluster_keep_best")
        # called by the ingest's micro-batches through the module global
        self.wrap(
            pipeline, "compact_neardup_index_incremental", "stream.compaction"
        )

    # -- summaries -------------------------------------------------------
    def top_of(self) -> dict[int, dict]:
        """span id -> its top-level (parentless) span."""
        by_id = {s["id"]: s for s in self.spans}
        out = {}
        for s in self.spans:
            top = s
            while top["parent"] is not None and top["parent"] in by_id:
                top = by_id[top["parent"]]
            out[s["id"]] = top
        return out

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds
        (wall minus the union of child spans)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s in self.spans:
            wall = s["end"] - s["start"]
            row = out[s["name"]]
            row["calls"] += 1
            row["total_s"] += wall
            row["self_s"] += wall - _union(kids[s["id"]])
        return dict(out)

    def layer_seconds(self, tops: set[int]) -> dict[str, float]:
        """Inclusive seconds per span name, over spans under ``tops``
        (nested calls of the same name are counted once)."""
        top = self.top_of()
        by_id = {s["id"]: s for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if top[s["id"]]["id"] not in tops:
                continue
            p, nested = s["parent"], False
            while p is not None and p in by_id:
                if by_id[p]["name"] == s["name"]:
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def spark_by_top(self, eventlog: str) -> dict[int, dict]:
        """Stage metrics from the event log, summed per top-level span.
        Uses ``tools.analyze_eventlog.load`` for job descriptions and
        stage -> job mapping; task CPU, GC and spill and stage
        intervals come from one extra pass over the same log."""
        from tools.analyze_eventlog import load

        job_desc, stage_job, stages = load(eventlog)
        extra = _stage_extras(eventlog)
        top = self.top_of()
        out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        jobs_seen: dict[int, set] = defaultdict(set)
        for sid, st in stages.items():
            desc = job_desc.get(stage_job.get(sid, -1), "") or ""
            if not desc.startswith("span:"):
                continue
            span_id = int(desc.split(":", 1)[1])
            if span_id not in top:
                continue
            t = top[span_id]["id"]
            agg = out[t]
            jobs_seen[t].add(stage_job[sid])
            ex = extra.get(sid, {})
            agg["stages"] += 1
            agg["tasks"] += st.get("tasks", 0)
            agg["shuffle_read_bytes"] += st.get("sh_read", 0)
            agg["shuffle_write_bytes"] += st.get("sh_write", 0)
            agg["executor_run_s"] += st.get("exec_ms", 0) / 1000.0
            agg["executor_cpu_s"] += ex.get("cpu_ns", 0) / 1e9
            agg["gc_s"] += ex.get("gc_ms", 0) / 1000.0
            agg["spill_bytes"] += ex.get("spill", 0)
            agg.setdefault("intervals", [])
            if "sub" in ex and "comp" in ex:
                agg["intervals"].append((ex["sub"], ex["comp"]))
        for t, agg in out.items():
            agg["jobs"] = len(jobs_seen[t])
            agg["busy_s"] = _union(agg.pop("intervals", [])) / 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def _files(root: str) -> dict[str, int]:
    return {p: os.path.getsize(p) for p in data_files(root)}


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _stage_extras(path: str) -> dict[int, dict]:
    out: dict[int, dict] = defaultdict(dict)
    with open(path) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                tm = ev.get("Task Metrics") or {}
                st = out[ev["Stage ID"]]
                st["cpu_ns"] = st.get("cpu_ns", 0) + tm.get("Executor CPU Time", 0)
                st["gc_ms"] = st.get("gc_ms", 0) + tm.get("JVM GC Time", 0)
                st["spill"] = (
                    st.get("spill", 0)
                    + tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0)
                )
            elif '"SparkListenerStageCompleted"' in line:
                si = json.loads(line)["Stage Info"]
                if si.get("Submission Time") and si.get("Completion Time"):
                    st = out[si["Stage ID"]]
                    st["sub"] = si["Submission Time"]
                    st["comp"] = si["Completion Time"]
    return out
