"""The benchmark's workloads and their output checks.

Each workload is a closed loop with one client: the next operation
starts when the previous one (and its untimed output check) is done.

- ``cdc_steady``: sync passes of the replication engine in steady
  state (``Job.run``), each after a seeded change batch. A traced run
  then adds one ``streaming_neardup_ingest`` with an availableNow
  trigger over seeded files with planted near-duplicates, from a fresh
  target, with index compaction, for the streaming layer's per-layer
  metrics.
- ``curate_neardup``: one cold ``run_curation`` over a corpus with
  planted near-duplicate families.

Before the first operation and after every one the run times the
reference job (``Run.reference``), a fixed CPU workload that uses no
library code. Timings are reported relative to it, so a host that has
become slower for every program moves both.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

import gen
import proc

# steady-state change batch: share of each table's rows per pass
CHANGE_FRAC = 0.001
MIN_PASSES = 1
GEN_ROUNDS = 3
CURATE_CHAIN = os.path.join("examples", "curate.json")
# the LM and DSIR stages of the example chain are left out: on 4 cores
# their plans alone take minutes of driver time and exhaust a 4 GB heap
CURATE_DROP = ("lmKeepFraction", "dsirKeepFraction", "dsirTargetSource")
MAX_PER_SOURCE = 10
# LSH recall on the planted families (word 3-shingle Jaccard ~0.8)
MIN_NEARDUP_RECALL = 0.6

INGEST_FILES = 3
# compaction folds the oldest epoch once a third batch has landed
COMPACT_EVERY = 2
MIN_DUP_RECALL = 0.6
REF_ROUNDS = 300_000
REF_SAMPLES = 5  # reference samples before the first and after each operation

SIZES = {
    # lineitem rows, orders rows, documents, new docs per ingest file
    "full": (60_000, 15_000, 1_000, 200),
    "small": (6_000, 1_500, 300, 60),
}


def reference_chain(rounds: int) -> None:
    """One worker's share of the reference job: a fixed chain of
    SHA-256 rounds. It runs no library code, so no change to the
    library moves it; only the host's speed does."""
    h = b"\0" * 64
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()


class Run:
    """Per-run context: session, tracer, timings and the op tally."""

    def __init__(self, spark, ref_job, tmp, seed, seconds, size,
                 tracer=None, corrupt_after=None):
        self.spark = spark
        self.ref_job = ref_job
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.sizes = SIZES[size]
        self.tracer = tracer
        self.corrupt_after = corrupt_after
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.gen_s: list[float] = []
        self.ops_s: list[float] = []
        self.ops_cpu_s: list[float] = []
        self.op_spans: list[int] = []
        self.ref_s: list[float] = []
        # operation time that counts as set-up (the cdc bootstrap)
        self.staged_s = 0.0
        self.extra: dict = {}

    def reference(self) -> None:
        for _ in range(REF_SAMPLES):
            t = time.perf_counter()
            self.ref_job()
            self.ref_s.append(time.perf_counter() - t)

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext({})

    def op(self, name, fn):
        """Time one operation as a top-level span, then the reference
        job. Returns the operation's result (None when it raised,
        counted as failed), wall and CPU seconds."""
        self.attempted += 1
        t, c = time.perf_counter(), proc.cpu_s()
        out = None
        try:
            with self.span(name) as rec:
                out = fn()
            if rec:
                self.op_spans.append(rec["id"])
        except Exception as e:  # noqa: BLE001 — a failed op is a datum
            self.failed += 1
            self.problems.append(f"{name} raised {type(e).__name__}: {e}")
        dt, cpu = time.perf_counter() - t, proc.cpu_s() - c
        self.reference()
        return out, dt, cpu

    def timed_gen(self, fn):
        """Run one input generation, recording its wall seconds."""
        t = time.perf_counter()
        out = fn()
        self.gen_s.append(time.perf_counter() - t)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.problems.append(what)


# -- table digests ------------------------------------------------------


def digest(df: pd.DataFrame) -> tuple[int, int, int]:
    """Order-independent (rows, sum, xor) of per-row hashes over every
    column; timestamps compare as microseconds, integers as int64."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert(None)
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return (
        len(h),
        int(h.sum(dtype=np.uint64)),
        int(np.bitwise_xor.reduce(h)) if len(h) else 0,
    )


def data_files(path: str) -> list[str]:
    """Committed data files of a table directory (hidden and
    underscore-prefixed files and directories are not data)."""
    out = []
    for dirpath, dirnames, files in os.walk(path):
        # partition directories (``__sslr_bucket=N``) hold data even
        # though they start with an underscore
        dirnames[:] = [
            d for d in dirnames if "=" in d or not d.startswith((".", "_"))
        ]
        out += [
            os.path.join(dirpath, f)
            for f in files if not f.startswith((".", "_"))
        ]
    return sorted(out)


def read_dir(path: str, columns: list[str]) -> pd.DataFrame:
    files = data_files(path)
    return ds.dataset(files, format="parquet").to_table(
        columns=columns
    ).to_pandas()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


def corrupt_one_row(table_dir: str) -> None:
    """Negative-test hook: change one payload value of one target row
    in place (the key is kept, so only the digest can notice)."""
    import pyarrow.parquet as pq

    for p in data_files(table_dir):
        df = pq.read_table(p).to_pandas()
        if len(df):
            df.loc[0, "l_quantity"] += 1000.0
            gen.write_parquet(df, p)
            return


# -- cdc_steady -----------------------------------------------------------


def cdc_steady(run: Run) -> dict:
    from sslr_spark.config import Config, FilteredTable
    from sslr_spark.job import Job

    n_l, n_o, _, _ = run.sizes
    for i in range(GEN_ROUNDS):
        root = os.path.join(run.tmp, f"src{i}")
        src = run.timed_gen(lambda: gen.CdcSource(run.seed, root, n_l, n_o))
    run.extra["inputs"] = {
        "lineitem_rows": n_l, "orders_rows": n_o,
        "orders_where": gen.ORDERS_WHERE, "change_frac": CHANGE_FRAC,
        "change_mix": {"update": 0.7, "insert": 0.2, "delete": 0.1},
    }
    tgt_root = os.path.join(run.tmp, "tgt")
    # the engine's default Config apart from paths, tables and keys
    cfg = Config(
        source=src.root,
        target=tgt_root,
        source_tables=["lineitem"],
        filtered_source_tables={"orders": FilteredTable(gen.ORDERS_WHERE)},
        primary_keys={"lineitem": ["l_id"], "orders": ["o_orderkey"]},
    )
    job = Job(run.spark, cfg)
    source_bytes = lambda: sum(  # noqa: E731
        os.path.getsize(os.path.join(src.root, f"{t}.parquet"))
        for t in src.tables
    )

    def verify(label, res, want_upserts):
        if res is None:
            return
        run.check(
            res.updated_rows == want_upserts,
            f"{label}: upserted {res.updated_rows} rows, generator "
            f"changed {want_upserts}",
        )
        for t in src.tables:
            want = src.expected(t)
            got = read_dir(
                os.path.join(tgt_root, f"{t}.parquet"), list(want.columns)
            )
            run.check(
                digest(got) == digest(want),
                f"{label}: target {t} differs from its filtered source "
                f"({len(got)} vs {len(want)} rows)",
            )

    # pass 1: the bootstrap full copy, staged as part of set-up
    res, run.staged_s, _ = run.op("bootstrap", job.run)
    run.extra["bootstrap_span"] = run.op_spans.pop() if run.op_spans else None
    verify(
        "bootstrap", res, sum(len(src.expected(t)) for t in src.tables)
    )
    useful: list[int] = []
    start = time.perf_counter()
    while len(run.ops_s) < MIN_PASSES or time.perf_counter() - start < run.seconds:
        before = {t: set(src.expected(t)[src.pk[t]]) for t in src.tables}
        src.change_batch(CHANGE_FRAC)
        want = sum(
            int((src.expected(t)["xmin"] == src.version).sum())
            for t in src.tables
        )
        if run.tracer:
            useful.append(_changed_buckets(run.spark, src, before))
        if run.tracer and not run.extra.get("counts_at_start"):
            run.extra["counts_at_start"] = dict(run.tracer.counts)
        res, dt, cpu = run.op("pass", job.run)
        run.ops_s.append(dt)
        run.ops_cpu_s.append(cpu)
        if len(run.ops_s) == run.corrupt_after:
            corrupt_one_row(os.path.join(tgt_root, "lineitem.parquet"))
        verify(f"pass {len(run.ops_s)}", res, want)
    run.extra["useful_buckets"] = sum(useful)
    target_bytes = sum(
        dir_bytes(os.path.join(tgt_root, f"{t}.parquet")) for t in src.tables
    )
    if run.tracer:
        # the streaming layer is measured here, after the passes and
        # apart from them
        run.extra["counts_at_end"] = dict(run.tracer.counts)
        ingest_once(run)
    return {"bytes_ratio": target_bytes / source_bytes()}


def _changed_buckets(spark, src, before) -> int:
    """Buckets that really hold a key the delete phase must remove
    (deleted rows, and orders rows that left the filter), computed
    with the engine's public ``with_bucket`` and the default layout."""
    from sslr_spark.config import Config
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    cfg = Config()
    total = 0
    after = {t: set(src.expected(t)[src.pk[t]]) for t in src.tables}
    for t in src.tables:
        gone = sorted(before[t] - after[t])
        if not gone:
            continue
        keys = spark.createDataFrame([(int(k),) for k in gone], [src.pk[t]])
        total += (
            with_bucket(keys, [src.pk[t]], cfg.target_buckets, cfg.bucket_hash)
            .select(BUCKET_COL).distinct().count()
        )
    return total


# -- curate_neardup -------------------------------------------------------


def _gopher_keep(text: str) -> bool:
    """The Gopher rules the generated texts can fail: word count and
    distinct stopwords (the generator's words are alphabetic, 1-9
    letters, with no bullets, ellipses or symbols)."""
    words = text.split()
    return 50 <= len(words) and len(set(words) & set(gen.STOPWORDS)) >= 2


def expected_neardup_removals(docs: pd.DataFrame, families: dict) -> int:
    """Copies the near-dup stage should remove if it found every
    planted family: per family, the members that reach the stage
    (pass Gopher and the blocklist) minus the one keeper."""
    text = dict(zip(docs["doc_id"], docs["text"]))
    total = 0
    for base, copies in families.items():
        m = sum(
            1 for d in [base, *copies]
            if _gopher_keep(text[d]) and gen.BLOCKED not in text[d].split()
        )
        total += max(0, m - 1)
    return total


def curate_neardup(run: Run) -> dict:
    import sslr_spark.curation as curation
    from sslr_spark.functions.dedup import release_caches

    _, _, n_docs, _ = run.sizes
    src_root = os.path.join(run.tmp, "docs")
    os.makedirs(src_root, exist_ok=True)
    path = os.path.join(src_root, "documents.parquet")

    def make():
        docs, families = gen.corpus(run.seed, n_docs)
        return docs, families, gen.write_parquet(docs, path)

    for _ in range(GEN_ROUNDS):
        docs, families, in_bytes = run.timed_gen(make)
    with open(CURATE_CHAIN, encoding="utf-8") as f:
        raw = json.load(f)
    for k in CURATE_DROP:
        raw.pop(k, None)
    out_root = os.path.join(run.tmp, "curated")
    raw.update(source=src_root, output=out_root)
    cfg = curation.load_curation_config(json.dumps(raw))
    want_removed = expected_neardup_removals(docs, families)
    run.extra["inputs"] = {
        "docs": len(docs), "base_docs": n_docs, "families": len(families),
        "planted_copies": sum(len(c) for c in families.values()),
        "expected_neardup_removals": want_removed,
    }
    ids = set(docs["doc_id"])
    out_bytes = []
    start = time.perf_counter()
    while not run.ops_s or time.perf_counter() - start < run.seconds:
        res, dt, cpu = run.op(
            "curate", lambda: curation.run_curation(run.spark, cfg)
        )
        release_caches()  # every rep starts cold
        run.ops_s.append(dt)
        run.ops_cpu_s.append(cpu)
        if res is None:
            continue
        funnel = res["funnel"]
        run.extra["funnel"] = funnel
        out = read_dir(
            os.path.join(out_root, f"{cfg.output_table}.parquet"),
            ["doc_id", "source"],
        )
        out_bytes.append(
            dir_bytes(os.path.join(out_root, f"{cfg.output_table}.parquet"))
        )
        counts = list(funnel.values())
        removed = funnel["exact_dedup"] - funnel["near_dup"]
        recall = removed / want_removed if want_removed else 1.0
        run.extra["neardup_recall"] = recall
        per_source = out.groupby("source").size()
        run.check(set(out["doc_id"]) <= ids, "curated rows not in the input")
        run.check(out["doc_id"].is_unique, "curated doc_ids repeat")
        run.check(
            per_source.max() <= MAX_PER_SOURCE,
            f"a source kept {per_source.max()} > {MAX_PER_SOURCE} docs",
        )
        run.check(
            len(out) == res["written_rows"] == funnel["source_cap"],
            "written rows, funnel and output disagree",
        )
        run.check(
            counts == sorted(counts, reverse=True),
            f"funnel grows between stages: {funnel}",
        )
        run.check(
            removed <= want_removed and recall >= MIN_NEARDUP_RECALL,
            f"near-dup stage removed {removed} docs, planted families "
            f"call for {want_removed}",
        )
    if not out_bytes:
        return {"bytes_ratio": 0.0}
    return {"bytes_ratio": statistics.median(out_bytes) / in_bytes}


# -- ingest, in traced runs of cdc_steady --------------------------------


class BatchLog:
    """Micro-batch progress of the ingest query, from a
    ``StreamingQueryListener``: (rows the source read, triggerExecution
    seconds). A batch whose input is scanned twice reads its rows
    twice."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[tuple[int, float]] = []
        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows:
                    log.batches.append((
                        p.numInputRows,
                        p.durationMs.get("triggerExecution", 0) / 1000.0,
                    ))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def wait_for(self, n: int, timeout: float = 10.0) -> None:
        """Progress events arrive after the batch commits; wait for
        the ``n``-th."""
        end = time.perf_counter() + timeout
        while len(self.batches) < n and time.perf_counter() < end:
            time.sleep(0.05)


def ingest_once(run: Run) -> None:
    """One ingest, run as a separate operation of a traced run: its
    stream.* metrics are per-layer only, and its time is not an
    end-to-end metric."""
    from pyspark.sql import types as T

    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.streaming.pipeline import (
        read_accepted,
        streaming_neardup_ingest,
    )

    *_, n_fresh = run.sizes
    in_root = os.path.join(run.tmp, "incoming")
    os.makedirs(in_root, exist_ok=True)
    files, planted = gen.ingest_files(run.seed, INGEST_FILES, n_fresh)
    for i, df in enumerate(files):
        p = os.path.join(in_root, f"part-{i:03d}.parquet")
        gen.write_parquet(df, p)
        # the file source picks files up oldest first
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    docs = pd.concat(files, ignore_index=True)
    copies = set(planted["within"]) | set(planted["cross"])
    run.extra["docs"] = len(docs)
    run.extra["inputs"]["ingest"] = {
        "files": INGEST_FILES, "docs": len(docs), "new_docs_per_file": n_fresh,
        "planted_within_file": len(planted["within"]),
        "planted_cross_file": len(planted["cross"]),
        "compact_every": COMPACT_EVERY, "trigger": "availableNow",
        "max_files_per_trigger": 1,
    }
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    log = BatchLog(run.spark)
    root = os.path.join(run.tmp, "ingest")
    target = ParquetDatabase(run.spark, os.path.join(root, "tgt"))

    def ingest():
        q = streaming_neardup_ingest(
            run.spark, in_root, schema, target,
            os.path.join(root, "checkpoint"),
            trigger_seconds=None, max_files_per_trigger=1,
            compact_every=COMPACT_EVERY,
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        return True

    res, _, _ = run.op("ingest", ingest)
    run.extra["ingest_span"] = run.op_spans.pop() if run.op_spans else None
    if res is None:
        return
    log.wait_for(INGEST_FILES)
    run.extra["batches"] = log.batches
    run.check(
        len(log.batches) == INGEST_FILES,
        f"{len(log.batches)} micro-batches for {INGEST_FILES} files",
    )
    acc = read_accepted(target).toPandas()[list(docs.columns)]
    got = set(acc["doc_id"])
    rejected = set(docs["doc_id"]) - got
    recall = len(rejected & copies) / len(copies)
    run.extra["dup_recall"] = recall
    run.check(acc["doc_id"].is_unique, "accepted doc_ids repeat")
    run.check(
        digest(acc) == digest(docs[docs["doc_id"].isin(got)]),
        "accepted rows are not input rows",
    )
    run.check(
        rejected <= copies,
        f"{len(rejected - copies)} new documents were rejected",
    )
    run.check(
        recall >= MIN_DUP_RECALL,
        f"rejected {recall:.2f} of the planted near-duplicates",
    )


WORKLOADS = {
    "cdc_steady": cdc_steady,
    "curate_neardup": curate_neardup,
}
