"""Scale-shift stress probe: run the headline sync ops at K x sf0.1
(default 10x ~= sf1, ~6M lineitem rows) and print per-op seconds.

Usage: python tools/stress_scale.py [K]

The input is sf0.1 lineitem unioned K times with disjoint l_orderkey
ranges (key space grows with volume, as it would in production). The
point is the SCALING SHAPE, not the absolute numbers: each op should
grow ~linearly in rows; anything superlinear (or any driver-side
collect that grows with table size) is a scale bug this probe exists
to catch before a real cluster does.

Temp data goes under .bench_tmp/stress (gitignored), removed after.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TMP = os.path.join(REPO, ".bench_tmp", "stress")


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    from pyspark.sql import functions as F

    from sslr_spark.operators.deletes import (
        BUCKET_COL,
        sync_deletes_partitioned,
        with_bucket,
    )
    from sslr_spark.operators.updates import sync_updates
    from sslr_spark.session import get_spark
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.state import StateStore, TableState

    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    spark = get_spark(app_name="sslr_stress")
    timings: dict[str, float] = {}

    def timed(name):
        class _T:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                timings[name] = round(time.perf_counter() - self.t0, 2)

        return _T()

    base = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    key_span = base.agg(F.max("l_orderkey")).first()[0] + 1
    scaled = None
    for i in range(k):
        part = base.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * key_span)
        )
        scaled = part if scaled is None else scaled.unionByName(part)
    pk = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    versioned = scaled.withColumn(
        "xmin",
        F.when(F.col("l_orderkey") % 100 == 0, F.lit(200)).otherwise(F.lit(100)),
    )

    # buckets scale with volume, as Config.choose would on a cluster
    n_buckets = 64 * k
    src = ParquetDatabase(spark, os.path.join(TMP, "src"))
    src.overwrite("lineitem", versioned)
    n_rows = src.read("lineitem").count()
    print(f"scaled input: {n_rows} rows, {n_buckets} buckets", file=sys.stderr)

    tgt = ParquetDatabase(spark, os.path.join(TMP, "tgt"))
    with timed("stage_partitioned_target"):
        tgt.overwrite_partitioned(
            "lineitem",
            with_bucket(
                src.read("lineitem").withColumn("xmin", F.lit(100)),
                pk, n_buckets, "fast",
            ),
            BUCKET_COL,
            n_buckets=n_buckets,
            bucket_hash="fast",  # the production mode bench measures
        )
    store = StateStore(tgt)
    store.set(TableState("lineitem", 100, ""))

    # scattered 1% update (worst case: touches most buckets)
    with timed("incr_update_scattered"):
        sync_updates(
            src.read("lineitem"), tgt, store, "lineitem", pk,
            n_buckets=n_buckets,
        )

    # clustered small update (~typical CDC trigger)
    upd = versioned.filter(F.col("l_orderkey") % (30011 * k) == 0).withColumn(
        "xmin", F.lit(300)
    )
    from sslr_spark.operators.updates import merge_upsert_partitioned

    with timed("incr_update_clustered"):
        merge_upsert_partitioned(tgt, "lineitem", upd, pk, n_buckets)

    # 0.1% deletes: bucket diff + pruned repair
    src.overwrite(
        "lineitem_del", versioned.filter(F.col("l_orderkey") % 997 != 0)
    )
    with timed("delete_diff_partitioned"):
        sync_deletes_partitioned(
            src.read("lineitem_del"), tgt, "lineitem", pk, n_buckets,
            hash_mode="fast",
        )

    # skewed stratified sampling: one stratum holds ~90% of rows — the
    # shape that put the old single-window plan into ONE task. The
    # two-phase plan's heavy stages are per-(stratum, bucket) hash
    # aggregates; only the boundary bucket (~rows/1e6 per stratum)
    # ever hits a window sort.
    from sslr_spark.functions.sampling import stratified_exact_sample

    skewed = src.read("lineitem").withColumn(
        "strat",
        F.when(F.col("l_orderkey") % 10 < 9, F.lit("mega")).otherwise(
            F.pmod(F.col("l_orderkey"), F.lit(10)).cast("string")
        ),
    ).select("l_orderkey", "l_linenumber", "strat")
    with timed("stratified_sample_skewed"):
        stratified_exact_sample(skewed, "strat", "l_orderkey", 0.01).count()

    # curation ops over a K x documents corpus (doc_ids disjoint,
    # per-replica text salt so the dup structure stays realistic
    # instead of every doc having K exact copies)
    from sslr_spark.functions.dedup import (
        dup_ngram_coverage,
        incremental_exact_dedup,
        release_caches,
    )

    dbase = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dspan = dbase.agg(F.max("doc_id")).first()[0] + 1
    docs_scaled = None
    for i in range(k):
        part = dbase.withColumn("doc_id", F.col("doc_id") + F.lit(i * dspan))
        if i:
            part = part.withColumn(
                "text", F.concat(F.col("text"), F.lit(f" replica {i}"))
            )
        docs_scaled = part if docs_scaled is None else docs_scaled.unionByName(part)
    docs_tbl = ParquetDatabase(spark, os.path.join(TMP, "docs"))
    docs_tbl.overwrite("documents", docs_scaled)
    docs_scaled = docs_tbl.read("documents")
    n_docs = docs_scaled.count()
    print(f"scaled corpus: {n_docs} docs", file=sys.stderr)

    with timed("dup_ngram_coverage"):
        dup_ngram_coverage(docs_scaled, n=5).groupBy().avg(
            "dup_coverage"
        ).collect()
    release_caches()

    with timed("incremental_dedup"):
        batch = docs_scaled.filter(F.col("doc_id") % 100 == 0)
        incremental_exact_dedup(
            batch, docs_scaled, m=1 << 20, k=3
        ).filter("in_corpus").count()

    # cross-source overlap: source count stays FIXED while the corpus
    # grows K x — the per-shingle join fan-out is bounded by
    # n_sources^2, so this must scale ~linearly in corpus size
    from sslr_spark.functions.dedup import source_overlap

    with timed("source_overlap"):
        source_overlap(docs_scaled, "source").count()
    release_caches()

    # leakage-safe split: the holdout probe is asymmetric (5% holdout
    # shingles vs the rest) — cost tracks the corpus pass for the
    # shingle index, never holdout x rest document pairs
    from sslr_spark.functions.sampling import leakage_safe_split

    # production mode: hot-shingle cap ON. The K-replica corpus gives
    # every doc K-1 near-twins, so shingle doc-freq grows with K and
    # the TRUE cross-split pair space is quadratic in K — measured
    # 8.6 s -> 30.9 s at 10x -> 30x uncapped (3.6x time for 3x data),
    # faithfully reflecting the planted duplicate structure, not a
    # plan defect. A cap below the replica count bounds the join to
    # the informative (salt-tail) shingles and restores ~linear cost;
    # real pipelines dedup before splitting for the same reason.
    with timed("leakage_safe_split"):
        leakage_safe_split(
            docs_scaled,
            weights={"train": 0.9, "val": 0.05, "test": 0.05},
            holdout="test",
            jaccard_threshold=0.3,
            # k - 1: the salt-boundary shingle ("... replica") has
            # doc-freq k-1; the cap comparison is >=, so k would let
            # it through and keep the cross-replica pair space
            max_shingle_doc_freq=max(2, min(20, k - 1)),
        ).groupBy("split").count().collect()
    release_caches()

    # round-6 ops over the same K x corpus: the gate's histogram is
    # bounded (|langs| x 10001) regardless of K; shuffle_order's
    # window is per-shard (corpus/64); the curation chain composes
    # all of them lazily; BPE pair counts collapse to the vocabulary
    # first (vocab grows slower than the corpus); shard_diff is two
    # bounded manifests.
    from sslr_spark.curation import curate_documents
    from sslr_spark.functions.quality_model import quality_quantile_gate
    from sslr_spark.functions.sampling import shard_diff, shuffle_order
    from sslr_spark.functions.text import bpe_merge_pairs

    _QW = [0.02, -0.005, 1.0, 0.1]
    with timed("quality_gate"):
        quality_quantile_gate(
            docs_scaled, 0.6, weights=_QW, bias=-2.0
        ).count()
    with timed("shuffle_order"):
        shuffle_order(docs_scaled, 64).count()
    with timed("curation_pipeline"):
        curate_documents(
            docs_scaled, quality_weights=_QW, quality_bias=-2.0,
            keep_fraction=0.6, max_per_source=10 * k, n_shards=64,
        ).df.count()
    with timed("bpe_pairs"):
        bpe_merge_pairs(docs_scaled, k=50).collect()
    with timed("shard_diff"):
        shard_diff(
            docs_scaled.filter(F.col("doc_id") % 97 != 0),
            docs_scaled, 64,
        ).count()

    # round-7 ops over the same K x corpus. The four-format header
    # decode and residual encode are pure per-row maps (must scale
    # linearly, zero shuffle); the near-dup curation stage's candidate
    # join is capped by max_shingle_doc_freq below the replica count
    # (same reasoning as leakage_safe_split); sessionization state is
    # per-user triples regardless of events-per-user.
    from sslr_spark.functions.multimodal import (
        decode_media,
        synthesize_media_all,
    )

    with timed("mm_decode_headers"):
        decode_media(
            synthesize_media_all(docs_scaled.select("doc_id", "n_chars"))
        ).groupBy("fmt").count().collect()

    with timed("curation_neardup"):
        # replicas are near-dups of their base doc by construction, so
        # the star clusters genuinely grow with K — the stage's stress
        from sslr_spark.functions.dedup import (
            cluster_keep_best,
            dup_clusters_star,
            minhash_lsh_pairs,
        )

        pairs = minhash_lsh_pairs(
            docs_scaled, "text", jaccard_threshold=0.5,
            max_shingle_doc_freq=max(2, min(20, k - 1)),
        )
        clusters = dup_clusters_star(pairs)
        cluster_keep_best(
            clusters, docs_scaled, F.length(F.col("text"))
        ).count()
    release_caches()

    from sslr_spark.functions.similarity import (
        ivf_index_fixed,
        ivfpq_topk_serve,
        _codebooks_from_ids,
    )

    ebase = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    espan = ebase.agg(F.max("vec_id")).first()[0] + 1
    emb_scaled = None
    for i in range(k):
        part = ebase.withColumn("vec_id", F.col("vec_id") + F.lit(i * espan))
        emb_scaled = part if emb_scaled is None else emb_scaled.unionByName(part)
    emb_tbl = ParquetDatabase(spark, os.path.join(TMP, "emb"))
    emb_tbl.overwrite("embeddings", emb_scaled)
    emb_scaled = emb_tbl.read("embeddings")
    with timed("ivfpq_residual"):
        indexed, cents = ivf_index_fixed(
            emb_scaled, [1, 2, 3, 4, 5, 6, 7, 8]
        )
        books, _ = _codebooks_from_ids(
            emb_scaled, list(range(100, 116)), 16, "embedding", "vec_id"
        )
        ivfpq_topk_serve(
            indexed, cents, books, 0, k=10, n_probe=3, residual=True,
        ).collect()

    # embedding-side curation pipeline (round-8 probe, VERDICT item
    # 5): the K replicas are EXACT copies of their base vector, so
    # every base grows a K-member duplicate cluster — the semantic-
    # dedup pair join's worst shape (ALL within-cell pairs of copies
    # pass the threshold). Runs the production dedup_mode='fast'
    # (per-cell numpy BLAS cosine): the first probe run measured the
    # portable interpreted-expression join at 122 s for K=10 (20k
    # vectors / ~25M pairs), which is the scale bug this probe exists
    # to catch — the BLAS path does the same pairs in ~2 s and stays
    # bounded by cell_size^2 FLOPs, chunked to a ~16 MB buffer.
    with timed("curate_embeddings"):
        from sslr_spark.curation import curate_embeddings

        curate_embeddings(
            emb_scaled,
            [1, 2, 3, 4, 5, 6, 7, 8],
            list(range(100, 116)),
            threshold=0.8,
            m=16,
            dedup_mode="fast",
        ).count()

    # merge-on-read at K x: the append+overlay cost must track the
    # BATCH (fixed 1% of base here) plus one base scan for the read —
    # never the bucket-rewrite amplification the CoW merge pays
    # (incr_update_scattered above IS that comparison at the same K)
    from sslr_spark.operators.updates import (
        append_upsert_log,
        read_merged,
        upsert_log_table,
    )

    mor_db = ParquetDatabase(spark, os.path.join(TMP, "mor"))
    li_mor = scaled.select(*pk).withColumn("xmin", F.lit(100).cast("long"))
    mor_db.overwrite("lineitem", li_mor)
    upd_mor = li_mor.filter(F.col("l_orderkey") % 100 == 0).withColumn(
        "xmin", F.lit(200).cast("long")
    )
    with timed("mor_append_read"):
        append_upsert_log(mor_db, "lineitem", upd_mor, pk)
        read_merged(mor_db, "lineitem", pk).count()
    with timed("mor_compact"):
        from sslr_spark.operators.updates import compact_upsert_log

        compact_upsert_log(mor_db, "lineitem", pk)

    # adversarially WIDE composite string PK (round 9): the overlay
    # read's broadcast byte gate must flip to the plain anti-join
    # when key bytes (not rows) blow past the threshold, and the read
    # must still scale ~linearly. ~270-byte synthetic composite key,
    # log = 10% of base (the compaction trigger point, the widest a
    # log legally gets) -> at K=10 the key set is ~160 MB, over the
    # default 64 MiB gate; at K=1 it still fits and broadcasts. The
    # mor_wide_pk_forced_broadcast flag records the decision.
    wide = (
        scaled.select("l_orderkey", "l_linenumber")
        .withColumn(
            "wk",
            F.concat_ws(
                ":",
                F.md5(F.col("l_orderkey").cast("string")),
                F.md5(F.col("l_linenumber").cast("string")),
                F.repeat(F.md5(F.concat_ws("-", "l_orderkey", "l_linenumber")), 6),
            ),
        )
        .withColumn("xmin", F.lit(100).cast("long"))
        .drop("l_orderkey", "l_linenumber")
    )
    wide_db = ParquetDatabase(spark, os.path.join(TMP, "mor_wide"))
    wide_db.overwrite("wide", wide)
    upd_wide = wide.sample(0.10, seed=7).withColumn(
        "xmin", F.lit(200).cast("long")
    )
    with timed("mor_wide_pk_append_read"):
        append_upsert_log(wide_db, "wide", upd_wide, ["wk"])
        merged_wide = read_merged(wide_db, "wide", ["wk"])
        merged_wide.count()
    pw = merged_wide._jdf.queryExecution().executedPlan().toString()
    timings["mor_wide_pk_forced_broadcast"] = int("BroadcastHashJoin" in pw)

    from sslr_spark.streaming.pipeline import stream_sessionize
    from sslr_spark.queries import read_events

    evb = read_events(spark, SF_DIR).select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    uspan = evb.agg(F.max("user_id")).first()[0] + 1
    ev_scaled = None
    for i in range(k):
        part = evb.withColumn("user_id", F.col("user_id") + F.lit(i * uspan))
        ev_scaled = part if ev_scaled is None else ev_scaled.unionByName(part)
    sess_src = os.path.join(TMP, "sess_src")
    # one file => one data micro-batch: unordered multi-file arrival
    # would drop below-watermark events and shrink the measured work
    ev_scaled.coalesce(1).write.parquet(sess_src)
    max_us = evb.agg(F.max(F.unix_micros("ts"))).first()[0]
    for i, sent_us in enumerate(
        (max_us + 260 * 60_000_000, max_us + 280 * 60_000_000), start=1
    ):
        spark.createDataFrame(
            [(-i, sent_us)], "user_id long, ts_us long"
        ).select(
            "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
        ).coalesce(1).write.mode("append").parquet(sess_src)
    with timed("stream_sessionize"):
        stream_sessionize(
            spark, sess_src, spark.read.parquet(sess_src).schema,
            os.path.join(TMP, "sess_out"), os.path.join(TMP, "sess_ckpt"),
            gap_minutes=240, watermark="10 minutes",
            max_files_per_trigger=1,
        )
        spark.read.parquet(os.path.join(TMP, "sess_out")).count()

    # prefix-filtered Jaccard: the CANDIDATE-SPACE cut, on the shape
    # the PPJoin filter exists for — a boilerplate-heavy corpus where
    # every document shares COMMON shingles (so the plain inverted-
    # index join's pair space is ~n^2 and cannot even be enumerated;
    # it is computed analytically as sum over shingles of C(df, 2))
    # while prefixes hold each document's RAREST shingles (its unique
    # head), so candidates collapse to the true duplicate pairs.
    from sslr_spark.functions.dedup import (
        cache_scope,
        ngram_jaccard_pairs_prefix,
        prefix_candidates,
        shingles,
    )

    n_boiler = k * 5_000
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
    bcorp = boiler.unionByName(dups)
    with cache_scope():
        sh = shingles(bcorp, "text", 3).persist()
        theoretical = (
            sh.groupBy("shingle").count()
            .agg(F.sum(F.expr("count * (count - 1) div 2")))
            .first()[0]
        )
        cand_pairs = prefix_candidates(sh, 0.8).count()
        sh.unpersist()
        with timed("jaccard_prefix"):
            prefix_pairs = ngram_jaccard_pairs_prefix(
                bcorp, threshold=0.8
            ).count()
    timings["jaccard_sharing_pairs_theoretical"] = int(theoretical)
    timings["jaccard_prefix_candidates"] = cand_pairs
    timings["jaccard_prefix_hits"] = prefix_pairs

    # round-9 ops at K x: corpus-wide boilerplate line removal (the
    # anti-join + order-free rebuild shape) and containment pairs
    # (inverted-index fan-out bounded by the hot-shingle cap)
    from sslr_spark.functions.text import strip_boilerplate_lines
    from sslr_spark.functions.dedup import ngram_containment_pairs

    n_pages = k * 5_000
    pages = spark.range(n_pages).selectExpr(
        "id as doc_id",
        "concat('unique line u', id, ' body\n',"
        "'second unique s', id, ' content\n',"
        "'shared cookie banner line\n',"
        "'third unique t', id, ' tail\n',"
        "'shared footer copyright line') as text",
    ).localCheckpoint(eager=True)
    with timed("strip_boilerplate_lines"):
        stripped = strip_boilerplate_lines(pages, min_docs=100)
        n_hot_stripped = int(
            stripped.agg(F.sum("n_stripped")).first()[0]
        )
    timings["boilerplate_lines_stripped"] = n_hot_stripped

    excerpts = spark.range(100).selectExpr(
        f"id + {2 * n_pages} as doc_id",
        "concat('excerpt eq', id div 2, ' alpha beta gamma delta "
        "epsilon zeta eta theta') as text",
    )
    ccorp = pages.selectExpr(
        "doc_id", "replace(text, chr(10), ' ') as text"
    ).unionByName(excerpts).localCheckpoint(eager=True)
    with cache_scope():
        with timed("containment_pairs"):
            n_cont = ngram_containment_pairs(
                ccorp, threshold=0.8, max_shingle_doc_freq=250
            ).count()
    timings["containment_hits"] = n_cont

    # round-9 continuation ops at K x: DSIR selection (fit histogram
    # + broadcast-lam score + TakeOrdered cut — both passes must grow
    # ~linearly in corpus rows; the lam table stays n_buckets rows at
    # every K), per-doc TF-IDF top-k (fit df + score join + per-doc
    # window), and cluster-capped diversity sampling (literal-map
    # assignment + one cell exchange; output pinned by cap, cost by
    # corpus size)
    from sslr_spark.functions.sampling import cluster_balance, dsir_select
    from sslr_spark.functions.text import tfidf_topk

    with timed("dsir_select"):
        n_dsir = dsir_select(
            docs_scaled,
            docs_scaled.filter(F.col("lang") == "en"),
            0.4,
            n_buckets=1024,
        ).count()
    timings["dsir_kept"] = n_dsir

    with timed("tfidf_topk"):
        tfidf_topk(docs_scaled, k=3).count()

    with timed("cluster_balance"):
        n_cb = cluster_balance(
            emb_scaled, [1, 2, 3, 4, 5, 6, 7, 8], cap=20 * k
        ).count()
    timings["cluster_balance_kept"] = n_cb

    # WARC front door at K x: serialize the scaled corpus into 32
    # gzip segment files (outside the timer), then parse + HTTP-split
    # + HTML-extract. Cost must track corpus bytes; parallelism unit
    # is the segment file (one per task), so 32 segments keep all
    # cores busy at every K
    from sslr_spark.functions.text import html_to_text
    from sslr_spark.sources.warc import (
        build_warc_gz,
        read_warc,
        split_http_payload,
    )

    wdocs = docs_scaled.select("doc_id", "text").collect()
    wdir = os.path.join(TMP, "warc")
    os.makedirs(wdir, exist_ok=True)
    n_seg = 32
    seg_recs: list[list[dict]] = [[] for _ in range(n_seg)]
    for r in wdocs:
        html = f"<html><body><p>{r.text or ''}</p></body></html>"
        payload = (
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + html
        ).encode()
        seg_recs[r.doc_id % n_seg].append(
            {
                "record_id": f"<urn:doc:{r.doc_id}>",
                "warc_type": "response",
                "target_uri": f"http://example.com/doc/{r.doc_id}",
                "warc_date": "2026-01-01T00:00:00Z",
                "content_type": "application/http; msgtype=response",
                "payload": payload,
            }
        )
    for i, recs in enumerate(seg_recs):
        with open(os.path.join(wdir, f"seg{i}.warc.gz"), "wb") as f:
            f.write(build_warc_gz(recs))
    with timed("warc_http_extract"):
        n_warc = (
            split_http_payload(read_warc(spark, wdir))
            .select(html_to_text(F.col("body")).alias("t"))
            .count()
        )
    timings["warc_records"] = n_warc

    # round-9c operators at K x --------------------------------------
    # PageRank: host count scales with K (more docs -> more hosts), so
    # both the edge list AND the node set grow ~linearly; each of the
    # 3 iterations is one join + one aggregate over the edge list —
    # cost must track edges, with no single-partition stage
    from sslr_spark.functions.graph import host_edges, pagerank

    n_hosts = 24 * k
    pages = docs_scaled.select(
        "doc_id",
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % n_hosts).cast("string"),
            F.lit(".test/p/"), F.col("doc_id").cast("string"),
        ).alias("page_url"),
        F.concat(
            F.lit("http://h"),
            ((F.col("doc_id") * 7 + F.col("n_chars")) % n_hosts).cast("string"),
            F.lit(".test/a"),
        ).alias("link"),
    )
    with timed("pagerank_3iter"):
        n_pr = pagerank(host_edges(pages, "page_url", "link"), 3).count()
    timings["pagerank_nodes"] = n_pr

    # image phash near-dup: the banded join's candidate count is
    # bounded by real slice collisions (variant groups), never
    # all-pairs — cost must track docs, pairs track planted groups
    from sslr_spark.functions.dedup import image_phash_near_dup
    from sslr_spark.functions.multimodal import (
        dhash64,
        synthesize_images_dhash,
    )

    with timed("image_phash_neardup"):
        n_pairs = image_phash_near_dup(
            dhash64(synthesize_images_dhash(docs_scaled)), max_hamming=4
        ).count()
    timings["image_phash_pairs"] = n_pairs

    # mergeable HLL: register build is ONE map-side-combined
    # aggregate whose output is <= groups x shards x 64 rows at any K
    from sslr_spark.functions.sketches import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    with timed("hll_shard_merge"):
        hll_estimate(
            hll_merge(
                hll_build(
                    docs_scaled.select(
                        "lang",
                        (F.col("doc_id") % 16).alias("sh"),
                        "doc_id",
                    ),
                    ["lang", "sh"],
                    "doc_id",
                ),
                ["lang"],
            ),
            ["lang"],
        ).count()

    # energy VAD: pure Arrow map over WAV bytes, zero shuffle — cost
    # tracks total audio samples
    from sslr_spark.functions.multimodal import audio_vad, synthesize_audio_vad

    with timed("audio_vad"):
        audio_vad(synthesize_audio_vad(docs_scaled)).groupBy().agg(
            F.sum(F.col("active").cast("long"))
        ).collect()

    # hybrid RRF: both candidate lists are top-k cuts; fusion cost is
    # constant — total cost must track the two scans, not the fusion
    from sslr_spark.functions.similarity import hybrid_rrf_topk

    with timed("hybrid_rrf"):
        hybrid_rrf_topk(
            docs_scaled, emb_scaled, ["join", "spark", "vector"], 0, k=10
        ).count()

    # crawl policy + frontier at K x: robots parse cost tracks hosts
    # (10*k policies), URL evaluation is one host equi-join over the
    # scaled corpus, frontier windows partition by host — per-host
    # work is bounded by the politeness cap
    from sslr_spark.functions.graph import crawl_frontier
    from sslr_spark.functions.robots import robots_allowed, robots_rules
    from sslr_spark.functions.urls import url_host

    n_rhosts = 10 * k
    robots_fix = (
        docs_scaled.select((F.col("doc_id") % n_rhosts).alias("kk"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("kk").cast("string"),
                     F.lit(".test")).alias("host"),
            F.concat(
                F.lit("User-agent: *\nDisallow: /priv"),
                F.col("kk").cast("string"), F.lit("\n"),
            ).alias("robots_txt"),
        )
    )
    urls_fix = docs_scaled.select(
        F.concat(
            F.lit("http://h"),
            (F.col("doc_id") % n_rhosts).cast("string"),
            F.lit(".test/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    with timed("robots_frontier"):
        allowed = robots_allowed(
            urls_fix, robots_rules(robots_fix, "bot")
        ).filter(F.col("allowed")).select(
            "url", url_host(F.col("url")).alias("host")
        )
        ranks_fix = robots_fix.select(
            "host", F.lit(1_000_000).alias("rank_micros")
        )
        crawl_frontier(allowed, ranks_fix, per_host_cap=3,
                       top_n=100).count()

    # length-bucketed batching at K x: histogram window is bounded by
    # distinct lengths; batch windows partition by (tier, shard)
    from sslr_spark.functions.sampling import length_batches

    with timed("length_batches"):
        length_batches(
            docs_scaled.select("doc_id", "n_chars"), "n_chars",
            n_buckets=8, batch_size=64, n_shards=8,
        ).count()

    # Matryoshka two-stage ANN at K x: prefix scan over the scaled
    # corpus, constant-size shortlist rerank
    from sslr_spark.functions.similarity import topk_matryoshka

    with timed("matryoshka"):
        topk_matryoshka(emb_scaled, 0, k=10, shortlist=100).count()

    shutil.rmtree(TMP, ignore_errors=True)
    print(json.dumps({"k": k, "rows": n_rows, "docs": n_docs, "timings": timings}))


if __name__ == "__main__":
    main()
