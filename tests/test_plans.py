"""Plan-shape regression tests: the scale-critical physical-plan
properties the engine relies on at 100 TB, asserted at fixture scale.

These catch silent plan regressions (a lost broadcast, a filter that
stops pushing down, a partition filter that stops pruning) that
row-count tests can't see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_join_star_broadcasts_dims(spark):
    """Star join: every dim side must broadcast — a sort-merge join
    against nation/region/customer at 100 TB fact scale shuffles the
    fact table once per dim."""
    from sslr_spark.queries_olap import q_x_join_star

    p = plan_of(q_x_join_star(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_s1_scan_pushes_filter_and_prunes_columns(spark):
    """S1 filtered scan: the user `where` must reach the parquet
    reader (PushedFilters) and an explicit projection must shrink
    ReadSchema — scans that read every column for a 2-column
    projection are wrong at any scale."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") >= 30).select("l_orderkey", "l_quantity")
    p = plan_of(df)
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual(l_quantity" in p
    read_schema = p.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema


def test_partitioned_target_reads_prune_buckets(spark, target_db):
    """The default merge path reads only affected buckets: a filter on
    the bucket column must become a PartitionFilter (metadata prune),
    not a row filter over the whole table."""
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    target_db.overwrite_partitioned(
        "t", with_bucket(df, ["id"], 16), BUCKET_COL
    )
    scan = target_db.read("t", with_meta=True).filter(
        F.col(BUCKET_COL).isin([3, 7])
    )
    p = plan_of(scan)
    part_filters = p.split("PartitionFilters:", 1)[1].splitlines()[0]
    assert BUCKET_COL in part_filters


def test_fingerprint_agg_is_map_side_combined(spark):
    """A4 bucket fingerprints: the per-bucket hash agg must run as
    partial (map-side) + final HashAggregate, so the shuffle carries
    n_buckets rows, not n_keys rows."""
    from sslr_spark.operators.deletes import bucket_fingerprints

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    fp = bucket_fingerprints(
        li, ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
        n_buckets=16,
    )
    p = plan_of(fp)
    assert "partial_" in p  # partial aggregation before the exchange
    assert "HashAggregate" in p


def test_minhash_candidates_have_no_cross_join(spark):
    """LSH candidate generation must stay an equi-join on (band, sig):
    no CartesianProduct / BroadcastNestedLoopJoin anywhere in the
    pair pipeline."""
    from sslr_spark.functions.dedup import minhash_lsh_pairs, release_caches

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, hash_mode="fast")
    p = plan_of(pairs)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    release_caches()


def test_quantile_gates_take_group_sizes_from_the_window(spark):
    """The quantile gates read each group's size off the cumulative
    window's own ``by`` partitioning: the only join left in the
    optimized plan is the broadcast of the thresholds back onto the
    scored docs. A second aggregate for the sizes, joined back onto
    the window, costs extra Spark jobs per gate."""
    import re

    from sslr_spark.functions.quality_model import (
        lm_perplexity_buckets,
        quality_quantile_gate,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    gate = quality_quantile_gate(
        docs, 0.5, weights=[0.02, -0.005, 1.0, 0.1], bias=-2.0
    )
    for df in (gate, lm_perplexity_buckets(docs)):
        assert len(re.findall(r"\bJoin\b", optimized_of(df))) == 1


def test_text_quality_stays_jvm_side_single_stage(spark):
    """Text quality metrics are pure JVM column expressions — the
    whole pipeline must be one narrow Project over the scan: no Python
    evaluation (BatchEvalPython/ArrowEvalPython) and no shuffle."""
    from sslr_spark.functions.text import quality_metrics

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(quality_metrics(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Exchange" not in p
    assert "Project" in p and "Scan parquet" in p


def test_watermark_filter_pushes_through_adapter_read(spark, source_db):
    """S2/P5: the watermark predicate (the slice filter sync_updates
    applies, updates.py) must push into the parquet scan THROUGH the
    adapter's read() — whose metadata-column strip is a projection that
    must not block pushdown. At 100 TB the slice read skips row groups
    on xmin statistics rather than scan-and-discard."""
    df = spark.range(5000).withColumn("xmin", F.col("id") % 50)
    source_db.overwrite("t", df)
    sliced = source_db.read("t").filter(F.col("xmin") >= F.lit(40))
    p = plan_of(sliced)
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual(xmin,40)" in p


def test_stratified_sample_windows_never_sort_full_strata(spark):
    """De-skewed stratified sampling: no window may sort whole strata
    of raw rows by the hash bucket (the old plan put an 80%-language
    stratum into one task). The two-phase plan instead (a) aggregates
    a per-(stratum, bucket) histogram — cumulated by a window over
    aggregated rows — and (b) row_numbers only the boundary-bucket
    rows. Pin: no window sort spec contains the bucket hash (pmod),
    and the boundary filter (__bstar) exists."""
    from sslr_spark.functions.sampling import stratified_exact_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(stratified_exact_sample(docs, "lang", "doc_id", 0.02))
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "pmod" not in line, f"bucket-ordered raw window: {line}"
    assert "__bstar" in p
    assert "row_number" in p


def test_topk_ngrams_take_ordered_not_global_sort(spark):
    """Corpus top-k: the final k must come from TakeOrderedAndProject
    (per-partition top-k + driver merge of k x partitions rows), never
    a full global Sort of the n-gram counts."""
    from sslr_spark.functions.text import topk_ngrams

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(topk_ngrams(docs, k=20))
    assert "TakeOrderedAndProject" in p
    # partial aggregation before the shuffle (map-side combine)
    assert "partial_count" in p or "HashAggregate" in p


def test_mix_allocation_window_only_over_aggregates(spark):
    """The share-normalization global window must sit ABOVE the
    domain aggregate (n_domains rows), never over corpus rows: the
    plan's window input comes from an aggregate, and the corpus scan
    feeds a hash aggregate first."""
    from sslr_spark.functions.sampling import mix_allocation

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = mix_allocation(docs, ["lang", "source"], "n_chars", 1_000_000, 0.7)
    p = plan_of(df)
    i_win = p.index("Window")
    i_agg = p.index("HashAggregate")
    # physical plans print top-down: Window above the aggregate
    assert i_win < i_agg, "window not above the aggregate"


def test_ivf_fixed_assignment_has_no_shuffle(spark):
    """Fixed-quantizer IVF assignment must stay a pure map: literal
    centroids, argmax over an array expression — no Exchange, no
    Window, no row amplification (the cross-join + per-vector window
    formulation this replaced had all three)."""
    from sslr_spark.functions.similarity import ivf_index_fixed

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    indexed, _ = ivf_index_fixed(emb, [1, 2, 3, 4])
    p = plan_of(indexed)
    assert "Exchange" not in p
    assert "Window" not in p


def test_ivf_fixed_probe_cut_is_take_ordered_not_window(spark):
    """The n_probe cell cut must plan as TakeOrdered (per-partition
    heap + driver merge), never a row_number window: an unpartitioned
    window funnels its input to ONE partition and warned on every
    bench run, and at scale the same shape applied to a bigger frame
    is a serial bottleneck."""
    from sslr_spark.functions.similarity import ivf_ann_fixed

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(ivf_ann_fixed(emb, [1, 2, 3], query_vec_id=0, n_probe=2))
    assert "Window" not in p
    assert "TakeOrdered" in p


def test_chunk_text_is_narrow_no_shuffle(spark):
    """Chunking is per-row sequence+explode — any Exchange in the plan
    means a needless full-corpus shuffle at 100 TB."""
    from sslr_spark.functions.chunking import chunk_text

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(chunk_text(docs, chunk_chars=128, overlap=32))
    assert "Exchange" not in p
    assert "Generate explode" in p


def test_filter_funnel_single_scan_partial_agg(spark):
    """The funnel report must be ONE scan with map-side partial
    aggregation — one scan per stage would read the corpus k times."""
    from sslr_spark.functions.chunking import filter_funnel

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = filter_funnel(
        docs,
        [
            ("min_chars", F.col("n_chars") >= 120),
            ("lang_en", F.col("lang") == "en"),
        ],
    )
    p = plan_of(df)
    assert p.count("Scan parquet") == 1
    assert "partial" in p  # HashAggregate(..., partial_...)


def test_window_suite_partitions_by_customer(spark):
    """The ranking-window query must partition by o_custkey — a
    global (unpartitioned) window serializes the table through one
    task at any scale."""
    from sslr_spark.queries_olap import q_x_window_suite

    p = plan_of(q_x_window_suite(spark, SF))
    assert "Window" in p
    import re

    m = re.search(r"windowspecdefinition\((\w+)", p)
    assert m and "o_custkey" in m.group(1), p


def test_bloom_probe_broadcasts_bits_never_probe(spark):
    """Bloom probe: the m-bounded bit table must be the broadcast
    side; the (huge) probe side must never cartesian or broadcast —
    at crawl scale the probe is the corpus."""
    from sslr_spark.functions import membership as B

    probe = spark.range(0, 1000).selectExpr("cast(id as string) as k")
    built = spark.range(0, 100).selectExpr("cast(id as string) as k")
    bits = B.bloom_build(built, "k", 2048, 3)
    p = plan_of(B.bloom_probe(probe, bits, "k", 2048, 3))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p  # bits side


def test_dup_ngram_coverage_no_pairwise_join(spark):
    """Duplicate-coverage is a per-doc scan; its plan must contain
    only shingle-keyed joins — no doc-x-doc pair materialization."""
    from sslr_spark.functions.dedup import dup_ngram_coverage, release_caches

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(dup_ngram_coverage(docs, n=5))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    release_caches()


def test_range_join_is_bucketized_not_nested_loop(spark):
    """Tolerance join must compile to an equi-join on time buckets —
    the naive |a.ts - b.ts| <= tol predicate gives Spark a
    BroadcastNestedLoopJoin, which is quadratic at 100 TB."""
    from sslr_spark.queries import q_x_range_join

    p = plan_of(q_x_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_retention_aggs_are_partial(spark):
    """Cohort retention: both aggregations must map-side combine
    (partial_min / partial count-distinct) — a straight shuffle of
    raw events per (cohort, week) cell would move the full event log."""
    from sslr_spark.queries_olap import q_x_retention

    p = plan_of(q_x_retention(spark, SF))
    assert "partial_min" in p
    assert "Window" not in p  # no single-partition fallback


def test_source_overlap_fanout_bounded_by_sources(spark):
    """Cross-source overlap: the self-join key is the shingle and the
    join sides are (source, shingle) DISTINCT sets — no doc-level pair
    can appear, and the per-group sizes broadcast."""
    from sslr_spark.functions.dedup import release_caches, source_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(source_overlap(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p  # the n_sources-row size joins
    release_caches()


def test_leakage_split_probe_is_inverted_index_not_pairs(spark):
    """Holdout contamination probe: shingle-keyed equi-joins only —
    no doc-x-doc pair materialization, no cartesian fallback."""
    from sslr_spark.functions.dedup import release_caches
    from sslr_spark.functions.sampling import leakage_safe_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(
        leakage_safe_split(docs, weights={"train": 0.9, "test": 0.1})
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    release_caches()


def test_anomaly_zscore_aggs_are_partial_and_stats_broadcast(spark):
    """Anomaly scan: hourly counts and per-type stats must map-side
    combine; the n_types stat rows broadcast back onto the hours."""
    from sslr_spark.queries_olap import q_x_anomaly_zscore

    p = plan_of(q_x_anomaly_zscore(spark, SF))
    assert "partial_count" in p
    assert "partial_sum" in p  # the per-type stats agg combines too
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_gopher_flags_is_narrow_no_shuffle(spark):
    """The Gopher rule battery is a single narrow projection — any
    Exchange means a needless full-corpus shuffle, any BatchEvalPython
    means a row-at-a-time UDF crept into the hot path."""
    from sslr_spark.functions.text import gopher_flags

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(gopher_flags(docs))
    assert "Exchange" not in p
    assert "Python" not in p


def test_shard_manifest_single_partial_aggregate(spark):
    """The shard manifest is one map-side-combined aggregate keyed on
    the shard hash: exactly one shuffle (n_shards groups), partial
    aggregation before it."""
    from sslr_spark.functions.sampling import shard_manifest

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(shard_manifest(docs, 16, content_cols=["doc_id", "text"]))
    assert p.count("Exchange hashpartitioning") <= 2  # agg + distinct-count
    assert "partial" in p.lower()


def test_pq_encode_is_narrow_no_shuffle(spark):
    """PQ code assignment is a pure per-row map over literal
    codebooks: no Exchange, no Window, no row amplification — the
    same contract as the fixed IVF quantizer."""
    from sslr_spark.functions.similarity import pq_encode_fixed

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    encoded, _ = pq_encode_fixed(emb, list(range(100, 116)), m=16)
    p = plan_of(encoded)
    assert "Exchange" not in p
    assert "Window" not in p


def test_weighted_sample_plans(spark):
    """Global cut = parallel TakeOrdered (no single-task window);
    stratified cut = bounded explode + partial-agg min + ONE window
    partitioned by the stratum — at most two exchanges total."""
    from sslr_spark.functions.sampling import weighted_sample

    df = spark.range(500).selectExpr(
        "id", "cast(id % 5 + 1 as long) as w", "cast(id % 3 as int) as g"
    )
    p_global = plan_of(weighted_sample(df, "id", "w", k=10))
    assert "TakeOrdered" in p_global
    assert "Window" not in p_global
    p_strat = plan_of(weighted_sample(df, "id", "w", k=10, by="g"))
    assert p_strat.count("Window") >= 1
    assert p_strat.count("Exchange hashpartitioning") <= 2, p_strat


def test_sessionize_batch_single_shuffle_running_frames(spark):
    """The batch sessionizer promises ONE shuffle on the key and
    running (bounded) window frames only — a second Exchange or an
    unbounded-following frame would re-shuffle or buffer whole
    partitions at corpus scale."""
    from sslr_spark.queries import read_events
    from sslr_spark.streaming.pipeline import sessionize_batch

    ev = read_events(spark, SF).select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    p = plan_of(sessionize_batch(ev, gap_minutes=240))
    # one hashpartitioning exchange on the key feeds lag, the running
    # sum, AND the final aggregate (same partitioning reused)
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "unboundedfollowing" not in p.lower(), p


def test_pq_query_ranking_scan_skips_vector_column(spark, tmp_path):
    """pq_topk_from_codes (round-8 re-plan): the ADC ranking pass
    must scan ONLY (id, codes) — dragging the float vector through
    the TakeOrdered heap is a 10-25× wider read at corpus scale. The
    winners' vectors come back via a broadcast equi-join."""
    from sslr_spark.functions.similarity import (
        pq_encode_fixed,
        pq_topk_from_codes,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    encoded, books = pq_encode_fixed(emb, list(range(100, 116)), m=16)
    codes_path = str(tmp_path / "codes")
    encoded.select("vec_id", "__codes", "embedding").write.parquet(
        codes_path
    )
    stored = spark.read.parquet(codes_path)
    qvec = [float(x) for x in emb.select("embedding").first()[0]]
    p = plan_of(pq_topk_from_codes(stored, books, qvec, k=5))
    assert "BroadcastHashJoin" in p  # winner-id fetch, not a shuffle
    # two scans of the codes table: the ranking one must NOT read the
    # embedding column (its ReadSchema has __codes without embedding)
    ranking_scans = [
        ln
        for ln in p.splitlines()
        if "ReadSchema" in ln and "__codes" in ln.split("ReadSchema:")[1]
    ]
    assert ranking_scans, p
    assert all(
        "embedding" not in ln.split("ReadSchema:")[1]
        for ln in ranking_scans
    ), p


def test_hard_negatives_windows_are_salted(spark):
    """Phase-1 window must partition by (query_id, salt) — a window
    partitioned by query_id alone drags every query's full candidate
    set to one partition. Phase 2 re-ranks only the salted survivors."""
    from sslr_spark.functions.similarity import hard_negatives

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(hard_negatives(emb, [0, 1], k=3))
    # both windows present, one keyed on the salt column
    assert "__salt" in p
    assert "windowspecdefinition(query_id" in p
    # the query side is broadcast, the corpus side never is
    assert "BroadcastExchange" in p
    # one cosine per candidate (a norm each for the row and the query):
    # the zero-norm filter runs after the cut, so it is not pushed
    # into the join condition as a second evaluation
    assert p.count("SQRT(") == 2, p


def test_ivf_recall_cosine_not_in_join_condition(spark):
    """ivf_recall scores each candidate once: its zero-norm filter runs
    after the salted cut, so neither the probe join nor the truth
    cross join carries the cosine in its condition."""
    from sslr_spark.functions.similarity import ivf_recall

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(ivf_recall(emb, [1, 2, 3, 4, 5, 6, 7, 8], [0, 1, 2], k=5))
    joins = [line for line in p.splitlines() if "Join" in line]
    assert len(joins) >= 2, p
    assert not [line for line in joins if "SQRT(" in line], p
    assert "__salt" in p


def test_residual_encode_is_pure_map_no_shuffle(spark):
    """Residual PQ encode (cell lookup from a literal table + residual
    zip_with + per-subspace argmin) must stay a pure per-row map —
    any Exchange means the 100 TB encode pass shuffles the corpus."""
    from sslr_spark.functions.similarity import (
        _codebooks_from_ids,
        _unit_quantized,
        ivf_index_fixed,
        pq_encode_residual_fixed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    indexed, cents = ivf_index_fixed(emb, [1, 2, 3, 4, 5, 6, 7, 8])
    cent_units = [
        _unit_quantized(r.centroid)
        for r in sorted(cents.collect(), key=lambda r: r.cell)
    ]
    books, _ = _codebooks_from_ids(
        emb, list(range(100, 116)), 16, "embedding", "vec_id"
    )
    p = plan_of(pq_encode_residual_fixed(indexed, books, cent_units))
    assert "Exchange" not in p
    assert "Window" not in p


def test_ivfpq_residual_candidate_cut_is_take_ordered(spark):
    """The residual path's ADC cut must plan as TakeOrdered over the
    probe-pruned scan (never a global sort or unpartitioned window),
    and the probe side must broadcast."""
    from sslr_spark.functions.similarity import ivfpq_topk_residual

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(
        ivfpq_topk_residual(
            emb, [1, 2, 3, 4, 5, 6, 7, 8], list(range(100, 116)),
            query_vec_id=0, m=16, n_probe=3,
        )
    )
    assert "Window" not in p
    assert "TakeOrdered" in p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_media_synthesis_and_decode_are_narrow(spark):
    """synthesize_media_all -> decode_media is two chained Arrow map
    stages — embarrassingly parallel, no shuffle anywhere."""
    from sslr_spark.functions.multimodal import (
        decode_media,
        synthesize_media_all,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(decode_media(synthesize_media_all(docs)))
    assert "Exchange" not in p
    assert "MapInPandas" in p


@pytest.mark.slow
def test_curation_neardup_stage_has_no_cartesian(spark):
    """The near-dup stage inside the curation chain must keep the
    banded-LSH equi-join shape — no cartesian product anywhere in the
    six-stage composed plan."""
    from sslr_spark.curation import curate_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    res = curate_documents(
        docs,
        quality_weights=[0.02, -0.005, 1.0, 0.1],
        quality_bias=-2.0,
        keep_fraction=0.6,
        near_dup=True,
        n_shards=16,
    )
    p = plan_of(res.df)
    assert "CartesianProduct" not in p


def test_tar_shards_single_hash_shuffle(spark):
    """Tar shard assembly must cost exactly ONE exchange (the hash
    shuffle on the uniform shard key) — the narrow shard_assign
    projection and the per-shard applyInPandas assembly add no
    further repartitioning."""
    from sslr_spark.functions.multimodal import tar_shards

    df = spark.createDataFrame(
        [(i, b"x" * 64) for i in range(100)], "doc_id long, payload binary"
    )
    p = plan_of(tar_shards(df, 8))
    assert p.count("Exchange") == 1
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
