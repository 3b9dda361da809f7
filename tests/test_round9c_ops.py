"""Round-9 continuation-2 operators:

- hybrid_rrf_topk: Reciprocal Rank Fusion of a BM25 lexical list and
  a dense cosine list (Cormack/Clarke/Buettcher 2009) — integer
  1e6 // (60 + rank) contributions, bigint fused score.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sslr_spark.functions.similarity import hybrid_rrf_topk, topk_bruteforce
from sslr_spark.functions.text import bm25_topk


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------------
# hybrid RRF
# ------------------------------------------------------------------

_DOCS = [
    (1, "spark joins vectors fast"),
    (2, "spark spark spark"),
    (3, "vectors and joins"),
    (4, "nothing relevant here"),
    (5, "spark vectors"),
]
# embeddings: vec 0 is the query; 1 and 3 near it, 2/4/5 far
_EMB = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.8, 0.2, 0.0]),
    (4, [0.0, 0.0, 1.0]),
    (5, [-1.0, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def hybrid_inputs(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    emb = spark.createDataFrame(
        _EMB, "vec_id long, embedding array<double>"
    )
    return docs, emb


def test_rrf_matches_python_fusion_of_component_lists(spark, hybrid_inputs):
    """The fused ranking equals fusing the two component operators'
    own outputs with exact integer arithmetic in Python."""
    docs, emb = hybrid_inputs
    terms = ["spark", "vectors"]
    lex_rows = bm25_topk(docs, terms, k=4).collect()
    lex_rank = {
        r.doc_id: i + 1
        for i, r in enumerate(
            sorted(lex_rows, key=lambda r: (-r.score_micros, r.doc_id))
        )
    }
    vec_rows = topk_bruteforce(emb, 0, k=4).collect()
    vec_rank = {
        r.vec_id: i + 1
        for i, r in enumerate(
            sorted(
                vec_rows,
                key=lambda r: (-int(r.cos_sim * 1e6 + 0.5), r.vec_id),
            )
        )
    }
    expect = {}
    for d in set(lex_rank) | set(vec_rank):
        score = 0
        if d in lex_rank:
            score += 1_000_000 // (60 + lex_rank[d])
        if d in vec_rank:
            score += 1_000_000 // (60 + vec_rank[d])
        expect[d] = score
    got = hybrid_rrf_topk(
        docs, emb, terms, query_vec_id=0, k=10, k_lex=4, k_vec=4
    ).collect()
    assert {r.doc_id: r.rrf_micros for r in got} == expect
    # ordering: fused score desc, id asc
    keys = [(r.rrf_micros, r.doc_id) for r in got]
    assert keys == sorted(keys, key=lambda t: (-t[0], t[1]))


def test_rrf_single_list_docs_carry_null_other_rank(spark, hybrid_inputs):
    docs, emb = hybrid_inputs
    got = {
        r.doc_id: r
        for r in hybrid_rrf_topk(
            docs, emb, ["spark"], query_vec_id=0, k=10, k_lex=3, k_vec=2
        ).collect()
    }
    # doc 4 matches no term and is far from the query: absent entirely
    assert 4 not in got
    # a dense-only doc has null lex_rank (and vice versa)
    dense_only = [r for r in got.values() if r.lex_rank is None]
    lex_only = [r for r in got.values() if r.vec_rank is None]
    assert dense_only and lex_only
    for r in dense_only:
        assert r.rrf_micros == 1_000_000 // (60 + r.vec_rank)
    for r in lex_only:
        assert r.rrf_micros == 1_000_000 // (60 + r.lex_rank)


def test_rrf_both_lists_beats_equal_rank_single_list(spark, hybrid_inputs):
    """A doc ranked r in BOTH lists strictly outscores a doc ranked r
    in one list — the property that makes RRF favor agreement."""
    docs, emb = hybrid_inputs
    got = hybrid_rrf_topk(
        docs, emb, ["spark", "vectors"], query_vec_id=0, k=10
    ).collect()
    both = [r for r in got if r.lex_rank and r.vec_rank]
    single = [r for r in got if (r.lex_rank is None) != (r.vec_rank is None)]
    assert both, "fixture must produce agreement docs"
    for b in both:
        for s in single:
            if (s.lex_rank or s.vec_rank) >= min(b.lex_rank, b.vec_rank):
                assert b.rrf_micros > s.rrf_micros


# ------------------------------------------------------------------
# mergeable HLL registers
# ------------------------------------------------------------------

from sslr_spark.functions.sketches import (  # noqa: E402
    hll_build,
    hll_estimate,
    hll_merge,
)


@pytest.fixture(scope="module")
def hll_df(spark):
    return spark.range(0, 5000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 4).alias("shard"),
        # 1100 distinct values within group 0, etc.
        F.concat(F.lit("u"), (F.col("id") % 1100).cast("string")).alias("v"),
    )


def test_hll_merge_of_shards_equals_sketch_of_union(spark, hll_df):
    """Register-wise max over shard sketches is EXACTLY the sketch of
    the unsharded data — mergeability is lossless, not approximate."""
    whole = {
        (r.g, r.bucket): r.rho
        for r in hll_build(hll_df, ["g"], "v").collect()
    }
    shards = hll_build(hll_df, ["g", "shard"], "v")
    merged = {
        (r.g, r.bucket): r.rho
        for r in hll_merge(shards, ["g"]).collect()
    }
    assert merged == whole
    # idempotence: re-merging a doubled sketch changes nothing
    remerged = {
        (r.g, r.bucket): r.rho
        for r in hll_merge(
            hll_merge(shards, ["g"]).unionAll(hll_merge(shards, ["g"])),
            ["g"],
        ).collect()
    }
    assert remerged == whole


def test_hll_estimate_within_rse_envelope(spark, hll_df):
    """p=6 gives rse ~ 1.04/sqrt(64) = 13%; assert within 3x that."""
    sk = hll_build(hll_df, ["g"], "v")
    est = {r.g: r.estimate for r in hll_estimate(sk, ["g"]).collect()}
    exact = {
        r.g: r.n
        for r in hll_df.groupBy("g")
        .agg(F.count_distinct("v").alias("n"))
        .collect()
    }
    for g, n in exact.items():
        assert abs(est[g] - n) <= 0.4 * n, (g, est[g], n)


def test_hll_linear_counting_small_cardinality(spark):
    """Tiny cardinalities route through the linear-counting branch
    and land much tighter than the raw-HLL envelope."""
    df = spark.range(0, 400).select(
        F.lit(0).alias("g"),
        (F.col("id") % 7).cast("string").alias("v"),
    )
    est = hll_estimate(hll_build(df, ["g"], "v"), ["g"]).first()
    assert est.n_buckets_set <= 7
    assert abs(est.estimate - 7) <= 1


def test_hll_build_is_one_partial_aggregate(spark, hll_df):
    """The sketch build must be a single hash aggregate with a
    map-side partial (no extra exchange beyond the group shuffle)."""
    plan = plan_of(hll_build(hll_df, ["g"], "v"))
    assert plan.count("Exchange") == 1
    assert "partial_max" in plan or "partial" in plan.lower()


# ------------------------------------------------------------------
# link graph + PageRank
# ------------------------------------------------------------------

from sslr_spark.functions.graph import (  # noqa: E402
    extract_links,
    host_edges,
    pagerank,
)


def test_extract_links_and_host_edges(spark):
    pages = spark.createDataFrame(
        [
            (1, "http://a.test/p/1",
             '<a href="http://b.test/x">x</a><a href="https://C.TEST:443/y">y</a>'),
            (2, "http://b.test/p/2",
             '<a href="http://a.test/z">z</a><a href="http://b.test/self">s</a>'),
            (3, "http://c.test/p/3", "no links here"),
        ],
        "doc_id long, page_url string, html string",
    )
    links = extract_links(pages, "doc_id", "html").join(
        pages.select("doc_id", "page_url"), "doc_id"
    )
    edges = {(r.src, r.dst): r.n_links for r in host_edges(links).collect()}
    # self-loop (b -> b) dropped; port stripped and host lowercased
    assert edges == {
        ("a.test", "b.test"): 1,
        ("a.test", "c.test"): 1,
        ("b.test", "a.test"): 1,
    }


def _py_pagerank(edges, n_iters=3):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {}
    for s, _ in set(edges):
        deg[s] = deg.get(s, 0) + 1
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(n_iters):
        s = {n: 0 for n in nodes}
        for u, v in set(edges):
            s[v] += rank[u] // deg[u]
        rank = {n: 150_000 + (s[n] * 8500) // 10_000 for n in nodes}
    return rank


def test_pagerank_matches_python_reference(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
    ]
    df = spark.createDataFrame(
        [(s, d, 1) for s, d in edges], "src string, dst string, n_links long"
    )
    got = {r.host: r.rank_micros for r in pagerank(df, n_iters=3).collect()}
    assert got == _py_pagerank(edges, 3)
    # d has no in-links: pinned at the base term
    assert got["d"] == 150_000
    # c is the sink hub: strictly the highest rank
    assert got["c"] == max(got.values())


def test_pagerank_deterministic_across_partitionings(spark):
    edges = [(f"h{i}", f"h{(i * 3 + 1) % 17}") for i in range(40)]
    df = spark.createDataFrame(
        [(s, d, 1) for s, d in edges], "src string, dst string, n_links long"
    )
    a = {r.host: r.rank_micros for r in pagerank(df, 3).collect()}
    b = {
        r.host: r.rank_micros
        for r in pagerank(df.repartition(13), 3).collect()
    }
    assert a == b


# ------------------------------------------------------------------
# image perceptual hashing
# ------------------------------------------------------------------

from sslr_spark.functions.dedup import image_phash_near_dup  # noqa: E402
from sslr_spark.functions.multimodal import (  # noqa: E402
    _dhash_value,
    dhash64,
    make_bmp_gray,
    synthesize_images_dhash,
)


def _py_dhash(grid):
    ph = 0
    for y in range(len(grid)):
        for x in range(len(grid[0]) - 1):
            if grid[y][x + 1] > grid[y][x]:
                ph |= 1 << (y * 8 + x)
    return ph


def test_dhash64_decodes_real_bmp_bytes(spark):
    """dhash64 must recover the hash from the BYTES — bottom-up row
    order and stride padding included (9*3=27 pad to 28)."""
    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    got = {
        r.doc_id: r.phash
        for r in dhash64(synthesize_images_dhash(docs)).collect()
    }
    for d in range(12):
        grid = [
            [_dhash_value(d // 4, d % 4, x, y) for x in range(9)]
            for y in range(7)
        ]
        assert got[d] == _py_dhash(grid), d


def test_dhash64_row_order_matters(spark):
    """A vertically-asymmetric image must hash differently from its
    flip — catches decoders that skip the bottom-up un-flip."""
    a = [[0] * 9] * 3 + [[x * 20 for x in range(9)]] + [[0] * 9] * 3
    flipped = a[::-1]
    df = spark.createDataFrame(
        [(1, make_bmp_gray(a)), (2, make_bmp_gray(flipped))],
        "doc_id long, payload binary",
    )
    r = {x.doc_id: x.phash for x in dhash64(df).collect()}
    # same comparisons per row set, same hash — rows identical sets
    assert r[1] == r[2]
    # now an image whose ROWS differ between top and bottom halves
    b = [[x * 20 for x in range(9)]] + [[(8 - x) * 20 for x in range(9)]] \
        + [[0] * 9] * 5
    df2 = spark.createDataFrame(
        [(1, make_bmp_gray(b)), (2, make_bmp_gray(b[::-1]))],
        "doc_id long, payload binary",
    )
    r2 = {x.doc_id: x.phash for x in dhash64(df2).collect()}
    assert r2[1] != r2[2]


def test_image_phash_near_dup_finds_variant_groups(spark):
    """Every group's C(4,2)=6 variant pairs must surface; the
    quadratic base keeps distinct groups out at hamming <= 4."""
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    hashes = dhash64(synthesize_images_dhash(docs))
    pairs = image_phash_near_dup(hashes, max_hamming=4).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    expect = {
        (g * 4 + i, g * 4 + j)
        for g in range(10)
        for i in range(4)
        for j in range(i + 1, 4)
    }
    assert got == expect
    for r in pairs:
        assert 0 <= r.hamming <= 4


def test_image_phash_band_join_not_all_pairs(spark):
    """The candidate join must key on (band_idx, band_val) — the plan
    has a real equi-join, not a cartesian."""
    docs = spark.createDataFrame([(i,) for i in range(16)], "doc_id long")
    hashes = dhash64(synthesize_images_dhash(docs))
    plan = plan_of(image_phash_near_dup(hashes))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


# ------------------------------------------------------------------
# curriculum tiers
# ------------------------------------------------------------------

from sslr_spark.functions.sampling import curriculum_tiers  # noqa: E402


def test_curriculum_tiers_boundaries_and_monotonicity(spark):
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", i % 50) for i in range(600)],
        "doc_id long, source string, score long",
    )
    out = curriculum_tiers(df, "score").collect()
    # tier monotone in score; all 10 tiers hit; ~60 rows each
    by_tier = {}
    for r in out:
        by_tier.setdefault(r.tier, []).append(r.score)
    assert set(by_tier) == set(range(10))
    for t in range(9):
        assert max(by_tier[t]) <= min(by_tier[t + 1])
    for t, rows in by_tier.items():
        assert 48 <= len(rows) <= 72, (t, len(rows))
    # equal scores share a tier
    score_tiers = {}
    for r in out:
        score_tiers.setdefault(r.score, set()).add(r.tier)
    assert all(len(v) == 1 for v in score_tiers.values())


def test_curriculum_order_key_mixes_sources(spark):
    """Within a tier, hash order interleaves sources: the first half
    of any tier (by order_key) must not be single-source."""
    df = spark.createDataFrame(
        [(i, f"s{i // 300}", i % 10) for i in range(600)],
        "doc_id long, source string, score long",
    )
    out = sorted(
        curriculum_tiers(df, "score").collect(),
        key=lambda r: (r.tier, r.order_key),
    )
    tiers = {}
    for r in out:
        tiers.setdefault(r.tier, []).append(r.source)
    for t, srcs in tiers.items():
        head = srcs[: max(4, len(srcs) // 2)]
        assert len(set(head)) > 1, (t, head[:8])


def test_curriculum_no_global_row_window(spark):
    """The plan must not sort the corpus globally: the only window
    runs over the bounded score histogram."""
    df = spark.createDataFrame(
        [(i, "s", i % 50) for i in range(600)],
        "doc_id long, source string, score long",
    )
    plan = plan_of(curriculum_tiers(df, "score"))
    # broadcast join back to rows, not a shuffle of the corpus by score
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------------------
# audio VAD
# ------------------------------------------------------------------

from sslr_spark.functions.multimodal import (  # noqa: E402
    _vad_sample,
    audio_vad,
    synthesize_audio_vad,
)


def test_audio_vad_energies_match_formula(spark):
    docs = spark.createDataFrame(
        [(d, 100 + d * 7) for d in range(6)], "doc_id long, n_chars long"
    )
    rows = audio_vad(synthesize_audio_vad(docs)).collect()
    got = {(r.doc_id, r.frame): (r.energy, r.active) for r in rows}
    for d in range(6):
        n = 400 + (100 + d * 7) % 300
        n_frames = n // 80
        for fidx in range(n_frames):
            e = sum(
                _vad_sample(d, i) ** 2
                for i in range(fidx * 80, (fidx + 1) * 80)
            )
            assert got[(d, fidx)] == (e, e > 2_000_000), (d, fidx)
    # silence/activity alternation: frames 0,1 silent, 2,3 active...
    for d in range(6):
        assert not got[(d, 0)][1] and not got[(d, 1)][1]
        assert got[(d, 2)][1] and got[(d, 3)][1]


def test_audio_vad_rejects_non_pcm(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"RIFFxxxxWAVEjunk"))], "doc_id long, payload binary"
    )
    import pytest as _pt

    with _pt.raises(Exception, match="fmt/data|WAV"):
        audio_vad(df).collect()


# ------------------------------------------------------------------
# Matryoshka two-stage ANN
# ------------------------------------------------------------------

from sslr_spark.functions.similarity import topk_matryoshka  # noqa: E402


def test_matryoshka_full_rerank_matches_bruteforce_when_shortlist_covers(
    spark,
):
    """With shortlist >= corpus, stage 2 IS brute force: the top-k ids
    must equal topk_bruteforce's."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = topk_matryoshka(emb, 0, k=5, prefix_dim=4, shortlist=60).collect()
    brute = topk_bruteforce(emb, 0, k=5).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in brute]
    # full-vector micros scores agree with the brute cosine to 1e-6
    for g, b in zip(got, brute):
        assert g.cos_full_micros == int(round(b.cos_sim * 1e6))


def test_matryoshka_prefix_stage_prunes(spark):
    """A tight shortlist must cut stage-2 work: candidates whose
    PREFIX disagrees with the query never reach the rerank."""
    # prefix (first 2 dims) aligned for ids 1-3, orthogonal for 4-6;
    # tails make 4-6 the TRUE nearest — a tiny shortlist misses them,
    # which is the documented recall trade of prefix pruning
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, -0.9, 0.0]),
        (2, [0.8, 0.1, -0.8, 0.1]),
        (3, [0.7, 0.1, -0.7, 0.0]),
        (4, [0.0, 1.0, 0.9, 0.0]),
        (5, [0.1, 1.0, 0.8, 0.0]),
        (6, [0.0, 0.9, 0.7, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tight = topk_matryoshka(emb, 0, k=3, prefix_dim=2, shortlist=3)
    ids = {r.vec_id for r in tight.collect()}
    assert ids == {1, 2, 3}  # the prefix-aligned set, not the true top


# ------------------------------------------------------------------
# bucketed co-located join
# ------------------------------------------------------------------

from sslr_spark.sources.bucketed import bucketed_pair  # noqa: E402


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """The whole point of bucketing: the join over two same-bucketed
    catalog tables must plan WITHOUT any Exchange."""
    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("a")
    )
    right = spark.range(0, 2000).select(
        F.col("id").alias("k2"), (F.col("id") % 7).alias("b")
    )
    lt, rt = bucketed_pair(
        spark, left, right, "k", "k2", str(tmp_path / "bk"),
        n_buckets=4, name_prefix="t9c",
    )
    # tiny fixtures would broadcast (which also skips bucketing);
    # force the sort-merge strategy a 100 TB fact-fact join would use
    joined = lt.hint("merge").join(rt, lt.k == rt.k2)
    plan = plan_of(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert joined.count() == 2000
    # the same merge join WITHOUT bucketing shuffles both sides
    plain = left.hint("merge").join(right, left.k == right.k2)
    assert "Exchange hashpartitioning" in plan_of(plain)


def test_bucketed_join_values_match_plain_join(spark, tmp_path):
    left = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("a")
    )
    right = spark.range(0, 500).select(
        F.col("id").alias("k2"), (F.col("id") % 7).alias("b")
    )
    lt, rt = bucketed_pair(
        spark, left, right, "k", "k2", str(tmp_path / "bk2"),
        n_buckets=4, name_prefix="t9cv",
    )
    got = sorted(
        (r.k, r.a, r.b)
        for r in lt.join(rt, lt.k == rt.k2).collect()
    )
    want = sorted(
        (r.k, r.a, r.b)
        for r in left.join(right, left.k == right.k2).collect()
    )
    assert got == want


# ------------------------------------------------------------------
# robots.txt
# ------------------------------------------------------------------

from sslr_spark.functions.robots import robots_allowed, robots_rules  # noqa: E402

_ROBOTS = """# policy
User-agent: MyBot
User-agent: otherbot
Disallow: /a
Allow: /a/b
Unknown-directive: ignored
User-agent: *
Disallow: /
"""


def test_robots_rules_group_selection_and_parsing(spark):
    df = spark.createDataFrame(
        [("h.test", _ROBOTS)], "host string, robots_txt string"
    )
    # exact-agent group wins: the star group's Disallow: / must NOT
    # survive; consecutive UA lines share the group
    rules = {(r.allow, r.path) for r in robots_rules(df, "mybot").collect()}
    assert rules == {(False, "/a"), (True, "/a/b")}
    # unknown agent: only the star group applies
    star = {(r.allow, r.path) for r in robots_rules(df, "nobody").collect()}
    assert star == {(False, "/")}


def test_robots_allowed_longest_match_and_defaults(spark):
    robots = spark.createDataFrame(
        [("h.test", _ROBOTS), ("open.test", "User-agent: *\nDisallow:\n")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (1, "http://h.test/a/x"),        # /a disallow
            (2, "http://h.test/a/b/x"),      # /a/b allow overrides
            (3, "http://h.test/c"),          # no match -> allowed
            (4, "http://H.TEST:80/a/y"),     # host normalization
            (5, "http://open.test/a"),       # empty Disallow = allow-all
            (6, "http://unknown.test/a"),    # no robots at all
        ],
        "doc_id long, url string",
    )
    rules = robots_rules(robots, "mybot")
    got = {r.doc_id: (r.allowed, r.rule_len)
           for r in robots_allowed(urls, rules).collect()}
    assert got == {
        1: (False, 2),
        2: (True, 4),
        3: (True, 0),
        4: (False, 2),
        5: (True, 0),
        6: (True, 0),
    }


def test_robots_rules_before_any_group_ignored(spark):
    df = spark.createDataFrame(
        [("h.test", "Disallow: /orphan\nUser-agent: *\nDisallow: /x\n")],
        "host string, robots_txt string",
    )
    rules = {(r.allow, r.path) for r in robots_rules(df, "any").collect()}
    assert rules == {(False, "/x")}


# ------------------------------------------------------------------
# crawl frontier
# ------------------------------------------------------------------

from sslr_spark.functions.graph import crawl_frontier  # noqa: E402


def test_crawl_frontier_cap_dedup_and_priority(spark):
    urls = spark.createDataFrame(
        [
            ("http://a.test/1", "a.test"),
            ("http://a.test/1", "a.test"),  # duplicate collapses
            ("http://a.test/2", "a.test"),
            ("http://a.test/3", "a.test"),
            ("http://a.test/4", "a.test"),  # over the cap of 3
            ("http://b.test/1", "b.test"),
            ("http://c.test/1", "c.test"),  # no rank row -> rank 0
        ],
        "url string, host string",
    )
    ranks = spark.createDataFrame(
        [("a.test", 500_000), ("b.test", 900_000)],
        "host string, rank_micros long",
    )
    got = crawl_frontier(urls, ranks, per_host_cap=3, top_n=10).collect()
    assert [r.url for r in got] == [
        "http://b.test/1",
        "http://a.test/1",
        "http://a.test/2",
        "http://a.test/3",
        "http://c.test/1",
    ]
    assert [r.host_pos for r in got] == [1, 1, 2, 3, 1]
    # cap enforced: /4 never scheduled; top_n cuts globally
    top2 = crawl_frontier(urls, ranks, per_host_cap=3, top_n=2).collect()
    assert [r.url for r in top2] == ["http://b.test/1", "http://a.test/1"]


def test_crawl_frontier_no_global_window(spark):
    urls = spark.createDataFrame(
        [(f"http://h{i % 7}.t/{i}", f"h{i % 7}.t") for i in range(100)],
        "url string, host string",
    )
    ranks = spark.createDataFrame(
        [(f"h{i}.t", i * 1000) for i in range(7)],
        "host string, rank_micros long",
    )
    plan = plan_of(crawl_frontier(urls, ranks))
    # the politeness window partitions by host; the global cut is a
    # TakeOrdered, not a single-partition Window
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan and "partitionBy" not in plan.lower().replace(
        "partition by", ""
    )


# ------------------------------------------------------------------
# streaming HLL
# ------------------------------------------------------------------


def test_stream_hll_registers_match_batch_build(spark, tmp_path):
    """The streamed registers must be EXACTLY the batch hll_build of
    the same data per window — the lambda-union contract; duplicates
    crossing micro-batch boundaries must fold into the same max."""
    import os

    from sslr_spark.streaming.pipeline import stream_hll

    src = str(tmp_path / "src")
    base = spark.range(0, 800).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.col("id") * 60_000_000)
        ).alias("ts"),
        (F.col("id") % 97).alias("user_id"),
        F.lit("t").alias("event_type"),
    )
    # two files -> duplicates of the same user cross batches
    base.filter("event_id % 2 = 0").coalesce(1).write.parquet(src)
    base.filter("event_id % 2 = 1").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # sentinel far-future batch closes all real windows
    spark.createDataFrame(
        [(-1, 1_800_000_000_000_000, -1, "__s__")],
        "event_id long, ts_us long, user_id long, event_type string",
    ).select(
        "event_id", F.timestamp_micros("ts_us").alias("ts"),
        "user_id", "event_type",
    ).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "out")
    stream_hll(
        spark, src, spark.read.parquet(src).schema, out,
        str(tmp_path / "ckpt"), ["event_type"], "user_id",
        window="1 hour", max_files_per_trigger=1,
    )
    got = {
        (r.win_start_us, r.event_type, r.bucket): r.rho
        for r in spark.read.parquet(out).filter(
            F.col("event_type") == "t"
        ).collect()
    }
    batch = hll_build(
        base.select(
            (
                F.expr("unix_micros(ts) div 3600000000") * F.lit(3_600_000_000)
            ).alias("win_start_us"),
            "event_type",
            "user_id",
        ),
        ["win_start_us", "event_type"],
        "user_id",
    )
    want = {
        (r.win_start_us, r.event_type, r.bucket): r.rho
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


# ------------------------------------------------------------------
# magic-byte sniffing
# ------------------------------------------------------------------

from sslr_spark.functions.multimodal import sniff_media  # noqa: E402


def test_sniff_media_all_magics_and_plan(spark):
    import gzip as _gz

    rows = [
        (1, b"BM" + bytes(60)),
        (2, b"\x89PNG\r\n\x1a\n" + bytes(20)),
        (3, b"\xff\xd8\xff\xe0" + bytes(20)),
        (4, b"RIFF" + bytes(4) + b"WAVE" + bytes(20)),
        (5, bytes(4) + b"ftypisom" + bytes(20)),
        (6, _gz.compress(b"payload")),
        (7, b"<html>not media</html>"),
        (8, b"RIFF" + bytes(4) + b"AVI " + bytes(8)),  # RIFF, not WAVE
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "doc_id long, payload binary"
    )
    got = {r.doc_id: r.fmt_sniffed for r in sniff_media(df).collect()}
    assert got == {
        1: "bmp", 2: "png", 3: "jpeg", 4: "wav",
        5: "mp4", 6: "gzip", 7: "unknown", 8: "unknown",
    }
    plan = plan_of(sniff_media(df))
    assert "mapInPandas" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------------------
# length-bucketed batching
# ------------------------------------------------------------------

from sslr_spark.functions.sampling import length_batches  # noqa: E402


def test_length_batches_padding_drops_vs_unbucketed(spark):
    """The point of the operator: bucketed batches waste much less
    padding than batching the same corpus unbucketed."""
    df = spark.createDataFrame(
        [(i, 10 + (i * 97) % 990) for i in range(1024)],
        "doc_id long, n_chars long",
    )
    out = length_batches(df, "n_chars", n_buckets=8, batch_size=16,
                         n_shards=2).collect()
    assert sum(r.n_rows for r in out) == 1024
    bucketed_waste = sum(r.pad_waste for r in out)
    flat = length_batches(df, "n_chars", n_buckets=1, batch_size=16,
                          n_shards=2).collect()
    flat_waste = sum(r.pad_waste for r in flat)
    assert bucketed_waste < 0.35 * flat_waste, (bucketed_waste, flat_waste)
    # full batches except at most one ragged tail per (tier, shard)
    for (t, s), rows in {
        (t, s): [r for r in out if r.tier == t and r.shard == s]
        for t in range(8) for s in range(2)
    }.items():
        ragged = [r for r in rows if r.n_rows < 16]
        assert len(ragged) <= 1, (t, s)


def test_length_batches_batches_are_length_homogeneous(spark):
    df = spark.createDataFrame(
        [(i, (i % 32) * 100) for i in range(512)],
        "doc_id long, n_chars long",
    )
    from sslr_spark.functions.sampling import curriculum_tiers

    out = length_batches(df, "n_chars", n_buckets=4, batch_size=8,
                         n_shards=2).collect()
    # every batch's waste is bounded by its tier's VALUE range: a
    # batch only mixes lengths from one tier
    tier_vals = {}
    for r in curriculum_tiers(df, "n_chars", n_tiers=4,
                              seed="lenbatch").collect():
        tier_vals.setdefault(r.tier, []).append(r.n_chars)
    for r in out:
        spread = max(tier_vals[r.tier]) - min(tier_vals[r.tier])
        assert r.pad_waste <= r.n_rows * spread, r
        # and the batch max really is a value of its tier
        assert r.max_len in set(tier_vals[r.tier]), r


# ------------------------------------------------------------------
# column stats
# ------------------------------------------------------------------

from sslr_spark.functions.sketches import column_stats  # noqa: E402


def test_column_stats_values_and_single_scan(spark):
    df = spark.createDataFrame(
        [(1, None, "b"), (2, 5.0, "a"), (2, 7.5, None), (4, 5.0, "c")],
        "k long, q double, f string",
    )
    got = {r.col_name: r for r in column_stats(df, ["k", "q", "f"]).collect()}
    assert got["k"].n_rows == 4 and got["k"].n_nulls == 0
    assert got["k"].n_distinct == 3
    assert (got["k"].min_val, got["k"].max_val) == ("1", "4")
    assert got["q"].n_nulls == 1 and got["q"].n_distinct == 2
    assert (got["q"].min_val, got["q"].max_val) == ("5.0", "7.5")
    assert got["f"].n_nulls == 1 and got["f"].n_distinct == 3
    assert (got["f"].min_val, got["f"].max_val) == ("a", "c")
    # one scan: a single FileScan/LocalTableScan feeds the aggregate
    plan = plan_of(column_stats(df, ["k", "q", "f"]))
    assert plan.count("Scan") <= 2  # scan + (possible) reused exchange


# ------------------------------------------------------------------
# sitemap ingestion + skew/zorder keys
# ------------------------------------------------------------------

from sslr_spark.functions.robots import sitemap_entries  # noqa: E402


def test_sitemap_entries_parsing(spark):
    xml = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>\n  http://a.test/1  \n</loc>"
        "<lastmod>2026-03-01</lastmod></url>"
        "<url><loc>http://a.test/2</loc></url>"
        "<url><lastmod>2026-04-01</lastmod></url>"  # no loc: dropped
        "</urlset>"
    )
    df = spark.createDataFrame(
        [("a.test", xml)], "host string, sitemap_xml string"
    )
    got = sorted(
        (r.host, r.url, r.lastmod) for r in sitemap_entries(df).collect()
    )
    assert got == [
        ("a.test", "http://a.test/1", "2026-03-01"),
        ("a.test", "http://a.test/2", None),
    ]
    plan = plan_of(sitemap_entries(df))
    assert "Exchange" not in plan  # narrow explode, zero shuffle


def test_salted_join_equals_plain_join(spark):
    from sslr_spark.functions.skew import salted_join

    big = spark.createDataFrame(
        [(i % 3, i) for i in range(3000)], "k long, v long"
    )  # key 0/1/2 each hot
    small = spark.createDataFrame([(0, "x"), (1, "y")], "k long, t string")
    got = sorted(
        (r.k, r.v, r.t)
        for r in salted_join(big, small, ["k"], n_salts=8).collect()
    )
    want = sorted(
        (r.k, r.v, r.t) for r in big.join(small, "k").collect()
    )
    assert got == want and len(got) == 2000


# ------------------------------------------------------------------
# bounded distributed top-k
# ------------------------------------------------------------------

from sslr_spark.functions.sketches import topk_bounded  # noqa: E402


def test_topk_bounded_bounds_contain_truth_and_certify(spark):
    import random

    rng = random.Random(11)
    # zipf-ish: value v appears ~ 3000/(v+1) times, spread over shards
    rows = []
    for v in range(40):
        for _ in range(3000 // (v + 1)):
            rows.append((v, rng.randrange(6)))
    df = spark.createDataFrame(rows, "v long, shard long")
    truth = {}
    for v, _ in rows:
        truth[v] = truth.get(v, 0) + 1
    got = topk_bounded(df, "v", "shard", m=15, k=5).collect()
    for r in got:
        assert r.lb <= truth[r.value] <= r.ub, (r, truth[r.value])
    # the head of a zipf is unambiguous: top-5 certified and correct
    true_top5 = sorted(truth, key=lambda v: (-truth[v], v))[:5]
    assert [r.value for r in got] == true_top5
    assert all(r.certified for r in got)


def test_topk_bounded_small_m_uncertifies_ties(spark):
    # uniform counts: with tiny m the residuals swamp the gaps, so
    # certification must refuse rather than guess
    rows = [(v, s) for v in range(30) for s in range(4) for _ in range(5)]
    df = spark.createDataFrame(rows, "v long, shard long")
    got = topk_bounded(df, "v", "shard", m=3, k=5).collect()
    assert not all(r.certified for r in got)
    # bounds still valid: every value has exactly 20 occurrences
    for r in got:
        assert r.lb <= 20 <= r.ub


# ------------------------------------------------------------------
# chat flattening
# ------------------------------------------------------------------

from sslr_spark.functions.text import chat_flatten  # noqa: E402


def test_chat_flatten_turns_and_quarantine(spark):
    df = spark.createDataFrame(
        [
            (1, '{"turns": [{"role": "user", "text": "hi"},'
                ' {"role": "assistant", "text": "hello!"}]}'),
            (2, "not json at all"),
            (3, '{"turns": []}'),
        ],
        "doc_id long, conversation string",
    )
    rows = sorted(
        (r.doc_id, r.turn_idx, r.role, r.content, r.content_chars)
        for r in chat_flatten(df).collect()
    )
    assert rows == [
        (1, 0, "user", "hi", 2),
        (1, 1, "assistant", "hello!", 6),
        (2, -1, None, None, 0),  # malformed -> quarantine row
        # doc 3: zero turns, zero rows — empty but well-formed
    ]
    plan = plan_of(chat_flatten(df))
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan


def test_chat_pairs_skips_non_adjacent_and_numbers_pairs(spark):
    from sslr_spark.functions.text import chat_pairs

    turns = spark.createDataFrame(
        [
            # doc 1: u,a,u,a -> two pairs
            (1, 0, "user", "q1", 2), (1, 1, "assistant", "a1", 2),
            (1, 2, "user", "q2", 2), (1, 3, "assistant", "a2", 2),
            # doc 2: a,u (wrong order), trailing user -> no pairs
            (2, 0, "assistant", "x", 1), (2, 1, "user", "y", 1),
            # doc 3: u,u,a -> ONE pair (second user + assistant)
            (3, 0, "user", "p0", 2), (3, 1, "user", "p1", 2),
            (3, 2, "assistant", "r", 1),
            # doc 4: quarantine row only
            (4, -1, None, None, 0),
        ],
        "doc_id long, turn_idx int, role string, content string,"
        " content_chars long",
    )
    got = sorted(
        (r.doc_id, r.pair_idx, r.prompt, r.response)
        for r in chat_pairs(turns).collect()
    )
    assert got == [
        (1, 0, "q1", "a1"),
        (1, 1, "q2", "a2"),
        (3, 0, "p1", "r"),
    ]


def test_chat_truncate_keeps_newest_within_budget(spark):
    from sslr_spark.functions.text import chat_truncate

    turns = spark.createDataFrame(
        [
            (1, 0, "user", "aaaaaaaa", 8),      # oldest
            (1, 1, "assistant", "bbbb", 4),
            (1, 2, "user", "cc", 2),            # newest
            (2, 0, "user", "x" * 50, 50),       # alone busts budget
            (2, 1, "assistant", "ok", 2),
        ],
        "doc_id long, turn_idx int, role string, content string,"
        " content_chars long",
    )
    got = sorted(
        (r.doc_id, r.turn_idx, r.suffix_chars)
        for r in chat_truncate(turns, budget_chars=7).collect()
    )
    # doc1: cc (2) + bbbb (6) fit; the 8-char opener would make 14
    # doc2: only the trailing 'ok' fits; the 50-char turn drops whole
    assert got == [(1, 1, 6), (1, 2, 2), (2, 1, 2)]


def test_robots_crawl_delay_group_scoped(spark):
    from sslr_spark.functions.robots import robots_crawl_delay

    df = spark.createDataFrame(
        [
            ("a.test",
             "User-agent: mybot\nCrawl-delay: 5\nDisallow: /x\n"
             "User-agent: *\nCrawl-delay: 99\n"),
            ("b.test", "User-agent: *\nDisallow: /y\n"),   # no delay
            ("c.test", "User-agent: *\nCrawl-delay: junk\n"),  # non-numeric
        ],
        "host string, robots_txt string",
    )
    got = {r.host: r.crawl_delay_s
           for r in robots_crawl_delay(df, "mybot").collect()}
    # exact group's 5 wins over the star group's 99; absent/junk -> 0
    assert got == {"a.test": 5, "b.test": 0, "c.test": 0}


def test_crawl_frontier_fetch_offsets(spark):
    from sslr_spark.functions.graph import crawl_frontier

    urls = spark.createDataFrame(
        [(f"http://a.test/{i}", "a.test") for i in range(3)]
        + [("http://b.test/1", "b.test")],
        "url string, host string",
    )
    ranks = spark.createDataFrame(
        [("a.test", 10), ("b.test", 20)], "host string, rank_micros long"
    )
    delays = spark.createDataFrame(
        [("a.test", 4)], "host string, crawl_delay_s int"
    )
    got = {
        r.url: (r.host_pos, r.fetch_offset_s)
        for r in crawl_frontier(urls, ranks, delays=delays).collect()
    }
    assert got == {
        "http://b.test/1": (1, 0),   # no delay row -> default 0
        "http://a.test/0": (1, 0),
        "http://a.test/1": (2, 4),
        "http://a.test/2": (3, 8),
    }
