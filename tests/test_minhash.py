"""MinHash-LSH dedup family: in-frame pairs (minhash_lsh_pairs), the
probe of a batch against an accepted corpus (incremental_minhash_dedup),
the reusable corpus index (minhash_index), and the streaming ingest
that composes the three over one index per micro-batch."""

from __future__ import annotations

import os

import pytest

import sslr_spark.functions.dedup as D
from tests.test_plans import SF


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture()
def corpus(spark):
    body = " ".join(f"tok{i}" for i in range(40))
    return spark.createDataFrame(
        [
            (1, "intro words here " + body + " closing words here"),
            (2, body),  # fully contained in doc 1
            (3, "completely different content about other things entirely "
                "with many unrelated tokens going on and on"),
        ],
        "doc_id long, text string",
    )


# ------------------------------------------------------------------
# in-frame pairs
# ------------------------------------------------------------------

@pytest.mark.slow
def test_minhash_lsh_finds_high_jaccard_pairs(spark, docs):
    """Every truly-similar pair (jaccard >= 0.5) must be an LSH
    candidate with 4x4 bands at these parameters; and all reported
    jaccards must be correct wrt the exact pair computation."""
    from sslr_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.02).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.02).collect()
    }
    for pair, j in exact.items():
        if j >= 0.5:
            assert pair in lsh, f"high-jaccard pair {pair} missed by LSH"
    for pair, j in lsh.items():
        assert exact.get(pair) == pytest.approx(j), pair


@pytest.mark.slow
def test_minhash_fast_mode_precision_and_recall(spark, docs):
    """The xxhash64 production path is a different hash family over
    the same LSH scheme, so the candidate sets differ by band-recall
    variance — but every emitted pair is exact-Jaccard verified
    (precision 1.0 against the inverted-index ground truth), and
    recall stays high (measured: 26/28 vs portable's 28/28 on this
    corpus; both consistent with b=4,r=4 banding theory)."""
    from sslr_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    truth = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    fast = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, jaccard_threshold=0.4, hash_mode="fast"
        ).collect()
    }
    assert fast
    # precision: every pair is real, with the exact verified jaccard
    for pair, j in fast.items():
        assert pair in truth and j == truth[pair]
    # recall: the fast family loses at most a small band-variance tail
    assert len(fast) >= 0.85 * len(truth)


def test_minhash_verify_prunes_sb_side(corpus):
    """The (doc_b, shingle) verify join's big side must pass through a
    semi join against the candidate doc_b set — without it the full
    shingle index shuffles per verification."""
    with D.cache_scope():
        df = D.minhash_lsh_pairs(corpus, hash_mode="fast")
        txt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in txt


def test_pruned_pairs_equal_unpruned_semantics(spark):
    """Inner-join invariance: the pruned verify join returns exactly
    the pairs the docstring contract promises — cross-checked against
    a driver-side exact Jaccard on a corpus WITH true near-dups."""
    import itertools

    base = ["alpha beta gamma delta epsilon zeta eta theta iota kappa"]
    rows = []
    for i in range(8):
        words = base[0].split()
        if i % 2:
            words[i % len(words)] = f"mut{i}"
        rows.append((i, " ".join(words + [f"tail{i % 3}", "common", "suffix"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def sh_set(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    texts = dict(rows)
    expected = set()
    for a, b in itertools.combinations(sorted(texts), 2):
        A, B = sh_set(texts[a]), sh_set(texts[b])
        if A and B:
            j = len(A & B) / len(A | B)
            if round(j, 6) >= 0.3:
                expected.add((a, b))
    with D.cache_scope():
        got = {
            (r.doc_a, r.doc_b)
            for r in D.minhash_lsh_pairs(
                docs, jaccard_threshold=0.3, n_hashes=16, n_bands=8
            ).collect()
        }
    # banding at 8 bands x 2 rows catches essentially everything at
    # j>=0.3 on this corpus; verification must then equal exact Jaccard
    assert got <= expected
    assert expected and got  # non-degenerate


# ------------------------------------------------------------------
# batch vs accepted corpus
# ------------------------------------------------------------------

def test_incremental_minhash_dedup_catches_edits(spark):
    """Exact dedup misses edited re-crawls; the MinHash sibling must
    flag them with the right corpus match."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words about spark and parquet"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # doc 1 with one word changed: near-dup, not exact
            (10, "the quick brown fox leaps over the lazy dog today"),
            # unrelated
            (11, "nothing here resembles anything in the corpus at all"),
            # exact copy of doc 2: self-evident near-dup at 1.0
            (12, "completely different words about spark and parquet"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        # 16 bands x 1 row: collision prob 1-(1-J)^16, ~0.9999 at the
        # edited doc's J=0.45 (the default 4x4 banding targets higher-J
        # regimes and would legitimately miss it ~84% of the time)
        for r in D.incremental_minhash_dedup(
            batch, corpus, jaccard_threshold=0.1, n_bands=16
        ).collect()
    }
    assert len(out) == 3
    assert out[10]["near_dup"] and out[10]["match_id"] == 1
    assert 0.1 <= out[10]["jaccard"] < 1.0
    assert not out[11]["near_dup"] and out[11]["match_id"] is None
    assert out[12]["near_dup"] and out[12]["match_id"] == 2
    assert out[12]["jaccard"] == 1.0


def test_incremental_minhash_prebuilt_index_roundtrip(spark, tmp_path):
    """The corpus index persists to parquet and reloads: results with
    the reloaded index equal the direct-corpus computation, with no
    corpus rescan in the ingest path."""
    from sslr_spark.functions.dedup import (
        incremental_minhash_dedup,
        minhash_index,
    )
    from sslr_spark.sources.parquet import ParquetDatabase

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(40)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta 7 epsilon zeta"),
         (101, "totally unrelated content with different words here")],
        "doc_id long, text string",
    )
    db = ParquetDatabase(spark, str(tmp_path / "idx"))
    sh, buckets, hot = minhash_index(corpus)
    assert hot is None  # no cap requested
    db.overwrite("c_sh", sh)
    db.overwrite("c_buckets", buckets)

    direct = sorted(
        map(tuple, incremental_minhash_dedup(
            batch, corpus, jaccard_threshold=0.3
        ).collect())
    )
    via_index = sorted(
        map(tuple, incremental_minhash_dedup(
            batch,
            jaccard_threshold=0.3,
            corpus_index=(db.read("c_sh"), db.read("c_buckets")),
        ).collect())
    )
    assert direct == via_index
    assert any(r[0] == 100 and r[1] for r in direct)  # exact copy flagged

    import pytest as _pytest

    with _pytest.raises(ValueError, match="corpus or corpus_index"):
        incremental_minhash_dedup(batch)


def test_incremental_minhash_caps_both_sides(spark):
    """The boilerplate cap derives from the corpus and drops hot
    shingles from the BATCH too — corpus-only capping would deflate
    the batch-side set size and miss near-dups."""
    boiler = "terms of service apply to all content here"
    corpus = spark.createDataFrame(
        [(i, f"{boiler} unique body {i} alpha beta") for i in range(20)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, f"{boiler} unique body 7 alpha gamma")],
        "doc_id long, text string",
    )
    out = D.incremental_minhash_dedup(
        batch, corpus, jaccard_threshold=0.3, n_bands=16,
        max_shingle_doc_freq=10,
    ).collect()[0]
    # shared informative content: 'unique body 7 alpha' shingles; with
    # symmetric capping J is high enough to flag; corpus-only capping
    # would dilute nb with ~8 boilerplate shingles and drop J below 0.3
    assert out["near_dup"] and out["match_id"] == 7


def test_incremental_minhash_prunes_corpus_side(spark, corpus):
    batch = spark.createDataFrame(
        [(10, "intro words here " + " ".join(f"tok{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    with D.cache_scope():
        df = D.incremental_minhash_dedup(batch, corpus, hash_mode="fast")
        txt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in txt
        out = {r.doc_id: r for r in df.collect()}
    assert out[10].near_dup and out[10].match_id == 1


# ------------------------------------------------------------------
# streaming ingest
# ------------------------------------------------------------------

def test_ingest_equals_composition_reference(spark, tmp_path, monkeypatch):
    """A 3-epoch streaming_neardup_ingest (an in-batch dup, a
    cross-batch edited re-crawl, then a batch of nothing but
    duplicates) lands exactly the accepted rows and index rows of a
    driver-side replay of the public composition on the same files:
    minhash_lsh_pairs -> incremental_minhash_dedup(corpus_index=...)
    -> minhash_index. And it shingles each micro-batch ONCE: the
    in-batch pairs, the corpus probe and the index rows all read the
    batch's one index."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.streaming.pipeline import (
        live_epoch_filter,
        load_segment_manifest,
        read_accepted,
        streaming_neardup_ingest,
    )

    base = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(20))
    epochs = [
        [(1, base), (2, base + " tail"), (3, other)],  # 2 dups 1
        # 10: edited re-crawl of 1; 11: new
        [(10, base.replace("w19", "w19x")),
         (11, " ".join(f"y{i}" for i in range(20)))],
        [(20, base), (21, other + " end")],  # copies of 1 and 3
    ]
    params = dict(jaccard_threshold=0.5, n_bands=8)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(epochs):
        p = os.path.join(src, f"part-{i:03d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows], pa.string())}),
            p,
        )
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))  # file order
    schema_str = "doc_id long, text string"
    target = ParquetDatabase(spark, str(tmp_path / "target"))

    calls = []
    real_shingles = D.shingles

    def counting_shingles(*a, **kw):
        calls.append(1)
        return real_shingles(*a, **kw)

    monkeypatch.setattr(D, "shingles", counting_shingles)
    q = streaming_neardup_ingest(
        spark, src, spark.createDataFrame([], schema_str).schema, target,
        str(tmp_path / "ckpt"), max_files_per_trigger=1, **params,
    )
    q.awaitTermination(300)
    monkeypatch.setattr(D, "shingles", real_shingles)
    assert len(calls) == len(epochs)  # one index per non-empty epoch

    live = live_epoch_filter(load_segment_manifest(target))
    got_acc = {tuple(r) for r in read_accepted(target)
               .select("doc_id", "text").collect()}
    got_sh = {tuple(r) for r in target.read("__neardup_index_shingles")
              .filter(live).select("doc_id", "shingle").collect()}
    got_bk = {tuple(r) for r in target.read("__neardup_index_buckets")
              .filter(live).select("doc_id", "band", "sig").collect()}

    acc, sh, bk = set(), set(), set()
    for rows in epochs:
        with D.cache_scope():
            batch = spark.createDataFrame(rows, schema_str)
            losers = {r.doc_b for r in
                      D.minhash_lsh_pairs(batch, **params).collect()}
            survivors = [r for r in rows if r[0] not in losers]
            near = set()
            if sh and survivors:
                index = (
                    spark.createDataFrame(sorted(sh), "doc_id long, shingle string"),
                    spark.createDataFrame(
                        sorted(bk), "doc_id long, band int, sig string"
                    ),
                )
                near = {
                    r.doc_id for r in D.incremental_minhash_dedup(
                        spark.createDataFrame(survivors, schema_str),
                        corpus_index=index, **params,
                    ).collect()
                    if r.near_dup
                }
            fresh = [r for r in survivors if r[0] not in near]
            new_sh, new_bk, _ = D.minhash_index(
                spark.createDataFrame(fresh, schema_str), n_bands=8
            )
            acc |= set(fresh)
            sh |= {tuple(r) for r in new_sh.collect()}
            bk |= {tuple(r) for r in new_bk.collect()}

    assert {r[0] for r in acc} == {1, 3, 11}  # every planted dup caught
    assert got_acc == acc
    assert got_sh == sh
    assert got_bk == bk
