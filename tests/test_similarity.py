"""Similarity search: the brute-force top-k kernels (JVM fold below
the width constant, Arrow/BLAS from it on) and the IVF index with its
one serve path, trained or fixed."""

from __future__ import annotations

import numpy as np
import pytest

import sslr_spark.functions.similarity as S
from sslr_spark.functions.similarity import (
    ivf_ann_fixed,
    ivf_index,
    ivf_topk_serve,
    topk_bruteforce,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _pin(monkeypatch, kernel: str) -> None:
    """Route topk_bruteforce to one kernel whatever the vector width."""
    monkeypatch.setattr(S, "_ARROW_MIN_DIM", 1 if kernel == "arrow" else 10**9)


def _topk(df, qid: int, k: int) -> list:
    return [(r.vec_id, r.cos_sim) for r in topk_bruteforce(df, qid, k=k).collect()]


def _ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return prev


def _restore_ansi(spark, prev) -> None:
    if prev is None:
        spark.conf.unset("spark.sql.ansi.enabled")
    else:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _zero_norm_corpus(spark):
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),   # zero norm: no score, must not rank
            (3, [0.5, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )


def test_arrow_topk_equals_jvm_fold(spark, emb, monkeypatch):
    """The Arrow/numpy batch kernel must produce exactly the JVM
    fold's results (same rounding, same tie order)."""
    _pin(monkeypatch, "jvm")
    jvm = _topk(emb, 0, 10)
    _pin(monkeypatch, "arrow")
    assert _topk(emb, 0, 10) == jvm


def test_arrow_topk_filters_zero_norm_vectors(spark, monkeypatch):
    _pin(monkeypatch, "arrow")
    got = [vid for vid, _ in _topk(_zero_norm_corpus(spark), 0, 3)]
    assert got == [1, 3]  # highest cosine first, zero-norm row dropped


def test_topk_drops_zero_norm_rows_under_ansi_and_raises_on_missing_id(spark):
    """One contract for every exact-cosine search: under ANSI mode
    (the Spark 4 default) a zero-norm row is dropped instead of
    failing the query with DIVIDE_BY_ZERO, and a query id that is not
    in the corpus raises instead of returning an empty list."""
    corpus = _zero_norm_corpus(spark)
    prev = _ansi(spark)
    try:
        assert [vid for vid, _ in _topk(corpus, 0, 3)] == [1, 3]
        full = ivf_ann_fixed(corpus, [1, 3], query_vec_id=0, k=3, n_probe=2)
        assert [r.vec_id for r in full.collect()] == [1, 3]
    finally:
        _restore_ansi(spark, prev)
    with pytest.raises(ValueError, match="not found"):
        topk_bruteforce(corpus, 99, k=3)
    with pytest.raises(ValueError, match="not found"):
        ivf_ann_fixed(corpus, [1, 3], query_vec_id=99, k=3)


@pytest.mark.parametrize("vec_type", ["float", "double"])
def test_topk_kernels_agree_on_edge_cases(spark, monkeypatch, vec_type):
    """Property: both kernels return equal (id, cos_sim) lists on the
    edge cases — a corpus holding only the query row, k larger than n,
    duplicate vectors (tie broken by id), a zero-norm row — at 2 and
    768 dims."""
    for dim in (2, 768):
        rng = np.random.default_rng(dim)
        vecs = [rng.standard_normal(dim).tolist() for _ in range(6)]
        vecs += [vecs[3], vecs[3], [0.0] * dim]  # ids 6, 7 dup 3; 8 zero
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            f"vec_id long, embedding array<{vec_type}>",
        ).cache()
        seen = {}
        for case, corpus, k in (
            ("alone", df.filter("vec_id = 0"), 5),  # only the query row
            ("all", df, 50),                        # k larger than n
            ("top3", df, 3),
        ):
            got = {}
            for kernel in ("jvm", "arrow"):
                _pin(monkeypatch, kernel)
                got[kernel] = _topk(corpus, 0, k)
            assert got["jvm"] == got["arrow"], (dim, case)
            seen[case] = [vid for vid, _ in got["jvm"]]
        full = seen["all"]
        assert seen["alone"] == [] and seen["top3"] == full[:3]
        assert 8 not in full and len(full) == 7  # query and zero row out
        dup = full.index(3)
        assert full[dup:dup + 3] == [3, 6, 7]  # equal scores, id order
        df.unpersist()


def test_ivf_recall_vs_bruteforce(spark):
    """A trained (KMeans) index served by the one IVF query path."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    indexed, centroids = ivf_index(emb, n_cells=8)
    indexed = indexed.cache()

    exact = [r.vec_id for r in topk_bruteforce(emb, 0, k=10).collect()]

    rows = ivf_topk_serve(indexed, centroids, 0, k=10, n_probe=4).collect()
    ids = [r.vec_id for r in rows]
    assert 0 not in ids and len(ids) == 10
    # recall@10 with half the cells probed should be substantial
    recall = len(set(ids) & set(exact)) / 10
    assert recall >= 0.5, f"recall {recall}, got {ids} vs {exact}"
    # scores are true cosines: every returned score must appear in the
    # brute-force ranking at the same value
    exact_scores = {r.vec_id: r.cos_sim for r in topk_bruteforce(emb, 0, k=500).collect()}
    assert all(abs(exact_scores[r.vec_id] - r.cos_sim) < 1e-9 for r in rows)


def test_ivf_fixed_full_probe_equals_bruteforce(spark):
    """With n_probe == n_cells the fixed-quantizer IVF must return
    exactly the brute-force top-k (same ids, same scores, same order)."""
    from sslr_spark.functions.similarity import ivf_ann_fixed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    cent_ids = [1, 2, 3, 4]
    exact = topk_bruteforce(emb, 0, k=10).collect()
    got = ivf_ann_fixed(
        emb, cent_ids, query_vec_id=0, k=10, n_probe=len(cent_ids)
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in exact
    ]


def test_ivf_fixed_cells_partition_and_probe_prunes(spark):
    from sslr_spark.functions.similarity import ivf_ann_fixed, ivf_index_fixed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    cent_ids = [1, 2, 3, 4]
    indexed, cents = ivf_index_fixed(emb, cent_ids)
    n = emb.count()
    assert indexed.count() == n
    cells = dict(
        (r["__cell"], r["count"])
        for r in indexed.groupBy("__cell").count().collect()
    )
    assert sum(cells.values()) == n
    assert set(cells) <= {0, 1, 2, 3}
    assert cents.count() == len(cent_ids)
    # a centroid row has cosine 1.0 with itself -> assigned to own cell
    own = {r.vec_id: r["__cell"] for r in indexed.filter(
        indexed.vec_id.isin(cent_ids)).collect()}
    assert own == {1: 0, 2: 1, 3: 2, 4: 3}
    # pruned probe returns k rows drawn only from probed cells
    got = ivf_ann_fixed(emb, cent_ids, query_vec_id=0, k=5, n_probe=1).collect()
    assert len(got) == 5 and all(r.vec_id != 0 for r in got)


def test_ivf_cells_partition_the_data(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    indexed, centroids = ivf_index(emb, n_cells=5)
    n = emb.count()
    assert indexed.count() == n
    cells = indexed.groupBy("__cell").count().collect()
    assert 1 < len(cells) <= 5
    assert sum(r["count"] for r in cells) == n
    assert centroids.count() == 5
