"""Product quantization (PQ) and IVF-PQ tests: the Arrow encode
kernels against a driver-side integer reference, ADC recall, and the
full-cover rerank equalities on the sf0.001 embeddings."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sslr_spark.functions.similarity import (
    _dot_int,
    _pq_score,
    _sumsq_int,
    _unit_quantized,
)
from tests.test_plans import SF


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


_PQ_IDS = list(range(100, 116))  # ks=16, and the key's m=16


def _reference_codes(vec, books, s_int):
    """Driver-side PQ code of one vector: per subspace, the bigint
    argmin of ``floor(_pq_score * 1e9 + 0.5)`` over the codewords,
    first match winning ties — the determinism contract spelled with
    the scalar helpers instead of the numpy kernel."""
    dsub = len(books[0][0])
    codes = []
    for j, book in enumerate(books):
        sub = vec[j * dsub:(j + 1) * dsub]
        d = [
            math.floor(
                _pq_score(_sumsq_int(cw), _dot_int(sub, cw), s_int) * 1e9
                + 0.5
            )
            for cw in book
        ]
        codes.append(d.index(min(d)))
    return codes


def test_pq_codes_equal_driver_reference(spark, emb):
    """Raw codes: the kernel scores the raw sub-vector against the
    unit codewords, divided by the quantized norm; the appended zero
    vector takes the guarded ``||c||^2`` score."""
    from sslr_spark.functions.similarity import pq_encode_fixed

    zero = spark.createDataFrame([(-1, [0.0] * 64, 0)], emb.schema)
    encoded, books = pq_encode_fixed(emb.unionByName(zero), _PQ_IDS, m=16)
    rows = encoded.select("vec_id", "embedding", "__codes").collect()
    assert len(rows) == 501
    for r in rows:
        x = [float(v) for v in r["embedding"]]
        want = _reference_codes(x, books, _sumsq_int(x))
        assert list(r["__codes"]) == want, r["vec_id"]


def test_residual_codes_equal_driver_reference(spark, emb):
    """Residual codes: the kernel scores ``unit(x) - unit(centroid)``
    with no norm division — the raw score at ``s_int = 10**12``,
    where the divisor sqrt(1.0) is exactly 1."""
    from sslr_spark.functions.similarity import (
        _codebooks_from_ids,
        ivf_index_fixed,
        pq_encode_residual_fixed,
    )

    indexed, cents = ivf_index_fixed(emb, list(range(1, 9)))
    cent_units = [
        _unit_quantized(r.centroid)
        for r in sorted(cents.collect(), key=lambda r: r.cell)
    ]
    books, _ = _codebooks_from_ids(emb, _PQ_IDS, 16, "embedding", "vec_id")
    rows = (
        pq_encode_residual_fixed(indexed, books, cent_units)
        .select("vec_id", "embedding", "__cell", "__codes")
        .collect()
    )
    assert len(rows) == 500
    for r in rows:
        u = _unit_quantized(r["embedding"])
        cu = cent_units[r["__cell"]]
        resid = [a - b for a, b in zip(u, cu)]
        want = _reference_codes(resid, books, 10**12)
        assert list(r["__codes"]) == want, r["vec_id"]


def test_pq_encode_codes_shape_and_determinism(spark, emb):
    from sslr_spark.functions.similarity import pq_encode_fixed

    encoded, books = pq_encode_fixed(emb, _PQ_IDS, m=16)
    assert len(books) == 16 and all(len(b) == 16 for b in books)
    assert all(len(cw) == 4 for b in books for cw in b)
    rows = encoded.select("vec_id", "__codes").collect()
    assert all(len(r["__codes"]) == 16 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["__codes"])
    # a codebook vector's best codeword in every subspace is itself
    self_codes = {r["vec_id"]: list(r["__codes"]) for r in rows}
    for rank, cid in enumerate(sorted(_PQ_IDS)):
        assert self_codes[cid] == [rank] * 16, (cid, self_codes[cid])
    again = {r["vec_id"]: list(r["__codes"]) for r in
             pq_encode_fixed(emb, _PQ_IDS, m=16)[0]
             .select("vec_id", "__codes").collect()}
    assert self_codes == again


def test_pq_adc_preranking_recall_floor_vs_bruteforce(spark, emb):
    """Blind-spot guard the oracle CANNOT provide: the DuckDB oracle
    replays the engine's own ADC formula, so a semantic regression
    that degrades code quality (a bad scale factor, a broken slice
    offset) could stay hash-green while ranking garbage. Pin recall
    against brute-force truth instead: at rerank_factor=4 the ADC cut
    must recover a healthy share of the true top-10 (measured 8/9/4
    on queries 0/20/40 — floor set with slack below)."""
    from sslr_spark.functions.similarity import pq_topk_fixed, topk_bruteforce

    cw = list(range(100, 116))
    total = 0
    for q in (0, 20, 40):
        t = {r.vec_id for r in topk_bruteforce(emb, q, 10).collect()}
        p = {
            r.vec_id
            for r in pq_topk_fixed(emb, cw, q, k=10, m=16).collect()
        }
        overlap = len(t & p)
        total += overlap
        assert overlap >= 3, (q, overlap)  # any single query stays sane
    assert total >= 15  # ~half the true neighbors across the panel


@pytest.mark.slow
def test_pq_train_codebooks_encode_and_beat_fixed_distortion(spark, emb):
    """pq_train (per-subspace distributed KMeans) is the production
    codebook path: trained books must be well-formed, encode
    deterministically through the shared kernel, and give LOWER mean
    quantized distortion than codebooks grabbed from arbitrary rows —
    the property that makes training worth running."""
    from sslr_spark.functions.similarity import (
        pq_encode_fixed,
        pq_encode_with_books,
        pq_train,
    )

    m, ks = 16, 16
    trained = pq_train(emb, m=m, ks=ks, seed=7)
    assert len(trained) == m and all(len(b) == ks for b in trained)
    assert all(len(cw) == 4 for b in trained for cw in b)
    enc = pq_encode_with_books(emb, trained)
    rows = enc.select("vec_id", "__codes").collect()
    assert all(len(r["__codes"]) == m for r in rows)
    assert all(0 <= c < ks for r in rows for c in r["__codes"])
    again = {
        r["vec_id"]: list(r["__codes"])
        for r in pq_encode_with_books(emb, trained)
        .select("vec_id", "__codes").collect()
    }
    assert again == {r["vec_id"]: list(r["__codes"]) for r in rows}

    def distortion(books, encoded):
        # mean squared L2 between each unit vector's subspaces and its
        # assigned codewords, via the books and codes (driver-side on
        # the 500-row fixture)
        import numpy as np

        bk = np.asarray(books)
        total, n = 0.0, 0
        for r in encoded.select("embedding", "__codes").collect():
            u = np.asarray(_unit_quantized(r["embedding"])).reshape(m, -1)
            cw = bk[np.arange(m), np.asarray(r["__codes"])]
            total += float(((u - cw) ** 2).sum())
            n += 1
        return total / n

    fixed_enc, fixed_books = pq_encode_fixed(
        emb, list(range(100, 116)), m=m
    )
    assert distortion(trained, enc) < distortion(fixed_books, fixed_enc)


def test_pq_full_rerank_equals_bruteforce(spark, emb):
    """With the rerank cut covering the whole corpus, PQ's final
    top-k must equal exact brute force — the ADC pre-rank only
    prunes, the rerank restores exact ordering."""
    from sslr_spark.functions.similarity import pq_topk_fixed, topk_bruteforce

    n = emb.count()
    got = pq_topk_fixed(
        emb, _PQ_IDS, query_vec_id=0, k=10, m=16,
        rerank_factor=(n // 10) + 1,
    ).select("vec_id", "cos_sim").collect()
    want = topk_bruteforce(emb, query_vec_id=0, k=10).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in want
    ]


def test_pq_recall_at_default_rerank(spark, emb):
    """Recall sanity at the production cut (rerank_factor=4). This
    corpus is nearly isotropic (top cosine 0.33, median 0.01 — the
    true neighbors barely separate from the bulk), so PQ recall is
    data-limited: measured 7/10 at m=16/ks=16; the bound asserts the
    pre-rank is doing real work, not that this synthetic corpus is
    PQ-friendly."""
    from sslr_spark.functions.similarity import pq_topk_fixed, topk_bruteforce

    got = {r.vec_id for r in pq_topk_fixed(
        emb, _PQ_IDS, query_vec_id=0, k=10, m=16
    ).collect()}
    want = {r.vec_id for r in topk_bruteforce(emb, 0, k=10).collect()}
    assert len(got & want) >= 5, (got, want)


def test_ivfpq_full_cover_equals_ivf(spark, emb):
    """IVF-PQ with full probe + full-cover rerank must equal the
    plain fixed-quantizer IVF at the same probe: the PQ pre-rank only
    prunes; the rerank restores exact ordering within probed cells."""
    from sslr_spark.functions.similarity import ivf_ann_fixed, ivfpq_topk_fixed

    cents, cws = list(range(1, 9)), _PQ_IDS
    n = emb.count()
    a = [(r.vec_id, r.cos_sim) for r in ivfpq_topk_fixed(
        emb, cents, cws, 0, k=10, m=16, n_probe=8,
        rerank_factor=(n // 10) + 1,
    ).collect()]
    b = [(r.vec_id, r.cos_sim) for r in ivf_ann_fixed(
        emb, cents, 0, k=10, n_probe=8,
    ).collect()]
    assert a == b
    # pruned probe returns a bounded result from probed cells only
    got = ivfpq_topk_fixed(emb, cents, cws, 0, k=10, m=16, n_probe=3)
    assert got.count() == 10


@pytest.mark.slow
def test_ivfpq_residual_beats_raw_on_clustered_corpus(spark):
    """Residual IVF-PQ calibration at EQUAL code budget (m=8, ks=16,
    same cells, same probe rule): on a clustered corpus — the regime
    real embeddings live in, and the one residual encoding exists for
    — residual-trained codes (pq_train_residual over the KMeans-cell
    residuals, RAW centers per the unit_centroids=False contract)
    must recall at least as much of the exact top-10 as raw-trained
    codes. On a structureless uniform corpus the two are statistically
    indistinguishable (residual norms ~= vector norms), which is why
    this fixture is synthesized with real cluster structure."""
    import numpy as np

    from sslr_spark.functions.similarity import (
        dot_expr,
        ivf_index,
        ivfpq_topk_serve,
        norm_expr,
        pq_train,
        pq_train_residual,
    )

    rng = np.random.RandomState(7)
    dim, ncl, per = 64, 8, 64
    centers = rng.randn(ncl, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = np.vstack([c + 0.35 * rng.randn(per, dim) for c in centers])
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )

    indexed, cents = ivf_index(emb, n_cells=8)
    indexed = indexed.persist()
    indexed.count()
    cent_raw = [
        [float(x) for x in r.centroid]
        for r in sorted(cents.collect(), key=lambda r: r.cell)
    ]
    books_raw = pq_train(emb, m=8, ks=16)
    books_res = pq_train_residual(indexed, cent_raw, m=8, ks=16)

    def truth(qid, k=10):
        q = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        qdf = spark.createDataFrame([(q,)], "__qvec array<float>")
        rows = (
            emb.filter(F.col("vec_id") != qid)
            .crossJoin(F.broadcast(qdf))
            .select(
                "vec_id",
                F.round(
                    F.try_divide(
                        dot_expr("embedding", "__qvec"),
                        norm_expr("embedding") * norm_expr("__qvec"),
                    ),
                    6,
                ).alias("cs"),
            )
            .orderBy(F.col("cs").desc(), "vec_id")
            .limit(k)
            .collect()
        )
        return {r["vec_id"] for r in rows}

    tot_raw = tot_res = 0
    try:
        for qid in (0, 97, 201, 333, 449):
            t = truth(qid)
            raw = {
                r["vec_id"]
                for r in ivfpq_topk_serve(
                    indexed, cents, books_raw, qid,
                    k=10, n_probe=3, rerank_factor=1, residual=False,
                ).collect()
            }
            res = {
                r["vec_id"]
                for r in ivfpq_topk_serve(
                    indexed, cents, books_res, qid,
                    k=10, n_probe=3, rerank_factor=1,
                    residual=True, unit_centroids=False,
                ).collect()
            }
            tot_raw += len(raw & t)
            tot_res += len(res & t)
    finally:
        indexed.unpersist()
    # the calibration row: residual >= raw at equal budget
    assert tot_res >= tot_raw, (tot_res, tot_raw)
    # sanity floor: the 3-of-8-cell pruned scan at rerank_factor=1
    # (no exact-rerank safety net) still recalls a solid fraction
    assert tot_res >= 15, tot_res  # >= 30% across 5 queries


def test_ivfpq_residual_full_cover_equals_bruteforce(spark):
    """With every cell probed and a rerank cut covering the whole
    corpus, residual IVF-PQ must return exactly the brute-force
    top-k (ids, scores, order) — the ADC pre-rank can then only
    reorder candidates the exact-cosine rerank re-sorts, so any
    disagreement means the residual pipeline LOST or duplicated a
    candidate. Same equality contract as ivf_ann_fixed / plain PQ."""
    from sslr_spark.functions.similarity import (
        ivfpq_topk_residual,
        topk_bruteforce,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    cents = [1, 2, 3, 4, 5, 6, 7, 8]
    exact = topk_bruteforce(emb, 0, k=10).collect()
    got = ivfpq_topk_residual(
        emb, cents, list(range(100, 116)), query_vec_id=0,
        k=10, m=16, n_probe=len(cents), rerank_factor=50,
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in exact
    ]
