"""IVF (KMeans coarse-quantizer) ANN tests: recall against brute force."""

from __future__ import annotations

from sslr_spark.functions.similarity import ivf_index, ivf_search, topk_bruteforce


def test_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    indexed, centroids = ivf_index(emb, n_cells=8)
    indexed = indexed.cache()

    query = emb.filter("vec_id = 0").first().embedding
    exact = [r.vec_id for r in topk_bruteforce(emb, 0, k=10).collect()]

    got = ivf_search(indexed, centroids, list(query), k=10, n_probe=4, exclude_id=0)
    rows = got.collect()
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


