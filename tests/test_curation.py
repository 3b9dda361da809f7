"""Curation pipeline composition tests (sslr_spark/curation.py):
stage threading, funnel monotonicity, per-survivor threshold
recomputation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

WEIGHTS = [0.02, -0.005, 1.0, 0.1]
BIAS = -2.0


def _docs(spark):
    # 60 docs over 3 sources / 2 langs; doc 50+ are exact duplicates
    # of doc 0; a few garbage docs (too short) for the gopher stage
    rows = []
    # 96 words, mean length >= 3, >= 2 stopwords: passes every rule
    body = ("the cat and dog run with long words " * 12).strip()
    for i in range(50):
        rows.append(
            (i, "en" if i % 2 == 0 else "de", f"s{i % 3}",
             body + f" tail{i} " + "word " * (i % 7))
        )
    for i in range(50, 56):
        rows.append((i, "en", "s0", rows[0][3]))  # exact dups of doc 0
    for i in range(56, 60):
        rows.append((i, "de", "s1", "too short"))  # gopher-killed
    return spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )


@pytest.mark.slow
def test_curation_funnel_monotone_and_stages_bind(spark):
    from sslr_spark.curation import curate_documents

    res = curate_documents(
        _docs(spark),
        quality_weights=WEIGHTS,
        quality_bias=BIAS,
        keep_fraction=0.5,
        max_per_source=8,
        n_shards=4,
        with_funnel=True,
    )
    f = res.funnel
    assert list(f) == [
        "input", "gopher", "exact_dedup", "quality_gate", "source_cap"
    ]
    vals = list(f.values())
    assert vals[0] == 60
    assert all(a >= b for a, b in zip(vals, vals[1:]))  # monotone
    assert f["gopher"] == 56          # the 4 short docs die
    assert f["exact_dedup"] == 50     # 6 replicas of doc 0 die
    rows = res.df.collect()
    assert len(rows) == f["source_cap"]
    # source cap binds
    per_src = {}
    for r in rows:
        per_src[r.source] = per_src.get(r.source, 0) + 1
    assert max(per_src.values()) <= 8
    assert set(r.shard for r in rows) <= set(range(4))


@pytest.mark.slow
def test_curation_neardup_stage_drops_near_copies_keeps_longest(spark):
    """near_dup=True inserts the MinHash-LSH stage between exact dedup
    and the gate: edited re-crawls (non-identical, high Jaccard)
    collapse to the LONGEST cluster member; unrelated docs pass."""
    from sslr_spark.curation import curate_documents

    body = ("the cat and dog run with long words " * 12).strip()
    other = ("the fox and bird sit with tall green trees " * 12).strip()
    rows = [
        (0, "en", "s0", body),
        (1, "en", "s0", body + " tiny edit"),       # near-dup, longest
        (2, "en", "s1", other),                     # unrelated
        (3, "en", "s1", body + " x"),               # near-dup of 0/1
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    res = curate_documents(
        df,
        quality_weights=WEIGHTS,
        quality_bias=BIAS,
        keep_fraction=1.0,  # isolate the near-dup stage
        n_shards=None,
        near_dup=True,
        near_dup_threshold=0.5,
        with_funnel=True,
    )
    kept = {r.doc_id for r in res.df.collect()}
    assert kept == {1, 2}  # longest member of {0,1,3} wins; 2 passes
    assert res.funnel["near_dup"] == 2
    assert res.funnel["exact_dedup"] == 4


def test_curation_gate_thresholds_use_survivors_not_raw_corpus(spark):
    """The quality-gate threshold must be computed over the dedup
    SURVIVORS: duplicate clusters would otherwise pile their copies
    into the histogram and shift every language's cut."""
    from sslr_spark.curation import curate_documents
    from sslr_spark.functions.quality_model import quality_quantile_gate

    docs = _docs(spark)
    res = curate_documents(
        docs,
        quality_weights=WEIGHTS,
        quality_bias=BIAS,
        keep_fraction=0.5,
        max_per_source=None,
        n_shards=None,
    )
    got = {r.doc_id for r in res.df.collect()}
    # replicate by hand: gopher keep -> exact dedup -> gate on survivors
    from sslr_spark.functions.dedup import exact_dedup_groups
    from sslr_spark.functions.text import gopher_flags

    surv = docs.join(
        gopher_flags(docs).filter("keep").select("doc_id"),
        "doc_id", "left_semi",
    )
    surv = surv.join(
        exact_dedup_groups(surv).select(
            F.col("keep_id").alias("doc_id")
        ),
        "doc_id", "left_semi",
    )
    want = {
        r.doc_id
        for r in quality_quantile_gate(
            surv, 0.5, weights=WEIGHTS, bias=BIAS
        ).collect()
    }
    assert got == want


@pytest.mark.slow
def test_curation_config_cli_end_to_end(spark, tmp_path, capsys):
    """Config-driven curation through the CLI surface: load a JSON
    config (unknown keys reject, exit 3), run the chain, write the
    curated table, print the funnel report."""
    import json

    from sslr_spark.__main__ import main
    from sslr_spark.sources.parquet import ParquetDatabase

    src = ParquetDatabase(spark, str(tmp_path / "in"))
    src.overwrite("documents", _docs(spark))
    cfg = tmp_path / "curate.json"
    cfg.write_text(
        json.dumps(
            {
                "source": str(tmp_path / "in"),
                "output": str(tmp_path / "out"),
                "qualityWeights": WEIGHTS,
                "qualityBias": BIAS,
                "keepFraction": 0.5,
                "maxPerSource": 8,
                "nShards": 4,
                "nearDup": True,
                "nearDupThreshold": 0.5,
            }
        )
    )
    assert main(["-curate", str(cfg)]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["funnel"]["input"] == 60
    assert report["funnel"]["gopher"] == 56
    # near-dup stage active through the CLI: the "tail{i} word..."
    # variants of doc 0's body are near-dups and collapse further
    assert report["funnel"]["near_dup"] <= report["funnel"]["exact_dedup"]
    assert report["written_rows"] == report["funnel"]["source_cap"]
    out = ParquetDatabase(spark, str(tmp_path / "out"))
    assert out.read("curated").columns == ["doc_id", "lang", "source", "shard"]

    bad = tmp_path / "bad.json"
    bad.write_text('{"source": "/s", "output": "/o", "bogus": 1}')
    assert main(["-curate", str(bad)]) == 3
    # gate on without weights rejects loudly (silent defaults would
    # silently change which documents survive)
    nw = tmp_path / "noweights.json"
    nw.write_text(
        json.dumps({"source": "/s", "output": "/o", "keepFraction": 0.5})
    )
    assert main(["-curate", str(nw)]) == 3


def test_curation_stage_toggles(spark):
    from sslr_spark.curation import curate_documents

    docs = _docs(spark)
    res = curate_documents(
        docs,
        quality_weights=WEIGHTS,
        quality_bias=BIAS,
        keep_fraction=1.0,        # gate off
        gopher=False,
        exact_dedup=False,
        max_per_source=None,
        n_shards=None,
    )
    assert res.df.count() == 60   # nothing filtered
    assert res.df.columns == ["doc_id", "lang", "source"]


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _example_chain(**overrides):
    """examples/curate.json with its LM and DSIR gates off, as
    curate_documents keyword arguments."""
    import os

    from sslr_spark.curation import load_curation_config

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples", "curate.json",
    )
    cfg = load_curation_config(path)
    kwargs = dict(
        quality_weights=cfg.quality_weights,
        quality_bias=cfg.quality_bias,
        keep_fraction=cfg.keep_fraction,
        max_per_source=cfg.max_per_source,
        n_shards=cfg.n_shards,
        mojibake=cfg.mojibake,
        blocklist=cfg.blocklist,
        blocklist_max_ppm=cfg.blocklist_max_ppm,
        gopher=cfg.gopher,
        exact_dedup=cfg.exact_dedup,
        near_dup=cfg.near_dup,
        near_dup_threshold=cfg.near_dup_threshold,
    )
    assert kwargs["near_dup"]
    kwargs.update(overrides)
    return kwargs


def test_curation_plan_is_one_leaf(spark):
    """Every stage lands its survivors, so the curated frame of the
    example chain (near-dup on) plans as a projection over ONE stored
    leaf — no scan, no join left to re-analyze or re-run (composed
    lazily, the same frame has 240 leaves)."""
    from sslr_spark.curation import curate_documents

    res = curate_documents(_docs(spark), **_example_chain())
    try:
        plan = res.df._jdf.queryExecution().analyzed()
        assert plan.collectLeaves().size() == 1
        assert "Join" not in plan.treeString()
        assert res.df.count() > 0
    finally:
        res.release()


def test_curation_release_frees_every_landed_block(spark):
    """release() frees every block the call stored — the landed
    stages, the star-CC rounds and the registry caches of its
    operators (minhash shingle index and candidates, the gate's
    scores) — and is idempotent."""
    from sslr_spark.curation import curate_documents

    before = _persistent_rdds(spark)
    res = curate_documents(
        _docs(spark), **_example_chain(), with_funnel=True
    )
    n = res.df.count()
    assert n == res.funnel["source_cap"] > 0
    assert _persistent_rdds(spark) - before  # the survivors are stored
    res.release()
    assert not _persistent_rdds(spark) - before
    res.release()  # idempotent
    assert not _persistent_rdds(spark) - before


def test_curation_df_unusable_after_release(spark):
    """The documented post-release contract: the curated frame reads
    through the last landed stage, which has no lineage — after
    release() an action on it fails instead of recomputing."""
    from sslr_spark.curation import CurationResult, curate_documents

    assert "can no longer be evaluated" in " ".join(
        CurationResult.__doc__.split()
    )
    res = curate_documents(
        _docs(spark), **_example_chain(near_dup=False)
    )
    assert res.df.count() > 0
    res.release()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        res.df.count()


def test_run_curation_leaves_nothing_persisted(spark, tmp_path):
    """Session hygiene: back-to-back run_curation calls in one
    long-lived session leave no persisted RDD and no cached Dataset
    behind, without any release_caches() by the caller."""
    import dataclasses

    from sslr_spark.curation import CurationConfig, run_curation
    from sslr_spark.functions.dedup import release_caches
    from sslr_spark.sources.parquet import ParquetDatabase

    ParquetDatabase(spark, str(tmp_path / "in")).overwrite(
        "documents", _docs(spark)
    )
    kw = _example_chain()
    cfg = CurationConfig(
        source=str(tmp_path / "in"), output=str(tmp_path / "out"),
        **{f.name: kw[f.name] for f in dataclasses.fields(CurationConfig)
           if f.name in kw},
    )
    release_caches()
    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    reports = [run_curation(spark, cfg) for _ in range(3)]
    assert reports[0] == reports[1] == reports[2]
    assert reports[0]["written_rows"] > 0
    assert not _persistent_rdds(spark) - before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_curate_embeddings_codebooks_survive_dedup(spark):
    """Stage-threading property: the PQ codebooks must derive from
    the ORIGINAL frame — if semantic dedup drops a codebook vector
    (planted here: vector 100 duplicates vector 0, and 100 is a
    codebook id), the surviving corpus still encodes against the full
    codebook and the manifest counts only survivors."""
    import numpy as np

    from sslr_spark.curation import curate_embeddings

    rng = np.random.RandomState(5)
    X = rng.randn(140, 64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    X[100] = X[0]  # duplicate: the HIGHER id (a codebook id) drops
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(140)],
        "vec_id long, embedding array<float>",
    )
    out = curate_embeddings(
        emb,
        centroid_ids=[1, 2, 3, 4],
        codebook_ids=list(range(96, 112)),
        threshold=0.999,
        m=8,
        max_block_size=None,
    ).collect()
    assert sum(r.n_vectors for r in out) == 139  # exactly one dropped
    assert all(r.code_digest >= 0 for r in out)
