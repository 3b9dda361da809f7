"""Tests for the dedup cache registry: every cache and landing an
operator stores has one owner, and only that owner frees it."""

from __future__ import annotations

import pytest

from tests.test_plans import SF


@pytest.fixture(scope="module")
def docs(spark):
    # materialized here, so the tests' stored-block deltas see only
    # the blocks the operators under test make
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    return df


def _stored(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_dedup_caches_released(spark, docs):
    """The pair generators must not leak persisted RDDs across calls
    (a leaked shingle cache at 100 TB is an executor OOM)."""
    from sslr_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        release_caches,
    )

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_cached()
    minhash_lsh_pairs(docs).count()
    after_first = n_cached()
    # a second call releases the first call's caches before persisting
    # its own — no accumulation
    ngram_jaccard_pairs(docs, threshold=0.5).count()
    assert n_cached() <= after_first
    release_caches()
    assert n_cached() <= base


@pytest.mark.slow
def test_cache_scope_keeps_interleaved_caches_live(spark, docs):
    """Inside cache_scope() a later generator call must NOT release an
    earlier call's caches (interleaved pipelines keep their shingle
    index); scope exit releases everything."""
    from sslr_spark.functions.dedup import (
        cache_scope,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_cached()
    with cache_scope():
        a = minhash_lsh_pairs(docs)
        assert a.count() >= 0  # materializes a's shingle-index cache
        after_a = n_cached()
        assert after_a > base
        b = ngram_jaccard_pairs(docs, threshold=0.5)
        assert b.count() >= 0
        # b's entry did NOT evict a's still-live caches
        assert n_cached() >= after_a
    assert n_cached() <= base


def test_standalone_gates_hold_one_cache(spark):
    """A gate frees the previous call's scored cache on entry, as the
    pair generators do: three gates on three inputs leave one."""
    from sslr_spark.functions.dedup import release_caches
    from sslr_spark.functions.quality_model import quality_quantile_gate

    release_caches()
    before = _stored(spark)
    for n in (10, 20, 30):
        df = spark.createDataFrame(
            [(i, "a", "w " * (i + 2)) for i in range(n)],
            "doc_id long, lang string, text string",
        )
        assert quality_quantile_gate(
            df, keep_fraction=0.5, by="lang",
            weights=[0.5, 0.0, 0.0, 0.0], bias=-2.0,
        ).count() > 0
    assert len(_stored(spark) - before) <= 1
    release_caches()
    assert not _stored(spark) - before


def test_cache_scope_inside_owner_keeps_owner_caches(spark, docs):
    """cache_scope() frees only what was stored inside it: the
    enclosing owner's earlier caches stay held and stored."""
    from sslr_spark.functions.dedup import (
        CacheOwner,
        cache_scope,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    owner = CacheOwner()
    with owner:
        assert minhash_lsh_pairs(docs).count() >= 0
        held = list(owner.dfs)
        assert held
        before_scope = _stored(spark)
        with cache_scope():
            # n=4: a shingle plan of its own, not the owner's cached one
            assert ngram_jaccard_pairs(docs, n=4, threshold=0.5).count() >= 0
        assert not _stored(spark) - before_scope
    try:
        assert len(owner.dfs) == len(held)
        assert all(df.storageLevel.useMemory for df in held)
    finally:
        owner.release()
    assert not any(df.storageLevel.useMemory for df in held)


def test_bpe_train_rounds_are_owned(spark):
    """bpe_train lands its rounds with the current owner and frees
    each superseded vocabulary: only the rules' landings stay stored,
    and release_caches() frees those too."""
    from sslr_spark.functions.dedup import release_caches
    from sslr_spark.functions.text import bpe_train

    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "newer newest wider")],
        "doc_id long, text string",
    )
    release_caches()
    before = _stored(spark)
    rules = bpe_train(df, n_merges=4)
    assert rules.count() == 4
    assert len(_stored(spark) - before) == 4  # one landing per rule
    release_caches()
    assert not _stored(spark) - before


def test_freed_landings_do_not_warn_root_stays_warn(spark):
    """Freeing a landing is intended, so the session raises the one
    logger that warns about it ("locally checkpointed ... cannot be
    recomputed after unpersisting") to ERROR; the root stays WARN."""
    log_manager = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager
    landing = log_manager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
    assert landing.getLevel().toString() == "ERROR"
    assert log_manager.getRootLogger().getLevel().toString() == "WARN"


# the registry's own functions in functions/dedup.py: the only code in
# sslr_spark that may call Spark's storage methods
_REGISTRY = {
    "CacheOwner", "persist", "land", "_unpersist_rdd", "_unland",
    "release_caches", "cache_scope", "_entry_release",
}
_STORAGE_CALLS = {"persist", "cache", "unpersist", "localCheckpoint"}


def _storage_calls_outside_registry(path, in_registry_module: bool):
    import ast

    found = []

    def visit(node, registry_scope):
        for child in ast.iter_child_nodes(node):
            scope = registry_scope
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and isinstance(node, ast.Module):
                scope = in_registry_module and child.name in _REGISTRY
            if (
                not scope
                and isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in _STORAGE_CALLS
            ):
                found.append(f"{path}:{child.lineno} .{child.func.attr}(")
            visit(child, scope)

    visit(ast.parse(path.read_text()), False)
    return found


def test_no_storage_call_outside_registry():
    """Every frame sslr_spark stores goes through the dedup registry
    (persist / land under a CacheOwner): no .persist(), .cache(),
    .unpersist() or localCheckpoint() call anywhere else."""
    from pathlib import Path

    import sslr_spark

    root = Path(sslr_spark.__file__).parent
    registry = root / "functions" / "dedup.py"
    found = []
    for path in sorted(root.rglob("*.py")):
        found += _storage_calls_outside_registry(path, path == registry)
    assert not found, found


def test_two_forms_persist_keeps_lineage_land_truncates(spark):
    """The registry's two physical forms: a persisted frame keeps its
    lineage and recomputes once its owner frees it; a landed frame
    plans as one leaf and cannot be evaluated after the owner frees
    it."""
    from sslr_spark.functions.dedup import CacheOwner, land, persist

    owner = CacheOwner()
    with owner:
        kept = persist(spark.range(10).selectExpr("id * 2 AS v"))
        assert kept.count() == 10
        landed = land(spark.range(10).selectExpr("id * 3 AS v"))
    assert len(owner.dfs) == 1 and len(owner.rdds) == 1
    assert "LogicalRDD" in landed._jdf.queryExecution().analyzed().toString()
    owner.release()
    assert not kept.storageLevel.useMemory
    assert kept.count() == 10
    with pytest.raises(Exception):
        landed.count()
