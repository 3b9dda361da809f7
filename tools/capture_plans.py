"""Capture .explain("formatted") output for bench sections / queries.

Usage: python tools/capture_plans.py <outdir> <suffix> [name ...]

Writes <outdir>/<name>_<suffix>.txt for each requested name. Names
cover the declared query keys (queries()[name]) plus the bench-only
compositions (curation_neardup, incr_update slice, ...) that have no
single query key. A plan is captured from the frame a name builds,
and building it runs every job its construction needs: PQ codebook
staging, the connected-components rounds of dup_clusters_star,
and every curation stage, each of which lands its
survivors (so a curation capture shows the final projection over the
last landed stage, not the stages themselves).
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def formatted(df) -> str:
    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def bench_sections(spark) -> dict:
    """Lazily-constructed DataFrames matching bench.py's timed
    sections that are not declared query keys."""
    from pyspark.sql import functions as F

    from sslr_spark.curation import curate_documents
    from sslr_spark.functions import dedup as DD
    from sslr_spark.functions.dedup import image_phash_clusters
    from sslr_spark.functions.multimodal import (
        dhash64,
        synthesize_images_dhash,
    )
    from sslr_spark.queries_ext import _QW

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    out = {}
    out["curation_neardup"] = lambda: curate_documents(
        docs,
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
    ).df
    out["dedup_minhash_lsh"] = lambda: DD.minhash_lsh_pairs(
        docs, hash_mode="fast", max_shingle_doc_freq=250
    )
    out["dedup_simhash"] = lambda: DD.simhash_pairs(docs, hash_mode="fast")
    out["dedup_containment"] = lambda: DD.ngram_containment_pairs(
        docs, threshold=0.4, max_shingle_doc_freq=250
    )
    out["jaccard_prefix"] = lambda: DD.ngram_jaccard_pairs_prefix(
        docs, threshold=0.8, max_shingle_doc_freq=100
    )
    out["incremental_dedup"] = lambda: DD.incremental_exact_dedup(
        docs.filter(F.col("doc_id") % 10 == 0), docs, m=1 << 20
    ).filter("in_corpus")
    out["image_phash_clusters"] = lambda: image_phash_clusters(
        dhash64(synthesize_images_dhash(docs)), max_hamming=4
    )
    return out


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entrymod
    from sslr_spark.functions import dedup as DD
    from sslr_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    queries = entrymod.queries()
    bench = bench_sections(spark)
    for name in names:
        try:
            if name in bench:
                df = bench[name]()
            else:
                df = queries[name](spark, SF_DIR)
            text = formatted(df)
        except Exception as e:  # keep going; report at the end
            print(f"FAIL {name}: {e}")
            continue
        finally:
            DD.release_caches()
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_ex = text.count("Exchange")
        joins = [
            j for j in ("BroadcastHashJoin", "SortMergeJoin",
                        "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                        "CartesianProduct")
            if j in text
        ]
        py = [
            p for p in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                        "MapInPandas", "FlatMapGroupsInPandas")
            if p in text
        ]
        print(f"ok   {name}: {n_ex} Exchange, joins={joins}, python={py}")


if __name__ == "__main__":
    main()
