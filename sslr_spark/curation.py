"""End-to-end curation pipeline: the LLM-data counterpart of the sync
job — chain the engine's curation operators over a documents table in
one declarative call, in the order production pretraining pipelines
run them:

  1. rule filter   — Gopher rule battery (text.py gopher_flags.keep)
  2. exact dedup   — content-hash keeper (dedup.py exact_dedup_groups)
  3. near dedup    — optional MinHash-LSH pass (dedup.py
                     minhash_lsh_pairs -> dup_clusters_star ->
                     cluster_keep_best, longest member kept): exact
                     dedup only removes byte-identical copies; the
                     re-crawls and boilerplate variants production
                     pipelines fight need the near-dup stage
  4. quality gate  — per-language exact-quantile model-score cut
                     (quality_model.py quality_quantile_gate),
                     thresholds computed over the SURVIVORS of the
                     earlier stages (gating before dedup would let
                     duplicate clusters distort the distribution)
  5. source cap    — at most N docs per source (sampling.py source_cap)
  6. shard assign  — deterministic export shards (sampling.py
                     shard_assign)

Every stage is the already-verified operator — this module adds only
the composition, so the whole pipeline stays hash-exact end-to-end
(the x_curation_pipeline driver key replays all five stages as one
DuckDB CTE chain).

Scale shape: each stage lands its survivors once, behind a
plan-truncating local checkpoint (dedup.py ``land``), and the next
stage plans and runs against that single leaf. Composed lazily,
every stage that derives a keep-set from the survivors and semi-joins
it back would multiply the plan (240 leaves and 223 joins with
near-dup on, re-analyzed and re-run for every funnel count and the
write). Within a stage Catalyst still sees the whole stage, so column
pruning reaches the scan and the narrow rule filters run before any
shuffle; the expensive stages keep their individual 100 TB shapes
(hash-shuffle dedup, bounded-histogram gate, per-source window cap).
The optional funnel report counts each landed frame and is off by
default.

Trade-offs of landing: a landed stage has no lineage, so a block lost
with its executor fails the job instead of recomputing (the star-CC
rounds already imposed this on the near-dup stage); and once
:meth:`CurationResult.release` ran, the curated frame can no longer be
evaluated.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sslr_spark.config import ConfigError
from sslr_spark.functions.dedup import CacheOwner, exact_dedup_groups, land
from sslr_spark.functions.quality_model import quality_quantile_gate
from sslr_spark.functions.sampling import shard_assign, source_cap
from sslr_spark.functions.text import gopher_flags


@dataclass
class CurationConfig:
    """Declarative curation job: the LLM-pipeline twin of the sync
    engine's JSON config — same unknown-key-rejection ethos
    (reference internal/config.go:97-113), run via
    ``python -m sslr_spark -curate cfg.json``."""

    source: str = ""            # parquet dir holding the input table
    output: str = ""            # parquet dir the curated table lands in
    table: str = "documents"
    output_table: str = "curated"
    quality_weights: list[float] = field(default_factory=list)
    quality_bias: float = 0.0
    keep_fraction: float = 0.6
    lm_keep_fraction: float | None = None
    lm_vocab_size: int = 50_000
    dsir_keep_fraction: float | None = None
    dsir_target_source: str = ""
    dsir_buckets: int = 1024
    max_per_source: int | None = None
    n_shards: int | None = 16
    mojibake: bool = False
    blocklist: list[str] = field(default_factory=list)
    blocklist_max_ppm: int = 0
    gopher: bool = True
    exact_dedup: bool = True
    near_dup: bool = False
    near_dup_threshold: float = 0.5
    near_dup_hash_mode: str = "portable"
    near_dup_max_doc_freq: int | None = None
    text_column: str = "text"
    key_column: str = "doc_id"
    lang_column: str = "lang"
    source_column: str = "source"


_KNOWN_CURATION = {
    "source", "output", "table", "outputTable", "qualityWeights",
    "qualityBias", "keepFraction", "maxPerSource", "nShards", "gopher",
    "exactDedup", "nearDup", "nearDupThreshold", "nearDupHashMode",
    "nearDupMaxDocFreq", "textColumn", "keyColumn", "langColumn",
    "sourceColumn", "mojibake", "blocklist", "blocklistMaxPpm",
    "lmKeepFraction", "lmVocabSize",
    "dsirKeepFraction", "dsirTargetSource", "dsirBuckets",
}


def load_curation_config(path_or_text: str) -> CurationConfig:
    """JSON file path or JSON string -> validated CurationConfig.
    Unknown keys reject loudly; quality weights/bias are required when
    the gate is on (keepFraction < 1) because silent default weights
    would silently change which documents survive."""
    import json

    text = path_or_text
    if not path_or_text.lstrip().startswith("{"):
        with open(path_or_text, encoding="utf-8") as f:
            text = f.read()
    raw: dict[str, Any] = json.loads(text)
    raw = {k: v for k, v in raw.items() if not k.startswith("/*")}
    unknown = set(raw) - _KNOWN_CURATION
    if unknown:
        raise ConfigError(f"unknown curation config key(s): {sorted(unknown)}")
    for req in ("source", "output"):
        if not raw.get(req):
            raise ConfigError(f"curation config requires {req!r}")
    cfg = CurationConfig(
        source=raw["source"],
        output=raw["output"],
        table=raw.get("table", "documents"),
        output_table=raw.get("outputTable", "curated"),
        quality_weights=[float(w) for w in raw.get("qualityWeights", [])],
        quality_bias=float(raw.get("qualityBias", 0.0)),
        keep_fraction=float(raw.get("keepFraction", 0.6)),
        lm_keep_fraction=(
            float(raw["lmKeepFraction"])
            if raw.get("lmKeepFraction") is not None else None
        ),
        lm_vocab_size=int(raw.get("lmVocabSize", 50_000)),
        dsir_keep_fraction=(
            float(raw["dsirKeepFraction"])
            if raw.get("dsirKeepFraction") is not None else None
        ),
        dsir_target_source=str(raw.get("dsirTargetSource", "")),
        dsir_buckets=int(raw.get("dsirBuckets", 1024)),
        max_per_source=raw.get("maxPerSource"),
        n_shards=raw.get("nShards", 16),
        mojibake=bool(raw.get("mojibake", False)),
        blocklist=[str(w) for w in raw.get("blocklist", [])],
        blocklist_max_ppm=int(raw.get("blocklistMaxPpm", 0)),
        gopher=bool(raw.get("gopher", True)),
        exact_dedup=bool(raw.get("exactDedup", True)),
        near_dup=bool(raw.get("nearDup", False)),
        near_dup_threshold=float(raw.get("nearDupThreshold", 0.5)),
        near_dup_hash_mode=raw.get("nearDupHashMode", "portable"),
        near_dup_max_doc_freq=raw.get("nearDupMaxDocFreq"),
        text_column=raw.get("textColumn", "text"),
        key_column=raw.get("keyColumn", "doc_id"),
        lang_column=raw.get("langColumn", "lang"),
        source_column=raw.get("sourceColumn", "source"),
    )
    if cfg.keep_fraction < 1.0 and len(cfg.quality_weights) != 4:
        raise ConfigError(
            "qualityWeights must list exactly 4 weights (n_tokens, "
            "n_subtokens, stopword_ratio, mean_word_len) when "
            "keepFraction < 1"
        )
    if not 0.0 < cfg.keep_fraction <= 1.0:
        raise ConfigError(
            f"keepFraction must be in (0, 1], got {cfg.keep_fraction}"
        )
    if cfg.dsir_keep_fraction is not None and not cfg.dsir_target_source:
        raise ConfigError(
            "dsirKeepFraction requires dsirTargetSource — a DSIR gate "
            "without a target distribution silently keeps everything"
        )
    return cfg


def run_curation(spark, cfg: CurationConfig) -> dict:
    """Execute a CurationConfig end-to-end: read the input table, run
    :func:`curate_documents` with the funnel on, write the curated
    table atomically, and return the report (per-stage survivor
    counts + written rows)."""
    from sslr_spark.sources.parquet import ParquetDatabase

    src = ParquetDatabase(spark, cfg.source)
    out = ParquetDatabase(spark, cfg.output)
    res = curate_documents(
        src.read(cfg.table),
        quality_weights=cfg.quality_weights,
        quality_bias=cfg.quality_bias,
        keep_fraction=cfg.keep_fraction,
        max_per_source=cfg.max_per_source,
        n_shards=cfg.n_shards,
        gopher=cfg.gopher,
        exact_dedup=cfg.exact_dedup,
        near_dup=cfg.near_dup,
        near_dup_threshold=cfg.near_dup_threshold,
        near_dup_hash_mode=cfg.near_dup_hash_mode,
        near_dup_max_doc_freq=cfg.near_dup_max_doc_freq,
        mojibake=cfg.mojibake,
        blocklist=cfg.blocklist or None,
        blocklist_max_ppm=cfg.blocklist_max_ppm,
        lm_keep_fraction=cfg.lm_keep_fraction,
        lm_vocab_size=cfg.lm_vocab_size,
        dsir_keep_fraction=cfg.dsir_keep_fraction,
        dsir_target_source=cfg.dsir_target_source,
        dsir_buckets=cfg.dsir_buckets,
        text_col=cfg.text_column,
        key_col=cfg.key_column,
        lang_col=cfg.lang_column,
        source_col=cfg.source_column,
        with_funnel=True,
    )
    out.overwrite(cfg.output_table, res.df)
    rows = out.table_rows(cfg.output_table)
    res.release()  # final action done — free every landed stage
    return {"funnel": res.funnel, "written_rows": rows}


@dataclass
class CurationResult:
    """Final curated frame plus (optionally) per-stage survivor
    counts in pipeline order.

    ``df`` reads through the last stage's landed survivors, stored in
    executor memory (spilling to disk). Call :meth:`release` after
    the final action on ``df`` — otherwise the blocks live until the
    frame is garbage-collected. After ``release()``, ``df`` can no
    longer be evaluated: there is no lineage to recompute it from."""

    df: DataFrame
    funnel: dict[str, int] = field(default_factory=dict)
    _owner: CacheOwner = field(default_factory=CacheOwner, repr=False)

    def release(self) -> None:
        """Free every block the curation call still holds: the landed
        survivors and any cache its operators registered. Idempotent."""
        self._owner.release()


def curate_documents(
    df: DataFrame,
    *,
    quality_weights: list[float],
    quality_bias: float,
    keep_fraction: float = 0.6,
    max_per_source: int | None = None,
    n_shards: int | None = 16,
    gopher: bool = True,
    exact_dedup: bool = True,
    near_dup: bool = False,
    near_dup_threshold: float = 0.5,
    near_dup_hash_mode: str = "portable",
    near_dup_max_doc_freq: int | None = None,
    mojibake: bool = False,
    blocklist: list[str] | None = None,
    blocklist_max_ppm: int = 0,
    lm_keep_fraction: float | None = None,
    lm_vocab_size: int = 50_000,
    dsir_keep_fraction: float | None = None,
    dsir_target_source: str = "",
    dsir_buckets: int = 1024,
    text_col: str = "text",
    key_col: str = "doc_id",
    lang_col: str = "lang",
    source_col: str = "source",
    with_funnel: bool = False,
) -> CurationResult:
    """Run the standard curation chain over a documents frame.

    Returns the curated rows as (key, lang, source[, shard]). Stages
    toggle independently; ``with_funnel`` additionally counts
    survivors after each stage (one aggregate per stage — leave off
    in production and read counts from the shard manifest instead).
    """
    if keep_fraction is not None and not 0.0 < keep_fraction <= 1.0:
        raise ValueError(
            f"keep_fraction must be in (0, 1], got {keep_fraction}"
        )
    if dsir_keep_fraction is not None and not dsir_target_source:
        raise ValueError("dsir_keep_fraction requires dsir_target_source")

    # the stage operators (gopher_flags, exact_dedup_groups,
    # quality_quantile_gate) key their outputs on 'doc_id'; thread a
    # caller key through by renaming at the boundary (and back below)
    if key_col != "doc_id":
        if "doc_id" in df.columns:
            raise ValueError(
                f"key_col={key_col!r} conflicts with an existing "
                "'doc_id' column — the stage operators key on doc_id"
            )
        df = df.withColumnRenamed(key_col, "doc_id")
    kc = "doc_id"
    funnel: dict[str, int] = {}
    # every cache and landing the stages make is recorded here, so the
    # result frees exactly its own blocks
    owner = CacheOwner()

    def landed(name: str, frame: DataFrame) -> DataFrame:
        # stage boundary: store the survivors, then free everything the
        # stage built on the way (its caches, the previous landing)
        frame = land(frame)
        owner.release(keep=frame)
        if with_funnel:
            funnel[name] = frame.count()
        return frame

    with owner:
        raw = cur = df.select(kc, lang_col, source_col, text_col)
        if with_funnel:
            funnel["input"] = cur.count()

        if mojibake:
            # encoding screen FIRST: a mis-decoded doc poisons every
            # later heuristic (gopher word shapes, dedup shingles, the
            # quality model's features), so it must not even reach them.
            # Shape note: the rule stages semi-join a keep-id frame
            # instead of filtering on the bare-column mojibake_keep /
            # gopher_keep helpers. Round 9 measured that form when the
            # survivor frame fed several subtrees of one composed plan
            # (warm A/B at sf0.1, full chain: 3.0-3.2 s semi vs
            # 3.9-5.5 s fused — the fused predicate re-ran its token
            # lambdas in every consumer). Each stage now lands, so the
            # survivors have one consumer, the case the bare-column
            # helpers are meant for; the semi join stays until an A/B
            # under landing says otherwise.
            from sslr_spark.functions.text import mojibake_flags

            mk = mojibake_flags(df, text_col).filter("keep").select(kc)
            cur = landed("mojibake", cur.join(mk, kc, "left_semi"))

        if gopher:
            keep = gopher_flags(df, text_col).filter("keep").select(kc)
            cur = landed("gopher", cur.join(keep, kc, "left_semi"))

        if blocklist:
            # content-policy gate after the structural rules, before any
            # dedup work is spent on rows the policy will drop anyway
            from sslr_spark.functions.text import blocklist_filter

            bk = (
                blocklist_filter(
                    cur, blocklist, text_col, max_banned_ppm=blocklist_max_ppm
                )
                .filter("keep")
                .select(kc)
            )
            cur = landed("blocklist", cur.join(bk, kc, "left_semi"))

        if exact_dedup:
            keepers = exact_dedup_groups(cur, text_col).select(
                F.col("keep_id").alias(kc)
            )
            cur = landed("exact_dedup", cur.join(keepers, kc, "left_semi"))

        if near_dup:
            # MinHash-LSH over the exact-dedup survivors: banded
            # equi-join candidates, Jaccard-verified pairs, O(log n) star
            # clustering, longest-member keeper (ties -> smallest key).
            # Only the cluster LOSERS leave — docs with no near-dup pass
            # untouched.
            from sslr_spark.functions.dedup import (
                cluster_keep_best,
                dup_clusters_star,
                minhash_lsh_pairs,
            )

            # the stage reads its input from several subtrees (shingle
            # pairs, keeper scoring, the anti-join): it must be stored,
            # which it is whenever an earlier stage ran
            if cur is raw:
                cur = land(cur)
            # hash_mode/doc-freq-cap: the same portable-for-oracle /
            # fast-for-production split the rest of the dedup family uses
            pairs = minhash_lsh_pairs(
                cur, text_col,
                jaccard_threshold=near_dup_threshold,
                hash_mode=near_dup_hash_mode,
                max_shingle_doc_freq=near_dup_max_doc_freq,
            )
            clusters = dup_clusters_star(pairs)
            best = cluster_keep_best(clusters, cur, F.length(F.col(text_col)))
            losers = (
                clusters.join(best.select("cluster_id", "keep_id"), "cluster_id")
                .filter(F.col(kc) != F.col("keep_id"))
                .select(kc)
            )
            cur = landed("near_dup", cur.join(losers, kc, "left_anti"))

        if keep_fraction is not None and keep_fraction < 1.0:
            kept = quality_quantile_gate(
                cur,
                keep_fraction,
                by=lang_col,
                text_col=text_col,
                weights=quality_weights,
                bias=quality_bias,
            ).select(kc)
            cur = landed("quality_gate", cur.join(kept, kc, "left_semi"))

        if lm_keep_fraction is not None:
            # CCNet-style LM stage AFTER the heuristic gate: the bigram
            # model trains on THIS stage's survivors (garbage already
            # gone, so the model learns the clean distribution) and cuts
            # the bottom of the per-language perplexity distribution
            from sslr_spark.functions.quality_model import lm_quality_gate

            lm_kept = lm_quality_gate(
                cur, lm_keep_fraction, by=lang_col, text_col=text_col,
                vocab_size=lm_vocab_size,
            ).select(kc)
            cur = landed("lm_gate", cur.join(lm_kept, kc, "left_semi"))

        if dsir_keep_fraction is not None:
            # DSIR domain-selection LAST among the content gates: it
            # re-weights the already-clean pool toward the target
            # distribution (the paper selects from a pre-filtered raw
            # set), and both its distributions fit on survivors — the
            # raw fit on this stage's pool, the target fit on the
            # target-source docs still standing after the same cleaning,
            # so a garbage doc inside the target source can't teach the
            # gate that garbage is on-target.
            from sslr_spark.functions.sampling import dsir_gate

            d_kept = dsir_gate(
                cur,
                cur.filter(F.col(source_col) == dsir_target_source),
                dsir_keep_fraction,
                text_col=text_col,
                n_buckets=dsir_buckets,
            ).select(kc)
            cur = landed("dsir_gate", cur.join(d_kept, kc, "left_semi"))

        if max_per_source is not None:
            cur = landed(
                "source_cap", source_cap(cur, source_col, max_per_source, kc)
            )

    out = cur.select(kc, lang_col, source_col)
    if n_shards:
        out = shard_assign(out, n_shards, kc)
    if key_col != kc:
        out = out.withColumnRenamed(kc, key_col)
    return CurationResult(out, funnel, owner)


def curate_embeddings(
    df: DataFrame,
    centroid_ids: list[int],
    codebook_ids: list[int],
    threshold: float = 0.8,
    m: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_block_size: int | None = 100_000,
    dedup_mode: str = "portable",
) -> DataFrame:
    """The EMBEDDING-side curation chain, composed like
    :func:`curate_documents` composes the text side: SemDeDup-style
    semantic dedup (drop vectors whose cosine to a lower-id vector of
    the same coarse cell reaches ``threshold``) -> PQ-encode the
    survivors -> per-cell index manifest (vector count + order-free
    integer code digest). This is the offline pass that turns a raw
    embedding table into a servable ANN index: dedup first (duplicate
    vectors waste code budget and skew cells), encode once, manifest
    per cell for partition-pruned serving.

    Every stage is the already-verified operator (dedup.py
    semantic_dedup, similarity.py pq_encode_fixed); this composes
    them LAZILY into one plan. The manifest is bounded (n_cells
    rows); the code digest is a SUM of per-vector code sums — integer
    and order-free, so the whole composition hash-checks end-to-end.

    Scale shape: cell assignment and encode are pure per-row maps;
    the dedup pair join is blocked per cell (``max_block_size``
    guard); the manifest is one map-side-combined aggregate."""
    from sslr_spark.functions.dedup import semantic_dedup
    from sslr_spark.functions.similarity import (
        _codebooks_from_ids,
        pq_encode_with_books,
    )

    flags = semantic_dedup(
        df, centroid_ids, threshold, vec_col, max_block_size,
        mode=dedup_mode,
    )
    survivors = df.join(
        flags.filter(~F.col("is_dup")).select(id_col, "cell"), id_col
    )
    # codebooks derive from the ORIGINAL frame: dedup may drop a
    # codebook vector, and the codebook must not depend on which
    # near-duplicates happened to survive
    books, _ = _codebooks_from_ids(df, codebook_ids, m, vec_col, id_col)
    encoded = pq_encode_with_books(survivors, books, vec_col)
    code_sum = F.aggregate(
        F.col("__codes"),
        F.lit(0).cast("long"),
        lambda acc, c: acc + c.cast("long"),
    )
    return (
        encoded.withColumn("__csum", code_sum)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("__csum").alias("code_digest"),
        )
    )


def crawl_epoch(
    candidates: DataFrame,
    robots: DataFrame,
    pages: DataFrame,
    ranks: DataFrame,
    agent: str = "*",
    per_host_cap: int = 20,
    top_n: int = 150,
    n_shards: int = 8,
) -> DataFrame:
    """One crawl refresh epoch, end to end (VERDICT r9 item 5) — the
    composition of the already-verified crawl operators in the order
    a production crawl runs them:

      1. robots gate       — robots.robots_rules + robots_allowed
      2. frontier schedule — graph.crawl_frontier (URL-set dedup,
                             per-host politeness cap, authority cut)
         + fetch-offset plan (robots.robots_crawl_delay: each URL's
         earliest Crawl-delay-honoring in-batch fetch time)
      3. ingest            — ``pages`` is the fetch boundary: (url,
                             html) rows, in production the WARC store
                             (sources/warc.py read_warc ->
                             split_http_payload), joined on url
      4. extract           — text.html_to_text regex cascade
      5. URL dedup         — urls.canonical_url collapse (the messy
                             twin a crawl re-discovers under casing /
                             default ports / fragments), smallest raw
                             URL survives
      6. content dedup     — exact text collapse across canonical
                             URLs (same page served at two paths),
                             smallest URL survives; commutes with the
                             gate (verdict depends only on text) but
                             runs first so the kept representative is
                             dedup-stable
      7. quality gate      — text.gopher_keep over the EXTRACTED text
      8. shard manifest    — sampling.shard_manifest keyed on url,
                             checksum covering (url, text,
                             fetch_offset_s, rank_micros)

    Scale shape: each shuffle re-keys on a genuinely new key — host
    (politeness window), canonical_url, text, shard hash — none
    repartitions what a prior stage already partitioned; stages 1, 4
    and 7 are narrow codegen expressions fused into the adjacent
    scans, and the frontier cut bounds every downstream stage at
    ``top_n`` rows. ``pages`` joins on url AFTER the cut, so at
    100 TB the fetch store is probed for only the scheduled batch
    (broadcast the top_n schedule against the store, never the
    reverse).

    Output: the epoch's export manifest — ``n_shards`` rows of
    (shard, n_rows, n_keys, min_key, max_key, content_sum).
    """
    from pyspark.sql import Window

    from sslr_spark.functions.graph import crawl_frontier
    from sslr_spark.functions.robots import (
        robots_allowed,
        robots_crawl_delay,
        robots_rules,
    )
    from sslr_spark.functions.sampling import shard_manifest
    from sslr_spark.functions.text import gopher_keep, html_to_text
    from sslr_spark.functions.urls import canonical_url, url_host

    allowed = (
        robots_allowed(
            candidates.select("url"), robots_rules(robots, agent=agent)
        )
        .filter(F.col("allowed"))
        .select("url", url_host(F.col("url")).alias("host"))
    )
    schedule = crawl_frontier(
        allowed,
        ranks,
        per_host_cap=per_host_cap,
        top_n=top_n,
        delays=robots_crawl_delay(robots, agent=agent),
    )
    # the fetch store (pages) is the 100 TB side; the schedule is
    # top_n rows by construction — broadcast it so the store is
    # probed without a shuffle (the docstring's "broadcast the top_n
    # schedule against the store, never the reverse")
    extracted = pages.join(F.broadcast(schedule), "url").select(
        "url",
        "rank_micros",
        "fetch_offset_s",
        html_to_text(F.col("html")).alias("text"),
    )
    w_url = Window.partitionBy("canonical_url").orderBy("url")
    url_deduped = (
        extracted.withColumn("canonical_url", canonical_url(F.col("url")))
        .withColumn("__rn", F.row_number().over(w_url))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "canonical_url")
    )
    w_txt = Window.partitionBy("text").orderBy("url")
    content_deduped = (
        url_deduped.withColumn("__rn", F.row_number().over(w_txt))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    gated = content_deduped.filter(gopher_keep("text"))
    return shard_manifest(
        gated,
        n_shards,
        key_col="url",
        content_cols=["url", "text", "fetch_offset_s", "rank_micros"],
    )
