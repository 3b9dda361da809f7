"""Extension operator catalog: dedup / similarity / text analysis /
multimodal queries with DuckDB oracle SQL (driver contract additions
beyond the reference surface — SURVEY §7 phase 5).

Oracle parity rules: identical hash formulas (see functions/hashing),
double-forced index-ordered float folds, round(6) on similarity
scores, split-then-filter word matching (no regex overlap ambiguity).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sslr_spark.functions import dedup as D
from sslr_spark.functions import multimodal as M
from sslr_spark.functions import similarity as S
from sslr_spark.functions import text as X
from sslr_spark.functions.hashing import h60_sql
from sslr_spark.functions.sampling import split_bucket_sql


def _fresh_bench_dir(prefix: str) -> str:
    """A unique work dir under .bench_tmp for queries that need real
    I/O (streaming targets, file-drop round trips): unique per
    invocation because the driver may run two sessions concurrently
    against this checkout, with stale dirs from past runs (> 6 h old —
    no live session is that old) swept so repeated correctness runs
    don't accumulate copies. Shared by every such query so sweep-logic
    fixes cannot drift between copies."""
    import os
    import shutil
    import time
    import uuid

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp_root = os.path.join(repo, ".bench_tmp")
    if os.path.isdir(tmp_root):
        cutoff = time.time() - 6 * 3600
        for d in os.listdir(tmp_root):
            p = os.path.join(tmp_root, d)
            try:
                if d.startswith(f"{prefix}-") and os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    return os.path.join(tmp_root, f"{prefix}-{uuid.uuid4().hex}")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# DuckDB building blocks -------------------------------------------------

# whitespace words with empty-text guard (matches functions.text.words)
W_SQL = (
    "case when length(trim(text)) = 0 then [] "
    "else string_split_regex(trim(text), '\\s+') end"
)

# words over coalesced text (null-as-empty operators: gopher, spans)
_GW = (
    "case when length(trim(coalesce(text, ''))) = 0 then [] "
    "else string_split_regex(trim(coalesce(text, '')), '\\s+') end"
)


def _shingles_cte(n: int = 3) -> str:
    return f"""
sh as (
  select distinct doc_id, unnest(
    list_transform(generate_series(1, len({W_SQL}) - {n - 1}),
                   i -> array_to_string(({W_SQL})[i:i+{n - 1}], ' '))
  ) as shingle
  from documents
)"""


_JACCARD_TAIL = """
sizes as (select doc_id, count(*) as n_sh from sh group by doc_id),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_common
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
)
select doc_a, doc_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) as jaccard
from inter
join sizes sa on sa.doc_id = doc_a
join sizes sb on sb.doc_id = doc_b
"""


# ------------------------------------------------------------------
# text analysis
# ------------------------------------------------------------------

def q_text_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex pre-tokens."""
    from pyspark.sql import functions as F

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n_tokens"),
        X.subtoken_count(F.col("text")).alias("n_subtokens"),
    )


SQL_TOKEN_COUNT = f"""
select doc_id,
       cast(len({W_SQL}) as bigint) as n_tokens,
       cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) as bigint)
         as n_subtokens
from documents
"""


def q_text_quality(spark, sf_dir):
    """Per-doc quality scoring (length / stopword-ratio / word-shape
    keep rule)."""
    return X.quality_metrics(_docs(spark, sf_dir))


_STOP_LIST = "[" + ", ".join(f"'{w}'" for w in X.STOPWORDS) + "]"

SQL_TEXT_QUALITY = f"""
with t as (
  select doc_id, {W_SQL} as w,
         cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) as bigint)
           as n_subtokens
  from documents
), m as (
  select doc_id,
         cast(len(w) as bigint) as n_tokens,
         n_subtokens,
         cast(len(list_filter(w, x -> list_contains({_STOP_LIST}, x))) as bigint) as n_stop,
         case when len(w) = 0 then 0.0
              else cast(list_sum(list_transform(w, x -> cast(length(x) as double))) as double) / len(w)
         end as mwl
  from t
)
select doc_id, n_tokens, n_subtokens,
       round(case when n_tokens = 0 then 0.0 else cast(n_stop as double) / n_tokens end, 6)
         as stopword_ratio,
       round(mwl, 6) as mean_word_len,
       (n_tokens >= 10 and mwl >= 2.0 and mwl <= 12.0) as keep
from m
"""

# "published" weights for the fixed-model scoring query (the trainer
# that produces such weights is train_quality_classifier — MLlib LR,
# equality-tested against this serving formula)
_QW = {"bias": -2.0, "n_tokens": 0.02, "n_subtokens": -0.005,
       "stopword_ratio": 3.0, "mean_word_len": 0.15}


def q_text_quality_score(spark, sf_dir):
    """Model-based quality score: sigmoid(w·x + b) with fixed
    published weights over the heuristic features — the serving path
    of the MLlib-trained classifier, pure JVM arithmetic."""
    from sslr_spark.functions.quality_model import quality_score

    return quality_score(
        _docs(spark, sf_dir),
        [_QW["n_tokens"], _QW["n_subtokens"], _QW["stopword_ratio"],
         _QW["mean_word_len"]],
        _QW["bias"],
    )


SQL_TEXT_QUALITY_SCORE = (
    "with q as (" + SQL_TEXT_QUALITY + f""")
select doc_id,
       round(1.0 / (1.0 + exp(-({_QW['bias']}
                               + {_QW['n_tokens']} * n_tokens
                               + {_QW['n_subtokens']} * n_subtokens
                               + {_QW['stopword_ratio']} * stopword_ratio
                               + {_QW['mean_word_len']} * mean_word_len))), 4)
         as score
from q
"""
)


def q_text_quality_gate(spark, sf_dir):
    """Distribution-calibrated quality gate (quality_model.py
    quality_quantile_gate): keep the top 60% of documents PER
    LANGUAGE by model score — per-group exact quantile thresholds
    from a bounded histogram (never a per-document window), ties at
    the threshold kept. The Gopher/CCNet-style per-language cut that
    a single global threshold gets wrong."""
    from sslr_spark.functions.quality_model import quality_quantile_gate

    return quality_quantile_gate(
        _docs(spark, sf_dir),
        keep_fraction=0.6,
        by="lang",
        weights=[_QW["n_tokens"], _QW["n_subtokens"], _QW["stopword_ratio"],
                 _QW["mean_word_len"]],
        bias=_QW["bias"],
    )


SQL_TEXT_QUALITY_GATE = f"""
with s as (
  select q.doc_id, d.lang,
         cast(floor(q.score * 1e4 + 0.5) as int) as score_bp
  from ({SQL_TEXT_QUALITY_SCORE}) q
  join documents d on d.doc_id = q.doc_id
),
h as (select lang, score_bp, count(*) as c from s group by 1, 2),
n as (select lang, count(*) as n from s group by 1),
cum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from h
),
thr as (
  select cum.lang, max(cum.score_bp) as threshold_bp
  from cum join n on n.lang = cum.lang
  where cum.cum >= ceil(0.6 * n.n)
  group by cum.lang
)
select s.doc_id, s.lang, s.score_bp, thr.threshold_bp
from s join thr on thr.lang = s.lang
where s.score_bp >= thr.threshold_bp
"""


def q_text_lang_id(spark, sf_dir):
    """Marker-word language-ID heuristic."""
    return X.lang_id(_docs(spark, sf_dir))


def _lang_sql() -> str:
    score_cols = []
    for lang, markers in sorted(X.LANG_MARKERS.items()):
        lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        score_cols.append(
            f"cast(len(list_filter(w, x -> list_contains({lst}, x))) as bigint) as s_{lang}"
        )
    langs = sorted(X.LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"case when best > 0 and s_{lang} = best then '{lang}' else {pred} end"
    return f"""
with t as (select doc_id, {W_SQL} as w from documents),
scored as (select doc_id, {', '.join(score_cols)} from t),
m as (select *, {greatest} as best from scored)
select doc_id, {pred} as pred_lang, best as marker_hits from m
"""


SQL_TEXT_LANG_ID = _lang_sql()


def q_text_langid_eval(spark, sf_dir):
    """Language-ID evaluation against the labeled ``lang`` column:
    confusion counts per (label, prediction) — the accuracy scan a
    pipeline runs before trusting the classifier as a filter. Scoring
    is per-doc JVM expressions; the confusion aggregation is one
    map-side-combined groupBy producing n_langs² rows."""
    docs = _docs(spark, sf_dir)
    pred = X.lang_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_TEXT_LANGID_EVAL = (
    "with p as (" + SQL_TEXT_LANG_ID + """)
select d.lang, p.pred_lang, count(*) as n_docs
from documents d join p on p.doc_id = d.doc_id
group by 1, 2
"""
)


def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting over normalized text."""
    return X.fingerprints(_docs(spark, sf_dir))


SQL_TEXT_FINGERPRINT = """
with n as (
  select doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) as norm
  from documents
)
select doc_id, md5(norm) as fp, md5(substring(norm, 1, 100)) as prefix_fp,
       cast(length(norm) as int) as norm_len
from n
"""


# ------------------------------------------------------------------
# dedup
# ------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: content-hash groups with keeper ids."""
    return D.exact_dedup_groups(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
select md5(text) as content_fp, count(*) as n_docs, min(doc_id) as keep_id
from documents group by 1
"""


def q_dedup_apply(spark, sf_dir):
    """Dedup application: keep only each content-group's keeper row
    (min doc_id) — the left-semi join a pipeline runs after dedup
    analysis. Keeper set is small relative to the corpus => broadcast."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    keepers = D.exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(F.broadcast(keepers), "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_DEDUP_APPLY = """
select doc_id, lang, source, n_chars from documents
where doc_id in (
  select min(doc_id) from documents group by md5(text)
)
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs via shingle inverted index."""
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.05)


SQL_DEDUP_NGRAM = (
    "with " + _shingles_cte(3) + "," + _JACCARD_TAIL + " where "
    "round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.05"
)


def q_dedup_jaccard_prefix(spark, sf_dir):
    """PPJoin-style prefix-filtered Jaccard pairs at threshold 0.5
    (dedup.py ngram_jaccard_pairs_prefix). The filter is LOSSLESS for
    jaccard >= t, so the oracle is the plain inverted-index SQL at the
    same threshold — the driver hash-checks that the pruned plan
    computes identical semantics."""
    return D.ngram_jaccard_pairs_prefix(_docs(spark, sf_dir), threshold=0.5)


SQL_DEDUP_JACCARD_PREFIX = (
    "with " + _shingles_cte(3) + "," + _JACCARD_TAIL + " where "
    "round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5"
)


def q_dedup_winnow_spans(spark, sf_dir):
    """Winnowed shared-substring exposure (dedup.py shared_span_stats,
    k=5 tokens, w=4 windows): per doc, how much of its fingerprint
    set occurs in any other document — all-integer output (ppm via
    the pure-integer round-half-up convention)."""
    return D.shared_span_stats(_docs(spark, sf_dir), k=5, w=4)


_WINNOW_GRAM = h60_sql(
    "concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])"
)
_WINNOW_FPS_CTE = f"""
tok as (select doc_id, {W_SQL} as ws from documents),
g as (
  select doc_id,
         case when len(ws) < 5 then []
              else list_transform(generate_series(1, len(ws) - 4),
                                  i -> {_WINNOW_GRAM}) end as hs
  from tok
),
m as (
  select doc_id,
         case when len(hs) = 0 then []
              when len(hs) < 4 then [list_min(hs)]
              else list_transform(generate_series(1, len(hs) - 3),
                                  i -> list_min(hs[i : i + 3])) end as mins
  from g
),
allfps as (select distinct doc_id, unnest(mins) as fp from m)
"""
SQL_DEDUP_WINNOW_SPANS = f"""
with {_WINNOW_FPS_CTE},
freq as (select fp, count(*) as df from allfps group by fp),
per as (
  select doc_id, count(*) as n_fps,
         sum(case when df >= 2 then 1 else 0 end) as n_shared
  from allfps join freq using (fp) group by doc_id
)
select d.doc_id,
       cast(coalesce(n_fps, 0) as bigint) as n_fps,
       cast(coalesce(n_shared, 0) as bigint) as n_shared,
       cast(coalesce((2000000 * n_shared + n_fps) // (2 * n_fps), 0)
            as bigint) as shared_ppm
from (select distinct doc_id from documents) d
left join per on d.doc_id = per.doc_id
"""


def q_dedup_incremental_spans(spark, sf_dir):
    """Batch-vs-corpus span exposure (dedup.py
    incremental_span_exposure): docs with doc_id % 10 == 0 play the
    incoming batch, the rest the accepted corpus; each batch doc
    reports how much of it is spans the corpus already contains.
    All-integer output."""
    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    idx = D.winnow_fingerprints(corpus, k=5, w=4)
    return D.incremental_span_exposure(batch, idx, k=5, w=4)


SQL_DEDUP_INCREMENTAL_SPANS = f"""
with {_WINNOW_FPS_CTE},
bfps as (select * from allfps where doc_id % 10 = 0),
cidx as (select distinct fp from allfps where doc_id % 10 != 0),
hits as (
  select doc_id, count(*) as n_shared
  from bfps where fp in (select fp from cidx) group by doc_id
),
per as (
  select b.doc_id, count(*) as n_fps, coalesce(min(h.n_shared), 0) as n_shared
  from bfps b left join hits h on b.doc_id = h.doc_id
  group by b.doc_id
)
select d.doc_id,
       cast(coalesce(n_fps, 0) as bigint) as n_fps,
       cast(coalesce(n_shared, 0) as bigint) as n_shared,
       cast(coalesce((2000000 * n_shared + n_fps) // (2 * n_fps), 0)
            as bigint) as shared_ppm
from (select distinct doc_id from documents where doc_id % 10 = 0) d
left join per on d.doc_id = per.doc_id
"""


def q_dedup_strip_spans(spark, sf_dir):
    """Span excision (dedup.py strip_shared_spans): drop tokens
    covered by winnowed fingerprints recurring in >= 2 docs and
    rebuild the text — deterministic integer interval masking, exact
    string output in both engines."""
    return D.strip_shared_spans(_docs(spark, sf_dir), k=5, w=4)


SQL_DEDUP_STRIP_SPANS = f"""
with tok as (select doc_id, {W_SQL} as ws from documents),
g as (
  select doc_id,
         case when len(ws) < 5 then []
              else list_transform(generate_series(1, len(ws) - 4),
                                  i -> {_WINNOW_GRAM}) end as hs
  from tok
),
p as (
  select doc_id,
    case when len(hs) = 0 then []
         when len(hs) < 4 then [list_min(hs)]
         else list_transform(generate_series(1, len(hs) - 3),
                             i -> list_min(hs[i : i + 3])) end as fpl,
    case when len(hs) = 0 then []
         when len(hs) < 4 then [list_position(hs, list_min(hs))]
         else list_transform(generate_series(1, len(hs) - 3),
                             i -> list_position(hs[i : i + 3],
                                                list_min(hs[i : i + 3]))
                                  + i - 1) end as posl
  from g
),
fps as (
  select distinct doc_id, unnest(fpl) as fp, unnest(posl) as pos from p
),
-- distinct DOCUMENTS, not fingerprint occurrences: a doc repeating
-- the same run internally yields one fp at two positions and must
-- NOT count as shared (Spark counts distinct (doc_id, fp) pairs)
shared as (
  select fp from fps group by fp having count(distinct doc_id) >= 2
),
spans as (
  select doc_id, list(distinct pos) as sp
  from fps join shared using (fp) group by doc_id
),
base as (
  select doc_id, {_GW} as ws from documents
)
select b.doc_id,
       coalesce(array_to_string(
         list_transform(
           list_filter(
             case when len(b.ws) = 0 then []
                  else generate_series(1, len(b.ws)) end,
             t -> len(list_filter(coalesce(s.sp, []),
                                  p -> t >= p and t <= p + 4)) = 0),
           i -> b.ws[i]),
         ' '), '') as clean_text,
       cast(len(b.ws) as bigint) as n_tokens,
       cast(len(b.ws) - len(list_filter(
             case when len(b.ws) = 0 then []
                  else generate_series(1, len(b.ws)) end,
             t -> len(list_filter(coalesce(s.sp, []),
                                  p -> t >= p and t <= p + 4)) = 0))
         as bigint) as n_removed
from base b left join spans s on b.doc_id = s.doc_id
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16) + LSH(4 bands x 4 rows) candidates, Jaccard-verified."""
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), jaccard_threshold=0.02)


_MINHASH_CTES = f"""
with {_shingles_cte(3)},
sigs as (
  select doc_id, seed,
         min({h60_sql("concat(cast(seed as varchar), ':', shingle)")}) as minhash
  from sh, (select unnest(generate_series(0, 15)) as seed)
  group by doc_id, seed
),
buckets as (
  select doc_id, cast(floor(seed / 4) as int) as band,
         md5(string_agg(cast(minhash as varchar), ',' order by seed)) as sig
  from sigs group by doc_id, cast(floor(seed / 4) as int)
),
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from buckets a
  join buckets b on a.band = b.band and a.sig = b.sig and a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*) as n_sh from sh group by doc_id),
inter as (
  select c.doc_a, c.doc_b, count(*) as n_common
  from cand c
  join sh a on a.doc_id = c.doc_a
  join sh b on b.doc_id = c.doc_b and b.shingle = a.shingle
  group by 1, 2
)
"""

SQL_DEDUP_MINHASH = (
    _MINHASH_CTES
    + """
select i.doc_a, i.doc_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) as jaccard
from inter i
join sizes sa on sa.doc_id = i.doc_a
join sizes sb on sb.doc_id = i.doc_b
where round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.02
"""
)


def q_dedup_minhash_calibration(spark, sf_dir):
    """MinHash-LSH parameter calibration (dedup.py
    minhash_calibration): one row of counts comparing the 16-hash /
    4-band candidate set against exact-Jaccard truth at t=0.05 —
    recall and false-candidate cost, the numbers band/row settings
    are chosen from before a 100 TB dedup pass."""
    return D.minhash_calibration(_docs(spark, sf_dir), threshold=0.05)


SQL_DEDUP_MINHASH_CALIBRATION = (
    _MINHASH_CTES
    + """,
tinter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_common
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
),
truth as (
  select doc_a, doc_b from tinter
  join sizes sa on sa.doc_id = doc_a
  join sizes sb on sb.doc_id = doc_b
  where round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.05
),
counts as (
  select
    (select count(*) from truth) as n_true,
    (select count(*) from cand) as n_candidates,
    (select count(*) from cand c
       join truth t on t.doc_a = c.doc_a and t.doc_b = c.doc_b)
      as true_positives
)
select n_true, n_candidates, true_positives,
       n_true - true_positives as false_negatives,
       n_candidates - true_positives as false_positives
from counts
"""
)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: connected components over the 3-gram-Jaccard
    pair graph; cluster_id = smallest member (the keeper). Spark runs
    alternating large-star/small-star (O(log n) rounds); the oracle
    is a recursive CTE — an iterative algorithm with a full
    value-hash check."""
    pairs = D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.05)
    return D.dup_clusters_star(pairs)


# Shared CTE chain: shingles -> Jaccard pairs -> symmetric edges ->
# recursive reachability -> (doc_id, cluster_id) labels. Used by both
# the cluster query and the keep-best canonical-selection query.
_CLUSTERS_CTE = (
    _shingles_cte(3) + "," + """
sizes as (select doc_id, count(*) as n_sh from sh group by doc_id),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_common
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
),
pairs as (
  select doc_a, doc_b
  from inter
  join sizes sa on sa.doc_id = doc_a
  join sizes sb on sb.doc_id = doc_b
  where round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.05
),
edges as (
  select doc_a as src, doc_b as dst from pairs
  union
  select doc_b as src, doc_a as dst from pairs
),
reach as (
  with recursive r(src, dst) as (
    select src, dst from edges
    union
    select r.src, e.dst from r join edges e on r.dst = e.src
  )
  select * from r
),
clusters as (
  select src as doc_id, least(src, min(dst)) as cluster_id
  from reach group by src
)
"""
)

SQL_DEDUP_CLUSTERS = (
    "with " + _CLUSTERS_CTE + "\nselect doc_id, cluster_id from clusters"
)


def q_dedup_cluster_sizes(spark, sf_dir):
    """Corpus duplication profile: near-dup cluster size histogram
    (how many clusters of 2, of 3, ...) — the first number a curation
    report shows and the one that decides whether dedup is worth a
    full pass. Two bounded aggregates over the star-resolved cluster
    labels; singleton docs (no near-dup) are excluded since the pair
    graph only contains linked docs."""
    pairs = D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.05)
    clusters = D.dup_clusters_star(pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


SQL_DEDUP_CLUSTER_SIZES = (
    "with " + _CLUSTERS_CTE + """
, sizes2 as (
  select cluster_id, count(*) as cluster_size
  from clusters group by cluster_id
)
select cluster_size, cast(count(*) as bigint) as n_clusters
from sizes2 group by cluster_size
"""
)


def q_x_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix: shingle-set Jaccard between
    every source pair — which feeds are re-crawls of each other."""
    return D.source_overlap(_docs(spark, sf_dir), "source")


SQL_SOURCE_OVERLAP = (
    "with " + _shingles_cte(3) + "," + """
gsh as (
  select distinct d.source as src, s.shingle
  from sh s join documents d on d.doc_id = s.doc_id
),
sizes as (select src, count(*) as n_sh from gsh group by 1),
inter as (
  select a.src as src_a, b.src as src_b, count(*) as n_common
  from gsh a join gsh b on a.shingle = b.shingle and a.src < b.src
  group by 1, 2
)
select i.src_a, i.src_b, i.n_common,
       round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) as jaccard
from inter i
join sizes sa on sa.src = i.src_a
join sizes sb on sb.src = i.src_b
"""
)


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection: per near-dup cluster keep
    the member with the most characters (ties -> smallest doc_id) —
    the keep-the-best-copy policy curation pipelines apply after
    clustering, instead of the min-id default."""
    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.05)
    clusters = D.dup_clusters_star(pairs)
    return D.cluster_keep_best(clusters, docs, F.col("n_chars"))


SQL_DEDUP_KEEP_BEST = (
    "with " + _CLUSTERS_CTE + """,
scored as (
  select c.cluster_id, d.doc_id, d.n_chars
  from clusters c join documents d on d.doc_id = c.doc_id
),
g as (
  select cluster_id, count(*) as n_members, max(n_chars) as best_chars
  from scored group by 1
)
select g.cluster_id, g.n_members, min(s.doc_id) as keep_id
from g join scored s
  on s.cluster_id = g.cluster_id
 and s.n_chars is not distinct from g.best_chars
group by 1, 2
"""
)


def q_x_stream_interval_join(spark, sf_dir):
    """REAL stream-stream interval join (streaming/pipeline.py
    stream_interval_join): clicks paired with same-user errors inside
    the following hour, both sides watermarked, run as one
    availableNow epoch and hash-checked against the batch SQL oracle.
    Events stage through one normalized micros-precision parquet file
    (single micro-batch => no cross-batch lateness; the oracle joins
    at the same microsecond precision)."""
    import os

    from sslr_spark.queries import read_events
    from sslr_spark.streaming.pipeline import stream_interval_join

    work = _fresh_bench_dir("stream_ij")
    src = os.path.join(work, "src")
    # stage ts as a true INSTANT built from epoch-micros: read_events
    # may hand back TIMESTAMP_NTZ (wall clock), and the streaming
    # side's NTZ->timestamp cast would interpret that wall clock in
    # the DRIVER-CONTROLLED session TZ — an 11-hour shift under an
    # Australia/Sydney session (caught by the hostile-config matrix).
    # timestamp_micros() is TZ-free by construction.
    ev = read_events(spark, sf_dir).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
    )
    ev.coalesce(1).write.parquet(src)
    out = os.path.join(work, "out")
    stream_interval_join(
        spark,
        src,
        spark.read.parquet(src).schema,
        out,
        os.path.join(work, "ckpt"),
        left_filter="event_type = 'click'",
        right_filter="event_type = 'error'",
        join_keys=["user_id"],
        window_seconds=3600,
    )
    return spark.read.parquet(out)


SQL_X_STREAM_INTERVAL_JOIN = """
select c.event_id as left_id, e.event_id as right_id, c.user_id,
       epoch_us(cast(c.ts as timestamp)) as left_ts_us,
       epoch_us(cast(e.ts as timestamp)) as right_ts_us
from events c
join events e
  on c.user_id = e.user_id
 and c.event_type = 'click' and e.event_type = 'error'
 and epoch_us(cast(e.ts as timestamp))
     >= epoch_us(cast(c.ts as timestamp))
 and epoch_us(cast(e.ts as timestamp))
     <= epoch_us(cast(c.ts as timestamp)) + 3600000000
"""


def q_x_stream_dedup(spark, sf_dir):
    """Streaming at-least-once dedup (streaming/pipeline.py
    stream_dedup, dropDuplicatesWithinWatermark): the events table is
    staged TWICE into the stream source (a full replay — every event
    arrives at least twice) and drained in one-file micro-batches so
    the duplicate pairs cross batch boundaries through the state
    store; exactly one copy of each event may come out. The oracle is
    simply the events table once — both the in-horizon dedup path and
    the late-drop path must suppress the second copy for the hash to
    match. Timestamps stage as TZ-free epoch-micros instants like the
    interval join."""
    import os

    from sslr_spark.queries import read_events
    from sslr_spark.streaming.pipeline import stream_dedup

    work = _fresh_bench_dir("stream_dedup")
    src = os.path.join(work, "src")
    ev = read_events(spark, sf_dir).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
    )
    ev.coalesce(1).write.parquet(src)                      # first arrival
    ev.coalesce(1).write.mode("append").parquet(src)       # full replay
    out = os.path.join(work, "out")
    stream_dedup(
        spark,
        src,
        spark.read.parquet(src).schema,
        out,
        os.path.join(work, "ckpt"),
        key_cols=["event_id"],
        select_cols=["event_id", "user_id", "event_type"],
        max_files_per_trigger=1,
    )
    return spark.read.parquet(out)


SQL_X_STREAM_DEDUP = """
select event_id, user_id, event_type,
       epoch_us(cast(ts as timestamp)) as ts_us
from events
"""


def q_x_stream_sessionize(spark, sf_dir):
    """CUSTOM stateful streaming operator (streaming/pipeline.py
    stream_sessionize, applyInPandasWithState + event-time timeout):
    gap-timeout sessions per user over a REAL Structured Streaming
    execution. The events stage as one micro-batch; two sentinel
    micro-batches (far-future timestamps under synthetic user ids)
    advance the watermark past every real session's ``last + gap``
    timeout so the state store provably flushes every session — the
    streaming output then equals the batch gaps-and-islands
    sessionization the oracle computes with a lag/cumsum CTE."""
    import os

    from sslr_spark.queries import read_events
    from sslr_spark.streaming.pipeline import stream_sessionize

    gap_min, wm_min = 240, 10
    work = _fresh_bench_dir("stream_sess")
    src = os.path.join(work, "src")
    ev = read_events(spark, sf_dir).select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    ev.coalesce(1).write.parquet(src)
    max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    s1 = max_us + (gap_min + wm_min) * 60_000_000 + 60_000_000
    s2 = s1 + wm_min * 60_000_000 + 60_000_000
    for i, sent_us in enumerate((s1, s2), start=1):
        spark.createDataFrame(
            [(-i, sent_us)], "user_id long, ts_us long"
        ).select(
            "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)
    out = os.path.join(work, "out")
    stream_sessionize(
        spark,
        src,
        spark.read.parquet(src).schema,
        out,
        os.path.join(work, "ckpt"),
        gap_minutes=gap_min,
        watermark=f"{wm_min} minutes",
        max_files_per_trigger=1,
    )
    return spark.read.parquet(out).filter(F.col("user_id") >= 0)


def q_x_mor_upsert_read(spark, sf_dir):
    """MERGE-ON-READ overlay read (operators/updates.py
    append_upsert_log / read_merged): base table at version 100, two
    appended CDC log batches (every 5th key at 200, every 25th at
    300), read resolves latest-version-wins WITHOUT shuffling the
    base (broadcast anti-join on the log's key set — plan-pinned in
    tests/test_mor.py). The oracle derives each key's final version
    arithmetically."""
    import os

    from sslr_spark.operators.updates import append_upsert_log, read_merged
    from sslr_spark.queries import LINEITEM_PK
    from sslr_spark.sources.parquet import ParquetDatabase

    work = _fresh_bench_dir("mor_read")
    db = ParquetDatabase(spark, os.path.join(work, "db"))
    base = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(*LINEITEM_PK)
        .withColumn("xmin", F.lit(100).cast("long"))
    )
    db.overwrite("lineitem", base)
    for mod, ver in ((5, 200), (25, 300)):
        batch = base.filter(F.col("l_orderkey") % mod == 0).withColumn(
            "xmin", F.lit(ver).cast("long")
        )
        append_upsert_log(db, "lineitem", batch, LINEITEM_PK)
    return read_merged(db, "lineitem", LINEITEM_PK).filter(
        F.col("l_orderkey") < 2000
    )


SQL_X_MOR_UPSERT_READ = """
select l_orderkey, l_linenumber, l_partkey, l_suppkey,
       cast(case when l_orderkey % 25 = 0 then 300
                 when l_orderkey % 5 = 0 then 200
                 else 100 end as bigint) as xmin
from lineitem where l_orderkey < 2000
"""


def q_x_mor_asof_read(spark, sf_dir):
    """MOR snapshot (time-travel) read (round 9, read_merged
    as_of_version): same staged log as x_mor_upsert_read (batches at
    200 and 300) plus tombstones at 400 — read AS OF version 250
    must see the 200 batch, ignore the 300 batch AND the 400
    tombstones. The horizon is the compaction boundary (base = floor
    snapshot), the standard MOR limitation."""
    import os

    from sslr_spark.operators.updates import (
        append_delete_log,
        append_upsert_log,
        read_merged,
    )
    from sslr_spark.queries import LINEITEM_PK
    from sslr_spark.sources.parquet import ParquetDatabase

    work = _fresh_bench_dir("mor_asof")
    db = ParquetDatabase(spark, os.path.join(work, "db"))
    base = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(*LINEITEM_PK)
        .withColumn("xmin", F.lit(100).cast("long"))
    )
    db.overwrite("lineitem", base)
    for mod, ver in ((5, 200), (25, 300)):
        batch = base.filter(F.col("l_orderkey") % mod == 0).withColumn(
            "xmin", F.lit(ver).cast("long")
        )
        append_upsert_log(db, "lineitem", batch, LINEITEM_PK)
    append_delete_log(
        db, "lineitem",
        base.filter(F.col("l_orderkey") % 3 == 0).select(*LINEITEM_PK),
        LINEITEM_PK, version=400,
    )
    return read_merged(
        db, "lineitem", LINEITEM_PK, as_of_version=250
    ).filter(F.col("l_orderkey") < 2000)


SQL_X_MOR_ASOF_READ = """
select l_orderkey, l_linenumber, l_partkey, l_suppkey,
       cast(case when l_orderkey % 5 = 0 then 200
                 else 100 end as bigint) as xmin
from lineitem where l_orderkey < 2000
"""


def q_x_mor_tombstone_tie(spark, sf_dir):
    """MOR equal-version tie (round 9, operators/updates.py
    dedup_latest_version): tombstone every 10th key at version 200,
    then RE-INSERT every 20th key at the SAME version 200 — the
    adversarial shape from the r8 advice (key-only replica, no
    payload besides the version, where the old payload tie-break let
    the tombstone eat the re-insert). Re-inserts must survive; pure
    tombstones must not."""
    import os

    from sslr_spark.operators.updates import (
        append_delete_log,
        append_upsert_log,
        read_merged,
    )
    from sslr_spark.queries import LINEITEM_PK
    from sslr_spark.sources.parquet import ParquetDatabase

    work = _fresh_bench_dir("mor_tie")
    db = ParquetDatabase(spark, os.path.join(work, "db"))
    base = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(*LINEITEM_PK)
        .withColumn("xmin", F.lit(100).cast("long"))
    )
    db.overwrite("lineitem", base)
    append_delete_log(
        db, "lineitem",
        base.filter(F.col("l_orderkey") % 10 == 0).select(*LINEITEM_PK),
        LINEITEM_PK, version=200,
    )
    append_upsert_log(
        db, "lineitem",
        base.filter(F.col("l_orderkey") % 20 == 0).withColumn(
            "xmin", F.lit(200).cast("long")
        ),
        LINEITEM_PK,
    )
    return read_merged(db, "lineitem", LINEITEM_PK).filter(
        F.col("l_orderkey") < 4000
    )


SQL_X_MOR_TOMBSTONE_TIE = """
select l_orderkey, l_linenumber, l_partkey, l_suppkey,
       cast(case when l_orderkey % 20 = 0 then 200 else 100 end
            as bigint) as xmin
from lineitem
where l_orderkey < 4000
  and not (l_orderkey % 10 = 0 and l_orderkey % 20 <> 0)
"""


def q_x_mor_delete_repair(spark, sf_dir):
    """MOR key-set reconciliation through the JOB's delete phase
    (round 9, job._sync_deletes_mor): after a full-copy pass, the
    TARGET base is silently corrupted — every 100th key dropped
    (silent loss) and a bogus key range injected — and one sync pass
    must reconcile it entirely with LOG APPENDS (tombstones for the
    bogus keys, verbatim upsert appends for the lost rows; the base
    files are never rewritten — asserted in tests/test_round9_fixes).
    The overlay read then equals the live source."""
    import os

    from sslr_spark.config import Config
    from sslr_spark.job import Job, JobResult
    from sslr_spark.operators.updates import read_merged
    from sslr_spark.queries import LINEITEM_PK
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.throttle import Throttle

    work = _fresh_bench_dir("mor_repair")
    src_db = ParquetDatabase(spark, os.path.join(work, "src"))
    base = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(*LINEITEM_PK)
        .filter(F.col("l_orderkey") < 4000)
        .withColumn("xmin", F.lit(100).cast("long"))
    )
    src_db.overwrite("lineitem", base)
    cfg = Config(
        source=os.path.join(work, "src"),
        target=os.path.join(work, "tgt"),
        source_tables=["lineitem"],
        primary_keys={"lineitem": list(LINEITEM_PK)},
        target_buckets=0,
        merge_on_read=True,
        merge_on_read_max_log=10.0,  # keep the log visible (no fold)
    )

    def run_pass():
        job = Job(spark, cfg)
        job.validate_tables()
        job.update_table("lineitem", JobResult(), Throttle(100))
        return job

    job = run_pass()  # full copy
    corrupted = (
        job.target.read("lineitem")
        .filter(F.col("l_orderkey") % 100 != 0)  # silent loss
        .unionByName(
            base.filter(F.col("l_orderkey") < 50).withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(9_000_000)
            )  # bogus extras
        )
    )
    job.target.overwrite("lineitem", corrupted)
    job2 = run_pass()  # reconciling pass: appends only
    return read_merged(job2.target, "lineitem", list(LINEITEM_PK))


SQL_X_MOR_DELETE_REPAIR = """
select l_orderkey, l_linenumber, l_partkey, l_suppkey,
       cast(100 as bigint) as xmin
from lineitem where l_orderkey < 4000
"""


def q_x_mor_wide_pk_read(spark, sf_dir):
    """MOR overlay read over a WIDE composite STRING key (round 9):
    the broadcast byte gate estimates key bytes as footer rows x a
    bounded-sample key width (operators/updates.py read_merged) —
    this key drives that sampling path end-to-end with a ~131-char
    md5-composite PK (all four lineitem key columns — the pair alone
    is not unique in the synthetic data) and hash-checks the
    resolved overlay."""
    import os

    from sslr_spark.operators.updates import append_upsert_log, read_merged
    from sslr_spark.sources.parquet import ParquetDatabase

    work = _fresh_bench_dir("mor_wide")
    db = ParquetDatabase(spark, os.path.join(work, "db"))
    wk = F.concat_ws(
        ":",
        F.md5(F.col("l_orderkey").cast("string")),
        F.md5(F.col("l_linenumber").cast("string")),
        F.md5(F.col("l_partkey").cast("string")),
        F.md5(F.col("l_suppkey").cast("string")),
    )
    base = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_orderkey") < 4000)
        .select(
            wk.alias("wk"),
            F.col("l_orderkey").alias("ok"),
            F.lit(100).cast("long").alias("xmin"),
        )
    )
    db.overwrite("t", base)
    append_upsert_log(
        db, "t",
        base.filter(F.col("ok") % 5 == 0).withColumn(
            "xmin", F.lit(200).cast("long")
        ),
        ["wk"],
    )
    return read_merged(db, "t", ["wk"])


SQL_X_MOR_WIDE_PK_READ = """
select concat(md5(cast(l_orderkey as varchar)), ':',
              md5(cast(l_linenumber as varchar)), ':',
              md5(cast(l_partkey as varchar)), ':',
              md5(cast(l_suppkey as varchar))) as wk,
       l_orderkey as ok,
       cast(case when l_orderkey % 5 = 0 then 200 else 100 end
            as bigint) as xmin
from lineitem where l_orderkey < 4000
"""


def q_sim_range_search(spark, sf_dir):
    """Cosine RANGE search (similarity.range_search_quantized, the
    FAISS range_search counterpart): every vector within radius
    cos >= 1/5 of query vec 0, decided by the integer-exact rational
    predicate dot^2*den^2 >= num^2*|c|^2*|q|^2 over int8-quantized
    vectors — no float compare, bit-identical cut in any engine."""
    return S.range_search_quantized(
        _emb(spark, sf_dir), query_vec_id=0, threshold_num=1,
        threshold_den=5,
    )


SQL_SIM_RANGE_SEARCH = """
with q as (
  select list_transform(embedding, x -> cast(round(x * 127) as bigint)) as qv
  from embeddings where vec_id = 0
),
s as (
  select vec_id,
         list_transform(embedding, x -> cast(round(x * 127) as bigint)) as cv
  from embeddings where vec_id != 0
),
d as (
  select s.vec_id,
         list_sum(list_transform(generate_series(1, len(cv)),
                                 i -> cv[i] * qv[i])) as dot,
         list_sum(list_transform(cv, v -> v * v))
           * list_sum(list_transform(qv, v -> v * v)) as nn2
  from s, q
)
select vec_id, cast(dot as bigint) as dot from d
where dot > 0 and dot * dot * 25 >= 1 * nn2
order by dot desc, vec_id
"""


def q_x_sessionize_batch(spark, sf_dir):
    """BATCH gap-session assignment (streaming/pipeline.py
    sessionize_batch): the replay-safe counterpart of
    x_stream_sessionize — same gap semantics, same output shape, no
    watermark, order-free over the source files. One shuffle on the
    key; running window frames only."""
    from sslr_spark.queries import read_events
    from sslr_spark.streaming.pipeline import sessionize_batch

    ev = read_events(spark, sf_dir).select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    return sessionize_batch(ev, gap_minutes=240)


SQL_X_SESSIONIZE_BATCH = """
with e as (
  select user_id, epoch_us(cast(ts as timestamp)) as ts_us from events
),
m as (
  select user_id, ts_us,
         case when ts_us - lag(ts_us) over (
                partition by user_id order by ts_us
              ) > cast(240 as bigint) * 60 * 1000000
              then 1 else 0 end as brk
  from e
),
s as (
  select user_id, ts_us,
         sum(brk) over (partition by user_id order by ts_us
                        rows between unbounded preceding and current row)
           as sess
  from m
)
select user_id,
       min(ts_us) as session_start_us,
       max(ts_us) as session_end_us,
       cast(count(*) as bigint) as n_events
from s group by user_id, sess
"""


SQL_X_STREAM_SESSIONIZE = """
with e as (
  select user_id, epoch_us(cast(ts as timestamp)) as ts_us from events
),
m as (
  select user_id, ts_us,
         case when ts_us - lag(ts_us) over (
                partition by user_id order by ts_us
              ) > cast(240 as bigint) * 60 * 1000000
              then 1 else 0 end as brk
  from e
),
s as (
  select user_id, ts_us,
         sum(brk) over (partition by user_id order by ts_us
                        rows between unbounded preceding and current row)
           as sess
  from m
)
select user_id,
       min(ts_us) as session_start_us,
       max(ts_us) as session_end_us,
       cast(count(*) as bigint) as n_events
from s group by user_id, sess
"""


def q_x_stream_ingest(spark, sf_dir):
    """The STREAMING near-dup ingest run end-to-end as one availableNow
    epoch over the documents table: readStream -> foreachBatch
    (in-batch LSH collapse at jaccard >= 0.5, no prior corpus) ->
    per-epoch partition write. The accepted set is fully predictable —
    documents minus the doc_b side of every verified MinHash-LSH pair
    — so a real Structured Streaming execution gets a hash-checked
    CORRECTNESS row (not just rows-only)."""
    import os

    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.streaming.pipeline import streaming_neardup_ingest

    work = _fresh_bench_dir("stream_ingest")
    target = ParquetDatabase(spark, os.path.join(work, "target"))
    # the file-stream source requires a DIRECTORY; the testdata table
    # is a single parquet file — symlink it into a source dir (no copy)
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    # abspath: a relative sf_dir would make the link target resolve
    # relative to src_dir and dangle
    os.symlink(
        os.path.abspath(f"{sf_dir}/documents.parquet"),
        os.path.join(src_dir, "documents.parquet"),
    )
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    q = streaming_neardup_ingest(
        spark,
        src_dir,
        schema,
        target,
        os.path.join(work, "ckpt"),
        jaccard_threshold=0.5,
    )
    if not q.awaitTermination(600):
        # timed out: stop the leaked stream before reporting — reading
        # mid-write would surface as a confusing hash mismatch
        q.stop()
        raise TimeoutError("x_stream_ingest: availableNow epoch > 600 s")
    return target.read("accepted").select("doc_id", "lang", "source")


SQL_X_STREAM_INGEST = (
    _MINHASH_CTES
    + """
select d.doc_id, d.lang, d.source
from documents d
where d.doc_id not in (
  select i.doc_b
  from inter i
  join sizes sa on sa.doc_id = i.doc_a
  join sizes sb on sb.doc_id = i.doc_b
  where round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
)
"""
)


def q_dedup_simhash(spark, sf_dir):
    """SimHash(32-bit) near-dup pairs, pigeonhole-segment blocked
    (oracle runs the naive quadratic scan — results must be equal)."""
    return D.simhash_pairs(_docs(spark, sf_dir), max_hamming=4)


SQL_DEDUP_SIMHASH = f"""
with wc as (
  select doc_id, word, count(*) as freq,
         {h60_sql('word')} as h
  from (select doc_id, unnest({W_SQL}) as word from documents)
  group by doc_id, word
),
per_bit as (
  select doc_id, b, sum(freq * (((h >> b) & 1) * 2 - 1)) as s
  from wc, (select unnest(generate_series(0, 31)) as b)
  group by doc_id, b
),
fp as (
  select doc_id,
         sum(case when s > 0 then (cast(1 as bigint) << b) else 0 end) as simhash
  from per_bit group by doc_id
)
select a.doc_id as doc_a, b.doc_id as doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as bigint) as hamming
from fp a join fp b on a.doc_id < b.doc_id
where bit_count(xor(a.simhash, b.simhash)) <= 4
"""


def q_dedup_simhash_calibration(spark, sf_dir):
    """SimHash proxy-quality calibration (dedup.py
    simhash_calibration): one row of counts comparing the hamming<=8
    prediction against exact-Jaccard truth at t=0.05 — recall AND the
    false-positive verification bill the sketch would incur, measured
    before trusting a hamming threshold at scale."""
    return D.simhash_calibration(
        _docs(spark, sf_dir), max_hamming=8, threshold=0.05
    )


SQL_DEDUP_SIMHASH_CALIBRATION = f"""
with wc as (
  select doc_id, word, count(*) as freq,
         {h60_sql('word')} as h
  from (select doc_id, unnest({W_SQL}) as word from documents)
  group by doc_id, word
),
per_bit as (
  select doc_id, b, sum(freq * (((h >> b) & 1) * 2 - 1)) as s
  from wc, (select unnest(generate_series(0, 31)) as b)
  group by doc_id, b
),
fp as (
  select doc_id,
         sum(case when s > 0 then (cast(1 as bigint) << b) else 0 end)
           as simhash
  from per_bit group by doc_id
),
pred as (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from fp a join fp b on a.doc_id < b.doc_id
  where bit_count(xor(a.simhash, b.simhash)) <= 8
),
{_shingles_cte(3)},
sizes as (select doc_id, count(*) as n_sh from sh group by doc_id),
tinter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_common
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
),
truth as (
  select doc_a, doc_b from tinter
  join sizes sa on sa.doc_id = doc_a
  join sizes sb on sb.doc_id = doc_b
  where round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.05
),
counts as (
  select
    (select count(*) from truth) as n_true,
    (select count(*) from pred) as n_predicted,
    (select count(*) from pred p
       join truth t on t.doc_a = p.doc_a and t.doc_b = p.doc_b)
      as true_positives
)
select n_true, n_predicted, true_positives,
       n_true - true_positives as false_negatives,
       n_predicted - true_positives as false_positives
from counts
"""


_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> cast({a}[i] as double) * cast({b}[i] as double)))"
)
_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> cast(x as double) * cast(x as double))))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        _DOT.format(a=a, b=b)
        + f" / ({_NORM.format(a=a)} * {_NORM.format(a=b)})"
    )


def _cos_sql_guarded(a: str, b: str) -> str:
    """Cosine with a nullif(0) denominator — NULL instead of NaN on a
    zero-norm side, matching the Spark-side guard in
    similarity.topk_matryoshka."""
    return (
        _DOT.format(a=a, b=b)
        + f" / nullif({_NORM.format(a=a)} * {_NORM.format(a=b)}, 0)"
    )


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs (cosine >= 0.3, label-blocked).
    0.3 is deliberately low: the synthetic embeddings' within-label
    cosine tops out near 0.47, so a production-style 0.9 would make
    this an empty (untested) result set."""
    return D.embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.3)


SQL_DEDUP_EMB = f"""
select a.vec_id as vec_a, b.vec_id as vec_b,
       round({_cos_sql('a.embedding', 'b.embedding')}, 6) as cos_sim
from embeddings a
join embeddings b on a.label = b.label and a.vec_id < b.vec_id
where round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.3
"""


# ------------------------------------------------------------------
# similarity search
# ------------------------------------------------------------------

def q_sim_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-10 neighbors of vec_id 0 (brute force)."""
    return S.topk_bruteforce(_emb(spark, sf_dir), query_vec_id=0, k=10)


SQL_SIM_TOPK = f"""
with q as (select embedding as qvec from embeddings where vec_id = 0)
select vec_id, round({_cos_sql('embedding', 'qvec')}, 6) as cos_sim
from embeddings, q
where vec_id != 0
order by cos_sim desc, vec_id
limit 10
"""


def q_sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.py hard_negatives): top-5
    nearest DIFFERENT-label vectors for queries 0-3 — the contrastive-
    training negative sampler, executed as a salted two-phase top-k
    so no partition ever holds one query's whole candidate set."""
    return S.hard_negatives(_emb(spark, sf_dir), [0, 1, 2, 3], k=5)


SQL_SIM_HARD_NEGATIVES = f"""
with q as (
  select vec_id as query_id, label as qlabel, embedding as qvec
  from embeddings where vec_id in (0, 1, 2, 3)
),
s as (
  select q.query_id, e.vec_id as neg_id, e.label as neg_label,
         round({_cos_sql('e.embedding', 'q.qvec')}, 6) as cos_sim
  from embeddings e
  join q on e.label != q.qlabel and e.vec_id != q.query_id
  where {_NORM.format(a='e.embedding')} > 0
    and {_NORM.format(a='q.qvec')} > 0
),
r as (
  select s.*, row_number() over (
    partition by query_id order by cos_sim desc, neg_id
  ) as neg_rank from s
)
select query_id, neg_id, neg_label, cos_sim,
       cast(neg_rank as int) as neg_rank
from r where neg_rank <= 5
"""


_IVF_CENT_IDS = [1, 2, 3, 4, 5, 6, 7, 8]
_PQ_CW_IDS = list(range(100, 116))  # ks=16 codewords, m=16 subspaces
_PQ_M, _PQ_DSUB = 16, 4


def q_sim_ivf_recall(spark, sf_dir):
    """IVF probe-budget calibration (similarity.py ivf_recall):
    recall@10 of the 2-of-8-cell pruned scan vs exact brute force,
    per query — the number an n_probe setting is chosen from (the
    ANN twin of dedup_minhash_calibration). Four sample queries;
    both sides run the salted two-phase top-k cut."""
    return S.ivf_recall(
        _emb(spark, sf_dir), _IVF_CENT_IDS, [0, 20, 40, 60],
        k=10, n_probe=2,
    )


SQL_SIM_IVF_RECALL = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid
  from embeddings where vec_id in ({", ".join(str(i) for i in _IVF_CENT_IDS)})
),
q as (
  select vec_id as query_id, embedding as qvec
  from embeddings where vec_id in (0, 20, 40, 60)
),
assigned as (
  select vec_id, cell from (
    select e.vec_id, c.cell,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')}, 9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
probes as (
  select query_id, cell from (
    select q.query_id, c.cell,
           row_number() over (
             partition by q.query_id
             order by round({_cos_sql('c.centroid', 'q.qvec')}, 9) desc,
                      c.cell
           ) as prn
    from q cross join cents c
  ) where prn <= 2
),
scored as (
  select q.query_id, e.vec_id,
         round({_cos_sql('e.embedding', 'q.qvec')}, 6) as cos_sim
  from embeddings e
  cross join q
  where e.vec_id != q.query_id
    and {_NORM.format(a='e.embedding')} > 0
    and {_NORM.format(a='q.qvec')} > 0
),
truth as (
  select query_id, vec_id from (
    select scored.*, row_number() over (
      partition by query_id order by cos_sim desc, vec_id
    ) as rn from scored
  ) where rn <= 10
),
approx as (
  select query_id, vec_id from (
    select s.query_id, s.vec_id, s.cos_sim, row_number() over (
      partition by s.query_id order by s.cos_sim desc, s.vec_id
    ) as rn
    from scored s
    join assigned a on a.vec_id = s.vec_id
    join probes p on p.query_id = s.query_id and p.cell = a.cell
  ) where rn <= 10
),
hits as (
  select a.query_id, count(*) as recalled
  from approx a join truth t
    on t.query_id = a.query_id and t.vec_id = a.vec_id
  group by a.query_id
)
select q.query_id,
       cast(coalesce(hits.recalled, 0) as bigint) as recalled,
       cast(10 as bigint) as k
from q left join hits on hits.query_id = q.query_id
"""


def q_sim_topk_pq(spark, sf_dir):
    """Top-10 cosine via product quantization (similarity.py
    pq_topk_fixed): 64 dims -> 16 sub-codes (16x scan compression),
    integer ADC pre-rank from an inlined distance table, exact-cosine
    rerank of the bounded candidate cut."""
    return S.pq_topk_fixed(
        _emb(spark, sf_dir), _PQ_CW_IDS, query_vec_id=0, k=10, m=_PQ_M
    )


# PQ determinism contract (see similarity.py pq_encode_with_books): every
# sum quantizes each TERM to a bigint first (floor(x*y*1e12 + 0.5)),
# so sums are integer and order-free in any engine; the score then
# combines the integers through single exactly-rounded IEEE ops.
# These spellings replay the Spark/numpy/driver-Python arithmetic
# op-for-op — no double fold whose order DuckDB could pick
# differently survives anywhere in the PQ oracle.
_PQ_SQSUM_INT = (
    "list_sum(list_transform({a}, x -> "
    "cast(floor(cast(x as double) * cast(x as double) * 1e12 + 0.5) "
    "as bigint)))"
)


def _pq_unit(a: str) -> str:
    """Unit-normalize by the quantized norm sqrt(sumsq_int/1e12) —
    mirrors similarity.py _unit_quantized element-for-element."""
    sq = _PQ_SQSUM_INT.format(a=a)
    return (
        f"case when {sq} = 0 then list_transform({a}, x -> "
        f"cast(x as double)) else list_transform({a}, x -> "
        f"cast(x as double) / sqrt(cast({sq} as double) / 1e12)) end"
    )


_PQ_SLICE_SQ = (
    "list_sum(list_transform(generate_series(1, {d}), i -> "
    "cast(floor({a}[j.j * {d} + i] * {a}[j.j * {d} + i] * 1e12 + 0.5) "
    "as bigint)))"
).format(d=_PQ_DSUB, a="{a}")
_PQ_SLICE_DOT = (
    "list_sum(list_transform(generate_series(1, {d}), i -> "
    "cast(floor(cast({a}[j.j * {d} + i] as double)"
    " * {b}[j.j * {d} + i] * 1e12 + 0.5) as bigint)))"
).format(d=_PQ_DSUB, a="{a}", b="{b}")
# reduced unit-normalized score: cwsq - 2*dot/sqrt(s) — the per-row
# constant subsq/s term of the L2 expansion is dropped in BOTH
# engines (same argmin, rank-invariant ADC shift); s = 0 guarded
# (0/sqrt(0) is NaN). {s}/{dot}/{cwsq} are the INTEGER-quantized
# components; the op sequence below is the exact one _pq_score /
# pq_encode_with_books runs.
_PQ_D = (
    "case when {s} = 0 then cast({cwsq} as double) / 1e12 else "
    "cast({cwsq} as double) / 1e12 - "
    "(2.0 * (cast({dot} as double) / 1e12)) / "
    "sqrt(cast({s} as double) / 1e12) end"
)
SQL_SIM_TOPK_PQ = f"""
with cw as (
  select row_number() over (order by vec_id) - 1 as c,
         {_pq_unit('embedding')} as cwv
  from embeddings where vec_id in ({', '.join(map(str, _PQ_CW_IDS))})
),
qv as (select embedding as q,
              {_PQ_SQSUM_INT.format(a='embedding')} as qs
       from embeddings where vec_id = 0),
eb as (select vec_id, embedding as e,
              {_PQ_SQSUM_INT.format(a='embedding')} as s
       from embeddings),
enc as (
  select e.vec_id, j.j, cw.c,
         cast(floor(({_PQ_D.format(
             s='e.s',
             dot=_PQ_SLICE_DOT.format(a='e.e', b='cw.cwv'),
             cwsq=_PQ_SLICE_SQ.format(a='cw.cwv'))}) * 1e9
                    + 0.5) as bigint) as d
  from eb e
  cross join generate_series(0, {_PQ_M - 1}) as j(j)
  cross join cw
),
codes as (
  select vec_id, j, c from (
    select enc.*, row_number() over (
      partition by vec_id, j order by d, c
    ) as rn from enc
  ) where rn = 1
),
qd as (
  select j.j, cw.c,
         cast(floor(({_PQ_D.format(
             s='qv.qs',
             dot=_PQ_SLICE_DOT.format(a='qv.q', b='cw.cwv'),
             cwsq=_PQ_SLICE_SQ.format(a='cw.cwv'))}) * 1000000
                    + 0.5) as bigint) as dq
  from qv cross join generate_series(0, {_PQ_M - 1}) as j(j) cross join cw
),
adc as (
  select codes.vec_id, cast(sum(qd.dq) as bigint) as adc_dist
  from codes join qd on qd.j = codes.j and qd.c = codes.c
  where codes.vec_id != 0
  group by codes.vec_id
),
cand as (select * from adc order by adc_dist, vec_id limit 40)
select cand.vec_id, cand.adc_dist,
       round({_cos_sql('e.embedding', 'qv.q')}, 6) as cos_sim
from cand
join embeddings e on e.vec_id = cand.vec_id
cross join qv
where {_NORM.format(a='e.embedding')} > 0 and {_NORM.format(a='qv.q')} > 0
order by cos_sim desc, cand.vec_id
limit 10
"""


def q_sim_topk_ivfpq(spark, sf_dir):
    """IVF-PQ (similarity.py ivfpq_topk_fixed): coarse cells prune
    the scan to 3 of 8 probe cells, 16x-compressed PQ codes rank
    within them via the integer ADC table, exact cosine reranks the
    bounded cut — the classic billion-scale ANN pairing, fully
    deterministic (both quantizers fixed) and oracle-replayed."""
    return S.ivfpq_topk_fixed(
        _emb(spark, sf_dir),
        _IVF_CENT_IDS,
        _PQ_CW_IDS,
        query_vec_id=0,
        k=10,
        m=_PQ_M,
        n_probe=3,
    )


SQL_SIM_TOPK_IVFPQ = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid
  from embeddings where vec_id in ({", ".join(str(i) for i in _IVF_CENT_IDS)})
),
q as (select embedding as qvec from embeddings where vec_id = 0),
assigned as (
  select vec_id, cell from (
    select e.vec_id, c.cell,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')}, 9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
probe as (
  select cell from (
    select c.cell,
           row_number() over (
             order by round({_cos_sql('c.centroid', 'qvec')}, 9) desc, c.cell
           ) as prn
    from cents c cross join q
  ) where prn <= 3
),
scoped as (
  select e.vec_id, e.embedding from embeddings e
  join assigned a on a.vec_id = e.vec_id
  join probe p on p.cell = a.cell
  where e.vec_id != 0
),
cw as (
  select row_number() over (order by vec_id) - 1 as c,
         {_pq_unit('embedding')} as cwv
  from embeddings where vec_id in ({', '.join(map(str, _PQ_CW_IDS))})
),
qv as (select embedding as sq,
              {_PQ_SQSUM_INT.format(a='embedding')} as qs
       from embeddings where vec_id = 0),
eb as (select vec_id, embedding as e,
              {_PQ_SQSUM_INT.format(a='embedding')} as s
       from scoped),
enc as (
  select e.vec_id, j.j, cw.c,
         cast(floor(({_PQ_D.format(
             s='e.s',
             dot=_PQ_SLICE_DOT.format(a='e.e', b='cw.cwv'),
             cwsq=_PQ_SLICE_SQ.format(a='cw.cwv'))}) * 1e9
                    + 0.5) as bigint) as d
  from eb e
  cross join generate_series(0, {_PQ_M - 1}) as j(j)
  cross join cw
),
codes as (
  select vec_id, j, c from (
    select enc.*, row_number() over (
      partition by vec_id, j order by d, c
    ) as rn from enc
  ) where rn = 1
),
qd as (
  select j.j, cw.c,
         cast(floor(({_PQ_D.format(
             s='qv.qs',
             dot=_PQ_SLICE_DOT.format(a='qv.sq', b='cw.cwv'),
             cwsq=_PQ_SLICE_SQ.format(a='cw.cwv'))}) * 1000000
                    + 0.5) as bigint) as dq
  from qv cross join generate_series(0, {_PQ_M - 1}) as j(j) cross join cw
),
adc as (
  select codes.vec_id, cast(sum(qd.dq) as bigint) as adc_dist
  from codes join qd on qd.j = codes.j and qd.c = codes.c
  group by codes.vec_id
),
cand as (select * from adc order by adc_dist, vec_id limit 40)
select cand.vec_id, cand.adc_dist,
       round({_cos_sql('e.embedding', 'q.qvec')}, 6) as cos_sim
from cand
join embeddings e on e.vec_id = cand.vec_id
cross join q
where {_NORM.format(a='e.embedding')} > 0 and {_NORM.format(a='q.qvec')} > 0
order by cos_sim desc, cand.vec_id
limit 10
"""


def q_sim_topk_ivfpq_residual(spark, sf_dir):
    """IVF-PQ with RESIDUAL encoding (similarity.py
    ivfpq_topk_residual — the standard FAISS IVFADC layout): PQ codes
    quantize ``unit(x) - unit(centroid(cell))`` instead of the raw
    vector, so the same 16-byte budget covers the tighter residual
    distribution; the ADC table becomes (cell, subspace, codeword)-
    indexed because the query residual differs per probed cell. Both
    quantizers fixed, every residual an exactly-rounded IEEE op —
    the full pipeline replays in DuckDB."""
    return S.ivfpq_topk_residual(
        _emb(spark, sf_dir),
        _IVF_CENT_IDS,
        _PQ_CW_IDS,
        query_vec_id=0,
        k=10,
        m=_PQ_M,
        n_probe=3,
    )


# residual reduced score: ||cw||^2 - 2*dot(r_sub, cw) — no division,
# so no zero-norm case; {dot}/{cwsq} are the integer-quantized parts.
# Valid for the ENCODE argmin only (the dropped ||r_sub||^2 is
# constant across codewords).
_PQ_D_RESID = (
    "cast({cwsq} as double) / 1e12 - "
    "(2.0 * (cast({dot} as double) / 1e12))"
)
# query-side table: ||rq_sub||^2 must STAY — it differs per probed
# CELL, and candidates from different cells compare by total ADC
_PQ_D_RESID_Q = (
    "cast({rqsq} as double) / 1e12 + cast({cwsq} as double) / 1e12 - "
    "(2.0 * (cast({dot} as double) / 1e12))"
)
SQL_SIM_TOPK_IVFPQ_RESIDUAL = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid,
         {_pq_unit('embedding')} as cuv
  from embeddings where vec_id in ({", ".join(str(i) for i in _IVF_CENT_IDS)})
),
q as (select embedding as qvec from embeddings where vec_id = 0),
quv as (select {_pq_unit('embedding')} as qu
        from embeddings where vec_id = 0),
assigned as (
  select vec_id, cell from (
    select e.vec_id, c.cell,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')}, 9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
probe as (
  select cell from (
    select c.cell,
           row_number() over (
             order by round({_cos_sql('c.centroid', 'qvec')}, 9) desc, c.cell
           ) as prn
    from cents c cross join q
  ) where prn <= 3
),
cw as (
  select row_number() over (order by vec_id) - 1 as c,
         {_pq_unit('embedding')} as cwv
  from embeddings where vec_id in ({', '.join(map(str, _PQ_CW_IDS))})
),
eb as (
  select e.vec_id, a.cell,
         list_transform(generate_series(1, len(e.eu)),
                        i -> e.eu[i] - c.cuv[i]) as r
  from (select vec_id, {_pq_unit('embedding')} as eu from embeddings) e
  join assigned a on a.vec_id = e.vec_id
  join probe p on p.cell = a.cell
  join cents c on c.cell = a.cell
  where e.vec_id != 0
),
enc as (
  select e.vec_id, e.cell, j.j, cw.c,
         cast(floor(({_PQ_D_RESID.format(
             dot=_PQ_SLICE_DOT.format(a='e.r', b='cw.cwv'),
             cwsq=_PQ_SLICE_SQ.format(a='cw.cwv'))}) * 1e9
                    + 0.5) as bigint) as d
  from eb e
  cross join generate_series(0, {_PQ_M - 1}) as j(j)
  cross join cw
),
codes as (
  select vec_id, cell, j, c from (
    select enc.*, row_number() over (
      partition by vec_id, j order by d, c
    ) as rn from enc
  ) where rn = 1
),
qr as (
  select c.cell,
         list_transform(generate_series(1, len(quv.qu)),
                        i -> quv.qu[i] - c.cuv[i]) as rq
  from cents c
  join probe p on p.cell = c.cell
  cross join quv
),
qd as (
  select qr.cell, j.j, cw.c,
         cast(floor(({_PQ_D_RESID_Q.format(
             rqsq=_PQ_SLICE_SQ.format(a='qr.rq'),
             dot=_PQ_SLICE_DOT.format(a='qr.rq', b='cw.cwv'),
             cwsq=_PQ_SLICE_SQ.format(a='cw.cwv'))}) * 1000000
                    + 0.5) as bigint) as dq
  from qr cross join generate_series(0, {_PQ_M - 1}) as j(j) cross join cw
),
adc as (
  select codes.vec_id, cast(sum(qd.dq) as bigint) as adc_dist
  from codes
  join qd on qd.cell = codes.cell and qd.j = codes.j and qd.c = codes.c
  group by codes.vec_id
),
cand as (select * from adc order by adc_dist, vec_id limit 40)
select cand.vec_id, cand.adc_dist,
       round({_cos_sql('e.embedding', 'q.qvec')}, 6) as cos_sim
from cand
join embeddings e on e.vec_id = cand.vec_id
cross join q
where {_NORM.format(a='e.embedding')} > 0 and {_NORM.format(a='q.qvec')} > 0
order by cos_sim desc, cand.vec_id
limit 10
"""


def q_sim_topk_quantized(spark, sf_dir):
    """Top-10 cosine over int8-quantized vectors (4x memory): integer
    dot/norms, double division last — the compression step that makes
    a 100 TB embedding scan feasible."""
    return S.topk_quantized(_emb(spark, sf_dir), query_vec_id=0, k=10)


SQL_SIM_TOPK_QUANTIZED = """
with q as (
  select list_transform(embedding, x -> cast(round(x * 127) as bigint)) as qv
  from embeddings where vec_id = 0
),
s as (
  select vec_id,
         list_transform(embedding, x -> cast(round(x * 127) as bigint)) as cv
  from embeddings where vec_id != 0
),
d as (
  select s.vec_id,
         list_sum(list_transform(generate_series(1, len(cv)),
                                 i -> cv[i] * qv[i])) as dot,
         sqrt(cast(list_sum(list_transform(cv, v -> v * v)) as double))
           * sqrt(cast(list_sum(list_transform(qv, v -> v * v)) as double))
           as nn
  from s, q
)
select vec_id, round(cast(dot as double) / nn, 6) as score
from d
where nn is not null and nn > 0
order by score desc, vec_id
limit 10
"""


def q_sim_topk_binary(spark, sf_dir):
    """Two-stage binary-quantization ANN: sign bits packed into 32-bit
    words (32x compression), integer Hamming pre-rank of the corpus,
    exact-cosine rerank of the 40-candidate cut (similarity.py
    topk_binary). Integer Hamming + deterministic tie-breaks make the
    whole pipeline — including the candidate cut — replayable in
    DuckDB."""
    return S.topk_binary(
        _emb(spark, sf_dir), query_vec_id=0, k=10, rerank_factor=4, dim=64
    )


def _sig_sql(expr: str, dim: int = 64, wb: int = 32) -> str:
    """DuckDB spelling of similarity.sign_pack_words: a list of
    32-bit sign-bit words (32-bit so no shift ever reaches the bigint
    sign bit — see sign_pack_words docstring)."""
    words = []
    for w in range((dim + wb - 1) // wb):
        lo, hi = w * wb, min((w + 1) * wb, dim)
        words.append(
            f"cast(list_sum(list_transform(range({hi - lo}), i -> "
            f"case when ({expr})[{lo} + i + 1] >= 0 "
            f"then (1::bigint << i) else 0::bigint end)) as bigint)"
        )
    return "[" + ", ".join(words) + "]"


SQL_SIM_BINARY = f"""
with sig as (
  select vec_id, embedding, {_sig_sql('embedding')} as s from embeddings
),
q as (select embedding as qvec, s as qs from sig where vec_id = 0),
cand as (
  select vec_id, embedding,
         cast(bit_count(xor(s[1], qs[1])) + bit_count(xor(s[2], qs[2]))
              as bigint) as hamming,
         qvec
  from sig, q
  where vec_id != 0
  order by hamming asc, vec_id
  limit 40
)
select vec_id, hamming,
       round({_cos_sql('embedding', 'qvec')}, 6) as cos_sim
from cand
where sqrt(cast(list_sum(list_transform(embedding,
        x -> cast(x as double) * cast(x as double))) as double)) > 0
order by cos_sim desc, vec_id
limit 10
"""


def q_sim_topk_lsh(spark, sf_dir):
    """Approximate top-10 via sign-LSH bucket pruning (6 bits)."""
    return S.topk_lsh(_emb(spark, sf_dir), query_vec_id=0, k=10, n_bits=6)


_BUCKET_SQL = " + ".join(
    f"(case when embedding[{d + 1}] > 0 then {1 << d} else 0 end)" for d in range(6)
)

SQL_SIM_LSH = f"""
with b as (
  select vec_id, embedding, cast({_BUCKET_SQL} as bigint) as bucket
  from embeddings
), q as (select embedding as qvec, bucket as qbucket from b where vec_id = 0)
select vec_id, round({_cos_sql('embedding', 'qvec')}, 6) as cos_sim
from b, q
where vec_id != 0 and bucket = qbucket
order by cos_sim desc, vec_id
limit 10
"""


def q_sim_ivf_ann(spark, sf_dir):
    """IVF ANN with a deterministic fixed quantizer (centroids = the
    embeddings of vec_ids 1..8), probe the 3 closest cells, exact
    cosine within — hash-checked against a DuckDB replay of the full
    assignment + probe + ranking. An index trained by S.ivf_index
    serves through the same path (S.ivf_topk_serve); this query pins
    the quantizer so the result is SQL-reproducible."""
    return S.ivf_ann_fixed(
        _emb(spark, sf_dir), _IVF_CENT_IDS, query_vec_id=0, k=10, n_probe=3
    )


SQL_SIM_IVF = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid
  from embeddings where vec_id in ({", ".join(str(i) for i in _IVF_CENT_IDS)})
),
q as (select embedding as qvec from embeddings where vec_id = 0),
assigned as (
  select vec_id, embedding, cell from (
    select e.vec_id, e.embedding, c.cell,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')}, 9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
probe as (
  select cell from (
    select c.cell,
           row_number() over (
             order by round({_cos_sql('c.centroid', 'qvec')}, 9) desc, c.cell
           ) as prn
    from cents c cross join q
  ) where prn <= 3
)
select a.vec_id, round({_cos_sql('a.embedding', 'qvec')}, 6) as cos_sim
from assigned a join probe using (cell) cross join q
where a.vec_id != 0
order by cos_sim desc, a.vec_id
limit 10
"""


def q_sim_knn_blocked(spark, sf_dir):
    """Label-blocked k-NN graph (IVF pattern): top-3 per vector within
    its block."""
    return S.all_pairs_topk_blocked(_emb(spark, sf_dir), k=3)


SQL_SIM_KNN = f"""
select src, dst, cos_sim, rank from (
  select a.vec_id as src, b.vec_id as dst,
         round({_cos_sql('a.embedding', 'b.embedding')}, 6) as cos_sim,
         cast(row_number() over (
           partition by a.vec_id
           order by round({_cos_sql('a.embedding', 'b.embedding')}, 6) desc, b.vec_id
         ) as bigint) as rank
  from embeddings a
  join embeddings b on a.label = b.label and a.vec_id != b.vec_id
) where rank <= 3
"""


# ------------------------------------------------------------------
# multimodal
# ------------------------------------------------------------------

def q_mm_binary_meta(spark, sf_dir):
    """Binary-column triage metadata (byte length / content hash /
    magic bytes) — pure SQL, no decode."""
    return M.binary_meta(_docs(spark, sf_dir))


SQL_MM_META = """
select doc_id,
       cast(octet_length(cast(text as blob)) as bigint) as n_bytes,
       md5(text) as content_fp,
       lower(hex(cast(substring(text, 1, 4) as blob))) as magic_hex
from documents
"""


def q_mm_decode_real(spark, sf_dir):
    """REAL header decode, end-to-end verified: documents rows become
    genuine BMP/WAV files (multimodal.py synthesize_media — dimensions
    and sample counts are plain formulas over doc_id/n_chars), then
    decode_media parses width/height/rate/duration back OUT OF THE
    BYTES with struct offset arithmetic. The oracle predicts every
    field from the construction formulas alone — any endianness,
    offset, stride, or chunk-walk bug in the parser diverges from it."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return M.decode_media(M.synthesize_media(docs))


# predicts decode_media's output from synthesize_media's formulas:
# even doc_id -> BMP w=4+id%29, h=4+n_chars%31, bytes=54+stride*h
# (stride = 3w rounded up to 4); odd -> 16-bit mono WAV,
# rate=8000*(1+id%5), samples=100+n_chars%400, bytes=44+2*samples,
# duration_ms = floor(data_bytes*1000 / byte_rate) = samples*1000//rate
SQL_MM_DECODE_REAL = """
select doc_id,
       case when doc_id % 2 = 0 then 'bmp' else 'wav' end as fmt,
       cast(case when doc_id % 2 = 0
                 then 54 + ((((4 + doc_id % 29) * 3 + 3) // 4) * 4)
                          * (4 + n_chars % 31)
                 else 44 + (100 + n_chars % 400) * 2 end as bigint)
         as n_bytes,
       cast(case when doc_id % 2 = 0 then 4 + doc_id % 29 end as int)
         as width,
       cast(case when doc_id % 2 = 0 then 4 + n_chars % 31 end as int)
         as height,
       cast(case when doc_id % 2 = 1 then 8000 * (1 + doc_id % 5) end
            as int) as sample_rate,
       cast(case when doc_id % 2 = 1
                 then ((100 + n_chars % 400) * 2 * 1000)
                      // (8000 * (1 + doc_id % 5) * 2) end
            as int) as duration_ms
from documents where doc_id < 300
"""


def q_mm_resize(spark, sf_dir):
    """REAL image resize, end-to-end verified: synthesized BMPs
    downscale by 1/2 through the byte-level nearest-neighbor
    resampler (multimodal.py resize_bmp), WAVs pass through the
    dispatch untouched, and decode_media parses the RESULT bytes —
    the oracle predicts every field from the construction+resize
    formulas, so any stride, header, or resample-bounds bug in the
    resizer diverges from it."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return M.decode_media(M.resize_media(M.synthesize_media(docs)))


# decode_media over resize_media(synthesize_media(...)): BMPs have
# halved dims (floor, min 1) and recomputed stride/bytes; WAVs are
# byte-identical to SQL_MM_DECODE_REAL's
SQL_MM_RESIZE = """
select doc_id,
       case when doc_id % 2 = 0 then 'bmp' else 'wav' end as fmt,
       cast(case when doc_id % 2 = 0
                 then 54 + (((greatest(1, (4 + doc_id % 29) // 2) * 3 + 3)
                             // 4) * 4)
                          * greatest(1, (4 + n_chars % 31) // 2)
                 else 44 + (100 + n_chars % 400) * 2 end as bigint)
         as n_bytes,
       cast(case when doc_id % 2 = 0
                 then greatest(1, (4 + doc_id % 29) // 2) end as int)
         as width,
       cast(case when doc_id % 2 = 0
                 then greatest(1, (4 + n_chars % 31) // 2) end as int)
         as height,
       cast(case when doc_id % 2 = 1 then 8000 * (1 + doc_id % 5) end
            as int) as sample_rate,
       cast(case when doc_id % 2 = 1
                 then ((100 + n_chars % 400) * 2 * 1000)
                      // (8000 * (1 + doc_id % 5) * 2) end
            as int) as duration_ms
from documents where doc_id < 300
"""


def q_mm_decode_png_jpeg(spark, sf_dir):
    """REAL PNG + JPEG header decode joining the BMP/WAV family
    (multimodal.py parse_png / parse_jpeg): documents rows become
    genuine four-format media files (synthesize_media_all — PNGs with
    real IHDR/IDAT/IEND chunks and CRCs, stored-deflate so even the
    compressed size is a formula; JPEGs whose marker stream forces
    the SOF walk past a COM segment), then decode_media parses every
    field back OUT OF THE BYTES: PNG big-endian IHDR dims, JPEG SOF0
    height/width via the marker-length walk. The oracle predicts all
    fields from the construction formulas alone — any endianness,
    chunk-offset, or marker-walk bug diverges from it."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return M.decode_media(M.synthesize_media_all(docs))


# predicts decode_media over synthesize_media_all by doc_id % 4:
# 0 -> BMP (w=4+id%29, h=4+n%31, bytes=54+stride*h);
# 1 -> WAV (rate=8000*(1+id%5), samples=100+n%400, bytes=44+2*samples);
# 2 -> PNG (w=3+id%37, h=3+n%23; stored-deflate: raw=h*(1+3w) scanline
#      bytes, IDAT=11+raw, total=68+raw);
# 3 -> JPEG (w=5+n%41, h=5+id%19, COM pad id%17, total=21+pad)
SQL_MM_DECODE_PNG_JPEG = """
select doc_id,
       case doc_id % 4 when 0 then 'bmp' when 1 then 'wav'
                       when 2 then 'png' else 'jpeg' end as fmt,
       cast(case doc_id % 4
            when 0 then 54 + ((((4 + doc_id % 29) * 3 + 3) // 4) * 4)
                            * (4 + n_chars % 31)
            when 1 then 44 + (100 + n_chars % 400) * 2
            when 2 then 68 + (3 + n_chars % 23)
                            * (1 + 3 * (3 + doc_id % 37))
            else 21 + doc_id % 17 end as bigint) as n_bytes,
       cast(case doc_id % 4 when 0 then 4 + doc_id % 29
                            when 2 then 3 + doc_id % 37
                            when 3 then 5 + n_chars % 41 end as int)
         as width,
       cast(case doc_id % 4 when 0 then 4 + n_chars % 31
                            when 2 then 3 + n_chars % 23
                            when 3 then 5 + doc_id % 19 end as int)
         as height,
       cast(case when doc_id % 4 = 1 then 8000 * (1 + doc_id % 5) end
            as int) as sample_rate,
       cast(case when doc_id % 4 = 1
                 then ((100 + n_chars % 400) * 2 * 1000)
                      // (8000 * (1 + doc_id % 5) * 2) end
            as int) as duration_ms
from documents where doc_id < 400
"""


def q_mm_resize_multi(spark, sf_dir):
    """REAL multi-format image resize, end-to-end verified: the
    four-format corpus downscales by 1/2 through the byte-level
    resamplers — BMPs via the stride-grid kernel, PNGs via genuine
    inflate -> unfilter -> resample -> re-emit (multimodal.py
    resize_png; stored-deflate output keeps the byte size a formula)
    — while WAVs and JPEGs (entropy-coded pixels need a codec) pass
    through the dispatch untouched; decode_media then parses the
    RESULT bytes. The oracle predicts every field from the
    construction+resize formulas, so any unfilter, stride, or
    re-emit bug in either resampler diverges from it."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return M.decode_media(M.resize_media(M.synthesize_media_all(docs)))


SQL_MM_RESIZE_MULTI = """
select doc_id,
       case doc_id % 4 when 0 then 'bmp' when 1 then 'wav'
                       when 2 then 'png' else 'jpeg' end as fmt,
       cast(case doc_id % 4
            when 0 then 54 + (((greatest(1, (4 + doc_id % 29) // 2) * 3
                                + 3) // 4) * 4)
                            * greatest(1, (4 + n_chars % 31) // 2)
            when 1 then 44 + (100 + n_chars % 400) * 2
            when 2 then 68 + greatest(1, (3 + n_chars % 23) // 2)
                            * (1 + 3 * greatest(1, (3 + doc_id % 37) // 2))
            else 21 + doc_id % 17 end as bigint) as n_bytes,
       cast(case doc_id % 4
            when 0 then greatest(1, (4 + doc_id % 29) // 2)
            when 2 then greatest(1, (3 + doc_id % 37) // 2)
            when 3 then 5 + n_chars % 41 end as int) as width,
       cast(case doc_id % 4
            when 0 then greatest(1, (4 + n_chars % 31) // 2)
            when 2 then greatest(1, (3 + n_chars % 23) // 2)
            when 3 then 5 + doc_id % 19 end as int) as height,
       cast(case when doc_id % 4 = 1 then 8000 * (1 + doc_id % 5) end
            as int) as sample_rate,
       cast(case when doc_id % 4 = 1
                 then ((100 + n_chars % 400) * 2 * 1000)
                      // (8000 * (1 + doc_id % 5) * 2) end
            as int) as duration_ms
from documents where doc_id < 400
"""


def q_mm_resample_audio(spark, sf_dir):
    """REAL audio resample, end-to-end verified — the audio twin of
    the image resizes: synthesized WAVs (16-bit mono PCM, rates
    8000-40000 Hz) resample to 8 kHz through the byte-level
    nearest-sample kernel (multimodal.py resample_wav: RIFF chunk
    walk, int16 fancy-index, re-emit), BMPs pass through the
    dispatch untouched, and decode_media parses the RESULT bytes.
    The oracle predicts the resampled rate, byte size, and duration
    from the synthesis formulas — any chunk-walk, sample-index, or
    header-re-emit bug diverges from it."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return M.decode_media(
        M.resample_audio(M.synthesize_media(docs), target_rate=8000)
    )


# WAVs: old_rate = 8000*(1+id%5), old_n = 100+n_chars%400,
# new_n = old_n * 8000 // old_rate = old_n // (1+id%5);
# decode duration = (2*new_n)*1000 // (8000*2). BMPs unchanged.
SQL_MM_RESAMPLE_AUDIO = """
select doc_id,
       case when doc_id % 2 = 0 then 'bmp' else 'wav' end as fmt,
       cast(case when doc_id % 2 = 0
                 then 54 + ((((4 + doc_id % 29) * 3 + 3) // 4) * 4)
                          * (4 + n_chars % 31)
                 else 44 + ((100 + n_chars % 400) // (1 + doc_id % 5)) * 2
            end as bigint) as n_bytes,
       cast(case when doc_id % 2 = 0 then 4 + doc_id % 29 end as int)
         as width,
       cast(case when doc_id % 2 = 0 then 4 + n_chars % 31 end as int)
         as height,
       cast(case when doc_id % 2 = 1 then 8000 end as int) as sample_rate,
       cast(case when doc_id % 2 = 1
                 then (((100 + n_chars % 400) // (1 + doc_id % 5)) * 2
                       * 1000) // 16000 end
            as int) as duration_ms
from documents where doc_id < 300
"""


def q_mm_decode_mp4(spark, sf_dir):
    """REAL MP4 container decode, end-to-end verified — the video
    member of the header-decoder family (multimodal.py parse_mp4):
    documents rows become structurally-valid MP4s (ftyp + a free box
    the walk must skip by declared size + moov/mvhd/trak/tkhd), then
    decode_media walks the box tree back OUT OF THE BYTES — mvhd
    timescale/duration, tkhd 16.16 fixed-point dimensions. The oracle
    predicts every field from the synthesis formulas; only codec
    PAYLOAD decode (frames/samples) remains stubbed, honestly, since
    the container ships no codecs."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return M.decode_media(M.synthesize_video(docs))


SQL_MM_DECODE_MP4 = """
select doc_id,
       'mp4' as fmt,
       cast(252 + doc_id % 23 as bigint) as n_bytes,
       cast(16 * (1 + doc_id % 20) as int) as width,
       cast(16 * (1 + n_chars % 15) as int) as height,
       cast(null as int) as sample_rate,
       cast(500 + n_chars % 2000 as int) as duration_ms
from documents where doc_id < 300
"""


def q_mm_tar_shards(spark, sf_dir):
    """WebDataset-style tar shard export, hash-verified END-TO-END
    (multimodal.py tar_shards): the synthesized BMP/WAV corpus packs
    into 8 deterministic tar archives; the oracle predicts each
    shard's member count AND exact archive byte size from pure
    arithmetic — hash-stable shard assignment (the shared h60 key),
    512-byte member headers, payload sizes from the synthesis
    formulas rounded to tar blocks, 1024-byte end marker, 10240-byte
    record padding. Any drift in assignment, member accounting, or
    archive layout diverges."""
    payloads = M.synthesize_media(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    )
    return M.tar_shards(payloads, 8).select(
        "shard",
        "n_members",
        F.octet_length("tar").cast("long").alias("tar_bytes"),
    )


SQL_MM_TAR_SHARDS = f"""
with sz as (
  select doc_id,
         cast(case when doc_id % 2 = 0
                   then 54 + ((((4 + doc_id % 29) * 3 + 3) // 4) * 4)
                            * (4 + n_chars % 31)
                   else 44 + (100 + n_chars % 400) * 2 end as bigint)
           as nb,
         cast({h60_sql(
             "concat('shard', ':', "
             "coalesce(cast(doc_id as varchar), chr(0)))")} % 8 as int)
           as shard
  from documents where doc_id < 300
)
select shard, cast(count(*) as bigint) as n_members,
       cast(((1024 + sum(512 + ((nb + 511) // 512) * 512) + 10239)
             // 10240) * 10240 as bigint) as tar_bytes
from sz group by shard
"""


def q_mm_frame_plan(spark, sf_dir):
    """Frame-extraction planning from REAL container metadata
    (multimodal.py plan_frames): every synthesized MP4's mvhd
    duration drives which frame timestamps a 2-fps sampler would
    seek-decode (every 2nd frame here) — the decode-free planning
    step that bounds codec cost to the planned frames. The oracle
    re-derives the plan from the synthesis formulas with a
    generate_series explosion."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return M.plan_frames(M.synthesize_video(docs), fps=2, every_n=2)


# duration = 500 + n_chars % 2000 -> n_frames = max(1, dur*2 // 1000)
# <= 4; every 2nd frame; t_ms = idx*1000 // 2. Lateral column bounds
# are unsupported in the oracle engine's generate_series — generate
# the max range and filter (same pattern as SQL_MM_FRAMES).
SQL_MM_FRAME_PLAN = """
with v as (
  select doc_id,
         greatest(1, (500 + n_chars % 2000) * 2 // 1000) as nf
  from documents where doc_id < 300
)
select doc_id, cast(i as int) as frame_idx,
       cast(i * 1000 // 2 as int) as t_ms
from v, generate_series(0, 4, 2) as t(i)
where i < v.nf
"""


def q_mm_decode_stub(spark, sf_dir):
    """Arrow-batched mapInPandas decode plumbing with stubbed codec —
    hash-checked: the deterministic stub (md5-byte-derived fake
    dimensions) is SQL-reproduced in the oracle, so the Python stage's
    batch shape, schema, and values are all driver-verified."""
    return M.decode_metadata(M.with_binary_payload(_docs(spark, sf_dir)))


# width/height/n_frames replay _decode_stub: bytes 0/1/2 of the md5
# digest are hex pairs 1-2 / 3-4 / 5-6 of the hex string
SQL_MM_DECODE = """
select doc_id,
       cast(octet_length(cast(text as blob)) as bigint) as n_bytes,
       md5(text) as content_fp,
       cast(64 + cast(concat('0x', substr(md5(text), 1, 2)) as bigint) % 192
            as int) as width,
       cast(64 + cast(concat('0x', substr(md5(text), 3, 2)) as bigint) % 192
            as int) as height,
       cast(1 + cast(concat('0x', substr(md5(text), 5, 2)) as bigint) % 30
            as int) as n_frames
from documents
"""


def q_sample_weighted(spark, sf_dir):
    """Deterministic weighted bottom-k sample per language
    (sampling.weighted_sample): integer-weight ticket lottery, best
    (min) md5-derived 60-bit ticket wins — no transcendental math, so
    ranks are bit-identical across engines. Weight = a 1..7 tier
    derived from document length (the quantize-upstream contract)."""
    from sslr_spark.functions.sampling import weighted_sample

    docs = _docs(spark, sf_dir).withColumn(
        "w", (F.length("text") % 7 + 1).cast("long")
    )
    return weighted_sample(docs, "doc_id", "w", k=20, by="lang")


def _sample_weighted_oracle() -> str:
    from sslr_spark.functions.sampling import weighted_sample_sql

    inner = weighted_sample_sql(
        "(select lang, doc_id, cast(length(text) % 7 + 1 as bigint) as w"
        " from documents) s",
        "doc_id",
        "w",
        20,
        by="lang",
    )
    return (
        "select lang, k_ as doc_id, w_ as w, best_ticket from ("
        + inner
        + ") z"
    )


SQL_SAMPLE_WEIGHTED = _sample_weighted_oracle()


def q_mm_decode_pixels_jpeg(spark, sf_dir):
    """JPEG pixel decode through the optional-codec gate
    (multimodal.decode_pixels_jpeg). The registered key PINS
    codec='stub' so the hash check is environment-independent —
    codec='auto' would flip this query to real pillow decode the
    moment someone installs the codec, silently breaking the oracle
    with no code change. Production callers use 'auto'; the real
    branch is covered by a pillow-gated unit test and the
    stub-equals-auto test in the codec-free container."""
    return M.decode_pixels_jpeg(
        M.with_binary_payload(_docs(spark, sf_dir)), codec="stub"
    )


# replays decode_pixels_jpeg's stub: md5 digest bytes 0/1 shape the
# fake dimensions (as _decode_stub) and byte 2 is the fake mean luma
SQL_MM_DECODE_PIXELS_JPEG = """
select doc_id,
       cast(64 + cast(concat('0x', substr(md5(text), 1, 2)) as bigint) % 192
            as int) as width,
       cast(64 + cast(concat('0x', substr(md5(text), 3, 2)) as bigint) % 192
            as int) as height,
       cast(cast(concat('0x', substr(md5(text), 5, 2)) as bigint)
            as int) as mean_luma
from documents
"""


def q_mm_extract_features(spark, sf_dir):
    """Feature-extraction plumbing (binary -> array<float>) via
    Arrow-batched mapInPandas, projected to driver-sortable scalar
    rows (doc_id, dim_idx, feat_val) — raw arrays are unhashable for
    the driver's canonicalizer, and the deterministic stub featurizer
    is SQL-reproducible, so this entry gets a full hash check."""
    from pyspark.sql import functions as F

    feats = M.extract_features(M.with_binary_payload(_docs(spark, sf_dir)))
    return feats.select(
        "doc_id", F.posexplode("feature").alias("dim_idx", "feat_val")
    ).select(
        "doc_id",
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.round(F.col("feat_val").cast("double"), 4).alias("feat_val"),
    )


# Reproduces multimodal._decode_stub's featurizer in SQL:
# feature[i] = (md5_byte[i % 16] XOR (i*37 & 0xFF)) / 127.5 - 1.0
# (md5 over the utf8 text bytes == md5 over the binary payload).
# round(4) absorbs the float32 storage error; values are n/255 grid
# points so no rounding-boundary ambiguity exists (see round-2 notes).
SQL_MM_FEATURES = f"""
select doc_id, cast(i as int) as dim_idx,
       round(xor(cast(concat('0x', substr(md5(text), 2*(i % 16) + 1, 2))
                      as bigint),
                 (i * 37) % 256) / 127.5 - 1.0, 4) as feat_val
from documents, generate_series(0, {M.FEATURE_DIM - 1}) as t(i)
"""


def q_mm_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing (1 row per sampled frame) — hash-checked:
    the stub fingerprint formula (md5 of payload + ':' + ascii index)
    is SQL-reproducible, so the row-amplifying mapInPandas stage is
    driver-verified value-for-value."""
    return M.sample_frames(M.with_binary_payload(_docs(spark, sf_dir)), every_n=2)


# lateral generate_series over a column bound is unsupported in the
# oracle engine: generate the max range (n_frames <= 30) and filter
SQL_MM_FRAMES = """
with d as (
  select doc_id, text,
         1 + cast(concat('0x', substr(md5(text), 5, 2)) as bigint) % 30
           as n_frames
  from documents
)
select d.doc_id, cast(i as int) as frame_idx,
       md5(concat(d.text, ':', cast(i as varchar))) as frame_fp
from d, generate_series(0, 29) as g(i)
where i < d.n_frames and i % 2 = 0
"""


def q_text_repetition(spark, sf_dir):
    """Intra-doc repetition: immediate-repeat ratio + run-collapsed
    text fingerprint (corpus-quality signal)."""
    return X.repetition_metrics(_docs(spark, sf_dir))


SQL_TEXT_REPETITION = f"""
with t as (
  select doc_id, {W_SQL} as w
  from (select doc_id, coalesce(text, '') as text from documents)
),
m as (
  select doc_id, w, len(w) as n,
    case when len(w) <= 1 then []
         else list_filter(generate_series(2, len(w)), i -> w[i] = w[i-1]) end
      as rep,
    case when len(w) = 0 then []
         else list_filter(generate_series(1, len(w)),
                          i -> i = 1 or w[i] != w[i-1]) end
      as keep
  from t
)
select doc_id,
       cast(n as bigint) as n_tokens,
       cast(len(rep) as bigint) as n_repeats,
       round(case when n = 0 then 0.0
                  else cast(len(rep) as double) / n end, 6) as rep_ratio,
       md5(array_to_string(list_transform(keep, i -> w[i]), ' ')) as collapsed_fp
from m
"""


def q_dedup_contamination(spark, sf_dir):
    """Eval-set decontamination scan: fraction of each corpus doc's
    distinct 5-gram shingles appearing anywhere in the eval set. The
    eval set is itself derived deterministically (2% hash sample), so
    the whole query is engine-portable."""
    from sslr_spark.functions.sampling import hash_sample

    docs = _docs(spark, sf_dir)
    eval_df = hash_sample(docs, "doc_id", 0.02, seed="evalset")
    return D.contamination_rates(docs, eval_df, n=5)


def _eval_sql() -> str:
    bkt = split_bucket_sql("doc_id", "evalset")
    return f"select * from documents where {bkt} < 20000"


SQL_DEDUP_CONTAMINATION = f"""
with ev as ({_eval_sql()}),
csh as (
  select distinct doc_id, unnest(
    list_transform(generate_series(1, len({W_SQL}) - 4),
                   i -> array_to_string(({W_SQL})[i:i+4], ' '))
  ) as shingle
  from documents
),
esh as (
  select distinct unnest(
    list_transform(generate_series(1, len({W_SQL}) - 4),
                   i -> array_to_string(({W_SQL})[i:i+4], ' '))
  ) as shingle
  from ev
),
cnt as (select doc_id, count(*) as n_shingles from csh group by 1),
tot as (
  select d.doc_id, coalesce(c.n_shingles, 0) as n_shingles
  from (select distinct doc_id from documents) d
  left join cnt c on d.doc_id = c.doc_id
),
hit as (
  select doc_id, count(*) as n_contaminated
  from csh where shingle in (select shingle from esh)
  group by 1
)
select t.doc_id,
       t.n_shingles,
       coalesce(h.n_contaminated, 0) as n_contaminated,
       round(case when t.n_shingles = 0 then 0.0
                  else cast(coalesce(h.n_contaminated, 0) as double)
                       / t.n_shingles end, 6) as contamination
from tot t left join hit h on t.doc_id = h.doc_id
"""


def q_sample_leakage_safe(spark, sf_dir):
    """Leakage-free 90/5/5 split: test docs with a near-dup (3-gram
    Jaccard >= 0.3) in another split are reassigned to their best
    partner's split — eval on a paraphrase of a training doc inflates
    scores, and joining the partner's split never creates NEW
    cross-split leakage."""
    from sslr_spark.functions.sampling import leakage_safe_split

    return leakage_safe_split(
        _docs(spark, sf_dir),
        weights={"train": 0.9, "val": 0.05, "test": 0.05},
        holdout="test",
        jaccard_threshold=0.3,
    )


SQL_SAMPLE_LEAKAGE_SAFE = (
    "with " + _shingles_cte(3) + f""",
b as (select doc_id, {split_bucket_sql('doc_id')} as bkt from documents),
lab as (select doc_id, case when bkt < 900000 then 'train'
                            when bkt < 950000 then 'val'
                            else 'test' end as split from b),
ssh as (select sh.doc_id, sh.shingle, lab.split
        from sh join lab using (doc_id)),
sizes as (select doc_id, count(*) as n_sh from ssh group by 1),
pairs as (
  select i.h_id, i.r_id,
         round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) as jaccard
  from (
    select h.doc_id as h_id, r.doc_id as r_id, count(*) as n_common
    from ssh h join ssh r on h.shingle = r.shingle
    where h.split = 'test' and r.split != 'test'
    group by 1, 2
  ) i
  join sizes sa on sa.doc_id = i.h_id
  join sizes sb on sb.doc_id = i.r_id
  where round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.3
),
best as (select h_id, max(jaccard) as bj from pairs group by 1),
pick as (
  select p.h_id, min(p.r_id) as pid
  from pairs p join best bb on bb.h_id = p.h_id and p.jaccard = bb.bj
  group by 1
),
moved as (
  select k.h_id as doc_id, l2.split as to_split
  from pick k join lab l2 on l2.doc_id = k.pid
)
select l.doc_id, coalesce(m.to_split, l.split) as split
from lab l left join moved m using (doc_id)
"""
)


def q_sample_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by key hash (90/5/5):
    per-(split, lang) document counts. The assignment is a pure
    function of (seed, doc_id) — append-stable, engine-portable."""
    from sslr_spark.functions.sampling import hash_split

    from pyspark.sql import functions as F

    split = hash_split(
        _docs(spark, sf_dir), "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return (
        split.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_SAMPLE_HASH_SPLIT = f"""
with b as (
  select lang,
         {split_bucket_sql('doc_id')} as bkt
  from documents
)
select case when bkt < 900000 then 'train'
            when bkt < 950000 then 'val'
            else 'test' end as split,
       lang, count(*) as n_docs
from b group by 1, 2
"""


def q_sample_stratified(spark, sf_dir):
    """Exact per-stratum sample: 2% of each language by hash order —
    returns the selected doc_ids (deterministic set)."""
    from sslr_spark.functions.sampling import stratified_exact_sample

    return stratified_exact_sample(
        _docs(spark, sf_dir), "lang", "doc_id", 0.02
    ).select("doc_id", "lang")


SQL_SAMPLE_STRATIFIED = f"""
with b as (
  select doc_id, lang,
         {split_bucket_sql('doc_id', 'strat')} as bkt,
         count(*) over (partition by lang) as n
  from documents
), r as (
  select doc_id, lang, n,
         row_number() over (partition by lang order by bkt, doc_id) as rn
  from b
)
select doc_id, lang from r where rn <= ceil(n * 0.02)
"""


def q_mix_allocation(spark, sf_dir):
    """Training-mix budgeting: temperature-scaled (alpha=0.7) token
    budget per (lang, source) domain — the data-mixing step of corpus
    curation (functions/sampling.py:mix_allocation)."""
    from sslr_spark.functions.sampling import mix_allocation

    return mix_allocation(
        _docs(spark, sf_dir), ["lang", "source"], "n_chars",
        budget=1_000_000, alpha=0.7,
    )


# the temperature/truncation spelling lives ONCE — both the
# allocation oracle and the mix-execution oracle compose this block
_MIX_CTE = """
tot as (
  select lang, source, cast(sum(n_chars) as bigint) as domain_weight
  from documents group by lang, source
),
p as (
  select *, pow(cast(domain_weight as double), 0.7) as pp from tot
)"""

SQL_MIX_ALLOCATION = (
    "with " + _MIX_CTE + """
select lang, source, domain_weight,
       floor(pp / sum(pp) over () * 1000000.0) / 1000000.0 as share,
       cast(floor(floor(pp / sum(pp) over () * 1000000.0) / 1000000.0
                  * 1000000.0) as bigint) as allocation
from p
"""
)


def q_sample_mix_execute(spark, sf_dir):
    """Execute the training-mix budget: per-domain hash sampling at
    rate allocation/domain_weight — the step that turns mix_allocation
    budgets into an actual sampled corpus. One broadcast of n_domains
    rate rows + a narrow hash filter; expected tokens per domain ==
    allocation (hash sampling; the exact-trim variant is
    stratified_exact_sample's two-phase machinery)."""
    from sslr_spark.functions.sampling import mix_allocation, split_bucket

    docs = _docs(spark, sf_dir)
    alloc = mix_allocation(
        docs, ["lang", "source"], "n_chars", budget=1_000_000, alpha=0.7
    )
    rates = alloc.select(
        "lang",
        "source",
        F.least(
            F.lit(1.0),
            F.col("allocation").cast("double") / F.col("domain_weight"),
        ).alias("rate"),
    )
    return (
        docs.join(F.broadcast(rates), ["lang", "source"])
        .filter(
            split_bucket(F.col("doc_id"), "mix")
            < F.floor(F.col("rate") * F.lit(1e6)).cast("long")
        )
        .select("doc_id", "lang", "source", "n_chars")
    )


SQL_SAMPLE_MIX_EXECUTE = "with " + _MIX_CTE + f""",
alloc as (
  select lang, source, domain_weight,
         cast(floor(floor(pp / sum(pp) over () * 1000000.0) / 1000000.0
                    * 1000000.0) as bigint) as allocation
  from p
),
rates as (
  select lang, source,
         least(1.0, cast(allocation as double) / domain_weight) as rate
  from alloc
)
select d.doc_id, d.lang, d.source, d.n_chars
from documents d join rates r using (lang, source)
where {split_bucket_sql('d.doc_id', 'mix')}
      < cast(floor(r.rate * 1000000.0) as bigint)
"""


def q_text_length_stats(spark, sf_dir):
    """Per-language length distribution (count / mean / exact
    p50-p95-p99) — the basis of corpus length-filter thresholds
    (functions/text.py:length_stats)."""
    return X.length_stats(_docs(spark, sf_dir))


SQL_LENGTH_STATS = """
select lang,
       cast(count(*) as bigint) as n_docs,
       round(avg(n_chars), 6) as mean_len,
       round(quantile_cont(n_chars, 0.5), 6) as p50,
       round(quantile_cont(n_chars, 0.95), 6) as p95,
       round(quantile_cont(n_chars, 0.99), 6) as p99
from documents
group by lang
"""


def q_text_bpe_pairs(spark, sf_dir):
    """Top-50 BPE merge candidates (functions/text.py
    bpe_merge_pairs): adjacent-char pair counts weighted by word
    frequency — tokenizer-training's counting step, via the
    vocabulary-collapse two-level plan."""
    return X.bpe_merge_pairs(_docs(spark, sf_dir), k=50)


SQL_TEXT_BPE_PAIRS = """
with tok as (
  select unnest(case when length(trim(lower(text))) = 0 then []
                else string_split_regex(trim(lower(text)), '\\s+') end)
           as w
  from documents
),
v as (
  select w, count(*) as freq from tok group by w
),
p as (
  select unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, i, 2))) as pair,
         freq
  from v where length(w) >= 2
)
select pair, cast(sum(freq) as bigint) as cnt
from p group by pair
order by cnt desc, pair
limit 50
"""


def q_text_topk_ngrams(spark, sf_dir):
    """Corpus-level top-20 word bigrams (boilerplate / vocabulary
    probe; functions/text.py:topk_ngrams)."""
    return X.topk_ngrams(_docs(spark, sf_dir), k=20)


SQL_TOPK_NGRAMS = """
with toks as (
  select list_filter(string_split(lower(text), ' '), t -> t != '') as tk
  from documents
),
grams as (
  select unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) as ngram
  from toks where len(tk) >= 2
)
select ngram, cast(count(*) as bigint) as cnt
from grams
group by ngram
order by cnt desc, ngram
limit 20
"""


def q_text_chunk(spark, sf_dir):
    """Overlapping fixed-window chunking (128 chars, 32 overlap) — the
    long-document -> training-chunk step
    (functions/chunking.py:chunk_text). Embarrassingly parallel:
    per-row sequence + explode, no shuffle."""
    from sslr_spark.functions.chunking import chunk_text

    return chunk_text(_docs(spark, sf_dir), chunk_chars=128, overlap=32)


SQL_TEXT_CHUNK = """
with c as (
  select doc_id, text, length(text) as n from documents
  where text is not null and length(text) > 0
)
select doc_id, cast(s / 96 as bigint) as chunk_idx,
       substr(text, cast(s + 1 as bigint), 128) as chunk,
       cast(least(128, n - s) as bigint) as chunk_len
from c, lateral unnest(
  generate_series(0, cast(greatest(0, n - 1 - 32) as bigint), 96)
) as t(s)
"""


def q_pack_token_budget(spark, sf_dir):
    """Greedy concat-packing of documents into 512-token training
    batches across 8 hash shards
    (functions/chunking.py:pack_token_budget). The running-sum window
    is per-shard — never a global single-partition sort."""
    from sslr_spark.functions.chunking import pack_token_budget

    return pack_token_budget(
        _docs(spark, sf_dir), budget=512, n_shards=8
    )


SQL_PACK_TOKEN_BUDGET = f"""
with t as (
  select doc_id, doc_id % 8 as shard,
         cast(len({W_SQL}) as bigint) as n_tokens
  from documents
), r as (
  select *,
         sum(n_tokens) over (partition by shard order by doc_id
           rows between unbounded preceding and current row) - n_tokens
           as st
  from t
)
select doc_id, cast(shard as bigint) as shard, n_tokens,
       cast(floor(st / 512.0) as bigint) as batch_id,
       cast(st % 512 as bigint) as batch_off
from r
"""


def q_filter_funnel(spark, sf_dir):
    """Quality-filter funnel report — surviving/dropped counts per
    filter stage, one scan with conditional partial aggregation
    (functions/chunking.py:filter_funnel)."""
    from sslr_spark.functions.chunking import filter_funnel
    from sslr_spark.functions.text import mean_word_len, token_count

    t = F.col("text")
    mwl = mean_word_len(t)
    return filter_funnel(
        _docs(spark, sf_dir),
        [
            ("min_chars", F.col("n_chars") >= 120),
            ("lang_known", F.col("lang").isin("de", "en", "es", "fr")),
            ("min_tokens", token_count(t) >= 25),
            ("word_shape", (mwl >= 2.0) & (mwl <= 12.0)),
        ],
    )


SQL_FILTER_FUNNEL = f"""
with m as (
  select n_chars, lang, {W_SQL} as w from documents
), c as (
  select coalesce(n_chars >= 120, false) as c1,
         coalesce(lang in ('de','en','es','fr'), false) as c2,
         coalesce(len(w) >= 25, false) as c3,
         coalesce((case when len(w) = 0 then 0.0
            else cast(list_sum(list_transform(w, x -> cast(length(x) as double)))
                      as double) / len(w) end) between 2.0 and 12.0,
           false) as c4
  from m
), a as (
  select cast(count(*) as bigint) as s0,
         cast(sum(case when c1 then 1 else 0 end) as bigint) as s1,
         cast(sum(case when c1 and c2 then 1 else 0 end) as bigint) as s2,
         cast(sum(case when c1 and c2 and c3 then 1 else 0 end) as bigint) as s3,
         cast(sum(case when c1 and c2 and c3 and c4 then 1 else 0 end) as bigint) as s4
  from c
)
select cast(0 as bigint) as stage, 'input' as stage_name,
       s0 as n_in, s0 as n_out, cast(0 as bigint) as n_dropped from a
union all select 1, 'min_chars',  s0, s1, s0 - s1 from a
union all select 2, 'lang_known', s1, s2, s1 - s2 from a
union all select 3, 'min_tokens', s2, s3, s2 - s3 from a
union all select 4, 'word_shape', s3, s4, s3 - s4 from a
"""


def q_text_pii_scrub(spark, sf_dir):
    """PII redaction (email / phone / IPv4 regex scrub with per-kind
    counts; functions/chunking.py:pii_scrub). The corpus carries no
    natural PII, so the query injects one deterministic synthetic
    email+phone+IP per document to exercise the scrubber end-to-end;
    counts are computed on the progressively-scrubbed text."""
    from sslr_spark.functions.chunking import pii_scrub

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"), doc.cast("string"), F.lit("@example.com"),
        F.lit(" or +1 415 555 0"),
        F.lpad((doc % 100).cast("string"), 3, "0"),
        F.lit(" from 10.0."), (doc % 256).cast("string"),
        F.lit("."), ((doc * 7) % 256).cast("string"), F.lit(" end"),
    )
    return pii_scrub(d.withColumn("text", synth)).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "scrubbed"
    )


SQL_TEXT_PII_SCRUB = """
with s as (
  select doc_id,
         text || ' contact user' || cast(doc_id as varchar)
              || '@example.com or +1 415 555 0'
              || lpad(cast(doc_id % 100 as varchar), 3, '0')
              || ' from 10.0.' || cast(doc_id % 256 as varchar)
              || '.' || cast((doc_id * 7) % 256 as varchar) || ' end'
           as text
  from documents
), e as (
  select doc_id,
         cast(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) as bigint)
           as n_email,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
           '<EMAIL>', 'g') as text
  from s
), p as (
  select doc_id, n_email,
         cast(len(regexp_extract_all(text,
           '\\+?[0-9][0-9() -]{6,}[0-9]')) as bigint) as n_phone,
         regexp_replace(text, '\\+?[0-9][0-9() -]{6,}[0-9]',
           '<PHONE>', 'g') as text
  from e
)
select doc_id, n_email, n_phone,
       cast(len(regexp_extract_all(text,
         '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) as bigint) as n_ipv4,
       regexp_replace(text, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b',
         '<IP>', 'g') as scrubbed
from p
"""


_INGEST_B = split_bucket_sql("doc_id", "ingest")


def q_dedup_incremental_minhash(spark, sf_dir):
    """Near-dup flag of the ingest batch (40% slice) against the
    accepted corpus (80% slice) — banded MinHash candidates from a
    batch-vs-corpus equi-join only (no corpus x corpus pair space),
    exact-Jaccard verified, best match per batch doc."""
    from sslr_spark.functions.sampling import split_bucket

    docs = _docs(spark, sf_dir)
    b = split_bucket(F.col("doc_id"), "ingest")
    return D.incremental_minhash_dedup(
        docs.filter(b >= 600_000),
        docs.filter(b < 800_000),
        jaccard_threshold=0.02,
    )


def _minhash_side_sql(name: str, src: str) -> str:
    sh = f"""
{name}_sh as (
  select distinct doc_id, unnest(
    list_transform(generate_series(1, len({W_SQL}) - 2),
                   i -> array_to_string(({W_SQL})[i:i+2], ' '))
  ) as shingle
  from {src}
),"""
    sigs = f"""
{name}_sigs as (
  select doc_id, seed,
         min({h60_sql("concat(cast(seed as varchar), ':', shingle)")}) as minhash
  from {name}_sh, seeds
  group by doc_id, seed
),
{name}_buckets as (
  select doc_id, cast(floor(seed / 4) as int) as band,
         md5(string_agg(cast(minhash as varchar), ',' order by seed)) as sig
  from {name}_sigs group by doc_id, cast(floor(seed / 4) as int)
),"""
    return sh + sigs


SQL_DEDUP_INCREMENTAL_MINHASH = f"""
with corpus as (select * from documents where {_INGEST_B} < 800000),
batch as (select * from documents where {_INGEST_B} >= 600000),
seeds as (select unnest(generate_series(0, 15)) as seed),
{_minhash_side_sql('c', 'corpus')}
{_minhash_side_sql('b', 'batch')}
cand as (
  select distinct b.doc_id as batch_id, c.doc_id as corpus_id
  from b_buckets b
  join c_buckets c on b.band = c.band and b.sig = c.sig
),
inter as (
  select cd.batch_id, cd.corpus_id, count(*) as n_common
  from cand cd
  join b_sh bs on bs.doc_id = cd.batch_id
  join c_sh cs on cs.doc_id = cd.corpus_id and cs.shingle = bs.shingle
  group by 1, 2
),
zb as (select doc_id, count(*) as nb from b_sh group by 1),
zc as (select doc_id, count(*) as nc from c_sh group by 1),
scored as (
  select i.batch_id, i.corpus_id,
         round(n_common / (nb + nc - n_common), 6) as jaccard
  from inter i
  join zb on zb.doc_id = i.batch_id
  join zc on zc.doc_id = i.corpus_id
  where round(n_common / (nb + nc - n_common), 6) >= 0.02
),
best as (
  select batch_id, corpus_id, jaccard from (
    select s.*, row_number() over (
      partition by batch_id order by jaccard desc, corpus_id
    ) as rn from scored s
  ) where rn = 1
)
select d.doc_id,
       best.corpus_id is not null as near_dup,
       best.corpus_id as match_id,
       best.jaccard
from (select distinct doc_id from batch) d
left join best on d.doc_id = best.batch_id
"""


def q_text_entropy(spark, sf_dir):
    """Per-doc word-distribution Shannon entropy digest (vocabulary-
    diversity quality signal). Emits the hash-deterministic form —
    integer moments (n_tokens, n_distinct, Σc²) plus a centinat
    quantization of the entropy (see word_entropy_digest): the 4- and
    6-decimal double forms flipped under the driver's exact-hash
    compare across engine builds in rounds 3-4 despite matching
    bit-exactly on every local rerun."""
    return X.word_entropy_digest(_docs(spark, sf_dir))


SQL_TEXT_ENTROPY = f"""
with tok as (
  select doc_id, unnest({W_SQL}) as w from documents
),
counts as (select doc_id, w, count(*) as c from tok group by 1, 2),
m as (
  select doc_id, sum(c) as n, count(*) as n_distinct,
         sum(c * c) as c2,
         sum(c * ln(c)) as s
  from counts group by doc_id
)
select d.doc_id,
       cast(coalesce(m.n, 0) as bigint) as n_tokens,
       cast(coalesce(m.n_distinct, 0) as bigint) as n_distinct,
       cast(coalesce(m.c2, 0) as bigint) as sum_c_sq,
       cast(round(case when coalesce(m.n, 0) = 0 then 0.0
                       else (ln(m.n) - m.s / m.n) * 100.0 end, 0)
            as bigint) as entropy_centinats
from (select distinct doc_id from documents) d
left join m on d.doc_id = m.doc_id
"""


def q_sample_shard_manifest(spark, sf_dir):
    """Deterministic training-shard export manifest
    (functions/sampling.py shard_manifest): 16 hash-assigned shards
    over documents with per-shard counts, key ranges, and the
    commutative decimal-fold content checksum."""
    from sslr_spark.functions.sampling import shard_manifest

    return shard_manifest(
        _docs(spark, sf_dir),
        16,
        content_cols=["doc_id", "lang", "n_chars", "text"],
    )


_SHARD_KEY = h60_sql(
    "concat('shard', ':', coalesce(cast(doc_id as varchar), chr(0)))"
)
_SHARD_SIG = h60_sql(
    "concat_ws(chr(31), coalesce(cast(doc_id as varchar), chr(0)), "
    "coalesce(cast(lang as varchar), chr(0)), "
    "coalesce(cast(n_chars as varchar), chr(0)), "
    "coalesce(cast(text as varchar), chr(0)))"
)
SQL_SAMPLE_SHARD_MANIFEST = f"""
with s as (
  select cast({_SHARD_KEY} % 16 as int) as shard,
         {_SHARD_SIG} % 1000000000000 as sig,
         doc_id
  from documents
),
agg as (
  select shard,
         cast(count(*) as bigint) as n_rows,
         cast(count(distinct doc_id) as bigint) as n_keys,
         min(doc_id) as min_key,
         max(doc_id) as max_key,
         cast(sum(cast(sig as decimal(38,0))) % 1000000000000 as bigint)
           as content_sum
  from s group by shard
)
select g.shard,
       coalesce(agg.n_rows, 0) as n_rows,
       coalesce(agg.n_keys, 0) as n_keys,
       agg.min_key, agg.max_key,
       coalesce(agg.content_sum, 0) as content_sum
from (select cast(range as int) as shard from range(0, 16)) g
left join agg on agg.shard = g.shard
"""


def q_sample_shuffle_order(spark, sf_dir):
    """Deterministic global training order (sampling.py shuffle_order):
    every doc gets a reproducible (shard, pos) address — hash-sharded,
    hash-ordered within shard, no RNG state to lose on retry. 8 shards
    over documents."""
    from sslr_spark.functions.sampling import shuffle_order

    return shuffle_order(_docs(spark, sf_dir), 8)


_SHUFFLE_KEY = h60_sql(
    "concat('shuffle', ':', coalesce(cast(doc_id as varchar), chr(0)))"
)
_SHUFFLE_POS = h60_sql(
    "concat('shuffle.pos', ':', coalesce(cast(doc_id as varchar), chr(0)))"
)
SQL_SAMPLE_SHUFFLE_ORDER = f"""
with s as (
  select doc_id,
         cast({_SHUFFLE_KEY} % 8 as int) as shard,
         {_SHUFFLE_POS} as oh
  from documents
)
select doc_id, shard,
       cast(row_number() over (partition by shard order by oh, doc_id) - 1
            as int) as pos
from s
"""


def q_sample_shard_diff(spark, sf_dir):
    """Incremental shard re-export detection (sampling.py shard_diff):
    manifest-vs-manifest over 16 shards, old = documents missing every
    97th doc, new = full corpus — an export pipeline rewrites only the
    shards flagged changed. Hash-stable assignment keeps the delta's
    blast radius to the touched shards."""
    from sslr_spark.functions.sampling import shard_diff

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 97 != 0)
    return shard_diff(
        old, docs, 16, content_cols=["doc_id", "lang", "n_chars", "text"]
    )


def _shard_manifest_cte(src: str) -> str:
    """Full-cover 16-shard manifest (rows + content_sum) over ``src``
    — the SQL twin of sampling.py shard_manifest's count/checksum
    columns, empty shards emitted as zero rows."""
    return f"""(
  with s as (
    select cast({_SHARD_KEY} % 16 as int) as shard,
           {_SHARD_SIG} % 1000000000000 as sig
    from {src}
  ),
  agg as (
    select shard, cast(count(*) as bigint) as n_rows,
           cast(sum(cast(sig as decimal(38,0))) % 1000000000000 as bigint)
             as content_sum
    from s group by shard
  )
  select g.shard, coalesce(agg.n_rows, 0) as n_rows,
         coalesce(agg.content_sum, 0) as content_sum
  from (select cast(range as int) as shard from range(0, 16)) g
  left join agg on agg.shard = g.shard
)"""


SQL_SAMPLE_SHARD_DIFF = f"""
select o.shard,
       o.n_rows as old_rows, n.n_rows as new_rows,
       o.content_sum as old_sum, n.content_sum as new_sum,
       (o.n_rows != n.n_rows or o.content_sum != n.content_sum)
         as changed
from {_shard_manifest_cte(
    "(select * from documents where doc_id % 97 != 0)")} o
join {_shard_manifest_cte("documents")} n on n.shard = o.shard
"""


def q_sample_source_cap(spark, sf_dir):
    """Per-source document cap (sampling.py source_cap): keep at most
    10 docs per source by deterministic hash order — the per-domain /
    per-user cap crawl pipelines apply against hot-site dominance."""
    from sslr_spark.functions.sampling import source_cap

    return source_cap(_docs(spark, sf_dir), "source", 10).select(
        "doc_id", "source"
    )


SQL_SAMPLE_SOURCE_CAP = f"""
select doc_id, source from (
  select doc_id, source, row_number() over (
    partition by source
    order by {h60_sql(
        "concat('cap', ':', coalesce(cast(doc_id as varchar), chr(0)))"
    )}, doc_id
  ) as rn from documents
) where rn <= 10
"""


_BM25_TERMS = ["join", "spark", "vector"]


def q_text_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (text.py bm25_topk): top-10 docs for a
    3-term query; scores in integer micros (per-term contribution
    quantized before the per-doc sum — order-free, hash-exact)."""
    return X.bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=10)


_BM25_IN = ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS))
SQL_TEXT_BM25_TOPK = f"""
with tok as (select doc_id, {W_SQL} as ws from documents),
hits as (
  select doc_id, len(ws) as dl, unnest(list_filter(ws,
    w -> w in ({_BM25_IN}))) as t
  from tok
),
tf as (
  select doc_id, t, count(*) as tf, min(dl) as dl
  from hits group by 1, 2
),
stats as (select count(*) as n, sum(len(ws)) as sumdl from tok),
dfq as (select t, count(*) as dfr from tf group by t)
select doc_id,
       cast(sum(cast(floor(
         ln(1.0 + (n - dfr + 0.5) / (dfr + 0.5)) * tf
           / (tf + cast(1.2 as double)
              * (cast(0.25 as double)
                 + cast(0.75 as double) * dl / (sumdl / n)))
         * 1000000 + 0.5) as bigint)) as bigint) as score_micros,
       cast(count(*) as bigint) as n_hit_terms
from tf join dfq using (t) cross join stats
group by doc_id
order by score_micros desc, doc_id
limit 10
"""


def q_text_gopher_flags(spark, sf_dir):
    """Gopher rule-battery quality flags (functions/text.py
    gopher_flags): per-doc counts + boolean rule outcomes, every
    column integer/boolean (ratio thresholds cross-multiplied) so the
    key is hash-exact by construction."""
    return X.gopher_flags(_docs(spark, sf_dir))


# words over coalesced text (gopher treats null as empty, like Spark)
def _gopher_flags_sql(source: str = "documents", id_col: str = "doc_id") -> str:
    """The Gopher rule battery over any (id, text) relation — the
    SQL_TEXT_GOPHER_FLAGS body parameterized so composition oracles
    (x_crawl_epoch) can gate THEIR text column with byte-identical
    rules."""
    return f"""
with base as (
  select {id_col}, coalesce(text, '') as t, {_GW} as ws,
         list_filter(string_split(coalesce(text, ''), chr(10)),
                     l -> length(trim(l)) > 0) as ls
  from {source}
),
m as (
  select {id_col},
    cast(len(ws) as bigint) as n_words,
    cast(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
         as bigint) as sum_word_chars,
    cast(len(ls) as bigint) as n_lines,
    cast(len(list_filter(ls, l ->
        substring(ltrim(l), 1, 1) in ('-', '*', '•')))
      as bigint) as n_bullet_lines,
    cast(len(list_filter(ls, l ->
        ends_with(rtrim(l), '...') or ends_with(rtrim(l), '…')))
      as bigint) as n_ellipsis_lines,
    cast(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
      as bigint) as n_alpha_words,
    cast((length(t) - length(replace(t, '#', '')))
         + (length(t) - length(replace(t, '...', ''))) / 3
      as bigint) as n_symbol_hits,
    cast(len(list_intersect(list_transform(ws, w -> lower(w)),
        ['the', 'a', 'of', 'and', 'in', 'to'])) as bigint)
      as n_stopwords_present
  from base
)
select {id_col}, n_words, sum_word_chars, n_lines, n_bullet_lines,
       n_ellipsis_lines, n_alpha_words, n_symbol_hits,
       n_stopwords_present,
       n_words >= 50 and n_words <= 100000 as ok_word_count,
       n_words > 0 and sum_word_chars >= 3 * n_words
         and sum_word_chars <= 10 * n_words as ok_mean_word_len,
       10 * n_bullet_lines <= 9 * n_lines as ok_bullets,
       10 * n_ellipsis_lines <= 3 * n_lines as ok_ellipsis,
       5 * n_alpha_words >= 4 * n_words as ok_alpha,
       10 * n_symbol_hits <= n_words as ok_symbols,
       n_stopwords_present >= 2 as ok_stopwords,
       (n_words >= 50 and n_words <= 100000)
         and (n_words > 0 and sum_word_chars >= 3 * n_words
              and sum_word_chars <= 10 * n_words)
         and (10 * n_bullet_lines <= 9 * n_lines)
         and (10 * n_ellipsis_lines <= 3 * n_lines)
         and (5 * n_alpha_words >= 4 * n_words)
         and (10 * n_symbol_hits <= n_words)
         and (n_stopwords_present >= 2) as keep
from m
"""


SQL_TEXT_GOPHER_FLAGS = _gopher_flags_sql()


def q_x_curation_pipeline(spark, sf_dir):
    """The FULL curation chain as one verified key (curation.py
    curate_documents): Gopher rule filter -> exact dedup -> per-lang
    quality gate (thresholds over the survivors, not the raw corpus)
    -> per-source cap -> shard assignment. Every stage is an
    already-verified operator; this key proves the COMPOSITION —
    stage order, survivor threading, threshold recomputation — is
    hash-exact end-to-end against a single DuckDB CTE chain."""
    from sslr_spark.curation import curate_documents

    return curate_documents(
        _docs(spark, sf_dir),
        quality_weights=[_QW["n_tokens"], _QW["n_subtokens"],
                         _QW["stopword_ratio"], _QW["mean_word_len"]],
        quality_bias=_QW["bias"],
        keep_fraction=0.6,
        max_per_source=10,
        n_shards=16,
    ).df


_CURATION_CAP_HASH = h60_sql(
    "concat('cap', ':', coalesce(cast(doc_id as varchar), chr(0)))"
)
SQL_X_CURATION_PIPELINE = f"""
with s1 as (
  select d.doc_id, d.lang, d.source, d.text
  from documents d
  join ({SQL_TEXT_GOPHER_FLAGS}) g on g.doc_id = d.doc_id and g.keep
),
s2 as (
  select * from s1
  where doc_id in (select min(doc_id) from s1 group by md5(text))
),
sc as (
  select q.doc_id, s2.lang,
         cast(floor(q.score * 1e4 + 0.5) as int) as score_bp
  from ({SQL_TEXT_QUALITY_SCORE}) q
  join s2 on s2.doc_id = q.doc_id
),
h as (select lang, score_bp, count(*) as c from sc group by 1, 2),
n as (select lang, count(*) as n from sc group by 1),
cum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from h
),
thr as (
  select cum.lang, max(cum.score_bp) as threshold_bp
  from cum join n on n.lang = cum.lang
  where cum.cum >= ceil(0.6 * n.n)
  group by cum.lang
),
s3 as (
  select s2.doc_id, s2.lang, s2.source from s2
  join sc on sc.doc_id = s2.doc_id
  join thr on thr.lang = s2.lang
  where sc.score_bp >= thr.threshold_bp
),
s4 as (
  select doc_id, lang, source from (
    select s3.*, row_number() over (
      partition by source order by {_CURATION_CAP_HASH}, doc_id
    ) as rn from s3
  ) where rn <= 10
)
select doc_id, lang, source,
       cast({_SHARD_KEY} % 16 as int) as shard
from s4
"""


def q_x_curation_pipeline_neardup(spark, sf_dir):
    """The curation chain WITH the near-dup stage production pipelines
    run between exact dedup and the quality gate (curation.py,
    near_dup=True): MinHash-LSH candidate pairs over the exact-dedup
    survivors, O(log n) star clustering, longest-member keeper. The
    whole six-stage composition — including threshold recomputation
    over the post-near-dup survivor distribution — replays as one
    DuckDB CTE chain with a recursive-CTE clustering stage."""
    from sslr_spark.curation import curate_documents

    return curate_documents(
        _docs(spark, sf_dir),
        quality_weights=[_QW["n_tokens"], _QW["n_subtokens"],
                         _QW["stopword_ratio"], _QW["mean_word_len"]],
        quality_bias=_QW["bias"],
        keep_fraction=0.6,
        max_per_source=10,
        n_shards=16,
        near_dup=True,
        near_dup_threshold=0.5,
    ).df


# The near-dup stage runs over the s2 survivors; LSH bucket signatures
# and pair Jaccard are PER-DOC/PER-PAIR quantities, so computing the
# corpus-wide candidate set (_MINHASH_CTES) and filtering both
# endpoints into s2 is identical to running LSH over s2 alone.
SQL_X_CURATION_PIPELINE_NEARDUP = (
    _MINHASH_CTES
    + f""",
s1 as (
  select d.doc_id, d.lang, d.source, d.text
  from documents d
  join ({SQL_TEXT_GOPHER_FLAGS}) g on g.doc_id = d.doc_id and g.keep
),
s2 as (
  select * from s1
  where doc_id in (select min(doc_id) from s1 group by md5(text))
),
ndp as (
  select i.doc_a, i.doc_b
  from inter i
  join sizes sa on sa.doc_id = i.doc_a
  join sizes sb on sb.doc_id = i.doc_b
  where round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
    and i.doc_a in (select doc_id from s2)
    and i.doc_b in (select doc_id from s2)
),
edges as (
  select doc_a as src, doc_b as dst from ndp
  union
  select doc_b as src, doc_a as dst from ndp
),
reach as (
  with recursive r(src, dst) as (
    select src, dst from edges
    union
    select r.src, e.dst from r join edges e on r.dst = e.src
  )
  select * from r
),
clus as (
  select src as doc_id, least(src, min(dst)) as cluster_id
  from reach group by src
),
nd_scored as (
  select c.cluster_id, s2.doc_id, length(s2.text) as sc
  from clus c join s2 on s2.doc_id = c.doc_id
),
nd_best as (select cluster_id, max(sc) as best from nd_scored group by 1),
nd_keep as (
  select b.cluster_id, min(s.doc_id) as keep_id
  from nd_best b join nd_scored s
    on s.cluster_id = b.cluster_id and s.sc is not distinct from b.best
  group by 1
),
nd_losers as (
  select s.doc_id from nd_scored s
  join nd_keep k on k.cluster_id = s.cluster_id
  where s.doc_id != k.keep_id
),
s2b as (
  select * from s2
  where doc_id not in (select doc_id from nd_losers)
),
sc as (
  select q.doc_id, s2b.lang,
         cast(floor(q.score * 1e4 + 0.5) as int) as score_bp
  from ({SQL_TEXT_QUALITY_SCORE}) q
  join s2b on s2b.doc_id = q.doc_id
),
h as (select lang, score_bp, count(*) as c from sc group by 1, 2),
n as (select lang, count(*) as n from sc group by 1),
cum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from h
),
thr as (
  select cum.lang, max(cum.score_bp) as threshold_bp
  from cum join n on n.lang = cum.lang
  where cum.cum >= ceil(0.6 * n.n)
  group by cum.lang
),
s3 as (
  select s2b.doc_id, s2b.lang, s2b.source from s2b
  join sc on sc.doc_id = s2b.doc_id
  join thr on thr.lang = s2b.lang
  where sc.score_bp >= thr.threshold_bp
),
s4 as (
  select doc_id, lang, source from (
    select s3.*, row_number() over (
      partition by source order by {_CURATION_CAP_HASH}, doc_id
    ) as rn from s3
  ) where rn <= 10
)
select doc_id, lang, source,
       cast({_SHARD_KEY} % 16 as int) as shard
from s4
"""
)


def q_x_embedding_pipeline(spark, sf_dir):
    """The EMBEDDING-side pipeline as one verified composition
    (curation.py curate_embeddings) — the ANN twin of
    x_curation_pipeline: SemDeDup semantic dedup (threshold 0.35,
    guard-free for oracle parity) -> PQ-encode the survivors with the
    fixed 16x16 codebooks -> per-cell index manifest (vector count +
    order-free integer code digest). Proves stage threading:
    the encode runs over the DEDUP SURVIVORS, and the digest is
    sensitive to every code assignment."""
    from sslr_spark.curation import curate_embeddings

    return curate_embeddings(
        _emb(spark, sf_dir),
        _IVF_CENT_IDS,
        _PQ_CW_IDS,
        threshold=0.35,
        m=_PQ_M,
        max_block_size=None,
    )


SQL_X_EMBEDDING_PIPELINE = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid
  from embeddings where vec_id in ({", ".join(str(i) for i in _IVF_CENT_IDS)})
),
assigned as (
  select vec_id, embedding, cell from (
    select e.vec_id, e.embedding, c.cell,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')}, 9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
dups as (
  select distinct b.vec_id
  from assigned a join assigned b
    on a.cell = b.cell and a.vec_id < b.vec_id
  where round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.35
),
surv as (
  select * from assigned
  where vec_id not in (select vec_id from dups)
),
cw as (
  select row_number() over (order by vec_id) - 1 as c,
         {_pq_unit('embedding')} as cwv
  from embeddings where vec_id in ({', '.join(map(str, _PQ_CW_IDS))})
),
eb as (select vec_id, cell, embedding as e,
              {_PQ_SQSUM_INT.format(a='embedding')} as s
       from surv),
enc as (
  select e.vec_id, e.cell, j.j, cw.c,
         cast(floor(({_PQ_D.format(
             s='e.s',
             dot=_PQ_SLICE_DOT.format(a='e.e', b='cw.cwv'),
             cwsq=_PQ_SLICE_SQ.format(a='cw.cwv'))}) * 1e9
                    + 0.5) as bigint) as d
  from eb e
  cross join generate_series(0, {_PQ_M - 1}) as j(j)
  cross join cw
),
codes as (
  select vec_id, cell, j, c from (
    select enc.*, row_number() over (
      partition by vec_id, j order by d, c
    ) as rn from enc
  ) where rn = 1
)
select cell, cast(count(distinct vec_id) as bigint) as n_vectors,
       cast(sum(c) as bigint) as code_digest
from codes group by cell
"""


def q_text_bigram_logprob(spark, sf_dir):
    """Word-order perplexity proxy: per-doc mean conditional BIGRAM
    log-prob against a top-40 corpus bigram vocabulary
    (functions/text.py bigram_logprob) — the small vocab forces the
    OOV-floor path, same as the unigram key."""
    return X.bigram_logprob(_docs(spark, sf_dir), vocab_size=40)


def _bigram_logprob_sql(src: str = "documents", limit: int = 40) -> str:
    """The bigram-logprob relation as a standalone subquery, over any
    source relation exposing (doc_id, text) — the model trains on
    WHATEVER corpus it scores (the pipeline's LM stage trains on the
    stage's survivors)."""
    return f"""
with tok as (
  select doc_id, {W_SQL} as ws from {src}
),
bi as (
  select doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> concat(ws[i], chr(31), ws[i + 1])))
           as bg
  from tok
),
counts as (select bg, count(*) as c12 from bi group by bg),
ctx as (
  select string_split(bg, chr(31))[1] as w1, sum(c12) as c1
  from counts group by 1
),
tot as (select cast(sum(c12) as double) as total from counts),
vocab as (
  select v.bg, v.c12, ctx.c1
  from (select bg, c12 from counts order by c12 desc, bg limit {limit}) v
  join ctx on string_split(v.bg, chr(31))[1] = ctx.w1
),
scored as (
  select b.doc_id,
         coalesce(ln(cast(v.c12 as double) / v.c1),
                  ln(0.5 / (select total from tot))) as lp,
         case when v.c12 is null then 1 else 0 end as oov
  from bi b left join vocab v using (bg)
),
agg as (
  select doc_id, cast(count(*) as bigint) as n_bigrams,
         cast(sum(oov) as bigint) as n_oov,
         round(avg(lp), 4) as mean_bigram_logprob
  from scored group by doc_id
)
select d.doc_id,
       coalesce(a.n_bigrams, 0) as n_bigrams,
       coalesce(a.n_oov, 0) as n_oov,
       coalesce(a.mean_bigram_logprob, 0.0) as mean_bigram_logprob
from {src} d left join agg a using (doc_id)
"""


SQL_BIGRAM_LOGPROB = _bigram_logprob_sql()


def q_text_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality score: per-doc mean unigram log-prob
    against a top-30 corpus vocabulary (functions/text.py:
    unigram_logprob) — the small vocab forces the OOV floor path the
    production 50k-vocab run rarely hits."""
    return X.unigram_logprob(_docs(spark, sf_dir), vocab_size=30)


SQL_UNIGRAM_LOGPROB = f"""
with toks as (
  select doc_id, unnest({W_SQL}) as tok from documents
),
freq as (select tok, count(*) as cnt from toks group by tok),
tot as (select cast(sum(cnt) as double) as total from freq),
vocab as (select tok, cnt from freq order by cnt desc, tok limit 30),
scored as (
  select t.doc_id,
         coalesce(ln(cast(v.cnt as double) / (select total from tot)),
                  ln(0.5 / (select total from tot))) as lp,
         case when v.cnt is null then 1 else 0 end as oov
  from toks t left join vocab v using (tok)
),
agg as (
  select doc_id, cast(count(*) as bigint) as n_tokens,
         cast(sum(oov) as bigint) as n_oov,
         round(avg(lp), 4) as mean_logprob
  from scored group by doc_id
)
select d.doc_id,
       coalesce(a.n_tokens, 0) as n_tokens,
       coalesce(a.n_oov, 0) as n_oov,
       coalesce(a.mean_logprob, 0.0) as mean_logprob
from documents d left join agg a using (doc_id)
"""


# ------------------------------------------------------------------
# duplicate n-gram coverage / semantic dedup / bloom membership
# ------------------------------------------------------------------

def q_dedup_ngram_coverage(spark, sf_dir):
    """Per-doc duplicate 5-gram coverage: fraction of each doc's
    distinct 5-gram shingles that appear in at least one OTHER
    document — the corpus-health scan run before pairwise dedup."""
    return D.dup_ngram_coverage(_docs(spark, sf_dir), n=5)


SQL_DEDUP_NGRAM_COVERAGE = f"""
with csh as (
  select distinct doc_id, unnest(
    list_transform(generate_series(1, len({W_SQL}) - 4),
                   i -> array_to_string(({W_SQL})[i:i+4], ' '))
  ) as shingle
  from documents
),
dsh as (
  select shingle from csh group by shingle having count(*) >= 2
),
cnt as (select doc_id, count(*) as n_shingles from csh group by 1),
tot as (
  select d.doc_id, coalesce(c.n_shingles, 0) as n_shingles
  from (select distinct doc_id from documents) d
  left join cnt c on d.doc_id = c.doc_id
),
hit as (
  select doc_id, count(*) as n_dup
  from csh where shingle in (select shingle from dsh)
  group by 1
)
select t.doc_id,
       t.n_shingles,
       coalesce(h.n_dup, 0) as n_dup,
       round(case when t.n_shingles = 0 then 0.0
                  else cast(coalesce(h.n_dup, 0) as double)
                       / t.n_shingles end, 6) as dup_coverage
from tot t left join hit h on t.doc_id = h.doc_id
"""


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup over the fixed 8-cell quantizer,
    cosine threshold 0.35 (the synthetic embeddings' within-cell
    cosine tops out near 0.47, so a production-style 0.9+ would flag
    nothing and test nothing). ``max_block_size=None`` on purpose:
    the guard silently EXCLUDES oversize cells from pair generation,
    which the SQL oracle does not model — the parity query must stay
    guard-free (production callers keep the default guard)."""
    return D.semantic_dedup(
        _emb(spark, sf_dir), _IVF_CENT_IDS, threshold=0.35,
        max_block_size=None,
    )


SQL_DEDUP_SEMANTIC = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid
  from embeddings where vec_id in ({", ".join(str(i) for i in _IVF_CENT_IDS)})
),
assigned as (
  select vec_id, embedding, cell from (
    select e.vec_id, e.embedding, c.cell,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')}, 9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
dups as (
  select distinct b.vec_id
  from assigned a join assigned b
    on a.cell = b.cell and a.vec_id < b.vec_id
  where round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.35
)
select a.vec_id, a.cell,
       (a.vec_id in (select vec_id from dups)) as is_dup
from assigned a
"""


def q_dedup_incremental_semantic(spark, sf_dir):
    """Embedding-side incremental dedup: batch (vec_id % 10 == 0)
    versus the already-accepted corpus (the rest), quantizer FROZEN
    on the corpus, batch x corpus compared within cell only.
    Threshold 0.35 for the same reason as dedup_semantic (synthetic
    embeddings top out near cos 0.47); guard off for the same
    oracle-parity reason."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    return D.incremental_semantic_dedup(
        batch, corpus, _IVF_CENT_IDS, threshold=0.35, max_cell_size=None,
    )


SQL_DEDUP_INCREMENTAL_SEMANTIC = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid
  from embeddings
  where vec_id % 10 != 0
    and vec_id in ({", ".join(str(i) for i in _IVF_CENT_IDS)})
),
assigned as (
  select vec_id, embedding, cell, is_batch from (
    select e.vec_id, e.embedding, c.cell,
           (e.vec_id % 10 = 0) as is_batch,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')}, 9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
hits as (
  select distinct b.vec_id
  from assigned b join assigned c
    on b.cell = c.cell and b.is_batch and not c.is_batch
   and b.vec_id != c.vec_id
  where round({_cos_sql('b.embedding', 'c.embedding')}, 6) >= 0.35
)
select a.vec_id, a.cell,
       (a.vec_id in (select vec_id from hits)) as in_corpus
from assigned a where a.is_batch
"""


_BLOOM_M, _BLOOM_K = 16384, 3


def q_bloom_membership(spark, sf_dir):
    """Cross-corpus Bloom membership: build a Bloom filter over the
    distinct 3-gram shingles of the src0 slice ("the previous crawl"),
    probe every other doc's shingles against it, and report the
    per-doc member fraction. False positives are part of the operator
    (the oracle replays the exact same bit arithmetic, not exact
    membership)."""
    from sslr_spark.functions import membership as B

    docs = _docs(spark, sf_dir)
    ref_sh = (
        D.shingles(docs.filter(F.col("source") == "src0"), n=3)
        .select("shingle")
        .distinct()
    )
    bits = B.bloom_build(ref_sh, "shingle", _BLOOM_M, _BLOOM_K, seed="crawl")
    probe_sh = D.shingles(docs.filter(F.col("source") != "src0"), n=3)
    flagged = B.bloom_probe(
        probe_sh, bits, "shingle", _BLOOM_M, _BLOOM_K, seed="crawl"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(
                F.when(F.col("bloom_member"), 1).otherwise(0)
            ).alias("n_member"),
        )
        .withColumn(
            # pure-integer round-half-up ppm rate: bit-exact across
            # engines by construction (no float sum, no round()) —
            # round(1e6 * m / k) == (2e6*m + k) div (2k) for m,k >= 0
            "rate_ppm",
            F.expr(
                "(2000000 * n_member + n_keys) div (2 * n_keys)"
            ).cast("long"),
        )
    )


def _bloom_sql() -> str:
    from sslr_spark.functions.membership import bloom_positions_sql

    ps = bloom_positions_sql("shingle", _BLOOM_M, _BLOOM_K, seed="crawl")
    arr = "[" + ", ".join(ps) + "]"
    return f"""
with sh as (
  select distinct doc_id, source, unnest(
    list_transform(generate_series(1, len({W_SQL}) - 2),
                   i -> array_to_string(({W_SQL})[i:i+2], ' '))
  ) as shingle
  from documents
),
ref as (select distinct shingle from sh where source = 'src0'),
bits as (select distinct unnest({arr}) as pos from ref),
probe as (select distinct doc_id, shingle from sh where source <> 'src0'),
ppos as (
  select doc_id, shingle, list_distinct({arr}) as ps from probe
),
ex as (
  select doc_id, shingle, unnest(ps) as pos from ppos
),
hits as (
  select doc_id, shingle, count(*) as h
  from ex join bits using (pos) group by 1, 2
),
flag as (
  select p.doc_id, coalesce(h.h, 0) = len(p.ps) as member
  from ppos p left join hits h using (doc_id, shingle)
)
select doc_id, n_keys, n_member,
       (2000000 * n_member + n_keys) // (2 * n_keys) as rate_ppm
from (
  select doc_id,
         cast(count(*) as bigint) as n_keys,
         cast(sum(case when member then 1 else 0 end) as bigint)
           as n_member
  from flag group by doc_id
)
"""


SQL_BLOOM_MEMBERSHIP = _bloom_sql()


def q_dedup_incremental(spark, sf_dir):
    """Per-ingest exact dedup: corpus = 80% of documents by ingest
    hash, batch = the 40% slice overlapping it — flag batch docs whose
    content hash already exists in the corpus. The Bloom prefilter is
    an internal pruning step only (no false negatives + exact verify
    of bloom survivors), so the result equals the plain exact
    semi-join the oracle runs."""
    from sslr_spark.functions.sampling import split_bucket

    docs = _docs(spark, sf_dir)
    b = split_bucket(F.col("doc_id"), "ingest")
    corpus = docs.filter(b < 800_000)
    batch = docs.filter(b >= 600_000)
    return D.incremental_exact_dedup(batch, corpus).select(
        "doc_id", "in_corpus"
    )


SQL_DEDUP_INCREMENTAL = f"""
with corpus as (select * from documents where {_INGEST_B} < 800000),
batch as (select * from documents where {_INGEST_B} >= 600000),
ch as (select distinct md5(text) as h from corpus)
select b.doc_id,
       coalesce(md5(b.text) in (select h from ch), false) as in_corpus
from batch b
"""


def q_files_roundtrip(spark, sf_dir):
    """File-drop adapter integrity probe (sources/files.py): export
    the documents table as gzip JSONL part files, re-ingest through
    :class:`FilesDatabase`, and aggregate per source with a per-row
    content checksum. The oracle runs the same aggregate on the
    ORIGINAL parquet, so a hash match proves the export + PERMISSIVE
    re-parse cycle preserved every row and text byte — the property
    a silent-parse-loss bug would break."""
    import os

    from sslr_spark.functions.hashing import h60
    from sslr_spark.sources.files import FilesDatabase, export_jsonl

    work = _fresh_bench_dir("files_rt")
    docs = spark.read.parquet(
        os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    )
    export_jsonl(docs, os.path.join(work, "documents"))
    db = FilesDatabase(spark, work, fmt="jsonl")
    back = db.read("documents")
    # 60-bit row signature folded mod 1e12, summed in decimal(38,0)
    # (exact wide accumulation in BOTH engines — a bigint sum of
    # 1e12-folded sigs overflows past ~9.2M rows per source, ADVICE
    # r4), and the sum folded back mod 1e12 for the emitted column:
    # capacity ~1e26 rows per source, and past THAT both engines
    # error loudly rather than wrapping
    row_sig = F.pmod(
        h60(
            F.concat_ws(
                "\x1f",
                F.col("doc_id").cast("string"),
                F.coalesce(F.col("lang"), F.lit("")),
                F.col("n_chars").cast("string"),
                F.coalesce(F.col("text"), F.lit("")),
            )
        ),
        F.lit(1_000_000_000_000),
    )
    agg = back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum("n_chars").alias("sum_chars"),
        F.pmod(
            F.sum(row_sig.cast("decimal(38,0)")),
            F.lit(1_000_000_000_000).cast("decimal(38,0)"),
        )
        .cast("long")
        .alias("content_sum"),
    )
    # materialize the (tiny: one row per source) aggregate eagerly so
    # the adapter's parse cache can be released HERE — returning the
    # lazy plan would pin a cached full-table re-parse in the
    # session's CacheManager for every invocation (the throwaway
    # FilesDatabase instance could never unpersist it)
    rows = agg.collect()
    db.release_caches()
    return spark.createDataFrame(rows, agg.schema)


_RT_SIG = h60_sql(
    "concat_ws(chr(31), cast(doc_id as varchar), coalesce(lang, ''), "
    "cast(n_chars as varchar), coalesce(text, ''))"
)
SQL_FILES_ROUNDTRIP = f"""
select source,
       cast(count(*) as bigint) as n_docs,
       cast(count(distinct doc_id) as bigint) as n_ids,
       cast(sum(n_chars) as bigint) as sum_chars,
       cast(sum(cast({_RT_SIG} % 1000000000000 as decimal(38,0)))
            % 1000000000000 as bigint) as content_sum
from documents group by source
"""


# ------------------------------------------------------------------
# round 9: containment dedup, blocklist gate, encoding screen
# ------------------------------------------------------------------

def q_dedup_containment(spark, sf_dir):
    """Excerpt/quote near-dup pairs by smaller-set shingle containment
    (dedup.py ngram_containment_pairs): n_common / min(|A|,|B|) >=
    0.4 — catches a short doc embedded in a long one, which Jaccard
    structurally misses."""
    return D.ngram_containment_pairs(_docs(spark, sf_dir), threshold=0.4)


SQL_DEDUP_CONTAINMENT = (
    "with " + _shingles_cte(3) + """,
sizes as (select doc_id, count(*) as n_sh from sh group by doc_id),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_common
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
)
select doc_a, doc_b, n_common,
       round(n_common / least(sa.n_sh, sb.n_sh), 6) as containment
from inter
join sizes sa on sa.doc_id = doc_a
join sizes sb on sb.doc_id = doc_b
where round(n_common / least(sa.n_sh, sb.n_sh), 6) >= 0.4
"""
)


_BLOCKLIST = ["slow", "spill", "crash"]
_BLOCKLIST_PPM = 30_000


def q_text_blocklist(spark, sf_dir):
    """C4-style bad-word gate (text.py blocklist_filter): lowercased
    whitespace tokens matched against a fixed wordlist via a broadcast
    semi join (never a per-token list-probe lambda); token-share
    budget 30000 ppm."""
    from sslr_spark.functions.text import blocklist_filter

    return blocklist_filter(
        _docs(spark, sf_dir), _BLOCKLIST, max_banned_ppm=_BLOCKLIST_PPM
    )


_LW_SQL = (
    "case when length(trim(lower(coalesce(text, '')))) = 0 then [] "
    "else string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') end"
)
SQL_TEXT_BLOCKLIST = f"""
with base as (
  select doc_id, cast(len({_LW_SQL}) as bigint) as n_words from documents
),
toks as (
  select doc_id, unnest({_LW_SQL}) as w from documents
),
hits as (
  select doc_id, cast(count(*) as bigint) as n_banned from toks
  where w in ({", ".join("'" + w + "'" for w in _BLOCKLIST)})
  group by doc_id
)
select base.doc_id, n_words,
       coalesce(n_banned, 0) as n_banned,
       cast(case when n_words = 0 then 0
            else (2000000 * coalesce(n_banned, 0) + n_words)
                 // (2 * n_words) end as bigint) as banned_ppm,
       coalesce(n_banned, 0) * 1000000 <= {_BLOCKLIST_PPM} * n_words as keep
from base left join hits using (doc_id)
"""


def q_text_mojibake(spark, sf_dir):
    """Encoding-quality screen (text.py mojibake_flags): U+FFFD and
    C0/C1 control-character counts, integer-ppm symptom share, keep
    flag — pure narrow codegen expressions, zero shuffle."""
    from sslr_spark.functions.text import mojibake_flags

    return mojibake_flags(_docs(spark, sf_dir))


SQL_TEXT_MOJIBAKE = r"""
with c as (
  select doc_id,
         cast(length(coalesce(text, '')) as bigint) as n_chars,
         cast(len(regexp_extract_all(coalesce(text, ''), '�'))
              as bigint) as n_replacement,
         cast(len(regexp_extract_all(coalesce(text, ''),
              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]'))
              as bigint) as n_control
  from documents
)
select doc_id, n_chars, n_replacement, n_control,
       cast(case when n_chars = 0 then 0
            else (2000000 * (n_replacement + n_control) + n_chars)
                 // (2 * n_chars) end as bigint) as bad_ppm,
       n_replacement = 0
         and (n_replacement + n_control) * 1000 < greatest(n_chars, 1)
         as keep
from c
"""


_PSI_EDGES = [150.0, 250.0, 350.0]


def q_quality_psi_drift(spark, sf_dir):
    """Population Stability Index drift monitor (quality_model.py
    distribution_psi): n_chars distribution of even-id docs (the
    'reference snapshot') vs odd-id docs (the 'current crawl') over
    fixed bucket edges — per-bucket counts + Laplace-smoothed PSI
    contributions; two bounded histogram aggregates, never a sort."""
    from sslr_spark.functions.quality_model import distribution_psi

    docs = _docs(spark, sf_dir)
    return distribution_psi(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        _PSI_EDGES,
    )


_PSI_BUCKET = "((n_chars >= 150.0)::int + (n_chars >= 250.0)::int + (n_chars >= 350.0)::int)"
SQL_QUALITY_PSI_DRIFT = f"""
with b as (select unnest(generate_series(0, 3)) as bucket),
r as (
  select {_PSI_BUCKET} as bucket, count(*) as rc
  from documents where doc_id % 2 = 0 and n_chars is not null group by 1
),
c as (
  select {_PSI_BUCKET} as bucket, count(*) as cc
  from documents where doc_id % 2 = 1 and n_chars is not null group by 1
),
j as (
  select b.bucket,
         coalesce(rc, 0) as ref_count, coalesce(cc, 0) as cur_count,
         sum(coalesce(rc, 0)) over () as tr,
         sum(coalesce(cc, 0)) over () as tc
  from b left join r using (bucket) left join c using (bucket)
)
select cast(bucket as int) as bucket,
       cast(case bucket when 0 then null when 1 then 150.0
            when 2 then 250.0 else 350.0 end as double) as lo,
       cast(case bucket when 0 then 150.0 when 1 then 250.0
            when 2 then 350.0 else null end as double) as hi,
       cast(ref_count as bigint) as ref_count,
       cast(cur_count as bigint) as cur_count,
       round(((ref_count + 1) / (tr + 4.0) - (cur_count + 1) / (tc + 4.0))
             * ln(((ref_count + 1) / (tr + 4.0))
                  / ((cur_count + 1) / (tc + 4.0))), 6) as psi_contrib
from j
"""


def q_sample_range_shards(spark, sf_dir):
    """Ordered export shards (sampling.py range_shard_assign, 8 shards,
    deterministic h60 key sample): per-shard count + key range — the
    hash check proves the ranges are contiguous and non-overlapping."""
    from sslr_spark.functions.sampling import range_shard_assign

    out = range_shard_assign(_docs(spark, sf_dir), 8, "doc_id")
    return out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_key"),
        F.max("doc_id").alias("max_key"),
    )


SQL_SAMPLE_RANGE_SHARDS = f"""
with s as (
  select doc_id as k from documents
  where {h60_sql("cast(doc_id as varchar)")} % 16 = 0
),
r as (select k, row_number() over (order by k) as rn,
             count(*) over () as m from s),
b as (
  select distinct k as boundary from r
  where list_contains(
    list_transform(generate_series(1, 7),
                   j -> cast(ceil(j * m / 8.0) as int)), rn)
),
a as (
  select d.doc_id,
         cast(coalesce(sum((d.doc_id >= b.boundary)::int), 0) as int)
           as shard
  from documents d left join b on true
  group by d.doc_id
)
select shard, cast(count(*) as bigint) as n_docs,
       min(doc_id) as min_key, max(doc_id) as max_key
from a group by shard
"""


def q_dedup_corpus_diff(spark, sf_dir):
    """Snapshot content diff (dedup.py corpus_diff): old = docs with
    doc_id % 7 != 0 (some removed), new = all docs with every 5th
    text rewritten (changed) — per-doc added/removed/changed/
    unchanged status over md5 fingerprints, one hash join, documents
    never shuffled."""
    from sslr_spark.functions.dedup import corpus_diff

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


SQL_DEDUP_CORPUS_DIFF = """
with o as (
  select doc_id, md5(coalesce(text, '')) as fp_old
  from documents where doc_id % 7 != 0
),
n as (
  select doc_id,
         md5(coalesce(case when doc_id % 5 = 0 then text || ' v2'
                           else text end, '')) as fp_new
  from documents
)
select coalesce(o.doc_id, n.doc_id) as doc_id,
       case when fp_old is null then 'added'
            when fp_new is null then 'removed'
            when fp_old != fp_new then 'changed'
            else 'unchanged' end as status,
       fp_old, fp_new
from o full outer join n on o.doc_id = n.doc_id
"""


def q_sim_cell_drift(spark, sf_dir):
    """IVF retrain monitor (similarity.py ivf_cell_drift): incoming
    batch (vec_id % 3 = 0) vs corpus occupancy per frozen-quantizer
    cell; integer-ppm shares and a cross-multiplied drift flag — no
    float in the verdict."""
    from sslr_spark.functions.similarity import ivf_cell_drift

    emb = _emb(spark, sf_dir)
    return ivf_cell_drift(
        emb, emb.filter(F.col("vec_id") % 3 == 0), _IVF_CENT_IDS,
        warn_ratio=1.2,
    )


_CENT_IDS_SQL = ", ".join(str(i) for i in _IVF_CENT_IDS)
SQL_SIM_CELL_DRIFT = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid
  from embeddings where vec_id in ({_CENT_IDS_SQL})
),
assigned as (
  select vec_id, cell from (
    select e.vec_id, c.cell,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')}, 9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
cc as (select cell, count(*) as corpus_count from assigned group by cell),
bc as (select cell, count(*) as batch_count from assigned
       where vec_id % 3 = 0 group by cell),
j as (
  select cents.cell, coalesce(corpus_count, 0) as corpus_count,
         coalesce(batch_count, 0) as batch_count,
         sum(coalesce(corpus_count, 0)) over () as tc,
         sum(coalesce(batch_count, 0)) over () as tb
  from cents left join cc using (cell) left join bc using (cell)
)
select cell,
       cast(corpus_count as bigint) as corpus_count,
       cast(batch_count as bigint) as batch_count,
       cast(case when tc = 0 then 0
            else (2000000 * corpus_count + tc) // (2 * tc) end as bigint)
         as corpus_ppm,
       cast(case when tb = 0 then 0
            else (2000000 * batch_count + tb) // (2 * tb) end as bigint)
         as batch_ppm,
       batch_count::hugeint * tc * 1200
         > corpus_count::hugeint * tb * 1000 as drifted
from j
"""


_PHRASE_BL = ["slow", "fast merge", "scan slow fast"]


def q_text_blocklist_phrases(spark, sf_dir):
    """Phrase-capable blocklist gate (text.py blocklist_filter with
    multi-word entries): per-occurrence positional n-gram matches
    plus single-word hits — one narrow gram stream per phrase length,
    each broadcast-joined against its slice of the list."""
    from sslr_spark.functions.text import blocklist_filter

    return blocklist_filter(
        _docs(spark, sf_dir), _PHRASE_BL, max_banned_ppm=40_000
    )


_PGRAMS = (
    "list_transform(generate_series(1, len(__lw) - {m}), "
    "i -> array_to_string(__lw[i:i+{m}], ' '))"
)
SQL_TEXT_BLOCKLIST_PHRASES = f"""
with lw as (
  select doc_id, {_LW_SQL} as __lw from documents
),
base as (select doc_id, cast(len(__lw) as bigint) as n_words from lw),
h1 as (
  select doc_id, count(*) as c from (
    select doc_id, unnest(__lw) as g from lw
  ) where g in ('slow') group by doc_id
),
h2 as (
  select doc_id, count(*) as c from (
    select doc_id, unnest(case when len(__lw) < 2 then []
      else {_PGRAMS.format(m=1)} end) as g from lw
  ) where g in ('fast merge') group by doc_id
),
h3 as (
  select doc_id, count(*) as c from (
    select doc_id, unnest(case when len(__lw) < 3 then []
      else {_PGRAMS.format(m=2)} end) as g from lw
  ) where g in ('scan slow fast') group by doc_id
),
hits as (
  select doc_id, cast(coalesce(h1.c, 0) + coalesce(h2.c, 0)
                      + coalesce(h3.c, 0) as bigint) as n_banned
  from base left join h1 using (doc_id) left join h2 using (doc_id)
  left join h3 using (doc_id)
)
select base.doc_id, n_words, n_banned,
       cast(case when n_words = 0 then 0
            else (2000000 * n_banned + n_words) // (2 * n_words) end
            as bigint) as banned_ppm,
       n_banned * 1000000 <= 40000 * n_words as keep
from base join hits using (doc_id)
"""


def q_dedup_incremental_containment(spark, sf_dir):
    """Incremental excerpt detection (dedup.py
    incremental_containment_dedup): every 10th doc truncated to its
    first 150 chars simulates an incoming quote batch — each batch doc
    reports its best corpus containment match (the original scores
    1.0). Inverted-index candidates, batch x corpus only."""
    from sslr_spark.functions.dedup import incremental_containment_dedup

    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.substring("text", 1, 150).alias("text")
    )
    return incremental_containment_dedup(batch, docs, threshold=0.5)


SQL_DEDUP_INCR_CONTAINMENT = """
with cw as (
  select doc_id, case when length(trim(text)) = 0 then []
    else string_split_regex(trim(text), '\\s+') end as w from documents
),
csh as (
  select distinct doc_id, unnest(
    list_transform(generate_series(1, len(w) - 2),
                   i -> array_to_string(w[i:i+2], ' '))) as shingle
  from cw
),
bt as (
  select doc_id, substring(text, 1, 150) as text from documents
  where doc_id % 10 = 0
),
bw as (
  select doc_id, case when length(trim(text)) = 0 then []
    else string_split_regex(trim(text), '\\s+') end as w from bt
),
bsh as (
  select distinct doc_id, unnest(
    list_transform(generate_series(1, len(w) - 2),
                   i -> array_to_string(w[i:i+2], ' '))) as shingle
  from bw
),
inter as (
  select b.doc_id as batch_id, c.doc_id as corpus_id,
         count(*) as n_common
  from bsh b join csh c using (shingle)
  group by 1, 2
),
zb as (select doc_id as batch_id, count(*) as nb from bsh group by 1),
zc as (select doc_id as corpus_id, count(*) as nc from csh group by 1),
scored as (
  select batch_id, corpus_id,
         round(n_common / least(nb, nc), 6) as containment
  from inter join zb using (batch_id) join zc using (corpus_id)
  where round(n_common / least(nb, nc), 6) >= 0.5
),
best as (
  select batch_id, corpus_id, containment from (
    select *, row_number() over (
      partition by batch_id order by containment desc, corpus_id
    ) as rn from scored
  ) where rn = 1
)
select bt.doc_id,
       best.corpus_id is not null as contained,
       best.corpus_id as match_id, containment
from bt left join best on bt.doc_id = best.batch_id
"""


def q_sample_shard_budget(spark, sf_dir):
    """Byte-budget shard packing (sampling.py shard_by_budget): walk
    each source in key order, open a new shard when the running
    n_chars total would cross 2000 — greedy next-fit, one window
    exchange, overflow bounded by one document."""
    from sslr_spark.functions.sampling import shard_by_budget

    out = shard_by_budget(_docs(spark, sf_dir), 2000)
    return out.select("doc_id", "source", "n_chars", "shard")


SQL_SAMPLE_SHARD_BUDGET = """
select doc_id, source, n_chars,
       cast((sum(n_chars) over (
               partition by source order by doc_id
               rows between unbounded preceding and current row
             ) - n_chars) // 2000 as int) as shard
from documents
"""


def q_x_curation_pipeline_gates(spark, sf_dir):
    """The curation chain with BOTH round-9 gates wired in production
    order (curation.py: mojibake encoding screen FIRST — a mis-decoded
    doc poisons every later heuristic — then Gopher rules, then the
    blocklist content-policy gate before any dedup work is spent on
    rows policy will drop): proves the seven-stage composition
    including threshold recomputation over the post-gate survivors."""
    from sslr_spark.curation import curate_documents

    return curate_documents(
        _docs(spark, sf_dir),
        quality_weights=[_QW["n_tokens"], _QW["n_subtokens"],
                         _QW["stopword_ratio"], _QW["mean_word_len"]],
        quality_bias=_QW["bias"],
        keep_fraction=0.6,
        max_per_source=10,
        n_shards=16,
        mojibake=True,
        blocklist=_BLOCKLIST,
        blocklist_max_ppm=_BLOCKLIST_PPM,
    ).df


SQL_X_CURATION_PIPELINE_GATES = f"""
with mk as (
  select doc_id from ({SQL_TEXT_MOJIBAKE}) where keep
),
bk as (
  select doc_id from ({SQL_TEXT_BLOCKLIST}) where keep
),
s1 as (
  select d.doc_id, d.lang, d.source, d.text
  from documents d
  join mk on mk.doc_id = d.doc_id
  join ({SQL_TEXT_GOPHER_FLAGS}) g on g.doc_id = d.doc_id and g.keep
  join bk on bk.doc_id = d.doc_id
),
s2 as (
  select * from s1
  where doc_id in (select min(doc_id) from s1 group by md5(text))
),
sc as (
  select q.doc_id, s2.lang,
         cast(floor(q.score * 1e4 + 0.5) as int) as score_bp
  from ({SQL_TEXT_QUALITY_SCORE}) q
  join s2 on s2.doc_id = q.doc_id
),
h as (select lang, score_bp, count(*) as c from sc group by 1, 2),
n as (select lang, count(*) as n from sc group by 1),
cum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from h
),
thr as (
  select cum.lang, max(cum.score_bp) as threshold_bp
  from cum join n on n.lang = cum.lang
  where cum.cum >= ceil(0.6 * n.n)
  group by cum.lang
),
s3 as (
  select s2.doc_id, s2.lang, s2.source from s2
  join sc on sc.doc_id = s2.doc_id
  join thr on thr.lang = s2.lang
  where sc.score_bp >= thr.threshold_bp
),
s4 as (
  select doc_id, lang, source from (
    select s3.*, row_number() over (
      partition by source order by {_CURATION_CAP_HASH}, doc_id
    ) as rn from s3
  ) where rn <= 10
)
select doc_id, lang, source,
       cast({_SHARD_KEY} % 16 as int) as shard
from s4
"""



def q_x_dataset_card(spark, sf_dir):
    """One-call corpus release report (report.py dataset_card):
    totals, language/source composition, exact char-length quantiles
    (percentile_disc semantics spelled out by hand), exact-dup rate —
    all-integer long format, every section a bounded aggregate."""
    from sslr_spark.functions.report import dataset_card

    return dataset_card(_docs(spark, sf_dir))


SQL_X_DATASET_CARD = f"""
with tot as (
  select cast(count(*) as bigint) as docs,
         cast(sum(length(coalesce(text, ''))) as bigint) as chars,
         cast(sum(len({_GW})) as bigint) as words
  from documents
),
hist as (
  select length(coalesce(text, '')) as l, count(*) as c
  from documents group by 1
),
cum as (
  select l, sum(c) over (order by l
           rows between unbounded preceding and current row) as cum
  from hist
),
grp as (select md5(coalesce(text, '')) as fp, count(*) as n
        from documents group by 1),
dup as (select count(*) as g, sum(n - 1) as extra, sum(n) as n from grp)
select 'total' as section, 'docs' as k, docs as v from tot
union all select 'total', 'chars', chars from tot
union all select 'total', 'words', words from tot
union all select 'lang', coalesce(lang, '?'),
       cast(count(*) as bigint) from documents group by 2
union all select 'source', coalesce(source, '?'),
       cast(count(*) as bigint) from documents group by 2
union all select 'len_quantile', 'p50',
       cast(min(l) as bigint) from cum, tot
       where cum >= ceil(50 * docs / 100.0)
union all select 'len_quantile', 'p90',
       cast(min(l) as bigint) from cum, tot
       where cum >= ceil(90 * docs / 100.0)
union all select 'len_quantile', 'p99',
       cast(min(l) as bigint) from cum, tot
       where cum >= ceil(99 * docs / 100.0)
union all select 'dup', 'exact_groups', cast(g as bigint) from dup
union all select 'dup', 'exact_dup_ppm',
       cast(case when n = 0 then 0
            else (2000000 * extra + n) // (2 * n) end as bigint) from dup
"""


def q_x_lm_quality_gate(spark, sf_dir):
    """CCNet-style LM quality filter (quality_model.py
    lm_quality_gate): per-language top-60% by mean bigram
    log-probability under the corpus's own bigram model (vocab 40 —
    the same truncation as text_bigram_logprob, exercising the OOV
    floor); thresholds via the shared basis-point histogram gate."""
    from sslr_spark.functions.quality_model import lm_quality_gate

    return lm_quality_gate(
        _docs(spark, sf_dir), 0.6, vocab_size=40
    )


SQL_X_LM_QUALITY_GATE = f"""
with lp as ({SQL_BIGRAM_LOGPROB}),
scored as (
  select lp.doc_id, d.lang,
         cast(floor(lp.mean_bigram_logprob * 1e4 + 0.5) as int)
           as score_bp
  from lp join documents d using (doc_id)
),
h as (select lang, score_bp, count(*) as c from scored group by 1, 2),
n as (select lang, count(*) as n from scored group by 1),
cum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from h
),
thr as (
  select cum.lang, max(cum.score_bp) as threshold_bp
  from cum join n on n.lang = cum.lang
  where cum.cum >= ceil(0.6 * n.n)
  group by cum.lang
)
select s.doc_id, s.lang, s.score_bp, thr.threshold_bp
from scored s join thr on thr.lang = s.lang
where s.score_bp >= thr.threshold_bp
"""


def q_text_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity buckets (quality_model.py
    lm_perplexity_buckets): per-language thirds of the bigram-LM
    score distribution, vocab 40 (the OOV-floor-exercising
    truncation), ties kept at each boundary."""
    from sslr_spark.functions.quality_model import (
        lm_perplexity_buckets,
    )

    return lm_perplexity_buckets(
        _docs(spark, sf_dir), vocab_size=40
    )


SQL_TEXT_CCNET_BUCKETS = f"""
with lp as ({SQL_BIGRAM_LOGPROB}),
scored as (
  select lp.doc_id, d.lang,
         cast(floor(lp.mean_bigram_logprob * 1e4 + 0.5) as int)
           as score_bp
  from lp join documents d using (doc_id)
),
h as (select lang, score_bp, count(*) as c from scored group by 1, 2),
n as (select lang, count(*) as n from scored group by 1),
cum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from h
),
thr as (
  select cum.lang,
         max(case when cum.cum >= ceil(n.n / 3.0)
                  then cum.score_bp end) as head_thr,
         max(case when cum.cum >= ceil(n.n * 2.0 / 3.0)
                  then cum.score_bp end) as mid_thr
  from cum join n on n.lang = cum.lang
  group by cum.lang
)
select s.doc_id, s.lang, s.score_bp,
       case when s.score_bp >= thr.head_thr then 'head'
            when s.score_bp >= thr.mid_thr then 'middle'
            else 'tail' end as bucket
from scored s join thr on thr.lang = s.lang
"""


def _multiline_docs(spark, sf_dir):
    """The documents table re-laid as multi-line pages: two body
    lines, a shared footer (corpus boilerplate), and a repeat of line
    one (intra-doc duplication) — the synthetic corpus is single-line,
    so the line operators need a deterministic line structure both
    engines can construct identically."""
    t = F.coalesce(F.col("text"), F.lit(""))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring(t, 1, 100),
            F.substring(t, 101, 100),
            F.lit("shared footer line"),
            F.substring(t, 1, 100),
        ).alias("text"),
    )


_MLINE_SQL = """
m as (
  select doc_id,
         substring(coalesce(text, ''), 1, 100) || chr(10) ||
         substring(coalesce(text, ''), 101, 100) || chr(10) ||
         'shared footer line' || chr(10) ||
         substring(coalesce(text, ''), 1, 100) as text
  from documents
),
lt as (
  select doc_id,
         list_filter(
           list_transform(string_split(text, chr(10)), l -> trim(l)),
           l -> length(l) > 0) as ls
  from m
)
"""


def q_text_dedup_lines(spark, sf_dir):
    """Intra-document line dedup (text.py dedup_doc_lines): keep only
    the first occurrence of each trimmed line, original order, blank
    lines dropped — pure narrow array expressions, zero shuffle."""
    from sslr_spark.functions.text import dedup_doc_lines

    return dedup_doc_lines(_multiline_docs(spark, sf_dir))


SQL_TEXT_DEDUP_LINES = f"""
with {_MLINE_SQL},
k as (
  select doc_id, ls,
         list_filter(ls, (l, i) -> list_position(ls, l) = i) as kept
  from lt
)
select doc_id,
       cast(len(ls) as bigint) as n_lines,
       cast(len(ls) - len(kept) as bigint) as n_dup_lines,
       array_to_string(kept, chr(10)) as text
from k
"""


def q_text_strip_boilerplate(spark, sf_dir):
    """Corpus-wide boilerplate line removal (text.py
    strip_boilerplate_lines, min_docs=3): the C4 line-dedup move —
    lines in >= 3 distinct docs are template chrome, stripped
    everywhere, per-doc order preserved via an order-free sort_array
    rebuild."""
    from sslr_spark.functions.text import strip_boilerplate_lines

    return strip_boilerplate_lines(_multiline_docs(spark, sf_dir), 3)


SQL_TEXT_STRIP_BOILERPLATE = f"""
with {_MLINE_SQL},
pos as (
  select doc_id, unnest(ls) as line,
         unnest(generate_series(1, len(ls))) as p
  from lt
),
hot as (
  select line from pos group by line
  having count(distinct doc_id) >= 3
),
kept as (
  select doc_id, line, p from pos
  where line not in (select line from hot)
),
rebuilt as (
  select doc_id, cast(count(*) as bigint) as kept_n,
         array_to_string(list(line order by p), chr(10)) as text
  from kept group by doc_id
)
select lt.doc_id,
       cast(len(lt.ls) as bigint) as n_lines,
       cast(len(lt.ls) - coalesce(kept_n, 0) as bigint) as n_stripped,
       coalesce(rebuilt.text, '') as text
from lt left join rebuilt using (doc_id)
"""


def q_sim_embedding_quality(spark, sf_dir):
    """Vector hygiene screen (similarity.py embedding_quality): dim /
    finiteness / zero-norm checks every ANN build assumes — run FIRST,
    quarantine failures; pure narrow array expressions."""
    from sslr_spark.functions.similarity import embedding_quality

    return embedding_quality(_emb(spark, sf_dir), 8)


SQL_SIM_EMBEDDING_QUALITY = """
with c as (
  select vec_id,
         coalesce(embedding, []) as v
  from embeddings
),
m as (
  select vec_id,
         cast(len(v) as bigint) as dim,
         cast(len(list_filter(v, x -> isnan(cast(x as double))
                                   or isinf(cast(x as double))))
              as bigint) as n_bad,
         list_sum(list_transform(v, x -> cast(x as double)
                                         * cast(x as double))) as ns
  from c
)
select vec_id, dim, n_bad,
       cast(case when n_bad > 0 then 0
            else floor(coalesce(ns, 0.0) * 1e6 + 0.5) end as bigint)
         as norm_sq_micros,
       dim = 8 and n_bad = 0
         and (case when n_bad > 0 then 0
              else floor(coalesce(ns, 0.0) * 1e6 + 0.5) end) > 0 as keep
from m
"""


def q_x_curation_pipeline_lm(spark, sf_dir):
    """The curation chain with the CCNet-style LM stage (curation.py
    lm_keep_fraction): Gopher rules -> exact dedup -> heuristic
    quality gate (0.6) -> bigram-LM perplexity gate (0.8, model
    TRAINED ON THAT STAGE'S SURVIVORS — the clean distribution) ->
    source cap -> shards. Proves the composition including the
    survivor-trained model against one DuckDB CTE chain."""
    from sslr_spark.curation import curate_documents

    return curate_documents(
        _docs(spark, sf_dir),
        quality_weights=[_QW["n_tokens"], _QW["n_subtokens"],
                         _QW["stopword_ratio"], _QW["mean_word_len"]],
        quality_bias=_QW["bias"],
        keep_fraction=0.6,
        lm_keep_fraction=0.8,
        lm_vocab_size=40,
        max_per_source=10,
        n_shards=16,
    ).df


SQL_X_CURATION_PIPELINE_LM = f"""
with s1 as (
  select d.doc_id, d.lang, d.source, d.text
  from documents d
  join ({SQL_TEXT_GOPHER_FLAGS}) g on g.doc_id = d.doc_id and g.keep
),
s2 as (
  select * from s1
  where doc_id in (select min(doc_id) from s1 group by md5(text))
),
sc as (
  select q.doc_id, s2.lang,
         cast(floor(q.score * 1e4 + 0.5) as int) as score_bp
  from ({SQL_TEXT_QUALITY_SCORE}) q
  join s2 on s2.doc_id = q.doc_id
),
h as (select lang, score_bp, count(*) as c from sc group by 1, 2),
n as (select lang, count(*) as n from sc group by 1),
cum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from h
),
thr as (
  select cum.lang, max(cum.score_bp) as threshold_bp
  from cum join n on n.lang = cum.lang
  where cum.cum >= ceil(0.6 * n.n)
  group by cum.lang
),
s3 as (
  select s2.doc_id, s2.lang, s2.source, s2.text from s2
  join sc on sc.doc_id = s2.doc_id
  join thr on thr.lang = s2.lang
  where sc.score_bp >= thr.threshold_bp
),
lm as ({_bigram_logprob_sql("s3")}),
lmsc as (
  select lm.doc_id, s3.lang,
         cast(floor(lm.mean_bigram_logprob * 1e4 + 0.5) as int)
           as score_bp
  from lm join s3 using (doc_id)
),
lmh as (select lang, score_bp, count(*) as c from lmsc group by 1, 2),
lmn as (select lang, count(*) as n from lmsc group by 1),
lmcum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from lmh
),
lmthr as (
  select lmcum.lang, max(lmcum.score_bp) as threshold_bp
  from lmcum join lmn on lmn.lang = lmcum.lang
  where lmcum.cum >= ceil(0.8 * lmn.n)
  group by lmcum.lang
),
s3b as (
  select s3.doc_id, s3.lang, s3.source from s3
  join lmsc on lmsc.doc_id = s3.doc_id
  join lmthr on lmthr.lang = s3.lang
  where lmsc.score_bp >= lmthr.threshold_bp
),
s4 as (
  select doc_id, lang, source from (
    select s3b.*, row_number() over (
      partition by source order by {_CURATION_CAP_HASH}, doc_id
    ) as rn from s3b
  ) where rn <= 10
)
select doc_id, lang, source,
       cast({_SHARD_KEY} % 16 as int) as shard
from s4
"""


def q_text_dsir_weights(spark, sf_dir):
    """DSIR importance weights (sampling.dsir_weights; Xie et al.
    2023 "Data Selection for Language Models via Importance
    Resampling"): hashed unigram+bigram log-ratio of the lang='en'
    target distribution against the full raw corpus. 256 hash
    buckets — small on purpose, so distinct n-grams genuinely
    collide and the shared-bucket scoring path is exercised."""
    from sslr_spark.functions.sampling import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=256
    )


def q_sample_dsir(spark, sf_dir):
    """DSIR selection (sampling.dsir_select): keep the 40% of raw
    docs whose hashed-n-gram features score most target-like — the
    paper's deterministic top-k variant (ties on doc_id)."""
    from sslr_spark.functions.sampling import dsir_select

    docs = _docs(spark, sf_dir)
    return dsir_select(
        docs, docs.filter(F.col("lang") == "en"), 0.4, n_buckets=256
    )


def _dsir_ctes(
    src: str = "documents",
    target_pred: str = "d.lang = 'en'",
    n_buckets: int = 256,
    p: str = "",
) -> str:
    """DSIR relations shared by the weights / selection / pipeline
    oracles, over any relation exposing (doc_id, text): domain =
    raw-corpus buckets (every scored doc's features are raw features
    by construction), Laplace +1 over the bucket space, log-ratio in
    integer micros before any per-doc sum (order-free bigint totals).
    ``p`` prefixes every CTE name so composed oracles don't clash."""
    b = int(n_buckets)
    return f"""
{p}feats as (
  select doc_id,
         cast(concat('0x', substr(md5(f), 1, 15)) as bigint) % {b} as b
  from (
    select doc_id,
           unnest(list_concat(ws,
             list_transform(generate_series(1, len(ws) - 1),
                            i -> concat(ws[i], chr(31), ws[i + 1]))))
             as f
    from (select doc_id, {_GW} as ws from {src})
  )
),
{p}rawc as (select b, count(*) as cr from {p}feats group by b),
{p}tgtc as (
  select f.b, count(*) as ct
  from {p}feats f join {src} d using (doc_id)
  where {target_pred} group by f.b
),
{p}lam as (
  select {p}rawc.b,
         cast(floor((ln(coalesce({p}tgtc.ct, 0) + 1.0)
                     - ln((select coalesce(sum(ct), 0) from {p}tgtc)
                          + {b}.0)
                     - ln({p}rawc.cr + 1.0)
                     + ln((select sum(cr) from {p}rawc) + {b}.0))
                    * 1e6 + 0.5) as bigint) as lam
  from {p}rawc left join {p}tgtc on {p}rawc.b = {p}tgtc.b
),
{p}dc as (
  select doc_id, b, count(*) as c from {p}feats group by doc_id, b
),
{p}wgt as (
  select doc_id, cast(sum(c) as bigint) as n_features,
         cast(sum(c * lam) as bigint) as logratio_micros
  from {p}dc join {p}lam using (b) group by doc_id
),
{p}allw as (
  select d.doc_id,
         cast(coalesce(w.n_features, 0) as bigint) as n_features,
         cast(coalesce(w.logratio_micros, 0) as bigint)
           as logratio_micros
  from {src} d left join {p}wgt w using (doc_id)
)"""


SQL_TEXT_DSIR_WEIGHTS = f"""
with {_dsir_ctes()}
select doc_id, n_features, logratio_micros from allw
"""

SQL_SAMPLE_DSIR = f"""
with {_dsir_ctes()},
ranked as (
  select *,
         row_number() over (order by logratio_micros desc, doc_id)
           as rn
  from allw
)
select doc_id, n_features, logratio_micros from ranked
where rn <= floor(0.4 * (select count(*) from documents))
"""


def q_x_url_dedup(spark, sf_dir):
    """URL-level dedup (functions/urls.py): every doc appears under a
    messy URL (uppercase scheme/host, default port, fragment) and its
    clean twin; canonicalization must collapse each pair to ONE
    survivor. Even docs exercise the http:80 family, odd docs
    https:443 — both engines canonicalize via the same shared regex
    literal."""
    from sslr_spark.functions.urls import url_dedup

    docs = _docs(spark, sf_dir)
    messy = docs.select(
        (F.col("doc_id") * 2).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("HTTP://Example.COM:80/doc/"),
                F.col("doc_id").cast("string"),
                F.lit("?q=1#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://Example.COM:443/doc/"),
                F.col("doc_id").cast("string"),
            )
        )
        .alias("url"),
    )
    clean = docs.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("http://example.com/doc/"),
                F.col("doc_id").cast("string"),
                F.lit("?q=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/doc/"),
                F.col("doc_id").cast("string"),
            )
        )
        .alias("url"),
    )
    return url_dedup(messy.unionByName(clean), "url")


def _url_dedup_sql() -> str:
    from sslr_spark.functions.urls import canonical_url_sql

    return f"""
with u as (
  select doc_id * 2 as doc_id,
         case when doc_id % 2 = 0
              then concat('HTTP://Example.COM:80/doc/', doc_id,
                          '?q=1#frag')
              else concat('HTTPS://Example.COM:443/doc/', doc_id)
         end as url
  from documents
  union all
  select doc_id * 2 + 1 as doc_id,
         case when doc_id % 2 = 0
              then concat('http://example.com/doc/', doc_id, '?q=1')
              else concat('https://example.com/doc/', doc_id)
         end as url
  from documents
)
select {canonical_url_sql('url')} as canonical_url,
       cast(count(*) as bigint) as n_urls,
       min(doc_id) as keep_id
from u group by 1
"""


SQL_X_URL_DEDUP = _url_dedup_sql()


def q_sample_dsir_incremental(spark, sf_dir):
    """Incremental DSIR (sampling.dsir_fit / dsir_score_batch): the
    log-ratio model freezes on the accepted corpus (vec of <=256
    bucket lambdas collected driver-side — the frozen-centroid
    convention) and scores the incoming batch (doc_id % 10 == 0)
    without re-reading the corpus; batch buckets the corpus never
    produced score the empty-bucket default."""
    from sslr_spark.functions.sampling import dsir_incremental

    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return dsir_incremental(
        batch, corpus, corpus.filter(F.col("lang") == "en"),
        n_buckets=256,
    )


_DSIR_FEATS_INNER = """
  select doc_id,
         cast(concat('0x', substr(md5(f), 1, 15)) as bigint) % 256 as b
  from (
    select doc_id,
           unnest(list_concat(ws,
             list_transform(generate_series(1, len(ws) - 1),
                            i -> concat(ws[i], chr(31), ws[i + 1]))))
             as f
    from (select doc_id, {gw} as ws from documents where {pred})
  )
"""

SQL_SAMPLE_DSIR_INCREMENTAL = f"""
with cf as ({_DSIR_FEATS_INNER.format(gw=_GW, pred="doc_id % 10 != 0")}),
bf as ({_DSIR_FEATS_INNER.format(gw=_GW, pred="doc_id % 10 = 0")}),
rawc as (select b, count(*) as cr from cf group by b),
tgtc as (
  select f.b, count(*) as ct
  from cf f join documents d using (doc_id)
  where d.lang = 'en' group by f.b
),
lam as (
  select rawc.b,
         cast(floor((ln(coalesce(tgtc.ct, 0) + 1.0)
                     - ln((select coalesce(sum(ct), 0) from tgtc)
                          + 256.0)
                     - ln(rawc.cr + 1.0)
                     + ln((select sum(cr) from rawc) + 256.0))
                    * 1e6 + 0.5) as bigint) as lam
  from rawc left join tgtc on rawc.b = tgtc.b
),
defl as (
  select cast(floor((ln((select sum(cr) from rawc) + 256.0)
                     - ln((select coalesce(sum(ct), 0) from tgtc)
                          + 256.0)) * 1e6 + 0.5) as bigint) as lam
),
dc as (select doc_id, b, count(*) as c from bf group by doc_id, b),
wgt as (
  select doc_id, cast(sum(c) as bigint) as n_features,
         cast(sum(c * coalesce(lam.lam, (select lam from defl)))
              as bigint) as logratio_micros
  from dc left join lam using (b) group by doc_id
)
select d.doc_id,
       cast(coalesce(w.n_features, 0) as bigint) as n_features,
       cast(coalesce(w.logratio_micros, 0) as bigint)
         as logratio_micros
from (select doc_id from documents where doc_id % 10 = 0) d
left join wgt w using (doc_id)
"""


def q_text_tfidf_topk(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords (text.tfidf_topk): smooth-idf
    scores in integer micros, rank ties on the term text."""
    from sslr_spark.functions.text import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=3)


SQL_TEXT_TFIDF_TOPK = f"""
with tok as (select doc_id, unnest({_GW}) as term from documents),
tfr as (select doc_id, term, count(*) as tf from tok group by 1, 2),
dfreq as (select term, count(*) as df from tfr group by 1),
n as (select cast(count(*) as double) as n from documents),
scored as (
  select tfr.doc_id, tfr.term, cast(tfr.tf as bigint) as tf,
         cast(floor(tfr.tf * (ln((1.0 + (select n from n))
                                 / (1.0 + dfreq.df)) + 1.0)
                    * 1e6 + 0.5) as bigint) as score_micros
  from tfr join dfreq using (term)
),
ranked as (
  select *, cast(row_number() over (
           partition by doc_id order by score_micros desc, term
         ) as bigint) as rk
  from scored
)
select doc_id, term, tf, score_micros, rk from ranked where rk <= 3
"""


def q_sample_cluster_balance(spark, sf_dir):
    """Cluster-capped diversity sampling (sampling.cluster_balance):
    frozen 8-cell quantizer, keep the 20 most-central vectors per
    cell (round(cos, 9) desc, vec_id) — the embedding-space twin of
    the per-source cap."""
    from sslr_spark.functions.sampling import cluster_balance

    return cluster_balance(_emb(spark, sf_dir), _IVF_CENT_IDS, cap=20)


SQL_SAMPLE_CLUSTER_BALANCE = f"""
with cents as (
  select cast(row_number() over (order by vec_id) - 1 as int) as cell,
         embedding as centroid
  from embeddings
  where vec_id in ({", ".join(str(i) for i in _IVF_CENT_IDS)})
),
assigned as (
  select vec_id, cell, sim from (
    select e.vec_id, c.cell,
           round({_cos_sql('e.embedding', 'c.centroid')}, 9) as sim,
           row_number() over (
             partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.centroid')},
                            9) desc,
                      c.cell
           ) as rn
    from embeddings e cross join cents c
  ) where rn = 1
),
ranked as (
  select vec_id, cell,
         cast(row_number() over (
           partition by cell order by sim desc, vec_id
         ) as bigint) as rk
  from assigned
)
select vec_id, cell, rk from ranked where rk <= 20
"""


def q_sample_epoch_plan(spark, sf_dir):
    """Repeat-capped training-mix budgeting
    (sampling.epoch_allocation): 2x the corpus's total chars split
    across (lang, source) domains with sqrt-temperature weights
    (alpha=0.5) and a 4-epoch repeat cap — exact continuous
    water-filling; at sf0.01 eight small domains genuinely cap and
    their overflow redistributes."""
    from sslr_spark.functions.sampling import epoch_allocation

    docs = _docs(spark, sf_dir)
    total = int(docs.agg(F.sum("n_chars")).first()[0])
    return epoch_allocation(
        docs, ["lang", "source"], "n_chars",
        budget=2 * total, max_repeats=4.0, alpha=0.5,
    )


SQL_SAMPLE_EPOCH_PLAN = """
with base as (
  select lang, source, cast(sum(n_chars) as bigint) as avail,
         cast(floor(cast(sum(n_chars) as double) * 4.0) as bigint)
           as cap,
         cast(floor(pow(cast(sum(n_chars) as double), 0.5) * 1e6)
              as bigint) as w
  from documents group by 1, 2 having sum(n_chars) > 0
),
bb as (select cast(2 * sum(n_chars) as double) as b from documents),
pref as (
  select *,
         cast(cap as double) / w as p,
         sum(cap) over (
           order by cast(cap as double) / w asc, lang asc, source asc
           rows between unbounded preceding and current row
         ) as cum_cap,
         (select sum(w) from base) - sum(w) over (
           order by cast(cap as double) / w asc, lang asc, source asc
           rows between unbounded preceding and current row
         ) as suf_w,
         (select sum(cap) from base) as total_cap,
         (select sum(w) from base) as tot_w
  from base
),
lamt as (
  select max(case when suf_w > 0
                   and p <= ((select b from bb) - cum_cap) / suf_w
                  then ((select b from bb) - cum_cap) / suf_w
             end) as lam
  from pref
)
select lang, source, avail, cap,
       cast(floor(
         case when (select b from bb) >= total_cap
              then cast(cap as double)
              else least(
                cast(cap as double),
                coalesce((select lam from lamt),
                         (select b from bb) / tot_w) * w)
         end) as bigint) as allocation,
       cast(floor(
         cast(floor(
           case when (select b from bb) >= total_cap
                then cast(cap as double)
                else least(
                  cast(cap as double),
                  coalesce((select lam from lamt),
                           (select b from bb) / tot_w) * w)
           end) as bigint)
         * 10000.0 / avail) as bigint) as epochs_bp
from pref
"""


def q_x_warc_ingest(spark, sf_dir):
    """WARC crawl-container ingestion (sources/warc.py): the key
    builds a spec-shaped .warc + .warc.gz pair FROM the documents
    table (bounded fixture construction — the serializer is a
    separate code path from the parser), reads them back through the
    one-file-per-task binaryFile + mapInPandas parser, and returns
    the parsed fields; the oracle recomputes the expected fields
    straight from documents, so the parse itself is what's checked."""
    import os

    from sslr_spark.sources.warc import build_warc, build_warc_gz, read_warc

    docs = _docs(spark, sf_dir).collect()  # fixture build: corpus at
    # verification sf only — production ingests EXISTING segments
    recs = [
        {
            "record_id": f"<urn:doc:{r.doc_id}>",
            "warc_type": "response",
            "target_uri": f"http://example.com/doc/{r.doc_id}",
            "warc_date": "2026-01-01T00:00:00Z",
            "content_type": "text/plain",
            "payload": (r.text or "").encode("utf-8"),
        }
        for r in docs
    ]
    half = len(recs) // 2
    d = _fresh_bench_dir("warc")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "seg0.warc"), "wb") as f:
        f.write(build_warc(recs[:half]))
    with open(os.path.join(d, "seg1.warc.gz"), "wb") as f:
        f.write(build_warc_gz(recs[half:]))
    return read_warc(spark, d).select(
        "target_uri",
        "content_type",
        "n_bytes",
        F.col("payload").cast("string").alias("text"),
    )


SQL_X_WARC_INGEST = """
select concat('http://example.com/doc/', doc_id) as target_uri,
       'text/plain' as content_type,
       cast(octet_length(encode(coalesce(text, ''))) as bigint)
         as n_bytes,
       coalesce(text, '') as text
from documents
"""


# the HTML page each doc is wrapped in for the extraction keys —
# script/style/comment payloads that MUST vanish, block tags that
# must become newlines; Python f-string (fixture), Spark expression,
# and SQL concat all build the identical string
_HTML_PRE = (
    "<html><head><script>var t = 1;</script>"
    "<style>p { color: red }</style></head><body><h1>Doc "
)
_HTML_MID = "</h1><p>"
_HTML_POST = "</p><!-- footer note --></body></html>"


def q_text_html_extract(spark, sf_dir):
    """HTML -> visible text (text.html_to_text): every doc wrapped in
    a page with script/style/comment payloads and block tags, then
    run through the engine-portable regex cascade; the oracle builds
    the SAME page in SQL and replays the cascade via
    html_to_text_sql — both engines must agree on every byte."""
    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit(_HTML_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(_HTML_POST),
    )
    return docs.select("doc_id", X.html_to_text(html).alias("text"))


def _html_sql_expr() -> str:
    return (
        f"concat('{_HTML_PRE}', doc_id, '{_HTML_MID}', "
        f"coalesce(text, ''), '{_HTML_POST}')"
    )


SQL_TEXT_HTML_EXTRACT = f"""
select doc_id,
       {X.html_to_text_sql(_html_sql_expr())} as text
from documents
"""


def q_x_warc_http(spark, sf_dir):
    """The crawl front door end-to-end: WARC segments whose response
    payloads carry real HTTP envelopes around HTML pages -> record
    parse (read_warc) -> envelope split (split_http_payload) -> HTML
    text extraction (html_to_text). The oracle rebuilds the expected
    page per doc in SQL and replays only the extraction cascade —
    everything the Spark side recovers by actually parsing bytes."""
    import os

    from sslr_spark.sources.warc import (
        build_warc_gz,
        read_warc,
        split_http_payload,
    )

    docs = _docs(spark, sf_dir).collect()  # bounded fixture build
    recs = []
    for r in docs:
        html = (
            f"{_HTML_PRE}{r.doc_id}{_HTML_MID}"
            f"{r.text or ''}{_HTML_POST}"
        )
        payload = (
            "HTTP/1.1 200 OK\r\nServer: test\r\n"
            "Content-Type: text/html; charset=utf-8\r\n\r\n" + html
        ).encode("utf-8")
        recs.append(
            {
                "record_id": f"<urn:doc:{r.doc_id}>",
                "warc_type": "response",
                "target_uri": f"http://example.com/doc/{r.doc_id}",
                "warc_date": "2026-01-01T00:00:00Z",
                "content_type": "application/http; msgtype=response",
                "payload": payload,
            }
        )
    d = _fresh_bench_dir("warchttp")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "seg0.warc.gz"), "wb") as f:
        f.write(build_warc_gz(recs))
    return split_http_payload(read_warc(spark, d)).select(
        "target_uri",
        "http_status",
        "http_content_type",
        X.html_to_text(F.col("body")).alias("text"),
    )


SQL_X_WARC_HTTP = f"""
select concat('http://example.com/doc/', doc_id) as target_uri,
       cast(200 as int) as http_status,
       'text/html; charset=utf-8' as http_content_type,
       {X.html_to_text_sql(_html_sql_expr())} as text
from documents
"""


def q_x_curation_pipeline_dsir(spark, sf_dir):
    """The curation chain with the DSIR domain-selection stage
    (curation.py dsir_keep_fraction): Gopher rules -> exact dedup ->
    heuristic quality gate (0.6) -> DSIR gate (0.7, target = the
    chain's own surviving 'src18' docs, 256 hash buckets) -> source
    cap -> shards. Proves the composition — both DSIR distributions
    fitted on the survivor pool — against one DuckDB CTE chain."""
    from sslr_spark.curation import curate_documents

    return curate_documents(
        _docs(spark, sf_dir),
        quality_weights=[_QW["n_tokens"], _QW["n_subtokens"],
                         _QW["stopword_ratio"], _QW["mean_word_len"]],
        quality_bias=_QW["bias"],
        keep_fraction=0.6,
        dsir_keep_fraction=0.7,
        dsir_target_source="src18",
        dsir_buckets=256,
        max_per_source=10,
        n_shards=16,
    ).df


SQL_X_CURATION_PIPELINE_DSIR = f"""
with s1 as (
  select d.doc_id, d.lang, d.source, d.text
  from documents d
  join ({SQL_TEXT_GOPHER_FLAGS}) g on g.doc_id = d.doc_id and g.keep
),
s2 as (
  select * from s1
  where doc_id in (select min(doc_id) from s1 group by md5(text))
),
sc as (
  select q.doc_id, s2.lang,
         cast(floor(q.score * 1e4 + 0.5) as int) as score_bp
  from ({SQL_TEXT_QUALITY_SCORE}) q
  join s2 on s2.doc_id = q.doc_id
),
h as (select lang, score_bp, count(*) as c from sc group by 1, 2),
n as (select lang, count(*) as n from sc group by 1),
cum as (
  select lang, score_bp,
         sum(c) over (partition by lang order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from h
),
thr as (
  select cum.lang, max(cum.score_bp) as threshold_bp
  from cum join n on n.lang = cum.lang
  where cum.cum >= ceil(0.6 * n.n)
  group by cum.lang
),
s3 as (
  select s2.doc_id, s2.lang, s2.source, s2.text from s2
  join sc on sc.doc_id = s2.doc_id
  join thr on thr.lang = s2.lang
  where sc.score_bp >= thr.threshold_bp
),
{_dsir_ctes("s3", "d.source = 'src18'", 256, p="d")},
dsc as (
  select doc_id,
         cast(case when n_features = 0 then 0
              else floor(logratio_micros / (n_features * 100.0))
              end as int) as score_bp
  from dallw
),
dh as (select score_bp, count(*) as c from dsc group by 1),
dn as (select count(*) as n from dsc),
dcum as (
  select score_bp,
         sum(c) over (order by score_bp desc
                      rows between unbounded preceding and current row)
           as cum
  from dh
),
dthr as (
  select max(score_bp) as threshold_bp from dcum
  where cum >= ceil(0.7 * (select n from dn))
),
s3d as (
  select s3.doc_id, s3.lang, s3.source from s3
  join dsc using (doc_id)
  where dsc.score_bp >= (select threshold_bp from dthr)
),
s4 as (
  select doc_id, lang, source from (
    select s3d.*, row_number() over (
      partition by source order by {_CURATION_CAP_HASH}, doc_id
    ) as rn from s3d
  ) where rn <= 10
)
select doc_id, lang, source,
       cast({_SHARD_KEY} % 16 as int) as shard
from s4
"""


# ------------------------------------------------------------------
# hybrid retrieval (round 9 continuation-2)
# ------------------------------------------------------------------


def q_sim_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion (similarity.py
    hybrid_rrf_topk): a BM25 lexical top-20 over documents and a
    dense cosine top-20 around vec_id 0 over embeddings fuse into one
    top-10 by integer RRF — sum of 1_000_000 // (60 + rank) per list.
    The oracle replays both candidate lists (the BM25 micro-quantized
    scoring CTE chain, the round(6)+micros cosine ranking) and the
    integer fusion — rank arithmetic never leaves bigints, so the
    fused ordering is bit-identical across engines."""
    return S.hybrid_rrf_topk(
        _docs(spark, sf_dir),
        _emb(spark, sf_dir),
        _BM25_TERMS,
        query_vec_id=0,
        k=10,
        k_lex=20,
        k_vec=20,
    )


SQL_SIM_HYBRID_RRF = f"""
with tok as (select doc_id, {W_SQL} as ws from documents),
hits as (
  select doc_id, len(ws) as dl, unnest(list_filter(ws,
    w -> w in ({_BM25_IN}))) as t
  from tok
),
tf as (
  select doc_id, t, count(*) as tf, min(dl) as dl
  from hits group by 1, 2
),
stats as (select count(*) as n, sum(len(ws)) as sumdl from tok),
dfq as (select t, count(*) as dfr from tf group by t),
lexs as (
  select doc_id,
         cast(sum(cast(floor(
           ln(1.0 + (n - dfr + 0.5) / (dfr + 0.5)) * tf
             / (tf + cast(1.2 as double)
                * (cast(0.25 as double)
                   + cast(0.75 as double) * dl / (sumdl / n)))
           * 1000000 + 0.5) as bigint)) as bigint) as score_micros
  from tf join dfq using (t) cross join stats
  group by doc_id
  order by score_micros desc, doc_id
  limit 20
),
lex as (
  select doc_id, cast(row_number() over (
    order by score_micros desc, doc_id) as int) as lex_rank
  from lexs
),
q as (select embedding as qvec from embeddings where vec_id = 0),
denses as (
  select vec_id as doc_id,
         cast(floor(round({_cos_sql('embedding', 'qvec')}, 6) * 1000000 + 0.5) as bigint) as cm
  from embeddings, q where vec_id != 0
  order by cm desc, doc_id
  limit 20
),
dense as (
  select doc_id, cast(row_number() over (
    order by cm desc, doc_id) as int) as vec_rank
  from denses
)
select coalesce(l.doc_id, d.doc_id) as doc_id,
       cast(coalesce(1000000 // (60 + lex_rank), 0)
            + coalesce(1000000 // (60 + vec_rank), 0) as bigint)
         as rrf_micros,
       lex_rank, vec_rank
from lex l full outer join dense d on l.doc_id = d.doc_id
order by rrf_micros desc, doc_id
limit 10
"""


def q_x_hll_distinct(spark, sf_dir):
    """Mergeable HyperLogLog distinct sketch (sketches.py hll_build /
    hll_merge / hll_estimate): per-event-type distinct users counted
    the way a 100 TB pipeline must — 8 shard-local register sketches
    built independently (one map-side aggregate each; here one pass
    with shard in the key), merged with a register-wise MAX, then
    estimated. Joined against the exact distinct count with the error
    in basis points. The register build uses the oracle-parity h60
    hash and the estimate stays integer until one final double scale,
    so both engines produce bit-identical registers AND estimates."""
    from sslr_spark.functions.sketches import (
        hll_build,
        hll_estimate,
        hll_merge,
    )
    from sslr_spark.queries import read_events

    ev = read_events(spark, sf_dir).select(
        "event_type",
        (F.col("event_id") % 8).alias("__shard"),
        F.col("user_id"),
    )
    shard_sketches = hll_build(
        ev, ["event_type", "__shard"], "user_id"
    )
    merged = hll_merge(shard_sketches, ["event_type"])
    est = hll_estimate(merged, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_buckets_set",
            "estimate",
            "n_exact",
            (
                F.abs(F.col("estimate") - F.col("n_exact"))
                * F.lit(10_000)
                / F.col("n_exact")
            )
            .cast("long")
            .alias("err_bp"),
        )
        .orderBy("event_type")
    )


# replays the register pipeline: h60 per user, bucket = h % 64,
# rho from the bin()-length of h >> 6, register-wise max (the shard
# split is a no-op for max, replayed anyway to pin mergeability),
# then the exact-integer harmonic sum and the alpha/linear-counting
# estimate with the same literal expression shape
SQL_X_HLL_DISTINCT = f"""
with ev as (
  select event_type, event_id % 8 as shard, user_id,
         {h60_sql("coalesce(cast(user_id as varchar), chr(0))")} as h
  from events
),
regs as (
  select event_type, shard, h % 64 as bucket,
         cast(case when (h >> 6) = 0 then 55
              else 54 - length(bin(h >> 6)) + 1 end as int) as rho
  from ev
),
shard_sketch as (
  select event_type, shard, bucket, max(rho) as rho
  from regs group by 1, 2, 3
),
merged as (
  select event_type, bucket, max(rho) as rho
  from shard_sketch group by 1, 2
),
agg as (
  select event_type,
         cast(count(*) as bigint) as n_buckets_set,
         sum(cast(pow(2.0, 55 - rho) as bigint)) as s_present
  from merged group by 1
),
est as (
  select event_type, n_buckets_set,
         cast(floor(
           case when (cast(2905.460551022604 as double) * cast(36028797018963968 as double)
                      / cast(s_present + (64 - n_buckets_set)
                             * 36028797018963968 as double)) <= 160.0
                     and n_buckets_set < 64
                then 64.0 * ln(64.0 / cast(64 - n_buckets_set as double))
                else cast(2905.460551022604 as double) * cast(36028797018963968 as double)
                     / cast(s_present + (64 - n_buckets_set)
                            * 36028797018963968 as double)
           end + 0.5) as bigint) as estimate
  from agg
),
exact as (
  select event_type, cast(count(distinct user_id) as bigint) as n_exact
  from ev group by 1
)
select e.event_type, n_buckets_set, estimate, n_exact,
       cast(floor(abs(estimate - n_exact) * 10000 / n_exact) as bigint) as err_bp
from est e join exact using (event_type)
order by event_type
"""


_PR_HOSTS = 24  # synthetic host count for the link-graph keys


def _pr_pages(spark, sf_dir):
    """documents -> synthetic crawled pages: every doc gets a page URL
    on host{doc_id % 24}.test and an HTML body with two outlinks whose
    target hosts are formulas of (doc_id, n_chars) — so the oracle can
    rebuild the exact same page string in SQL and both engines run the
    SAME extraction regex over the SAME bytes."""
    docs = _docs(spark, sf_dir)
    host = lambda k: F.concat(  # noqa: E731
        F.lit("host"), k.cast("string"), F.lit(".test")
    )
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("http://"),
            host(F.col("doc_id") % _PR_HOSTS),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("page_url"),
        F.concat(
            F.lit('<html><body><a href="http://'),
            host((F.col("doc_id") * 7 + F.col("n_chars")) % _PR_HOSTS),
            F.lit('/a">l1</a><p><a href="https://'),
            host((F.col("doc_id") * 13 + 3) % _PR_HOSTS),
            F.lit(':443/b?q=2">l2</a></body></html>'),
        ).alias("html"),
    )


def q_x_link_graph(spark, sf_dir):
    """Host-level link graph from real HTML href extraction
    (functions/graph.py extract_links + host_edges): pages ->
    regexp_extract_all over the shared HREF_RE literal -> host
    normalization (lowercase, port stripped — the :443 outlink
    exercises it) -> self-loop-free (src, dst, n_links) aggregate."""
    from sslr_spark.functions.graph import extract_links, host_edges

    pages = _pr_pages(spark, sf_dir)
    links = extract_links(pages, "doc_id", "html").join(
        pages.select("doc_id", "page_url"), "doc_id"
    )
    return host_edges(links).orderBy("src", "dst")


_PR_PAGE_SQL = f"""
  select doc_id,
         concat('http://host', doc_id % 24, '.test/p/', doc_id)
           as page_url,
         concat('<html><body><a href="http://host',
                (doc_id * 7 + n_chars) % 24,
                '.test/a">l1</a><p><a href="https://host',
                (doc_id * 13 + 3) % 24,
                '.test:443/b?q=2">l2</a></body></html>') as html
  from documents
"""

_HOST_SQL = (
    "regexp_replace(lower(regexp_extract({u}, "
    "'^(?:([a-zA-Z][a-zA-Z0-9+.-]*)://)?([^/?#]*)([^?#]*)"
    "(?:\\?([^#]*))?(?:#.*)?$', 2)), ':[0-9]+$', '')"
)

SQL_X_LINK_GRAPH = f"""
with pages as ({{PAGES}}),
links as (
  select doc_id, unnest(regexp_extract_all(html, 'href="([^"]+)"', 1))
    as link
  from pages
),
hosted as (
  select {{SRC_HOST}} as src, {{DST_HOST}} as dst
  from links join pages using (doc_id)
)
select src, dst, cast(count(*) as bigint) as n_links
from hosted
where src != dst and dst != ''
group by src, dst
order by src, dst
"""


def q_x_pagerank(spark, sf_dir):
    """Integer-quantized PageRank (functions/graph.py pagerank) over
    the extracted host graph: 3 fixed iterations, damping 0.85 in
    basis points, ranks in micros with integer-division contributions
    — the oracle replays every iteration as a nested CTE and matches
    bit-for-bit (no float accumulation anywhere)."""
    from sslr_spark.functions.graph import (
        extract_links,
        host_edges,
        pagerank,
    )

    pages = _pr_pages(spark, sf_dir)
    links = extract_links(pages, "doc_id", "html").join(
        pages.select("doc_id", "page_url"), "doc_id"
    )
    return pagerank(host_edges(links), n_iters=3).orderBy("host")


SQL_X_PAGERANK = f"""
with pages as ({{PAGES}}),
links as (
  select doc_id, unnest(regexp_extract_all(html, 'href="([^"]+)"', 1))
    as link
  from pages
),
hosted as (
  select {{SRC_HOST}} as src, {{DST_HOST}} as dst
  from links join pages using (doc_id)
),
e as (
  select distinct src, dst from hosted where src != dst and dst != ''
),
nodes as (select src as host from e union select dst from e),
deg as (select src, count(*) as out_deg from e group by src),
r0 as (select host, cast(1000000 as bigint) as rank_micros from nodes),
{{ITERS}}
select host, rank_micros from r3 order by host
"""


def _pr_iter_sql(k: int) -> str:
    return f"""r{k} as (
  select n.host,
         cast(150000 + (coalesce(s.s, 0) * 8500) // 10000 as bigint)
           as rank_micros
  from nodes n left join (
    select e.dst as host, sum(r.rank_micros // d.out_deg) as s
    from e join deg d on e.src = d.src
         join r{k - 1} r on e.src = r.host
    group by e.dst
  ) s on n.host = s.host
)"""


SQL_X_PAGERANK = SQL_X_PAGERANK.replace(
    "{ITERS}", ",\n".join(_pr_iter_sql(k) for k in (1, 2, 3))
)

_PR_SUBS = {
    "{PAGES}": _PR_PAGE_SQL,
    "{SRC_HOST}": _HOST_SQL.format(u="page_url"),
    "{DST_HOST}": _HOST_SQL.format(u="link"),
}
for _k, _v in _PR_SUBS.items():
    SQL_X_LINK_GRAPH = SQL_X_LINK_GRAPH.replace(_k, _v)
    SQL_X_PAGERANK = SQL_X_PAGERANK.replace(_k, _v)
del _PR_SUBS, _k, _v


# pixel formula shared verbatim with multimodal._dhash_value: grp =
# doc_id // 4, var = doc_id % 4, t = x + 9y + 17*grp,
# v = (t*t + x) % 251, one pixel +128-swapped per non-zero variant
_DHASH_V = (
    "case when (doc_id % 4) > 0"
    " and x = ((doc_id // 4) + (doc_id % 4)) % 9"
    " and y = ((doc_id // 4) + 2 * (doc_id % 4)) % 7"
    " then (((x + 9*y + 17*(doc_id // 4)) * (x + 9*y + 17*(doc_id // 4))"
    "        + x) % 251 + 128) % 251"
    " else ((x + 9*y + 17*(doc_id // 4)) * (x + 9*y + 17*(doc_id // 4))"
    "       + x) % 251 end"
)

_DHASH_PH_CTES = f"""
px as (
  select doc_id, y, x, {_DHASH_V} as v
  from (select doc_id from documents where doc_id < 200),
       generate_series(0, 6) t1(y), generate_series(0, 8) t2(x)
),
ph as (
  select a.doc_id,
         cast(sum(case when b.v > a.v
                       then (1::bigint << (a.y * 8 + a.x)) else 0 end)
           as bigint) as phash
  from px a join px b
    on a.doc_id = b.doc_id and a.y = b.y and b.x = a.x + 1
  where a.x < 8
  group by a.doc_id
)"""


def q_mm_phash(spark, sf_dir):
    """REAL perceptual hashing end-to-end (multimodal.py
    synthesize_images_dhash -> dhash64): documents become genuine
    9x7 grayscale BMPs (bottom-up rows, stride padding) whose pixel
    values follow a formula both engines know; the Spark side then
    recovers the 56-bit difference hash OUT OF THE BYTES — header
    parse, row un-flip, integer luma, neighbor comparisons — while
    the oracle computes the same bits from the formula alone. Any
    stride, row-order, or bit-index bug diverges."""
    from sslr_spark.functions.multimodal import (
        dhash64,
        synthesize_images_dhash,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return dhash64(synthesize_images_dhash(docs)).orderBy("doc_id")


SQL_MM_PHASH = f"""
with {_DHASH_PH_CTES}
select doc_id, phash from ph order by doc_id
"""


def q_dedup_image_phash(spark, sf_dir):
    """Image near-dup dedup over REAL decoded perceptual hashes
    (dedup.py image_phash_near_dup): 8 bit-slices of 7 bits index the
    56-bit dHash (pigeonhole-complete up to Hamming 7), slice-equal
    candidates verify with bit_count(xor) <= 4. The synthetic corpus
    plants 4 variants per base pattern one swapped pixel apart, so
    every group contributes near-dup pairs while the quadratic base
    keeps distinct groups ~half the hash apart."""
    from sslr_spark.functions.dedup import image_phash_near_dup
    from sslr_spark.functions.multimodal import (
        dhash64,
        synthesize_images_dhash,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    hashes = dhash64(synthesize_images_dhash(docs))
    return image_phash_near_dup(hashes, max_hamming=4).orderBy(
        "doc_a", "doc_b"
    )


SQL_DEDUP_IMAGE_PHASH = f"""
with {_DHASH_PH_CTES},
bands as (
  select doc_id, phash, i, (phash >> (7 * i)) & 127 as v
  from ph, generate_series(0, 7) t(i)
),
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b,
         a.phash as ha, b.phash as hb
  from bands a join bands b
    on a.i = b.i and a.v = b.v and a.doc_id < b.doc_id
)
select doc_a, doc_b, cast(bit_count(xor(ha, hb)) as int) as hamming
from cand
where bit_count(xor(ha, hb)) <= 4
order by doc_a, doc_b
"""


def q_dedup_image_phash_clusters(spark, sf_dir):
    """Linear-output image near-dup dedup (dedup.py
    image_phash_clusters — the VERDICT r9 item-3 star-collapse):
    identical hashes collapse to hub nodes BEFORE any pair forms, the
    banded Hamming join runs over distinct hash values only, and
    large/small-star CC labels each image with its component's
    smallest doc_id. One row per image, never C(c,2) pair rows —
    the dedup path for dup-heavy crawl corpora, next to
    dedup_image_phash's calibration pair list."""
    from sslr_spark.functions.dedup import image_phash_clusters
    from sslr_spark.functions.multimodal import (
        dhash64,
        synthesize_images_dhash,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    hashes = dhash64(synthesize_images_dhash(docs))
    return image_phash_clusters(hashes, max_hamming=4).orderBy("doc_id")


SQL_DEDUP_IMAGE_PHASH_CLUSTERS = f"""
with {_DHASH_PH_CTES},
hubs as (select phash, min(doc_id) as hub from ph group by phash),
hb as (
  select hub, phash, i, (phash >> (7 * i)) & 127 as v
  from hubs, generate_series(0, 7) t(i)
),
hpairs as (
  select distinct a.hub as doc_a, b.hub as doc_b
  from hb a join hb b
    on a.i = b.i and a.v = b.v and a.hub < b.hub
  where bit_count(xor(a.phash, b.phash)) <= 4
),
hedges as (
  select doc_a as src, doc_b as dst from hpairs
  union
  select doc_b as src, doc_a as dst from hpairs
),
hreach as (
  with recursive r(src, dst) as (
    select src, dst from hedges
    union
    select r.src, e.dst from r join hedges e on r.dst = e.src
  )
  select * from r
),
hcomp as (
  select src as hub, least(src, min(dst)) as cluster_id
  from hreach group by src
)
select p.doc_id, p.phash,
       coalesce(c.cluster_id, h.hub) as cluster_id
from ph p
join hubs h using (phash)
left join hcomp c on c.hub = h.hub
order by p.doc_id
"""


def q_sample_curriculum(spark, sf_dir):
    """Curriculum tiering (sampling.py curriculum_tiers): documents
    split into 10 easy-to-hard tiers by n_chars via the histogram-
    exact boundary (no global row window — one bounded window over
    the (score, count) histogram, broadcast back), each row carrying
    its deterministic intra-tier shuffle key."""
    from sslr_spark.functions.sampling import curriculum_tiers

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return curriculum_tiers(docs, "n_chars").orderBy("doc_id")


SQL_SAMPLE_CURRICULUM = f"""
with d as (select doc_id, source, n_chars from documents),
hist as (select n_chars as s, count(*) as c from d group by 1),
t as (
  select s, cast((10 * (sum(c) over (order by s) - c))
                 // (sum(c) over ()) as int) as tier
  from hist
)
select d.doc_id, d.source, d.n_chars, t.tier,
       {h60_sql("concat('curriculum:', cast(doc_id as varchar))")}
         as order_key
from d join t on d.n_chars = t.s
order by d.doc_id
"""


def q_mm_audio_vad(spark, sf_dir):
    """REAL energy VAD end-to-end (multimodal.py synthesize_audio_vad
    -> audio_vad): documents become genuine 16-bit PCM WAVs whose
    samples alternate 160-sample silence/activity blocks by formula;
    the Spark side recovers per-frame integer energies OUT OF THE
    BYTES (RIFF chunk walk, int16 LE framing) while the oracle
    computes the same energies from the formula alone. Activity
    blocks align to the 80-sample frame, so active flags flip
    deterministically frame-by-frame."""
    from sslr_spark.functions.multimodal import audio_vad, synthesize_audio_vad

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    return audio_vad(synthesize_audio_vad(docs)).orderBy(
        "doc_id", "frame"
    )


SQL_MM_AUDIO_VAD = """
with d as (
  select doc_id, 400 + n_chars % 300 as n
  from documents where doc_id < 150
),
samp as (
  select doc_id, n, i,
         case when (i // 160) % 2 = 0 then cast(0 as bigint)
              else (i * 37 + doc_id * 11) % 2001 - 1000 end as s
  from d, lateral unnest(generate_series(0, n - 1)) t(i)
),
fr as (
  select doc_id, cast(i // 80 as int) as frame, sum(s * s) as energy
  from samp
  where i < (n // 80) * 80
  group by 1, 2
)
select doc_id, frame, cast(energy as bigint) as energy,
       energy > 2000000 as active
from fr
order by doc_id, frame
"""


def q_sim_topk_matryoshka(spark, sf_dir):
    """Matryoshka two-stage ANN (similarity.py topk_matryoshka):
    rank on the 4-component PREFIX cosine, shortlist 50, rerank the
    shortlist with the full vector — both scores integer-micros so
    the cut and the order replay exactly in SQL."""
    return S.topk_matryoshka(
        _emb(spark, sf_dir), query_vec_id=0, k=10, prefix_dim=4,
        shortlist=50,
    )


SQL_SIM_TOPK_MATRYOSHKA = f"""
with q as (
  select embedding as qvec, embedding[1:4] as qpref
  from embeddings where vec_id = 0
),
s1 as (
  -- zero-norm guard mirrors topk_matryoshka: nullif(denominator, 0)
  -- + MIN-sentinel keeps undefined-cosine rows ranked LAST on both
  -- engines (DuckDB would otherwise sort the raw NaN highest)
  select vec_id, embedding, qvec,
         coalesce(cast(floor(round(
           {_cos_sql_guarded('embedding[1:4]', 'qpref')}, 6)
           * 1000000 + 0.5) as bigint),
           -4611686018427387904) as cos_prefix_micros
  from embeddings, q where vec_id != 0
  order by cos_prefix_micros desc, vec_id
  limit 50
)
select vec_id, cos_prefix_micros,
       coalesce(cast(floor(round(
         {_cos_sql_guarded('embedding', 'qvec')}, 6) * 1000000
         + 0.5) as bigint), -4611686018427387904) as cos_full_micros
from s1
order by cos_full_micros desc, vec_id
limit 10
"""


def q_x_bucketed_join(spark, sf_dir):
    """Exchange-free co-located join via bucketed storage
    (sources/bucketed.py): lineitem and orders are staged ONCE as
    same-bucketing parquet tables (8 hash buckets on the order key,
    sorted within buckets), then joined through the catalog handles —
    the planner sees matching bucket specs and drops BOTH join
    Exchanges (plan-pinned in tests/test_round9c_ops.py). The paid-
    once shuffle at write time is the bucketing trade; every repeated
    join on the key rides free. Result: revenue per returnflag over
    the joined tables — the oracle replays the plain join."""
    from sslr_spark.sources.bucketed import bucketed_pair

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    lt, rt = bucketed_pair(
        spark, li, orders, "l_orderkey", "o_orderkey",
        _fresh_bench_dir("bucketed"),
    )
    return (
        # merge hint: small test tables would broadcast (skipping
        # bucketing); the 100 TB fact-fact shape is the bucketed SMJ
        lt.hint("merge")
        .join(rt, lt.l_orderkey == rt.o_orderkey)
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("l_returnflag", "o_orderpriority")
    )


SQL_X_BUCKETED_JOIN = """
select l_returnflag, o_orderpriority,
       count(*) as n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
from lineitem join orders on l_orderkey = o_orderkey
group by l_returnflag, o_orderpriority
order by l_returnflag, o_orderpriority
"""


def q_x_robots(spark, sf_dir):
    """robots.txt crawl-permission evaluation end-to-end
    (functions/robots.py): per-host policies are synthesized from a
    formula both engines know — hosts divisible by 3 ship an exact
    ``sslr-bot`` group (Disallow /blocked, Allow /blocked/except —
    longest-match override) ABOVE a catch-all ``Disallow: /`` star
    group; other hosts ship a star group with one prefix rule and an
    empty Disallow (the allow-all idiom) — then the Spark side REALLY
    parses the text (comment strip, group numbering, agent-precedence
    selection, longest-prefix decision) while the oracle predicts
    each URL's verdict in closed form. A parser that leaks the star
    group into exact-group hosts, mishandles the Allow override, or
    honors the empty Disallow diverges immediately."""
    from sslr_spark.functions.robots import robots_allowed, robots_rules

    docs = _docs(spark, sf_dir)
    k = F.col("doc_id") % 10
    host = F.concat(F.lit("host"), k.cast("string"), F.lit(".test"))
    robots = (
        docs.select((F.col("doc_id") % 10).alias("k"))
        .distinct()
        .select(
            F.concat(
                F.lit("host"), F.col("k").cast("string"), F.lit(".test")
            ).alias("host"),
            F.when(
                F.col("k") % 3 == 0,
                F.concat(
                    F.lit(
                        "# crawl policy\nUser-agent: sslr-bot\n"
                        "Disallow: /blocked\nAllow: /blocked/except\n"
                        "User-agent: *\nDisallow: /\n"
                    )
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("User-agent: *\nDisallow: /priv"),
                    F.col("k").cast("string"),
                    F.lit("\nDisallow:\n# trailing comment\n"),
                )
            )
            .alias("robots_txt"),
        )
    )
    m = F.expr("doc_id div 10") % 5
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://"),
            host,
            F.when(m == 0, F.concat(F.lit("/open/"), F.col("doc_id").cast("string")))
            .when(m == 1, F.lit("/blocked/page"))
            .when(m == 2, F.lit("/blocked/except/page"))
            .when(m == 3, F.concat(F.lit("/priv"), k.cast("string"), F.lit("/x")))
            .otherwise(F.lit("")),
        ).alias("url"),
    )
    rules = robots_rules(robots, agent="sslr-bot")
    return robots_allowed(urls, rules).orderBy("doc_id")


SQL_X_ROBOTS = """
with d as (
  select doc_id, doc_id % 10 as k, (doc_id // 10) % 5 as m from documents
),
u as (
  select doc_id, k, m,
         concat('http://host', k, '.test',
                case m when 0 then concat('/open/', doc_id)
                       when 1 then '/blocked/page'
                       when 2 then '/blocked/except/page'
                       when 3 then concat('/priv', k, '/x')
                       else '' end) as url
  from d
)
select doc_id, url,
       not ((k % 3 = 0 and m = 1) or (k % 3 != 0 and m = 3)) as allowed,
       cast(case when k % 3 = 0 and m = 1 then 8
                 when k % 3 = 0 and m = 2 then 15
                 when k % 3 != 0 and m = 3 then 6
                 else 0 end as int) as rule_len
from u
order by doc_id
"""


def q_x_crawl_frontier(spark, sf_dir):
    """The crawl front door composed end-to-end (graph.py
    crawl_frontier): robots-filtered candidate URLs (the x_robots
    fixture, REALLY parsed) + host authority from 3-iteration
    PageRank over the extracted link graph (the x_pagerank chain) ->
    the next fetch batch: URL-set dedup, politeness cap 3 per host,
    global priority by rank. The oracle replays the pagerank CTE
    chain, the robots closed form, and both windows."""
    from sslr_spark.functions.graph import (
        crawl_frontier,
        extract_links,
        host_edges,
        pagerank,
    )
    from sslr_spark.functions.robots import robots_allowed, robots_rules
    from sslr_spark.functions.urls import url_host

    docs = _docs(spark, sf_dir)
    # authority: the host link graph of the synthetic crawl
    pages = _pr_pages(spark, sf_dir)
    links = extract_links(pages, "doc_id", "html").join(
        pages.select("doc_id", "page_url"), "doc_id"
    )
    ranks = pagerank(host_edges(links), n_iters=3)
    # candidates: the robots fixture, really parsed and filtered
    k = F.col("doc_id") % 10
    host = F.concat(F.lit("host"), k.cast("string"), F.lit(".test"))
    robots = (
        docs.select((F.col("doc_id") % 10).alias("k"))
        .distinct()
        .select(
            F.concat(
                F.lit("host"), F.col("k").cast("string"), F.lit(".test")
            ).alias("host"),
            F.when(
                F.col("k") % 3 == 0,
                F.lit(
                    "# crawl policy\nUser-agent: sslr-bot\n"
                    "Disallow: /blocked\nAllow: /blocked/except\n"
                    "User-agent: *\nDisallow: /\n"
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("User-agent: *\nDisallow: /priv"),
                    F.col("k").cast("string"),
                    F.lit("\nDisallow:\n# trailing comment\n"),
                )
            )
            .alias("robots_txt"),
        )
    )
    m = F.expr("doc_id div 10") % 5
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://"),
            host,
            F.when(m == 0, F.concat(F.lit("/open/"), F.col("doc_id").cast("string")))
            .when(m == 1, F.lit("/blocked/page"))
            .when(m == 2, F.lit("/blocked/except/page"))
            .when(m == 3, F.concat(F.lit("/priv"), k.cast("string"), F.lit("/x")))
            .otherwise(F.lit("")),
        ).alias("url"),
    )
    allowed = (
        robots_allowed(urls, robots_rules(robots, agent="sslr-bot"))
        .filter(F.col("allowed"))
        .select("url", url_host(F.col("url")).alias("host"))
    )
    return crawl_frontier(allowed, ranks, per_host_cap=3, top_n=40)


_FRONTIER_TAIL = """, d2 as (
  select doc_id, doc_id % 10 as k, (doc_id // 10) % 5 as m from documents
),
u2 as (
  select doc_id, k, m,
         concat('http://host', k, '.test',
                case m when 0 then concat('/open/', doc_id)
                       when 1 then '/blocked/page'
                       when 2 then '/blocked/except/page'
                       when 3 then concat('/priv', k, '/x')
                       else '' end) as url
  from d2
),
alw as (
  select distinct url, concat('host', k, '.test') as host
  from u2
  where not ((k % 3 = 0 and m = 1) or (k % 3 != 0 and m = 3))
),
capped as (
  select url, host,
         row_number() over (partition by host order by url) as host_pos
  from alw
),
fr as (
  select c.url, c.host,
         cast(coalesce(r.rank_micros, 0) as bigint) as rank_micros,
         cast(c.host_pos as int) as host_pos
  from capped c left join r3 r on c.host = r.host
  where c.host_pos <= 3
)
select url, host, rank_micros, host_pos
from fr
order by rank_micros desc, url
limit 40
"""

SQL_X_CRAWL_FRONTIER = SQL_X_PAGERANK.replace(
    "select host, rank_micros from r3 order by host", _FRONTIER_TAIL
)


def q_x_stream_hll(spark, sf_dir):
    """Streaming mergeable-HLL distinct counting (streaming/
    pipeline.py stream_hll): events stream through a REAL Structured
    Streaming windowed aggregation that maintains <= 64 register rows
    per (day window, event_type) — constant state where a streaming
    count_distinct would need one entry per user — then the emitted
    registers estimate in batch (sketches.py hll_estimate) and join
    the exact per-window count. Registers are the same portable form
    as the batch sketch, so the oracle replays the whole chain:
    epoch-aligned day windows, h60 bucket/rho, register max, integer
    harmonic sum, alpha/linear-counting estimate."""
    import os

    from sslr_spark.functions.sketches import hll_estimate
    from sslr_spark.queries import read_events
    from sslr_spark.streaming.pipeline import stream_hll

    work = _fresh_bench_dir("stream_hll")
    src = os.path.join(work, "src")
    ev = read_events(spark, sf_dir).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
    )
    ev.coalesce(1).write.parquet(src)
    # sentinel batch: one far-future event advances the watermark
    # past every real day window so append mode emits them all; its
    # own (never-closing) window is dropped by the exact-side join
    max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    spark.createDataFrame(
        [(-1, max_us + 3 * 86_400_000_000, -1, "__sentinel__")],
        "event_id long, ts_us long, user_id long, event_type string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
    ).coalesce(1).write.mode("append").parquet(src)
    out = os.path.join(work, "out")
    stream_hll(
        spark,
        src,
        spark.read.parquet(src).schema,
        out,
        os.path.join(work, "ckpt"),
        group_cols=["event_type"],
        value_col="user_id",
        max_files_per_trigger=1,
    )
    regs = spark.read.parquet(out)
    est = hll_estimate(regs, ["win_start_us", "event_type"])
    exact = (
        ev.select(
            (
                F.expr("unix_micros(ts) div 86400000000") * F.lit(86400000000)
            ).alias("win_start_us"),
            "event_type",
            "user_id",
        )
        .groupBy("win_start_us", "event_type")
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    )
    return (
        est.join(exact, ["win_start_us", "event_type"])
        .orderBy("win_start_us", "event_type")
    )


# shared CMS cell arithmetic (batch x_cms_counts + streaming
# x_stream_cms oracles): row-seeded h60 of the stringified value
_CMS_CELL = h60_sql(
    "concat('cms', i, ':', coalesce(cast(user_id as varchar), chr(0)))"
)


def q_x_stream_cms(spark, sf_dir):
    """Streaming mergeable count-min frequency monitoring
    (streaming/pipeline.py stream_cms — the counting twin of
    x_stream_hll): events stream through a REAL Structured Streaming
    windowed aggregation maintaining <= 4x256 counter rows per (day
    window, event_type) — constant state where a streaming per-item
    count would keep one entry per user — then the emitted registers
    point-query a bounded probe set in batch (sketches.py cms_query)
    next to exact truth. Registers are the same portable form as the
    batch sketch, so the oracle replays the whole chain: epoch-aligned
    day windows, h60 row-seeded cells, cell counts, min-over-depth."""
    import os

    from sslr_spark.functions.sketches import cms_query
    from sslr_spark.queries import read_events
    from sslr_spark.streaming.pipeline import stream_cms

    work = _fresh_bench_dir("stream_cms")
    src = os.path.join(work, "src")
    ev = read_events(spark, sf_dir).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
    )
    ev.coalesce(1).write.parquet(src)
    # far-future sentinel advances the watermark past every real day
    # window (the stream_hll flush pattern); its own never-closing
    # window is dropped by the exact-side join
    max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    spark.createDataFrame(
        [(-1, max_us + 3 * 86_400_000_000, -1, "__sentinel__")],
        "event_id long, ts_us long, user_id long, event_type string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
    ).coalesce(1).write.mode("append").parquet(src)
    out = os.path.join(work, "out")
    stream_cms(
        spark,
        src,
        spark.read.parquet(src).schema,
        out,
        os.path.join(work, "ckpt"),
        group_cols=["event_type"],
        value_col="user_id",
        max_files_per_trigger=1,
    )
    regs = spark.read.parquet(out)
    evd = ev.select(
        (
            F.expr("unix_micros(ts) div 86400000000") * F.lit(86400000000)
        ).alias("win_start_us"),
        "event_type",
        "user_id",
    )
    items = (
        evd.filter(F.col("user_id") % 50 == 0)
        .select("win_start_us", "event_type", "user_id")
        .distinct()
    )
    est = cms_query(
        regs, items, ["win_start_us", "event_type"], "user_id"
    )
    tru = evd.groupBy("win_start_us", "event_type", "user_id").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    return (
        est.join(tru, ["win_start_us", "event_type", "user_id"])
        .select("win_start_us", "event_type", "user_id", "est", "true_cnt")
        .orderBy("win_start_us", "event_type", "user_id")
    )


SQL_X_STREAM_CMS = f"""
with ev as (
  select (epoch_us(cast(ts as timestamp)) // 86400000000) * 86400000000
           as win_start_us,
         event_type, user_id
  from events
),
cells as (
  select win_start_us, event_type, i as row, {_CMS_CELL} % 256 as col,
         count(*) as cnt
  from ev, generate_series(0, 3) t(i)
  group by 1, 2, 3, 4
),
items as (
  select distinct win_start_us, event_type, user_id
  from ev where user_id % 50 = 0
),
probes as (
  select win_start_us, event_type, user_id, i as row,
         {_CMS_CELL} % 256 as col
  from items, generate_series(0, 3) t(i)
),
est as (
  select p.win_start_us, p.event_type, p.user_id,
         min(coalesce(c.cnt, 0)) as est
  from probes p
  left join cells c
    on c.win_start_us = p.win_start_us and c.event_type = p.event_type
   and c.row = p.row and c.col = p.col
  group by 1, 2, 3
),
tru as (
  select win_start_us, event_type, user_id, count(*) as true_cnt
  from ev group by 1, 2, 3
)
select e.win_start_us, e.event_type, e.user_id,
       cast(e.est as bigint) as est,
       cast(t.true_cnt as bigint) as true_cnt
from est e
join tru t
  on t.win_start_us = e.win_start_us and t.event_type = e.event_type
 and t.user_id = e.user_id
order by e.win_start_us, e.event_type, e.user_id
"""


SQL_X_STREAM_HLL = f"""
with ev as (
  select (epoch_us(cast(ts as timestamp)) // 86400000000) * 86400000000
           as win_start_us,
         event_type, user_id,
         {h60_sql("coalesce(cast(user_id as varchar), chr(0))")} as h
  from events
),
regs as (
  select win_start_us, event_type, h % 64 as bucket,
         cast(case when (h >> 6) = 0 then 55
              else 54 - length(bin(h >> 6)) + 1 end as int) as rho
  from ev
),
merged as (
  select win_start_us, event_type, bucket, max(rho) as rho
  from regs group by 1, 2, 3
),
agg as (
  select win_start_us, event_type,
         cast(count(*) as bigint) as n_buckets_set,
         sum(cast(pow(2.0, 55 - rho) as bigint)) as s_present
  from merged group by 1, 2
),
est as (
  select win_start_us, event_type, n_buckets_set,
         cast(floor(
           case when (cast(2905.460551022604 as double)
                      * cast(36028797018963968 as double)
                      / cast(s_present + (64 - n_buckets_set)
                             * 36028797018963968 as double)) <= 160.0
                     and n_buckets_set < 64
                then 64.0 * ln(64.0 / cast(64 - n_buckets_set as double))
                else cast(2905.460551022604 as double)
                     * cast(36028797018963968 as double)
                     / cast(s_present + (64 - n_buckets_set)
                            * 36028797018963968 as double)
           end + 0.5) as bigint) as estimate
  from agg
),
exact as (
  select win_start_us, event_type,
         cast(count(distinct user_id) as bigint) as n_exact
  from ev group by 1, 2
)
select e.win_start_us, e.event_type, n_buckets_set, estimate, n_exact
from est e join exact using (win_start_us, event_type)
order by win_start_us, event_type
"""


def q_mm_sniff(spark, sf_dir):
    """Magic-byte content sniffing (multimodal.py sniff_media): the
    four-format media corpus (real BMP/WAV/PNG/JPEG bytes) classifies
    by leading bytes ALONE — pure JVM substring-on-binary expressions
    (zero UDF, zero shuffle) — and the oracle predicts every verdict
    from the construction formula. The dispatch stage every mixed
    media column runs before decoding."""
    from sslr_spark.functions.multimodal import (
        sniff_media,
        synthesize_media_all,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return sniff_media(synthesize_media_all(docs)).select(
        "doc_id", "fmt_sniffed"
    )


SQL_MM_SNIFF = """
select doc_id,
       case doc_id % 4 when 0 then 'bmp' when 1 then 'wav'
                       when 2 then 'png' else 'jpeg' end as fmt_sniffed
from documents where doc_id < 400
"""


def q_sample_length_batches(spark, sf_dir):
    """Length-bucketed batch forming (sampling.py length_batches):
    documents tier into 4 length buckets (histogram-exact
    boundaries), shard deterministically, and form 16-row batches
    inside each (bucket, shard) — output is per-batch padding
    accounting (n*max - sum), the number length-bucketing exists to
    minimize. The oracle replays tiers, hash order, windows and the
    waste arithmetic."""
    from sslr_spark.functions.sampling import length_batches

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return length_batches(
        docs, "n_chars", n_buckets=4, batch_size=16, n_shards=4
    ).orderBy("tier", "shard", "batch_id")


SQL_SAMPLE_LENGTH_BATCHES = f"""
with d as (select doc_id, n_chars from documents),
hist as (select n_chars as s, count(*) as c from d group by 1),
t as (
  select s, cast((4 * (sum(c) over (order by s) - c))
                 // (sum(c) over ()) as int) as tier
  from hist
),
keyed as (
  select d.doc_id, d.n_chars, t.tier,
         {h60_sql("concat('lenbatch:', cast(doc_id as varchar))")}
           as order_key
  from d join t on d.n_chars = t.s
),
sharded as (
  select doc_id, n_chars, tier,
         cast(order_key % 4 as int) as shard, order_key
  from keyed
),
batched as (
  select tier, shard, n_chars,
         cast((row_number() over (partition by tier, shard
               order by order_key, doc_id) - 1) // 16 as int) as batch_id
  from sharded
)
select tier, shard, batch_id,
       cast(count(*) as bigint) as n_rows,
       max(n_chars) as max_len,
       cast(sum(n_chars) as bigint) as sum_len,
       cast(count(*) * max(n_chars) - sum(n_chars) as bigint) as pad_waste
from batched
group by tier, shard, batch_id
order by tier, shard, batch_id
"""


def q_x_table_stats(spark, sf_dir):
    """ANALYZE-shape column statistics in one scan (sketches.py
    column_stats): n_rows/n_nulls/exact-ndv/min/max per column over
    lineitem, unpivoted to the long catalog-stats form via stack —
    the numbers scan pruning and CBO join ordering run on."""
    from sslr_spark.functions.sketches import column_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return column_stats(
        li, ["l_orderkey", "l_quantity", "l_returnflag"]
    ).orderBy("col_name")


SQL_X_TABLE_STATS = """
with agg as (
  select count(*) as n,
         cast(sum(case when l_orderkey is null then 1 else 0 end)
              as bigint) as nulls_k,
         cast(count(distinct l_orderkey) as bigint) as ndv_k,
         cast(min(l_orderkey) as varchar) as min_k,
         cast(max(l_orderkey) as varchar) as max_k,
         cast(sum(case when l_quantity is null then 1 else 0 end)
              as bigint) as nulls_q,
         cast(count(distinct l_quantity) as bigint) as ndv_q,
         cast(min(l_quantity) as varchar) as min_q,
         cast(max(l_quantity) as varchar) as max_q,
         cast(sum(case when l_returnflag is null then 1 else 0 end)
              as bigint) as nulls_r,
         cast(count(distinct l_returnflag) as bigint) as ndv_r,
         cast(min(l_returnflag) as varchar) as min_r,
         cast(max(l_returnflag) as varchar) as max_r
  from lineitem
)
select 'l_orderkey' as col_name, n as n_rows, nulls_k as n_nulls,
       ndv_k as n_distinct, min_k as min_val, max_k as max_val from agg
union all
select 'l_quantity', n, nulls_q, ndv_q, min_q, max_q from agg
union all
select 'l_returnflag', n, nulls_r, ndv_r, min_r, max_r from agg
order by col_name
"""


def q_x_skew_salted_join(spark, sf_dir):
    """Skew-salted join (functions/skew.py salted_join): lineitem
    joins the orders dimension with the big side salted 16 ways and
    the small side replicated — the hot-key straggler rewrite. The
    RESULT must be bit-identical to the plain join (the whole point:
    same rows, different shuffle shape), which is exactly what the
    oracle replays."""
    from sslr_spark.functions.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("okey"),
        "l_quantity",
        "l_returnflag",
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, ["okey"], n_salts=16)
    return (
        joined.groupBy("l_returnflag", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "o_orderpriority")
    )


SQL_X_SKEW_SALTED_JOIN = """
select l_returnflag, o_orderpriority,
       cast(count(*) as bigint) as n_rows,
       cast(sum(cast(l_quantity as bigint)) as bigint) as sum_qty
from lineitem join orders on l_orderkey = o_orderkey
group by l_returnflag, o_orderpriority
order by l_returnflag, o_orderpriority
"""


def q_x_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key (functions/zorder.py
    morton_code): 8-bit two-column interleave over (l_orderkey,
    l_partkey) — the multi-column data-clustering sort key behind
    OPTIMIZE ZORDER BY. The oracle recomputes the min/max
    normalization and unrolls the 16-term bit interleave, so every
    shift/mask in the codegen chain is value-checked."""
    from sslr_spark.functions.zorder import morton_code

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_orderkey") < 500
    )
    return li.select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        morton_code(li, ["l_orderkey", "l_partkey"], bits=8).alias("zkey"),
    ).orderBy("l_orderkey", "l_partkey", "l_linenumber")


SQL_X_ZORDER_KEY = """
with li as (
  select l_orderkey, l_partkey, l_linenumber
  from lineitem where l_orderkey < 500
),
stats as (
  select min(l_orderkey) as mnk, max(l_orderkey) as mxk,
         min(l_partkey) as mnp, max(l_partkey) as mxp
  from li
),
ranks as (
  select l_orderkey, l_partkey, l_linenumber,
         cast(floor(least(greatest(
           (cast(l_orderkey as double) - mnk) / (mxk - mnk),
           0.0), 1.0) * 255) as bigint) as rk,
         cast(floor(least(greatest(
           (cast(l_partkey as double) - mnp) / (mxp - mnp),
           0.0), 1.0) * 255) as bigint) as rp
  from li, stats
)
select l_orderkey, l_partkey, l_linenumber,
       cast((((rk >> 0) & 1) << 0) + (((rk >> 1) & 1) << 2) + (((rk >> 2) & 1) << 4) + (((rk >> 3) & 1) << 6) + (((rk >> 4) & 1) << 8) + (((rk >> 5) & 1) << 10) + (((rk >> 6) & 1) << 12) + (((rk >> 7) & 1) << 14) + (((rp >> 0) & 1) << 1) + (((rp >> 1) & 1) << 3) + (((rp >> 2) & 1) << 5) + (((rp >> 3) & 1) << 7) + (((rp >> 4) & 1) << 9) + (((rp >> 5) & 1) << 11) + (((rp >> 6) & 1) << 13) + (((rp >> 7) & 1) << 15) as bigint) as zkey
from ranks
order by l_orderkey, l_partkey, l_linenumber
"""


def q_x_sitemap(spark, sf_dir):
    """Sitemap ingestion (functions/robots.py sitemap_entries): each
    host publishes a sitemap whose first entry carries a lastmod and
    whose second entry is a MESSY url (uppercase scheme/host, default
    port, fragment) with no lastmod — the Spark side REALLY splits
    entries and recovers loc/lastmod through the shared regex
    cascade, then canonicalizes; the oracle predicts both rows per
    host in closed form (including the canonical twin)."""
    from sslr_spark.functions.robots import sitemap_entries
    from sslr_spark.functions.urls import canonical_url

    docs = _docs(spark, sf_dir)
    k = F.col("k")
    sitemaps = (
        docs.select((F.col("doc_id") % 10).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("host"), k.cast("string"), F.lit(".test")).alias(
                "host"
            ),
            F.concat(
                F.lit('<?xml version="1.0"?><urlset><url><loc>\n  http://host'),
                k.cast("string"),
                F.lit(".test/p/a"),
                F.lit("</loc><lastmod>2026-01-0"),
                (k % 9 + 1).cast("string"),
                F.lit("</lastmod></url><url><loc>HTTP://HOST"),
                k.cast("string"),
                F.lit(".Test:80/p/b#frag</loc></url>"),
                F.lit("<url><lastmod>2026-02-02</lastmod></url></urlset>"),
            ).alias("sitemap_xml"),
        )
    )
    out = sitemap_entries(sitemaps)
    return out.select(
        "host",
        canonical_url(F.col("url")).alias("canonical_url"),
        "lastmod",
    ).orderBy("host", "canonical_url")


SQL_X_SITEMAP = """
with k as (select distinct doc_id % 10 as k from documents),
rows_ as (
  select concat('host', k, '.test') as host,
         concat('http://host', k, '.test/p/a') as canonical_url,
         concat('2026-01-0', k % 9 + 1) as lastmod
  from k
  union all
  select concat('host', k, '.test'),
         concat('http://host', k, '.test/p/b'),
         null
  from k
)
select host, canonical_url, lastmod
from rows_
order by host, canonical_url
"""


def q_x_topk_bounded(spark, sf_dir):
    """Distributed bounded top-k (sketches.py topk_bounded, the
    TPUT/threshold-algorithm shape): per-shard local top-20 user
    counts + one residual bound per shard merge into global
    lower/upper count bounds and a certification flag — the
    communication-efficient alternative to shuffling the full
    (value, count) table. The oracle replays the per-shard windows,
    the residual arithmetic and the certification comparison."""
    from sslr_spark.functions.sketches import topk_bounded
    from sslr_spark.queries import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", (F.col("event_id") % 8).alias("shard")
    )
    return topk_bounded(ev, "user_id", "shard", m=20, k=10)


SQL_X_TOPK_BOUNDED = """
with counts as (
  select event_id % 8 as sh, user_id as value, count(*) as c
  from events group by 1, 2
),
ranked as (
  select sh, value, c,
         row_number() over (partition by sh order by c desc, value)
           as rn
  from counts
),
reported as (select sh, value, c from ranked where rn <= 20),
residual as (
  select sh,
         cast(case when max(rn) < 20 then 0
              else max(case when rn = 20 then c end) end as bigint)
           as res
  from ranked group by sh
),
cands as (select distinct value from reported),
grid as (select value, sh, res from cands, residual),
merged as (
  select g.value,
         cast(sum(coalesce(r.c, 0)) as bigint) as lb,
         cast(sum(coalesce(r.c, g.res)) as bigint) as ub
  from grid g left join reported r
    on g.sh = r.sh and g.value = r.value
  group by g.value
),
topk as (
  select value, lb, ub from merged
  order by lb desc, value limit 10
),
others as (
  select greatest(
           coalesce((select max(ub) from merged
                     where value not in (select value from topk)), 0),
           (select coalesce(sum(res), 0) from residual)
         ) as mx
)
select value, lb, ub, lb > mx as certified
from topk, others
order by lb desc, value
"""


def q_text_chat_flatten(spark, sf_dir):
    """Chat-transcript flattening (text.py chat_flatten): documents
    become JSON conversations (2 + doc_id % 3 alternating user/
    assistant turns, formula content) plus one doc in ten carrying
    MALFORMED JSON; the Spark side parses with a real typed from_json
    and explodes turns, surfacing broken transcripts as quarantine
    rows (turn_idx -1) instead of dropping them. The oracle predicts
    every turn row — and the quarantine rows — in closed form."""
    from sslr_spark.functions.text import chat_flatten

    docs = _docs(spark, sf_dir)
    n_turns = (F.col("doc_id") % 3 + 2).cast("int")
    body = F.concat(
        F.lit('{"turns": ['),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_turns - 1),
                lambda i: F.concat(
                    F.lit('{"role": "'),
                    F.when(i % 2 == 0, F.lit("user")).otherwise(
                        F.lit("assistant")
                    ),
                    F.lit('", "text": "m'),
                    F.col("doc_id").cast("string"),
                    F.lit("x"),
                    i.cast("string"),
                    F.lit('"}'),
                ),
            ),
            ", ",
        ),
        F.lit("]}"),
    )
    conv = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 7, F.lit('{"turns": [broken'))
        .otherwise(body)
        .alias("conversation"),
    )
    return chat_flatten(conv).orderBy("doc_id", "turn_idx")


SQL_TEXT_CHAT_FLATTEN = """
with d as (
  select doc_id, cast(doc_id % 3 + 2 as int) as n_turns,
         doc_id % 10 = 7 as broken
  from documents
),
good as (
  select doc_id, cast(i as int) as turn_idx,
         case when i % 2 = 0 then 'user' else 'assistant' end as role,
         concat('m', doc_id, 'x', i) as content
  from d, lateral unnest(generate_series(0, n_turns - 1)) t(i)
  where not broken
)
select doc_id, turn_idx, role, content,
       cast(length(content) as bigint) as content_chars
from good
union all
select doc_id, -1, null, null, cast(0 as bigint)
from d where broken
order by doc_id, turn_idx
"""


def q_text_chat_pairs(spark, sf_dir):
    """(prompt, response) pair mining (text.py chat_pairs) over the
    flattened chat fixture: alternating user/assistant turns yield
    floor(n_turns / 2) pairs per conversation; malformed transcripts
    (quarantine rows) yield none. The oracle derives every pair from
    the construction formula."""
    from sslr_spark.functions.text import chat_flatten, chat_pairs

    docs = _docs(spark, sf_dir)
    n_turns = (F.col("doc_id") % 3 + 2).cast("int")
    body = F.concat(
        F.lit('{"turns": ['),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_turns - 1),
                lambda i: F.concat(
                    F.lit('{"role": "'),
                    F.when(i % 2 == 0, F.lit("user")).otherwise(
                        F.lit("assistant")
                    ),
                    F.lit('", "text": "m'),
                    F.col("doc_id").cast("string"),
                    F.lit("x"),
                    i.cast("string"),
                    F.lit('"}'),
                ),
            ),
            ", ",
        ),
        F.lit("]}"),
    )
    conv = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 7, F.lit('{"turns": [broken'))
        .otherwise(body)
        .alias("conversation"),
    )
    return chat_pairs(chat_flatten(conv)).orderBy("doc_id", "pair_idx")


SQL_TEXT_CHAT_PAIRS = """
with d as (
  select doc_id, cast(doc_id % 3 + 2 as int) as n_turns
  from documents where doc_id % 10 != 7
),
p as (
  select doc_id, cast(i as int) as pair_idx,
         concat('m', doc_id, 'x', 2 * i) as prompt,
         concat('m', doc_id, 'x', 2 * i + 1) as response
  from d, lateral unnest(generate_series(0, n_turns // 2 - 1)) t(i)
)
select doc_id, pair_idx, prompt, response,
       cast(length(prompt) as bigint) as prompt_chars,
       cast(length(response) as bigint) as response_chars
from p
order by doc_id, pair_idx
"""


def q_text_chat_truncate(spark, sf_dir):
    """Context-budget truncation (text.py chat_truncate) over the
    flattened chat fixture: keep each conversation's newest turns
    whose running suffix size fits 16 chars — older turns fall off.
    The oracle replays the suffix cumsum window and the cut."""
    from sslr_spark.functions.text import chat_flatten, chat_truncate

    docs = _docs(spark, sf_dir)
    n_turns = (F.col("doc_id") % 3 + 2).cast("int")
    body = F.concat(
        F.lit('{"turns": ['),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_turns - 1),
                lambda i: F.concat(
                    F.lit('{"role": "'),
                    F.when(i % 2 == 0, F.lit("user")).otherwise(
                        F.lit("assistant")
                    ),
                    F.lit('", "text": "m'),
                    F.col("doc_id").cast("string"),
                    F.lit("x"),
                    i.cast("string"),
                    F.lit('"}'),
                ),
            ),
            ", ",
        ),
        F.lit("]}"),
    )
    conv = docs.select("doc_id", body.alias("conversation"))
    return chat_truncate(chat_flatten(conv), budget_chars=16).orderBy(
        "doc_id", "turn_idx"
    )


SQL_TEXT_CHAT_TRUNCATE = """
with d as (
  select doc_id, cast(doc_id % 3 + 2 as int) as n_turns from documents
),
turns as (
  select doc_id, cast(i as int) as turn_idx,
         case when i % 2 = 0 then 'user' else 'assistant' end as role,
         concat('m', doc_id, 'x', i) as content
  from d, lateral unnest(generate_series(0, n_turns - 1)) t(i)
),
sized as (
  select doc_id, turn_idx, role, content,
         cast(length(content) as bigint) as content_chars,
         cast(sum(length(content)) over (
           partition by doc_id order by turn_idx desc
           rows between unbounded preceding and current row
         ) as bigint) as suffix_chars
  from turns
)
select doc_id, turn_idx, role, content, content_chars, suffix_chars
from sized
where suffix_chars <= 16
order by doc_id, turn_idx
"""


def q_x_frontier_delay(spark, sf_dir):
    """Crawl-delay-aware frontier (robots.py robots_crawl_delay +
    graph.py crawl_frontier with delays): the robots fixture gains a
    per-host Crawl-delay line ONLY inside the exact-agent group of
    k%3==0 hosts (1 + k%5 seconds) — so star-group hosts fall back to
    the 0-second default, pinning group-scoped directive binding —
    and each scheduled URL carries its earliest politeness-honoring
    fetch offset (host_pos - 1) * delay. Oracle: closed form."""
    from sslr_spark.functions.graph import crawl_frontier
    from sslr_spark.functions.robots import (
        robots_allowed,
        robots_crawl_delay,
        robots_rules,
    )
    from sslr_spark.functions.urls import url_host

    docs = _docs(spark, sf_dir)
    k = F.col("doc_id") % 10
    host = F.concat(F.lit("host"), k.cast("string"), F.lit(".test"))
    robots = (
        docs.select((F.col("doc_id") % 10).alias("k"))
        .distinct()
        .select(
            F.concat(
                F.lit("host"), F.col("k").cast("string"), F.lit(".test")
            ).alias("host"),
            F.when(
                F.col("k") % 3 == 0,
                F.concat(
                    F.lit(
                        "User-agent: sslr-bot\nDisallow: /blocked\n"
                        "Crawl-delay: "
                    ),
                    (F.col("k") % 5 + 1).cast("string"),
                    F.lit("\nUser-agent: *\nDisallow: /\nCrawl-delay: 99\n"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("User-agent: *\nDisallow: /priv"),
                    F.col("k").cast("string"),
                    F.lit("\n"),
                )
            )
            .alias("robots_txt"),
        )
    )
    m = F.expr("doc_id div 10") % 5
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://"),
            host,
            F.when(m == 0, F.concat(F.lit("/open/"), F.col("doc_id").cast("string")))
            .when(m == 1, F.lit("/blocked/page"))
            .when(m == 2, F.lit("/blocked/except/page"))
            .when(m == 3, F.concat(F.lit("/priv"), k.cast("string"), F.lit("/x")))
            .otherwise(F.lit("")),
        ).alias("url"),
    )
    allowed = (
        robots_allowed(urls, robots_rules(robots, agent="sslr-bot"))
        .filter(F.col("allowed"))
        .select("url", url_host(F.col("url")).alias("host"))
    )
    ranks = robots.select("host", F.lit(1_000_000).cast("long").alias("rank_micros"))
    return crawl_frontier(
        allowed,
        ranks,
        per_host_cap=3,
        top_n=40,
        delays=robots_crawl_delay(robots, agent="sslr-bot"),
    ).orderBy("url")


# closed form: k%3==0 hosts run the exact-agent group — /blocked*
# blocked (no Allow line in this fixture), delay 1 + k%5; other hosts
# run the star group — /priv{k} blocked, no delay (default 0; the
# star group's Crawl-delay 99 binds only to hosts whose SELECTED
# group is the star one, and those hosts' bodies carry no delay)
SQL_X_FRONTIER_DELAY = """
with d as (
  select doc_id, doc_id % 10 as k, (doc_id // 10) % 5 as m from documents
),
u as (
  select doc_id, k, m,
         concat('http://host', k, '.test',
                case m when 0 then concat('/open/', doc_id)
                       when 1 then '/blocked/page'
                       when 2 then '/blocked/except/page'
                       when 3 then concat('/priv', k, '/x')
                       else '' end) as url
  from d
),
alw as (
  select distinct url, concat('host', k, '.test') as host, k
  from u
  where not (k % 3 = 0 and m in (1, 2))
    and not (k % 3 != 0 and m = 3)
),
capped as (
  select url, host, k,
         row_number() over (partition by host order by url) as host_pos
  from alw
),
fr as (
  select url, host, cast(1000000 as bigint) as rank_micros,
         cast(host_pos as int) as host_pos,
         cast((host_pos - 1)
              * case when k % 3 = 0 then k % 5 + 1 else 0 end as int)
           as fetch_offset_s
  from capped where host_pos <= 3
)
select url, host, rank_micros, host_pos, fetch_offset_s
from (select * from fr order by rank_micros desc, url limit 40)
order by url
"""


def q_x_crawl_epoch(spark, sf_dir):
    """One crawl refresh epoch end-to-end (curation.py crawl_epoch —
    VERDICT r9 item 5): robots gate -> frontier schedule with
    Crawl-delay fetch offsets -> page ingest at the fetch boundary ->
    HTML text extraction -> canonical-URL dedup (every page also
    appears under a messy cased/ported/fragmented twin, which the
    r10 robots host normalization must still gate correctly) ->
    exact content dedup -> Gopher quality gate over the EXTRACTED
    text -> 8-shard export manifest. Every stage is an
    already-verified operator; this key pins the COMPOSITION
    against one DuckDB CTE chain."""
    from sslr_spark.curation import crawl_epoch

    docs = _docs(spark, sf_dir)
    k = F.col("doc_id") % 10
    m = F.expr("doc_id div 10") % 5
    did = F.col("doc_id").cast("string")
    path = (
        F.when(m == 0, F.concat(F.lit("/open/"), did))
        .when(m == 1, F.concat(F.lit("/blocked/"), did))
        .when(m == 2, F.concat(F.lit("/blocked/except/"), did))
        .when(m == 3, F.concat(F.lit("/priv"), k.cast("string"), F.lit("/"), did))
        .otherwise(F.concat(F.lit("/page/"), did))
    )
    clean = F.concat(F.lit("http://host"), k.cast("string"), F.lit(".test"), path)
    messy = F.concat(
        F.lit("HTTP://Host"), k.cast("string"), F.lit(".TEST:80"), path,
        F.lit("#frag"),
    )
    html = F.concat(
        F.lit(_HTML_PRE), did, F.lit(_HTML_MID),
        F.coalesce(F.col("text"), F.lit("")), F.lit(_HTML_POST),
    )
    candidates = docs.select(clean.alias("url")).unionByName(
        docs.select(messy.alias("url"))
    )
    pages = docs.select(clean.alias("url"), html.alias("html")).unionByName(
        docs.select(messy.alias("url"), html.alias("html"))
    )
    ks = docs.select((F.col("doc_id") % 10).alias("k")).distinct()
    kc = F.col("k").cast("string")
    robots = ks.select(
        F.concat(F.lit("host"), kc, F.lit(".test")).alias("host"),
        F.when(
            F.col("k") % 3 == 0,
            F.concat(
                F.lit("User-agent: sslr-bot\nDisallow: /blocked\nCrawl-delay: "),
                (F.col("k") % 5 + 1).cast("string"),
                F.lit("\nUser-agent: *\nDisallow: /\nCrawl-delay: 99\n"),
            ),
        )
        .otherwise(
            F.concat(F.lit("User-agent: *\nDisallow: /priv"), kc, F.lit("\n"))
        )
        .alias("robots_txt"),
    )
    ranks = ks.select(
        F.concat(F.lit("host"), kc, F.lit(".test")).alias("host"),
        ((F.lit(1000) - F.col("k")) * 1000).cast("long").alias("rank_micros"),
    )
    return crawl_epoch(
        candidates, robots, pages, ranks,
        agent="sslr-bot", per_host_cap=20, top_n=150, n_shards=8,
    ).orderBy("shard")


_EPOCH_SHARD_KEY = h60_sql(
    "concat('shard', ':', coalesce(cast(url as varchar), chr(0)))"
)
_EPOCH_SHARD_SIG = h60_sql(
    "concat_ws(chr(31), coalesce(cast(url as varchar), chr(0)), "
    "coalesce(cast(text as varchar), chr(0)), "
    "coalesce(cast(fetch_offset_s as varchar), chr(0)), "
    "coalesce(cast(rank_micros as varchar), chr(0)))"
)


def _crawl_epoch_sql() -> str:
    from sslr_spark.functions.text import html_to_text_sql
    from sslr_spark.functions.urls import canonical_url_sql

    return f"""
with d as (
  select doc_id, text, doc_id % 10 as k, (doc_id // 10) % 5 as m,
         case (doc_id // 10) % 5
              when 0 then concat('/open/', doc_id)
              when 1 then concat('/blocked/', doc_id)
              when 2 then concat('/blocked/except/', doc_id)
              when 3 then concat('/priv', doc_id % 10, '/', doc_id)
              else concat('/page/', doc_id) end as path
  from documents
),
cand as (
  select doc_id, k, m, concat('http://host', k, '.test', path) as url
  from d
  union all
  select doc_id, k, m,
         concat('HTTP://Host', k, '.TEST:80', path, '#frag') as url
  from d
),
alw as (
  -- robots closed form for agent sslr-bot: exact-agent hosts
  -- (k%3==0) block /blocked*, star hosts block /priv{{k}}
  select url, doc_id, k, concat('host', k, '.test') as host
  from cand
  where not (k % 3 = 0 and m in (1, 2)) and not (k % 3 != 0 and m = 3)
),
slots as (
  select url, host,
         row_number() over (partition by host order by url) as host_pos
  from (select distinct url, host from alw)
),
sched as (
  select s.url, s.host,
         cast((1000 - a.k) * 1000 as bigint) as rank_micros,
         cast((s.host_pos - 1)
              * case when a.k % 3 = 0 then a.k % 5 + 1 else 0 end as int)
           as fetch_offset_s,
         a.doc_id
  from slots s
  join (select distinct url, doc_id, k from alw) a on a.url = s.url
  where s.host_pos <= 20
  order by rank_micros desc, s.url
  limit 150
),
pgsrc as (
  select s.url, s.rank_micros, s.fetch_offset_s, doc.doc_id, doc.text
  from sched s join documents doc on doc.doc_id = s.doc_id
),
ext as (
  select url, rank_micros, fetch_offset_s,
         {html_to_text_sql(_html_sql_expr())} as text
  from pgsrc
),
udd as (
  select url, rank_micros, fetch_offset_s, text
  from (select *, row_number() over (partition by curl order by url) as rn
        from (select *, {canonical_url_sql('url')} as curl from ext))
  where rn = 1
),
cdd as (
  select url, rank_micros, fetch_offset_s, text
  from (select *,
               row_number() over (partition by text order by url) as rn
        from udd)
  where rn = 1
),
gf as ({_gopher_flags_sql('cdd', 'url')}),
gated as (
  select cdd.* from cdd join gf on gf.url = cdd.url and gf.keep
),
sh as (
  select cast({_EPOCH_SHARD_KEY} % 8 as int) as shard,
         {_EPOCH_SHARD_SIG} % 1000000000000 as sig,
         url
  from gated
),
agg as (
  select shard,
         cast(count(*) as bigint) as n_rows,
         cast(count(distinct url) as bigint) as n_keys,
         min(url) as min_key,
         max(url) as max_key,
         cast(sum(cast(sig as decimal(38,0))) % 1000000000000 as bigint)
           as content_sum
  from sh group by shard
)
select g.shard,
       coalesce(agg.n_rows, 0) as n_rows,
       coalesce(agg.n_keys, 0) as n_keys,
       agg.min_key, agg.max_key,
       coalesce(agg.content_sum, 0) as content_sum
from (select cast(range as int) as shard from range(0, 8)) g
left join agg on agg.shard = g.shard
order by g.shard
"""


SQL_X_CRAWL_EPOCH = _crawl_epoch_sql()


def q_text_bpe_train(spark, sf_dir):
    """BPE merge-rule training, 5 rounds (text.py bpe_train — the
    iterative trainer over bpe_merge_pairs' counting step): per round
    the most frequent adjacent symbol pair over the word histogram
    (ties by pair text) merges corpus-wide via the canonical greedy
    left-to-right fold; the argmax rides a broadcast 1-row frame, so
    the whole loop is declarative and the oracle replays all 5 rounds
    as nested CTEs (the pagerank fixed-iteration pattern)."""
    from sslr_spark.functions.text import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=5).orderBy("rank")


def _bpe_train_sql(n_merges: int = 5) -> str:
    rounds = []
    for k in range(1, n_merges + 1):
        rounds.append(f"""
p{k} as (
  select a[i] as lhs, a[i + 1] as rhs, sum(freq) as pair_count
  from (select string_split(s, ' ') as a, freq,
               unnest(generate_series(1, len(string_split(s, ' ')) - 1))
                 as i
        from w{k - 1})
  group by 1, 2
),
b{k} as (select lhs, rhs, lhs || rhs as merged, pair_count
         from p{k} order by pair_count desc, lhs, rhs limit 1),
w{k} as (
  select case when len(a) = 1 then a[1]
    else list_reduce(a, (acc, x) -> case
      when regexp_extract(acc, '([^ ]+)$', 1) = b.lhs and x = b.rhs
      then substring(acc, 1, length(acc) - length(b.lhs)) || b.merged
      else acc || ' ' || x end) end as s, freq
  from (select string_split(s, ' ') as a, freq from w{k - 1}), b{k} b
)""")
    finals = "\nunion all\n".join(
        f"select cast({k} as int) as rank, lhs, rhs, merged, "
        f"cast(pair_count as bigint) as pair_count from b{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        """
with v as (
  select w, count(*) as freq from (
    select unnest(string_split_regex(trim(coalesce(lower(text), '')),
                                     '\\s+')) as w
    from documents
  ) where regexp_matches(w, '^[a-z]+$') and length(w) >= 2
  group by w
),
w0 as (select array_to_string(string_split(w, ''), ' ') as s, freq
       from v),"""
        + ",".join(rounds)
        + "\n"
        + finals
        + "\norder by rank"
    )


SQL_TEXT_BPE_TRAIN = _bpe_train_sql()


def q_text_bpe_tokenize(spark, sf_dir):
    """Corpus-trained BPE tokenization (text.py bpe_train ->
    bpe_tokenize_count): train 5 merge rules on the documents table,
    then segment every document with them — per-doc word count and
    BPE token count, the token-budget number a packer prices with.
    The oracle replays training AND application as one CTE chain
    (untrained words pass through as single tokens)."""
    from sslr_spark.functions.text import bpe_tokenize_count, bpe_train

    docs = _docs(spark, sf_dir)
    return bpe_tokenize_count(docs, bpe_train(docs, n_merges=5)).orderBy(
        "doc_id"
    )


def _bpe_tokenize_sql(n_merges: int = 5) -> str:
    train = _bpe_train_sql(n_merges)
    chain = train[: train.index("\nselect cast(1 as int) as rank")]
    return (
        chain
        + f""",
tok as (
  select doc_id, w from (
    select doc_id,
           unnest(string_split_regex(trim(coalesce(lower(text), '')),
                                     '\\s+')) as w
    from documents
  ) where w != ''
),
seg as (
  select replace(s, ' ', '') as w,
         cast(len(string_split(s, ' ')) as bigint) as n
  from w{n_merges}
)
select t.doc_id,
       cast(count(*) as bigint) as n_words,
       cast(sum(coalesce(seg.n, 1)) as bigint) as n_bpe_tokens
from tok t left join seg on seg.w = t.w
group by t.doc_id
order by t.doc_id
"""
    )


SQL_TEXT_BPE_TOKENIZE = _bpe_tokenize_sql()


def q_x_cms_counts(spark, sf_dir):
    """Mergeable count-min frequency sketch (sketches.py cms_build/
    cms_merge/cms_query — Cormode & Muthukrishnan 2005, the counting
    twin of the HLL row-form): per-(event_type, shard) register
    builds SUM-merge into per-event_type sketches (associativity is
    what makes cross-shard frequency monitoring never re-touch raw
    data), then a bounded probe set of (event_type, user) pairs gets
    point estimates next to exact truth — the estimate can only
    overestimate (CMS guarantee; hash-exact in both engines via the
    shared h60 cell arithmetic)."""
    from sslr_spark.functions.sketches import (
        cms_build,
        cms_merge,
        cms_query,
    )
    from sslr_spark.queries import read_events

    ev = read_events(spark, sf_dir).select(
        "event_type",
        (F.col("event_id") % 8).alias("sh"),
        "user_id",
    )
    merged = cms_merge(
        cms_build(ev, ["event_type", "sh"], "user_id"), ["event_type"]
    )
    items = (
        ev.filter(F.col("user_id") % 50 == 0)
        .select("event_type", "user_id")
        .distinct()
    )
    est = cms_query(merged, items, ["event_type"], "user_id")
    tru = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    return (
        est.join(tru, ["event_type", "user_id"])
        .select("event_type", "user_id", "est", "true_cnt")
        .orderBy("event_type", "user_id")
    )


SQL_X_CMS_COUNTS = f"""
with ev as (select event_type, user_id from events),
cells as (
  -- per-(type, shard) builds cell-sum-merged == one direct build
  select event_type, i as row, {_CMS_CELL} % 256 as col,
         count(*) as cnt
  from ev, generate_series(0, 3) t(i)
  group by 1, 2, 3
),
items as (
  select distinct event_type, user_id from ev where user_id % 50 = 0
),
probes as (
  select event_type, user_id, i as row, {_CMS_CELL} % 256 as col
  from items, generate_series(0, 3) t(i)
),
est as (
  select p.event_type, p.user_id,
         min(coalesce(c.cnt, 0)) as est
  from probes p
  left join cells c
    on c.event_type = p.event_type and c.row = p.row and c.col = p.col
  group by 1, 2
),
tru as (
  select event_type, user_id, count(*) as true_cnt
  from ev group by 1, 2
)
select e.event_type, e.user_id,
       cast(e.est as bigint) as est,
       cast(t.true_cnt as bigint) as true_cnt
from est e
join tru t on t.event_type = e.event_type and t.user_id = e.user_id
order by e.event_type, e.user_id
"""


EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sample_epoch_plan": q_sample_epoch_plan,
    "x_warc_ingest": q_x_warc_ingest,
    "text_html_extract": q_text_html_extract,
    "x_warc_http": q_x_warc_http,
    "text_ccnet_buckets": q_text_ccnet_buckets,
    "sample_dsir_incremental": q_sample_dsir_incremental,
    "x_url_dedup": q_x_url_dedup,
    "x_curation_pipeline_dsir": q_x_curation_pipeline_dsir,
    "text_dsir_weights": q_text_dsir_weights,
    "sample_dsir": q_sample_dsir,
    "text_tfidf_topk": q_text_tfidf_topk,
    "sample_cluster_balance": q_sample_cluster_balance,
    "x_curation_pipeline_lm": q_x_curation_pipeline_lm,
    "sim_embedding_quality": q_sim_embedding_quality,
    "text_dedup_lines": q_text_dedup_lines,
    "text_strip_boilerplate": q_text_strip_boilerplate,
    "x_lm_quality_gate": q_x_lm_quality_gate,
    "x_dataset_card": q_x_dataset_card,
    "text_blocklist_phrases": q_text_blocklist_phrases,
    "x_curation_pipeline_gates": q_x_curation_pipeline_gates,
    "dedup_incremental_containment": q_dedup_incremental_containment,
    "sample_shard_budget": q_sample_shard_budget,
    "dedup_containment": q_dedup_containment,
    "text_blocklist": q_text_blocklist,
    "text_mojibake": q_text_mojibake,
    "quality_psi_drift": q_quality_psi_drift,
    "sample_range_shards": q_sample_range_shards,
    "dedup_corpus_diff": q_dedup_corpus_diff,
    "sim_cell_drift": q_sim_cell_drift,
    "dedup_keep_best": q_dedup_keep_best,
    "x_source_overlap": q_x_source_overlap,
    "text_langid_eval": q_text_langid_eval,
    "x_stream_ingest": q_x_stream_ingest,
    "x_stream_interval_join": q_x_stream_interval_join,
    "x_stream_dedup": q_x_stream_dedup,
    "x_stream_sessionize": q_x_stream_sessionize,
    "x_sessionize_batch": q_x_sessionize_batch,
    "x_mor_upsert_read": q_x_mor_upsert_read,
    "x_mor_asof_read": q_x_mor_asof_read,
    "x_mor_tombstone_tie": q_x_mor_tombstone_tie,
    "x_mor_delete_repair": q_x_mor_delete_repair,
    "x_mor_wide_pk_read": q_x_mor_wide_pk_read,
    "sim_range_search": q_sim_range_search,
    "x_curation_pipeline": q_x_curation_pipeline,
    "x_curation_pipeline_neardup": q_x_curation_pipeline_neardup,
    "x_embedding_pipeline": q_x_embedding_pipeline,
    "files_roundtrip": q_files_roundtrip,
    "sim_hybrid_rrf": q_sim_hybrid_rrf,
    "x_hll_distinct": q_x_hll_distinct,
    "x_link_graph": q_x_link_graph,
    "mm_phash": q_mm_phash,
    "sample_curriculum": q_sample_curriculum,
    "mm_audio_vad": q_mm_audio_vad,
    "sim_topk_matryoshka": q_sim_topk_matryoshka,
    "x_bucketed_join": q_x_bucketed_join,
    "x_robots": q_x_robots,
    "x_crawl_frontier": q_x_crawl_frontier,
    "x_stream_hll": q_x_stream_hll,
    "mm_sniff": q_mm_sniff,
    "sample_length_batches": q_sample_length_batches,
    "x_table_stats": q_x_table_stats,
    "x_skew_salted_join": q_x_skew_salted_join,
    "x_sitemap": q_x_sitemap,
    "x_topk_bounded": q_x_topk_bounded,
    "text_chat_flatten": q_text_chat_flatten,
    "text_chat_pairs": q_text_chat_pairs,
    "text_chat_truncate": q_text_chat_truncate,
    "x_frontier_delay": q_x_frontier_delay,
    "x_zorder_key": q_x_zorder_key,
    "dedup_image_phash": q_dedup_image_phash,
    "dedup_image_phash_clusters": q_dedup_image_phash_clusters,
    "x_crawl_epoch": q_x_crawl_epoch,
    "text_bpe_train": q_text_bpe_train,
    "text_bpe_tokenize": q_text_bpe_tokenize,
    "x_cms_counts": q_x_cms_counts,
    "x_stream_cms": q_x_stream_cms,
    "x_pagerank": q_x_pagerank,
    "sim_topk_binary": q_sim_topk_binary,
    "text_bigram_logprob": q_text_bigram_logprob,
    "sample_leakage_safe": q_sample_leakage_safe,
    "text_quality_score": q_text_quality_score,
    "text_quality_gate": q_text_quality_gate,
    "sim_topk_quantized": q_sim_topk_quantized,
    "sample_mix_execute": q_sample_mix_execute,
    "dedup_ngram_coverage": q_dedup_ngram_coverage,
    "dedup_semantic": q_dedup_semantic,
    "dedup_incremental_semantic": q_dedup_incremental_semantic,
    "x_bloom_membership": q_bloom_membership,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_minhash": q_dedup_incremental_minhash,
    "text_entropy": q_text_entropy,
    "text_gopher_flags": q_text_gopher_flags,
    "sample_source_cap": q_sample_source_cap,
    "sample_shuffle_order": q_sample_shuffle_order,
    "sample_shard_diff": q_sample_shard_diff,
    "text_bpe_pairs": q_text_bpe_pairs,
    "dedup_minhash_calibration": q_dedup_minhash_calibration,
    "sim_ivf_recall": q_sim_ivf_recall,
    "dedup_simhash_calibration": q_dedup_simhash_calibration,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
    "text_bm25_topk": q_text_bm25_topk,
    "sample_shard_manifest": q_sample_shard_manifest,
    "sim_hard_negatives": q_sim_hard_negatives,
    "sim_topk_pq": q_sim_topk_pq,
    "sim_topk_ivfpq": q_sim_topk_ivfpq,
    "sim_topk_ivfpq_residual": q_sim_topk_ivfpq_residual,
    "text_unigram_logprob": q_text_unigram_logprob,
    "text_chunk": q_text_chunk,
    "pack_token_budget": q_pack_token_budget,
    "filter_funnel": q_filter_funnel,
    "text_pii_scrub": q_text_pii_scrub,
    "mix_allocation": q_mix_allocation,
    "text_topk_ngrams": q_text_topk_ngrams,
    "text_length_stats": q_text_length_stats,
    "sample_hash_split": q_sample_hash_split,
    "sample_stratified": q_sample_stratified,
    "text_repetition": q_text_repetition,
    "text_token_count": q_text_token_count,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_apply": q_dedup_apply,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_jaccard_prefix": q_dedup_jaccard_prefix,
    "dedup_winnow_spans": q_dedup_winnow_spans,
    "dedup_strip_spans": q_dedup_strip_spans,
    "dedup_incremental_spans": q_dedup_incremental_spans,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_contamination": q_dedup_contamination,
    "sim_topk_bruteforce": q_sim_topk_bruteforce,
    "sim_topk_lsh": q_sim_topk_lsh,
    "sim_ivf_ann": q_sim_ivf_ann,
    "sim_knn_blocked": q_sim_knn_blocked,
    "mm_binary_meta": q_mm_binary_meta,
    "mm_decode_real": q_mm_decode_real,
    "mm_decode_png_jpeg": q_mm_decode_png_jpeg,
    "mm_resize": q_mm_resize,
    "mm_resize_multi": q_mm_resize_multi,
    "mm_resample_audio": q_mm_resample_audio,
    "mm_decode_mp4": q_mm_decode_mp4,
    "mm_tar_shards": q_mm_tar_shards,
    "mm_frame_plan": q_mm_frame_plan,
    "mm_decode_stub": q_mm_decode_stub,
    "mm_decode_pixels_jpeg": q_mm_decode_pixels_jpeg,
    "sample_weighted": q_sample_weighted,
    "mm_extract_features": q_mm_extract_features,
    "mm_frame_sample": q_mm_frame_sample,
}

EXT_ORACLES: dict[str, str] = {
    "sample_epoch_plan": SQL_SAMPLE_EPOCH_PLAN,
    "x_warc_ingest": SQL_X_WARC_INGEST,
    "text_html_extract": SQL_TEXT_HTML_EXTRACT,
    "x_warc_http": SQL_X_WARC_HTTP,
    "text_ccnet_buckets": SQL_TEXT_CCNET_BUCKETS,
    "sample_dsir_incremental": SQL_SAMPLE_DSIR_INCREMENTAL,
    "x_url_dedup": SQL_X_URL_DEDUP,
    "x_curation_pipeline_dsir": SQL_X_CURATION_PIPELINE_DSIR,
    "text_dsir_weights": SQL_TEXT_DSIR_WEIGHTS,
    "sample_dsir": SQL_SAMPLE_DSIR,
    "text_tfidf_topk": SQL_TEXT_TFIDF_TOPK,
    "sample_cluster_balance": SQL_SAMPLE_CLUSTER_BALANCE,
    "x_curation_pipeline_lm": SQL_X_CURATION_PIPELINE_LM,
    "sim_embedding_quality": SQL_SIM_EMBEDDING_QUALITY,
    "text_dedup_lines": SQL_TEXT_DEDUP_LINES,
    "text_strip_boilerplate": SQL_TEXT_STRIP_BOILERPLATE,
    "x_lm_quality_gate": SQL_X_LM_QUALITY_GATE,
    "x_dataset_card": SQL_X_DATASET_CARD,
    "text_blocklist_phrases": SQL_TEXT_BLOCKLIST_PHRASES,
    "x_curation_pipeline_gates": SQL_X_CURATION_PIPELINE_GATES,
    "dedup_incremental_containment": SQL_DEDUP_INCR_CONTAINMENT,
    "sample_shard_budget": SQL_SAMPLE_SHARD_BUDGET,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
    "text_blocklist": SQL_TEXT_BLOCKLIST,
    "text_mojibake": SQL_TEXT_MOJIBAKE,
    "quality_psi_drift": SQL_QUALITY_PSI_DRIFT,
    "sample_range_shards": SQL_SAMPLE_RANGE_SHARDS,
    "dedup_corpus_diff": SQL_DEDUP_CORPUS_DIFF,
    "sim_cell_drift": SQL_SIM_CELL_DRIFT,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "x_source_overlap": SQL_SOURCE_OVERLAP,
    "text_langid_eval": SQL_TEXT_LANGID_EVAL,
    "x_stream_ingest": SQL_X_STREAM_INGEST,
    "x_stream_interval_join": SQL_X_STREAM_INTERVAL_JOIN,
    "x_stream_dedup": SQL_X_STREAM_DEDUP,
    "x_stream_sessionize": SQL_X_STREAM_SESSIONIZE,
    "x_sessionize_batch": SQL_X_SESSIONIZE_BATCH,
    "x_mor_upsert_read": SQL_X_MOR_UPSERT_READ,
    "x_mor_asof_read": SQL_X_MOR_ASOF_READ,
    "x_mor_tombstone_tie": SQL_X_MOR_TOMBSTONE_TIE,
    "x_mor_delete_repair": SQL_X_MOR_DELETE_REPAIR,
    "x_mor_wide_pk_read": SQL_X_MOR_WIDE_PK_READ,
    "sim_range_search": SQL_SIM_RANGE_SEARCH,
    "x_curation_pipeline": SQL_X_CURATION_PIPELINE,
    "x_curation_pipeline_neardup": SQL_X_CURATION_PIPELINE_NEARDUP,
    "x_embedding_pipeline": SQL_X_EMBEDDING_PIPELINE,
    "files_roundtrip": SQL_FILES_ROUNDTRIP,
    "sim_topk_binary": SQL_SIM_BINARY,
    "text_bigram_logprob": SQL_BIGRAM_LOGPROB,
    "sample_leakage_safe": SQL_SAMPLE_LEAKAGE_SAFE,
    "text_quality_score": SQL_TEXT_QUALITY_SCORE,
    "text_quality_gate": SQL_TEXT_QUALITY_GATE,
    "sim_topk_quantized": SQL_SIM_TOPK_QUANTIZED,
    "sample_mix_execute": SQL_SAMPLE_MIX_EXECUTE,
    "dedup_ngram_coverage": SQL_DEDUP_NGRAM_COVERAGE,
    "dedup_semantic": SQL_DEDUP_SEMANTIC,
    "dedup_incremental_semantic": SQL_DEDUP_INCREMENTAL_SEMANTIC,
    "x_bloom_membership": SQL_BLOOM_MEMBERSHIP,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "dedup_incremental_minhash": SQL_DEDUP_INCREMENTAL_MINHASH,
    "text_entropy": SQL_TEXT_ENTROPY,
    "text_gopher_flags": SQL_TEXT_GOPHER_FLAGS,
    "sample_source_cap": SQL_SAMPLE_SOURCE_CAP,
    "sample_shuffle_order": SQL_SAMPLE_SHUFFLE_ORDER,
    "sample_shard_diff": SQL_SAMPLE_SHARD_DIFF,
    "text_bpe_pairs": SQL_TEXT_BPE_PAIRS,
    "dedup_minhash_calibration": SQL_DEDUP_MINHASH_CALIBRATION,
    "sim_ivf_recall": SQL_SIM_IVF_RECALL,
    "dedup_simhash_calibration": SQL_DEDUP_SIMHASH_CALIBRATION,
    "dedup_cluster_sizes": SQL_DEDUP_CLUSTER_SIZES,
    "sim_hybrid_rrf": SQL_SIM_HYBRID_RRF,
    "x_hll_distinct": SQL_X_HLL_DISTINCT,
    "x_link_graph": SQL_X_LINK_GRAPH,
    "mm_phash": SQL_MM_PHASH,
    "sample_curriculum": SQL_SAMPLE_CURRICULUM,
    "mm_audio_vad": SQL_MM_AUDIO_VAD,
    "sim_topk_matryoshka": SQL_SIM_TOPK_MATRYOSHKA,
    "x_bucketed_join": SQL_X_BUCKETED_JOIN,
    "x_robots": SQL_X_ROBOTS,
    "x_crawl_frontier": SQL_X_CRAWL_FRONTIER,
    "x_stream_hll": SQL_X_STREAM_HLL,
    "mm_sniff": SQL_MM_SNIFF,
    "sample_length_batches": SQL_SAMPLE_LENGTH_BATCHES,
    "x_table_stats": SQL_X_TABLE_STATS,
    "x_skew_salted_join": SQL_X_SKEW_SALTED_JOIN,
    "x_sitemap": SQL_X_SITEMAP,
    "x_topk_bounded": SQL_X_TOPK_BOUNDED,
    "text_chat_flatten": SQL_TEXT_CHAT_FLATTEN,
    "text_chat_pairs": SQL_TEXT_CHAT_PAIRS,
    "text_chat_truncate": SQL_TEXT_CHAT_TRUNCATE,
    "x_frontier_delay": SQL_X_FRONTIER_DELAY,
    "x_zorder_key": SQL_X_ZORDER_KEY,
    "dedup_image_phash": SQL_DEDUP_IMAGE_PHASH,
    "dedup_image_phash_clusters": SQL_DEDUP_IMAGE_PHASH_CLUSTERS,
    "x_crawl_epoch": SQL_X_CRAWL_EPOCH,
    "text_bpe_train": SQL_TEXT_BPE_TRAIN,
    "text_bpe_tokenize": SQL_TEXT_BPE_TOKENIZE,
    "x_cms_counts": SQL_X_CMS_COUNTS,
    "x_stream_cms": SQL_X_STREAM_CMS,
    "x_pagerank": SQL_X_PAGERANK,
    "text_bm25_topk": SQL_TEXT_BM25_TOPK,
    "sample_shard_manifest": SQL_SAMPLE_SHARD_MANIFEST,
    "sim_hard_negatives": SQL_SIM_HARD_NEGATIVES,
    "sim_topk_pq": SQL_SIM_TOPK_PQ,
    "sim_topk_ivfpq": SQL_SIM_TOPK_IVFPQ,
    "sim_topk_ivfpq_residual": SQL_SIM_TOPK_IVFPQ_RESIDUAL,
    "text_unigram_logprob": SQL_UNIGRAM_LOGPROB,
    "text_chunk": SQL_TEXT_CHUNK,
    "pack_token_budget": SQL_PACK_TOKEN_BUDGET,
    "filter_funnel": SQL_FILTER_FUNNEL,
    "text_pii_scrub": SQL_TEXT_PII_SCRUB,
    "mix_allocation": SQL_MIX_ALLOCATION,
    "text_topk_ngrams": SQL_TOPK_NGRAMS,
    "text_length_stats": SQL_LENGTH_STATS,
    "sample_hash_split": SQL_SAMPLE_HASH_SPLIT,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "text_repetition": SQL_TEXT_REPETITION,
    "text_token_count": SQL_TOKEN_COUNT,
    "text_quality": SQL_TEXT_QUALITY,
    "text_lang_id": SQL_TEXT_LANG_ID,
    "text_fingerprint": SQL_TEXT_FINGERPRINT,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_apply": SQL_DEDUP_APPLY,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM,
    "dedup_jaccard_prefix": SQL_DEDUP_JACCARD_PREFIX,
    "dedup_winnow_spans": SQL_DEDUP_WINNOW_SPANS,
    "dedup_strip_spans": SQL_DEDUP_STRIP_SPANS,
    "dedup_incremental_spans": SQL_DEDUP_INCREMENTAL_SPANS,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_embedding_cosine": SQL_DEDUP_EMB,
    "dedup_contamination": SQL_DEDUP_CONTAMINATION,
    "sim_topk_bruteforce": SQL_SIM_TOPK,
    "sim_topk_lsh": SQL_SIM_LSH,
    "sim_ivf_ann": SQL_SIM_IVF,
    "sim_knn_blocked": SQL_SIM_KNN,
    "mm_binary_meta": SQL_MM_META,
    "mm_decode_real": SQL_MM_DECODE_REAL,
    "mm_decode_png_jpeg": SQL_MM_DECODE_PNG_JPEG,
    "mm_resize": SQL_MM_RESIZE,
    "mm_resize_multi": SQL_MM_RESIZE_MULTI,
    "mm_resample_audio": SQL_MM_RESAMPLE_AUDIO,
    "mm_decode_mp4": SQL_MM_DECODE_MP4,
    "mm_tar_shards": SQL_MM_TAR_SHARDS,
    "mm_frame_plan": SQL_MM_FRAME_PLAN,
    "mm_extract_features": SQL_MM_FEATURES,
    "mm_decode_stub": SQL_MM_DECODE,
    "mm_decode_pixels_jpeg": SQL_MM_DECODE_PIXELS_JPEG,
    "sample_weighted": SQL_SAMPLE_WEIGHTED,
    "mm_frame_sample": SQL_MM_FRAMES,
}
