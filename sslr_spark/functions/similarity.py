"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — a single scan against the
collected query vector, then a TakeOrdered top-k; the scoring kernel
(JVM array fold or one BLAS gemv per Arrow batch) follows the vector
width. Scale path: LSH bucketing or an IVF coarse quantizer, so the
query only scans its probe buckets/cells — same answer shape,
sub-linear work.

Float math parity note: all arithmetic is forced to double and folds
run in index order, so Spark and DuckDB (list_transform/list_sum over
the same index order) agree bit-for-bit; results are rounded to 6
decimals anyway before comparison. Every cosine drops zero-norm rows
(NULL score), and an operator that collects its query row
(``_query_row``) raises on a missing query id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Vector width from which topk_bruteforce scores with one BLAS gemv per
# Arrow batch instead of the JVM array fold. Swept at 64-768 dims on
# local[4]: from 384 dims the Arrow kernel is no slower at any corpus
# size; below it the JVM fold wins on small corpora (2k rows) and
# loses on large ones (crossover sweep in CHANGES.md).
_ARROW_MIN_DIM = 384


def dot_expr(a: str, b: str) -> Column:
    """Index-ordered double-precision dot product of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )


def cosine_expr(a: str, b: str) -> Column:
    """Cosine of two array columns; NULL when either side has zero
    norm (try_divide: a plain division raises DIVIDE_BY_ZERO under
    ANSI mode, the Spark 4 default, and kills the whole query)."""
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


def _query_row(df: DataFrame, query_vec_id: int, id_col: str, *cols):
    """The query's row (``cols`` evaluated on it), collected once. A
    wrong id raises instead of masquerading as an empty corpus."""
    rows = df.filter(F.col(id_col) == query_vec_id).select(*cols).take(1)
    if not rows:
        raise ValueError(f"query vector {id_col}={query_vec_id} not found")
    return rows[0]


def _with_qvec(df: DataFrame, qvec) -> DataFrame:
    """``df`` plus the collected query vector as the literal array<double>
    column ``__qvec`` (exact for float inputs too): the scan side needs
    no join and no broadcast job."""
    return df.withColumn("__qvec", _double_array_literal(qvec))


def _cosine_topk(
    scored: DataFrame, k: int, id_col: str, sim: Column, *keep: str
) -> DataFrame:
    """The exact top-k tail every cosine search ends in: ``sim``
    rounded to 6 decimals as ``cos_sim``, TakeOrdered cut on (cos_sim
    desc, id), NULL (zero-norm) rows dropped. The NULL filter runs
    AFTER the cut: descending order puts NULLs last, so the result is
    the same, and a filter before it would be pushed into the scan as
    a second evaluation of the cosine per row."""
    return (
        scored.select(id_col, *keep, F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
        .filter(F.col("cos_sim").isNotNull())
    )


def sign_lsh_bucket(vec_col: str, n_bits: int = 8) -> Column:
    """Axis-aligned sign-LSH bucket: bit d set iff component d > 0.
    2^n_bits buckets; deterministic and engine-portable. A production
    variant uses random hyperplanes (dot with fixed seed vectors) —
    same plan shape."""
    bits = [
        F.when(F.element_at(F.col(vec_col), d + 1) > 0, F.lit(1 << d)).otherwise(0)
        for d in range(n_bits)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total.cast("long")


def topk_bruteforce(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of the vector with ``query_vec_id``
    — the brute-force baseline and the recall oracle for the ANN
    variants. Zero-norm rows are dropped; a missing id raises.

    The query row is collected once; the scan side stays partitioned.
    The kernel follows the query's width: below ``_ARROW_MIN_DIM`` the
    JVM array fold scores against the query as a literal; from it on,
    one BLAS gemv per Arrow record batch (mapInPandas) amortizes the
    Arrow transfer and wins. Both round
    in the JVM (F.round, HALF_UP); they can differ only by last-ULP
    summation order at an exact half-boundary of the 6th decimal."""
    qvec = [float(x) for x in _query_row(df, query_vec_id, id_col, vec_col)[0]]
    corpus = df.filter(F.col(id_col) != query_vec_id)
    if len(qvec) < _ARROW_MIN_DIM:
        return _cosine_topk(
            _with_qvec(corpus, qvec), k, id_col, cosine_expr(vec_col, "__qvec")
        )

    import numpy as np
    import pandas as pd

    qv = np.asarray(qvec, dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))
    schema = f"{id_col} {df.schema[id_col].dataType.simpleString()}, __sim double"

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.sqrt((m * m).sum(axis=1)) * qn
            keep = norms > 0
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = m @ qv / norms
            yield pd.DataFrame(
                {id_col: pdf[id_col][keep], "__sim": sims[keep]}
            )

    return _cosine_topk(
        corpus.select(id_col, vec_col).mapInPandas(score, schema),
        k, id_col, F.col("__sim"),
    )


def topk_lsh(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 6,
) -> DataFrame:
    """Approximate top-k: only vectors in the query's sign-LSH bucket
    are scored. At scale the bucket column is precomputed/partitioned
    so a query prunes to one partition (partition pruning at the scan).
    """
    bucketed = df.withColumn("__bucket", sign_lsh_bucket(vec_col, n_bits))
    q = bucketed.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec"), F.col("__bucket").alias("__qbucket")
    )
    return _cosine_topk(
        bucketed.filter(F.col(id_col) != query_vec_id).join(
            F.broadcast(q), F.col("__bucket") == F.col("__qbucket")
        ),
        k, id_col, cosine_expr(vec_col, "__qvec"),
    )


def ivf_index(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer trained by Spark ML KMeans (distributed):
    centroids plus the model's nearest-center (Euclidean) assignment.
    Served by :func:`ivf_topk_serve`, the query path of
    :func:`ivf_index_fixed` too. The assignment stays KMeans' own:
    re-assigning by argmax cosine (:func:`assign_cells_fixed`) loses
    the residual-vs-raw IVF-PQ calibration (CHANGES.md). Returns
    (indexed with __cell, centroids(cell, centroid array<double>))."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = df.withColumn("__vec", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_cells, seed=seed, featuresCol="__vec", predictionCol="__cell")
    model = km.fit(with_vec)
    indexed = model.transform(with_vec).drop("__vec")
    centroids = df.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    return indexed, centroids


def ivf_index_fixed(
    df: DataFrame,
    centroid_ids: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF coarse quantizer: centroids are the embeddings
    of caller-fixed row ids — no iterative training, so assignment is
    fully SQL-reproducible and the correctness oracle can replay it in
    DuckDB. :func:`ivf_index` trains centroids with KMeans instead;
    both serve through :func:`ivf_topk_serve`. Pinned centroids suit
    verification and incremental re-indexing (frozen centroids,
    append-stable cells).

    Assignment = argmax cosine(vec, centroid) (spherical-IVF
    convention), ties broken by the LOWER cell id. Scale shape: the
    centroids are collected once (n_cells rows — bounded by
    construction) and inlined as LITERAL arrays, so assignment is a
    pure per-row map expression — zero shuffle, zero row
    amplification. (The previous formulation cross-joined every
    vector with every centroid and ran a per-vector window: an
    n_cells× row blowup plus a full shuffle on ``id_col`` that this
    plan simply doesn't have.)
    Returns (indexed with __cell, centroids(cell, centroid)).
    """
    rows = fixed_centroid_rows(df, centroid_ids, vec_col, id_col)
    spark = df.sparkSession
    cents = spark.createDataFrame(
        [(i, list(r.centroid)) for i, r in enumerate(rows)],
        f"cell int, centroid {df.schema[vec_col].dataType.simpleString()}",
    )
    indexed = assign_cells_fixed(df, rows, vec_col)
    return indexed, cents


def fixed_centroid_rows(
    df: DataFrame,
    centroid_ids: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """Collect the caller-fixed centroid rows (bounded: n_cells),
    sorted so cell = rank of centroid id; every id must resolve.
    Shared by :func:`ivf_index_fixed` and incremental consumers that
    freeze the quantizer on the CORPUS and assign new batches with
    the same literals (dedup.incremental_semantic_dedup)."""
    rows = (
        df.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("centroid"))
        .collect()  # bounded: n_cells rows
    )
    rows.sort(key=lambda r: r.cid)  # cell = rank of centroid id
    _require_all_ids(rows, centroid_ids, "centroid", id_col)
    return rows


def _double_array_literal(values) -> Column:
    """One JVM-parsed SQL array<double> literal (repr() round-trips
    the exact double; the D suffix stops Spark parsing bare decimals
    as DECIMAL). Non-finite components guard back to F.lit — repr()
    yields 'inf'/'nan', which would emit unparseable 'infD' SQL
    (ADVICE r11 item 3); F.lit builds valid Double literals for them
    at py4j-per-element cost, acceptable for the degenerate case."""
    import math

    vals = [float(x) for x in values]
    if not all(math.isfinite(x) for x in vals):
        return F.lit(vals)
    return F.expr("array({})".format(", ".join(f"{x!r}D" for x in vals)))


def assign_cells_fixed(
    df: DataFrame,
    rows: list,
    vec_col: str = "embedding",
    score_col: str | None = None,
) -> DataFrame:
    """Literal-centroid cell assignment (the body of
    :func:`ivf_index_fixed`): argmax cosine over the collected
    centroid rows, ties to the LOWER cell — max of struct(sim, -cell)
    under struct ordering. Pure per-row map expression: zero shuffle,
    zero row amplification. Pass ``score_col`` to also keep the
    winning rounded cosine (centrality consumers:
    sampling.cluster_balance). A zero-norm vector scores NULL against
    every centroid and lands in cell 0 (try_divide, ANSI-safe)."""
    scored = [
        F.struct(
            F.round(
                F.try_divide(
                    dot_expr(vec_col, f"__c{i}"),
                    norm_expr(vec_col) * F.lit(_l2(r.centroid)),
                ),
                9,
            ).alias("s"),
            F.lit(-i).alias("nc"),
        )
        for i, r in enumerate(rows)
    ]
    with_lits = df
    for i, r in enumerate(rows):
        # one JVM-parsed SQL array literal per centroid: F.lit(list)
        # recursively builds a py4j lit() per ELEMENT (~dim round
        # trips per centroid — hundreds of driver-side calls per index
        # build; r11, same fix as the PQ ADC tables). Python repr() is
        # the shortest round-trip form, and the D suffix makes Spark
        # parse it as a DOUBLE literal (bare decimals parse as
        # DECIMAL), so each literal is the bit-identical double
        # F.lit() produced.
        with_lits = with_lits.withColumn(
            f"__c{i}", _double_array_literal(r.centroid)
        )
    best = F.array_max(F.array(*scored))
    out = with_lits.withColumn("__cell", (-best["nc"]).cast("int"))
    if score_col is not None:
        out = out.withColumn(score_col, best["s"])
    return out.drop(*[f"__c{i}" for i in range(len(rows))])


def _require_all_ids(rows, ids, kind: str, id_col: str) -> None:
    """Every caller-fixed centroid/codebook id must resolve to exactly
    one row. A silently-shrunk codebook shifts every code index,
    desyncing the Spark encode from the oracle and any frozen-index
    consumer; a DUPLICATED id row silently shifts every rank the same
    way — both are hard errors naming the offending ids."""
    want = set(ids)
    got = [r.cid for r in rows]
    missing = sorted(want - set(got))
    if missing:
        raise ValueError(
            f"{kind} ids not found in {id_col}: {missing} "
            f"({len(set(got))}/{len(want)} resolved)"
        )
    if len(got) != len(want):
        dups = sorted({c for c in got if got.count(c) > 1})
        raise ValueError(
            f"{kind} ids duplicated in {id_col}: {dups} "
            f"({len(got)} rows for {len(want)} ids)"
        )


def unit_rows_matrix(pdf, vec_col: str):
    """Shared BLAS-kernel prep (the 'fast' modes of
    embedding_near_dup_pairs / all_pairs_topk_blocked /
    incremental_semantic_dedup): stack a pandas group's vectors into
    a float64 matrix and unit-normalize, with zero norms mapped to
    NaN so a zero vector never matches anything (the expression
    forms' null-propagating division)."""
    import numpy as np

    M = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0.0] = np.nan
    return M / norms[:, None]


def blas_chunk(n: int) -> int:
    """Row-chunk size keeping a chunk x n similarity buffer ~16 MB."""
    return max(1, (2 << 20) // max(1, n))


def _l2(vec) -> float:
    """Driver-side L2 norm of one collected centroid (Python floats
    are IEEE doubles and math.sqrt is correctly rounded — the same
    arithmetic the JVM norm_expr fold runs, in the same index order,
    so the literal stays bit-identical to a JVM/DuckDB evaluation)."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def ivf_topk_serve(
    indexed: DataFrame,
    cents: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve an IVF top-k query against ANY (indexed, cents) pair —
    trained (:func:`ivf_index`) or fixed (:func:`ivf_index_fixed`):
    rank cells by centroid-vs-query cosine, scan the top ``n_probe``
    cells, exact cosine within. With ``n_probe`` = all cells this
    equals :func:`topk_bruteforce` (property-tested)."""
    qvec = _query_row(indexed, query_vec_id, id_col, vec_col)[0]
    scan = indexed.join(
        F.broadcast(_probe_cells(cents, qvec, n_probe)),
        F.col("__cell") == F.col("__probe_cell"),
    ).filter(F.col(id_col) != query_vec_id)
    return _cosine_topk(
        _with_qvec(scan, qvec), k, id_col, cosine_expr(vec_col, "__qvec")
    )


def _probe_cells(cents: DataFrame, qvec, n_probe: int) -> DataFrame:
    """The ``n_probe`` cells whose centroids are most cosine-similar to
    the query vector ``qvec``, as ``__probe_cell``. The cut is
    orderBy+limit — planned as TakeOrdered (per-partition heap +
    driver merge), not a row_number window, which would drag all rows
    to one partition. Ordering is total (sim desc, cell asc), so the
    cut is deterministic."""
    return (
        _with_qvec(cents, qvec)
        .withColumn("__qsim", F.round(cosine_expr("centroid", "__qvec"), 9))
        .orderBy(F.col("__qsim").desc(), F.col("cell"))
        .limit(n_probe)
        .select(F.col("cell").alias("__probe_cell"))
    )


def ivf_ann_fixed(
    df: DataFrame,
    centroid_ids: list[int],
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN with the fixed quantizer: :func:`ivf_index_fixed` then
    :func:`ivf_topk_serve`."""
    indexed, cents = ivf_index_fixed(df, centroid_ids, vec_col, id_col)
    return ivf_topk_serve(
        indexed, cents, query_vec_id, k, n_probe, vec_col, id_col
    )


def guard_oversize_blocks(
    df: DataFrame, block_col: str, max_block_size: int, op_name: str
) -> DataFrame:
    """Pair-space guard for block-joined operators: any self-join on a
    block column is quadratic IN THE BLOCK — one runaway block (an
    empty-string label, a null-ish bucket, a templated-corpus mega
    cluster) silently turns a linear job into n² work. This counts
    block sizes (one map-side-combined aggregate over distinct blocks)
    and EXCLUDES blocks larger than ``max_block_size`` from pair
    generation, warning loudly with the offending block values — a
    bounded, visible failure instead of a stuck stage. Callers that
    truly want quadratic blocks pass ``max_block_size=None`` at the
    call site."""
    import warnings

    sizes = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__bn"))
    big = sizes.filter(F.col("__bn") > max_block_size)
    # bounded: at most n / max_block_size oversize blocks exist
    sample = big.limit(20).collect()
    if not sample:
        return df
    shown = ", ".join(f"{r[block_col]!r}({r['__bn']})" for r in sample)
    warnings.warn(
        f"{op_name}: excluding block(s) over max_block_size="
        f"{max_block_size} from pair generation: {shown}"
        + (", ..." if len(sample) == 20 else "")
        + " — split these blocks (finer LSH/clustering) or raise"
        " max_block_size explicitly",
        RuntimeWarning,
        stacklevel=3,
    )
    return df.join(big.select(block_col), on=block_col, how="left_anti")


def all_pairs_topk_blocked(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    max_block_size: int | None = 100_000,
    mode: str = "portable",
) -> DataFrame:
    """k-NN graph restricted to blocks: per vector, top-k neighbors
    within its block (label / coarse-quantizer cell). The IVF pattern:
    an equi-join on the block column keeps the pair space linear in
    block size; a window takes top-k per query vector. Blocks over
    ``max_block_size`` are excluded with a warning (see
    :func:`guard_oversize_blocks`).

    ``mode``: 'portable' (default) is the oracle-parity expression
    join with per-ROW precomputed norms (the cosine's higher-order
    lambdas run interpreted — see embedding_near_dup_pairs, which
    this mirrors); 'fast' computes each block's cosine matrix with
    numpy BLAS in one applyInPandas pass and ranks per row with a
    (sim desc, dst asc) lexsort — the production kNN-graph path."""
    from pyspark.sql import Window

    from sslr_spark.functions.dedup import _entry_release, persist

    if mode not in ("portable", "fast"):
        raise ValueError(f"mode must be portable|fast, got {mode!r}")
    _entry_release()
    # the guard and the pair join's two sides read df (the guard's
    # aggregate fills it); unguarded BLAS reads it once, unstored
    if max_block_size is not None:
        df = guard_oversize_blocks(
            persist(df), block_col, max_block_size, "all_pairs_topk_blocked"
        )
    elif mode == "portable":
        df = persist(df)
        df.count()  # fill
    if mode == "fast":
        return _topk_blocked_numpy(df, k, vec_col, id_col, block_col)
    # per-row norm once, not per pair — same IEEE value, n not n^2.
    # try_divide: a zero norm must yield NULL (then be filtered), not
    # an ANSI DIVIDE_BY_ZERO that kills the whole job
    df = df.withColumn("__nrm", norm_expr(vec_col))
    a, b = df.alias("a"), df.alias("b")
    cos = F.try_divide(
        dot_expr(f"a.{vec_col}", f"b.{vec_col}"),
        F.col("a.__nrm") * F.col("b.__nrm"),
    )
    scored = (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("src"),
            F.col(f"b.{id_col}").alias("dst"),
            F.round(cos, 6).alias("cos_sim"),
        )
        # a zero-norm vector's cosine is NULL — such a neighbor (or
        # src) has no defined similarity and must not consume a rank
        # slot; the BLAS mode drops the same rows (non-finite sims)
        .filter(F.col("cos_sim").isNotNull())
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _topk_blocked_numpy(
    df: DataFrame, k: int, vec_col: str, id_col: str, block_col: str
) -> DataFrame:
    """Per-block BLAS kNN (the 'fast' mode of
    :func:`all_pairs_topk_blocked`): one cosine matrix per block
    (row-chunked to a ~16 MB buffer), top-k per row by
    (sim desc, dst asc) — the same rank order as the window form,
    including the round(·, 6) the comparison key carries."""
    import numpy as np
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        empty = pd.DataFrame(
            {"src": [], "dst": [], "cos_sim": [], "rank": []}
        ).astype({"src": "int64", "dst": "int64", "rank": "int64"})
        if n < 2:
            return empty
        U = unit_rows_matrix(pdf, vec_col)
        chunk = blas_chunk(n)
        outs = []
        kk = min(k, n - 1)
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            S = np.round(U[lo:hi] @ U.T, 6)
            rows = np.arange(lo, hi)
            S[np.arange(hi - lo), rows] = -np.inf  # exclude self
            # ids are sorted ascending, so position order IS dst-asc
            # tie-break; stable lexsort on (-sim) preserves it
            order = np.argsort(-S, axis=1, kind="stable")[:, :kk]
            sims = np.take_along_axis(S, order, axis=1)
            valid = np.isfinite(sims)
            src = np.repeat(ids[rows], kk).reshape(hi - lo, kk)
            rank = np.tile(np.arange(1, kk + 1), (hi - lo, 1))
            outs.append(
                pd.DataFrame(
                    {
                        "src": src[valid],
                        "dst": ids[order[valid]],
                        "cos_sim": sims[valid],
                        "rank": rank[valid],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return (
        df.select(id_col, block_col, vec_col)
        # null blocks never join in the portable form; dropping them
        # here keeps the modes row-for-row comparable
        .filter(F.col(block_col).isNotNull())
        .groupBy(block_col)
        .applyInPandas(
            per_block, "src long, dst long, cos_sim double, rank long"
        )
    )


def quantize_int8(vec_col: str, scale: float = 127.0) -> Column:
    """Scalar quantization of a float vector to int8-range integers
    (round(x * scale)) — 4x memory compression for unit-range
    embeddings; the standard first step before ANN index build at
    corpus scale. Pure codegen expression."""
    return F.transform(
        F.col(vec_col), lambda x: F.round(x * scale).cast("long")
    )


def topk_quantized(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 127.0,
) -> DataFrame:
    """Top-k by cosine over INT8-QUANTIZED vectors: integer dot and
    norms (exact arithmetic once quantized — engine-portable), double
    division only at the end. Accuracy loss vs float cosine is the
    quantization error (~1/254 per dim); memory and bandwidth drop
    4x, which at 100 TB of embeddings is what makes the scan feasible
    — compose with LSH/IVF blocking exactly like the float paths.
    The one-row query side broadcasts; TakeOrdered merges per-partition
    top-k (no global sort)."""
    qrow = _query_row(
        df, query_vec_id, id_col, quantize_int8(vec_col, scale).alias("__q")
    )
    qd = df.sparkSession.createDataFrame([qrow], "__q array<bigint>")
    cv = quantize_int8(vec_col, scale)
    dot = F.aggregate(
        F.zip_with(cv, F.col("__q"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nn = F.sqrt(sq(cv).cast("double")) * F.sqrt(sq(F.col("__q")).cast("double"))
    scored = (
        df.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(qd))
        .select(
            id_col,
            # try_divide: a vector whose coords all quantize to zero
            # has nn == 0; under ANSI mode (Spark 4 default sessions)
            # a plain division would raise DIVIDE_BY_ZERO and kill
            # the query, while the oracle filters nn > 0.  try_divide
            # yields null -> dropped by the filter in both modes.
            F.round(F.try_divide(dot.cast("double"), nn), 6).alias(
                "score"
            ),
        )
        .filter(F.col("score").isNotNull())
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def range_search_quantized(
    df: DataFrame,
    query_vec_id: int,
    threshold_num: int,
    threshold_den: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 127.0,
) -> DataFrame:
    """RANGE search (FAISS ``range_search`` counterpart to the top-k
    family): ALL corpus vectors within a cosine radius of the query,
    not a fixed-k cut — the dedup/recall workloads ("every document
    at least this similar") where k is unknowable upfront.

    The radius test is INTEGER-EXACT end to end: with int8-quantized
    vectors and a rational threshold t = num/den,

        cos >= t  <=>  dot > 0  AND  dot^2 * den^2 >= num^2 * |c|^2 * |q|^2

    — every term a 64-bit integer (dot <= 127^2*dim, squared stays
    under 2^63 through dim ~1k), so the cut is bit-identical in any
    engine; no float enters the predicate. Returned ``dot`` is the
    integer dot product (descending = cosine order only up to norm —
    callers wanting scores divide themselves).

    Scale shape: one corpus scan against a broadcast 1-row query,
    selection entirely in whole-stage codegen, no shuffle until the
    final (bounded-by-selectivity) sort. Compose with IVF cell
    pruning exactly like topk_ivf for the indexed path."""
    if threshold_den <= 0 or threshold_num < 0:
        raise ValueError(
            f"threshold must be a non-negative rational, got "
            f"{threshold_num}/{threshold_den}"
        )
    qrow = _query_row(
        df, query_vec_id, id_col, quantize_int8(vec_col, scale).alias("__q")
    )
    qd = df.sparkSession.createDataFrame([qrow], "__q array<bigint>")
    cv = quantize_int8(vec_col, scale)
    dot = F.aggregate(
        F.zip_with(cv, F.col("__q"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    num2 = int(threshold_num) * int(threshold_num)
    den2 = int(threshold_den) * int(threshold_den)
    return (
        df.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(qd))
        .select(
            id_col,
            dot.alias("dot"),
            (sq(cv) * sq(F.col("__q"))).alias("__nn2"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot") * F.lit(den2)
                >= F.lit(num2) * F.col("__nn2")
            )
        )
        .drop("__nn2")
        .orderBy(F.col("dot").desc(), F.col(id_col))
    )


# ------------------------------------------------------------------
# binary (sign) quantization ANN — 32x compression, Hamming pre-rank
# ------------------------------------------------------------------

def sign_pack_words(
    vec_col: str, dim: int, word_bits: int = 32
) -> Column:
    """Pack a float vector's SIGN BITS (x >= 0) into an array of
    ``word_bits``-wide integer words — the 1-bit-per-dimension binary
    embedding (32x memory/bandwidth vs float32; at 100 TB of
    embeddings the difference between a scan that fits in page cache
    and one that doesn't).

    Words are 32-bit by default ON PURPOSE: a 64-bit pack would need
    ``1 << 63``, which lands in the bigint sign bit — well-defined on
    the JVM, an overflow error in engines with checked shifts
    (DuckDB), so the oracle could not replay it. 32-bit words keep
    every value in [0, 2^32) — exact in any int64.

    Pure codegen expression (transform/aggregate lambdas), no UDF.
    """
    n_words = (dim + word_bits - 1) // word_bits
    # the column name is interpolated into raw SQL below — backtick-
    # quote it so names needing quoting (dots, spaces) resolve as one
    # column reference instead of breaking the parse (and names
    # containing backticks stay representable via SQL's `` escape),
    # matching sibling helpers like hamming_words that accept any name
    quoted = "`" + vec_col.replace("`", "``") + "`"
    words = []
    for w in range(n_words):
        lo, hi = w * word_bits, min((w + 1) * word_bits, dim)
        # F.expr: the Python shiftleft() helper takes a literal int
        # for numBits, but here the shift amount is the lambda
        # variable — SQL shiftleft accepts an expression
        words.append(F.expr(
            f"aggregate(sequence({lo}, {hi - 1}), cast(0 as bigint), "
            f"(acc, i) -> acc | (case when element_at({quoted}, "
            f"cast(i + 1 as int)) >= 0 then shiftleft(cast(1 as "
            f"bigint), cast(i - {lo} as int)) else cast(0 as bigint) "
            f"end))"
        ))
    return F.array(*words)


def hamming_words(a: str | Column, b: str | Column) -> Column:
    """Hamming distance between two sign-bit word arrays:
    sum(bit_count(xor(word_a, word_b))) — integer-exact, so identical
    in every engine."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def topk_binary(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Top-k via binary quantization: Hamming distance on sign-packed
    words pre-ranks the corpus (the cheap 32x-compressed scan), the
    best ``k * rerank_factor`` candidates re-rank by exact float
    cosine, and the final top-k comes from that rerank — the standard
    two-stage binary-ANN pipeline (sign bits preserve cosine
    neighborhoods for zero-centered embeddings; the rerank removes
    the quantization noise from the final ordering).

    Deterministic end-to-end: Hamming is integer, both stages break
    ties on ``id_col``, so the candidate set and result replay exactly
    in the DuckDB oracle. Scale shape: one narrow scan for packing
    (TakeOrdered merge for the candidate cut, no global sort), then
    exact cosine over only ``k * rerank_factor`` rows.
    """
    if dim is None:
        probe = df.select(F.size(vec_col).alias("d")).first()
        if probe is None:
            raise ValueError("empty corpus")
        dim = int(probe["d"])
    qrow = _query_row(
        df, query_vec_id, id_col,
        sign_pack_words(vec_col, dim).alias("__qsig"),
        F.col(vec_col).alias("__qvec"),
    )
    vec_type = df.schema[vec_col].dataType.simpleString()
    q = df.sparkSession.createDataFrame(
        [qrow], f"__qsig array<bigint>, __qvec {vec_type}"
    )
    cand = (
        df.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "hamming",
            hamming_words(sign_pack_words(vec_col, dim), F.col("__qsig")),
        )
        .orderBy(F.col("hamming").asc(), F.col(id_col))
        .limit(k * rerank_factor)
    )
    # an all-zero vector in the candidate window drops (NULL cosine);
    # the oracle guards with `nn > 0` for the same rows
    return _cosine_topk(
        cand, k, id_col, cosine_expr(vec_col, "__qvec"), "hamming"
    )


def _topk_per_query_salted(
    cand: DataFrame,
    k: int,
    id_col: str,
    salt_partitions: int = 8,
) -> DataFrame:
    """Salted two-phase top-k per ``query_id`` over scored candidate
    rows (must carry query_id, ``id_col``, cos_sim; other columns ride
    along): phase 1 cuts to the local top-k within (query, id-salt)
    partitions — each 1/salt of the corpus — and phase 2 re-ranks
    only the ``salt_partitions * k`` survivors per query. No
    partition ever holds a full query's candidate set. Adds ``__fr``
    (1-based final rank). Shared by :func:`hard_negatives` and
    :func:`ivf_recall` so the scale-safe cut cannot drift between
    the ops that need it."""
    from pyspark.sql import Window

    salted = cand.withColumn(
        "__salt", F.pmod(F.col(id_col), F.lit(salt_partitions))
    )
    w1 = Window.partitionBy("query_id", "__salt").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    survivors = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        survivors.withColumn("__fr", F.row_number().over(w2))
        .filter(F.col("__fr") <= k)
        .drop("__salt", "__rn")
    )


def ivf_recall(
    df: DataFrame,
    centroid_ids: list[int],
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt_partitions: int = 8,
) -> DataFrame:
    """Measure an IVF parameterization against exact ground truth:
    per query, how many of the true top-``k`` neighbors the
    ``n_probe``-cell pruned scan recovers — recall@k, the number an
    n_probe setting is chosen from (the ANN twin of
    dedup.minhash_calibration). Run on a query sample before
    committing a probe budget to a 100 TB serving config.

    Both sides are deterministic (cosine round-6, ties on id; fixed
    centroids) and both use the salted two-phase top-k cut, so the
    measurement itself scales: truth is the brute-force pass you pay
    once per calibration, not per query at serving time.

    Returns one row per query: (query_id, recalled, k) — bigint
    counts, hash-exact."""
    from pyspark.sql import Window

    indexed, cents = ivf_index_fixed(df, centroid_ids, vec_col, id_col)
    qs = df.filter(F.col(id_col).isin([int(q) for q in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    # probe cells per query: queries x centroids is (n_queries x
    # n_cells) rows — tiny by construction, window is fine here
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__qsim").desc(), F.col("cell")
    )
    probes = (
        qs.crossJoin(F.broadcast(cents))
        .withColumn("__qsim", F.round(cosine_expr("centroid", "__qvec"), 9))
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "cell", "__qvec")
    )

    def top(base: DataFrame) -> DataFrame:
        # the NULL (zero-norm) filter runs after the cut, as in
        # _cosine_topk: NULLs sort last, so the kept rows are the same,
        # and a filter before it is pushed into the join as a second
        # cosine per candidate
        scored = base.filter(F.col(id_col) != F.col("query_id")).withColumn(
            "cos_sim", F.round(cosine_expr(vec_col, "__qvec"), 6)
        )
        return (
            _topk_per_query_salted(scored, k, id_col, salt_partitions)
            .filter(F.col("cos_sim").isNotNull())
            .select("query_id", id_col)
        )

    approx = top(
        indexed.join(F.broadcast(probes), F.col("__cell") == F.col("cell"))
    )
    truth = top(df.crossJoin(F.broadcast(qs)))
    hits = (
        approx.join(truth, ["query_id", id_col])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("recalled"))
    )
    return (
        qs.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("recalled", F.lit(0).cast("long")).alias("recalled"),
            F.lit(k).cast("long").alias("k"),
        )
    )


def hard_negatives(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    salt_partitions: int = 8,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar vectors with a DIFFERENT label —
    the negatives that actually teach the model something (random
    negatives are trivially far; these sit right at the decision
    boundary).

    Exact cosine, deterministic output: similarity rounded to 6
    decimals, ties broken on candidate id; ``neg_rank`` is the 1-based
    position within each query's list.

    Scale shape — the top-k-per-group problem done without a
    single-partition-per-query window: queries broadcast (a handful
    of rows), candidates score in place, then a SALTED two-phase cut:
    phase 1 takes the local top-k within (query, id mod
    ``salt_partitions``) — partitions are 1/salt of the corpus — and
    phase 2 re-ranks only the surviving ``salt_partitions * k`` rows
    per query. Total shuffle: corpus once for phase 1, k*salt rows
    for phase 2; no partition ever holds a full query's candidate
    set. Zero-norm vectors drop via try_divide (ANSI-safe), matching
    the topk_* contract."""
    qs = (
        df.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("__qlabel"),
            F.col(vec_col).alias("__qvec"),
        )
    )
    cand = (
        df.crossJoin(F.broadcast(qs))
        .filter(
            (F.col(label_col) != F.col("__qlabel"))
            & (F.col(id_col) != F.col("query_id"))
        )
        .withColumn("cos_sim", F.round(cosine_expr(vec_col, "__qvec"), 6))
    )
    # NULL (zero-norm) rows drop after the cut: they sort last, so the
    # rows and ranks are the same, and a filter before it is pushed
    # into the join as a second cosine per candidate
    top = _topk_per_query_salted(cand, k, id_col, salt_partitions)
    return top.filter(F.col("cos_sim").isNotNull()).select(
        "query_id",
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        "cos_sim",
        F.col("__fr").alias("neg_rank"),
    )


# ------------------------------------------------------------------
# product quantization (PQ) — m sub-codes, ADC scan
# ------------------------------------------------------------------

def pq_train(
    df: DataFrame,
    m: int = 16,
    ks: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks with distributed KMeans — the
    trained counterpart of the fixed-codebook path, as
    :func:`ivf_index` is of :func:`ivf_index_fixed`: train here on a
    sample, publish the codebooks, and encode/serve through
    :func:`pq_encode_with_books` / :func:`pq_topk_from_codes`, the same
    plans the fixed path runs (the oracle pins the plan via fixed
    codebooks; training only supplies better literals for it).

    Vectors are unit-normalized with the same quantized norm the
    encoders use, then each of the ``m`` dim/m-wide slices is fit
    with its own KMeans(ks) — m independent distributed fits over
    the (sampled) corpus. Returns codebooks[subspace][codeword][dim],
    codewords ordered by KMeans center index."""
    dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    sq = F.aggregate(
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * x.cast("double") * F.lit(1e12)
                + F.lit(0.5)
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    unit = df.select(
        F.when(
            sq == 0, F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        .otherwise(
            F.transform(
                F.col(vec_col),
                lambda x: x.cast("double")
                / F.sqrt(sq.cast("double") / F.lit(1e12)),
            )
        )
        .alias("__u")
    )
    return _fit_subspace_books(unit, "__u", m, dsub, ks, seed)


def _fit_subspace_books(
    vecs: DataFrame, col: str, m: int, dsub: int, ks: int, seed: int
) -> list[list[list[float]]]:
    """One KMeans(ks) codebook per dsub-wide slice of ``col``. The m
    fits read ``vecs``, stored for the call and filled by the first."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from sslr_spark.functions.dedup import cache_scope, persist

    books: list[list[list[float]]] = []
    with cache_scope():
        vecs = persist(vecs)
        for j in range(m):
            sub = vecs.select(
                array_to_vector(
                    F.slice(F.col(col), j * dsub + 1, dsub)
                ).alias("__s")
            )
            model = KMeans(
                k=ks, seed=seed + j, featuresCol="__s",
                predictionCol="__c",
            ).fit(sub)
            books.append(
                [[float(x) for x in c] for c in model.clusterCenters()]
            )
    return books


def pq_encode_with_books(
    df: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode with PUBLISHED codebooks (from :func:`pq_train`, or the
    fixed ids through :func:`pq_encode_fixed`): each vector's ``m``
    sub-vectors take the index of their nearest codeword — the
    serving-side encode for new batches against a frozen index,
    append-stable by construction (frozen books => stable codes).

    Distances are computed on UNIT-normalized vectors — on unit
    vectors squared L2 is ``2 - 2*cos``, so the integer ADC pre-rank
    is monotone in the cosine the rerank targets, where raw L2 ranks
    by magnitude as much as by angle. Normalization is algebraic, and
    the per-row constant ``subsq/s`` term of the expansion

        ||x_sub/||x|| - c||^2 = subsq/s - 2*dot(x_sub, c)/sqrt(s)
                                + ||c||^2      (s = ||x||^2)

    is DROPPED: it is identical for every codeword of a subspace, so
    the reduced score ``d' = ||c||^2 - 2*dot/sqrt(s)`` has the same
    argmin (and, summed over subspaces, shifts every ADC total by the
    same per-row constant — rank-invariant). Zero-norm vectors take
    ``d' = ||c||^2`` (guarded: without it 0/sqrt(0) is NaN), giving
    a deterministic argmin; the rerank drops them.

    DETERMINISM CONTRACT (shared by this kernel,
    :func:`pq_encode_residual_fixed`, :func:`_pq_adc_expr` and the
    DuckDB oracle SQL): no engine ever sums raw doubles. Every sum —
    vector sum-of-squares, per-subspace dot, codeword sum-of-squares
    — quantizes each TERM to a bigint first (``floor(x*y * 1e12 +
    0.5)``; a term is one or two IEEE-exact binary ops on identical
    inputs), so the sums are integer and order-free. The score then
    combines those integers through a fixed sequence of single IEEE
    ops (cast, divide, sqrt, subtract — each exactly rounded, hence
    engine-identical; :func:`_pq_score` is the scalar spelling) and
    quantizes to a bigint (``floor(d * 1e9 + 0.5)``); the argmin
    compares bigints with ties to the LOWER codeword index (numpy
    ``argmin`` first-match here, ``row_number order by d, c`` in the
    SQL). Unspecified summation order — the one cross-engine wobble a
    float spelling leaves open — cannot flip a code or an ADC cut.

    Arrow-batched numpy, not JVM array expressions: the expression
    form paid interpreted-lambda cost per (row, subspace, codeword)
    and took 5-17 s on a 500-row fixture this kernel encodes in under
    4 s. Pure per-row map — zero shuffle, zero row amplification
    (plan-pinned)."""
    import numpy as np

    m = len(books)
    dsub = len(books[0][0])
    bk = np.asarray(books, dtype=np.float64)
    cwsq_int = np.asarray(
        [[_sumsq_int(cw) for cw in books[j]] for j in range(m)],
        dtype=np.int64,
    )
    cwsq_d = cwsq_int / 1e12

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", __codes array<int>"

    def encode(batches):
        for pdf in batches:
            if len(pdf):
                x = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                s_int = (
                    np.floor((x * x) * 1e12 + 0.5).astype(np.int64).sum(axis=1)
                )
                xs = x.reshape(len(pdf), m, dsub)
                prods = xs[:, :, None, :] * bk[None, :, :, :]
                dot_int = (
                    np.floor(prods * 1e12 + 0.5).astype(np.int64).sum(axis=3)
                )
                rt = np.sqrt(s_int / 1e12)
                with np.errstate(divide="ignore", invalid="ignore"):
                    d = (
                        cwsq_d[None, :, :]
                        - (2.0 * (dot_int / 1e12)) / rt[:, None, None]
                    )
                d = np.where(
                    (s_int == 0)[:, None, None], cwsq_d[None, :, :], d
                )
                d_q = np.floor(d * 1e9 + 0.5).astype(np.int64)
                pdf = pdf.copy()
                pdf["__codes"] = [
                    c.tolist() for c in d_q.argmin(axis=2).astype("int32")
                ]
            else:
                pdf = pdf.copy()
                pdf["__codes"] = []
            yield pdf

    return df.mapInPandas(encode, out_schema)


def pq_encode_fixed(
    df: DataFrame,
    codebook_ids: list[int],
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product-quantization encoder with a FIXED codebook: split each
    vector into ``m`` equal subvectors; per subspace, the codewords
    are the matching slices of the caller-designated codebook vectors
    (ks = len(codebook_ids), so each vector compresses to m codes of
    log2(ks) bits — 64 float32 dims at m=4/ks=8 is 256 bytes -> 4
    codes, a 64x scan-size cut before any rerank).

    Like :func:`ivf_index_fixed`, "fixed" is what makes the operator
    verification-grade: no iterative KMeans state, so the exact code
    assignment replays in the DuckDB oracle. A production deployment
    trains the codebooks (:func:`pq_train`); the encode kernel
    (:func:`pq_encode_with_books`) is the same, only the literals
    change.

    Returns (encoded df with an array<int> ``__codes`` column,
    codebooks as [subspace][codeword][dim] Python lists — normalized).
    """
    books, _ = _codebooks_from_ids(df, codebook_ids, m, vec_col, id_col)
    return pq_encode_with_books(df, books, vec_col), books


def _sumsq_int(vec) -> int:
    """Order-free sum of squares: each term quantized to a bigint
    (``floor(x*x * 1e12 + 0.5)``) before summation, so any engine —
    Python, JVM expressions, numpy, DuckDB — produces the identical
    integer regardless of fold order. Terms stay < 2^53 for |x| <~ 30,
    far above embedding magnitudes."""
    import math

    acc = 0
    for x in vec:
        xd = float(x)
        acc += int(math.floor(xd * xd * 1e12 + 0.5))
    return acc


def _dot_int(a, b) -> int:
    """Order-free dot product under the same per-term bigint
    quantization as :func:`_sumsq_int`."""
    import math

    acc = 0
    for x, y in zip(a, b):
        acc += int(math.floor(float(x) * float(y) * 1e12 + 0.5))
    return acc


def _unit_quantized(vec) -> list[float]:
    """Unit-normalize with the quantized norm ``sqrt(sumsq_int/1e12)``
    — each output element is one IEEE division of identical inputs,
    so every engine reconstructing the codebook gets bit-identical
    doubles (a float-summed norm would not guarantee that)."""
    import math

    sq = _sumsq_int(vec)
    if sq == 0:
        return [float(x) for x in vec]
    n = math.sqrt(sq / 1e12)
    return [float(x) / n for x in vec]


def _pq_score(cwsq_int: int, dot_int: int, s_int: int) -> float:
    """The canonical reduced score ``cwsq - 2*dot/sqrt(s)`` from the
    integer-quantized components, as a FIXED sequence of single IEEE
    ops (each exactly rounded, hence engine-identical). Mirrored
    op-for-op by the numpy kernel in pq_encode_with_books and the
    oracle SQL; at ``s_int = 10**12`` (a unit vector) it is the
    residual encoder's score, whose divisor is then exactly 1."""
    import math

    if s_int == 0:
        return cwsq_int / 1e12
    return cwsq_int / 1e12 - (2.0 * (dot_int / 1e12)) / math.sqrt(
        s_int / 1e12
    )


def pq_topk_fixed(
    df: DataFrame,
    codebook_ids: list[int],
    query_vec_id: int,
    k: int = 10,
    m: int = 4,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k via product quantization: ADC (asymmetric distance
    computation) pre-ranks the corpus reading ONLY the m sub-codes —
    the query's per-(subspace, codeword) distance table is computed
    once and inlined — then the best ``k * rerank_factor`` candidates
    re-rank by exact float cosine.

    Determinism: the distance table is scaled to INTEGERS
    (floor(d * 1e6 + 0.5)), so the ADC score is a sum of m bigints —
    order-free and bit-identical in any engine; ranking ties break on
    id. The rerank is the proven-parity cosine fold. Scale shape: the
    codes scan is narrow (4 ints/vector), the table lookup is a
    literal element_at — no join, no shuffle before the TakeOrdered
    cut.
    """
    encoded, books = pq_encode_fixed(df, codebook_ids, m, vec_col, id_col)
    qvec = [float(x) for x in _query_row(df, query_vec_id, id_col, vec_col)[0]]
    return pq_topk_from_codes(
        encoded, books, qvec, k=k, rerank_factor=rerank_factor,
        vec_col=vec_col, id_col=id_col, exclude_id=query_vec_id,
    )


def pq_topk_from_codes(
    encoded: DataFrame,
    books,
    qvec: list[float],
    k: int = 10,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id=None,
) -> DataFrame:
    """The QUERY side of PQ top-k, on an already-encoded corpus: build
    the query's integer ADC table (:func:`_pq_adc_expr`), scan only
    the m sub-codes, cut to ``k * rerank_factor`` candidates, rerank
    by exact cosine. This is the stage a production deployment pays
    per query — the codes are encoded once (:func:`pq_encode_fixed` /
    :func:`pq_encode_with_books`), written to storage, and scanned many
    times; fusing build+query in one call (``pq_topk_fixed``) exists
    for the oracle-verified single-shot form.

    Scale shape (re-planned round 8): the ranking pass projects ONLY
    (id, codes) — the previous form dragged the full float vector
    through the scan and the TakeOrdered heap, a 10-25× wider read at
    corpus scale for a column only the final ≤ k*rerank_factor rows
    need. The winners' vectors are fetched by a broadcast equi-join
    on id (pushdown-able against parquet row-group stats) and the
    exact-cosine rerank runs on that bounded set. Same rows, same
    values, same tie-breaks as the fused form — only the read width
    changed."""
    m = len(books)
    adc = _pq_adc_expr(qvec, books, m)
    cand = encoded
    if exclude_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_id)
    ids = (
        cand.select(id_col, adc.cast("long").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k * rerank_factor)
    )
    # fetch branch: column pruning drops the encode projection here,
    # so this reads just (id, vec) filtered by the broadcast winner set
    fetched = encoded.select(id_col, vec_col).join(
        F.broadcast(ids), id_col
    )
    return _cosine_topk(
        _with_qvec(fetched, qvec),
        k, id_col, cosine_expr(vec_col, "__qvec"), "adc_dist",
    )


def _pq_adc_expr(qvec: list[float], books, m: int):
    """Integer ADC score expression for a query vector against
    ``__codes``: the per-(subspace, codeword) distance table computed
    driver-side with the SAME integer-quantized reduced score the
    encoders use (every sum is a sum of per-term bigints; every float
    op a single exactly-rounded IEEE op — see pq_encode_with_books's
    determinism contract), then scaled to bigints
    (``floor(d * 1e6 + 0.5)``) so per-row ADC sums are order-free and
    engine-exact. The oracle SQL re-derives the identical table from
    the same stored floats because no step depends on summation
    order. Shared by :func:`pq_topk_from_codes` and
    :func:`ivfpq_topk_serve`."""
    import math

    qs_int = _sumsq_int(qvec)
    dsub = len(qvec) // m
    dtab = []
    for j in range(m):
        qsub = qvec[j * dsub:(j + 1) * dsub]
        row = []
        for cw in books[j]:
            d = _pq_score(_sumsq_int(cw), _dot_int(qsub, cw), qs_int)
            row.append(int(math.floor(d * 1_000_000 + 0.5)))
        dtab.append(row)
    adc = None
    # one JVM-parsed SQL array literal per subspace instead of ks
    # F.lit() py4j round trips each (r11 — see ivfpq_topk_serve's
    # residual table note). Plain literals keep IntegerType when every
    # value fits int32 — the type F.lit() inferred before — and fall
    # back to L-suffixed bigints (the mixed-type coercion F.array()
    # would have applied) otherwise.
    for j in range(m):
        if all(-(1 << 31) <= v < (1 << 31) for v in dtab[j]):
            vals = ", ".join(str(v) for v in dtab[j])
        else:
            vals = ", ".join(f"{v}L" for v in dtab[j])
        term = F.expr(
            f"element_at(array({vals}), element_at(__codes, {j + 1}) + 1)"
        )
        adc = term if adc is None else adc + term
    return adc


def ivfpq_topk_fixed(
    df: DataFrame,
    centroid_ids: list[int],
    codebook_ids: list[int],
    query_vec_id: int,
    k: int = 10,
    m: int = 16,
    n_probe: int = 3,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ: the classic large-scale ANN pairing — the IVF coarse
    quantizer prunes the scan to ``n_probe`` cells, the PQ codes make
    the scan WITHIN those cells 16x narrower, and exact cosine
    reranks the bounded cut. At 100 TB of embeddings this is the
    layout that works: cells are parquet partitions (partition-pruned
    read), the per-cell payload is m small ints per vector, and the
    only full-width vector reads are the k*rerank_factor rerank rows.

    Both quantizers are the FIXED deterministic variants, so the
    entire pipeline — cell assignment, code assignment, integer ADC,
    rerank — replays exactly in the DuckDB oracle. With
    ``n_probe = len(centroid_ids)`` and a full-cover rerank this
    equals :func:`ivf_ann_fixed` (equality-tested), the same way PQ
    alone equals brute force."""
    indexed, cents = ivf_index_fixed(df, centroid_ids, vec_col, id_col)
    books, _ = _codebooks_from_ids(df, codebook_ids, m, vec_col, id_col)
    return ivfpq_topk_serve(
        indexed, cents, books, query_vec_id,
        k=k, n_probe=n_probe, rerank_factor=rerank_factor,
        vec_col=vec_col, id_col=id_col,
    )


def _codebooks_from_ids(
    df: DataFrame,
    codebook_ids: list[int],
    m: int,
    vec_col: str,
    id_col: str,
) -> tuple[list[list[list[float]]], int]:
    """Collect the caller-fixed codebook vectors (bounded: ks rows),
    unit-normalize with the quantized norm, slice into m per-subspace
    codebooks. Returns (books[subspace][codeword][dim], dsub)."""
    rows = (
        df.filter(F.col(id_col).isin(list(codebook_ids)))
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cw"))
        .collect()
    )
    rows.sort(key=lambda r: r.cid)
    _require_all_ids(rows, codebook_ids, "codebook", id_col)
    dim = len(rows[0].cw)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    units = [_unit_quantized(r.cw) for r in rows]
    return [
        [u[j * dsub:(j + 1) * dsub] for u in units] for j in range(m)
    ], dsub


def pq_encode_residual_fixed(
    indexed: DataFrame,
    books: list[list[list[float]]],
    cent_units: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "__cell",
) -> DataFrame:
    """RESIDUAL PQ encoder (the FAISS IVFADC layout): instead of the
    raw vector, each row encodes ``r = unit(x) - unit(centroid(cell))``
    — residuals concentrate around zero, so the same code budget
    spends its codewords on a tighter distribution and ADC ranks
    better at equal bytes (Jegou et al., "Product Quantization for
    Nearest Neighbor Search", §IV).

    Determinism contract (the one :func:`pq_encode_with_books`
    documents): unit(x) divides by the quantized norm (one
    exactly-rounded IEEE divide per element), the residual is one
    IEEE subtract of engine-identical doubles, every dot term
    quantizes to a bigint before summation, and the reduced score
    ``||cw||^2 - 2*dot(r_sub, cw)`` (the per-row ||r_sub||^2 constant
    is dropped — same argmin) combines the integers through single
    IEEE ops, then a ``floor(d*1e9 + 0.5)`` bigint argmin with
    first-match ties. No division by the residual norm anywhere, so
    no zero-norm guard is needed. Arrow-batched numpy like the raw
    encoder: the JVM expression form took 96-115 s on a 500-row
    fixture this kernel encodes in under 1 s. Pure per-row map: zero
    shuffle, zero row amplification."""
    import numpy as np

    m = len(books)
    dsub = len(books[0][0])
    bk = np.asarray(books, dtype=np.float64)              # (m, ks, dsub)
    cwsq_int = np.asarray(
        [[_sumsq_int(cw) for cw in books[j]] for j in range(m)],
        dtype=np.int64,
    )
    cwsq_d = cwsq_int / 1e12
    cents = np.asarray(cent_units, dtype=np.float64)      # (n_cells, dim)

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in indexed.schema.fields
    ) + ", __codes array<int>"

    def encode(batches):
        for pdf in batches:
            if len(pdf):
                x = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                s_int = (
                    np.floor((x * x) * 1e12 + 0.5).astype(np.int64)
                    .sum(axis=1)
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    u = x / np.sqrt(s_int / 1e12)[:, None]
                u = np.where((s_int == 0)[:, None], x, u)
                cell = pdf[cell_col].to_numpy().astype(np.int64)
                r = u - cents[cell]                        # (n, dim)
                rs = r.reshape(len(pdf), m, dsub)
                prods = rs[:, :, None, :] * bk[None, :, :, :]
                dot_int = (
                    np.floor(prods * 1e12 + 0.5).astype(np.int64)
                    .sum(axis=3)
                )
                d = cwsq_d[None, :, :] - 2.0 * (dot_int / 1e12)
                d_q = np.floor(d * 1e9 + 0.5).astype(np.int64)
                pdf = pdf.copy()
                pdf["__codes"] = [
                    c.tolist() for c in d_q.argmin(axis=2).astype("int32")
                ]
            else:
                pdf = pdf.copy()
                pdf["__codes"] = []
            yield pdf

    return indexed.mapInPandas(encode, out_schema)


def residualize_codebooks(
    df: DataFrame,
    centroid_ids: list[int],
    codebook_ids: list[int],
    m: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Codebooks that live in RESIDUAL space: each codebook source
    vector is residualized against its own assigned cell —
    ``unit(cb) - unit(centroid(cell(cb)))`` — then sliced per
    subspace, exactly as :func:`pq_encode_residual_fixed` residualizes
    the data. This matters: residual encoding with codewords drawn
    from RAW vector space loses to the raw path (the codebook
    distribution mismatches the residual distribution — measured by
    the calibration test), while residual-space codewords beat it at
    the same byte budget. The production analog trains KMeans on
    residual samples (FAISS IVFADC); this is its deterministic
    fixed-vector counterpart. All driver-side, bounded (ks + n_cells
    rows collected)."""
    cent_rows = (
        df.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c"))
        .collect()
    )
    cent_rows.sort(key=lambda r: r.cid)
    _require_all_ids(cent_rows, centroid_ids, "centroid", id_col)
    cent_units = [_unit_quantized(r.c) for r in cent_rows]
    cb_rows = (
        df.filter(F.col(id_col).isin(list(codebook_ids)))
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cw"))
        .collect()
    )
    cb_rows.sort(key=lambda r: r.cid)
    _require_all_ids(cb_rows, codebook_ids, "codebook", id_col)
    dim = len(cb_rows[0].cw)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    resids = []
    for r in cb_rows:
        u = _unit_quantized(r.cw)
        # assign to the cell the quantizer would pick (argmax cosine,
        # ties to the lower cell — mirrors ivf_index_fixed)
        best_cell, best_sim = 0, None
        for cell, cr in enumerate(cent_rows):
            nn = _l2(r.cw) * _l2(cr.c)
            sim = (
                round(
                    sum(float(a) * float(b) for a, b in zip(r.cw, cr.c))
                    / nn,
                    9,
                )
                if nn
                else 0.0
            )
            if best_sim is None or sim > best_sim:
                best_cell, best_sim = cell, sim
        cu = cent_units[best_cell]
        resids.append([u[i] - cu[i] for i in range(dim)])
    return [
        [rv[j * dsub:(j + 1) * dsub] for rv in resids] for j in range(m)
    ]


def pq_train_residual(
    indexed: DataFrame,
    cent_units: list[list[float]],
    m: int = 16,
    ks: int = 16,
    vec_col: str = "embedding",
    cell_col: str = "__cell",
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks on RESIDUALS — the true FAISS
    IVFADC trainer: fit KMeans over ``unit(x) - unit(centroid(cell))``
    samples so the codewords live in residual space. This is what
    makes residual encoding actually win: with TRAINED centroids the
    residuals concentrate near zero and a pooled residual codebook
    covers them tightly, whereas codewords drawn from raw vector
    space mismatch the residual distribution and LOSE to the raw
    path at equal budget (measured in the calibration test). Same
    distributed m-independent-fits shape as :func:`pq_train`."""
    dim = len(cent_units[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    s_int = F.aggregate(
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * x.cast("double") * F.lit(1e12)
                + F.lit(0.5)
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    unit = F.when(
        s_int == 0, F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: x.cast("double")
            / F.sqrt(s_int.cast("double") / F.lit(1e12)),
        )
    )
    cu = F.element_at(F.lit(cent_units), F.col(cell_col) + 1)
    res_df = indexed.select(
        F.zip_with(unit, cu, lambda a, b: a - b).alias("__r")
    )
    return _fit_subspace_books(res_df, "__r", m, dsub, ks, seed)


def ivfpq_topk_serve(
    indexed: DataFrame,
    cents: DataFrame,
    books: list[list[list[float]]],
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 3,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
    unit_centroids: bool = True,
) -> DataFrame:
    """Serve an IVF-PQ top-k query against ANY (indexed, cents,
    books) triple — trained (ivf_index + pq_train/pq_train_residual)
    or fixed (ivf_index_fixed + id-derived books). ``residual=True``
    scores against residual-encoded codes with per-cell ADC tables;
    ``residual=False`` is the raw-vector layout with one
    cell-independent table. Shared by :func:`ivfpq_topk_fixed` and
    :func:`ivfpq_topk_residual` (their oracle-verified forms) and by
    the trained-quantizer calibration.

    ``unit_centroids`` picks the cell reference vector residuals are
    taken against: True unit-normalizes the centroid — correct when
    centroids are corpus VECTORS (the fixed quantizer), whose norms
    are arbitrary; False uses the raw centroid — correct for KMEANS
    centers, which are means of unit vectors and live INSIDE the unit
    ball (||mean|| < 1 on spread data; stretching such a center to
    norm 1 moves it AWAY from its cluster and inflates every residual
    past the raw vectors' own norm — measured: it flips the
    residual-vs-raw calibration from winning to losing)."""
    import math

    m = len(books)
    dsub = len(books[0][0])
    if residual:
        cent_rows = sorted(cents.collect(), key=lambda r: r.cell)  # bounded
        if unit_centroids:
            cent_units = [_unit_quantized(r.centroid) for r in cent_rows]
        else:
            cent_units = [[float(x) for x in r.centroid] for r in cent_rows]
        encoded = pq_encode_residual_fixed(indexed, books, cent_units, vec_col)
    else:
        encoded = pq_encode_with_books(indexed, books, vec_col)

    qvec = [float(x) for x in _query_row(indexed, query_vec_id, id_col, vec_col)[0]]
    probe = _probe_cells(cents, qvec, n_probe)
    cwsq = [[_sumsq_int(cw) for cw in books[j]] for j in range(m)]
    if residual:
        # per-cell ADC tables: the query residual differs per cell, so
        # the table is indexed (cell, subspace, codeword) — bounded
        # (n_cells * m * ks integers), driver-computed once per query.
        # UNLIKE the encode argmin (and unlike the non-residual path,
        # where it is cell-independent), the ||rq_sub||^2 term must
        # STAY: it is constant across codewords but differs ACROSS
        # CELLS, and candidates from different probed cells compare by
        # total ADC — dropping it would make far cells look close.
        qu = _unit_quantized(qvec)
        # query residual per cell, hoisted out of the subspace loop
        # (it does not depend on j)
        rqs = [[qu[i] - cu[i] for i in range(len(qu))] for cu in cent_units]
        adc = None
        for j in range(m):
            dtab_j = []
            for ci in range(len(cent_units)):
                rsub = rqs[ci][j * dsub:(j + 1) * dsub]
                rqsq = _sumsq_int(rsub)
                dtab_j.append(
                    [
                        int(
                            math.floor(
                                (
                                    rqsq / 1e12
                                    + cwsq[j][c] / 1e12
                                    - 2.0
                                    * (_dot_int(rsub, books[j][c]) / 1e12)
                                )
                                * 1_000_000
                                + 0.5
                            )
                        )
                        for c in range(len(books[j]))
                    ]
                )
            # ONE JVM-parsed SQL literal per subspace (r11, guide §1/§5
            # driver work): assembling this n_cells x ks table from
            # nested F.lit()/Column calls cost ~2 s of driver-side
            # py4j round trips PER QUERY (profiled — it dominated the
            # serve path); the SQL string parses in the JVM in
            # milliseconds. L-suffixed literals keep the bigint
            # element type F.lit() inferred for Python ints, so the
            # summed ADC value is bit-identical.
            arr_sql = "array({})".format(", ".join(
                "array({})".format(", ".join(f"{v}L" for v in row))
                for row in dtab_j
            ))
            term = F.expr(
                f"element_at(element_at({arr_sql}, __cell + 1), "
                f"element_at(__codes, {j + 1}) + 1)"
            )
            adc = term if adc is None else adc + term
    else:
        adc = _pq_adc_expr(qvec, books, m)
    cand = (
        encoded.join(
            F.broadcast(probe), F.col("__cell") == F.col("__probe_cell")
        )
        .filter(F.col(id_col) != query_vec_id)
        .withColumn("adc_dist", adc.cast("long"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k * rerank_factor)
    )
    return _cosine_topk(
        _with_qvec(cand, qvec),
        k, id_col, cosine_expr(vec_col, "__qvec"), "adc_dist",
    )


def ivfpq_topk_residual(
    df: DataFrame,
    centroid_ids: list[int],
    codebook_ids: list[int],
    query_vec_id: int,
    k: int = 10,
    m: int = 16,
    n_probe: int = 3,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the standard FAISS IVFADC
    pairing: the coarse quantizer prunes the scan to ``n_probe``
    cells, PQ codes of the per-cell RESIDUALS rank within them, exact
    cosine reranks the bounded cut. Against :func:`ivfpq_topk_fixed`
    (raw-vector codes) only the encoded quantity changes; the ADC
    table becomes (cell, subspace, codeword)-indexed because the
    query's residual differs per probed cell.

    100 TB shape unchanged from ivfpq_topk_fixed: cells are partition
    prunes, the per-cell scan reads m small ints, the per-cell ADC
    tables are driver-computed bounded literals (n_cells x m x ks),
    and the only full-width reads are the rerank rows. Fully
    deterministic (both quantizers fixed, residuals exactly-rounded
    IEEE ops) — the DuckDB oracle replays every stage."""
    indexed, cents = ivf_index_fixed(df, centroid_ids, vec_col, id_col)
    if books is None:
        # oracle-parity default: codewords straight from the fixed ids
        # (raw space). For QUALITY pass residual-space books —
        # pq_train_residual (trained) or residualize_codebooks (fixed)
        books, _ = _codebooks_from_ids(df, codebook_ids, m, vec_col, id_col)
    return ivfpq_topk_serve(
        indexed, cents, books, query_vec_id,
        k=k, n_probe=n_probe, rerank_factor=rerank_factor,
        vec_col=vec_col, id_col=id_col, residual=True,
    )


def ivf_cell_drift(
    corpus: DataFrame,
    batch: DataFrame,
    centroid_ids: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    warn_ratio: float = 2.0,
) -> DataFrame:
    """Retrain monitor for an incrementally-maintained IVF index: how
    the INCOMING batch distributes over the FROZEN coarse quantizer's
    cells versus the accepted corpus. A quantizer balances probe cost
    only while data still looks like what it was trained on — when new
    data piles into a few cells (cell share ratio past ``warn_ratio``)
    those cells' posting lists outgrow the probe budget and the
    quantizer should be retrained (the same signal FAISS users watch
    via imbalance_factor).

    Centroids derive from ``corpus`` rows with ids ``centroid_ids``
    (the frozen quantizer — same convention as
    :func:`ivf_index_fixed`, so the monitor watches EXACTLY the index
    the incremental pipeline maintains). Output: one row per cell —
    (cell, corpus_count, batch_count, corpus_ppm, batch_ppm, drifted)
    with ppm in pure-integer round-half-up arithmetic and ``drifted``
    decided by integer cross-multiplication
    (``batch_share > warn_ratio * corpus_share``, evaluated as
    ``batch_count * corpus_total * num > corpus_count * batch_total
    * den`` for warn_ratio = num/den in thousandths) — no float ever
    enters the verdict, so the flag hash-checks in any engine. A cell
    the corpus never populated drifts whenever the batch lands
    anything in it.

    100 TB shape: cell assignment is the literal-centroid per-row
    argmax (zero shuffle); each side then collapses to <= n_cells
    rows in one map-side-combined aggregate; everything after joins
    bounded frames. No window over data, no pairwise anything.
    """
    num = int(round(warn_ratio * 1000))
    rows = fixed_centroid_rows(corpus, centroid_ids, vec_col, id_col)
    c_cells = (
        assign_cells_fixed(corpus, rows, vec_col)
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("corpus_count"))
    )
    b_cells = (
        assign_cells_fixed(batch, rows, vec_col)
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("batch_count"))
    )
    spark = corpus.sparkSession
    cells = spark.range(len(rows)).select(
        F.col("id").cast("int").alias("__cell")
    )
    j = (
        cells.join(c_cells, "__cell", "left")
        .join(b_cells, "__cell", "left")
        .na.fill(0, ["corpus_count", "batch_count"])
    )
    tot = j.select(
        F.sum("corpus_count").alias("__tc"), F.sum("batch_count").alias("__tb")
    )
    ppm_c = F.when(F.col("__tc") == 0, F.lit(0)).otherwise(
        F.expr("(2000000 * corpus_count + __tc) div (2 * __tc)")
    )
    ppm_b = F.when(F.col("__tb") == 0, F.lit(0)).otherwise(
        F.expr("(2000000 * batch_count + __tb) div (2 * __tb)")
    )
    # decimal(38,0) operands: count x total x ratio overflows int64
    # around 1e12-row sides, well inside 100 TB territory
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    drifted = (
        dec(F.col("batch_count")) * dec(F.col("__tc")) * F.lit(num)
        > dec(F.col("corpus_count")) * dec(F.col("__tb")) * F.lit(1000)
    )
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            F.col("__cell").alias("cell"),
            F.col("corpus_count").cast("long").alias("corpus_count"),
            F.col("batch_count").cast("long").alias("batch_count"),
            ppm_c.cast("long").alias("corpus_ppm"),
            ppm_b.cast("long").alias("batch_ppm"),
            drifted.alias("drifted"),
        )
    )


def embedding_quality(
    df: DataFrame,
    expected_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vector hygiene screen ahead of any ANN build: every operator in
    this module assumes finite, non-zero, fixed-dimension vectors —
    a NaN poisons every distance it touches, a zero vector has no
    cosine direction, and a ragged dimension breaks PQ sub-slicing.
    Run this FIRST and route failures to quarantine, the same
    screen-then-build order the text side uses (mojibake before
    heuristics).

    Output per vector: (id, dim, n_bad, norm_sq_micros, keep) —
    ``n_bad`` counts NaN/Inf components, ``norm_sq_micros`` is the
    squared L2 norm in round-half-up integer micros (0 when any
    component is non-finite — a poisoned norm is no norm), keep =
    right dimension AND all-finite AND norm > 0.

    Pure narrow array expressions — zero shuffle, one pass; null
    vectors surface as dim 0, keep false.
    """
    v = F.coalesce(
        F.col(vec_col), F.expr("cast(array() as array<double>)")
    )
    dim = F.size(v).cast("long")
    n_bad = F.size(
        F.filter(v, lambda x: F.isnan(x) | (F.abs(x) == float("inf")))
    ).cast("long")
    norm_sq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
    )
    norm_micros = F.when(n_bad > 0, F.lit(0)).otherwise(
        F.floor(norm_sq * F.lit(1e6) + F.lit(0.5))
    ).cast("long")
    return df.select(
        F.col(id_col),
        dim.alias("dim"),
        n_bad.alias("n_bad"),
        norm_micros.alias("norm_sq_micros"),
        (
            (dim == F.lit(int(expected_dim)))
            & (n_bad == 0)
            & (norm_micros > 0)
        ).alias("keep"),
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    k_lex: int = 20,
    k_vec: int = 20,
    rrf_k: int = 60,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack/Clarke/
    Buettcher 2009): fuse a lexical BM25 top-``k_lex`` list and a
    dense cosine top-``k_vec`` list into one ranking —
    ``score(d) = sum over lists of 1/(rrf_k + rank_list(d))`` —
    the standard zero-tuning combiner behind most production hybrid
    search stacks (it needs no score calibration because it consumes
    RANKS, not scores).

    Engine parity: each reciprocal contribution is the INTEGER
    ``1_000_000 // (rrf_k + rank)`` so the fused score is an exact
    bigint sum — no float division crosses engines. The dense list
    ranks on cosine quantized to round-half-up micros (on top of the
    module's round(6) convention) so rank order itself is
    integer-decided.

    Scale shape: both candidate lists are already top-k cuts (BM25's
    TakeOrdered, the brute/ANN scan's TakeOrdered), so the fusion
    operates on at most ``k_lex + k_vec`` rows — the rank windows and
    the full-outer join are driver-trivial regardless of corpus size,
    and the expensive parts inherit their operators' documented
    100 TB shapes (term-prefiltered explode; broadcast query side).
    Swap :func:`topk_bruteforce` for any ANN variant without touching
    the fusion.

    Output: (doc_id, rrf_micros, lex_rank, vec_rank) — ranks are
    1-based, NULL when the doc appears in only one list; top-``k`` by
    (rrf_micros desc, doc_id).
    """
    from pyspark.sql import Window

    from sslr_spark.functions.text import bm25_topk

    lex = bm25_topk(
        docs, query_terms, k=k_lex, text_col=text_col, id_col=doc_id_col
    ).select(
        F.col(doc_id_col).alias("doc_id"),
        F.row_number()
        .over(
            Window.orderBy(F.col("score_micros").desc(), F.col(doc_id_col))
        )
        .alias("lex_rank"),
    )
    dense = (
        topk_bruteforce(
            emb, query_vec_id, k=k_vec, vec_col=vec_col, id_col=vec_id_col
        )
        .select(
            F.col(vec_id_col).alias("doc_id"),
            F.floor(F.col("cos_sim") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("__cos_micros"),
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("__cos_micros").desc(), F.col("doc_id")))
            .alias("vec_rank"),
        )
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .withColumn(
            "rrf_micros",
            (
                F.coalesce(
                    F.floor(F.lit(1_000_000) / (F.lit(rrf_k) + F.col("lex_rank"))),
                    F.lit(0),
                )
                + F.coalesce(
                    F.floor(F.lit(1_000_000) / (F.lit(rrf_k) + F.col("vec_rank"))),
                    F.lit(0),
                )
            ).cast("long"),
        )
        .select("doc_id", "rrf_micros", "lex_rank", "vec_rank")
    )
    return fused.orderBy(F.col("rrf_micros").desc(), F.col("doc_id")).limit(k)


def topk_matryoshka(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    prefix_dim: int = 4,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage ANN over Matryoshka-style embeddings (Kusupati et
    al. 2022): stage 1 ranks on the cosine of the first
    ``prefix_dim`` components only (MRL-trained embeddings front-load
    information, so the prefix is a usable coarse score), keeps a
    ``shortlist``; stage 2 reranks the shortlist with the full
    vector. The I/O story at 100 TB: the prefix scan reads a
    ``prefix_dim / d`` slice of the vector bytes (store the prefix as
    its own column/file for real column pruning — same narrow-scan
    re-plan as the PQ ranking scan), and only ``shortlist`` full
    vectors are ever touched per query.

    Both stages quantize their cosine to round-half-up micros before
    ranking (ties on id), so the cut and the final order are
    integer-decided — engine-exact. Output: (id, cos_prefix_micros,
    cos_full_micros), top-``k`` by full-vector cosine.

    A zero-norm vector (or zero-norm PREFIX slice — possible even for
    nonzero vectors) makes the cosine 0/0: Spark yields NaN→NULL
    while DuckDB sorts NaN highest, so such rows would diverge
    between engine and oracle. Both stages therefore guard the
    denominator with nullif and coalesce the quantized score to a
    MIN-sentinel, ranking undefined-similarity rows last on every
    engine (the oracle SQL applies the identical guard).
    """
    sentinel = -(1 << 62)

    def _micros(cos):
        return F.coalesce(
            F.floor(F.round(cos, 6) * F.lit(1e6) + F.lit(0.5)).cast(
                "long"
            ),
            F.lit(sentinel),
        )

    pref = f"slice({vec_col}, 1, {prefix_dim})"
    q = df.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec"),
        F.expr(pref).alias("__qpref"),
    )
    cos_p = dot_expr("__pref", "__qpref") / F.nullif(
        norm_expr("__pref") * norm_expr("__qpref"), F.lit(0.0)
    )
    stage1 = (
        df.filter(F.col(id_col) != query_vec_id)
        .withColumn("__pref", F.expr(pref))
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            vec_col,
            "__qvec",
            _micros(cos_p).alias("cos_prefix_micros"),
        )
        .orderBy(F.col("cos_prefix_micros").desc(), F.col(id_col))
        .limit(shortlist)
    )
    cos_f = dot_expr(vec_col, "__qvec") / F.nullif(
        norm_expr(vec_col) * norm_expr("__qvec"), F.lit(0.0)
    )
    return (
        stage1.select(
            id_col,
            "cos_prefix_micros",
            _micros(cos_f).alias("cos_full_micros"),
        )
        .orderBy(F.col("cos_full_micros").desc(), F.col(id_col))
        .limit(k)
    )
