"""Round-8 regression tests: the four ADVICE.md findings.

1. stream_sessionize INVALID_TIMEOUT_TIMESTAMP when a below-watermark
   event starts a fresh session (high) — plus the new late-drop metric.
2. parse_mp4 aborts on ISO-BMFF 64-bit (size==1 largesize) and
   size==0 (to-EOF) boxes (low).
3. curation near-dup persist is releasable instead of living for the
   application lifetime (low) — now tests/test_curation.py's landing
   and release tests.
4. _codebooks_from_ids silently shrinks when a subset of ids is
   missing, shifting every code index (low).
"""
from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- 1


def _write_file(spark, src, rows):
    spark.createDataFrame(rows, "user_id long, ts_us long").select(
        "user_id", F.timestamp_micros("ts_us").alias("ts")
    ).coalesce(1).write.mode("append").parquet(src)


@pytest.mark.slow
def test_sessionize_late_event_fresh_user_does_not_crash(
    spark, tmp_path
):
    """ADVICE repro: gap=10min, watermark=2min, files
    (1,t0),(2,t0+100min),(3,t0+1min). User 3's only event arrives
    below the watermark with NO live state; last+gap is below the
    current watermark, which used to raise INVALID_TIMEOUT_TIMESTAMP
    and kill the whole query. The clamp persists it and the next
    watermark advance flushes it as a fresh session."""
    from sslr_spark.streaming.pipeline import stream_sessionize

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    t0 = 1_700_000_000_000_000
    minute = 60_000_000

    _write_file(spark, src, [(1, t0)])
    _write_file(spark, src, [(2, t0 + 100 * minute)])
    _write_file(spark, src, [(3, t0 + 1 * minute)])  # late, fresh user
    _write_file(spark, src, [(-1, t0 + 500 * minute)])  # flush sentinels
    _write_file(spark, src, [(-2, t0 + 600 * minute)])
    stream_sessionize(
        spark, src, spark.read.parquet(src).schema, out,
        str(tmp_path / "ckpt"),
        gap_minutes=10, watermark="2 minutes", max_files_per_trigger=1,
    )
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(out).filter("user_id > 0").collect()
    }
    # the late arrival starts a fresh session, as the docstring says
    assert got == {
        (1, t0, t0, 1),
        (2, t0 + 100 * minute, t0 + 100 * minute, 1),
        (3, t0 + 1 * minute, t0 + 1 * minute, 1),
    }


@pytest.mark.slow
def test_sessionize_late_drop_metric(spark, tmp_path):
    """Events dropped by closed-session immutability are counted and
    surfaced via the metrics dict (verdict item 6)."""
    from sslr_spark.streaming.pipeline import stream_sessionize

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    t0 = 1_700_000_000_000_000
    minute = 60_000_000

    _write_file(spark, src, [(1, t0)])
    # advances the watermark far past t0; user 1's open session is now
    # the one at t0+100min
    _write_file(spark, src, [(1, t0 + 100 * minute)])
    # TWO late events for user 1, below the open session's own
    # horizon: dropped by closed-session immutability
    _write_file(spark, src, [(1, t0 + 1 * minute), (1, t0 + 2 * minute)])
    _write_file(spark, src, [(-1, t0 + 500 * minute)])
    _write_file(spark, src, [(-2, t0 + 600 * minute)])
    metrics: dict = {}
    stream_sessionize(
        spark, src, spark.read.parquet(src).schema, out,
        str(tmp_path / "ckpt"),
        gap_minutes=10, watermark="2 minutes", max_files_per_trigger=1,
        metrics=metrics,
    )
    assert metrics["late_dropped"] == 2
    got = {
        (r.user_id, r.session_start_us, r.n_events)
        for r in spark.read.parquet(out).filter("user_id > 0").collect()
    }
    assert got == {(1, t0, 1), (1, t0 + 100 * minute, 1)}


@pytest.mark.slow
def test_sessionize_late_merge_into_stale_state_does_not_crash(
    spark, tmp_path
):
    """Second crash path from ADVICE: a below-watermark event MERGES
    into a still-live session whose last+gap is already below the
    watermark (new data supersedes a pending timeout for the key, so
    the stale state is handed to the operator with the watermark far
    ahead). Unclamped, re-setting the timeout raises
    INVALID_TIMEOUT_TIMESTAMP; clamped, the merged session flushes on
    the next watermark advance."""
    from sslr_spark.streaming.pipeline import stream_sessionize

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    t0 = 1_700_000_000_000_000
    minute = 60_000_000

    _write_file(spark, src, [(1, t0)])
    # advances the watermark to t0+98min; user 1's state (timeout
    # t0+10min) is now stale but still live — timeouts only fire in a
    # batch, and the next batch brings user 1 DATA instead
    _write_file(spark, src, [(9, t0 + 100 * minute)])
    # late event within gap of the stale session's start: merges
    _write_file(spark, src, [(1, t0 + 1 * minute)])
    _write_file(spark, src, [(-1, t0 + 500 * minute)])
    _write_file(spark, src, [(-2, t0 + 600 * minute)])
    stream_sessionize(
        spark, src, spark.read.parquet(src).schema, out,
        str(tmp_path / "ckpt"),
        gap_minutes=10, watermark="2 minutes", max_files_per_trigger=1,
    )
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(out).filter("user_id = 1").collect()
    }
    assert got == {(1, t0, t0 + 1 * minute, 2)}


@pytest.mark.slow
def test_sessionize_batch_equals_streaming_on_in_horizon_data(
    spark, tmp_path
):
    """Property (verdict item 3): on data within the streaming
    lateness horizon, the batch gaps-and-islands sessionizer emits
    EXACTLY the streaming operator's rows. Deterministic pseudo-random
    corpus: 300 events, 12 users, gap structure spanning merge /
    singleton / long-session cases; files staged in time order so the
    watermark drops nothing."""
    from sslr_spark.streaming.pipeline import (
        sessionize_batch,
        stream_sessionize,
    )

    t0 = 1_700_000_000_000_000
    minute = 60_000_000
    # LCG so the corpus is reproducible without random/Date
    seed = 12345
    rows = []
    for i in range(300):
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        user = seed % 12
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        # gaps cluster under and over the 10-minute session gap
        step = (seed % 25) * minute  # 0..24 min
        prev = rows[-1][1] if rows else t0
        rows.append((user, prev + step))
    rows.sort(key=lambda r: r[1])

    src = str(tmp_path / "src")
    os.makedirs(src)
    third = len(rows) // 3
    for chunk in (rows[:third], rows[third:2 * third], rows[2 * third:]):
        _write_file(spark, src, chunk)
    last = rows[-1][1]
    _write_file(spark, src, [(-1, last + 500 * minute)])
    _write_file(spark, src, [(-2, last + 600 * minute)])

    out = str(tmp_path / "out")
    stream_sessionize(
        spark, src, spark.read.parquet(src).schema, out,
        str(tmp_path / "ckpt"),
        gap_minutes=10, watermark="2 minutes", max_files_per_trigger=1,
    )
    streamed = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.read.parquet(out).filter("user_id >= 0").collect()
    }

    ev = spark.createDataFrame(
        rows, "user_id long, ts_us long"
    ).select("user_id", F.timestamp_micros("ts_us").alias("ts"))
    batched = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize_batch(ev, gap_minutes=10).collect()
    }
    assert streamed == batched
    assert len(batched) > 20  # non-degenerate corpus


# ---------------------------------------------------------------- 2


def test_parse_mp4_largesize_and_size0_boxes():
    """64-bit boxes (size==1 + u64 largesize) and size==0 (extends to
    EOF) must not abort the walk — a streamed-layout MP4 with a big
    mdat BEFORE moov must still decode."""
    from sslr_spark.functions.multimodal import make_mp4, parse_mp4

    base = make_mp4(640, 360, 5_000)
    assert parse_mp4(base) == (640, 360, 5_000)

    def box64(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", 1) + typ
            + struct.pack(">Q", 16 + len(payload)) + payload
        )

    # split: ftyp | <mdat…> | moov (everything after ftyp)
    ftyp_size = struct.unpack_from(">I", base, 0)[0]
    moov_at = base.index(b"moov") - 4
    rest = base[moov_at:]

    # variant A: 64-bit mdat between ftyp and moov
    v64 = base[:ftyp_size] + box64(b"mdat", b"\0" * 32) + rest
    assert parse_mp4(v64) == (640, 360, 5_000)

    # variant B: trailing size==0 mdat extends to EOF
    v0 = base + struct.pack(">I", 0) + b"mdat" + b"\0" * 16
    assert parse_mp4(v0) == (640, 360, 5_000)

    # variant C: truncated largesize header still returns cleanly
    trunc = base[:ftyp_size] + struct.pack(">I", 1) + b"mdat"
    assert parse_mp4(trunc) is None


def test_decode_pixels_jpeg_stub_and_gate(spark):
    """The optional-codec gate: 'stub' is deterministic and
    md5-derived; 'auto' equals 'stub' when pillow is absent; 'pil'
    raises a clear ImportError without the codec. With pillow
    installed, the PIL branch is exercised instead (gated below)."""
    import hashlib

    from sslr_spark.functions.multimodal import (
        decode_pixels_jpeg,
        jpeg_pixel_codec,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    binary = with_binary_payload(docs)
    stub = {
        r.doc_id: (r.width, r.height, r.mean_luma)
        for r in decode_pixels_jpeg(binary, codec="stub").collect()
    }
    h = hashlib.md5(b"alpha").digest()
    assert stub[1] == (64 + h[0] % 192, 64 + h[1] % 192, h[2])

    if jpeg_pixel_codec() is None:
        auto = {
            r.doc_id: (r.width, r.height, r.mean_luma)
            for r in decode_pixels_jpeg(binary, codec="auto").collect()
        }
        assert auto == stub
        with pytest.raises(ImportError, match="pillow"):
            decode_pixels_jpeg(binary, codec="pil").collect()
    with pytest.raises(ValueError, match="codec"):
        decode_pixels_jpeg(binary, codec="ffmpeg")


@pytest.mark.skipif(
    __import__("sslr_spark.functions.multimodal", fromlist=["x"])
    .jpeg_pixel_codec() is None,
    reason="pillow not installed (the zero-dependency default)",
)
def test_decode_pixels_jpeg_real_codec(spark):
    """Activates only when pillow is present: a real 2x2 grayscale
    JPEG decodes to its true dimensions and a sane mean luma."""
    import io

    from sslr_spark.functions.multimodal import (
        decode_pixels_jpeg,
        jpeg_pixel_codec,
    )

    image_mod = jpeg_pixel_codec()
    buf = io.BytesIO()
    image_mod.new("L", (2, 2), color=128).save(buf, format="JPEG")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    row = decode_pixels_jpeg(df, codec="pil").first()
    assert (row.width, row.height) == (2, 2)
    assert 96 <= row.mean_luma <= 160


# ---------------------------------------------------------------- 3


def test_weighted_sample_bias_and_determinism(spark):
    """Integer-weight bottom-k lottery: heavier rows win
    proportionally more (statistical bias over many disjoint trials,
    deterministic so no flake), re-runs reproduce the identical
    winner set, and out-of-range weights raise."""
    from sslr_spark.functions.sampling import weighted_sample

    # 500 strata, each a two-horse race: weight 6 vs weight 1. The
    # heavy row should win ~6/7 of strata (ticket-replication lottery
    # is close to proportional at small k); lottery outcomes are fixed
    # by the hash, so the assertion is exact-reproducible.
    rows = []
    for s in range(500):
        rows.append((s, s * 2, 6))
        rows.append((s, s * 2 + 1, 1))
    df = spark.createDataFrame(rows, "strat int, id long, w int")
    won = weighted_sample(df, "id", "w", k=1, by="strat")
    heavy_wins = won.filter(F.col("w") == 6).count()
    assert won.count() == 500
    assert 350 <= heavy_wins <= 480  # ~6/7 of 500 = 428, wide margin

    again = weighted_sample(df, "id", "w", k=1, by="strat")
    assert {r.id for r in won.collect()} == {r.id for r in again.collect()}

    bad = spark.createDataFrame([(1, 0)], "id long, w int")
    with pytest.raises(Exception, match="must be an integer"):
        weighted_sample(bad, "id", "w", k=1).collect()
    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, "id", "w", k=0)


# ---------------------------------------------------------------- 4


def _vec_df(spark, n=24, dim=8):
    import math

    rows = [
        (i, [math.sin(i * dim + j) for j in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_near_dup_pairs_fast_equals_portable(spark):
    """The numpy-BLAS fast mode emits the same pair SET as the
    oracle-parity expression join (values may differ in the 6th
    decimal at the threshold boundary; this corpus has none there —
    planted exact duplicates sit at cos 1.0 and everything else far
    below)."""
    import math

    from sslr_spark.functions.dedup import embedding_near_dup_pairs

    rows = []
    for i in range(60):
        base = [math.sin(i * 17 + j) for j in range(16)]
        rows.append((i, i % 4, base))
        rows.append((i + 1000, i % 4, list(base)))  # exact duplicate
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    portable = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.95, mode="portable"
        ).collect()
    }
    fast = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.95, mode="fast"
        ).collect()
    }
    assert portable == fast
    assert {(i, i + 1000) for i in range(60)} <= fast
    with pytest.raises(ValueError, match="mode"):
        embedding_near_dup_pairs(df, mode="numpy")


def test_incremental_semantic_fast_equals_portable(spark):
    """Batch-vs-corpus semantic dedup: the cogrouped BLAS mode flags
    the same batch vectors as the expression join, the quantizer is
    frozen on the CORPUS, and a batch vector identical to a corpus
    vector with the SAME id does not match itself."""
    import math

    from sslr_spark.functions.dedup import incremental_semantic_dedup

    dim = 8
    corpus_rows = [
        (i, [math.sin(i * 31 + j) for j in range(dim)]) for i in range(80)
    ]
    # 5 mutually-orthogonal one-hot corpus vectors: near NOTHING but
    # themselves (the sin lattice has genuine near-pairs, so same-id
    # self-masking must be probed on vectors with no other neighbor)
    onehots = [
        (200 + i, [1.0 if j == i else 0.0 for j in range(dim)])
        for i in range(5)
    ]
    corpus_rows = corpus_rows + onehots
    # batch: 10 exact copies of corpus vectors (NEW ids -> dups),
    # 10 fresh vectors far from everything, and the one-hot rows
    # themselves (same id -> self must not match)
    batch_rows = (
        [(1000 + i, list(corpus_rows[i][1])) for i in range(10)]
        + [
            (2000 + i, [100.0 + i * 7 + j for j in range(dim)])
            for i in range(10)
        ]
        + [(vid, list(v)) for vid, v in onehots]
    )
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(corpus_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    kw = dict(threshold=0.999, max_cell_size=None)
    portable = {
        (r.vec_id, r.in_corpus)
        for r in incremental_semantic_dedup(
            batch, corpus, [0, 20, 60], mode="portable", **kw
        ).collect()
    }
    fast = {
        (r.vec_id, r.in_corpus)
        for r in incremental_semantic_dedup(
            batch, corpus, [0, 20, 60], mode="fast", **kw
        ).collect()
    }
    assert portable == fast
    flagged = {v for v, d in fast if d}
    assert {1000 + i for i in range(10)} <= flagged  # exact copies
    assert not flagged & {2000 + i for i in range(10)}  # fresh
    # same-id one-hot rows: orthogonal to every other corpus vector,
    # so only a self-match could flag them — and self is masked
    assert not flagged & {200 + i for i in range(5)}


def test_topk_blocked_fast_equals_portable(spark):
    """The BLAS kNN-graph mode reproduces the window form exactly:
    same (src, dst, rank) triples and same rounded sims — the rank
    key is (round(sim,6) desc, dst asc) in both."""
    import math

    from sslr_spark.functions.similarity import all_pairs_topk_blocked

    rows = [
        (i, i % 3, [math.cos(i * 13 + j) for j in range(12)])
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    portable = {
        (r.src, r.dst, r.rank, r.cos_sim)
        for r in all_pairs_topk_blocked(df, k=4, mode="portable").collect()
    }
    fast = {
        (r.src, r.dst, r.rank, r.cos_sim)
        for r in all_pairs_topk_blocked(df, k=4, mode="fast").collect()
    }
    assert portable == fast
    assert len(fast) == 90 * 4


def test_fast_kernels_drop_null_blocks_like_the_join(spark):
    """Review finding: groupBy pools NULL keys into one pseudo-block,
    but the portable equi-join never matches null = null — the fast
    kernels must emit nothing for null-labeled rows."""
    from sslr_spark.functions.dedup import embedding_near_dup_pairs
    from sslr_spark.functions.similarity import all_pairs_topk_blocked

    rows = [
        (1, None, [1.0, 0.0]),
        (2, None, [1.0, 0.0]),  # identical — would pair if pooled
        (3, 7, [0.0, 1.0]),
        (4, 7, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    for mode in ("portable", "fast"):
        pairs = {
            (r.vec_a, r.vec_b)
            for r in embedding_near_dup_pairs(
                df, threshold=0.99, mode=mode
            ).collect()
        }
        assert pairs == {(3, 4)}, mode
        knn = {
            (r.src, r.dst)
            for r in all_pairs_topk_blocked(df, k=2, mode=mode).collect()
        }
        assert knn == {(3, 4), (4, 3)}, mode


def test_topk_blocked_zero_norm_rows_emit_nothing(spark):
    """Review finding: the portable window used to hand NULL-cosine
    neighbors a rank slot; both modes now drop them."""
    from sslr_spark.functions.similarity import all_pairs_topk_blocked

    rows = [
        (1, 0, [0.0, 0.0]),  # zero norm: no defined similarity
        (2, 0, [1.0, 0.0]),
        (3, 0, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    for mode in ("portable", "fast"):
        got = {
            (r.src, r.dst)
            for r in all_pairs_topk_blocked(df, k=3, mode=mode).collect()
        }
        assert got == {(2, 3), (3, 2)}, mode


def test_weighted_sample_rejects_fractional_weights(spark):
    from sslr_spark.functions.sampling import weighted_sample

    df = spark.createDataFrame([(1, 2.9)], "id long, w double")
    with pytest.raises(Exception, match="must be an integer"):
        weighted_sample(df, "id", "w", k=1).collect()


def test_watermark_probe_falls_back_on_error(spark, tmp_path, caplog):
    """Review finding: a probe raising (Spark-only `where` dialect,
    server hiccup) must degrade to the Spark aggregate with a
    warning, not fail the sync pass."""
    import logging

    from sslr_spark.operators.updates import get_update_range
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.state import TableState

    src = spark.createDataFrame(
        [(i, 100 + i % 3) for i in range(30)], "id long, ver long"
    )
    target = ParquetDatabase(spark, str(tmp_path / "t"))

    def bad_probe():
        raise RuntimeError("syntax error at or near REGEXP_LIKE")

    with caplog.at_level(logging.WARNING, logger="sslr_spark"):
        rng = get_update_range(
            src, target, "t", TableState("t", 0, ""),
            version_col="ver", probe=bad_probe,
        )
    assert rng.source_rows == 30 and rng.end_version == 102
    assert any("pushed watermark probe failed" in r.message
               for r in caplog.records)


def test_missing_codebook_ids_raise(spark):
    """A subset of codebook_ids absent from the frame must be a hard
    error naming the missing ids — a silently-shrunk codebook shifts
    every code index."""
    from sslr_spark.functions.similarity import _codebooks_from_ids

    df = _vec_df(spark)
    with pytest.raises(ValueError, match=r"codebook ids.*\b99\b"):
        _codebooks_from_ids(df, [0, 1, 99], m=4, vec_col="embedding",
                            id_col="vec_id")


def test_missing_centroid_ids_raise(spark):
    from sslr_spark.functions.similarity import ivf_index_fixed

    df = _vec_df(spark)
    with pytest.raises(ValueError, match=r"centroid ids.*\b77\b"):
        ivf_index_fixed(df, [0, 77])


def test_residualize_codebooks_missing_ids_raise(spark):
    from sslr_spark.functions.similarity import residualize_codebooks

    df = _vec_df(spark)
    with pytest.raises(ValueError, match="codebook ids"):
        residualize_codebooks(df, [0, 1], [2, 3, 500], m=4)
    with pytest.raises(ValueError, match="centroid ids"):
        residualize_codebooks(df, [0, 500], [2, 3], m=4)


def test_duplicated_centroid_ids_raise(spark):
    """Review finding: a duplicated id row used to surface as
    'ids not found: []' — it must name the duplicates instead."""
    from sslr_spark.functions.similarity import ivf_index_fixed

    df = _vec_df(spark)
    dup = df.unionByName(df.filter(F.col("vec_id") == 1))
    with pytest.raises(ValueError, match=r"duplicated.*\b1\b"):
        ivf_index_fixed(dup, [0, 1])
