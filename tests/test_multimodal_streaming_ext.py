"""Tests: multimodal feature/frame plumbing and the stateful
streaming first-seen (exact-dedup) operator."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_parse_bmp_and_wav_real_fixture_files():
    """The struct parsers read REAL files from disk (committed
    fixtures, generated by make_bmp/make_wav which emit complete
    spec-conformant files — the WAV is cross-validated against the
    stdlib `wave` reader below, an independent RIFF implementation)."""
    import wave

    from sslr_spark.functions.multimodal import parse_bmp, parse_wav

    fdir = os.path.join(os.path.dirname(__file__), "fixtures")
    bmp = open(os.path.join(fdir, "tiny.bmp"), "rb").read()
    wav = open(os.path.join(fdir, "tiny.wav"), "rb").read()
    assert parse_bmp(bmp) == (7, 5)
    assert parse_wav(wav) == (22050, 20)  # 441 samples @ 22050 Hz
    w = wave.open(os.path.join(fdir, "tiny.wav"))
    assert (w.getframerate(), w.getnframes()) == (22050, 441)
    assert parse_wav(wav)[1] == w.getnframes() * 1000 // w.getframerate()
    # cross-format and garbage inputs are rejected, not misparsed
    assert parse_bmp(wav) is None
    assert parse_wav(bmp) is None
    assert parse_bmp(b"BM") is None and parse_wav(b"RIFF") is None


def test_parse_bmp_top_down_and_core_header():
    """Negative BITMAPINFOHEADER height (top-down rows) reports the
    magnitude; the 12-byte BITMAPCOREHEADER uses uint16 fields."""
    import struct

    from sslr_spark.functions.multimodal import make_bmp, parse_bmp

    b = bytearray(make_bmp(6, 9))
    struct.pack_into("<i", b, 22, -9)
    assert parse_bmp(bytes(b)) == (6, 9)
    core = (
        b"BM" + struct.pack("<IHHI", 26, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 31, 17, 1, 24)
    )
    assert parse_bmp(core) == (31, 17)


def test_parse_wav_walks_chunks_past_extras():
    """fmt/data need not be the first chunks: the walker skips LIST
    and odd-sized chunks (word alignment) to find them."""
    import struct

    from sslr_spark.functions.multimodal import parse_wav

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    info = b"INFOxyz"  # 7 bytes -> odd size, padded to 8
    body = (
        b"LIST" + struct.pack("<I", len(info)) + info + b"\x00"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 320) + bytes(320)
    )
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    assert parse_wav(wav) == (8000, 20)  # 320 bytes / 16000 B/s


def test_parse_png_and_jpeg_real_fixture_files():
    """PNG/JPEG header parsers read REAL committed fixture files: the
    PNG is a complete spec-conformant file (correct chunk CRCs, valid
    zlib IDAT — cross-validated by decompressing it with stdlib zlib);
    the JPEG is a realistic progressive header stream (APP0 JFIF +
    DQT + SOF2 + a fill byte) the marker walk must navigate."""
    import struct
    import zlib

    from sslr_spark.functions.multimodal import (
        parse_bmp,
        parse_jpeg,
        parse_png,
        parse_wav,
    )

    fdir = os.path.join(os.path.dirname(__file__), "fixtures")
    png = open(os.path.join(fdir, "tiny.png"), "rb").read()
    jpg = open(os.path.join(fdir, "tiny.jpg"), "rb").read()
    assert parse_png(png) == (7, 5)
    assert parse_jpeg(jpg) == (640, 480)
    # independent structural validation of the PNG: IHDR CRC and the
    # IDAT stream (stdlib zlib is a separate deflate implementation)
    assert struct.unpack_from(">I", png, 29)[0] == (
        zlib.crc32(png[12:29]) & 0xFFFFFFFF
    )
    idat_len = struct.unpack_from(">I", png, 33)[0]
    scanlines = zlib.decompress(png[41:41 + idat_len])
    assert len(scanlines) == 5 * (1 + 3 * 7)
    # cross-format sniffs reject, never misparse
    for parser in (parse_bmp, parse_wav, parse_jpeg):
        assert parser(png) is None
    for parser in (parse_bmp, parse_wav, parse_png):
        assert parser(jpg) is None


def test_parse_jpeg_marker_walk_edges():
    """SOS before any SOF (dims unknowable without entropy decode),
    truncation mid-segment, and RST/TEM standalone markers."""
    import struct

    from sslr_spark.functions.multimodal import make_jpeg, parse_jpeg

    assert parse_jpeg(b"\xff\xd8\xff\xda\x00\x04\x00\x00") is None
    assert parse_jpeg(make_jpeg(9, 7, 5)[:10]) is None
    # standalone TEM + RST1 markers precede the frame header
    sof = (
        b"\xff\xc0" + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, 31, 77, 1) + bytes((1, 0x11, 0))
    )
    assert parse_jpeg(b"\xff\xd8\xff\x01\xff\xd1" + sof + b"\xff\xd9") == (
        77, 31,
    )


def test_resize_bmp_picks_correct_source_pixels():
    """Pixel-level proof the resampler indexes the grid right (not
    just header math): a 2x2 BMP with four distinct colors downscales
    to 1x1 keeping exactly the (0,0) stored pixel, and a 4x4 -> 2x2
    picks rows/cols 0 and 2 (src = dst * src_dim // dst_dim)."""
    import struct

    from sslr_spark.functions.multimodal import parse_bmp, resize_bmp

    def bmp_with_pixels(w, h, pixel_rows):
        stride = ((w * 3 + 3) // 4) * 4
        data = bytearray(stride * h)
        for y, row in enumerate(pixel_rows):
            for x, (b_, g, r) in enumerate(row):
                data[y * stride + x * 3: y * stride + x * 3 + 3] = bytes(
                    (b_, g, r)
                )
        header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
        )
        return header + dib + bytes(data)

    two = bmp_with_pixels(
        2, 2,
        [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]],
    )
    one = resize_bmp(two, 1, 1)
    assert parse_bmp(one) == (1, 1)
    assert one[54:57] == bytes((1, 2, 3))  # stored row 0, col 0

    four = bmp_with_pixels(
        4, 4,
        [[(y * 16 + x, 0, 0) for x in range(4)] for y in range(4)],
    )
    small = resize_bmp(four, 2, 2)
    assert parse_bmp(small) == (2, 2)
    stride2 = 8  # ((2*3+3)//4)*4
    got = [
        small[54 + y * stride2 + x * 3]
        for y in (0, 1) for x in (0, 1)
    ]
    assert got == [0, 2, 32, 34]  # src rows/cols 0 and 2


def test_decode_media_end_to_end_matches_formulas(spark):
    """synthesize -> real byte parse roundtrip on Spark: decoded
    fields equal the construction formulas for every row."""
    from sslr_spark.functions.multimodal import decode_media, synthesize_media

    docs = spark.createDataFrame(
        [(i, 13 + 7 * i) for i in range(40)], "doc_id long, n_chars long"
    )
    rows = {r.doc_id: r for r in decode_media(synthesize_media(docs)).collect()}
    assert len(rows) == 40
    for i in range(40):
        r, c = rows[i], 13 + 7 * i
        if i % 2 == 0:
            stride = (((4 + i % 29) * 3 + 3) // 4) * 4
            assert r.fmt == "bmp"
            assert (r.width, r.height) == (4 + i % 29, 4 + c % 31)
            assert r.n_bytes == 54 + stride * (4 + c % 31)
            assert r.sample_rate is None and r.duration_ms is None
        else:
            rate, n = 8000 * (1 + i % 5), 100 + c % 400
            assert r.fmt == "wav"
            assert (r.sample_rate, r.duration_ms) == (rate, n * 1000 // rate)
            assert r.n_bytes == 44 + 2 * n
            assert r.width is None and r.height is None


def test_feature_extraction_shape_and_determinism(spark):
    from sslr_spark.functions.multimodal import (
        extract_features,
        with_binary_payload,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feats = extract_features(with_binary_payload(docs))
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(len(r.feature) == 16 for r in rows)
    assert all(-1.0 <= v <= 1.0 for r in rows[:20] for v in r.feature)
    again = {r.doc_id: r.feature for r in feats.collect()}
    assert all(again[r.doc_id] == r.feature for r in rows)

    # extracted features plug straight into the similarity operators
    from sslr_spark.functions.similarity import cosine_expr

    a, b = feats.alias("a"), feats.alias("b")
    sims = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(cosine_expr("a.feature", "b.feature").alias("cos"))
        .limit(50)
        .collect()
    )
    assert all(-1.0001 <= r.cos <= 1.0001 for r in sims)


def test_frame_sampling(spark):
    from sslr_spark.functions.multimodal import (
        decode_metadata,
        sample_frames,
        with_binary_payload,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    binary = with_binary_payload(docs)
    meta = {r.doc_id: r.n_frames for r in decode_metadata(binary).collect()}
    frames = sample_frames(binary, every_n=2).collect()
    by_doc: dict[int, list[int]] = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc_id, idxs in by_doc.items():
        expect = list(range(0, meta[doc_id], 2))
        assert sorted(idxs) == expect
    # frame fingerprints unique per (doc, frame)
    assert len({(r.doc_id, r.frame_fp) for r in frames}) == len(frames)


def test_png_pixel_decode_unfilters_all_filter_types():
    """png_to_pixels against an ADVERSARIALLY-filtered PNG: every
    scanline encoded with a different spec filter (Sub, Up, Average,
    Paeth, None) by an independent forward-filter implementation —
    the unfilter must recover the exact pixels, and resize_png must
    pick src = dst * src_dim // dst_dim source pixels."""
    import struct
    import zlib

    import numpy as np

    from sslr_spark.functions.multimodal import (
        parse_png,
        pixels_to_png,
        png_to_pixels,
        resize_png,
    )

    rng = np.random.RandomState(3)
    H, W, bpp = 6, 9, 3
    pix = rng.randint(0, 256, (H, W, 3), dtype=np.uint8)
    flat = pix.reshape(H, W * 3).astype(np.int32)
    lines = []
    for y in range(H):
        ft = [1, 2, 3, 4, 0, 4][y]
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(W * 3, dtype=np.int32)
        enc = np.zeros(W * 3, dtype=np.int32)
        for x in range(W * 3):
            a = cur[x - bpp] if x >= bpp else 0
            up = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (a + up) // 2
            else:
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
            enc[x] = (cur[x] - pred) & 0xFF
        lines.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
    raw = b"".join(lines)

    def chunk(t, d):
        body = t + d
        return (
            struct.pack(">I", len(d)) + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", W, H, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 6))  # REAL deflate, not stored
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(png_to_pixels(png), pix)

    small = resize_png(png, 3, 2)
    assert parse_png(small) == (3, 2)
    ys, xs = np.arange(2) * H // 2, np.arange(3) * W // 3
    assert np.array_equal(png_to_pixels(small), pix[np.ix_(ys, xs)])
    # re-emit roundtrip is lossless
    assert np.array_equal(png_to_pixels(pixels_to_png(pix)), pix)


def test_png_pixel_decode_rejects_unsupported_profiles():
    import pytest

    from sslr_spark.functions.multimodal import make_png, png_to_pixels

    b = bytearray(make_png(4, 4))
    b[25] = 6  # color type RGBA
    with pytest.raises(ValueError, match="8-bit RGB"):
        png_to_pixels(bytes(b))
    with pytest.raises(ValueError, match="not a PNG"):
        png_to_pixels(b"\x89PNG!!!!")


def test_resample_wav_picks_correct_samples_and_rejects_profiles():
    """Sample-level proof the audio resampler indexes the PCM grid
    right (src = dst * old_n // new_n on a known int16 ramp), plus
    the unsupported-profile rejections (stereo) and formula checks."""
    import struct

    import numpy as np
    import pytest

    from sslr_spark.functions.multimodal import (
        make_wav,
        parse_wav,
        resample_wav,
    )

    def wav_with(samples, rate, channels=1):
        data = np.asarray(samples, dtype="<i2").tobytes()
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, rate * 2 * channels,
            2 * channels, 16,
        )
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    out = resample_wav(wav_with(list(range(12)), 16000), 8000)
    got = list(np.frombuffer(out[44:], dtype="<i2"))
    assert got == [i * 12 // 6 for i in range(6)]
    assert parse_wav(out) == (8000, 6 * 2 * 1000 // 16000)

    for rate, n in [(8000, 100), (40000, 499), (8000, 0)]:
        r = resample_wav(make_wav(rate, n), 8000)
        new_n = n * 8000 // rate
        assert len(r) == 44 + 2 * new_n
        assert parse_wav(r) == (8000, 2 * new_n * 1000 // 16000)

    with pytest.raises(ValueError, match="16-bit mono"):
        resample_wav(wav_with([0, 0], 8000, channels=2), 4000)
    with pytest.raises(ValueError, match="not a WAV"):
        resample_wav(b"RIFFxxxxAVI ", 8000)


def test_resample_audio_dispatch_passes_non_wav_through(spark):
    from sslr_spark.functions.multimodal import (
        make_bmp,
        make_wav,
        parse_wav,
        resample_audio,
    )

    bmp = make_bmp(5, 5)
    df = spark.createDataFrame(
        [(1, bmp), (2, make_wav(16000, 200)), (3, b"junk")],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: bytes(r["payload"])
        for r in resample_audio(df, 8000).collect()
    }
    assert out[1] == bmp and out[3] == b"junk"
    assert parse_wav(out[2])[0] == 8000


def test_parse_mp4_walks_box_tree():
    """MP4 container decode against the committed fixture plus box
    edge cases: v1 (64-bit) movie headers, the free-box skip, audio
    tracks (zero tkhd width) ignored in favor of the video track,
    and malformed sizes rejected."""
    import struct

    import pytest

    from sslr_spark.functions.multimodal import (
        make_mp4,
        parse_bmp,
        parse_jpeg,
        parse_mp4,
        parse_png,
        parse_wav,
    )

    fdir = os.path.join(os.path.dirname(__file__), "fixtures")
    mp4 = open(os.path.join(fdir, "tiny.mp4"), "rb").read()
    assert parse_mp4(mp4) == (320, 240, 2500)
    for parser in (parse_bmp, parse_png, parse_jpeg, parse_wav):
        assert parser(mp4) is None

    def box(t, p):
        return struct.pack(">I", 8 + len(p)) + t + p

    # v1 mvhd (64-bit ctime/mtime/duration), audio tkhd first
    mvhd1 = box(
        b"mvhd",
        bytes([1, 0, 0, 0]) + bytes(16)
        + struct.pack(">I", 600) + struct.pack(">Q", 1200) + bytes(80),
    )
    audio_tkhd = box(b"tkhd", bytes(72) + struct.pack(">II", 0, 0))
    video_tkhd = box(
        b"tkhd",
        bytes(4) + bytes(8) + struct.pack(">I", 2) + bytes(4)
        + struct.pack(">I", 2000) + bytes(52)
        + struct.pack(">II", 320 << 16, 240 << 16),
    )
    b = (
        box(b"ftyp", b"isomxxxxmp41")
        + box(b"moov", mvhd1 + box(b"trak", audio_tkhd)
              + box(b"trak", video_tkhd))
        + box(b"mdat", b"")
    )
    assert parse_mp4(b) == (320, 240, 1200 * 1000 // 600)

    assert parse_mp4(b"\x00\x00\x00\x08noty") is None  # no ftyp
    # declared box size overruns the payload: walk stops, no crash
    bad = box(b"ftyp", b"isom") + struct.pack(">I", 9999) + b"moov"
    assert parse_mp4(bad) is None
    # synthesis size formula
    assert len(make_mp4(1, 1, 1, pad=9)) == 252 + 9


def test_tar_shards_roundtrip_deterministic(spark):
    """WebDataset export roundtrip: each shard's tar opens with
    stdlib tarfile (an independent reader), member payloads are
    byte-identical to the source, names are the zero-padded ids,
    members sort by id, and a re-export is byte-identical — the
    property that makes shard files content-addressable and
    shard_diff-able."""
    import hashlib
    import io
    import tarfile

    from sslr_spark.functions.multimodal import tar_shards

    rows = [(i, bytes([i % 251]) * (37 + 91 * i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out1 = {r["shard"]: r for r in tar_shards(df, 4).collect()}
    out2 = {r["shard"]: r for r in tar_shards(df, 4).collect()}
    assert sum(r["n_members"] for r in out1.values()) == 40
    seen = {}
    for shard, r in out1.items():
        blob = bytes(r["tar"])
        # deterministic re-export, record-size padding
        assert hashlib.md5(blob).digest() == hashlib.md5(
            bytes(out2[shard]["tar"])
        ).digest()
        assert len(blob) % 10240 == 0
        tf = tarfile.open(fileobj=io.BytesIO(blob))
        names = [m.name for m in tf.getmembers()]
        assert names == sorted(names)
        assert len(names) == r["n_members"]
        for m in tf.getmembers():
            seen[int(m.name.split(".")[0])] = tf.extractfile(m).read()
    assert seen == dict(rows)
