"""Tests for the multimodal binary-column plumbing and the streaming
facade (downloads sink test rides along — it needs a crawl state)."""

import struct
import zlib

import pytest
from pyspark.sql import functions as F

from firmwarescraper_spark.multimodal import binary as MM
from firmwarescraper_spark.streaming import events as ST


def _png(w, h):
    ihdr = struct.pack(">II", w, h)
    return b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + ihdr + b"\x00" * 16


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (0, _png(640, 480)),
        (1, b"\xff\xd8\xff\xe0JFIF-ish" + b"\x00" * 64),
        (2, b"RIFFxxxxWAVE" + b"\x00" * 64),
        (3, b"garbage-bytes"),
    ]
    return spark.createDataFrame(rows, "id long, payload binary")


def test_media_meta(spark, media_df):
    rows = {r["id"]: r["media_meta"] for r in MM.attach_media_meta(media_df).collect()}
    assert rows[0]["media_type"] == "image" and rows[0]["container"] == "png"
    assert (rows[0]["width"], rows[0]["height"]) == (640, 480)
    assert rows[1]["container"] == "jpeg"
    assert rows[2]["media_type"] == "audio"
    assert rows[3]["media_type"] == "unknown"
    assert all(r["sha256"] and r["bytes"] > 0 for r in rows.values())


def test_decode_batch_contract(spark, media_df):
    # every fixture payload here is UNdecodable (header-only fake PNG,
    # jpeg-ish bytes, bare RIFF, garbage) -> all rows take the stub path,
    # explicitly tagged
    out = MM.decode_image_batches(media_df).collect()
    assert len(out) == 4
    assert all(r["codec"] == "stub" and len(r["pixels"]) == 32 for r in out)
    assert all(r["width"] is None for r in out)


def test_resize_and_features_deterministic(spark, media_df):
    r1 = MM.resize_images(media_df, 64, 64).collect()
    r2 = MM.resize_images(media_df, 64, 64).collect()
    assert sorted((r["id"], bytes(r["resized"])) for r in r1) == sorted(
        (r["id"], bytes(r["resized"])) for r in r2
    )
    feats = {r["id"]: r["features"] for r in
             MM.extract_image_features(media_df, dim=8).collect()}
    assert len(feats[0]) == 8
    assert all(0.0 <= x <= 1.0 for x in feats[0])
    # non-decodable payload -> deterministic pseudo-embedding from payload
    expected0 = [(zlib.crc32(_png(640, 480) + bytes([i])) % 10_000) / 10_000.0
                 for i in range(8)]
    assert feats[0] == expected0


def test_frame_sampling_fanout(spark, media_df):
    frames = MM.frame_sample_video(media_df, every_n=5, max_frames=3).collect()
    assert len(frames) == 4 * 3
    assert sorted({r["frame_no"] for r in frames}) == [0, 5, 10]


# --- real codecs (BMP/PNG/WAV, multimodal/codecs.py) --------------------------

def _checker(h, w):
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    arr = np.zeros((h, w, 3), dtype=np.uint8)
    arr[:, :, 0] = ((x + y) % 2) * 255
    arr[:, :, 1] = (x * 7) % 256
    arr[:, :, 2] = (y * 13) % 256
    return arr


def test_bmp_png_roundtrip():
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX

    arr = _checker(13, 9)  # odd width exercises BMP row padding
    assert np.array_equal(CX.decode_bmp(CX.encode_bmp(arr)), arr)
    assert np.array_equal(CX.decode_png(CX.encode_png(arr)), arr)
    gray = arr[:, :, 0]
    assert np.array_equal(CX.decode_png(CX.encode_png(gray))[:, :, 0], gray)


def test_png_adam7_grid_covers_tile_exactly_once():
    """Spec pin for the pass grid itself (§8.2): the seven Adam7 passes
    must tile the 8x8 base cell with no gap and no overlap — the invariant
    a wrong constant table breaks silently when encode and decode share
    it."""
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX

    cov = np.zeros((8, 8), dtype=int)
    for x0, y0, dx, dy in CX._ADAM7:
        cov[y0::dy, x0::dx] += 1
    assert (cov == 1).all()


def test_png_adam7_interlaced_roundtrip():
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX

    rng = np.random.RandomState(3)
    # shapes straddling the 8x8 cell: sub-cell, exact, ragged, degenerate
    for shape in [(13, 9, 3), (8, 8, 1), (5, 21, 4), (1, 1, 3), (3, 2, 1)]:
        arr = rng.randint(0, 256, shape).astype(np.uint8)
        out = CX.decode_png(CX.encode_png_interlaced(arr))
        assert out.shape == arr.shape and np.array_equal(out, arr), shape


def test_png_palette_all_depths():
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX

    rng = np.random.RandomState(5)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    for depth in (1, 2, 4, 8):
        n = min(1 << depth, 16)
        idx = rng.randint(0, n, (7, 11)).astype(np.uint8)
        out = CX.decode_png(CX.encode_png_palette(idx, pal[:n], depth=depth))
        assert out.shape == (7, 11, 3)
        assert np.array_equal(out, pal[:n][idx]), depth
    # an index past the palette must raise, not read garbage
    import pytest as _pt

    bad = CX.encode_png_palette(
        np.zeros((2, 2), dtype=np.uint8), pal[:4], depth=8)
    # corrupt: shrink PLTE after encode by rebuilding with a 1-entry palette
    with _pt.raises(ValueError):
        CX.encode_png_palette(np.full((2, 2), 3, dtype=np.uint8),
                              pal[:2], depth=8)
    assert CX.decode_png(bad).shape == (2, 2, 3)


def test_png_palette_trns_alpha():
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    # tRNS shorter than PLTE: entries past its end are opaque (spec 11.3.2)
    png = CX.encode_png_palette(idx, pal, depth=8,
                                alpha=np.array([0, 128], dtype=np.uint8))
    out = CX.decode_png(png)
    assert out.shape == (2, 2, 4)
    assert np.array_equal(out[:, :, :3], pal[idx])
    assert out[:, :, 3].tolist() == [[0, 128], [255, 0]]


def test_png_all_filters_decode():
    """The decoder must handle filters 1-4, which our encoder never emits:
    hand-build a PNG using each filter type and check the reconstruction."""
    import numpy as np
    import struct as st

    from firmwarescraper_spark.multimodal import codecs as CX

    arr = _checker(5, 4)
    h, w, c = arr.shape
    bpp = c
    lines = []
    prev = np.zeros(w * c, dtype=np.int32)
    for y, ftype in zip(range(h), [0, 1, 2, 3, 4]):
        recon = arr[y].reshape(-1).astype(np.int32)
        filt = np.zeros_like(recon)
        for x in range(len(recon)):
            a = recon[x - bpp] if x >= bpp else 0
            b = prev[x]
            cc = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                filt[x] = recon[x]
            elif ftype == 1:
                filt[x] = (recon[x] - a) & 0xFF
            elif ftype == 2:
                filt[x] = (recon[x] - b) & 0xFF
            elif ftype == 3:
                filt[x] = (recon[x] - (a + b) // 2) & 0xFF
            else:
                filt[x] = (recon[x] - CX._paeth(a, b, cc)) & 0xFF
        lines.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))
        prev = recon
    ihdr = st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + CX._png_chunk(b"IHDR", ihdr)
           + CX._png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
           + CX._png_chunk(b"IEND", b""))
    assert np.array_equal(CX.decode_png(png), arr)


def _gradient_rgb(h, w):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([
        xx * 255 // max(w - 1, 1),
        yy * 255 // max(h - 1, 1),
        (xx + yy) * 255 // max(h + w - 2, 1),
    ], axis=2).astype(np.uint8)


def test_jpeg_roundtrip():
    """Real baseline JFIF codec (multimodal/jpeg.py): encode a smooth RGB
    image, decode it back — dimensions exact, pixels within quantization
    error. Also: grayscale round-trip, header-only dims, quality knob."""
    import numpy as np

    from firmwarescraper_spark.multimodal import jpeg as J

    img = _gradient_rgb(40, 56)
    enc = J.encode_jpeg(img, quality=90)
    assert enc[:3] == b"\xff\xd8\xff" and enc[-2:] == b"\xff\xd9"
    assert J.jpeg_dims(enc) == (56, 40)
    dec = J.decode_jpeg(enc)
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    # tight bounds pin the r3 dequant fix (zigzag coeffs must pair with
    # the quant value of their NATURAL position): q90 on a smooth
    # gradient measures mean ~0.7 / max 3
    assert err.mean() < 1.5 and err.max() <= 6

    gray = img[:, :, 0]
    decg = J.decode_jpeg(J.encode_jpeg(gray, quality=90))
    assert decg.shape == (40, 56, 1)
    assert np.abs(decg[:, :, 0].astype(int) - gray.astype(int)).mean() < 1.5

    # lower quality -> coarser quant tables -> smaller stream
    assert len(J.encode_jpeg(img, quality=30)) < len(enc)


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 encode exercises the decoder's multi-block-MCU + chroma
    upsampling path: odd dimensions force edge MCU padding, and the
    subsampled stream must still reconstruct within chroma-loss error."""
    import numpy as np

    from firmwarescraper_spark.multimodal import jpeg as J

    img = _gradient_rgb(41, 55)  # odd dims: partial MCUs on both edges
    enc = J.encode_jpeg(img, quality=90, subsampling="420")
    assert len(enc) < len(J.encode_jpeg(img, quality=90, subsampling="444"))
    dec = J.decode_jpeg(enc)
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() < 6.0  # chroma is 2x2-averaged; luma stays tight
    # luma-only comparison must stay near the 4:4:4 error level
    ly = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    dy = 0.299 * dec[:, :, 0] + 0.587 * dec[:, :, 1] + 0.114 * dec[:, :, 2]
    assert np.abs(ly - dy).mean() < 3.0


def test_jpeg_progressive_equals_baseline():
    """Progressive (SOF2) is a lossless reorganization of the same
    quantized coefficients, so the progressive stream must decode
    PIXEL-IDENTICAL to its baseline twin. The fixture set covers every
    progressive mechanism: successive approximation (DC and AC),
    spectral-selection bands, EOBRUN runs spanning blocks (flat image =
    maximal run), ZRL + refinement interleave (sparse dots), dense
    coefficients (noise), chroma subsampling, and grayscale."""
    import numpy as np

    from firmwarescraper_spark.multimodal import jpeg as J

    grad = _gradient_rgb(41, 55)
    noise = np.random.default_rng(3).integers(0, 256, (33, 47, 3),
                                              dtype=np.uint8)
    dots = np.zeros((48, 48, 3), dtype=np.uint8)
    dots[::7, ::11] = 255
    flat = np.full((64, 80, 3), 127, dtype=np.uint8)
    cases = [
        (grad, 85, "444"), (grad, 85, "420"), (noise, 60, "444"),
        (dots, 70, "444"), (flat, 85, "444"),
    ]
    for img, q, sub in cases:
        base = J.decode_jpeg(J.encode_jpeg(img, quality=q, subsampling=sub))
        pb = J.encode_jpeg_progressive(img, quality=q, subsampling=sub)
        assert pb[2:4] != b"\xff\xc0" and b"\xff\xc2" in pb[:200]
        assert np.array_equal(base, J.decode_jpeg(pb)), (q, sub)
    g = grad[:, :, 1]
    assert np.array_equal(
        J.decode_jpeg(J.encode_jpeg(g, quality=85)),
        J.decode_jpeg(J.encode_jpeg_progressive(g, quality=85)))


def test_jpeg_422_and_restart_intervals():
    """4:2:2 subsampling round-trips (the remaining sampling geometry),
    and restart intervals are decode-transparent: a stream carrying DRI +
    RSTn markers every N MCUs must decode pixel-identical to the plain
    stream (predictor reset + byte alignment exactly mirrored)."""
    import numpy as np

    from firmwarescraper_spark.multimodal import jpeg as J

    img = _gradient_rgb(41, 55)
    dec = J.decode_jpeg(J.encode_jpeg(img, quality=90, subsampling="422"))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 5.0

    for ri in (1, 3):
        for sub in ("444", "420", "422"):
            enc = J.encode_jpeg(img, quality=90, subsampling=sub,
                                restart_interval=ri)
            assert b"\xff\xdd" in enc          # DRI segment present
            assert b"\xff\xd0" in enc          # at least one RST0 marker
            base = J.decode_jpeg(J.encode_jpeg(img, quality=90,
                                               subsampling=sub))
            assert np.array_equal(J.decode_jpeg(enc), base), (ri, sub)


def test_jpeg_rejects_unsupported_profiles():
    # lossless (SOF3), arithmetic-coded (SOF9/10/11) and hierarchical
    # profiles are rejected; binary.py routes them to the stub path
    import pytest as pt

    from firmwarescraper_spark.multimodal import jpeg as J

    for marker in (0xC3, 0xC5, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE):
        enc = bytearray(J.encode_jpeg(_gradient_rgb(8, 8)))
        sof = enc.find(b"\xff\xc0")
        enc[sof + 1] = marker
        with pt.raises(ValueError):
            J.decode_jpeg(bytes(enc))


def test_unsupported_jpeg_profiles_take_stub_path(spark):
    """The arithmetic-coded demo payload (SOF9), and its SOF3/SOF10/SOF11
    relabels, keep real header metadata but come out of every decode
    stage tagged codec="stub" without raising."""
    from firmwarescraper_spark.multimodal.jpeg import jpeg_dims
    from firmwarescraper_spark.sources.generate import demo_media_payloads

    arith = dict(demo_media_payloads())[9]
    assert MM.sniff_media_type(arith) == ("image", "jpeg")
    assert jpeg_dims(arith) == (12, 7)
    assert MM._try_decode_image(arith) == (None, None)

    sof = arith.index(b"\xff\xc9")
    payloads = [arith] + [arith[:sof + 1] + bytes([m]) + arith[sof + 2:]
                          for m in (0xC3, 0xCA, 0xCB)]
    df = spark.createDataFrame(list(enumerate(payloads)),
                               "id long, payload binary")
    meta = [r["media_meta"] for r in MM.attach_media_meta(df).collect()]
    assert all((m["width"], m["height"]) == (12, 7) for m in meta)
    dh = MM.attach_dhash(df).collect()
    assert all(r["dhash"] is None and r["codec"] == "stub" for r in dh)
    for stage in (MM.decode_image_batches(df), MM.resize_images(df, 4, 4),
                  MM.frame_sample_video(df)):
        assert {r["codec"] for r in stage.collect()} == {"stub"}
    assert MM.extract_image_features(df, dim=4).count() == len(payloads)


def test_jpeg_spark_pipeline(spark):
    """JPEG payloads flow the REAL path end-to-end: media_meta dims from
    the SOF header, decode_image_batches tags codec=numpy-jpeg with true
    dims/pixels, resize re-encodes to a decodable JPEG of target size."""
    import numpy as np

    from firmwarescraper_spark.multimodal import jpeg as J

    img = _gradient_rgb(32, 48)
    df = spark.createDataFrame(
        [(20, bytearray(J.encode_jpeg(img, quality=90))),
         (21, bytearray(J.encode_jpeg_progressive(img, quality=90)))],
        "id long, payload binary")
    metas = {r["id"]: r["media_meta"]
             for r in MM.attach_media_meta(df).collect()}
    for i in (20, 21):   # SOF header dims work for baseline AND SOF2
        assert metas[i]["container"] == "jpeg"
        assert (metas[i]["width"], metas[i]["height"]) == (48, 32)
    decs = {r["id"]: r for r in MM.decode_image_batches(df).collect()}
    for i in (20, 21):
        dec = decs[i]
        assert dec["codec"] == "numpy-jpeg"
        assert (dec["width"], dec["height"], dec["channels"]) == (48, 32, 3)
        pix = np.frombuffer(
            bytes(dec["pixels"]), dtype=np.uint8).reshape(32, 48, 3)
        assert np.abs(pix.astype(int) - img.astype(int)).mean() < 4.0
    # baseline and progressive rows decode pixel-identically
    assert bytes(decs[20]["pixels"]) == bytes(decs[21]["pixels"])
    dec = decs[20]
    pix = np.frombuffer(bytes(dec["pixels"]), dtype=np.uint8).reshape(32, 48, 3)
    rs = MM.resize_images(df, 16, 12).collect()[0]
    assert rs["codec"] == "numpy-jpeg"
    assert J.decode_jpeg(bytes(rs["resized"])).shape == (12, 16, 3)


def test_real_decode_resize_features(spark):
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX

    arr = _checker(8, 8)
    rows = [(10, CX.encode_bmp(arr)), (11, CX.encode_png(arr)),
            (12, b"\xff\xd8\xffjpeg-ish" + b"\x00" * 32)]
    df = spark.createDataFrame(rows, "id long, payload binary")

    dec = {r["id"]: r for r in MM.decode_image_batches(df).collect()}
    for i, codec in ((10, "numpy-bmp"), (11, "numpy-png")):
        assert dec[i]["codec"] == codec
        assert (dec[i]["width"], dec[i]["height"], dec[i]["channels"]) == (8, 8, 3)
        got = np.frombuffer(dec[i]["pixels"], dtype=np.uint8).reshape(8, 8, 3)
        assert np.array_equal(got, arr)
    assert dec[12]["codec"] == "stub"

    # resize: 8x8 -> 4x4 nearest == every other pixel, re-encoded per container
    rs = {r["id"]: r for r in MM.resize_images(df, 4, 4).collect()}
    expected = arr[::2, ::2]
    assert np.array_equal(CX.decode_bmp(bytes(rs[10]["resized"])), expected)
    assert np.array_equal(CX.decode_png(bytes(rs[11]["resized"])), expected)
    assert rs[12]["codec"] == "stub"

    # real features: first three = per-channel means / 255
    feats = {r["id"]: r["features"] for r in
             MM.extract_image_features(df, dim=8).collect()}
    means = arr.astype(float).mean(axis=(0, 1)) / 255.0
    assert feats[11][:3] == pytest.approx(list(means), abs=1e-5)
    assert feats[10] == feats[11]  # same pixels via either container


def test_wav_audio_features(spark):
    import numpy as np

    from firmwarescraper_spark.multimodal import codecs as CX

    rate, freq, secs = 8000, 440.0, 1.0
    t = np.arange(int(rate * secs)) / rate
    tone = (np.sin(2 * np.pi * freq * t) * 20000).astype(np.int16)
    rows = [(0, CX.encode_wav(tone, rate)), (1, b"not audio at all")]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r["id"]: r for r in MM.extract_audio_features(df).collect()}
    assert out[0]["codec"] == "numpy-wav"
    assert out[0]["duration_sec"] == pytest.approx(secs, abs=1e-6)
    assert out[0]["dominant_hz"] == pytest.approx(freq, abs=1.0)
    assert out[0]["rms"] == pytest.approx(20000 / 32768 / np.sqrt(2), rel=1e-3)
    assert out[1]["codec"] == "stub" and out[1]["duration_sec"] is None
    # meta sniff distinguishes WAV from generic RIFF
    meta = {r["id"]: r["media_meta"] for r in
            MM.attach_media_meta(df).collect()}
    assert meta[0]["container"] == "wav" and meta[0]["media_type"] == "audio"


# --- streaming ---------------------------------------------------------------

def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    import shutil

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = ST.windowed_counts(events)
    # the file stream source needs a directory
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", stream_dir / "part-0.parquet")
    stream = ST.stream_events(spark, str(stream_dir))
    assert stream.isStreaming
    q = (
        ST.windowed_counts(stream)
        .writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select * from win_counts").collect()
    finally:
        q.stop()
    expect = batch.collect()
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, expect))
    assert {key(r): r["n"] for r in got} == {key(r): r["n"] for r in expect}


def test_sessionize_batch(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sessions = ST.sessionize_batch(events, gap_minutes=30)
    agg = sessions.groupBy("user_id").agg(
        F.sum("session_events").alias("n")
    )
    per_user = events.groupBy("user_id").count()
    joined = agg.join(per_user, "user_id")
    # every event lands in exactly one session
    assert joined.filter(F.col("n") != F.col("count")).isEmpty()
    # session bounds ordered
    bad = sessions.filter(F.col("session_start") > F.col("session_end"))
    assert bad.isEmpty()


def test_sessionize_stateful_stream(spark, tmp_path):
    """applyInPandasWithState live: closed sessions emitted by the stateful
    operator must be a subset of the batch twin's sessions (open sessions
    stay in state until timeout)."""
    import shutil

    stream_dir = tmp_path / "events_stream2"
    stream_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", stream_dir / "part-0.parquet")
    stream = ST.stream_events(spark, str(stream_dir))
    q = (
        ST.sessionize(stream, gap_minutes=30)
        .writeStream.format("memory").queryName("sessions")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select * from sessions").collect()
    finally:
        q.stop()
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = {
        (r["user_id"], r["session_events"])
        for r in ST.sessionize_batch(events, gap_minutes=30).collect()
    }
    assert got, "stateful operator emitted no closed sessions"
    for r in got:
        assert (r["user_id"], r["session_events"]) in batch


# --- downloads sink (S6/F11/A4) -----------------------------------------------

def test_collect_downloads(spark, tmp_path):
    from firmwarescraper_spark.plans.crawl import CrawlEngine
    from firmwarescraper_spark.sources import generate as G

    corpus = str(tmp_path / "pages")
    G.write_corpus(spark, corpus, n_avm=2, n_linksys=2, partitions=2)
    eng = CrawlEngine(spark, corpus, str(tmp_path / "state"),
                      tokens_per_host=10_000, salt_buckets=4)
    eng.run(G.seeds(), fresh=True)
    manifest = eng.collect_downloads()
    n1 = manifest.count()
    assert n1 > 0
    assert manifest.select("url").distinct().count() == n1  # A4 dedup
    assert manifest.filter(F.col("sha256").isNull()).isEmpty()  # real blobs
    row = manifest.filter(F.col("url").contains(".image")).first()
    assert row["path"].endswith(".image")  # basename path (pipelines.py:5-6)
    assert row["bytes"] > 0
    # F11 resume: second run adds nothing
    manifest2 = eng.collect_downloads()
    assert manifest2.count() == n1


def test_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming URL-seen dedup (dropDuplicatesWithinWatermark): the
    stream must emit exactly one row per key, matching the batch twin's
    key set — including when the duplicate arrives in a LATER file
    (separate micro-batch), which exercises the state store."""
    import shutil

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stream_dir = tmp_path / "events_dedup"
    stream_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                stream_dir / "part-0.parquet")
    # second micro-batch: a pure duplicate of the first file — every row
    # must be suppressed by state, not by intra-batch dedup
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                stream_dir / "part-1.parquet")
    keys = ("user_id", "event_type")
    stream = ST.stream_events(spark, str(stream_dir))
    q = (
        ST.dedup_stream(stream, keys=keys)
        .writeStream.format("memory").queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select * from dedup_out").collect()
    finally:
        q.stop()
    expect = ST.dedup_batch(events, keys=keys).collect()
    keyf = lambda r: (r["user_id"], r["event_type"])  # noqa: E731
    assert sorted(map(keyf, got)) == sorted(map(keyf, expect))
    assert len(got) == len({keyf(r) for r in got})  # one row per key


# ---------------------------------------------------------------------------
# perceptual dHash image near-dup (codecs.dhash64 + binary.attach_dhash +
# binary.dhash_neardup_pairs over dedup.hamming_neardup_pairs banding)
# ---------------------------------------------------------------------------


def test_dhash64_known_gradients():
    import numpy as np

    from firmwarescraper_spark.multimodal.codecs import dhash64

    _, xx = np.mgrid[0:8, 0:9]
    inc = (xx * 20).astype(np.uint8)        # strictly increasing along x
    dec = (160 - xx * 20).astype(np.uint8)  # strictly decreasing
    assert dhash64(inc) == -1               # all 64 bits set (signed long)
    assert dhash64(dec) == 0
    flat = np.full((8, 9), 7, np.uint8)
    assert dhash64(flat) == 0               # ties are NOT "greater"
    rgb = np.stack([inc] * 3, axis=2)       # luma path, same ordering
    assert dhash64(rgb) == -1


def test_dhash64_brightness_and_resize_robust():
    import numpy as np

    from firmwarescraper_spark.multimodal.codecs import dhash64

    yy, xx = np.mgrid[0:36, 0:45]
    base = ((xx * 23 + yy * 7) % 200).astype(np.uint8)
    # uniform brightness shift preserves every horizontal gradient sign
    assert dhash64(base) == dhash64(base + 40)
    # pixel-doubling / tripling barely moves the 8x9 cell means
    for rep in (2, 3):
        big = base.repeat(rep, axis=0).repeat(rep, axis=1)
        dist = bin((dhash64(base) ^ dhash64(big)) & ((1 << 64) - 1)).count("1")
        assert dist <= 4, dist


def test_attach_dhash_cross_container_and_nulls(spark):
    from firmwarescraper_spark.sources.generate import (
        demo_image_neardup_payloads,
    )

    rows = [(i, bytearray(p)) for i, p in demo_image_neardup_payloads()]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r["id"]: r for r in MM.attach_dhash(df).collect()}
    # same raster as BMP (0) and PNG (1): identical hash, real codecs
    assert got[0]["dhash"] == got[1]["dhash"]
    assert got[0]["codec"] == "numpy-bmp" and got[1]["codec"] == "numpy-png"
    # JPEG re-encode of the same raster decodes through the numpy decoder
    assert got[2]["codec"] == "numpy-jpeg"
    # audio / garbage payloads: null hash, tagged stub
    for i in (10, 11):
        assert got[i]["dhash"] is None and got[i]["codec"] == "stub"


def test_dhash_neardup_pairs_match_bruteforce(spark):
    import itertools

    from firmwarescraper_spark.multimodal.binary import _try_decode_image
    from firmwarescraper_spark.multimodal.codecs import dhash64
    from firmwarescraper_spark.sources.generate import (
        demo_image_neardup_payloads,
    )

    payloads = demo_image_neardup_payloads()
    hs = {}
    for i, p in payloads:
        arr, _ = _try_decode_image(p)
        if arr is not None and arr.size:
            hs[i] = dhash64(arr)
    expect = sorted(
        (i, j, bin((hs[i] ^ hs[j]) & ((1 << 64) - 1)).count("1"))
        for i, j in itertools.combinations(sorted(hs), 2)
        if bin((hs[i] ^ hs[j]) & ((1 << 64) - 1)).count("1") <= 4
    )
    # the fixture exercises both exact dups (hamming 0) and near dups
    assert {d for _, _, d in expect} >= {0, 3}
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads], "id long, payload binary")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in MM.dhash_neardup_pairs(df, max_hamming=4).collect()
    )
    # banded equi-join == brute force: the Manku pigeonhole recall is exact
    assert got == expect


def test_dhash_neardup_plan_is_hash_join(spark):
    from firmwarescraper_spark.sources.generate import (
        demo_image_neardup_payloads,
    )

    rows = [(i, bytearray(p)) for i, p in demo_image_neardup_payloads()]
    df = spark.createDataFrame(rows, "id long, payload binary")
    plan = (MM.dhash_neardup_pairs(df, max_hamming=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "NestedLoop" not in plan and "Cartesian" not in plan
