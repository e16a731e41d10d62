"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs —
the training-data-pipeline pattern for 100 TB multimodal corpora.

Decode status:
  * **REAL** (pure numpy/stdlib): BMP (24-bit), PNG (8-bit gray/RGB/RGBA,
    non-interlaced, all five scanline filters) and WAV (PCM16) in
    multimodal/codecs.py; JPEG baseline (SOF0), extended sequential
    (SOF1, 8- or 12-bit) and progressive (SOF2, 8- or 12-bit) in
    multimodal/jpeg.py, with 12-bit rasters normalized to 8-bit at this
    layer; Motion-JPEG video frames through the same JPEG decoder.
    Decode, nearest-neighbor resize, re-encode, image and audio feature
    extraction all operate on actual pixels/samples.
  * **REAL metadata, STUBBED pixels**: MP4/ISO-BMFF container metadata
    (track dims from tkhd, duration from mvhd, sample-entry fourcc) is a
    real box-tree parse (codecs.mp4_meta), and every other JPEG profile
    (lossless SOF3, arithmetic-coded SOF9/SOF10/SOF11, hierarchical)
    reports its dims from the SOF header. Their pixels and frames (no
    libjpeg/ffmpeg in this container) fall through to ``_decode_stub``
    and are tagged ``codec = "stub"`` per row so downstream consumers
    can tell. At deployment, swap the stub for the native lib; every
    schema and mapInPandas batch contract stays identical.

Scale notes: decode/feature-extract run via ``mapInPandas`` so each Arrow
batch amortizes the Python crossing; batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Binary payloads should be
size-bucketed (repartitionByRange on byte length) before heavy decode so
one task doesn't draw all the 4K videos.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType([
    StructField("media_type", StringType()),   # image/audio/video/unknown
    StructField("container", StringType()),    # png/jpeg/riff/mp4/...
    StructField("bytes", LongType()),
    StructField("width", IntegerType()),       # images/video only
    StructField("height", IntegerType()),
    StructField("sha256", StringType()),
])

_MAGIC = [
    (b"\x89PNG", "image", "png"),
    (b"\xff\xd8\xff", "image", "jpeg"),
    (b"BM", "image", "bmp"),
    (b"RIFF", "audio", "riff"),
    (b"\x00\x00\x00", "video", "mp4"),
]


def sniff_media_type(payload: bytes) -> tuple:
    """(media_type, container) from magic bytes — pure function, no decode."""
    if payload is None:
        return ("unknown", None)
    if payload.startswith(b"RIFF") and payload[8:12] == b"WAVE":
        return ("audio", "wav")
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return ("video", "mp4")  # ISO BMFF: size-prefixed ftyp box first
    for magic, mtype, container in _MAGIC:
        if payload.startswith(magic):
            return (mtype, container)
    return ("unknown", None)


def _png_dims(payload: bytes) -> tuple:
    """PNG IHDR width/height — a real (non-stub) header parse."""
    if payload is not None and len(payload) >= 24 and payload.startswith(b"\x89PNG"):
        w, h = struct.unpack(">II", payload[16:24])
        return int(w), int(h)
    return None, None


def attach_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Add a typed ``media_meta`` struct column (Arrow-batched pandas UDF:
    magic-byte sniff + PNG header parse + sha256 — all real, no decode)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(MEDIA_META_SCHEMA)
    def _meta(payload: pd.Series) -> pd.DataFrame:
        from firmwarescraper_spark.multimodal.codecs import bmp_dims, mp4_dims
        from firmwarescraper_spark.multimodal.jpeg import jpeg_dims

        rows = []
        for p in payload:
            mtype, container = sniff_media_type(p)
            if container == "png":
                w, h = _png_dims(p)
            elif container == "jpeg":
                w, h = jpeg_dims(p)
            elif container == "mp4":
                # real ISO BMFF box-tree parse (codecs.mp4_meta) — video
                # FRAME decode stays stubbed, container metadata does not
                w, h = mp4_dims(p)
            else:
                w, h = bmp_dims(p)
            rows.append({
                "media_type": mtype, "container": container,
                "bytes": len(p) if p is not None else 0,
                "width": w, "height": h,
                "sha256": hashlib.sha256(p).hexdigest() if p is not None else None,
            })
        return pd.DataFrame(rows)

    return df.withColumn("media_meta", _meta(F.col(payload_col)))


# ---------------------------------------------------------------------------
# decode / transform kernels — REAL for BMP/PNG/WAV and baseline,
# extended and progressive JPEG; STUBBED for other JPEG profiles and
# non-MJPEG video (no libjpeg/ffmpeg in container)
# ---------------------------------------------------------------------------

def _decode_stub(payload: bytes, op: str, params: str = "") -> bytes:
    """*** STUB DECODER (compressed codecs only) ***
    Deterministic fake standing in for libjpeg/ffmpeg: output = 32-byte
    digest of (op, params, payload). Rows through this path carry
    ``codec = "stub"`` so they are distinguishable from real decodes. At
    deployment, replace with the native kernel; every schema/batch
    contract around it stays identical."""
    h = hashlib.sha256()
    h.update(op.encode())
    h.update(params.encode())
    h.update(payload or b"")
    return h.digest()


def _try_decode_image(payload: bytes):
    """(array, container) for decodable containers, else (None, None)."""
    from firmwarescraper_spark.multimodal import codecs as CX

    _, container = sniff_media_type(payload)
    try:
        if container == "png":
            return CX.decode_png(payload), "png"
        if container == "bmp":
            return CX.decode_bmp(payload), "bmp"
        if container == "jpeg":
            from firmwarescraper_spark.multimodal import jpeg as JX

            arr = JX.decode_jpeg(payload)
            if arr.dtype == np.uint16:
                # 12-bit extended/progressive profiles: normalize to the
                # pipeline's uniform 8-bit raster contract by the FRAME's
                # declared precision (full-depth rasters stay available
                # via jpeg.decode_jpeg)
                prec = JX.jpeg_precision(payload) or 16
                arr = (arr >> max(prec - 8, 0)).astype(np.uint8)
            return arr, "jpeg"
    except Exception:
        pass  # malformed/unsupported variant -> stub path, tagged below
    return None, None


_DECODED_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("pixels", BinaryType()),
    StructField("codec", StringType()),
    StructField("n_in_batch", IntegerType()),
])


def decode_image_batches(df: DataFrame, id_col: str = "id",
                         payload_col: str = "payload") -> DataFrame:
    """mapInPandas decode stage. PNG/BMP payloads decode for real (pixels =
    raw H*W*C uint8 buffer + dims); anything else gets the stub digest with
    ``codec = "stub"``. One Arrow batch in -> one DataFrame out; batch size
    observable via n_in_batch."""
    def gen(batches):
        for pdf in batches:
            n, rows = len(pdf), []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                arr, container = _try_decode_image(p)
                if arr is not None:
                    h, w = arr.shape[:2]
                    c = 1 if arr.ndim == 2 else arr.shape[2]
                    rows.append((i, w, h, c, arr.tobytes(),
                                 f"numpy-{container}", n))
                else:
                    rows.append((i, None, None, None,
                                 _decode_stub(p, "decode"), "stub", n))
            yield pd.DataFrame(rows, columns=[
                "id", "width", "height", "channels", "pixels", "codec",
                "n_in_batch"])

    return df.mapInPandas(gen, _DECODED_SCHEMA)


_RESIZED_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("resized", BinaryType()),
    StructField("codec", StringType()),
])


def resize_images(df: DataFrame, width: int, height: int,
                  id_col: str = "id", payload_col: str = "payload") -> DataFrame:
    """Resize stage: PNG/BMP decode -> nearest-neighbor resample ->
    re-encode in the SAME container (a real thumbnailer); other payloads
    get the stub digest, tagged."""
    from firmwarescraper_spark.multimodal import codecs as CX

    def gen(batches):
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                arr, container = _try_decode_image(p)
                if arr is not None:
                    small = CX.resize_nearest(arr, width, height)
                    if container == "png":
                        enc = CX.encode_png(small)
                    elif container == "jpeg":
                        from firmwarescraper_spark.multimodal import jpeg as JX

                        enc = JX.encode_jpeg(small)
                    else:
                        enc = CX.encode_bmp(small)
                    rows.append((i, enc, f"numpy-{container}"))
                else:
                    rows.append((i, _decode_stub(p, "resize", f"{width}x{height}"),
                                 "stub"))
            yield pd.DataFrame(rows, columns=["id", "resized", "codec"])

    return df.mapInPandas(gen, _RESIZED_SCHEMA)


def extract_image_features(df: DataFrame, dim: int = 16,
                           id_col: str = "id", payload_col: str = "payload") -> DataFrame:
    """binary -> array<double> embedding. Decodable images produce REAL
    features (per-channel mean/std + grayscale histogram, codecs.py);
    non-decodable payloads fall back to a deterministic crc32
    pseudo-embedding (same length) so dedup/similarity pipelines stay
    testable end-to-end over mixed corpora."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(DoubleType()))
    def _feat(payload: pd.Series) -> pd.Series:
        from firmwarescraper_spark.multimodal import codecs as CX

        def feat(p):
            if p is None:
                return [0.0] * dim
            arr, _ = _try_decode_image(p)
            if arr is not None:
                v = CX.image_feature_vec(arr, dim)
                return v + [0.0] * (dim - len(v))
            return [
                (zlib.crc32(p + bytes([i])) % 10_000) / 10_000.0 for i in range(dim)
            ]
        return payload.map(feat)

    return df.select(F.col(id_col), _feat(F.col(payload_col)).alias("features"))


_DHASH_SCHEMA = StructType([
    StructField("dhash", LongType()),
    StructField("codec", StringType()),
])


def attach_dhash(df: DataFrame, id_col: str = "id",
                 payload_col: str = "payload") -> DataFrame:
    """(id, dhash, codec): 64-bit perceptual difference hash over the
    DECODED raster (codecs.dhash64) — the image analogue of the text
    simhash column. Arrow-batched pandas UDF: container decode forces
    per-row Python (BMP/PNG/JPEG through the pure-numpy codecs), the
    hash itself is 72 integer cells. Non-decodable payloads (audio,
    video, garbage, unsupported JPEG profiles) yield a NULL dhash with
    ``codec='stub'`` so downstream pair-joins can filter them without
    losing sight of what was skipped."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_DHASH_SCHEMA)
    def _dh(payload: pd.Series) -> pd.DataFrame:
        from firmwarescraper_spark.multimodal.codecs import dhash64

        rows = []
        for p in payload:
            arr, container = _try_decode_image(p)
            if arr is not None and arr.size:
                rows.append({"dhash": dhash64(arr),
                             "codec": f"numpy-{container}"})
            else:
                rows.append({"dhash": None, "codec": "stub"})
        return pd.DataFrame(rows)

    return df.select(F.col(id_col), _dh(F.col(payload_col)).alias("_d")).select(
        id_col,
        F.col("_d.dhash").alias("dhash"),
        F.col("_d.codec").alias("codec"),
    )


def dhash_neardup_pairs(df: DataFrame, id_col: str = "id",
                        payload_col: str = "payload",
                        max_hamming: int = 4, bands: int = 8) -> DataFrame:
    """Image near-duplicate pairs by dHash Hamming distance — the
    multimodal analogue of dedup.simhash_neardup_pairs, and the same
    EXACT machinery: one decode+hash scan (attach_dhash), then the
    Manku block-combination banding (dedup.hamming_neardup_pairs) over
    the 64-bit signatures. At the defaults each row explodes
    C(8,4) = 70 keys, each carrying 32 signature bits — on a web-scale
    image corpus expected collisions per key are negligible, so
    candidate volume stays linear in N while recall at hamming <= 4 is
    exact by pigeonhole. Output: (id_a, id_b, hamming); rows whose
    payload does not decode are filtered out before banding (they have
    no raster to compare)."""
    from firmwarescraper_spark.operators.dedup import hamming_neardup_pairs

    sig = attach_dhash(df, id_col=id_col, payload_col=payload_col).filter(
        F.col("dhash").isNotNull())
    return hamming_neardup_pairs(sig, sig_col="dhash", id_col=id_col,
                                 max_hamming=max_hamming, bits=64,
                                 bands=bands)


_AUDIO_FEATURES_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("duration_sec", DoubleType()),
    StructField("rms", DoubleType()),
    StructField("zero_crossing_rate", DoubleType()),
    StructField("dominant_hz", DoubleType()),
    StructField("codec", StringType()),
])


def extract_audio_features(df: DataFrame, id_col: str = "id",
                           payload_col: str = "payload") -> DataFrame:
    """REAL audio features for PCM16 WAV payloads (duration, RMS,
    zero-crossing rate, dominant frequency via numpy rFFT —
    codecs.audio_feature_vec); non-WAV rows yield nulls with
    ``codec = "stub"``."""
    from firmwarescraper_spark.multimodal import codecs as CX

    def gen(batches):
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    samples, rate = CX.decode_wav(p)
                    fv = CX.audio_feature_vec(samples, rate)
                    rows.append((i, fv["duration_sec"], fv["rms"],
                                 fv["zero_crossing_rate"], fv["dominant_hz"],
                                 "numpy-wav"))
                except Exception:
                    rows.append((i, None, None, None, None, "stub"))
            yield pd.DataFrame(rows, columns=[
                "id", "duration_sec", "rms", "zero_crossing_rate",
                "dominant_hz", "codec"])

    return df.mapInPandas(gen, _AUDIO_FEATURES_SCHEMA)


_FRAME_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("frame_no", IntegerType()),
    StructField("frame", BinaryType()),
    StructField("codec", StringType()),
])

# MJPEG sample-entry fourccs: every sample is an independently-coded JPEG
# image, so the pure-numpy baseline/progressive JPEG decoder applies
_MJPEG_FOURCC = {"jpeg", "mjpa", "mjpb", "MJPG"}


def frame_sample_video(df: DataFrame, every_n: int = 10, max_frames: int = 3,
                       id_col: str = "id", payload_col: str = "payload") -> DataFrame:
    """Video frame sampling: one input row fans out to <= max_frames rows
    via mapInPandas. REAL for Motion-JPEG tracks (r4 verdict #8): the
    ISO-BMFF sample table (codecs.mp4_sample_table) locates sample bytes,
    each sampled frame decodes through the pure-numpy JPEG decoder and is
    emitted as a BMP raster with ``codec = "mjpeg-numpy"``. Every other
    codec (avc1/hvc1/... — no ffmpeg in this container) keeps the loudly
    tagged deterministic stub (``codec = "stub"``); the Spark-side shape
    is identical either way."""
    from firmwarescraper_spark.multimodal import codecs as CX
    from firmwarescraper_spark.multimodal import jpeg as JP

    def gen(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                p = row[payload_col]
                samples = []
                if p is not None and CX.mp4_meta(p).get("codec") in _MJPEG_FOURCC:
                    samples = CX.mp4_sample_table(p)
                if samples:
                    for k in range(max_frames):
                        idx = k * every_n
                        if idx >= len(samples):
                            break
                        off, size = samples[idx]
                        try:
                            arr = JP.decode_jpeg(bytes(p[off:off + size]))
                            frame, codec = CX.encode_bmp(arr), "mjpeg-numpy"
                        except Exception:
                            frame = _decode_stub(p, "frame", str(idx))
                            codec = "stub"
                        out.append({"id": row[id_col], "frame_no": idx,
                                    "frame": frame, "codec": codec})
                else:
                    for k in range(max_frames):
                        out.append({
                            "id": row[id_col], "frame_no": k * every_n,
                            "frame": _decode_stub(p, "frame", str(k * every_n)),
                            "codec": "stub",
                        })
            yield pd.DataFrame(out, columns=["id", "frame_no", "frame",
                                             "codec"])

    return df.mapInPandas(gen, _FRAME_SCHEMA)
