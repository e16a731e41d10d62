"""Decoder validation against hand-assembled, spec-derived JPEG bytes
(ADVICE r3): these fixtures are built directly from ITU-T T.81 — Annex K
standard Huffman tables, canonical code construction, hand-packed entropy
bits — NOT by the codec under test, so an encoder/decoder-symmetric
deviation in multimodal/jpeg.py cannot pass here. Expected pixels are the
closed-form IDCT values (flat blocks: DC/8 + 128; single-AC blocks: the
exact cosine ramp)."""

import math

import numpy as np
import pytest

from firmwarescraper_spark.multimodal.jpeg import decode_jpeg, jpeg_dims

# ITU-T T.81 Annex K.3.1 / K.3.2 — standard luminance Huffman tables
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _seg(marker, payload):
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _dqt(tid, table64):
    return _seg(0xDB, bytes([tid]) + bytes(table64))


def _dht(cls, tid, bits, vals):
    return _seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))


def _sof0(h, w, comps):
    p = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([len(comps)])
    for cid, samp, qid in comps:
        p += bytes([cid, samp, qid])
    return _seg(0xC0, p)


def _sos(comps):
    p = bytes([len(comps)])
    for cid, dcid, acid in comps:
        p += bytes([cid, (dcid << 4) | acid])
    return _seg(0xDA, p + bytes([0, 63, 0]))


class _HandBitWriter:
    """Independent of the codec's _BitWriter on purpose."""

    def __init__(self):
        self.bits = ""

    def put(self, s):
        self.bits += s

    def putval(self, v, n):
        if n:
            self.bits += format(v, f"0{n}b")

    def to_bytes(self):
        b = self.bits + "1" * ((8 - len(self.bits) % 8) % 8)
        out = bytearray()
        for i in range(0, len(b), 8):
            byte = int(b[i:i + 8], 2)
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # T.81 byte stuffing
        return bytes(out)


def _canonical_codes(bits, vals):
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = format(code, f"0{ln}b")
            code += 1
            k += 1
        code <<= 1
    return out


DC = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
AC = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)


def _dc_cat(diff):
    if diff == 0:
        return 0, 0
    n = abs(diff).bit_length()
    v = diff if diff >= 0 else diff + (1 << n) - 1
    return n, v


Q16 = [16] * 64  # uniform quant table (zigzag irrelevant when uniform)


def _gray_jpeg(h, w, entropy_bits):
    return (
        bytes([0xFF, 0xD8]) + _dqt(0, Q16) + _sof0(h, w, [(1, 0x11, 0)])
        + _dht(0, 0, DC_LUM_BITS, DC_LUM_VALS)
        + _dht(1, 0, AC_LUM_BITS, AC_LUM_VALS)
        + _sos([(1, 0, 0)]) + entropy_bits + bytes([0xFF, 0xD9])
    )


def test_annexk_codes_sanity():
    # published canonical facts about the Annex K tables
    assert DC[0] == "00" and DC[4] == "101"
    assert AC[0x00] == "1010"  # EOB


def test_flat_gray_block():
    """DC diff 0, no AC -> every pixel exactly 128 (level shift only)."""
    bw = _HandBitWriter()
    bw.put(DC[0])
    bw.put(AC[0x00])
    payload = _gray_jpeg(8, 8, bw.to_bytes())
    assert jpeg_dims(payload) == (8, 8)
    img = decode_jpeg(payload)
    assert img.shape[:2] == (8, 8)
    assert np.all(img == 128)


def test_dc_prediction_across_mcus():
    """Two MCUs: DC diff +8 then -8 with q=16 -> dequant 128 -> flat 144,
    then back to 128 — pins DPCM DC prediction and dequantization."""
    bw = _HandBitWriter()
    n, v = _dc_cat(8)
    bw.put(DC[n]); bw.putval(v, n); bw.put(AC[0x00])
    n, v = _dc_cat(-8)
    bw.put(DC[n]); bw.putval(v, n); bw.put(AC[0x00])
    img = decode_jpeg(_gray_jpeg(8, 16, bw.to_bytes()))
    assert img.shape[:2] == (8, 16)
    assert np.all(img[:, :8] == 144)
    assert np.all(img[:, 8:] == 128)


def test_single_ac_cosine_ramp():
    """DC 0 + AC(0,1)=+4 (dequant 64): the exact horizontal IDCT ramp
    f(x) = 128 + 64/(4*sqrt(2)) * cos((2x+1)*pi/16), identical rows."""
    bw = _HandBitWriter()
    bw.put(DC[0])
    bw.put(AC[0x03]); bw.putval(4, 3)  # run 0, size 3, value +4
    bw.put(AC[0x00])
    img = decode_jpeg(_gray_jpeg(8, 8, bw.to_bytes()))[:, :, 0]
    exp = np.array([
        round(128 + 64 / (4 * math.sqrt(2)) * math.cos((2 * x + 1) * math.pi / 16))
        for x in range(8)
    ])
    assert np.array_equal(img[0], exp)
    assert np.all(img == img[0])  # u-frequency only: rows identical


def test_byte_stuffing_and_negative_ac():
    """Entropy stream forcing an 0xFF byte (stuffed 0x00) plus a negative
    AC value — pins the stuffing reader and the _extend sign logic."""
    bw = _HandBitWriter()
    bw.put(DC[0])
    # AC(0,1) = -4 -> category 3, value bits = one's complement = "011"
    bw.put(AC[0x03]); bw.putval(3, 3)
    bw.put(AC[0x00])
    # pad pattern after EOB is all 1s; with these codes the byte layout
    # yields at least one 0xFF in many alignments — force one explicitly
    # by appending a second all-ones-padded MCU row via width 16
    bw2 = _HandBitWriter()
    bw2.put(DC[0]); bw2.put(AC[0x03]); bw2.putval(3, 3); bw2.put(AC[0x00])
    bw2.put(DC[0]); bw2.put(AC[0x00])
    img = decode_jpeg(_gray_jpeg(8, 8, bw.to_bytes()))[:, :, 0]
    exp = np.array([
        round(128 - 64 / (4 * math.sqrt(2)) * math.cos((2 * x + 1) * math.pi / 16))
        for x in range(8)
    ])
    assert np.array_equal(img[0], exp)
    img2 = decode_jpeg(_gray_jpeg(8, 16, bw2.to_bytes()))
    assert np.all(img2[:, 8:] == 128)


# ---------------------------------------------------------------------------
# 12-bit extended sequential (SOF1) — round-5 spec fixtures
# ---------------------------------------------------------------------------

# Flat full-range tables, restated here by hand (T.81 F.1.2 category
# ranges) rather than imported from the codec, so an encoder/decoder-
# symmetric table bug cannot pass.
DC12_BITS = [0, 0, 0, 15, 1] + [0] * 11
DC12_VALS = list(range(16))
AC12_BITS = [0, 0, 0, 0, 0, 0, 0, 226] + [0] * 8
AC12_VALS = sorted(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 15)])


def _dqt16(tid, table64):
    body = bytes([0x10 | tid])
    for v in table64:
        body += int(v).to_bytes(2, "big")
    return _seg(0xDB, body)


def _sof1(h, w, comps, prec=12):
    p = bytes([prec]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([len(comps)])
    for cid, samp, qid in comps:
        p += bytes([cid, samp, qid])
    return _seg(0xC1, p)


def _stream12(entropy_bits: str) -> bytes:
    """SOI..EOI wrapper for one 8x8 12-bit grayscale scan with unit
    quantization (every dequantized coefficient = its decoded value)."""
    bw = _HandBitWriter()
    bw.put(entropy_bits)
    return (
        b"\xff\xd8"
        + _dqt16(0, [1] * 64)
        + _sof1(8, 8, [(1, 0x11, 0)])
        + _dht(0, 0, DC12_BITS, DC12_VALS)
        + _dht(1, 0, AC12_BITS, AC12_VALS)
        + _sos([(1, 0, 0)])
        + bw.to_bytes()
        + b"\xff\xd9"
    )


def test_12bit_flat_block_closed_form():
    """DC-only block: diff 800 (category 10, code '1010' in the flat DC
    table), EOB. Every pixel = 2048 + 800/8 = 2148 exactly."""
    bits = "1010" + format(800, "010b") + "00000000"
    img = decode_jpeg(_stream12(bits))
    assert img.dtype == np.uint16 and img.shape == (8, 8, 1)
    assert np.all(img == 2148)


def test_12bit_single_ac_closed_form():
    """DC 0, one AC coefficient 1000 at zigzag index 1 (natural (0,1) — a
    horizontal cosine ramp), EOB. Expected pixels are the closed-form
    basis values: 2048 + 1000 * (1/sqrt(8)) * sqrt(2/8)*cos((2x+1)pi/16)."""
    # DC cat 0 -> code 0000; AC symbol 0x0A (run 0, size 10) is index 10
    # of the sorted flat table -> 8-bit code 00001010
    bits = "0000" + "00001010" + format(1000, "010b") + "00000000"
    img = decode_jpeg(_stream12(bits))[:, :, 0].astype(np.int64)
    for x in range(8):
        basis = math.sqrt(1 / 8) * math.sqrt(2 / 8) * math.cos(
            (2 * x + 1) * math.pi / 16)
        want = int(min(max(2048 + 1000 * basis, 0), 4095) + 0.5)
        assert np.all(img[:, x] == want), x
    assert img.min() >= 2048 - 340 and img.max() <= 2048 + 340


def test_12bit_roundtrip_constant_gray():
    from firmwarescraper_spark.multimodal.jpeg import encode_jpeg_12bit

    arr = np.full((16, 24), 3000, dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_12bit(arr, quality=97))
    assert out.dtype == np.uint16 and out.shape == (16, 24, 1)
    assert int(np.abs(out[:, :, 0].astype(np.int64) - 3000).max()) <= 1


def test_12bit_roundtrip_gradient_gray():
    from firmwarescraper_spark.multimodal.jpeg import encode_jpeg_12bit

    y, x = np.mgrid[0:16, 0:16]
    arr = (x * 200 + y * 50).astype(np.uint16)          # smooth ramp
    out = decode_jpeg(encode_jpeg_12bit(arr, quality=97))[:, :, 0]
    err = np.abs(out.astype(np.int64) - arr.astype(np.int64))
    # 12-bit quant steps are 16x the 8-bit tables; a smooth ramp stays
    # within a few steps everywhere
    assert int(err.max()) <= 96 and float(err.mean()) <= 24


def test_12bit_roundtrip_constant_rgb():
    from firmwarescraper_spark.multimodal.jpeg import encode_jpeg_12bit

    arr = np.zeros((8, 8, 3), dtype=np.uint16)
    arr[:, :, 0], arr[:, :, 1], arr[:, :, 2] = 1000, 2000, 3000
    out = decode_jpeg(encode_jpeg_12bit(arr, quality=97))
    assert out.dtype == np.uint16 and out.shape == (8, 8, 3)
    for c, want in enumerate((1000, 2000, 3000)):
        assert int(np.abs(out[:, :, c].astype(np.int64) - want).max()) <= 24, c


def test_12bit_input_validation():
    from firmwarescraper_spark.multimodal.jpeg import encode_jpeg_12bit

    with pytest.raises(ValueError):
        encode_jpeg_12bit(np.zeros((8, 8), dtype=np.uint8))
    with pytest.raises(ValueError):
        encode_jpeg_12bit(np.full((8, 8), 4096, dtype=np.uint16))


def test_12bit_progressive_roundtrip_equals_sequential():
    """12-bit progressive (SOF2 P=12, Pq=1 tables, DC12/AC_PROG12) is a
    lossless reorganization of the same quantized coefficients as the
    12-bit extended-sequential stream: identical uint16 rasters, both
    color and grayscale."""
    from firmwarescraper_spark.multimodal.jpeg import (
        encode_jpeg_12bit, encode_jpeg_progressive)

    rng = np.random.default_rng(21)
    rgb = rng.integers(0, 4096, size=(9, 13, 3)).astype(np.uint16)
    gray = rng.integers(0, 4096, size=(8, 10)).astype(np.uint16)
    for arr in (rgb, gray):
        prog = decode_jpeg(encode_jpeg_progressive(
            arr, quality=90, precision=12))
        seq = decode_jpeg(encode_jpeg_12bit(arr, quality=90))
        assert prog.dtype == np.uint16
        assert np.array_equal(prog, seq)


def test_12bit_progressive_subsampled_decodes():
    """12-bit SOF2 with 4:2:0 chroma subsampling exercises the
    progressive per-component block grids at P=12; values stay inside
    the 12-bit range and the constant-color fixture reconstructs flat."""
    from firmwarescraper_spark.multimodal.jpeg import encode_jpeg_progressive

    arr = np.full((11, 9, 3), 3000, dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_progressive(
        arr, quality=95, subsampling="420", precision=12))
    assert out.dtype == np.uint16 and out.shape == (11, 9, 3)
    assert int(np.abs(out.astype(np.int64) - 3000).max()) <= 48


def test_12bit_progressive_binary_normalization():
    from firmwarescraper_spark.multimodal.binary import _try_decode_image
    from firmwarescraper_spark.multimodal.jpeg import encode_jpeg_progressive

    payload = encode_jpeg_progressive(
        np.full((10, 14), 2400, dtype=np.uint16), quality=95, precision=12)
    arr, container = _try_decode_image(payload)
    assert container == "jpeg" and arr.dtype == np.uint8
    assert int(np.abs(arr.astype(np.int64) - (2400 >> 4)).max()) <= 1


def test_12bit_dims_and_binary_integration():
    from firmwarescraper_spark.multimodal.binary import _try_decode_image
    from firmwarescraper_spark.multimodal.jpeg import encode_jpeg_12bit

    payload = encode_jpeg_12bit(np.full((10, 14), 2400, dtype=np.uint16))
    assert jpeg_dims(payload) == (14, 10)
    arr, container = _try_decode_image(payload)
    # binary.py normalizes 12-bit rasters to the uniform 8-bit contract
    assert container == "jpeg" and arr.dtype == np.uint8
    assert int(np.abs(arr.astype(np.int64) - (2400 >> 4)).max()) <= 1


# ---------------------------------------------------------------------------
# lossless (SOF3, T.81 Annex H): header-only, pixels take the stub path
# ---------------------------------------------------------------------------

def _lossless_fixture():
    """Hand-built SOF3 stream: 2x2 gray samples [[100,101],[102,104]],
    predictor 1, Pt 0, one flat DC table (categories 0-13 as 4-bit codes,
    14-16 as 5-bit codes)."""
    dc16 = [0, 0, 0, 14, 3] + [0] * 11, list(range(17))
    dht = _seg(0xC4, bytes([0x00]) + bytes(dc16[0]) + bytes(dc16[1]))
    sof = _seg(0xC3, bytes([8, 0, 2, 0, 2, 1, 1, 0x11, 0]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 1, 0, 0]))   # Ss=1 (pred), Al=0
    entropy = bytes([0x51, 0x8C, 0xA2, 0xBF])
    return b"\xff\xd8" + dht + sof + sos + entropy + b"\xff\xd9"


def test_lossless_hand_assembled_fixture():
    """The decoder rejects SOF3 by name; the header still gives the dims."""
    payload = _lossless_fixture()
    with pytest.raises(ValueError, match="unsupported SOF marker 0xFFC3"):
        decode_jpeg(payload)
    assert jpeg_dims(payload) == (2, 2)


def test_lossless_binary_integration():
    from firmwarescraper_spark.multimodal.binary import _try_decode_image

    assert _try_decode_image(_lossless_fixture()) == (None, None)
