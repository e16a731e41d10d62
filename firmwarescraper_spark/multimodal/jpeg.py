"""JFIF (JPEG) codec in pure numpy/stdlib — a REAL decoder and encoder
for the web's dominant interchange format, written from the public
ITU-T T.81 spec (no libjpeg in this container).

Scope:

  * decode — baseline (SOF0), progressive (SOF2, both spectral
    selection and successive approximation, EOBRUN end-of-band runs),
    AND extended sequential (SOF1) at 8-bit or 12-bit sample depth
    (12-bit streams carry 16-bit quantization tables, Pq=1, and decode
    to uint16 rasters in [0, 4095]); 1 or 3 components, any sampling
    factors up to 2x2 (4:4:4, 4:2:2, 4:2:0, grayscale), byte-stuffed
    entropy stream, restart intervals (DRI/RSTn), multiple DQT/DHT
    segments, DHT redefinition between scans. Every other SOF marker —
    lossless (SOF3), the arithmetic-coded profiles (SOF9, SOF10, SOF11)
    and the hierarchical ones — is rejected with a ValueError (those
    payloads fall back to the tagged stub path in binary.py); their
    headers still parse through ``jpeg_dims`` / ``jpeg_precision``.
  * encode — baseline (``encode_jpeg``), progressive
    (``encode_jpeg_progressive``), and 12-bit extended sequential
    (``encode_jpeg_12bit``: SOF1 + Pq=1 quant tables + flat custom
    Huffman tables covering the full 12-bit category range), 4:4:4 or
    4:2:0 or grayscale, Annex K quantization tables scaled by an IJG
    quality factor. Baseline and progressive quantize identically, so a
    progressive stream decodes pixel-identical to its baseline twin —
    the invariant the tests pin.

The 8x8 transforms are orthonormal-DCT matrix products (numpy); the
per-block Huffman loop is Python, which is fine at the thumbnail scale
these kernels target — bulk decode belongs to native codecs on the
executor image (see multimodal/binary.py module doc).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constants: zigzag, Annex K quantization + Huffman tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# ITU-T T.81 Annex K.1 — example luminance/chrominance quantization tables
STD_LUM_QT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

STD_CHR_QT = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 — typical Huffman tables: (bits[1..16], values)
DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
          list(range(12)))
DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
          list(range(12)))
AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
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
])
AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])

# orthonormal 8x8 DCT-II basis: F = T @ f @ T.T, f = T.T @ F @ T
_T = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        c = np.sqrt(1 / 8) if _u == 0 else np.sqrt(2 / 8)
        _T[_u, _x] = c * np.cos((2 * _x + 1) * _u * np.pi / 16)


# ---------------------------------------------------------------------------
# Huffman code construction (T.81 Annex C)
# ---------------------------------------------------------------------------

def _build_codes(bits, values):
    """(bits, values) -> {symbol: (code, length)} per Annex C canonical
    code assignment."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode_map(bits, values):
    """(bits, values) -> {(length, code): symbol} for the decoder."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return out


# ---------------------------------------------------------------------------
# bit I/O over the byte-stuffed entropy segment
# ---------------------------------------------------------------------------

class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos          # next byte index
        self.buf = 0
        self.nbits = 0

    def _fill(self):
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                # pad with 1s past the end (T.81 F.2.2.5 allows it for the
                # final truncated byte)
                self.buf = (self.buf << 8) | 0xFF
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0
                if nxt == 0x00:           # stuffed byte
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:  # restart marker: stop filling
                    self.buf = (self.buf << 8) | 0xFF
                    self.nbits += 8
                    continue
                else:                      # EOI or next segment: pad
                    self.buf = (self.buf << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.buf = (self.buf << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_restart(self):
        """Drop partial bits, consume the RSTn marker, continue after it."""
        self.buf = 0
        self.nbits = 0
        d = self.data
        p = self.pos
        while p + 1 < len(d):
            if d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
                self.pos = p + 2
                return
            p += 1
        self.pos = len(d)


def _huff_decode(reader: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def jpeg_precision(payload: bytes):
    """Sample precision P from the SOFn header — header-only, no decode."""
    try:
        if not payload or payload[:3] != b"\xff\xd8\xff":
            return None
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            length = struct.unpack_from(">H", payload, pos + 2)[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return int(payload[pos + 4])
            pos += 2 + length
        return None
    except Exception:
        return None


def jpeg_dims(payload: bytes):
    """(width, height) from the SOFn header — header-only, no decode."""
    try:
        if not payload or payload[:3] != b"\xff\xd8\xff":
            return None, None
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                return None, None
            marker = payload[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            length = struct.unpack_from(">H", payload, pos + 2)[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack_from(">HH", payload, pos + 5)
                return int(w), int(h)
            pos += 2 + length
        return None, None
    except Exception:
        return None, None


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JFIF bytes -> (H, W, 3) RGB (or (H, W, 1) for grayscale streams);
    uint8 for 8-bit depth, uint16 in [0, 4095] for 12-bit extended
    sequential (SOF1). Baseline/extended decode block-streaming;
    progressive (SOF2, spectral selection AND successive approximation)
    accumulates the coefficient store across scans and reconstructs at
    EOI. Lossless, arithmetic-coded and hierarchical profiles raise
    ValueError."""
    if not payload or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt = {}                 # id -> 64 int32 (natural order)
    huff_dc, huff_ac = {}, {}
    frame = None            # (h, w, [(cid, hs, vs, qid)])
    progressive = False
    coeffs = None           # progressive: cid -> (bh, bw, 64) int32 (zigzag)
    restart_interval = 0
    pos = 2
    n = len(payload)
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:          # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        length = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2:pos + length]
        if marker == 0xDB:          # DQT
            bpos = 0
            while bpos < len(body):
                pq, tq = body[bpos] >> 4, body[bpos] & 0x0F
                if pq not in (0, 1):
                    raise ValueError("bad quant table precision")
                tbl = np.zeros(64, dtype=np.int32)
                if pq == 0:
                    tbl[ZIGZAG] = np.frombuffer(
                        body, dtype=np.uint8, count=64, offset=bpos + 1)
                    bpos += 65
                else:                # Pq=1: 16-bit entries (12-bit streams)
                    tbl[ZIGZAG] = np.frombuffer(
                        body, dtype=">u2", count=64,
                        offset=bpos + 1).astype(np.int32)
                    bpos += 129
                qt[tq] = tbl
        elif marker == 0xC4:        # DHT
            bpos = 0
            while bpos < len(body):
                tc, th = body[bpos] >> 4, body[bpos] & 0x0F
                bits = list(body[bpos + 1:bpos + 17])
                nv = sum(bits)
                vals = list(body[bpos + 17:bpos + 17 + nv])
                table = _build_decode_map(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = table
                bpos += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline (8-bit) / SOF1 extended sequential (8- or
            # 12-bit, T.81 table B.2) / SOF2 progressive
            prec = body[0]
            progressive = marker == 0xC2
            allowed = (8,) if marker == 0xC0 else (8, 12)
            if prec not in allowed:
                raise ValueError(
                    f"unsupported sample precision {prec} for "
                    f"SOF{marker - 0xC0}")
            h, w = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            comps = []
            for i in range(ncomp):
                cid = body[6 + 3 * i]
                hv = body[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, body[8 + 3 * i]))
            frame = (h, w, comps, prec)
            if progressive:
                geo = _comp_geometry(frame)
                coeffs = {
                    cid: np.zeros((bh_pad, bw_pad, 64), dtype=np.int32)
                    for cid, (_, _, bw_pad, bh_pad, _, _) in geo[2].items()
                }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported SOF marker 0xFF{marker:02X}")
        elif marker == 0xDD:        # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:        # SOS -> entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for i in range(ns):
                cs = body[1 + 2 * i]
                tt = body[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 0x0F))
            data_start = pos + length
            if not progressive:
                return _decode_scan(
                    payload, data_start, frame, scan, qt, huff_dc, huff_ac,
                    restart_interval)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            pos = _decode_progressive_scan(
                payload, data_start, frame, scan, ss, se,
                ahal >> 4, ahal & 0x0F, huff_dc, huff_ac,
                restart_interval, coeffs)
            continue
        pos += length
    if progressive and coeffs is not None:
        return _reconstruct_from_coeffs(frame, coeffs, qt)
    raise ValueError("no SOS marker found")


def _comp_geometry(frame):
    """(hmax/vmax MCU grid, per-comp block dims). Returns (mcus_x, mcus_y,
    {cid: (hs, vs, bw_pad, bh_pad, bw_used, bh_used)}) where *_pad is the
    MCU-padded block grid (interleaved scans) and *_used the component's
    own ceil grid (non-interleaved scans, T.81 A.2.2)."""
    h, w, comps = frame[:3]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    geo = {}
    for cid, hs, vs, _qid in comps:
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        geo[cid] = (hs, vs, mcus_x * hs, mcus_y * vs, -(-cw // 8), -(-ch // 8))
    return mcus_x, mcus_y, geo


def _find_next_marker(payload: bytes, pos: int) -> int:
    """Scan forward to the next non-stuffed, non-RST marker boundary."""
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] == 0xFF and payload[pos + 1] != 0x00 \
                and not (0xD0 <= payload[pos + 1] <= 0xD7):
            return pos
        pos += 1
    return n


def _decode_progressive_scan(payload, data_start, frame, scan, ss, se,
                             ah, al, huff_dc, huff_ac, restart_interval,
                             coeffs):
    """Decode one progressive scan (T.81 G.2) into the coefficient store;
    returns the stream position of the next marker. Handles all four scan
    kinds: DC first / DC refine / AC first / AC refine, interleaved and
    non-interleaved, with restart intervals."""
    h, w, comps = frame[:3]
    mcus_x, mcus_y, geo = _comp_geometry(frame)
    by_id = {c[0]: c for c in comps}
    reader = _BitReader(payload, data_start)
    state = {"eobrun": 0, "pred": {cid: 0 for cid, *_ in comps}}

    def restart():
        reader.align_to_restart()
        state["eobrun"] = 0
        state["pred"] = {cid: 0 for cid in state["pred"]}

    if ss == 0:
        # ---- DC scan (always covers only coefficient 0) ----
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        interleaved = len(scan) > 1
        if interleaved:
            units = []
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    blocks = []
                    for cid, td, _ta in scan:
                        hs, vs = geo[cid][0], geo[cid][1]
                        for by in range(vs):
                            for bx in range(hs):
                                blocks.append(
                                    (cid, td, my * vs + by, mx * hs + bx))
                    units.append(blocks)
        else:
            cid, td, _ta = scan[0]
            _, _, _, _, bw_u, bh_u = geo[cid]
            units = [[(cid, td, by, bx)]
                     for by in range(bh_u) for bx in range(bw_u)]
        for i, unit in enumerate(units):
            if restart_interval and i and i % restart_interval == 0:
                restart()
            for cid, td, by, bx in unit:
                block = coeffs[cid][by, bx]
                if ah == 0:
                    t = _huff_decode(reader, huff_dc[td])
                    diff = _extend(reader.receive(t), t)
                    state["pred"][cid] += diff
                    block[0] = state["pred"][cid] << al
                else:
                    if reader.read_bit():
                        block[0] |= (1 << al)
    else:
        # ---- AC scan: single component, non-interleaved (T.81 G.1.1.1.1)
        if len(scan) != 1:
            raise ValueError("interleaved AC scan is illegal in progressive")
        cid, _td, ta = scan[0]
        ac_tbl = huff_ac[ta]
        _, _, _, _, bw_u, bh_u = geo[cid]
        p1, m1 = 1 << al, -1 << al
        unit_i = 0
        for by in range(bh_u):
            for bx in range(bw_u):
                if restart_interval and unit_i and \
                        unit_i % restart_interval == 0:
                    restart()
                unit_i += 1
                block = coeffs[cid][by, bx]
                if ah == 0:
                    # AC first pass
                    if state["eobrun"] > 0:
                        state["eobrun"] -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = _huff_decode(reader, ac_tbl)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r < 15:
                                state["eobrun"] = (1 << r) - 1
                                if r:
                                    state["eobrun"] += reader.receive(r)
                                break
                            k += 16        # ZRL
                            continue
                        k += r
                        if k > se:
                            raise ValueError("AC band overflow")
                        block[k] = _extend(reader.receive(s), s) << al
                        k += 1
                else:
                    # AC refinement (T.81 G.1.2.3 / figure G.7)
                    k = ss
                    if state["eobrun"] == 0:
                        while k <= se:
                            rs = _huff_decode(reader, ac_tbl)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r < 15:
                                    state["eobrun"] = 1 << r
                                    if r:
                                        state["eobrun"] += reader.receive(r)
                                    break
                                # ZRL: skip 16 zero-history positions
                                newval = 0
                            else:
                                if s != 1:
                                    raise ValueError(
                                        "bad refinement magnitude")
                                newval = p1 if reader.read_bit() else m1
                            while k <= se:
                                cur = int(block[k])
                                if cur != 0:
                                    if reader.read_bit():
                                        if (cur & p1) == 0:
                                            block[k] = cur + (
                                                p1 if cur >= 0 else m1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if s and k <= se:
                                block[k] = newval
                            k += 1
                    if state["eobrun"] > 0:
                        while k <= se:
                            cur = int(block[k])
                            if cur != 0:
                                if reader.read_bit():
                                    if (cur & p1) == 0:
                                        block[k] = cur + (
                                            p1 if cur >= 0 else m1)
                            k += 1
                        state["eobrun"] -= 1
    return _find_next_marker(payload, reader.pos)


def _reconstruct_from_coeffs(frame, coeffs, qt):
    """Dequantize + IDCT the accumulated progressive coefficient store,
    then upsample/color-convert exactly like the baseline path. Sample
    depth follows the frame precision (level shift 2^(P-1), clamp to
    2^P - 1; 12-bit rasters come back as uint16)."""
    h, w, comps = frame[:3]
    prec = frame[3] if len(frame) > 3 else 8
    level = float(1 << (prec - 1))
    maxval = (1 << prec) - 1
    out_dtype = np.uint8 if prec == 8 else np.uint16
    mcus_x, mcus_y, geo = _comp_geometry(frame)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    Tt = _T.T
    out = []
    for cid, hs, vs, qid in comps:
        _, _, bw_pad, bh_pad, _, _ = geo[cid]
        qtbl = qt[qid].astype(np.float64)
        plane = np.zeros((bh_pad * 8, bw_pad * 8), dtype=np.float64)
        store = coeffs[cid]
        for by in range(bh_pad):
            for bx in range(bw_pad):
                block = np.zeros(64, dtype=np.float64)
                block[ZIGZAG] = store[by, bx] * qtbl[ZIGZAG]
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (
                    Tt @ block.reshape(8, 8) @ _T + level)
        if hs != hmax or vs != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        out.append(plane[:h, :w])
    if len(out) == 1:
        return (np.clip(out[0], 0, maxval) + 0.5).astype(out_dtype)[:, :, None]
    y, cb, cr = out[0], out[1] - level, out[2] - level
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return (np.clip(rgb, 0, maxval) + 0.5).astype(out_dtype)


def _decode_scan(payload, data_start, frame, scan, qt, huff_dc, huff_ac,
                 restart_interval):
    h, w, comps = frame[:3]
    prec = frame[3] if len(frame) > 3 else 8
    # sample depth plumbing (T.81 A.3.1): level shift 2^(P-1), clamp to
    # [0, 2^P - 1]; 12-bit rasters come back as uint16
    level = float(1 << (prec - 1))
    maxval = (1 << prec) - 1
    out_dtype = np.uint8 if prec == 8 else np.uint16
    if len(scan) != len(comps):
        raise ValueError("multi-scan streams unsupported (baseline only)")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    planes = {}
    meta = {}
    by_id = {c[0]: c for c in comps}
    for cid, hs, vs, qid in comps:
        pw, ph = mcus_x * hs * 8, mcus_y * vs * 8
        planes[cid] = np.zeros((ph, pw), dtype=np.float64)
        meta[cid] = (hs, vs, qt[qid])

    reader = _BitReader(payload, data_start)
    pred = {cid: 0 for cid, *_ in comps}
    Tt = _T.T
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                reader.align_to_restart()
                pred = {cid: 0 for cid in pred}
            for cid, td, ta in scan:
                hs, vs, qtbl = meta[cid]
                dc_tbl, ac_tbl = huff_dc[td], huff_ac[ta]
                for by in range(vs):
                    for bx in range(hs):
                        coeffs = np.zeros(64, dtype=np.int32)
                        t = _huff_decode(reader, dc_tbl)
                        diff = _extend(reader.receive(t), t)
                        pred[cid] += diff
                        coeffs[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, ac_tbl)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:   # ZRL
                                    k += 16
                                    continue
                                break          # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            coeffs[k] = _extend(reader.receive(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        # coeffs is zigzag-ordered; pair each with the
                        # quant value of its NATURAL position (qtbl is
                        # natural-order, so index it through ZIGZAG)
                        block[ZIGZAG] = coeffs * qtbl[ZIGZAG]
                        spatial = Tt @ block.reshape(8, 8) @ _T + level
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[cid][y0:y0 + 8, x0:x0 + 8] = spatial
            mcu_count += 1

    # upsample to full resolution and clip to image size
    out = []
    for cid, hs, vs, _ in comps:
        p = planes[cid]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        y = np.clip(out[0], 0, maxval)
        return (y + 0.5).astype(out_dtype)[:, :, None]
    y, cb, cr = out[0], out[1] - level, out[2] - level
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return (np.clip(rgb, 0, maxval) + 0.5).astype(out_dtype)


# ---------------------------------------------------------------------------
# encoder (baseline, 4:4:4 or grayscale, Annex K tables)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)   # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


def _quality_scale(qtbl: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base table (public libjpeg formula)."""
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (qtbl * s + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


def _encode_block(bw, block, qtbl, dc_codes, ac_codes, pred, level=128.0):
    coeffs = _T @ (block - level) @ _T.T
    q = np.round(coeffs.ravel() / qtbl.astype(np.float64)).astype(np.int32)
    zz = q[ZIGZAG]
    # T.81 F.1.2.2.1 caps AC amplitudes at 2^14 - 1 for 12-bit streams
    # (category 15 is DC-only); a no-op for 8-bit where |AC| <= 1024
    zz[1:] = np.clip(zz[1:], -16383, 16383)
    diff = int(zz[0]) - pred
    pred = int(zz[0])
    t = int(diff).bit_length() if diff != 0 else 0
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        v = diff if diff > 0 else diff + (1 << t) - 1
        bw.write(v, t)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            if k > last_nz:
                code, length = ac_codes[0x00]   # EOB
                bw.write(code, length)
                break
            run += 1
            if run == 16:
                code, length = ac_codes[0xF0]   # ZRL
                bw.write(code, length)
                run = 0
            continue
        s = int(abs(v)).bit_length()
        code, length = ac_codes[(run << 4) | s]
        bw.write(code, length)
        mv = v if v > 0 else v + (1 << s) - 1
        bw.write(mv, s)
        run = 0
    return pred


def _pad_to(p: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate pad a plane to (ph, pw)."""
    h, w = p.shape
    pad = np.empty((ph, pw), dtype=np.float64)
    pad[:h, :w] = p
    pad[h:, :w] = p[h - 1:h, :]
    pad[:, w:] = pad[:, w - 1:w]
    return pad


def _encode_prep(arr: np.ndarray, quality: int, subsampling: str,
                 prec: int = 8):
    """Shared encoder front half: color convert, subsample, MCU-pad.
    Returns (gray, h, w, lum_q, chr_q, padded, mcus_x, mcus_y) where
    padded = [(plane, hs, vs, qtbl, dc_codes, ac_codes)].

    ``prec`` 12 expects uint16 samples in [0, 4095]; quantization tables
    scale x16 (same relative step sizes over the 16x dynamic range) and
    the Huffman code maps switch to the full-category 12-bit tables
    (DC12/AC12), mirroring :func:`encode_jpeg_12bit`."""
    if prec == 8:
        arr = np.asarray(arr, dtype=np.uint8)
    else:
        arr = np.asarray(arr)
        if arr.dtype != np.uint16:
            raise ValueError("12-bit encoder expects uint16 samples")
        if arr.size and int(arr.max()) > 4095:
            raise ValueError("12-bit samples must be in [0, 4095]")
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")

    if prec == 8:
        lum_q = _quality_scale(STD_LUM_QT, quality)
        chr_q = _quality_scale(STD_CHR_QT, quality)
        dc_l, ac_l = _build_codes(*DC_LUM), _build_codes(*AC_LUM)
        dc_c, ac_c = _build_codes(*DC_CHR), _build_codes(*AC_CHR)
    else:
        lum_q = np.clip(
            _quality_scale(STD_LUM_QT, quality).astype(np.int64) * 16,
            1, 65535).astype(np.int32)
        chr_q = np.clip(
            _quality_scale(STD_CHR_QT, quality).astype(np.int64) * 16,
            1, 65535).astype(np.int32)
        dc_l = dc_c = _build_codes(*DC12)
        ac_l = ac_c = _build_codes(*AC12)

    level = float(1 << (prec - 1))
    # components: (plane, hs, vs, qtbl, dc_codes, ac_codes)
    if gray:
        comps = [(arr.astype(np.float64), 1, 1, lum_q, dc_l, ac_l)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + level
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + level
        if subsampling in ("420", "422"):
            # box-average chroma downsample: 2x2 for 4:2:0, 1x2 for 4:2:2
            # (pad odd dims first)
            fy = 2 if subsampling == "420" else 1
            ch, cw = -(-h // fy) * fy, -(-w // 2) * 2
            cbp, crp = _pad_to(cb, ch, cw), _pad_to(cr, ch, cw)
            cb = cbp.reshape(ch // fy, fy, cw // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(ch // fy, fy, cw // 2, 2).mean(axis=(1, 3))
            comps = [(y, 2, fy, lum_q, dc_l, ac_l),
                     (cb, 1, 1, chr_q, dc_c, ac_c),
                     (cr, 1, 1, chr_q, dc_c, ac_c)]
        else:
            comps = [(y, 1, 1, lum_q, dc_l, ac_l),
                     (cb, 1, 1, chr_q, dc_c, ac_c),
                     (cr, 1, 1, chr_q, dc_c, ac_c)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = [
        (_pad_to(p, mcus_y * vs * 8, mcus_x * hs * 8), hs, vs, qt, dc, ac)
        for p, hs, vs, qt, dc, ac in comps
    ]
    return gray, h, w, lum_q, chr_q, padded, mcus_x, mcus_y


def encode_jpeg(arr: np.ndarray, quality: int = 85,
                subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """(H, W, 3) uint8 RGB or (H, W[, 1]) gray -> baseline JFIF bytes
    (Annex K Huffman tables, IJG-scaled Annex K quant tables).

    ``subsampling``: "444" (one 8x8 block per component per MCU), "422"
    (2x1-sampled luma) or "420" (2x2-sampled luma, box-averaged chroma —
    the common camera/web profile; also how the decoder's upsampling path
    gets test coverage).

    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker every
    N MCUs (DC predictors reset, bit stream byte-aligned) — the
    error-resilience structure real encoders emit, and the coverage for
    the decoder's restart path."""
    gray, h, w, lum_q, chr_q, padded, mcus_x, mcus_y = _encode_prep(
        arr, quality, subsampling)
    comps = padded

    bw = _BitWriter()
    preds = [0] * len(comps)
    mcu_count = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                bw.flush()                     # byte-align (1-padded)
                bw.out += bytes([0xFF, 0xD0 + rst_n])   # RSTn, not stuffed
                rst_n = (rst_n + 1) & 7
                preds = [0] * len(comps)
            mcu_count += 1
            for ci, (plane, hs, vs, qt, dc, ac) in enumerate(padded):
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        block = plane[y0:y0 + 8, x0:x0 + 8]
                        preds[ci] = _encode_block(
                            bw, block, qt, dc, ac, preds[ci])
    bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")                      # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(lum_q[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(0xDB, bytes([0x01]) + bytes(chr_q[ZIGZAG].astype(np.uint8)))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i, (_, hs, vs, *_rest) in enumerate(comps):
        sof += bytes([i + 1, (hs << 4) | vs, 0 if i == 0 else 1])
    out += seg(0xC0, sof)
    for tc_th, (bits, vals) in ((0x00, DC_LUM), (0x10, AC_LUM)) if gray else (
            (0x00, DC_LUM), (0x10, AC_LUM), (0x01, DC_CHR), (0x11, AC_CHR)):
        out += seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"                                # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder (SOF2: spectral selection + successive approximation)
# ---------------------------------------------------------------------------

def _quantize_store(padded, level: float = 128.0):
    """DCT + quantize every padded plane into a zigzag-ordered coefficient
    store: list of (bh, bw, 64) int32 per component. ``level`` is the
    sample level shift (2^(P-1): 128 for 8-bit, 2048 for 12-bit)."""
    stores = []
    for plane, hs, vs, qtbl, _dc, _ac in padded:
        ph, pw = plane.shape
        bh, bw_ = ph // 8, pw // 8
        store = np.zeros((bh, bw_, 64), dtype=np.int32)
        qf = qtbl.astype(np.float64)
        for by in range(bh):
            for bx in range(bw_):
                block = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                coeffs = _T @ (block - level) @ _T.T
                q = np.round(coeffs.ravel() / qf).astype(np.int32)
                store[by, bx] = q[ZIGZAG]
        stores.append(store)
    return stores


# Progressive AC Huffman table: the Annex K baseline AC tables contain no
# EOBn (end-of-band-run) symbols and their 16-bit level is too full to add
# them, so progressive scans carry their own table — every symbol the
# progressive entropy coder can produce (EOB0..EOB14, ZRL, (r,s) for
# s=1..10) at a flat 8-bit code length (176 <= 256 leaves: valid canonical
# Huffman, deliberately simple rather than optimal).
_AC_PROG_VALS = ([r << 4 for r in range(15)] + [0xF0]
                 + [(r << 4) | s for r in range(16) for s in range(1, 11)])
AC_PROG = ([0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0], _AC_PROG_VALS)

# 12-bit variant: AC magnitude categories run to 14 (T.81 F.1.2), so the
# symbol set is EOB0..EOB14 + ZRL + (r,s) for s=1..14 = 240 symbols,
# still a valid flat 8-bit table (240 <= 255 per DHT Li byte; the
# all-ones code stays unused).
_AC_PROG12_VALS = sorted(
    [r << 4 for r in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 15)])
AC_PROG12 = ([0, 0, 0, 0, 0, 0, 0, 240, 0, 0, 0, 0, 0, 0, 0, 0],
             _AC_PROG12_VALS)


class _ProgACWriter:
    """Scan-level progressive AC entropy coder with real EOBRUN
    accumulation (T.81 G.1.2.2-3, mirroring libjpeg's jcphuff): EOBs are
    counted across blocks and emitted as one EOBn symbol; refinement
    correction bits buffer across the covered blocks and flush right after
    the symbol, in the exact positional order the decoder re-reads them."""

    def __init__(self, bw: _BitWriter, ac_codes: dict):
        self.bw = bw
        self.codes = ac_codes
        self.eobrun = 0
        self.be = []       # correction bits owed across EOB-run'd blocks

    def _sym(self, symbol: int):
        code, ln = self.codes[symbol]
        self.bw.write(code, ln)

    def emit_eobrun(self):
        if self.eobrun:
            nbits = self.eobrun.bit_length() - 1
            self._sym(nbits << 4)
            if nbits:
                self.bw.write(self.eobrun - (1 << nbits), nbits)
            for b in self.be:
                self.bw.write(b, 1)
            self.be.clear()
            self.eobrun = 0

    def _count_eob(self, pending_bits):
        self.eobrun += 1
        self.be.extend(pending_bits)
        if self.eobrun == 0x7FFF:     # EOBn maxes out at n=14
            self.emit_eobrun()

    def first_block(self, zz, ss, se, al):
        """AC first pass: point transform truncates toward zero."""
        r = 0
        emitted = False
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = (v >> al) if v >= 0 else -((-v) >> al)
            if t == 0:
                r += 1
                continue
            self.emit_eobrun()
            while r > 15:
                self._sym(0xF0)       # ZRL
                r -= 16
            s = abs(t).bit_length()
            self._sym((r << 4) | s)
            mv = t if t > 0 else t + (1 << s) - 1
            self.bw.write(mv, s)
            r = 0
            emitted = True
        if r > 0 or not emitted:
            self._count_eob(())

    def refine_block(self, zz, ss, se, al):
        """AC refinement Ah=al+1 -> Al=al."""
        absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        eob = -1                      # last newly-significant index
        for i, t in enumerate(absv):
            if t == 1:
                eob = i
        r, pending = 0, []
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            # ZRLs that cannot fold into the trailing EOB run
            while r > 15 and i <= eob:
                self.emit_eobrun()
                self._sym(0xF0)
                r -= 16
                for b in pending:
                    self.bw.write(b, 1)
                pending = []
            if t > 1:                 # previously nonzero: correction bit
                pending.append(t & 1)
                continue
            self.emit_eobrun()
            self._sym((r << 4) | 1)
            self.bw.write(1 if int(zz[ss + i]) > 0 else 0, 1)
            for b in pending:
                self.bw.write(b, 1)
            pending = []
            r = 0
        if r > 0 or pending:
            self._count_eob(pending)

    def finish(self):
        self.emit_eobrun()


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 85,
                            subsampling: str = "444",
                            precision: int = 8) -> bytes:
    """(H, W, 3) uint8 RGB or (H, W[, 1]) gray -> progressive JFIF (SOF2)
    bytes. The scan script exercises both progressive mechanisms:

      1. DC, all components interleaved, successive approximation Al=1
      2. DC refinement (Ah=1 -> Al=0, raw bits)
      3. per component: AC bands (1,5) then (6,63) at Al=1
      4. per component: AC refinement of both bands (Ah=1 -> Al=0)

    The quantized coefficients are identical to the baseline encoder's, so
    `decode_jpeg(encode_jpeg_progressive(x)) ==
    decode_jpeg(encode_jpeg(x))` pixel-for-pixel — progressive is a
    lossless reorganization of the same data (pinned by test).

    ``precision`` 12 takes uint16 samples in [0, 4095] and emits a
    12-bit progressive stream (SOF2 P=12, Pq=1 quantization tables,
    full-category DC12/AC_PROG12 Huffman tables) — the successive-
    approximation entropy coding itself is precision-independent."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    gray, h, w, lum_q, chr_q, padded, mcus_x, mcus_y = _encode_prep(
        arr, quality, subsampling, prec=precision)
    stores = _quantize_store(padded, level=float(1 << (precision - 1)))
    ncomp = len(padded)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if precision == 8:
        out += seg(0xDB, bytes([0x00]) + bytes(lum_q[ZIGZAG].astype(np.uint8)))
        if not gray:
            out += seg(0xDB,
                       bytes([0x01]) + bytes(chr_q[ZIGZAG].astype(np.uint8)))
    else:
        # Pq=1: precision nibble set, 16-bit big-endian entries
        out += seg(0xDB, bytes([0x10]) + lum_q[ZIGZAG].astype(">u2").tobytes())
        if not gray:
            out += seg(0xDB,
                       bytes([0x11]) + chr_q[ZIGZAG].astype(">u2").tobytes())
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for i, (_, hs, vs, *_rest) in enumerate(padded):
        sof += bytes([i + 1, (hs << 4) | vs, 0 if i == 0 else 1])
    out += seg(0xC2, sof)                              # SOF2: progressive
    # DC tables: Annex K (8-bit) or full-category DC12. AC table: the
    # progressive table (id 0, shared by all components — baseline AC
    # tables lack the EOBn symbols).
    if precision == 8:
        dht = [(0x00, DC_LUM), (0x10, AC_PROG)]
        if not gray:
            dht.append((0x01, DC_CHR))
    else:
        dht = [(0x00, DC12), (0x10, AC_PROG12)]
        if not gray:
            dht.append((0x01, DC12))
    for tc_th, (bits, vals) in dht:
        out += seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))

    def sos_header(comp_idxs, ss, se, ah, al):
        body = bytes([len(comp_idxs)])
        for ci in comp_idxs:
            td = 0 if ci == 0 else 1
            body += bytes([ci + 1, (td << 4) | 0])   # AC table 0 for all
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    hmax = max(p[1] for p in padded)
    vmax = max(p[2] for p in padded)

    # --- scan 1: interleaved DC first pass, Al=1 (point transform = >> 1,
    # arithmetic shift per T.81 — negatives shift toward -inf)
    out += sos_header(list(range(ncomp)), 0, 0, 0, 1)
    bw = _BitWriter()
    preds = [0] * ncomp
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (_, hs, vs, _qt, dc_codes, _ac) in enumerate(padded):
                for by in range(vs):
                    for bx in range(hs):
                        dc = int(stores[ci][my * vs + by, mx * hs + bx, 0]) >> 1
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        t = abs(diff).bit_length() if diff else 0
                        code, ln = dc_codes[t]
                        bw.write(code, ln)
                        if t:
                            mv = diff if diff > 0 else diff + (1 << t) - 1
                            bw.write(mv, t)
    bw.flush()
    out += bw.out

    # --- scan 2: DC refinement Ah=1 -> Al=0 (one raw bit per block)
    out += sos_header(list(range(ncomp)), 0, 0, 1, 0)
    bw = _BitWriter()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (_, hs, vs, *_rest) in enumerate(padded):
                for by in range(vs):
                    for bx in range(hs):
                        bw.write(int(stores[ci][my * vs + by, mx * hs + bx, 0]) & 1, 1)
    bw.flush()
    out += bw.out

    # --- AC scans: per component, non-interleaved over the USED block grid
    def used_grid(ci):
        hs, vs = padded[ci][1], padded[ci][2]
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        return -(-ch // 8), -(-cw // 8)

    ac_prog_codes = _build_codes(*(AC_PROG if precision == 8 else AC_PROG12))
    bands = [(1, 5), (6, 63)]
    for ci in range(ncomp):          # first passes, Al=1
        bh_u, bw_u = used_grid(ci)
        for ss, se in bands:
            out += sos_header([ci], ss, se, 0, 1)
            bw = _BitWriter()
            ac = _ProgACWriter(bw, ac_prog_codes)
            for by in range(bh_u):
                for bx in range(bw_u):
                    ac.first_block(stores[ci][by, bx], ss, se, 1)
            ac.finish()
            bw.flush()
            out += bw.out
    for ci in range(ncomp):          # refinement passes, Ah=1 -> Al=0
        bh_u, bw_u = used_grid(ci)
        for ss, se in bands:
            out += sos_header([ci], ss, se, 1, 0)
            bw = _BitWriter()
            ac = _ProgACWriter(bw, ac_prog_codes)
            for by in range(bh_u):
                for bx in range(bw_u):
                    ac.refine_block(stores[ci][by, bx], ss, se, 0)
            ac.finish()
            bw.flush()
            out += bw.out

    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# 12-bit extended sequential encoder (SOF1, Pq=1 quantization tables)
# ---------------------------------------------------------------------------

# Flat custom Huffman tables covering the FULL 12-bit category range
# (T.81 F.1.2: DC difference categories 0..15, AC magnitude categories
# 1..14 — the Annex K example tables stop at 11/10 and are 8-bit-only).
# Deliberately flat (near-uniform code lengths) rather than optimal:
# spec-valid canonical tables whose every producible symbol is present.
DC12 = ([0, 0, 0, 15, 1] + [0] * 11, list(range(16)))
_AC12_VALS = sorted(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 15)])
AC12 = ([0, 0, 0, 0, 0, 0, 0, 226] + [0] * 8, _AC12_VALS)


def encode_jpeg_12bit(arr: np.ndarray, quality: int = 85) -> bytes:
    """(H, W, 3) or (H, W[, 1]) uint16 samples in [0, 4095] -> 12-bit
    extended-sequential JFIF bytes (SOF1, Pq=1 16-bit quantization
    tables, flat full-range Huffman tables). 4:4:4 or grayscale; the
    level shift is 2048 and chroma centers at 2048 (T.81 A.3.1).

    Quantization: the IJG-scaled Annex K tables times 16 — the same
    *relative* step sizes as the 8-bit encoder over the 16x dynamic
    range, so a given ``quality`` means the same thing at both depths."""
    arr = np.asarray(arr)
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    gray = arr.ndim == 2
    if arr.dtype != np.uint16:
        raise ValueError("12-bit encoder expects uint16 samples")
    if arr.size and int(arr.max()) > 4095:
        raise ValueError("12-bit samples must be in [0, 4095]")
    h, w = arr.shape[:2]
    lum_q = np.clip(
        _quality_scale(STD_LUM_QT, quality).astype(np.int64) * 16,
        1, 65535).astype(np.int32)
    chr_q = np.clip(
        _quality_scale(STD_CHR_QT, quality).astype(np.int64) * 16,
        1, 65535).astype(np.int32)
    dc_codes, ac_codes = _build_codes(*DC12), _build_codes(*AC12)
    level = 2048.0

    if gray:
        comps = [(arr.astype(np.float64), lum_q)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + level
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + level
        comps = [(y, lum_q), (cb, chr_q), (cr, chr_q)]
    mcus_x, mcus_y = -(-w // 8), -(-h // 8)
    padded = [(_pad_to(p, mcus_y * 8, mcus_x * 8), qt) for p, qt in comps]

    bw = _BitWriter()
    preds = [0] * len(comps)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (plane, qtbl) in enumerate(padded):
                block = plane[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
                preds[ci] = _encode_block(
                    bw, block, qtbl, dc_codes, ac_codes, preds[ci],
                    level=level)
    bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")                      # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # Pq=1: precision nibble set, 16-bit big-endian entries, zigzag order
    out += seg(0xDB, bytes([0x10]) + lum_q[ZIGZAG].astype(">u2").tobytes())
    if not gray:
        out += seg(0xDB, bytes([0x11]) + chr_q[ZIGZAG].astype(">u2").tobytes())
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 12, h, w, ncomp)
    for i in range(ncomp):
        sof += bytes([i + 1, 0x11, 0 if i == 0 else 1])
    out += seg(0xC1, sof)                             # SOF1 extended seq.
    out += seg(0xC4, bytes([0x00]) + bytes(DC12[0]) + bytes(DC12[1]))
    out += seg(0xC4, bytes([0x10]) + bytes(AC12[0]) + bytes(AC12[1]))
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00])    # every component: DC table 0, AC 0
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"                                # EOI
    return bytes(out)
