"""Pure-NumPy baseline JPEG codec (stdlib + NumPy only).

Companion to kernels/png.py: this container ships no image libraries,
so multimodal's real-decode branch for JPEG payloads needs a from-
scratch decoder. Implemented from the public JPEG specification
(ITU-T T.81) with the spec's own Annex K example tables:

  decode: baseline sequential DCT (SOF0), 8-bit, 1 component
  (grayscale) or 3 components (JFIF YCbCr) with 4:4:4 / 4:2:2 / 4:2:0
  sampling, DQT/DHT/SOF0/SOS/DRI parsing, byte-unstuffing, Huffman +
  DC-differential + zigzag + dequantize + IDCT (orthonormal 8x8 DCT
  matrix), chroma upsampling, YCbCr->RGB. Restart markers reset the
  DC predictors. Progressive (SOF2), arithmetic coding, 12-bit depth
  and 4-component (CMYK) streams are rejected loudly with ValueError —
  the same single-exception contract the PNG decoder keeps.

  encode (fixture/sink side): grayscale or RGB 4:4:4, Annex K
  quantization at a quality scale and Annex K Huffman tables, one
  interleaved scan. decode(encode(x)) is lossy by design; tests bound
  the error on smooth content and pin DC-only images to <=1 LSB.

The Huffman entropy loop is per-block Python (bit-serial by nature);
the Arrow batch is the decode-parallelism unit in multimodal, not the
pixel. Everything after entropy decode is whole-array NumPy.
"""

from __future__ import annotations

import struct

import numpy as np

# --- zigzag order (T.81 Figure A.6) -----------------------------------

ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# --- Annex K example tables -------------------------------------------

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# Annex K Huffman specs: (bits[1..16] counts, values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# orthonormal 8x8 DCT-II matrix: C[u, x] = a(u) cos((2x+1) u pi / 16)
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _dct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


def is_jpeg(data: bytes) -> bool:
    return len(data) > 3 and data[:3] == b"\xff\xd8\xff"


# --- Huffman machinery -------------------------------------------------


def _build_codes(bits, vals):
    """T.81 Annex C: canonical codes from (counts-per-length, values).
    Returns {value: (code, length)} for the encoder."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode_table(bits, vals):
    """{(length, code): value} for the bit-serial decoder."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bitbuf = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan data exhausted")
            self.bitbuf = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self):
        self.nbits = 0


def _huff_decode(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1: map t-bit magnitude to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int):
    """Signed value -> (category t, t-bit code) for the encoder."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                b = self.acc & 0xFF
                self.out.append(b)
                if b == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nacc = 0

    def flush(self):
        if self.nacc:
            pad = 8 - self.nacc
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec


# --- decoder -----------------------------------------------------------


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 (H, W, 1) grayscale or (H, W, 3) RGB.
    ValueError on non-JPEG bytes, unsupported variants, and corrupt
    streams (struct/index errors are wrapped)."""
    if not is_jpeg(data):
        raise ValueError("not a JPEG stream")
    try:
        return _decode_jpeg_checked(data)
    except (struct.error, IndexError, KeyError) as e:
        raise ValueError(f"corrupt JPEG stream: {e}") from e


def _decode_jpeg_checked(data: bytes) -> np.ndarray:
    pos = 2  # past SOI
    quant = {}
    dc_tables = {}
    ac_tables = {}
    frame = None
    restart_interval = 0
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                quant[tq] = np.frombuffer(
                    body[p : p + 64], dtype=np.uint8
                ).astype(np.int64)[UNZIGZAG].reshape(8, 8)
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                p += 1
                bits = list(body[p : p + 16])
                p += 16
                cnt = sum(bits)
                vals = list(body[p : p + cnt])
                p += cnt
                tbl = _build_decode_table(bits, vals)
                (dc_tables if tc == 0 else ac_tables)[th] = tbl
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type SOF{marker - 0xC0} "
                "(baseline sequential only)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan_sel = []
            for si in range(ns):
                cs, tt = body[1 + 2 * si : 3 + 2 * si]
                scan_sel.append({"cs": cs, "td": tt >> 4, "ta": tt & 0x0F})
            scan_data = data[pos + seglen :]
            return _decode_scan(frame, scan_sel, quant, dc_tables,
                                ac_tables, scan_data, restart_interval)
        pos += seglen
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(frame, scan_sel, quant, dc_tables, ac_tables, data,
                 restart_interval):
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        raise ValueError("unsupported JPEG sampling factors")
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h

    # strip stuffed bytes and stop at any non-RST marker
    raw = bytearray()
    i = 0
    rst_positions = []
    while i < len(data):
        b = data[i]
        if b == 0xFF:
            nxt = data[i + 1] if i + 1 < len(data) else 0xD9
            if nxt == 0x00:
                raw.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn: note byte offset, drop it
                rst_positions.append(len(raw))
                i += 2
                continue
            break  # EOI or next segment
        raw.append(b)
        i += 1
    raw = bytes(raw)

    sel_by_cs = {s["cs"]: s for s in scan_sel}
    planes = []
    for c in comps:
        bw = mcus_x * c["h"]  # blocks per row for this component
        bh = mcus_y * c["v"]
        planes.append(np.zeros((bh * 8, bw * 8), dtype=np.float64))

    reader = _BitReader(raw)
    preds = [0] * len(comps)
    mcu_index = 0
    rst_iter = iter(rst_positions)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                # resync: skip to the byte after the RST marker
                nxt = next(rst_iter, None)
                if nxt is None:
                    raise ValueError("missing JPEG restart marker")
                reader = _BitReader(raw[nxt:])
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                sel = sel_by_cs[c["id"]]
                dct = dc_tables[sel["td"]]
                act = ac_tables[sel["ta"]]
                q = quant[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        t = _huff_decode(reader, dct)
                        diff = _extend(reader.read_bits(t), t)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, act)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run overflow")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        coef = (zz[UNZIGZAG].reshape(8, 8)) * q
                        block = _idct2(coef.astype(np.float64)) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_index += 1

    # upsample each component to full MCU-grid resolution, then crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return out[:, :, None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- encoder (fixture/sink side) ---------------------------------------


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of the Annex K tables (50 = base)."""
    quality = min(100, max(1, int(quality)))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255)


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int,
                  dc_codes, ac_codes) -> int:
    diff = int(zz[0]) - pred
    t, code = _magnitude(diff)
    c, ln = dc_codes[t]
    bw.write(c, ln)
    if t:
        bw.write(code, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k] != 0:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        t, code = _magnitude(v)
        c, ln = ac_codes[(run << 4) | t]
        bw.write(c, ln)
        bw.write(code, t)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.write(c, ln)
    return int(zz[0])


def _component_blocks(plane: np.ndarray, q: np.ndarray):
    """Pad to 8x8 multiples (edge replicate), level-shift, DCT,
    quantize, zigzag. Yields per-block zigzag int arrays row-major."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    pad = np.empty((ph, pw), dtype=np.float64)
    pad[:h, :w] = plane
    pad[h:, :w] = plane[-1:, :]
    pad[:, w:] = pad[:, w - 1 : w]
    out = []
    for y0 in range(0, ph, 8):
        row = []
        for x0 in range(0, pw, 8):
            block = pad[y0 : y0 + 8, x0 : x0 + 8] - 128.0
            coef = _dct2(block)
            zz = np.round(coef / q).astype(np.int64).reshape(64)[ZIGZAG]
            row.append(zz)
        out.append(row)
    return out


def encode_jpeg(px: np.ndarray, quality: int = 90,
                subsample: str = "444",
                restart_interval: int = 0) -> bytes:
    """uint8 (H, W), (H, W, 1) grayscale or (H, W, 3) RGB -> baseline
    JFIF bytes (Annex K Huffman tables, IJG-scaled Annex K quant
    tables, one interleaved scan). subsample: "444" or "420" (3-chan
    only; 420 = 2x2-mean chroma downsample, Y sampled 2x2 per MCU).
    restart_interval > 0 emits DRI + RSTn every N MCUs (fixture for
    the decoder's resync path).

    Test-only parameters: quality, subsample, restart_interval —
    tests/test_jpeg.py builds decoder fixtures with them (quality 95's
    quantization tables, subsampled chroma, restart markers);
    tests/test_sources_geotiff.py builds its JPEG-in-TIFF tiles at
    quality 92 and 95 and with 4:2:0."""
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nc = px.shape
    if nc not in (1, 3):
        raise ValueError("encode_jpeg supports 1 or 3 channels")
    if subsample not in ("444", "422", "420"):
        raise ValueError("subsample must be 444, 422 or 420")
    if subsample != "444" and nc == 1:
        subsample = "444"
    px = px.astype(np.float64)
    if nc == 3:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        def _downs(p, fy, fx):
            hh = -(-p.shape[0] // fy) * fy
            ww = -(-p.shape[1] // fx) * fx
            q = np.empty((hh, ww))
            q[: p.shape[0], : p.shape[1]] = p
            q[p.shape[0]:, : p.shape[1]] = p[-1:, : p.shape[1]]
            q[:, p.shape[1]:] = q[:, p.shape[1] - 1 : p.shape[1]]
            return q.reshape(hh // fy, fy, ww // fx, fx).mean(axis=(1, 3))

        if subsample == "420":
            planes = [y, _downs(cb, 2, 2), _downs(cr, 2, 2)]
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsample == "422":
            planes = [y, _downs(cb, 1, 2), _downs(cr, 1, 2)]
            samp = [(2, 1), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1)] * 3
        qts = [_scaled_quant(QUANT_LUMA, quality),
               _scaled_quant(QUANT_CHROMA, quality)]
        comp_q = [0, 1, 1]
    else:
        planes = [px[:, :, 0]]
        samp = [(1, 1)]
        qts = [_scaled_quant(QUANT_LUMA, quality)]
        comp_q = [0]

    dc_l = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    comp_huff = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (nc - 1)

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # pad each component's plane so its block grid covers whole MCUs
    blocks = []
    for ci in range(nc):
        hi, vi = samp[ci]
        need_h = mcus_y * vi * 8
        need_w = mcus_x * hi * 8
        p = planes[ci]
        pad = np.empty((need_h, need_w))
        ph, pw = min(p.shape[0], need_h), min(p.shape[1], need_w)
        pad[:ph, :pw] = p[:ph, :pw]
        pad[ph:, :pw] = pad[ph - 1 : ph, :pw]
        pad[:, pw:] = pad[:, pw - 1 : pw]
        blocks.append(_component_blocks(pad, qts[comp_q[ci]]))

    bw = _BitWriter()
    preds = [0] * nc
    mcu_index = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (restart_interval and mcu_index
                    and mcu_index % restart_interval == 0):
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                preds = [0] * nc
            for ci in range(nc):
                hi, vi = samp[ci]
                for by in range(vi):
                    for bx in range(hi):
                        preds[ci] = _encode_block(
                            bw, blocks[ci][my * vi + by][mx * hi + bx],
                            preds[ci], *comp_huff[ci]
                        )
            mcu_index += 1
    bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in enumerate(qts):
        out += seg(0xDB, bytes([tq]) + bytes(
            q.reshape(64)[ZIGZAG].astype(np.uint8)
        ))
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], comp_q[ci]])
    out += seg(0xC0, bytes(sof))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for tc, th, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS), (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    )[: 2 * (2 if nc == 3 else 1)]:
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    sos = bytearray([nc])
    for ci in range(nc):
        td_ta = 0x00 if ci == 0 else 0x11
        sos += bytes([ci + 1, td_ta])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, bytes(sos))
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def to_gray_f32(px: np.ndarray) -> np.ndarray:
    """Same contract as png.to_gray_f32 for the decoder's output."""
    from . import png as _png

    return _png.to_gray_f32(px)
