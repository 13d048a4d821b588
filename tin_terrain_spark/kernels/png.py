"""Pure-NumPy PNG codec (stdlib zlib + vectorized unfiltering).

This container ships no image libraries, so operators/multimodal.py's
real-decode branch could never execute; PNG is decodable with nothing
but zlib (stdlib) and NumPy, which makes the decode→feature path real
for one genuine format. Spec: the public PNG specification (RFC 2083 /
W3C PNG): IHDR/IDAT/IEND chunks, per-row filter byte, filters
0=None 1=Sub 2=Up 3=Average 4=Paeth.

Scope (loud rejection outside it): 8- and 16-bit depth for color types
0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA); 1/2/4-bit gray (returned
bit-replicated to uint8, the spec's v*255/(2^d-1) display scaling);
1/2/4/8-bit palette (color type 3, with optional tRNS alpha); Adam7
interlace.
16-bit grayscale is the realistic DEM-adjacent payload (elevation
tiles); decode returns uint16 for 16-bit images, uint8 otherwise, and
palette images come back expanded to RGB(A). Anything outside the
scope raises ValueError so callers fall back (multimodal falls back to
its deterministic stub).

The row loop is sequential in H (filters are defined row-over-row) but
each row unfilters vectorized over W*C bytes except Sub/Paeth's
intra-row carry, which is O(W) per row in Python for Paeth only —
acceptable: the Arrow batch is the unit of decode parallelism, not the
pixel.

encode_png exists for fixtures/tests (choose the filter per row to
exercise every unfilter path) and for the multimodal sink side.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def is_png(data: bytes) -> bool:
    return len(data) > 8 and data[:8] == _MAGIC


def _chunks(data: bytes):
    pos = 8
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        yield ctype, body
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IEND":
            return


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) array: uint8 for 8-bit and palette
    images (palette expanded to RGB, or RGBA when tRNS is present),
    uint16 for 16-bit. Raises ValueError on non-PNG bytes, unsupported
    variants, AND corrupt streams — the single exception type is the
    contract callers' fallback dispatch relies on (zlib/struct errors
    from truncated or garbage bodies are wrapped, never leaked into an
    executor)."""
    if not is_png(data):
        raise ValueError("not a PNG stream")
    try:
        return _decode_png_checked(data)
    except (zlib.error, struct.error, IndexError) as e:
        raise ValueError(f"corrupt PNG stream: {e}") from e


# Adam7 pass lattices: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter_scanlines(raw, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse per-row PNG filtering: raw scanline stream (filter byte
    + filtered bytes per row, height*(stride+1) bytes) -> (height,
    stride) uint8. Row-sequential by spec; Up/None vectorize fully,
    Sub/Average/Paeth carry within the row."""
    raw = np.frombuffer(bytes(raw), dtype=np.uint8)
    if raw.size != height * (stride + 1):
        raise ValueError("PNG data length mismatch")
    raw = raw.reshape(height, stride + 1)
    filters = raw[:, 0]
    rows = raw[:, 1:].astype(np.int32)  # headroom for the filter sums
    out = np.empty((height, stride), dtype=np.uint8)
    zero_prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        f = filters[y]
        cur = rows[y]
        prev = out[y - 1].astype(np.int32) if y > 0 else zero_prev
        if f == 0:  # None
            line = cur
        elif f == 1:  # Sub: vectorized prefix-carry per pixel-column lane
            line = cur.copy()
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif f == 2:  # Up
            line = (cur + prev) & 0xFF
        elif f == 3:  # Average
            line = cur.copy()
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            line = cur.copy()
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                line[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = line.astype(np.uint8)
    return out


def _unpack_bits(b: np.ndarray, width: int, depth: int) -> np.ndarray:
    """(rows, rowbytes) packed uint8 -> (rows, width) samples. PNG
    packs sub-byte samples MSB-first; row-end padding bits dropped."""
    per = 8 // depth
    shifts = (np.arange(per - 1, -1, -1) * depth).astype(np.uint8)
    mask = np.uint8((1 << depth) - 1)
    s = (b[:, :, None] >> shifts[None, None, :]) & mask
    return s.reshape(b.shape[0], -1)[:, :width]


def _pack_bits(samples: np.ndarray, depth: int) -> np.ndarray:
    """(h, w) samples < 2**depth -> (h, rowbytes) MSB-first packed
    bytes with zero padding bits at row end (the encode inverse)."""
    h, w = samples.shape
    per = 8 // depth
    wpad = -(-w // per) * per
    s = np.zeros((h, wpad), dtype=np.uint16)
    s[:, :w] = samples
    shifts = np.arange(per - 1, -1, -1) * depth
    return (
        (s.reshape(h, wpad // per, per) << shifts[None, None, :])
        .sum(axis=2)
        .astype(np.uint8)
    )


def _decode_png_checked(data: bytes) -> np.ndarray:
    width = height = None
    channels = None
    depth = 8
    color = 0
    interlace = 0
    palette = None
    trns = None
    idat = bytearray()
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if color == 3:
                if depth not in (1, 2, 4, 8):
                    raise ValueError(f"unsupported palette bit depth {depth}")
            elif color not in _CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            elif depth in (1, 2, 4):
                # spec: sub-byte depths are legal only for grayscale
                # (color 0) and palette (color 3)
                if color != 0:
                    raise ValueError(
                        f"bit depth {depth} is illegal for color type {color}"
                    )
            elif depth not in (8, 16):
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
            channels = 1 if color == 3 else _CHANNELS[color]
        elif ctype == b"PLTE":
            if len(body) % 3 != 0 or not body:
                raise ValueError("malformed PLTE chunk")
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS" and color == 3:
            trns = np.frombuffer(body, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if color == 3 and palette is None:
        raise ValueError("palette image missing PLTE")

    raw = zlib.decompress(bytes(idat))
    if depth < 8:
        # sub-byte samples (1/2/4-bit gray or palette indices): the
        # filters operate on the PACKED scanline bytes with bpp = 1;
        # rows are bit-packed MSB-first with padding bits at row end
        if interlace == 0:
            rowbytes = (width * depth + 7) // 8
            if len(raw) != height * (rowbytes + 1):
                raise ValueError("PNG data length mismatch")
            samples = _unpack_bits(
                _unfilter_scanlines(raw, height, rowbytes, 1), width, depth
            )
        else:
            samples = np.empty((height, width), dtype=np.uint8)
            pos = 0
            for (x0, y0, dx, dy) in _ADAM7:
                pw = (width - x0 + dx - 1) // dx
                ph = (height - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                pstride = (pw * depth + 7) // 8
                chunk_len = ph * (pstride + 1)
                sub = _unpack_bits(
                    _unfilter_scanlines(raw[pos : pos + chunk_len], ph, pstride, 1),
                    pw, depth,
                )
                pos += chunk_len
                samples[y0::dy, x0::dx] = sub
            if pos != len(raw):
                raise ValueError("PNG data length mismatch")
        if color == 0:
            # bit replication: v * 255/(2^d - 1) is exact (255, 85, 17)
            samples = (samples * (255 // ((1 << depth) - 1))).astype(np.uint8)
        out = samples
    elif interlace == 0:
        sampbytes = depth // 8  # filters operate on BYTES, offset by bpp
        bpp = pxbytes = channels * sampbytes  # bytes per pixel
        stride = width * pxbytes
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG data length mismatch")
        out = _unfilter_scanlines(raw, height, stride, bpp)
    else:
        # Adam7: 7 sequentially-filtered sub-images scattered on the
        # (x0, y0, dx, dy) lattices; empty passes contribute 0 bytes
        sampbytes = depth // 8
        bpp = pxbytes = channels * sampbytes
        out = np.empty((height, width * pxbytes), dtype=np.uint8)
        pos = 0
        for (x0, y0, dx, dy) in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pstride = pw * pxbytes
            chunk_len = ph * (pstride + 1)
            sub = _unfilter_scanlines(raw[pos : pos + chunk_len], ph, pstride, bpp)
            pos += chunk_len
            cols = (x0 + dx * np.arange(pw))[:, None] * pxbytes + np.arange(pxbytes)
            out[y0::dy, cols.reshape(-1)] = sub
        if pos != len(raw):
            raise ValueError("PNG data length mismatch")
    if color == 3:
        idx = out.reshape(height, width)
        if idx.max(initial=0) >= palette.shape[0]:
            raise ValueError("palette index out of range")
        rgb = palette[idx]  # (H, W, 3)
        if trns is None:
            return rgb
        # tRNS: per-entry alpha, entries past the table are opaque
        alpha = np.full(palette.shape[0], 255, dtype=np.uint8)
        alpha[: min(len(trns), len(alpha))] = trns[: len(alpha)]
        return np.dstack([rgb, alpha[idx]])
    if depth == 16:
        # network byte order per spec -> native uint16
        return (
            np.frombuffer(out.tobytes(), dtype=">u2")
            .astype(np.uint16)
            .reshape(height, width, channels)
        )
    return out.reshape(height, width, channels)


def to_gray_f32(px: np.ndarray) -> np.ndarray:
    """uint8/uint16 (H, W, C) -> float32 grayscale in [0, 1): integer
    ITU-R 601 luma (the same weights PIL's convert("L") uses), exact
    integer arithmetic then /2^depth — deterministic across
    platforms."""
    denom = 65536.0 if px.dtype == np.uint16 else 256.0
    px = px.astype(np.int64)
    c = px.shape[2]
    if c == 1:
        g = px[:, :, 0]
    elif c == 2:  # gray + alpha: alpha ignored (decode, not compositing)
        g = px[:, :, 0]
    else:  # RGB / RGBA
        g = (px[:, :, 0] * 299 + px[:, :, 1] * 587 + px[:, :, 2] * 114) // 1000
    return (g.astype(np.float32)) / denom


def _paeth_row(line: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    stride = line.shape[0]
    enc = np.empty(stride, dtype=np.uint8)
    for x in range(stride):
        a = int(line[x - bpp]) if x >= bpp else 0
        b = int(prev[x])
        c = int(prev[x - bpp]) if x >= bpp else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        enc[x] = (int(line[x]) - pred) & 0xFF
    return enc


def _chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


def _filter_scanlines(flat: np.ndarray, bpp: int, filters) -> bytes:
    """Apply per-row PNG filters to byte rows (H, stride) -> raw
    scanline stream (filter byte + filtered bytes per row)."""
    h, stride = flat.shape
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = int(filters[y])
        cur = flat[y].astype(np.int32)
        if f == 0:
            enc = flat[y]
        elif f == 1:
            shifted = np.zeros(stride, dtype=np.int32)
            shifted[bpp:] = cur[:-bpp]
            enc = ((cur - shifted) & 0xFF).astype(np.uint8)
        elif f == 2:
            enc = ((cur - prev) & 0xFF).astype(np.uint8)
        elif f == 3:
            shifted = np.zeros(stride, dtype=np.int32)
            shifted[bpp:] = cur[:-bpp]
            enc = ((cur - ((shifted + prev) >> 1)) & 0xFF).astype(np.uint8)
        elif f == 4:
            enc = _paeth_row(flat[y], prev.astype(np.uint8), bpp)
        else:
            raise ValueError(f"bad filter {f}")
        lines.append(f)
        lines.extend(enc.tobytes())
        prev = cur
    return bytes(lines)


def _norm_filters(filters, h: int):
    if filters is None:
        return [0] * h
    if isinstance(filters, int):
        return [filters] * h
    return filters


def _byte_rows(px: np.ndarray) -> np.ndarray:
    """(h, w, c) samples -> (h, w*c*sampbytes) byte rows (big-endian
    sample order for 16-bit, as the spec's scanlines carry them)."""
    h, w, c = px.shape
    if px.dtype == np.uint16:
        return np.frombuffer(
            np.ascontiguousarray(px, dtype=">u2").tobytes(), dtype=np.uint8
        ).reshape(h, w * c * 2)
    return np.ascontiguousarray(px, dtype=np.uint8).reshape(h, w * c)


def encode_png(px: np.ndarray, filters=None, interlace: bool = False,
               depth: int | None = None) -> bytes:
    """uint8 or uint16 (H, W) or (H, W, C) -> PNG bytes (depth 8 or
    16 per the input dtype). `filters` picks the per-row filter type
    (int or list, default 0) so tests can exercise every unfilter path
    against known pixels; interlace=True writes Adam7 (each pass
    filtered as its own sub-image, per spec). depth=1/2/4 writes
    sub-byte GRAYSCALE (single channel only): input holds raw sample
    values < 2**depth, rows bit-packed MSB-first, filters on the
    packed bytes with bpp=1.

    Test-only parameters: filters, interlace, depth — tests/test_png.py
    builds decoder fixtures with them (every unfilter path, Adam7,
    sub-byte grayscale)."""
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    if depth in (1, 2, 4):
        if c != 1 or px.dtype == np.uint16:
            raise ValueError("sub-byte depth requires single-channel uint8")
        if px.max(initial=0) >= (1 << depth):
            raise ValueError(f"sample value out of range for depth {depth}")
        rows2d = px[:, :, 0]
        if interlace:
            stream = bytearray()
            for (x0, y0, dx, dy) in _ADAM7:
                sub = rows2d[y0::dy, x0::dx]
                if sub.shape[0] == 0 or sub.shape[1] == 0:
                    continue
                stream += _filter_scanlines(
                    _pack_bits(sub, depth), 1, _norm_filters(filters, sub.shape[0])
                )
            raw = zlib.compress(bytes(stream))
        else:
            raw = zlib.compress(
                _filter_scanlines(_pack_bits(rows2d, depth), 1,
                                  _norm_filters(filters, h))
            )
    else:
        depth = 16 if px.dtype == np.uint16 else 8
        bpp = c * (depth // 8)
        if interlace:
            stream = bytearray()
            for (x0, y0, dx, dy) in _ADAM7:
                sub = px[y0::dy, x0::dx]
                if sub.shape[0] == 0 or sub.shape[1] == 0:
                    continue
                stream += _filter_scanlines(
                    _byte_rows(sub), bpp, _norm_filters(filters, sub.shape[0])
                )
            raw = zlib.compress(bytes(stream))
        else:
            raw = zlib.compress(
                _filter_scanlines(_byte_rows(px), bpp, _norm_filters(filters, h))
            )
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, int(interlace))
    return (
        _MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", raw) + _chunk(b"IEND", b"")
    )


def encode_png_palette(idx: np.ndarray, palette: np.ndarray,
                       trns: np.ndarray | None = None,
                       filters=None, interlace: bool = False,
                       depth: int = 8) -> bytes:
    """uint8 index raster (H, W) + palette (N, 3) [+ per-entry alpha
    (M,)] -> color-type-3 PNG bytes (fixture/sink side of the palette
    decode path). depth=1/2/4 bit-packs the indices MSB-first
    (palette must then fit in 2**depth entries).

    Kept without a shipped caller: builds the palette PNGs that
    tests/test_png.py (test_roundtrip_palette and the other palette
    cases) decodes.

    Test-only parameters: trns, filters, interlace, depth —
    tests/test_png.py builds its palette fixtures with them (tRNS
    alpha, every unfilter path, Adam7, sub-byte indices)."""
    h, w = idx.shape
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    if palette.ndim != 2 or palette.shape[1] != 3 or not len(palette):
        raise ValueError("palette must be (N, 3) uint8")
    if idx.max(initial=0) >= palette.shape[0]:
        raise ValueError("palette index out of range")
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"palette depth must be 1/2/4/8, not {depth}")
    if palette.shape[0] > (1 << depth):
        raise ValueError(f"palette does not fit in {depth}-bit indices")
    idx8 = idx.astype(np.uint8)

    def _rows(sub):
        return (_pack_bits(sub, depth) if depth < 8
                else np.ascontiguousarray(sub))

    if interlace:
        stream = bytearray()
        for (x0, y0, dx, dy) in _ADAM7:
            sub = idx8[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            stream += _filter_scanlines(
                _rows(sub), 1, _norm_filters(filters, sub.shape[0])
            )
        raw = zlib.compress(bytes(stream))
    else:
        raw = zlib.compress(
            _filter_scanlines(_rows(idx8.reshape(h, w)), 1,
                              _norm_filters(filters, h))
        )
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, int(interlace))
    out = _MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", palette.tobytes())
    if trns is not None:
        out += _chunk(b"tRNS", np.asarray(trns, dtype=np.uint8).tobytes())
    return out + _chunk(b"IDAT", raw) + _chunk(b"IEND", b"")
