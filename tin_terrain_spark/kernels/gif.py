"""Pure-NumPy GIF codec (GIF87a / GIF89a).

Spec: the public GIF89a specification (CompuServe, 1990). Decode:
logical screen descriptor, global/local color tables, Graphic Control
Extensions (disposal method, transparency index, delay), Adam-style
4-pass row interlace, and multi-frame composition with disposal
methods 0-3 — on top of GIF-variant LZW (variable code width starting
at min_code_size+1, codes packed LSB-first across sub-block bytes,
explicit Clear/EOI codes, 12-bit table cap with deferred-clear
support). Encode: a real LZW compressor (dictionary build, width
growth, Clear emission on table overflow) writing global-palette
single- or multi-frame files, optionally interlaced, with per-frame
transparency/disposal — used by fixtures/tests and the multimodal
sink side.

Like kernels/png.py the decoder returns (H, W, C) uint8 — always
RGB (C=3): frames are COMPOSITED render-style (transparent pixels
leave the canvas unchanged; disposal 2 restores the background color,
disposal 3 the previous canvas), which is what a feature-extraction
pipeline wants from an animation. decode_gif -> the first composited
frame; decode_gif_frames -> the (N, H, W, 3) full animation. Anything
outside scope (bad signature, truncated stream, missing color table)
raises ValueError so operators/multimodal.py falls back to its
deterministic stub.

The LZW code loop is sequential (each code extends the dictionary the
next code may reference) — O(n_codes) Python; the Arrow batch is the
unit of decode parallelism, not the pixel, exactly as in png.py.
"""

from __future__ import annotations

import struct

import numpy as np

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def is_gif(data: bytes) -> bool:
    return len(data) >= 6 and data[:6] in (b"GIF87a", b"GIF89a")


# --------------------------------------------------------------- LZW --


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> np.ndarray:
    """GIF-variant LZW: codes LSB-first, width = min_code_size+1
    growing to 12 bits, Clear resets the table, table stops growing at
    4096 (deferred clear: later codes keep the frozen table)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"gif: bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width, next_code
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        next_code = eoi + 1

    width = min_code_size + 1
    next_code = eoi + 1
    reset()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                # missing explicit EOI: tolerated iff output is complete
                if len(out) >= expected:
                    px = np.frombuffer(bytes(out[:expected]), dtype=np.uint8)
                    return px
                raise ValueError("gif: LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("gif: first LZW code out of range")
            entry = table[code]
        elif code < len(table) and (code < next_code or next_code > 0xFFF):
            entry = table[code]
            if next_code <= 0xFFF:
                table.append(prev + entry[:1])
                next_code += 1
        elif code == next_code and next_code <= 0xFFF:  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
            next_code += 1
        else:
            raise ValueError("gif: LZW code out of range")
        out += entry
        prev = entry
        if next_code == (1 << width) and width < 12:
            width += 1
    if len(out) < expected:
        raise ValueError(
            f"gif: LZW decoded {len(out)} of {expected} pixels"
        )
    return np.frombuffer(bytes(out[:expected]), dtype=np.uint8)


def _lzw_encode(px: np.ndarray, min_code_size: int) -> bytes:
    """GIF-variant LZW compressor: emits Clear, dictionary-coded
    pixels with width growth, a Clear + reset whenever the table hits
    the 12-bit cap, and EOI. Inverse-tested against _lzw_decode."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code_size + 1
    next_code = eoi + 1
    table: dict[tuple[int, int], int] = {}

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    cur = -1
    for v in px.astype(np.uint8).reshape(-1).tolist():
        if cur < 0:
            cur = v
            continue
        nxt = table.get((cur, v))
        if nxt is not None:
            cur = nxt
            continue
        emit(cur)
        if next_code <= 0xFFF:
            # The decoder assigns this entry only when it reads the
            # NEXT code (classic one-step LZW lag), so its width bump
            # for slot 1<<width lands one code later than a naive
            # encoder-side bump. Checking the just-assigned slot
            # BEFORE the increment reproduces the decoder's timing
            # (verified against real giflib-encoded files + roundtrip).
            table[(cur, v)] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear)
            table.clear()
            width = min_code_size + 1
            next_code = eoi + 1
        cur = v
    if cur >= 0:
        emit(cur)
        # the decoder performs one more (phantom, never-referenced)
        # assignment for this final code — after it, the decoder's
        # next free slot equals the ENCODER's next_code, so it bumps
        # exactly when next_code == 1<<width; EOI must be written at
        # that post-bump width
        if next_code <= 0xFFF:
            if next_code == (1 << width) and width < 12:
                width += 1
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ------------------------------------------------------------ decode --


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = np.concatenate(
        [np.arange(start, h, step) for start, step in _INTERLACE_PASSES]
    ) if h else np.arange(0)
    out = np.empty_like(rows)
    out[order] = rows
    return out


class _Reader:
    def __init__(self, data: bytes):
        self.d = data
        self.p = 0

    def take(self, n: int) -> bytes:
        if self.p + n > len(self.d):
            raise ValueError("gif: truncated")
        b = self.d[self.p:self.p + n]
        self.p += n
        return b

    def u8(self) -> int:
        return self.take(1)[0]

    def u16(self) -> int:
        return struct.unpack("<H", self.take(2))[0]

    def subblocks(self) -> bytes:
        out = bytearray()
        while True:
            n = self.u8()
            if n == 0:
                return bytes(out)
            out += self.take(n)


def decode_gif_frames(data: bytes) -> np.ndarray:
    """Full composited animation: (n_frames, H, W, 3) uint8."""
    if not is_gif(data):
        raise ValueError("gif: bad signature")
    r = _Reader(data)
    r.take(6)
    width, height = r.u16(), r.u16()
    flags = r.u8()
    bg_index = r.u8()
    r.u8()  # pixel aspect ratio: ignored (display hint only)
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(r.take(3 * n), dtype=np.uint8).reshape(n, 3)
    if gct is not None and bg_index < len(gct):
        bg_rgb = gct[bg_index]
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)
    canvas = np.broadcast_to(bg_rgb, (height, width, 3)).copy()
    frames: list[np.ndarray] = []
    transparent = -1
    disposal = 0
    while True:
        block = r.u8()
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = r.u8()
            body = r.subblocks()
            if label == 0xF9 and len(body) >= 4:  # Graphic Control
                gflags = body[0]
                disposal = (gflags >> 2) & 0x07
                transparent = body[3] if gflags & 0x01 else -1
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
        left, top = r.u16(), r.u16()
        fw, fh = r.u16(), r.u16()
        iflags = r.u8()
        lct = None
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            lct = np.frombuffer(r.take(3 * n), dtype=np.uint8).reshape(n, 3)
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("gif: frame has no color table")
        if left + fw > width or top + fh > height:
            raise ValueError("gif: frame exceeds logical screen")
        mcs = r.u8()
        idx = _lzw_decode(r.subblocks(), mcs, fw * fh).reshape(fh, fw)
        if iflags & 0x40:
            idx = _deinterlace(idx)
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("gif: pixel index outside color table")
        prev_canvas = canvas.copy() if disposal == 3 else None
        region = canvas[top:top + fh, left:left + fw]
        rgb = palette[idx]
        if transparent >= 0:
            opaque = idx != transparent
            region[opaque] = rgb[opaque]
        else:
            region[...] = rgb
        frames.append(canvas.copy())
        if disposal == 2:  # restore background color in the frame rect
            canvas[top:top + fh, left:left + fw] = bg_rgb
        elif disposal == 3 and prev_canvas is not None:
            canvas = prev_canvas
        disposal = 0
        transparent = -1
    if not frames:
        raise ValueError("gif: no image data")
    return np.stack(frames)


def decode_gif(data: bytes) -> np.ndarray:
    """First composited frame, (H, W, 3) uint8 — the png.decode_png
    shape contract, so png.to_gray_f32 applies unchanged."""
    return decode_gif_frames(data)[0]


# ------------------------------------------------------------ encode --


def encode_gif(
    idx,
    palette: np.ndarray,
    transparent: int | None = None,
    interlace: bool = False,
    disposal: int = 1,
) -> bytes:
    """Write a GIF89a from index frames + one global palette.

    idx: (H, W) or (N, H, W) uint8 palette indices; palette: (K, 3)
    uint8 (K rounded up to a power of two on disk); the background is
    palette index 0. transparent / disposal and a 4/100 s delay apply
    to every frame (enough for fixtures; the decoder handles per-frame
    values from any producer).

    Test-only parameters: transparent, interlace, disposal —
    tests/test_gif.py builds decoder fixtures with them (transparency
    compositing, interlaced rows, disposal 2)."""
    idx = np.asarray(idx, dtype=np.uint8)
    if idx.ndim == 2:
        idx = idx[None]
    if idx.ndim != 3:
        raise ValueError("gif: idx must be (H,W) or (N,H,W)")
    palette = np.asarray(palette, dtype=np.uint8)
    if palette.ndim != 2 or palette.shape[1] != 3 or not len(palette):
        raise ValueError("gif: palette must be (K, 3)")
    if int(idx.max(initial=0)) >= len(palette):
        raise ValueError("gif: index outside palette")
    n, h, w = idx.shape
    bits = max(1, int(len(palette) - 1).bit_length())
    psize = 1 << bits
    pal = np.zeros((psize, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((bits - 1) & 0x07) << 4 | (bits - 1), 0, 0])
    out += pal.tobytes()
    if n > 1:  # Netscape looping block, the de-facto animation marker
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    mcs = max(2, bits)
    for f in range(n):
        gflags = (disposal & 0x07) << 2
        tr = 0
        if transparent is not None:
            gflags |= 0x01
            tr = int(transparent)
        out += bytes([0x21, 0xF9, 4, gflags])
        out += struct.pack("<H", 4)  # delay, 1/100 s
        out += bytes([tr, 0])
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0])
        rows = idx[f]
        if interlace:
            order = np.concatenate(
                [np.arange(s, h, st) for s, st in _INTERLACE_PASSES]
            )
            rows = rows[order]
        out += bytes([mcs])
        lzw = _lzw_encode(rows, mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
