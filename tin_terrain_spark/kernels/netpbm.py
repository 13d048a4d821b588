"""Pure-NumPy netpbm codec (PBM / PGM / PPM, P1-P6).

Spec: the public netpbm format descriptions (pbm(5)/pgm(5)/ppm(5)).
PGM is the DEM-adjacent member — plain grayscale heightmaps are
routinely shipped as P2/P5 — so this closes the text-raster gap the
same way sources/textgrids.py does for ESRI ASC/XYZ. Scope: all six
magic numbers; maxval 1..65535 (16-bit binary is big-endian per
spec); '#' comments anywhere in the header; raises ValueError outside
scope so operators/multimodal.py falls back to its stub.

decode_netpbm returns (H, W, C) uint8 or uint16 with C=1 (PBM/PGM) or
3 (PPM) — the kernels/png.py shape contract, so png.to_gray_f32
applies unchanged. Values are returned RAW (not maxval-rescaled)
except PBM, where 1=black is mapped to 0 and 0=white to maxval 255 so
the photometric sense matches PGM. encode_netpbm writes P2/P5/P3/P6
for fixtures and the sink side.
"""

from __future__ import annotations

import numpy as np

_MAGICS = {b"P1", b"P2", b"P3", b"P4", b"P5", b"P6"}


def is_netpbm(data: bytes) -> bool:
    return (
        len(data) > 2
        and data[:2] in _MAGICS
        and data[2:3] in b" \t\r\n#"
    )


def _tokens(data: bytes):
    """Yield (token, end_offset) after the 2-byte magic, skipping
    whitespace and '#' comments."""
    i = 2
    n = len(data)
    while i < n:
        c = data[i]
        if c in b"# ":
            if c == 0x23:  # comment to end of line
                while i < n and data[i] not in b"\r\n":
                    i += 1
                continue
        if data[i:i + 1].isspace():
            i += 1
            continue
        j = i
        while j < n and not data[j:j + 1].isspace() and data[j] != 0x23:
            j += 1
        yield data[i:j], j
        i = j


def decode_netpbm(data: bytes) -> np.ndarray:
    if not is_netpbm(data):
        raise ValueError("netpbm: bad magic")
    kind = int(data[1:2])
    bitmap = kind in (1, 4)
    channels = 3 if kind in (3, 6) else 1
    want = 2 if bitmap else 3  # PBM has no maxval token
    header: list[int] = []
    toks = _tokens(data)
    end = 2
    for tok, end in toks:
        try:
            header.append(int(tok))
        except ValueError:
            raise ValueError(f"netpbm: bad header token {tok!r}") from None
        if len(header) == want:
            break
    if len(header) < want:
        raise ValueError("netpbm: truncated header")
    w, h = header[0], header[1]
    maxval = 1 if bitmap else header[2]
    if w <= 0 or h <= 0:
        raise ValueError("netpbm: bad dimensions")
    if not 1 <= maxval <= 65535:
        raise ValueError(f"netpbm: maxval {maxval} out of range")
    count = w * h * channels
    if kind == 1:
        # plain PBM pixels need no separators ("0110" is four pixels);
        # strip comment lines before filtering digit chars
        import re

        body = re.sub(rb"#[^\r\n]*", b"", data[end:])
        digits = [c - 48 for c in body if c in (48, 49)]
        if len(digits) < count:
            raise ValueError("netpbm: truncated samples")
        vals = np.array(digits[:count], dtype=np.int64)
    elif kind <= 3:  # plain (ASCII) formats
        vals = np.empty(count, dtype=np.int64)
        got = 0
        for tok, end in toks:
            if got >= count:
                break
            try:
                vals[got] = int(tok)
            except ValueError:
                raise ValueError(
                    f"netpbm: bad sample token {tok!r}"
                ) from None
            got += 1
        if got < count:
            raise ValueError("netpbm: truncated samples")
    else:  # raw formats: exactly ONE whitespace byte after the header
        pos = end + 1
        if kind == 4:
            stride = (w + 7) // 8
            need = stride * h
            if pos + need > len(data):
                raise ValueError("netpbm: truncated raster")
            rows = np.frombuffer(
                data[pos:pos + need], dtype=np.uint8
            ).reshape(h, stride)
            bits = np.unpackbits(rows, axis=1)[:, :w]
            vals = bits.astype(np.int64).reshape(-1)
        else:
            two = maxval > 255
            dt = np.dtype(">u2") if two else np.dtype(np.uint8)
            need = count * dt.itemsize
            if pos + need > len(data):
                raise ValueError("netpbm: truncated raster")
            vals = np.frombuffer(
                data[pos:pos + need], dtype=dt
            ).astype(np.int64)
    if vals.max(initial=0) > maxval:
        raise ValueError("netpbm: sample exceeds maxval")
    if bitmap:  # 1 = black in PBM; present as photometric gray
        px = np.where(vals == 1, 0, 255).astype(np.uint8)
    elif maxval > 255:
        px = vals.astype(np.uint16)
    else:
        px = vals.astype(np.uint8)
    return px.reshape(h, w, channels)


def encode_netpbm(px: np.ndarray, plain: bool = False) -> bytes:
    """(H, W) / (H, W, 1) gray or (H, W, 3) color, uint8 or uint16 →
    P5/P6 (binary) or P2/P3 (plain), maxval 255 or 65535 by dtype."""
    px = np.asarray(px)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise ValueError("netpbm: need (H,W[,1|3]) array")
    color = px.shape[2] == 3
    maxval = 65535 if px.dtype == np.uint16 else 255
    if int(px.max(initial=0)) > maxval:
        raise ValueError("netpbm: sample exceeds maxval")
    h, w = px.shape[:2]
    kind = ("P3" if color else "P2") if plain else ("P6" if color else "P5")
    head = f"{kind}\n{w} {h}\n{maxval}\n".encode()
    if plain:
        body = "\n".join(
            " ".join(str(int(v)) for v in row)
            for row in px.reshape(h, -1)
        ).encode() + b"\n"
        return head + body
    dt = np.dtype(">u2") if maxval > 255 else np.dtype(np.uint8)
    return head + px.astype(dt).tobytes()
