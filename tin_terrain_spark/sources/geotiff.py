"""GeoTIFF source (S1): the reference's primary raster input, without
GDAL.

A pure-NumPy reader for the GeoTIFF subset that DEM rasters actually
use — classic TIFF (little/big endian), single band, strip or tile
organization, compression none/deflate/LZW/PackBits/new-style-JPEG
(tag 7, shared JPEGTables supported — decoded by the in-repo baseline
T.81 codec, kernels/jpeg.py), horizontal
predictor, uint/int/float samples, ModelPixelScale + ModelTiepoint or
axis-aligned ModelTransformation georef (files with NO georef raise),
and the GDAL_NODATA ascii tag — plus a minimal float32 writer (test
fixtures / export). Like the reference CLI's
load_raster_file(validate=false), the GeoKey CRS is not checked.

Load semantics mirror /root/reference/src/RasterIO.cpp:347-441:
band 1 only, cellsize = |scale_x|, pos = lower-left corner
(min of the transform corners), data flipped so the array stays
top-left row-major (flip x when scale_x < 0, flip y when scale_y > 0),
nodata from the band.

Spark integration: `geotiff_cells` reads files via the binaryFile
source (one task per file — decode parallelism = file count; for
100 TB inputs the raster set is many tiles/granules, which is exactly
this layout) and emits pixel-center world points, ready for
`assign_tile_keys` → cell aggregation → the meshing pipeline.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..kernels.raster import Grid

# TIFF field types → (struct fmt, size)
_TYPES = {
    1: ("B", 1),   # BYTE
    2: ("c", 1),   # ASCII
    3: ("H", 2),   # SHORT
    4: ("I", 4),   # LONG
    5: ("II", 8),  # RATIONAL
    6: ("b", 1),
    7: ("B", 1),   # UNDEFINED (byte blob — e.g. JPEGTables, tag 347)
    8: ("h", 2),
    9: ("i", 4),
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
    16: ("Q", 8),  # LONG8 (BigTIFF)
    17: ("q", 8),  # SLONG8 (BigTIFF)
    18: ("Q", 8),  # IFD8 (BigTIFF)
}

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_STRIP_OFFSETS = 273
_TAG_SAMPLES_PER_PIXEL = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PREDICTOR = 317
_TAG_TILE_W = 322
_TAG_TILE_H = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_COUNTS = 325
_TAG_SAMPLE_FORMAT = 339
_TAG_JPEG_TABLES = 347
_TAG_MODEL_PIXEL_SCALE = 33550
_TAG_MODEL_TIEPOINT = 33922
_TAG_MODEL_TRANSFORMATION = 34264
_TAG_GDAL_NODATA = 42113


def _lzw_decode(raw: bytes) -> bytes:
    """TIFF-variant LZW (MSB-first code packing, ClearCode 256,
    EndOfInformation 257, 'early change' code-width bumps at table
    sizes 511/1023/2047). Pure Python — ingest-path only; strips/tiles
    decode independently so file-level parallelism covers the cost."""
    out = bytearray()
    table: list[bytes] = []
    bitlen = 9
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, bitlen, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        bitlen = 9
        prev = None

    reset()
    acc = 0
    nbits = 0
    for byte in raw:
        acc = ((acc << 8) | byte) & 0xFFFFFFFF
        nbits += 8
        while nbits >= bitlen:
            code = (acc >> (nbits - bitlen)) & ((1 << bitlen) - 1)
            nbits -= bitlen
            if code == 256:
                reset()
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"corrupt LZW stream: code {code} > table size")
            out += entry
            prev = entry
            if len(table) == (1 << bitlen) - 1 and bitlen < 12:
                bitlen += 1
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (fixture/writer twin of _lzw_decode)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, bitlen: int) -> None:
        nonlocal acc, nbits
        acc = (acc << bitlen) | code
        nbits += bitlen
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    bitlen = 9
    put(256, bitlen)  # leading ClearCode (what libtiff emits)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w], bitlen)
        table[wc] = next_code
        next_code += 1
        # early-change sync: the decoder's table is one entry BEHIND
        # the encoder's (it adds on the NEXT read), and it bumps at
        # table size (1<<bits)-1 — which corresponds to encoder
        # next_code == 1<<bits
        if next_code == (1 << bitlen) and bitlen < 12:
            bitlen += 1
        elif next_code >= 4094:
            put(256, bitlen)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            bitlen = 9
        w = bytes([b])
    if w:
        put(table[w], bitlen)
    put(257, bitlen)  # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_decode(raw: bytes) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773)."""
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        h = raw[i]
        i += 1
        if h < 128:  # literal run of h+1 bytes
            out += raw[i : i + h + 1]
            i += h + 1
        elif h > 128:  # repeat next byte 257-h times
            out += raw[i : i + 1] * (257 - h)
            i += 1
        # h == 128: no-op
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Minimal valid PackBits encoder (literal-preferring, run-aware)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
        else:
            j = i + 1
            while (
                j < n
                and j - i < 128
                and not (j + 1 < n and data[j + 1] == data[j])
            ):
                j += 1
            out.append(j - i - 1)
            out += data[i:j]
            i = j
    return bytes(out)


def _read_ifd(buf: bytes, bo: str, big: bool = False):
    """Parse the first IFD. Classic TIFF: 12-byte entries, 4-byte
    counts/offsets. BigTIFF (version 43): 20-byte entries, 8-byte
    counts/offsets, 8-byte inline-value slot."""
    if big:
        (off,) = struct.unpack(bo + "Q", buf[8:16])
        (n,) = struct.unpack(bo + "Q", buf[off : off + 8])
        esz, hdr, inline, ofmt = 20, 8, 8, "Q"
    else:
        (off,) = struct.unpack(bo + "I", buf[4:8])
        (n,) = struct.unpack(bo + "H", buf[off : off + 2])
        esz, hdr, inline, ofmt = 12, 2, 4, "I"
    tags: dict[int, tuple] = {}
    for i in range(int(n)):
        e = off + hdr + esz * i
        if big:
            tag, typ, cnt = struct.unpack(bo + "HHQ", buf[e : e + 12])
            vslot = e + 12
        else:
            tag, typ, cnt = struct.unpack(bo + "HHI", buf[e : e + 8])
            vslot = e + 8
        if typ not in _TYPES:
            continue
        fmt, sz = _TYPES[typ]
        cnt = int(cnt)
        total = sz * cnt
        if total <= inline:
            raw = buf[vslot : vslot + total]
        else:
            (voff,) = struct.unpack(bo + ofmt, buf[vslot : vslot + inline])
            raw = buf[voff : voff + total]
        if typ == 2:
            tags[tag] = raw.split(b"\x00")[0].decode("ascii", "replace")
        elif typ == 5:
            vals = struct.unpack(bo + "I" * (2 * cnt), raw)
            tags[tag] = tuple(vals[2 * j] / max(vals[2 * j + 1], 1) for j in range(cnt))
        else:
            tags[tag] = struct.unpack(bo + fmt * cnt, raw)
    return tags


def _dtype(bits: int, sample_format: int, bo: str) -> np.dtype:
    e = "<" if bo == "<" else ">"
    if sample_format == 3:
        return np.dtype(f"{e}f{bits // 8}")
    if sample_format == 2:
        return np.dtype(f"{e}i{bits // 8}")
    return np.dtype(f"{e}u{bits // 8}")


def _decode_block(raw: bytes, compression: int, dtype: np.dtype,
                  rows: int, cols: int, predictor: int,
                  spp: int = 1, jpeg_tables: bytes | None = None) -> np.ndarray:
    """Decode one strip/tile → (rows, cols) of the FIRST sample.
    spp > 1 means chunky (pixel-interleaved) multi-band data: the
    horizontal predictor differences per SAMPLE (value[i] += value
    [i - spp]), so the cumsum runs along columns after de-interleave."""
    if compression == 7:
        # New-style JPEG (TIFF Technical Note 2): each strip/tile is a
        # baseline JPEG stream, either standalone or abbreviated with
        # the shared DQT/DHT segments carried once in the JPEGTables
        # tag (347) as `SOI <tables> EOI`. Merge = splice the shared
        # segments right after the block's SOI; block-local tables come
        # later in the stream and therefore override the shared ones
        # (table-slot precedence per T.81 — last definition wins).
        from ..kernels.jpeg import decode_jpeg

        stream = raw
        if jpeg_tables is not None and len(jpeg_tables) > 4:
            stream = raw[:2] + jpeg_tables[2:-2] + raw[2:]
        px = decode_jpeg(stream)  # (bh, bw, 1|3) uint8, SOF dims
        # band 1 only (GDAL GetRasterBand(1)); for PhotometricInterp 6
        # (YCbCr) the codec already converted to RGB, so channel 0 = R,
        # matching GDAL's band-1 view of a YCbCr JPEG TIFF.
        a = px[:rows, :cols, 0]
        if a.shape != (rows, cols):
            # edge strips whose SOF declares fewer rows/cols than the
            # nominal block shape: pad (caller crops tiles anyway)
            full = np.zeros((rows, cols), dtype=np.uint8)
            full[: a.shape[0], : a.shape[1]] = a
            a = full
        return a
    if compression in (8, 32946):  # deflate (zlib)
        raw = zlib.decompress(raw)
    elif compression == 5:  # LZW — the most common DEM-archive codec
        raw = _lzw_decode(raw)
    elif compression == 32773:  # PackBits RLE
        raw = _packbits_decode(raw)
    elif compression == 6:
        raise NotImplementedError(
            "TIFF compression 6 (old-style JPEG, deprecated by TTN2) "
            "not supported — re-save with new-style JPEG (7) or a "
            "lossless codec"
        )
    elif compression != 1:
        raise NotImplementedError(f"TIFF compression {compression} not supported "
                                  "(supported: none, deflate, LZW, PackBits, "
                                  "baseline JPEG)")
    if predictor == 3:
        # TIFF floating-point predictor (Technical Note 3, the common
        # float32-DEM archive layout): per scanline, the value bytes
        # are split into byte planes in CANONICAL big-endian order
        # (plane 0 = every value's MSB — independent of the file's
        # declared byte order), then horizontally differenced byte-wise
        # with stride = samples-per-pixel across the whole rearranged
        # row. Decode = cumulative byte sums mod 256, then reassemble
        # each value MSB-first.
        if dtype.kind != "f":
            raise NotImplementedError("TIFF predictor 3 requires float samples")
        bps = dtype.itemsize
        wc = cols * spp  # values per scanline
        row_bytes = wc * bps
        b = np.frombuffer(raw, dtype=np.uint8, count=rows * row_bytes).reshape(
            rows, row_bytes
        )
        # byte-wise accumulate with stride spp: positions p and p-spp
        # are the same lane; reshape rows to (row_bytes // spp, spp)
        # and cumsum along the first axis
        acc = (
            b.reshape(rows, row_bytes // spp, spp)
            .cumsum(axis=1, dtype=np.int64)
            % 256
        ).astype(np.uint8).reshape(rows, row_bytes)
        planes = acc.reshape(rows, bps, wc)  # plane-major, MSB first
        be = np.ascontiguousarray(planes.transpose(0, 2, 1))  # (rows, wc, bps)
        a = np.frombuffer(be.tobytes(), dtype=np.dtype(f">f{bps}")).reshape(
            rows, cols, spp
        )
        return a[:, :, 0]
    a = np.frombuffer(raw, dtype=dtype, count=rows * cols * spp).reshape(
        rows, cols, spp
    )
    if predictor == 2:
        a = np.cumsum(a.astype(np.int64), axis=1).astype(dtype)
    elif predictor not in (0, 1):
        raise NotImplementedError(f"TIFF predictor {predictor} not supported")
    return a[:, :, 0]


def read_geotiff(data: bytes) -> Grid:
    """Parse GeoTIFF bytes → Grid (reference load semantics)."""
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF file")
    (magic,) = struct.unpack(bo + "H", data[2:4])
    if magic == 43:  # BigTIFF: 8-byte offsets (the >4 GiB DEM mosaics)
        (offsize, zero) = struct.unpack(bo + "HH", data[4:8])
        if offsize != 8 or zero != 0:
            raise NotImplementedError(f"BigTIFF offset size {offsize} not supported")
        tags = _read_ifd(data, bo, big=True)
    elif magic == 42:
        tags = _read_ifd(data, bo)
    else:
        raise ValueError(f"not a TIFF file (version {magic})")

    w = int(tags[_TAG_WIDTH][0])
    h = int(tags[_TAG_HEIGHT][0])
    bits = int(tags.get(_TAG_BITS, (32,))[0])
    compression = int(tags.get(_TAG_COMPRESSION, (1,))[0])
    spp = int(tags.get(_TAG_SAMPLES_PER_PIXEL, (1,))[0])
    # multi-band: band 1 only, like the reference's GDAL GetRasterBand(1)
    # load (RasterIO.cpp:387-394). planar_config 1 = chunky (pixel-
    # interleaved, handled in _decode_block), 2 = planar (band 1's
    # blocks are the first blocks_per_band strip/tile entries).
    planar = int(tags.get(284, (1,))[0])
    if spp != 1 and planar not in (1, 2):
        raise NotImplementedError(f"PlanarConfiguration {planar} not supported")
    sample_format = int(tags.get(_TAG_SAMPLE_FORMAT, (1,))[0])
    predictor = int(tags.get(_TAG_PREDICTOR, (1,))[0])
    dtype = _dtype(bits, sample_format, bo)

    # chunky multi-band: every block carries spp interleaved samples;
    # planar multi-band: only band 1's blocks (the first 1/spp of the
    # offsets array) are read
    block_spp = spp if planar == 1 else 1

    jpeg_tables = None
    if compression == 7 and _TAG_JPEG_TABLES in tags:
        jpeg_tables = bytes(tags[_TAG_JPEG_TABLES])

    z = np.empty((h, w), dtype=np.float64)
    if _TAG_TILE_OFFSETS in tags:
        tw = int(tags[_TAG_TILE_W][0])
        th = int(tags[_TAG_TILE_H][0])
        offs = tags[_TAG_TILE_OFFSETS]
        cnts = tags[_TAG_TILE_COUNTS]
        tiles_x = (w + tw - 1) // tw
        tiles_y = (h + th - 1) // th
        n_band1 = tiles_x * tiles_y
        for i, (o, c) in enumerate(zip(offs[:n_band1], cnts[:n_band1])):
            ty, tx = divmod(i, tiles_x)
            block = _decode_block(data[o : o + c], compression, dtype, th, tw,
                                  predictor, block_spp, jpeg_tables)
            r0, c0 = ty * th, tx * tw
            rr, cc = min(th, h - r0), min(tw, w - c0)
            z[r0 : r0 + rr, c0 : c0 + cc] = block[:rr, :cc].astype(np.float64)
    else:
        offs = tags[_TAG_STRIP_OFFSETS]
        cnts = tags[_TAG_STRIP_COUNTS]
        rps = int(tags.get(_TAG_ROWS_PER_STRIP, (h,))[0])
        n_band1 = (h + rps - 1) // rps
        for i, (o, c) in enumerate(zip(offs[:n_band1], cnts[:n_band1])):
            r0 = i * rps
            rows = min(rps, h - r0)
            block = _decode_block(data[o : o + c], compression, dtype, rows, w,
                                  predictor, block_spp, jpeg_tables)
            z[r0 : r0 + rows] = block.astype(np.float64)

    # georef (RasterIO.cpp:421-441 semantics): ModelPixelScale +
    # ModelTiepoint, or an axis-aligned ModelTransformation matrix.
    # A file with NEITHER is not silently given a unit georef — that
    # would mesh it in the wrong coordinate system without any error.
    if _TAG_MODEL_PIXEL_SCALE in tags and _TAG_MODEL_TIEPOINT in tags:
        ps = tags[_TAG_MODEL_PIXEL_SCALE]
        tp = tags[_TAG_MODEL_TIEPOINT]
        scale_x, scale_y = float(ps[0]), -float(ps[1])
        origin_x = float(tp[3]) - float(tp[0]) * scale_x
        origin_y = float(tp[4]) - float(tp[1]) * scale_y
    elif _TAG_MODEL_TRANSFORMATION in tags:
        m = tags[_TAG_MODEL_TRANSFORMATION]
        if len(m) < 8 or float(m[1]) != 0.0 or float(m[4]) != 0.0:
            raise NotImplementedError(
                "rotational/shear ModelTransformation not supported "
                "(reproject with gdalwarp first)"
            )
        scale_x, scale_y = float(m[0]), float(m[5])
        origin_x, origin_y = float(m[3]), float(m[7])
    else:
        raise NotImplementedError(
            "GeoTIFF provides no georeferencing (need ModelPixelScale + "
            "ModelTiepoint, or an axis-aligned ModelTransformation)"
        )
    x2 = origin_x + w * scale_x
    y2 = origin_y + h * scale_y
    if scale_x < 0:
        z = z[:, ::-1]
    if scale_y > 0:
        z = z[::-1, :]
    ndv = np.nan
    if _TAG_GDAL_NODATA in tags:
        try:
            ndv = float(str(tags[_TAG_GDAL_NODATA]).strip())
        except ValueError:
            pass
    return Grid(
        z,
        xpos=min(origin_x, x2),
        ypos=min(origin_y, y2),
        cellsize=abs(scale_x),
        ndv=ndv,
    )


def write_geotiff(grid: Grid, path: str, compress: "bool | str" = False,
                  bigtiff: bool = False, predictor: int = 1) -> None:
    """Minimal single-band float32 GeoTIFF writer (little-endian, one
    strip per raster; compress: False | True/'deflate' | 'lzw' |
    'packbits'; no GeoKey CRS declaration; bigtiff=True emits the
    version-43 8-byte-offset layout; predictor=3 applies the
    floating-point predictor before compression — the deflate+
    predictor-3 combination is the common float32 DEM archive layout)
    — enough for test fixtures and for exporting Grids to
    GDAL-readable files.

    Test-only parameters: bigtiff, predictor —
    tests/test_sources_geotiff.py builds its BigTIFF and predictor-3
    decoder fixtures with them."""
    h, w = grid.z.shape
    if predictor == 3 and not compress:
        # TIFF predictors are a compression-codec parameter: libtiff/
        # GDAL ignore tag 317 on uncompressed strips, so a predictor-3
        # no-compression file would decode as garbage everywhere but
        # here. Refuse rather than emit a non-portable file.
        raise ValueError("predictor=3 requires compression "
                         "(deflate/lzw/packbits); uncompressed strips "
                         "ignore the predictor tag in standard tooling")
    if predictor == 3:
        # inverse of the _decode_block path: per row, canonical
        # big-endian byte planes (MSB plane first), then byte-wise
        # horizontal difference with stride 1 (spp = 1)
        be = np.frombuffer(
            np.ascontiguousarray(grid.z, dtype=">f4").tobytes(), dtype=np.uint8
        ).reshape(h, w, 4)
        planes = np.ascontiguousarray(be.transpose(0, 2, 1)).reshape(h, w * 4)
        diff = planes.astype(np.int16)
        diff[:, 1:] -= planes[:, :-1].astype(np.int16)
        payload = (diff % 256).astype(np.uint8).tobytes()
    elif predictor == 1:
        payload = np.ascontiguousarray(grid.z, dtype="<f4").tobytes()
    else:
        raise ValueError(f"writer supports predictor 1 or 3, not {predictor}")
    comp_tag = 1
    if compress is True or compress == "deflate":
        payload = zlib.compress(payload)
        comp_tag = 8
    elif compress == "lzw":
        payload = _lzw_encode(payload)
        comp_tag = 5
    elif compress == "packbits":
        payload = _packbits_encode(payload)
        comp_tag = 32773
    elif compress:
        raise ValueError(f"unknown compress={compress!r}")

    entries = []  # (tag, type, count, packed-value-or-bytes)

    def entry(tag, typ, cnt, vals):
        entries.append((tag, typ, cnt, vals))

    ndv_s = (b"nan" if np.isnan(grid.ndv) else repr(float(grid.ndv)).encode()) + b"\x00"
    entry(_TAG_WIDTH, 4, 1, (w,))
    entry(_TAG_HEIGHT, 4, 1, (h,))
    entry(_TAG_BITS, 3, 1, (32,))
    entry(_TAG_COMPRESSION, 3, 1, (comp_tag,))
    entry(262, 3, 1, (1,))  # photometric: BlackIsZero
    entry(_TAG_STRIP_OFFSETS, 4, 1, None)  # patched below
    entry(_TAG_SAMPLES_PER_PIXEL, 3, 1, (1,))
    entry(_TAG_ROWS_PER_STRIP, 4, 1, (h,))
    entry(_TAG_STRIP_COUNTS, 4, 1, (len(payload),))
    if predictor != 1:  # tag 317: IFD entries ascend by tag number
        entry(_TAG_PREDICTOR, 3, 1, (predictor,))
    entry(_TAG_SAMPLE_FORMAT, 3, 1, (3,))
    entry(_TAG_MODEL_PIXEL_SCALE, 12, 3, (grid.cellsize, grid.cellsize, 0.0))
    # tiepoint: raster (0,0) ↔ world top-left corner
    entry(_TAG_MODEL_TIEPOINT, 12, 6,
          (0.0, 0.0, 0.0, grid.xpos, grid.ypos + h * grid.cellsize, 0.0))
    entry(_TAG_GDAL_NODATA, 2, len(ndv_s), ndv_s)

    n = len(entries)
    if bigtiff:
        header = struct.pack("<2sHHHQ", b"II", 43, 8, 0, 16)
        ifd_off, ecount_sz, esz, inline, ofmt, next_sz = 16, 8, 20, 8, "Q", 8
    else:
        header = struct.pack("<2sHI", b"II", 42, 8)
        ifd_off, ecount_sz, esz, inline, ofmt, next_sz = 8, 2, 12, 4, "I", 4
    ifd_size = ecount_sz + esz * n + next_sz
    overflow_off = ifd_off + ifd_size
    overflow = b""
    packed = []
    for tag, typ, cnt, vals in entries:
        fmt, sz = _TYPES[typ]
        if tag == _TAG_STRIP_OFFSETS:
            packed.append((tag, typ, cnt, None))
            continue
        if typ == 2:
            raw = vals
        else:
            raw = struct.pack("<" + fmt * cnt, *vals)
        if len(raw) <= inline:
            packed.append((tag, typ, cnt, raw.ljust(inline, b"\x00")))
        else:
            packed.append((tag, typ, cnt, struct.pack("<" + ofmt, overflow_off + len(overflow))))
            overflow += raw
    data_off = overflow_off + len(overflow)
    out = bytearray(header)
    out += struct.pack("<" + ("Q" if bigtiff else "H"), n)
    for tag, typ, cnt, raw in packed:
        if raw is None:
            raw = struct.pack("<" + ofmt, data_off).ljust(inline, b"\x00")
        if bigtiff:
            out += struct.pack("<HHQ", tag, typ, cnt) + raw
        else:
            out += struct.pack("<HHI", tag, typ, cnt) + raw
    out += struct.pack("<" + ofmt, 0)  # next-IFD = none
    out += overflow
    out += payload
    with open(path, "wb") as f:
        f.write(bytes(out))


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

CELL_SCHEMA = "path STRING, x DOUBLE, y DOUBLE, z DOUBLE"


def geotiff_cells(spark, path_glob: str):
    """Raster files → pixel-center world points DataFrame. One decode
    task per file (binaryFile source); invalid (nodata/NaN) pixels are
    dropped at the source, so only real samples shuffle downstream."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path_glob)

    def decode(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                g = read_geotiff(bytes(content))
                h, w = g.z.shape
                cols, rows = np.meshgrid(np.arange(w), np.arange(h))
                z = g.z.ravel()
                valid = ~(np.isnan(z) | (z == g.ndv))
                yield pd.DataFrame(
                    {
                        "path": path,
                        "x": g.col2x(cols.ravel()[valid]),
                        "y": g.row2y(rows.ravel()[valid]),
                        "z": z[valid],
                    }
                )

    return files.select("path", "content").mapInPandas(decode, CELL_SCHEMA)


def assign_tile_keys(points, zoom: int, grid_bits: int = 5):
    """Attach tile/cell keys to real (x, y) points — the raster-ingest
    twin of operators.geocode.geocode_points (which synthesizes x/y
    from ids). Output feeds operators.meshing.mesh_tiles unchanged."""
    from pyspark.sql import functions as F

    from ..functions import geocode_exprs as GX

    return (
        points.withColumn("tile_x", F.expr(GX.tile_sql("x", zoom)))
        .withColumn("tile_y", F.expr(GX.tile_sql("y", zoom)))
        .withColumn("cell_x", F.expr(GX.cell_sql("x", zoom, grid_bits)))
        .withColumn("cell_y", F.expr(GX.cell_sql("y", zoom, grid_bits)))
    )
