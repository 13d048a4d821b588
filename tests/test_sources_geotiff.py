"""GeoTIFF source (S1): reader subset (strips/tiles, deflate,
predictor, int/float samples, georef + GDAL_NODATA), writer roundtrip,
and the end-to-end raster → cells → TIN pipeline."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from tin_terrain_spark.kernels.raster import Grid
from tin_terrain_spark.sources.geotiff import read_geotiff, write_geotiff


def _sample_grid():
    rng = np.random.RandomState(3)
    z = (rng.rand(37, 41) * 100 - 20).astype(np.float32).astype(np.float64)
    z[5:8, 7:9] = -9999.0  # nodata hole
    return Grid(z, xpos=1000.0, ypos=-2000.0, cellsize=30.0, ndv=-9999.0)


@pytest.mark.parametrize("compress", [False, True, "lzw", "packbits"])
def test_write_read_roundtrip(tmp_path, compress):
    g = _sample_grid()
    p = str(tmp_path / "t.tif")
    write_geotiff(g, p, compress=compress)
    r = read_geotiff(open(p, "rb").read())
    assert r.z.shape == g.z.shape
    np.testing.assert_array_equal(r.z, g.z)
    assert r.xpos == g.xpos and r.ypos == g.ypos
    assert r.cellsize == g.cellsize
    assert r.ndv == g.ndv


@pytest.mark.parametrize("compress", [True, "lzw", "packbits"])
def test_write_read_roundtrip_fp_predictor3(tmp_path, compress):
    """Floating-point predictor (TIFF TechNote 3): deflate+predictor-3
    float32 is the common real-DEM archive layout; the roundtrip must
    be bit-exact including nodata and NaN cells. (compress=False is no
    longer a legal combination — standard tooling ignores tag 317 on
    uncompressed strips; see test_predictor3_requires_compression.)"""
    g = _sample_grid()
    g.z[0, 0] = np.nan
    p = str(tmp_path / "fp3.tif")
    write_geotiff(g, p, compress=compress, predictor=3)
    data = open(p, "rb").read()
    r = read_geotiff(data)
    np.testing.assert_array_equal(
        np.asarray(r.z, dtype=np.float32), np.asarray(g.z, dtype=np.float32)
    )
    # the predictor must actually be declared (tag 317 = 3) and improve
    # deflate on smooth data (the reason archives use it)
    assert struct.pack("<HHI", 317, 3, 1) in data
    if compress is True:
        smooth = Grid(
            np.linspace(0.0, 500.0, 64 * 64).reshape(64, 64),
            xpos=0.0, ypos=0.0, cellsize=1.0, ndv=-9999.0,
        )
        p1, p3 = str(tmp_path / "s1.tif"), str(tmp_path / "s3.tif")
        write_geotiff(smooth, p1, compress=True, predictor=1)
        write_geotiff(smooth, p3, compress=True, predictor=3)
        import os

        assert os.path.getsize(p3) < os.path.getsize(p1)


def test_predictor3_requires_float():
    """A predictor-3 file whose samples are integers is rejected, not
    silently mis-decoded."""
    h, w = 2, 3
    payload = np.zeros(h * w * 2, dtype=np.uint8).tobytes()
    entries = [
        (256, 4, 1, (w,)), (257, 4, 1, (h,)), (258, 3, 1, (16,)),
        (259, 3, 1, (1,)), (262, 3, 1, (1,)), (277, 3, 1, (1,)),
        (278, 4, 1, (h,)), (317, 3, 1, (3,)), (339, 3, 1, (1,)),
    ]
    # minimal LE classic TIFF with inline values
    ifd_off = 8
    n = len(entries) + 2  # + strip offsets/counts
    data_off = ifd_off + 2 + 12 * n + 4
    all_entries = sorted(
        entries + [(273, 4, 1, (data_off,)), (279, 4, 1, (len(payload),))]
    )
    out = struct.pack("<2sHI", b"II", 42, ifd_off) + struct.pack("<H", n)
    for tag, typ, cnt, vals in all_entries:
        fmt = {3: "H", 4: "I"}[typ]
        raw = struct.pack("<" + fmt * cnt, *vals).ljust(4, b"\x00")
        out += struct.pack("<HHI", tag, typ, cnt) + raw
    out += struct.pack("<I", 0) + payload
    with pytest.raises(NotImplementedError, match="predictor 3"):
        read_geotiff(out)


def test_reader_int16_predictor2_bigendian_strips():
    """Hand-packed big-endian int16 TIFF, 2 strips, horizontal
    predictor — the classic DEM encoding."""
    h, w = 4, 5
    z = np.arange(h * w, dtype=np.int16).reshape(h, w) * 3
    strips = []
    for r0 in (0, 2):
        block = z[r0 : r0 + 2].astype(np.int64)
        diff = np.diff(block, axis=1, prepend=np.zeros((2, 1), dtype=np.int64))
        strips.append(diff.astype(">i2").tobytes())

    entries = [
        (256, 4, 1, (w,)), (257, 4, 1, (h,)), (258, 3, 1, (16,)),
        (259, 3, 1, (1,)), (262, 3, 1, (1,)), (277, 3, 1, (1,)),
        (278, 4, 1, (2,)), (317, 3, 1, (2,)), (339, 3, 1, (2,)),
        (273, 4, 2, None), (279, 4, 2, tuple(len(s) for s in strips)),
        (33550, 12, 3, (1.0, 1.0, 0.0)),
        (33922, 12, 6, (0.0, 0.0, 0.0, 0.0, float(h), 0.0)),
    ]
    entries.sort(key=lambda e: e[0])
    n = len(entries)
    ifd_off = 8
    overflow_off = ifd_off + 2 + 12 * n + 4
    fmts = {3: "H", 4: "I", 12: "d"}
    overflow = b""
    body = b""
    # strip data goes after overflow; offsets known once overflow sized
    over_bytes = sum(
        struct.calcsize(fmts[t]) * c
        for _, t, c, _ in entries
        if struct.calcsize(fmts[t]) * c > 4
    )
    data_off = overflow_off + over_bytes
    offsets = (data_off, data_off + len(strips[0]))
    for tag, typ, cnt, vals in entries:
        if vals is None:
            vals = offsets
        raw = struct.pack(">" + fmts[typ] * cnt, *vals)
        if len(raw) <= 4:
            body += struct.pack(">HHI", tag, typ, cnt) + raw.ljust(4, b"\x00")
        else:
            body += struct.pack(">HHI", tag, typ, cnt) + struct.pack(
                ">I", overflow_off + len(overflow)
            )
            overflow += raw
    buf = (
        struct.pack(">2sHI", b"MM", 42, ifd_off)
        + struct.pack(">H", n)
        + body
        + struct.pack(">I", 0)
        + overflow
        + strips[0]
        + strips[1]
    )
    r = read_geotiff(buf)
    np.testing.assert_array_equal(r.z, z.astype(np.float64))
    assert r.cellsize == 1.0


def test_reader_tiled_layout(tmp_path):
    """Tile organization: 2x2 grid of 16x16 tiles with edge padding."""
    h, w = 20, 28
    z = np.arange(h * w, dtype=np.float32).reshape(h, w)
    tw = th = 16
    tiles = []
    for ty in range(2):
        for tx in range(2):
            block = np.zeros((th, tw), dtype="<f4")
            r0, c0 = ty * th, tx * tw
            rr, cc = min(th, h - r0), min(tw, w - c0)
            block[:rr, :cc] = z[r0 : r0 + rr, c0 : c0 + cc]
            tiles.append(zlib.compress(block.tobytes()))

    entries = [
        (256, 4, 1, (w,)), (257, 4, 1, (h,)), (258, 3, 1, (32,)),
        (259, 3, 1, (8,)), (262, 3, 1, (1,)), (277, 3, 1, (1,)),
        (322, 4, 1, (tw,)), (323, 4, 1, (th,)),
        (324, 4, 4, None), (325, 4, 4, tuple(len(t) for t in tiles)),
        (339, 3, 1, (3,)),
        (33550, 12, 3, (1.0, 1.0, 0.0)),
        (33922, 12, 6, (0.0, 0.0, 0.0, 0.0, float(h), 0.0)),
    ]
    entries.sort(key=lambda e: e[0])
    n = len(entries)
    overflow_off = 8 + 2 + 12 * n + 4
    fmts = {3: "H", 4: "I", 12: "d"}
    over_bytes = sum(
        ((struct.calcsize(fmts[t]) * c + 15) // 16) * 16
        for _, t, c, _ in entries
        if struct.calcsize(fmts[t]) * c > 4
    )
    data_off = overflow_off + over_bytes
    offs, acc = [], data_off
    for t in tiles:
        offs.append(acc)
        acc += len(t)
    overflow = b""
    body = b""
    for tag, typ, cnt, vals in entries:
        if vals is None:
            vals = tuple(offs)
        raw = struct.pack("<" + fmts[typ] * cnt, *vals)
        if len(raw) <= 4:
            body += struct.pack("<HHI", tag, typ, cnt) + raw.ljust(4, b"\x00")
        else:
            body += struct.pack("<HHI", tag, typ, cnt) + struct.pack(
                "<I", overflow_off + len(overflow)
            )
            overflow += raw.ljust(((len(raw) + 15) // 16) * 16, b"\x00")
    buf = (
        struct.pack("<2sHI", b"II", 42, 8)
        + struct.pack("<H", n)
        + body
        + struct.pack("<I", 0)
        + overflow
        + b"".join(tiles)
    )
    r = read_geotiff(buf)
    np.testing.assert_array_equal(r.z, z.astype(np.float64))


def test_unsupported_compression_is_loud():
    g = _sample_grid()

    # patch compression tag to JPEG (7) on a written file
    import tempfile, os
    with tempfile.NamedTemporaryFile(suffix=".tif", delete=False) as f:
        write_geotiff(g, f.name)
        buf = bytearray(open(f.name, "rb").read())
        os.unlink(f.name)
    # find compression entry (tag 259) and overwrite its value with
    # 34712 (JPEG2000 — genuinely unsupported)
    (n,) = struct.unpack("<H", buf[8:10])
    for i in range(n):
        e = 10 + 12 * i
        (tag,) = struct.unpack("<H", buf[e : e + 2])
        if tag == 259:
            buf[e + 8 : e + 10] = struct.pack("<H", 34712 & 0xFFFF)
    with pytest.raises(NotImplementedError, match="compression"):
        read_geotiff(bytes(buf))

    # old-style JPEG (6) gets its own actionable message
    for i in range(n):
        e = 10 + 12 * i
        (tag,) = struct.unpack("<H", buf[e : e + 2])
        if tag == 259:
            buf[e + 8 : e + 10] = struct.pack("<H", 6)
    with pytest.raises(NotImplementedError, match="old-style JPEG"):
        read_geotiff(bytes(buf))


def test_lzw_known_bitstream():
    """Hand-computed TIFF-LZW vector: codes (CLEAR, 'A', 258, 'A', EOI)
    MSB-packed — pins the bit order, the post-clear init, and the
    KwKwK (code == table size) case against the spec, independent of
    our encoder."""
    from tin_terrain_spark.sources.geotiff import _lzw_decode, _lzw_encode

    vec = bytes([0x80, 0x10, 0x60, 0x44, 0x18, 0x08])
    assert _lzw_decode(vec) == b"AAAA"
    assert _lzw_encode(b"AAAA") == vec


def test_lzw_packbits_roundtrip_random():
    from tin_terrain_spark.sources.geotiff import (
        _lzw_decode, _lzw_encode, _packbits_decode, _packbits_encode)

    rng = np.random.RandomState(5)
    for n in (0, 1, 7, 300, 5000, 70000):
        # mixed entropy: runs + noise (exercises table growth + clears)
        data = bytes(rng.choice([0, 0, 0, 1, 2, 255], size=n).astype(np.uint8))
        assert _lzw_decode(_lzw_encode(data)) == data
        assert _packbits_decode(_packbits_encode(data)) == data


def _strip_tags(path, drop):
    """Neutralize IFD entries in place (type 0 is skipped by the
    reader) so every other file offset stays valid."""
    buf = bytearray(open(path, "rb").read())
    (n,) = struct.unpack("<H", buf[8:10])
    for i in range(n):
        e = 10 + 12 * i
        (tag,) = struct.unpack("<H", buf[e : e + 2])
        if tag in drop:
            buf[e + 2 : e + 4] = struct.pack("<H", 0)
    return bytes(buf)


def test_missing_georef_is_loud(tmp_path):
    """A raster with neither pixel-scale+tiepoint nor a transformation
    matrix must raise — not silently default to a unit georef."""
    p = str(tmp_path / "t.tif")
    write_geotiff(_sample_grid(), p)
    stripped = _strip_tags(p, {33550, 33922})
    with pytest.raises(NotImplementedError, match="georeferencing"):
        read_geotiff(stripped)


def test_model_transformation_georef(tmp_path):
    """Axis-aligned ModelTransformation (tag 34264) georef is honored:
    one neutralized slot is rewritten as the transformation entry, with
    the 16-double matrix appended at the end of the file."""
    g = _sample_grid()
    p = str(tmp_path / "t.tif")
    write_geotiff(g, p)
    buf = bytearray(_strip_tags(p, {33550, 33922}))
    mat_off = len(buf)
    sx, sy = g.cellsize, -g.cellsize
    ox, oy = g.xpos, g.ypos + g.z.shape[0] * g.cellsize
    mat = struct.pack("<16d", sx, 0, 0, ox, 0, sy, 0, oy, 0, 0, 0, 0, 0, 0, 0, 1)
    (n,) = struct.unpack("<H", buf[8:10])
    slot = None
    for i in range(n):
        e = 10 + 12 * i
        tag, typ = struct.unpack("<HH", buf[e : e + 4])
        if typ == 0:
            slot = e
            break
    assert slot is not None
    buf[slot : slot + 12] = struct.pack("<HHI", 34264, 12, 16) + struct.pack("<I", mat_off)
    out = bytes(buf) + mat
    r = read_geotiff(out)
    assert r.xpos == g.xpos and abs(r.cellsize - g.cellsize) < 1e-12
    # rotation terms must be rejected
    mat_rot = struct.pack("<16d", sx, 0.1, 0, ox, 0.1, sy, 0, oy, 0, 0, 0, 0, 0, 0, 0, 1)
    out2 = out[:mat_off] + mat_rot
    with pytest.raises(NotImplementedError, match="Model[Tt]ransformation"):
        read_geotiff(out2)


def test_spark_raster_to_tin(tmp_path):
    """End-to-end S1: GeoTIFF files → cells → tile keys → terra TIN —
    the reference's actual dem2tintiles job shape on real raster input."""
    from tin_terrain_spark.operators.meshing import mesh_tiles
    from tin_terrain_spark.session import get_spark
    from tin_terrain_spark.sources.geotiff import assign_tile_keys, geotiff_cells

    spark = get_spark("geotiff_e2e", cores=8)
    # two granules in mercator meters around the origin at zoom-3 scale
    from tin_terrain_spark.functions.geocode_exprs import HALF_CIRCUMFERENCE as HC

    tile_m = 2 * HC / 8  # zoom 3
    cs = tile_m / 32
    rng = np.random.RandomState(11)
    for i in range(2):
        z = (rng.rand(32, 32) * 50).astype(np.float64)
        g = Grid(z, xpos=-HC + i * tile_m, ypos=-HC + 2 * tile_m, cellsize=cs, ndv=-9999.0)
        write_geotiff(g, str(tmp_path / f"granule_{i}.tif"), compress=(i == 1))

    pts = geotiff_cells(spark, str(tmp_path / "*.tif"))
    assert pts.count() == 2 * 32 * 32
    keyed = assign_tile_keys(pts, zoom=3, grid_bits=5)
    tiles = mesh_tiles(keyed, zoom=3, grid_bits=5, method="terra", max_error=2.0)
    rows = tiles.collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["n_vertices"] >= 4 and r["n_faces"] >= 2
        assert r["terrain"] is not None


@pytest.mark.parametrize("compress", [False, "lzw"])
def test_bigtiff_roundtrip(tmp_path, compress):
    """BigTIFF (version 43, 8-byte offsets): write → read roundtrip,
    values and georef identical to the classic layout."""
    g = _sample_grid()
    pb = str(tmp_path / "big.tif")
    pc = str(tmp_path / "classic.tif")
    write_geotiff(g, pb, compress=compress, bigtiff=True)
    write_geotiff(g, pc, compress=compress)
    data = open(pb, "rb").read()
    assert struct.unpack("<H", data[2:4])[0] == 43
    rb = read_geotiff(data)
    rc = read_geotiff(open(pc, "rb").read())
    np.testing.assert_array_equal(rb.z, rc.z)
    np.testing.assert_array_equal(rb.z, g.z)
    assert (rb.xpos, rb.ypos, rb.cellsize, rb.ndv) == (
        rc.xpos, rc.ypos, rc.cellsize, rc.ndv)


def test_bigtiff_bad_offset_size_rejected(tmp_path):
    g = _sample_grid()
    p = str(tmp_path / "big.tif")
    write_geotiff(g, p, bigtiff=True)
    data = bytearray(open(p, "rb").read())
    data[4:6] = struct.pack("<H", 4)  # invalid offset size
    with pytest.raises(NotImplementedError):
        read_geotiff(bytes(data))


def _pack_classic_tiff(entries, strips, bo="<"):
    """Minimal classic-TIFF packer for fixture bytes (little-endian)."""
    entries = sorted(entries, key=lambda e: e[0])
    n = len(entries)
    overflow_off = 8 + 2 + 12 * n + 4
    fmts = {3: "H", 4: "I", 7: "B", 12: "d"}
    over_bytes = sum(
        struct.calcsize(fmts[t]) * c
        for _, t, c, _ in entries
        if struct.calcsize(fmts[t]) * c > 4
    )
    data_off = overflow_off + over_bytes
    offsets = []
    o = data_off
    for s in strips:
        offsets.append(o)
        o += len(s)
    overflow = b""
    body = b""
    for tag, typ, cnt, vals in entries:
        if vals is None:
            vals = tuple(offsets)
        raw = struct.pack(bo + fmts[typ] * cnt, *vals)
        if len(raw) <= 4:
            body += struct.pack(bo + "HHI", tag, typ, cnt) + raw.ljust(4, b"\x00")
        else:
            body += struct.pack(bo + "HHI", tag, typ, cnt) + struct.pack(
                bo + "I", overflow_off + len(overflow)
            )
            overflow += raw
    out = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, 8)
    out += struct.pack(bo + "H", n) + body + struct.pack(bo + "I", 0)
    out += overflow + b"".join(strips)
    return out


def test_multiband_chunky_band1_with_predictor():
    """3-band pixel-interleaved int16 with horizontal predictor: the
    predictor differences PER SAMPLE; band 1 must come back exact."""
    h, w, spp = 4, 5, 3
    rng = np.random.RandomState(9)
    bands = (rng.rand(h, w, spp) * 200 - 50).astype(np.int16)
    inter = bands.astype(np.int64)
    diff = np.diff(inter, axis=1, prepend=np.zeros((h, 1, spp), dtype=np.int64))
    strip = diff.astype("<i2").tobytes()
    entries = [
        (256, 4, 1, (w,)), (257, 4, 1, (h,)), (258, 3, spp, (16,) * spp),
        (259, 3, 1, (1,)), (262, 3, 1, (1,)), (277, 3, 1, (spp,)),
        (278, 4, 1, (h,)), (284, 3, 1, (1,)), (317, 3, 1, (2,)),
        (339, 3, spp, (2,) * spp),
        (273, 4, 1, None), (279, 4, 1, (len(strip),)),
        (33550, 12, 3, (1.0, 1.0, 0.0)),
        (33922, 12, 6, (0.0, 0.0, 0.0, 0.0, float(h), 0.0)),
    ]
    g = read_geotiff(_pack_classic_tiff(entries, [strip]))
    np.testing.assert_array_equal(g.z, bands[:, :, 0].astype(np.float64))


def test_multiband_planar_band1():
    """2-band planar (PlanarConfiguration=2) float32: band 1's strips
    come first; band 2's strips must be ignored."""
    h, w = 3, 4
    b1 = np.arange(h * w, dtype=np.float32).reshape(h, w) * 1.5
    b2 = -np.ones((h, w), dtype=np.float32)
    strips = [b1.astype("<f4").tobytes(), b2.astype("<f4").tobytes()]
    entries = [
        (256, 4, 1, (w,)), (257, 4, 1, (h,)), (258, 3, 2, (32, 32)),
        (259, 3, 1, (1,)), (262, 3, 1, (1,)), (277, 3, 1, (2,)),
        (278, 4, 1, (h,)), (284, 3, 1, (2,)), (339, 3, 2, (3, 3)),
        (273, 4, 2, None), (279, 4, 2, tuple(len(s) for s in strips)),
        (33550, 12, 3, (1.0, 1.0, 0.0)),
        (33922, 12, 6, (0.0, 0.0, 0.0, 0.0, float(h), 0.0)),
    ]
    g = read_geotiff(_pack_classic_tiff(entries, strips))
    np.testing.assert_array_equal(g.z, b1.astype(np.float64))


def test_predictor3_requires_compression(tmp_path):
    """Tag 317 is a codec parameter: GDAL/libtiff ignore it on
    uncompressed strips, so predictor=3 + compress=False would write a
    file only this repo can read back. The writer must refuse."""
    import pytest

    g = _sample_grid()
    with pytest.raises(ValueError, match="predictor=3 requires compression"):
        write_geotiff(g, str(tmp_path / "bad.tif"), compress=False, predictor=3)


# ---------------------------------------------------------------------------
# New-style JPEG compression (tag 7) — TIFF Technical Note 2
# ---------------------------------------------------------------------------

def _split_jpeg_tables(data: bytes):
    """Split a standalone baseline JPEG into (JPEGTables stream,
    abbreviated image stream) per TTN2: DQT/DHT segments move to a
    `SOI tables EOI` stream; everything else (SOF, DRI, SOS + entropy
    data) stays in the per-block stream."""
    pos = 2
    tables = b""
    rest = b""
    while True:
        assert data[pos] == 0xFF
        marker = data[pos + 1]
        if marker == 0xDA:  # SOS: scan data runs to EOI
            rest += data[pos:]
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos : pos + 2 + seglen]
        if marker in (0xDB, 0xC4):
            tables += seg
        else:
            rest += seg
        pos += 2 + seglen
    return b"\xff\xd8" + tables + b"\xff\xd9", b"\xff\xd8" + rest


def _smooth(h, w):
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    return (120 + 60 * np.sin(xx / 9.0) * np.cos(yy / 7.0)).astype(np.uint8)


def test_jpeg_compressed_strips_standalone():
    """Compression 7, grayscale, each strip a standalone JPEG: the
    reader must reproduce the codec's own decode exactly."""
    from tin_terrain_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    h, w, rps = 21, 30, 8
    z = _smooth(h, w)
    strips = []
    for r0 in range(0, h, rps):
        strips.append(encode_jpeg(z[r0 : r0 + rps], quality=95))
    entries = [
        (256, 4, 1, (w,)), (257, 4, 1, (h,)), (258, 3, 1, (8,)),
        (259, 3, 1, (7,)), (262, 3, 1, (1,)), (277, 3, 1, (1,)),
        (278, 4, 1, (rps,)),
        (273, 4, len(strips), None),
        (279, 4, len(strips), tuple(len(s) for s in strips)),
        (33550, 12, 3, (1.0, 1.0, 0.0)),
        (33922, 12, 6, (0.0, 0.0, 0.0, 0.0, float(h), 0.0)),
    ]
    g = read_geotiff(_pack_classic_tiff(entries, strips))
    expect = np.vstack([
        decode_jpeg(s)[:, :, 0] for s in strips
    ]).astype(np.float64)
    np.testing.assert_array_equal(g.z, expect)
    # lossy but close on a smooth field at q95
    assert np.max(np.abs(g.z - z.astype(np.float64))) <= 4.0


def test_jpeg_compressed_strips_shared_jpegtables():
    """Compression 7 with the shared-tables layout: DQT/DHT live once
    in tag 347; per-strip streams are abbreviated. The reader must
    splice and decode identically to the standalone streams."""
    from tin_terrain_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    h, w, rps = 16, 24, 8
    z = _smooth(h, w)
    full = [encode_jpeg(z[r0 : r0 + rps], quality=90) for r0 in range(0, h, rps)]
    tables0, strip0 = _split_jpeg_tables(full[0])
    tables1, strip1 = _split_jpeg_tables(full[1])
    assert tables0 == tables1  # same quality -> identical shared tables
    strips = [strip0, strip1]
    entries = [
        (256, 4, 1, (w,)), (257, 4, 1, (h,)), (258, 3, 1, (8,)),
        (259, 3, 1, (7,)), (262, 3, 1, (1,)), (277, 3, 1, (1,)),
        (278, 4, 1, (rps,)),
        (273, 4, 2, None), (279, 4, 2, tuple(len(s) for s in strips)),
        (347, 7, len(tables0), tuple(tables0)),
        (33550, 12, 3, (1.0, 1.0, 0.0)),
        (33922, 12, 6, (0.0, 0.0, 0.0, 0.0, float(h), 0.0)),
    ]
    g = read_geotiff(_pack_classic_tiff(entries, strips))
    expect = np.vstack([decode_jpeg(s)[:, :, 0] for s in full]).astype(np.float64)
    np.testing.assert_array_equal(g.z, expect)


def test_jpeg_compressed_tiles_ycbcr_band1():
    """Compression 7, tiled, 3-channel YCbCr 4:2:0 (photometric 6):
    band 1 must equal the R channel of the codec's own decode, with
    edge-tile padding cropped."""
    from tin_terrain_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    h, w, ts = 24, 28, 16
    rng = np.random.RandomState(7)
    base = _smooth(h, w).astype(np.float64)
    rgb = np.stack(
        [base, np.roll(base, 3, axis=1), 255 - base], axis=2
    ).astype(np.uint8)
    tiles, dec = [], {}
    for ty in range(2):
        for tx in range(2):
            block = np.zeros((ts, ts, 3), dtype=np.uint8)
            r0, c0 = ty * ts, tx * ts
            rr, cc = min(ts, h - r0), min(ts, w - c0)
            block[:rr, :cc] = rgb[r0 : r0 + rr, c0 : c0 + cc]
            enc = encode_jpeg(block, quality=92, subsample="420")
            tiles.append(enc)
            dec[(ty, tx)] = decode_jpeg(enc)[:, :, 0]
    entries = [
        (256, 4, 1, (w,)), (257, 4, 1, (h,)),
        (258, 3, 3, (8, 8, 8)),
        (259, 3, 1, (7,)), (262, 3, 1, (6,)), (277, 3, 1, (3,)),
        (322, 4, 1, (ts,)), (323, 4, 1, (ts,)),
        (324, 4, 4, None), (325, 4, 4, tuple(len(t) for t in tiles)),
        (33550, 12, 3, (1.0, 1.0, 0.0)),
        (33922, 12, 6, (0.0, 0.0, 0.0, 0.0, float(h), 0.0)),
    ]
    g = read_geotiff(_pack_classic_tiff(entries, tiles))
    expect = np.zeros((h, w), dtype=np.float64)
    for (ty, tx), blk in dec.items():
        r0, c0 = ty * ts, tx * ts
        rr, cc = min(ts, h - r0), min(ts, w - c0)
        expect[r0 : r0 + rr, c0 : c0 + cc] = blk[:rr, :cc]
    np.testing.assert_array_equal(g.z, expect)
