"""Cesium quantized-mesh-1.0 tile codec, vectorized NumPy.

Re-implements the encoding semantics of the reference
(/root/reference/src/QuantizedMeshIO.cpp):

  - zig-zag int16 codec                       QuantizedMeshIO.cpp:96-104
  - coordinate scale/quantize to 0..32767     QuantizedMeshIO.cpp:110-144
  - high-watermark face index encoding        QuantizedMeshIO.cpp:183-233
  - 16→32-bit index switch at >65536 verts    QuantizedMeshIO.cpp:482-497
  - west/south/east/north edge-vertex lists   QuantizedMeshIO.cpp:423-439
  - 2/4-byte alignment padding with 0xCA      QuantizedMeshIO.cpp:146-158
  - 88-byte header (center ECEF, min/max h,
    bounding sphere, horizon occlusion)       QuantizedMeshIO.cpp:283-356

ECEF: the reference shells out to GDAL (EPSG:3857→4978,
QuantizedMeshIO.cpp:301-318); here we apply the equivalent public
formulas directly (inverse spherical Mercator → WGS84 geodetic→geocentric),
so values agree with the reference up to the datum-library's rounding.

Everything here is deterministic pure NumPy; delta streams are inverted
with ``np.cumsum`` on decode.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

from .mercator import meters_to_lonlat

QUANTIZED_COORDINATE_SIZE = 32767  # QuantizedMeshIO.cpp:110
_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_WGS84_E2 = _WGS84_F * (2.0 - _WGS84_F)


def zig_zag_encode(i):
    """int16 → uint16 (QuantizedMeshIO.cpp:96-99). Vectorized."""
    i = np.asarray(i, dtype=np.int16)
    return ((i >> 15) ^ (i << 1)).astype(np.uint16)


def zig_zag_decode(i):
    """uint16 → int16 (QuantizedMeshIO.cpp:101-104). Vectorized."""
    i = np.asarray(i, dtype=np.uint16)
    return ((i >> 1).astype(np.int16)) ^ (-(i & 1).astype(np.int16))


def scale_coordinate(v):
    """[0,1] double → 0..32767 int (QuantizedMeshIO.cpp:112-117).
    Truncation (C cast), not rounding."""
    return (np.asarray(v, dtype=np.float64) * QUANTIZED_COORDINATE_SIZE).astype(np.int64)


def unscale_coordinate(v):
    return np.asarray(v, dtype=np.float64) / QUANTIZED_COORDINATE_SIZE


def quantize_coordinate(v, vmin, vmax):
    """QuantizedMeshIO.cpp:124-132 — min/max-normalized then scaled."""
    delta = vmax - vmin
    return scale_coordinate((np.asarray(v, dtype=np.float64) - vmin) / delta)


def dequantize_coordinate(q, vmin, vmax):
    return vmin + unscale_coordinate(q) * (vmax - vmin)


def high_watermark_encode(indices: np.ndarray) -> np.ndarray:
    """Flat triangle-index stream → watermark deltas
    (QuantizedMeshIO.cpp:199-220). Sequential reference loop.

    Kept without a shipped caller: the oracle for the vectorized
    first-seen fast path (tests/test_kernels_codec.py,
    test_watermark_first_seen_fast_path_matches_loop)."""
    out = np.empty(len(indices), dtype=np.int64)
    watermark = 0
    for n, index in enumerate(indices):
        out[n] = watermark - index
        if index == watermark:
            watermark += 1
    return out


def _watermark_encode_first_seen(indices: np.ndarray) -> np.ndarray:
    """high_watermark_encode for a FIRST-SEEN index stream (the output
    of _first_seen_vertex_order): value v first appears only after all
    of 0..v-1 have appeared, so the running watermark before position n
    is exactly max(indices[:n]) + 1 (0 for n=0) — one vectorized
    maximum.accumulate instead of a Python loop. Asserted equal to the
    loop in tests."""
    n = len(indices)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    wm = np.empty(n, dtype=np.int64)
    wm[0] = 0
    np.maximum.accumulate(indices[:-1], out=wm[1:])
    wm[1:] += 1
    return wm - indices


def high_watermark_decode(deltas: np.ndarray) -> np.ndarray:
    out = np.empty(len(deltas), dtype=np.int64)
    watermark = 0
    for n, delta in enumerate(deltas):
        index = watermark - delta
        out[n] = index
        if index == watermark:
            watermark += 1
    return out


def mercator_to_ecef(x, y, z):
    """EPSG:3857 → EPSG:4978 geocentric (public WGS84 formulas;
    reference uses GDAL for the same transform, QuantizedMeshIO.cpp:301-318)."""
    lon, lat = meters_to_lonlat(x, y)
    lam = np.radians(lon)
    phi = np.radians(lat)
    sin_phi = np.sin(phi)
    n = _WGS84_A / np.sqrt(1.0 - _WGS84_E2 * sin_phi * sin_phi)
    ex = (n + z) * np.cos(phi) * np.cos(lam)
    ey = (n + z) * np.cos(phi) * np.sin(lam)
    ez = (n * (1.0 - _WGS84_E2) + z) * sin_phi
    return ex, ey, ez


def _row_unique3(a: np.ndarray):
    """`np.unique(a, axis=0, return_index=True, return_inverse=True)`
    for an (n, 3) float array of FINITE values, via one lexsort instead
    of numpy's structured-dtype sort (~3x faster at mesh-tile sizes;
    asserted equal to np.unique in tests). return_index is the first
    occurrence in `a`, as np.unique guarantees."""
    order = np.lexsort((a[:, 2], a[:, 1], a[:, 0]))
    s = a[order]
    neq = np.empty(len(a), dtype=bool)
    neq[0] = True
    np.any(s[1:] != s[:-1], axis=1, out=neq[1:])
    group = np.cumsum(neq) - 1
    first = np.minimum.reduceat(order, np.nonzero(neq)[0])
    inverse = np.empty(len(a), dtype=np.intp)
    inverse[order] = group
    return s[neq], first, inverse


def _first_seen_vertex_order(tri_xyz: np.ndarray):
    """Dedup soup vertices in first-seen triangle-stream order
    (VertexOrdering fill loop, QuantizedMeshIO.cpp:388-404).

    tri_xyz: (n_tri*3, 3) float64 — vertices in triangle-stream order.
    Returns (unique_xyz (m,3), stream_index (n_tri*3,) into unique)."""
    # sorted-unique, then rebuild first-seen order from the inverse map
    _, first_pos, inverse = _row_unique3(tri_xyz)
    # rank unique rows by first occurrence in the stream
    order = np.argsort(first_pos, kind="stable")
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    stream_index = rank[inverse]
    unique_xyz = tri_xyz[np.sort(first_pos)]
    return unique_xyz, stream_index


QM_HEADER_BYTES = 88


def _pack_qm_header(buf, bbox_min: tuple, bbox_max: tuple) -> None:
    """Write the 88-byte header (QuantizedMeshIO.cpp:336-356) into the
    first bytes of `buf`: ECEF centre, min/max height, bounding sphere
    and horizon-occlusion point. encode_qm_tile and the native tile
    encoder (native.tile_qm_native) share it."""
    cx = (bbox_min[0] + bbox_max[0]) / 2.0
    cy = (bbox_min[1] + bbox_max[1]) / 2.0
    cz = (bbox_min[2] + bbox_max[2]) / 2.0
    ex, ey, ez = mercator_to_ecef(cx, cy, cz)
    ex, ey, ez = float(ex), float(ey), float(ez)
    radius = float(np.hypot(bbox_max[0] - bbox_min[0], bbox_max[1] - bbox_min[1]))
    # horizon occlusion = center at bbox max z (QuantizedMeshIO.cpp:352-355)
    struct.pack_into("<3d2f4d3d", buf, 0, ex, ey, ez, bbox_min[2], bbox_max[2],
                     ex, ey, ez, radius, ex, ey, float(bbox_max[2]))


@dataclass
class QMTile:
    """Decoded quantized-mesh tile."""

    center: tuple
    min_height: float
    max_height: float
    sphere_center: tuple
    sphere_radius: float
    horizon_occlusion: tuple
    u: np.ndarray  # int64 0..32767
    v: np.ndarray
    h: np.ndarray
    faces: np.ndarray  # (n_tri, 3) int64
    west: np.ndarray
    south: np.ndarray
    east: np.ndarray
    north: np.ndarray


def encode_qm_tile(
    triangles: np.ndarray,
    bbox_min: tuple,
    bbox_max: tuple,
    mesh_is_rescaled: bool = False,
    vertex_order: tuple | None = None,
) -> bytes:
    """Encode a triangle soup into a quantized-mesh-1.0 blob.

    triangles: (n_tri, 3, 3) float64 — mirrors write_mesh_as_qm
    (QuantizedMeshIO.cpp:320-507). bbox is the tile-space BBox3D.
    vertex_order: optional precomputed _first_seen_vertex_order(
    triangles.reshape(-1, 3)) — callers that already dedup the soup
    (the mesh-tile kernel needs n_vertices anyway) pass it to avoid a
    second row-unique.
    Raises ValueError on a non-finite vertex or bound: NaN would
    otherwise quantize to garbage heights behind a NaN header.
    """
    tri_stream = triangles.reshape(-1, 3).astype(np.float64)
    if vertex_order is not None:
        verts, stream_idx = vertex_order
    elif len(tri_stream):
        verts, stream_idx = _first_seen_vertex_order(tri_stream)
    else:
        verts = np.zeros((0, 3), dtype=np.float64)
        stream_idx = np.zeros(0, dtype=np.int64)
    if not (np.isfinite(verts).all()
            and all(map(math.isfinite, (*bbox_min, *bbox_max)))):
        raise ValueError("encode_qm_tile: non-finite vertex or bound")

    if mesh_is_rescaled:
        u = scale_coordinate(verts[:, 0]) if len(verts) else np.zeros(0, np.int64)
        v = scale_coordinate(verts[:, 1]) if len(verts) else np.zeros(0, np.int64)
        h = scale_coordinate(verts[:, 2]) if len(verts) else np.zeros(0, np.int64)
    else:
        u = quantize_coordinate(verts[:, 0], bbox_min[0], bbox_max[0]) if len(verts) else np.zeros(0, np.int64)
        v = quantize_coordinate(verts[:, 1], bbox_min[1], bbox_max[1]) if len(verts) else np.zeros(0, np.int64)
        h = (
            quantize_coordinate(verts[:, 2], bbox_min[2], bbox_max[2])
            if len(verts) and bbox_max[2] > bbox_min[2]
            else np.zeros(len(verts), np.int64)
        )

    nvertices = len(verts)

    buf = bytearray(QM_HEADER_BYTES)
    _pack_qm_header(buf, bbox_min, bbox_max)

    # vertex data: zig-zag deltas of u, v, h streams (QuantizedMeshIO.cpp:441-476)
    buf += struct.pack("<I", nvertices)
    for arr in (u, v, h):
        deltas = np.diff(arr, prepend=0).astype(np.int16)
        buf += zig_zag_encode(deltas).tobytes()

    # faces: watermark encoding, 16 or 32-bit (QuantizedMeshIO.cpp:482-497)
    idx_dtype = np.uint16 if nvertices <= 65536 else np.uint32
    alignment = 2 if idx_dtype is np.uint16 else 4
    pad = (-len(buf)) % alignment
    buf += b"\xca" * pad  # add_alignment (QuantizedMeshIO.cpp:146-158)

    ntriangles = len(triangles)
    buf += struct.pack("<I", ntriangles)
    if ntriangles:
        wm = _watermark_encode_first_seen(np.asarray(stream_idx, dtype=np.int64))
        buf += wm.astype(idx_dtype).tobytes()

    # edge-vertex lists, order west/south/east/north (QuantizedMeshIO.cpp:496-501)
    west = np.nonzero(u == 0)[0]
    east = np.nonzero(u == QUANTIZED_COORDINATE_SIZE)[0]
    north = np.nonzero(v == 0)[0]
    south = np.nonzero(v == QUANTIZED_COORDINATE_SIZE)[0]
    for edge in (west, south, east, north):
        buf += struct.pack("<I", len(edge))
        buf += edge.astype(idx_dtype).tobytes()

    return bytes(buf)


def decode_qm_tile(blob: bytes) -> QMTile:
    """Decode a quantized-mesh-1.0 blob (load_mesh_from_qm,
    QuantizedMeshIO.cpp:605-785)."""
    off = 0
    cx, cy, cz = struct.unpack_from("<3d", blob, off)
    off += 24
    min_h, max_h = struct.unpack_from("<2f", blob, off)
    off += 8
    sx, sy, sz, radius = struct.unpack_from("<4d", blob, off)
    off += 32
    hx, hy, hz = struct.unpack_from("<3d", blob, off)
    off += 24

    (nvertices,) = struct.unpack_from("<I", blob, off)
    off += 4
    u = v = h = np.zeros(0, dtype=np.int64)
    streams = []
    for _ in range(3):
        enc = np.frombuffer(blob, dtype="<u2", count=nvertices, offset=off)
        off += 2 * nvertices
        streams.append(np.cumsum(zig_zag_decode(enc).astype(np.int64)))
    u, v, h = streams

    idx_dtype = "<u2" if nvertices <= 65536 else "<u4"
    alignment = 2 if nvertices <= 65536 else 4
    off += (-off) % alignment
    (ntriangles,) = struct.unpack_from("<I", blob, off)
    off += 4
    wm = np.frombuffer(blob, dtype=idx_dtype, count=ntriangles * 3, offset=off).astype(np.int64)
    off += ntriangles * 3 * (2 if alignment == 2 else 4)
    faces = high_watermark_decode(wm).reshape(-1, 3)

    edges = []
    for _ in range(4):
        (n,) = struct.unpack_from("<I", blob, off)
        off += 4
        edges.append(np.frombuffer(blob, dtype=idx_dtype, count=n, offset=off).astype(np.int64))
        off += n * (2 if alignment == 2 else 4)
    west, south, east, north = edges

    return QMTile(
        center=(cx, cy, cz),
        min_height=min_h,
        max_height=max_h,
        sphere_center=(sx, sy, sz),
        sphere_radius=radius,
        horizon_occlusion=(hx, hy, hz),
        u=u,
        v=v,
        h=h,
        faces=faces,
        west=west,
        south=south,
        east=east,
        north=north,
    )
