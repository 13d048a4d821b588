"""Mesh / raster text formats: OBJ, OFF, GeoJSON, ASC, XYZ.

Byte-level formatting mirrors the reference:
  OBJ sink: `v %.18f %.18f %.18f`, `f i j k` 1-based
            (src/MeshIO.cpp:204-252)
  OBJ scan: v/f lines, 1-based → 0-based (src/MeshIO.cpp:39-73)
  OFF sink: header `OFF`, `{nv} {nf} {ne}` with ne = distinct
            canonical edges, `%.18f` verts, `3 i j k` faces
            (src/MeshIO.cpp:326-395, calculate_num_edges :311-324)
  GeoJSON sink: FeatureCollection of Point + LineString features
            (src/MeshIO.cpp:106-202)
  ASC: NCOLS/NROWS/XLLCORNER/YLLCORNER/CELLSIZE/NODATA_VALUE header at
            %.9f + row-major values (src/RasterIO.cpp:33-223)
  XYZ scan: whitespace triples, z clamped to [-10000, 10000]
            (src/SurfacePoints.cpp:29-57)

Python's %.18f fixed formatting matches fmt/printf for doubles, so OBJ
and OFF golden files reproduce byte-identically.
"""

from __future__ import annotations

import json

import numpy as np

from .raster import Grid


def format_obj(verts: np.ndarray, faces: np.ndarray) -> str:
    lines = [f"v {v[0]:.18f} {v[1]:.18f} {v[2]:.18f}\n" for v in verts]
    lines += [f"f {f[0] + 1} {f[1] + 1} {f[2] + 1}\n" for f in faces]
    return "".join(lines)


def parse_obj(text: str):
    """OBJ text -> (verts, faces), zero-based.

    Kept without a shipped caller: reads written OBJ back in
    tests/test_kernels_meshio.py (test_obj_roundtrip) and
    tests/test_dem2tin.py."""
    verts, faces = [], []
    for line in text.splitlines():
        t = line.split()
        if not t:
            continue
        if t[0] == "v" and len(t) >= 4:
            verts.append((float(t[1]), float(t[2]), float(t[3])))
        elif t[0] == "f" and len(t) >= 4:
            faces.append(tuple(int(x.split("/")[0]) - 1 for x in t[1:4]))
    return (
        np.asarray(verts, dtype=np.float64).reshape(-1, 3),
        np.asarray(faces, dtype=np.int64).reshape(-1, 3),
    )


def count_edges(faces: np.ndarray) -> int:
    """Distinct canonical (min,max) edge count (MeshIO.cpp:311-324) —
    the distributed form is select(least,greatest).distinct().count()."""
    if not len(faces):
        return 0
    e = np.concatenate([faces[:, [0, 1]], faces[:, [1, 2]], faces[:, [2, 0]]])
    e = np.sort(e, axis=1)
    return len(np.unique(e, axis=0))


def format_off(verts: np.ndarray, faces: np.ndarray) -> str:
    out = ["OFF\n", f"{len(verts)} {len(faces)} {count_edges(faces)}\n"]
    out += [f"{v[0]:.18f} {v[1]:.18f} {v[2]:.18f}\n" for v in verts]
    out += [f"3 {f[0]} {f[1]} {f[2]}\n" for f in faces]
    return "".join(out)


def parse_off(text: str):
    """OFF text -> (verts, faces).

    Kept without a shipped caller: reads written OFF back in
    tests/test_kernels_meshio.py (test_off_roundtrip_and_edge_count)."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    assert lines[0].strip() == "OFF", "not an OFF file"
    nv, nf, _ = (int(x) for x in lines[1].split()[:3])
    verts = np.asarray(
        [[float(x) for x in lines[2 + i].split()[:3]] for i in range(nv)],
        dtype=np.float64,
    ).reshape(-1, 3)
    faces = np.asarray(
        [[int(x) for x in lines[2 + nv + i].split()[1:4]] for i in range(nf)],
        dtype=np.int64,
    ).reshape(-1, 3)
    return verts, faces


def format_geojson(verts: np.ndarray, faces: np.ndarray) -> str:
    """FeatureCollection of vertex Points and triangle LineStrings
    (MeshIO.cpp:106-202; values via json, not byte-golden)."""
    features = [
        {
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [v[0], v[1], v[2]]},
            "properties": {},
        }
        for v in verts.tolist()
    ]
    for f in faces:
        ring = [verts[f[0]].tolist(), verts[f[1]].tolist(), verts[f[2]].tolist(), verts[f[0]].tolist()]
        features.append(
            {
                "type": "Feature",
                "geometry": {"type": "LineString", "coordinates": ring},
                "properties": {},
            }
        )
    return json.dumps(
        {
            "type": "FeatureCollection",
            "crs": {
                "type": "name",
                "properties": {"name": "urn:ogc:def:crs:OGC:1.3:CRS84"},
            },
            "features": features,
        }
    )


def format_asc(grid: Grid) -> str:
    """Grid -> ESRI ASCII raster text.

    Kept without a shipped caller: writes the ASC inputs of
    tests/test_kernels_meshio.py (test_asc_roundtrip), tests/test_cli.py
    and test_spark_integration's ASC source test."""
    ndv = grid.ndv if not np.isnan(grid.ndv) else -99999.0
    out = [
        f"NCOLS {grid.w}\n",
        f"NROWS {grid.h}\n",
        f"XLLCORNER {grid.xpos:.9f}\n",
        f"YLLCORNER {grid.ypos:.9f}\n",
        f"CELLSIZE {grid.cellsize:.9f}\n",
        f"NODATA_VALUE {ndv:.9f}\n",
    ]
    z = np.where(np.isnan(grid.z), ndv, grid.z)
    for r in range(grid.h):
        out.append(" ".join(f"{v:.9f}" for v in z[r]) + "\n")
    return "".join(out)


def parse_asc(text: str) -> Grid:
    lines = [ln for ln in text.splitlines() if ln.strip()]
    hdr = {}
    data_start = 0
    for i, ln in enumerate(lines):
        t = ln.split()
        if t[0].upper() in ("NCOLS", "NROWS", "XLLCORNER", "XLLCENTER", "YLLCORNER", "YLLCENTER", "CELLSIZE", "NODATA_VALUE"):
            hdr[t[0].upper()] = float(t[1])
        else:
            data_start = i
            break
    w = int(hdr["NCOLS"])
    h = int(hdr["NROWS"])
    z = np.asarray(
        [[float(x) for x in lines[data_start + r].split()] for r in range(h)],
        dtype=np.float64,
    ).reshape(h, w)
    return Grid(
        z,
        xpos=hdr.get("XLLCORNER", hdr.get("XLLCENTER", 0.0)),
        ypos=hdr.get("YLLCORNER", hdr.get("YLLCENTER", 0.0)),
        cellsize=hdr.get("CELLSIZE", 1.0),
        ndv=hdr.get("NODATA_VALUE", -99999.0),
    )


def parse_xyz(text: str) -> np.ndarray:
    """Whitespace triples → (n,3); drops z outside [-10000, 10000]
    (SurfacePoints.cpp:29-57)."""
    pts = []
    for line in text.splitlines():
        t = line.split()
        if len(t) >= 3:
            try:
                x, y, z = float(t[0]), float(t[1]), float(t[2])
            except ValueError:
                continue
            if -10000.0 <= z <= 10000.0:
                pts.append((x, y, z))
    return np.asarray(pts, dtype=np.float64).reshape(-1, 3)
