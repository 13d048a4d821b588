"""Spherical Web-Mercator projection math (EPSG:3857).

Semantics match the reference tin-terrain implementation:
  /root/reference/include/tntn/MercatorProjection.h:7,27-46
  /root/reference/src/MercatorProjection.cpp:11-80

All functions are vectorized over NumPy arrays (scalars also work).
The single behavioral subtlety that golden tile assignment depends on is
the ceil-minus-one tie rule in ``pixels_to_tile`` (reference
src/MercatorProjection.cpp:48-56): a point exactly on a tile's
right/top edge belongs to the lower-index tile.
"""

from __future__ import annotations

import numpy as np

R_EARTH = 6378137.0  # MercatorProjection.h:7
HALF_CIRCUMFERENCE = 20037508.342789243  # MercatorProjection.h:31
TILE_SIZE = 256  # MercatorProjection.cpp:5-9 (default tile size)


def lonlat_to_meters(lon, lat):
    """P1 — forward spherical Mercator (MercatorProjection.cpp:11-18).

    Kept without a shipped caller: SURVEY's P1 port, checked by
    tests/test_kernels_mercator.py."""
    x = np.asarray(lon, dtype=np.float64) * HALF_CIRCUMFERENCE / 180.0
    y = np.log(np.tan(np.pi * 0.25 + np.asarray(lat, dtype=np.float64) * np.pi / 360.0))
    return x, y * R_EARTH


def meters_to_lonlat(mx, my):
    """P2 — inverse spherical Mercator (MercatorProjection.cpp:20-28)."""
    lon = np.asarray(mx, dtype=np.float64) / HALF_CIRCUMFERENCE * 180.0
    lat = (2.0 * np.arctan(np.exp(np.asarray(my, dtype=np.float64) / R_EARTH)) - np.pi * 0.5) * 180.0 / np.pi
    return lon, lat


def resolution(zoom: int, tile_size: int = TILE_SIZE) -> float:
    """meters per pixel at a zoom level (MercatorProjection.cpp:5-9,30-36).

    Kept without a shipped caller: SURVEY's port of the reference
    resolution, checked by tests/test_kernels_mercator.py."""
    return 2.0 * HALF_CIRCUMFERENCE / tile_size / (1 << zoom)


def meters_to_pixels(mx, my, zoom: int, tile_size: int = TILE_SIZE):
    """P3 — meters → global pixel coords (MercatorProjection.cpp:39-47)."""
    inv_res = (1 << zoom) / (2.0 * HALF_CIRCUMFERENCE / tile_size)
    px = (np.asarray(mx, dtype=np.float64) + HALF_CIRCUMFERENCE) * inv_res
    py = (np.asarray(my, dtype=np.float64) + HALF_CIRCUMFERENCE) * inv_res
    return px, py


def pixels_to_meters(px, py, zoom: int, tile_size: int = TILE_SIZE):
    """P3 inverse — global pixels → meters (MercatorProjection.cpp:30-37)."""
    res = 2.0 * HALF_CIRCUMFERENCE / tile_size / (1 << zoom)
    mx = np.asarray(px, dtype=np.float64) * res - HALF_CIRCUMFERENCE
    my = np.asarray(py, dtype=np.float64) * res - HALF_CIRCUMFERENCE
    return mx, my


def pixels_to_tile(px, py, tile_size: int = TILE_SIZE):
    """P4 — pixel → TMS tile index, ceil(p/ts)-1 tie rule
    (MercatorProjection.cpp:48-56)."""
    tx = np.ceil(np.asarray(px, dtype=np.float64) / tile_size) - 1.0
    ty = np.ceil(np.asarray(py, dtype=np.float64) / tile_size) - 1.0
    return tx.astype(np.int64), ty.astype(np.int64)


def meters_to_tile(mx, my, zoom: int, tile_size: int = TILE_SIZE):
    """P5 = P3 ∘ P4 (MercatorProjection.cpp:58-65).

    Kept without a shipped caller: SURVEY's P5 tie-rule port;
    test_spark_integration (test_tile_key_matches_numpy_kernel) checks
    the geocoder's tile keys against it."""
    px, py = meters_to_pixels(mx, my, zoom, tile_size)
    return pixels_to_tile(px, py, tile_size)


def tile_bounds(tx, ty, zoom: int, tile_size: int = TILE_SIZE):
    """P6 — tile → meters bbox (min_x, min_y, max_x, max_y)
    (MercatorProjection.cpp:76-80).

    Kept without a shipped caller: SURVEY's P6 port, checked by
    tests/test_kernels_mercator.py (test_tile_bounds_roundtrip)."""
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    min_x, min_y = pixels_to_meters(tx * tile_size, ty * tile_size, zoom, tile_size)
    max_x, max_y = pixels_to_meters((tx + 1) * tile_size, (ty + 1) * tile_size, zoom, tile_size)
    return min_x, min_y, max_x, max_y


def tile_size_meters(zoom: int) -> float:
    """P7 (MercatorProjection.h:37)."""
    return 2.0 * HALF_CIRCUMFERENCE / (1 << zoom)
