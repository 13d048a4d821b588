"""Raster grid kernels (dense 2-D ndarray + georef metadata).

The raster model mirrors the reference's Raster<double>
(/root/reference/include/tntn/Raster.h:55-548): row-major top-left
origin ndarray `z[h, w]`, with georeferencing (xpos, ypos = world coords
of the LOWER-LEFT corner, square cellsize, no-data sentinel). Pixel
centers: col2x(c) = xpos + (c+0.5)*cs, row2y(r) = ypos + (h-1-r+0.5)*cs
(Raster.h:419,457-461).

Kernels:
  integer_downsample_mean   src/raster_tools.cpp:15-60  (incl. the
                            `sum>0`-guard quirk: a window whose valid
                            sum is <= 0 keeps the no-data value)
  sample_nearest_valid_avg  src/raster_tools.cpp:274-427 (expanding
                            Bresenham circles of 3x3 weighted samples)
  repair_corners            src/TerraUtils.cpp:8-22 (the mesh kernels'
                            corner repair)
  raster_bbox               Raster.h:301-312 (bbox spans pixel CENTERS)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

MAX_AVERAGING_SAMPLES = 64  # raster_tools.cpp:335


def is_no_data(z, ndv):
    """isnan(v) || v == ndv (Raster.h:520-523, TerraUtils.h:84-87)."""
    return np.isnan(z) | (z == ndv)


@dataclass
class Grid:
    """ndarray + georef: the in-kernel raster representation.

    `z` is held as a C-contiguous float64 array, the one raster type the
    reference meshes (RasterDouble, Raster.h:550): any other dtype or
    layout is converted on construction, and a float64 C array is kept
    as the same object, so in-place corner repair reaches the caller's
    array."""

    z: np.ndarray  # (h, w) float64, top-left origin, row-major
    xpos: float = 0.0  # world x of lower-left corner
    ypos: float = 0.0  # world y of lower-left corner
    cellsize: float = 1.0
    ndv: float = np.nan

    def __post_init__(self):
        self.z = np.ascontiguousarray(self.z, dtype=np.float64)

    @property
    def h(self) -> int:
        return self.z.shape[0]

    @property
    def w(self) -> int:
        return self.z.shape[1]

    def col2x(self, c):
        return self.xpos + (np.asarray(c, dtype=np.float64) + 0.5) * self.cellsize

    def row2y(self, r):
        """top-left row index → world y (Raster.h:457-461)."""
        return self.ypos + (self.h - 1 - np.asarray(r, dtype=np.float64) + 0.5) * self.cellsize

    def x2col(self, x):
        """Round to nearest with C `(int)(0.5 + v)` truncation semantics
        (Raster.h:421-431)."""
        v = 0.5 + (np.asarray(x, dtype=np.float64) - self.xpos - 0.5 * self.cellsize) / self.cellsize
        return np.trunc(v).astype(np.int64)

    def y2row(self, y):
        """→ top-left row index (Raster.h:433-449)."""
        v = 0.5 + (np.asarray(y, dtype=np.float64) - self.ypos - 0.5 * self.cellsize) / self.cellsize
        r_ll = np.trunc(v).astype(np.int64)
        return self.h - 1 - r_ll

    def bbox(self):
        """Bounding box over pixel CENTERS — width = (w-1)*cs
        (Raster.h:301-312)."""
        return (
            self.col2x(0),
            self.row2y(self.h - 1),
            self.col2x(self.w - 1),
            self.row2y(0),
        )


def integer_downsample_mean(grid: Grid, win: int) -> Grid:
    """Mean over win×win windows of valid pixels; destination keeps ndv
    when the window has no valid pixels OR their sum is <= 0 (the
    reference's quirk, raster_tools.cpp:50-55). ndv test here is
    `!= ndv` without isnan, matching the reference (:44).

    Kept without a shipped caller: the reference's downsample port,
    pinned by tests/test_kernels_terra.py (test_downsample_mean_golden,
    test_downsample_sum_negative_quirk)."""
    h, w = grid.z.shape
    hs, ws = h // win, w // win
    src = grid.z[: hs * win, : ws * win]
    blocks = src.reshape(hs, win, ws, win)
    valid = blocks != grid.ndv  # NaN != ndv: NaN counts as valid, as in the reference
    count = valid.sum(axis=(1, 3))
    s = np.where(valid, blocks, 0.0).sum(axis=(1, 3))
    out = np.full((hs, ws), grid.ndv, dtype=np.float64)
    write = (count > 0) & (s > 0)
    out[write] = s[write] / count[write]
    return Grid(out, grid.xpos, grid.ypos, grid.cellsize * win, grid.ndv)


def _subsample_3x3_full(z: np.ndarray, ndv: float) -> np.ndarray:
    """Vectorized weighted 3x3 subsample: center×3, cross-avg×2,
    diag-avg×1, NaN-aware (raster_tools.cpp:274-323). Computed for every
    center in [-1, h] × [-1, w] (the reference evaluates subsamples at
    centers one ring OUTSIDE the raster, whose windows still touch valid
    pixels) — returned as an (h+2, w+2) plane with +1 index offset.
    Computing the whole plane once turns the Bresenham search into
    array lookups (same values as the reference's per-pixel calls)."""
    h, w = z.shape
    zz = np.where(z == ndv, np.nan, z)
    # pad by 2 so every center in [-1, h] has a full 3x3 window
    pad = np.full((h + 4, w + 4), np.nan)
    pad[2 : h + 2, 2 : w + 2] = zz
    hh, ww = h + 2, w + 2  # output dims (centers -1..h / -1..w)

    center = pad[1 : hh + 1, 1 : ww + 1]
    cross = np.stack(
        [
            pad[0:hh, 1 : ww + 1],  # top
            pad[1 : hh + 1, 0:ww],  # left
            pad[1 : hh + 1, 2 : ww + 2],  # right
            pad[2 : hh + 2, 1 : ww + 1],  # bottom
        ]
    )
    diag = np.stack(
        [
            pad[0:hh, 0:ww],
            pad[0:hh, 2 : ww + 2],
            pad[2 : hh + 2, 0:ww],
            pad[2 : hh + 2, 2 : ww + 2],
        ]
    )
    with np.errstate(invalid="ignore"):
        cross_cnt = (~np.isnan(cross)).sum(axis=0)
        cross_avg = np.where(cross_cnt > 0, np.nansum(cross, axis=0) / np.maximum(cross_cnt, 1), np.nan)
        diag_cnt = (~np.isnan(diag)).sum(axis=0)
        diag_avg = np.where(diag_cnt > 0, np.nansum(diag, axis=0) / np.maximum(diag_cnt, 1), np.nan)

        stack = np.stack([center, center, center, cross_avg, cross_avg, diag_avg])
        cnt = (~np.isnan(stack)).sum(axis=0)
        out = np.where(cnt > 0, np.nansum(stack, axis=0) / np.maximum(cnt, 1), np.nan)
    return out


def sample_nearest_valid_avg(grid: Grid, row: int, col: int) -> float:
    """Expanding Bresenham-circle search for valid samples
    (raster_tools.cpp:343-427): the average of the first circle that
    holds any. Returns NaN when nothing valid exists."""
    z = grid.z
    ndv = grid.ndv
    h, w = z.shape
    if 0 <= row < h and 0 <= col < w:
        v = z[row, col]
        if not (np.isnan(v) or v == ndv):
            return float(v)

    subsampled = _subsample_3x3_full(z, ndv)

    samples: list[float] = []

    max_radius = int(np.sqrt(w * w + h * h))
    radius = 2
    while radius <= max_radius and not samples:
        offs = _circle_offsets(radius)  # (n, 2) int arrays in putpixel order
        rr = row + offs[:, 1] + 1  # +1: subsample plane covers -1..h
        cc = col + offs[:, 0] + 1
        ok = (rr >= 0) & (rr < h + 2) & (cc >= 0) & (cc < w + 2)
        vals = np.full(len(offs), np.nan)
        vals[ok] = subsampled[rr[ok], cc[ok]]
        good = ~(np.isnan(vals) | (vals == ndv))
        for v in vals[good]:
            if len(samples) >= MAX_AVERAGING_SAMPLES:
                break
            samples.append(float(v))
        radius += 1

    if not samples:
        return np.nan
    if len(samples) == 1:
        return samples[0]
    return float(sum(samples) / len(samples))


def repair_corners(grid: Grid) -> None:
    """TerraUtils corner repair (TerraUtils.cpp:8-22), in place: each
    corner in the reference's order (top-left, bottom-left,
    bottom-right, top-right) becomes its nearest-valid average, 0.0
    when no valid sample exists. Each search reads the live raster, so
    a later corner can see an earlier corner's repair."""
    h, w = grid.z.shape
    for row, col in ((0, 0), (h - 1, 0), (h - 1, w - 1), (0, w - 1)):
        v = sample_nearest_valid_avg(grid, row, col)
        grid.z[row, col] = 0.0 if np.isnan(v) or v == grid.ndv else v


_CIRCLE_CACHE: dict = {}


def _circle_offsets(radius: int) -> np.ndarray:
    """Bresenham-circle (x, y) offsets in the reference's exact putpixel
    order (raster_tools.cpp:389-420), cached per radius."""
    hit = _CIRCLE_CACHE.get(radius)
    if hit is not None:
        return hit
    out = []
    x, y = radius - 1, 0
    dx = dy = 1
    err = dx - (radius // 2)
    while x >= y:
        out.extend(
            [(x, y), (y, x), (-y, x), (-x, y), (-x, -y), (-y, -x), (y, -x), (x, -y)]
        )
        if err <= 0:
            y += 1
            err += dy
            dy += 2
        else:
            x -= 1
            dx += 2
            err += dx - (radius // 2)
    arr = np.asarray(out, dtype=np.int64)
    _CIRCLE_CACHE[radius] = arr
    return arr


def nearest_valid_avg_batch(
    grid: Grid, rows: np.ndarray, cols: np.ndarray
) -> np.ndarray:
    """Vectorized sample_nearest_valid_avg for MANY cells of one grid:
    identical per-cell results (same circle order, same 64-sample cap),
    but the radius loop advances all unresolved cells simultaneously.
    Used by the dense mesher where hundreds of sampled vertices can be
    no-data on sparse web-point tiles."""
    z = grid.z
    ndv = grid.ndv
    h, w = z.shape
    n = len(rows)
    out = np.full(n, np.nan)

    direct = z[rows, cols]
    ok = ~(np.isnan(direct) | (direct == ndv))
    out[ok] = direct[ok]
    todo = np.nonzero(~ok)[0]
    if not len(todo):
        return out

    plane = _subsample_3x3_full(z, ndv)
    sums = np.zeros(len(todo))
    counts = np.zeros(len(todo), dtype=np.int64)

    max_radius = int(np.sqrt(w * w + h * h))
    active = np.arange(len(todo))
    for radius in range(2, max_radius + 1):
        if not len(active):
            break
        offs = _circle_offsets(radius)  # (m, 2) in putpixel order
        rr = rows[todo[active], None] + offs[None, :, 1] + 1
        cc = cols[todo[active], None] + offs[None, :, 0] + 1
        inb = (rr >= 0) & (rr < h + 2) & (cc >= 0) & (cc < w + 2)
        vals = np.full(rr.shape, np.nan)
        vals[inb] = plane[rr[inb], cc[inb]]
        good = ~(np.isnan(vals) | (vals == ndv))
        # 64-sample cap in circle order: zero out samples beyond the cap
        room = MAX_AVERAGING_SAMPLES - counts[active]
        order_idx = np.cumsum(good, axis=1)  # 1-based rank per sample
        good &= order_idx <= room[:, None]
        sums[active] += np.where(good, vals, 0.0).sum(axis=1)
        counts[active] += good.sum(axis=1)
        active = active[counts[active] == 0]

    has = counts > 0
    res = np.full(len(todo), np.nan)
    res[has] = sums[has] / counts[has]
    out[todo] = res
    return out
