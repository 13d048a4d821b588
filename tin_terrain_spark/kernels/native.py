"""Compile-on-first-use native fast path for the mesh kernels and the
per-tile encoder.

`_native/tinmesh.c` is a direct C translation of this repo's own
Python kernels (delaunay.py / terra.py / zemlya.py, geometry.py's clip,
codec.py's quantized-mesh body) with bit-identical float semantics
(-ffp-contract=off, same expression order, same MT19937(42) walk, same
(-importance, token) heap order). This module builds it with the
system C compiler into a per-user cache directory the first time it's
needed and exposes drop-in replacements. The mesh-tile kernel
(operators/meshing.py:_make_tile_fn) makes one native mesh call and
one native tile call per tile:
  - terra_native / zemlya_native: corner repair (terra), greedy
    insertion AND the to_mesh emission in C — row-major valid
    vertices at pixel-centre world coordinates, faces flipped CCW in
    pixel space — returning fresh (verts, faces) arrays;
  - tile_qm_native: the post-mesh half of a tile in C — unit-tile
    normalize, [0,1]² clip, first-seen vertex order and the
    quantized-mesh body — for every method.

Marshalling: per-array ctypes conversion used to cost more than the C
work itself, so each thread keeps its scratch buffers per raster shape
(used, token, vertex-id, vertex and face outputs; C zeroes what it
reads) and the encoder's output buffer, and passes their raw
addresses. Returned arrays and blobs are copies, never views of the
cache, which holds one small raster shape's buffers per thread.

The 88-byte quantized-mesh header (ECEF centre, bounding sphere,
horizon point) stays NumPy: it depends only on the tile bounds and
zmin/zmax, and its trig runs through NumPy (codec.mercator_to_ecef),
whose sin/cos/atan may differ from libm's in the last ulp.
tile_qm_native packs it with codec._pack_qm_header into the first 88
bytes of the same buffer the C body fills.

Gating: everything degrades to the pure-Python / NumPy kernels —
  - no C compiler / failed compile / failed load  → Python
  - TTS_NO_NATIVE=1 in the environment            → Python
  - capacity overflow inside the C kernel         → Python (per call)
The Python path remains the semantics oracle: tests assert the two
backends produce byte-identical vertices/faces and terrain blobs on
every workload class, and the frozen goldens pin both.

Cluster story: --py-files ships the .c source as package data; each
executor compiles once per node into its local cache (atomic rename —
concurrent tasks race benignly). Nodes without a toolchain silently
run the Python path; results are identical either way.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import subprocess
import tempfile
import threading

import numpy as np

_CFLAGS = ["-O2", "-fPIC", "-shared", "-ffp-contract=off", "-fno-unsafe-math-optimizations"]

_lib = None
_tried = False


def _read_source() -> bytes | None:
    """Read tinmesh.c with pkgutil, which reads it from a package
    directory and from a --py-files zip alike (executors on a real
    cluster load the package from a zip archive)."""
    try:
        return pkgutil.get_data(__package__, "_native/tinmesh.c")
    except OSError:
        return None


def _build_and_load():
    """Compile (cached by source hash) and load the shared library.
    Returns a ctypes CDLL or None."""
    if os.environ.get("TTS_NO_NATIVE"):
        return None
    src_bytes = _read_source()
    if src_bytes is None:
        return None
    tag = hashlib.md5(src_bytes).hexdigest()[:16]
    cache_dir = os.path.join(tempfile.gettempdir(), f"tts_native_{os.getuid()}")
    so_path = os.path.join(cache_dir, f"tinmesh_{tag}.so")
    if not os.path.exists(so_path):
        try:
            os.makedirs(cache_dir, exist_ok=True)
            # materialize the source beside the cache so the compiler can
            # read it even when the package lives inside a zip
            src_path = os.path.join(cache_dir, f"tinmesh_{tag}.c")
            if not os.path.exists(src_path):
                stmp = src_path + f".tmp{os.getpid()}"
                with open(stmp, "wb") as f:
                    f.write(src_bytes)
                os.replace(stmp, src_path)
            for cc in ("cc", "gcc", "clang"):
                tmp = so_path + f".tmp{os.getpid()}"
                try:
                    r = subprocess.run(
                        [cc, *_CFLAGS, "-o", tmp, src_path, "-lm"],
                        capture_output=True, timeout=120,
                    )
                except (OSError, subprocess.TimeoutExpired):
                    continue
                if r.returncode == 0:
                    os.replace(tmp, so_path)  # atomic: concurrent builds race benignly
                    break
                if os.path.exists(tmp):
                    os.unlink(tmp)
            else:
                return None
        except OSError:
            return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        return None

    i64 = ctypes.c_int64
    dbl = ctypes.c_double
    vp = ctypes.c_void_p
    cint = ctypes.c_int
    P = ctypes.POINTER
    # mesh entries: raster, shape, ndv, max_error, georef, then the
    # _Scratch.args tail (used, token, vid, verts, faces, cap, n_verts)
    scratch = [vp, vp, vp, vp, vp, i64, vp]
    lib.tin_terra_mesh.restype = i64
    lib.tin_terra_mesh.argtypes = [
        vp, cint, cint, dbl, dbl, dbl, dbl, dbl, cint, *scratch,
    ]
    lib.tin_zemlya_mesh.restype = i64
    lib.tin_zemlya_mesh.argtypes = [
        vp, vp, cint, cint, cint, dbl, dbl, dbl, dbl, dbl, vp, *scratch,
    ]
    lib.tin_tile_qm.restype = i64
    lib.tin_tile_qm.argtypes = [vp, i64, vp, i64, dbl, dbl, dbl, vp, i64, vp, vp]
    lib.tin_repair_corners.restype = None
    lib.tin_repair_corners.argtypes = [P(dbl), ctypes.c_int, ctypes.c_int, dbl]
    lib.tin_clip01.restype = i64
    lib.tin_clip01.argtypes = [P(dbl), i64, P(dbl), i64]
    return lib


def get_lib():
    global _lib, _tried
    if not _tried:
        _tried = True
        _lib = _build_and_load()
    return _lib


def native_available() -> bool:
    return get_lib() is not None


def _ptr(a, ct):
    return a.ctypes.data_as(ctypes.POINTER(ct))


def _repair_corners(grid) -> None:
    """TerraUtils corner repair against the LIVE raster — identical to
    TerraMesh.repair_point call order. The 3x3-subsample plane is
    computed once and reused across corners, but ONLY while provably
    unchanged: a corner write that alters the raster invalidates it, so
    the values equal the per-call-fresh-plane semantics bit-for-bit
    (a prior repaired corner can land inside a later corner's Bresenham
    search on near-empty rasters)."""
    from .raster import _subsample_3x3_full, sample_nearest_valid_avg

    h, w = grid.z.shape
    plane = None
    for px, py in ((0, 0), (0, h - 1), (w - 1, h - 1), (w - 1, 0)):
        if plane is None:
            plane = _subsample_3x3_full(grid.z, grid.ndv)
        z = sample_nearest_valid_avg(grid, py, px, subsampled=plane)
        old = grid.z[py, px]
        new = 0.0 if (np.isnan(z) or z == grid.ndv) else z
        grid.z[py, px] = new
        # bit-level change check (NaN old and ±0.0 flips both count)
        if not (new == old and np.signbit(new) == np.signbit(old)):
            plane = None


def repair_corners_dispatch(grid) -> None:
    """Corner repair via the C path when available (lazy per-center
    subsample against the live raster — value-identical to the Python
    plane, asserted in tests/test_native_parity.py), else the Python
    plane implementation."""
    lib = get_lib()
    h, w = grid.z.shape
    if lib is not None and grid.z.dtype == np.float64 and grid.z.flags.c_contiguous:
        lib.tin_repair_corners(
            _ptr(grid.z, ctypes.c_double), h, w, float(grid.ndv)
        )
        return
    _repair_corners(grid)


def clip01_native(triangles: np.ndarray):
    """C fast path for clip_triangles_to_01_quadrant: same sequential
    algorithm, same output ORDER (strictly-inside first, then clip
    survivors). Returns the clipped (m, 3, 3) array or None when the
    native library is unavailable / capacity overflowed."""
    lib = get_lib()
    if lib is None:
        return None
    tris = np.ascontiguousarray(triangles, dtype=np.float64)
    n = len(tris)
    cap = 16 * n + 8
    out = np.empty((cap, 3, 3), dtype=np.float64)
    m = lib.tin_clip01(
        _ptr(tris, ctypes.c_double), n, _ptr(out, ctypes.c_double), cap
    )
    if m < 0:
        return None
    return out[:m]


def _snapshot_corners(grid):
    """Bit-exact copies of the 4 corner cells, taken BEFORE
    _repair_corners: corner repair is not idempotent (a repaired corner
    can enter a later corner's nearest-valid search), so a native-path
    failure after repair must hand the pure-Python fallback pristine
    corners or the fallback diverges from the semantics oracle."""
    h, w = grid.z.shape
    return [(py, px, grid.z[py, px].copy())
            for px, py in ((0, 0), (0, h - 1), (w - 1, h - 1), (w - 1, 0))]


def _restore_corners(grid, snap) -> None:
    for py, px, v in snap:
        grid.z[py, px] = v


# scratch buffers are per thread (fresh mesh and encoder buffers cost
# ~15 µs a 36x36 tile on a 4-core x86 host, 5-10 % of the native
# tile); a raster above this many cells gets fresh ones per call
# instead of pinning its buffers in the cache
_local = threading.local()
_CACHE_MAX_CELLS = 1 << 16


class _Scratch:
    """One raster shape's C buffers, and the addresses the mesh entries
    take as their argument tail."""

    def __init__(self, h: int, w: int, cap_faces: int):
        self.key = (h, w, cap_faces)
        n = h * w
        self.used = np.empty(n, dtype=np.uint8)
        self.token = np.empty(n, dtype=np.int64)
        self.vid = np.empty(n, dtype=np.int64)
        self.verts = np.empty((n, 3), dtype=np.float64)
        self.faces = np.empty((cap_faces, 3), dtype=np.int64)
        self.n_verts = np.zeros(1, dtype=np.int64)
        self.args = (self.used.ctypes.data, self.token.ctypes.data,
                     self.vid.ctypes.data, self.verts.ctypes.data,
                     self.faces.ctypes.data, cap_faces, self.n_verts.ctypes.data)

    def mesh(self, nf: int):
        """Fresh copies of the emitted (verts, faces)."""
        return self.verts[: self.n_verts[0]].copy(), self.faces[:nf].copy()


def _scratch(h: int, w: int, cap_faces: int) -> _Scratch:
    """This thread's scratch for the last raster shape it meshed (a
    pyramid meshes one shape throughout)."""
    s = _local.__dict__.get("scratch")
    if s is None or s.key != (h, w, cap_faces):
        s = _Scratch(h, w, cap_faces)
        if h * w <= _CACHE_MAX_CELLS:
            _local.scratch = s
    return s


def terra_native(grid, max_error: float):
    """Native TerraMesh corner repair + greedy_insert + to_mesh in one
    C call. Returns (verts, faces) or None when the native path is
    unavailable / overflowed (the C call then restores the corners it
    repaired)."""
    lib = get_lib()
    if lib is None:
        return None
    h, w = grid.z.shape
    if h < 2 or w < 2:
        return None
    z = grid.z
    repair = z.dtype == np.float64 and z.flags.c_contiguous
    snap = None
    if not repair:
        # other dtypes and layouts repair in place in their own
        # arithmetic (the Python oracle's), then mesh a float64 copy
        snap = _snapshot_corners(grid)
        _repair_corners(grid)
        z = np.ascontiguousarray(grid.z, dtype=np.float64)
    s = _scratch(h, w, 2 * (h * w + 8) + 16)
    nf = lib.tin_terra_mesh(
        z.ctypes.data, h, w, float(grid.ndv), float(max_error),
        float(grid.xpos), float(grid.ypos), float(grid.cellsize), repair,
        *s.args,
    )
    if nf < 0:
        if snap is not None:
            _restore_corners(grid, snap)
        return None
    return s.mesh(nf)


def zemlya_native(grid, max_error: float):
    """Native ZemlyaMesh greedy_insert + to_mesh. Returns (verts,
    faces) or None. Pyramid + per-level insert rasters are precomputed
    in NumPy (they depend only on the raster, not the mesh)."""
    lib = get_lib()
    if lib is None:
        return None
    from .zemlya import ZemlyaMesh

    h, w = grid.z.shape
    if h < 2 or w < 2:
        return None
    zm = ZemlyaMesh(grid)
    zm.build_pyramid()  # pre-repair raster, as in greedy_insert
    corner_snap = _snapshot_corners(grid)
    repair_corners_dispatch(grid)

    result = np.full((h, w), np.nan)
    z = grid.z
    result[0, 0] = z[0, 0]
    result[h - 1, 0] = z[h - 1, 0]
    result[h - 1, w - 1] = z[h - 1, w - 1]
    result[0, w - 1] = z[0, w - 1]

    max_level = zm.max_level
    stack = np.empty((max_level, h, w), dtype=np.float64)
    for level in range(1, max_level + 1):
        zm._update_insert(level)
        stack[level - 1] = zm.insert_r

    zc = np.ascontiguousarray(z, dtype=np.float64)
    s = _scratch(h, w, 2 * (h * w * max_level + 8) + 16)
    nf = lib.tin_zemlya_mesh(
        zc.ctypes.data, stack.ctypes.data, max_level, h, w,
        float(grid.ndv), float(max_error), float(grid.xpos),
        float(grid.ypos), float(grid.cellsize), result.ctypes.data, *s.args,
    )
    if nf < 0:
        _restore_corners(grid, corner_snap)  # see terra_native
        return None
    return s.mesh(nf)


def _tile_buffers(cap: int = 0):
    """This thread's encoder output buffer, at least `cap` bytes, with
    its (n_vertices, n_faces, mixed-zero flag) and (zmin, zmax) result
    slots and their addresses. A buffer above 1 MiB serves one call and
    is not kept."""
    t = _local.__dict__.get("tile")
    if t is None or len(t[0]) < cap:
        buf = np.empty(max(cap, 1 << 16), dtype=np.uint8)
        counts = np.zeros(3, dtype=np.int64)
        zrange = np.zeros(2, dtype=np.float64)
        t = (buf, counts, zrange, buf.ctypes.data, counts.ctypes.data,
             zrange.ctypes.data)
        if len(buf) <= 1 << 20:
            _local.tile = t
    return t


def tile_qm_native(verts: np.ndarray, faces: np.ndarray, tile_min_x: float,
                   tile_min_y: float, tile_m: float):
    """The post-mesh half of one tile in C: a method's world-space
    (verts, faces) → (quantized-mesh blob, n_vertices, n_faces) after
    the unit-tile normalize, [0,1]² clip and first-seen vertex order;
    byte-identical to meshing._tile_terrain's NumPy path. A faceless
    mesh gives (None, len(verts), 0). Returns None when the library is
    not loaded or C ran out of memory; raises ValueError on a
    non-finite vertex or bound, as codec.encode_qm_tile does."""
    lib = get_lib()
    if lib is None:
        return None
    nf = len(faces)
    if not nf:
        return None, len(verts), 0
    from .codec import _pack_qm_header

    verts = np.ascontiguousarray(verts, dtype=np.float64)
    faces = np.ascontiguousarray(faces, dtype=np.int64)
    if verts.ndim != 2 or verts.shape[1] != 3 or faces.shape != (nf, 3):
        return None
    args = (verts.ctypes.data, len(verts), faces.ctypes.data, nf,
            float(tile_min_x), float(tile_min_y), float(tile_m))
    buf, counts, zrange, *ptrs = _tile_buffers()
    n = lib.tin_tile_qm(*args, ptrs[0], len(buf), ptrs[1], ptrs[2])
    if n > len(buf):  # the blob did not fit: grow and encode again
        buf, counts, zrange, *ptrs = _tile_buffers(n)
        n = lib.tin_tile_qm(*args, ptrs[0], len(buf), ptrs[1], ptrs[2])
    if n == -2:
        raise ValueError("encode_qm_tile: non-finite vertex or bound")
    if n < 0:
        return None
    zmin, zmax = zrange
    if counts[2]:
        # face heights hold both -0.0 and 0.0: the header carries the
        # sign numpy's reduction picks (see tin_tile_qm)
        fz = verts[faces][:, :, 2]
        zmin, zmax = fz.min(), fz.max()
    _pack_qm_header(buf, (tile_min_x, tile_min_y, zmin),
                    (tile_min_x + tile_m, tile_min_y + tile_m, zmax))
    return buf[:n].tobytes(), int(counts[0]), int(counts[1])
