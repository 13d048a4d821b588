"""The flagship distributed operator: per-tile TIN meshing (Y3/Y4).

Pipeline (reference dem2tintiles, SURVEY.md §3.1), Spark-first:

  points(x, y, z, tile, cell)
    → base_cells: groupBy(cell).agg(sum(z), count)  ← map-side combine
      collapses 10^12 points to one row per cell BEFORE the heavy
      shuffle (this is the scale-critical step)
    → cell_grid: border-buffer fan-out — a cell within `buffer_cells`
      of a tile edge is duplicated into the neighbor tile's buffered
      raster (the reference buffers partitions by resolution*100 m so
      border triangles survive clipping —
      dem2tintiles_workflow.cpp:51-53); bounded 1:≤4 row expansion,
      pure Column exprs
    → mesh_cells, the ONE mesh stage: repartition(tile) →
      sortWithinPartitions(tile) → streaming mapInArrow that reads each
      Arrow batch's grid columns as NumPy views of its buffers, walks
      contiguous tile runs and calls the ONE tile kernel
      (_make_tile_fn) per tile:
        1. assemble the buffered grid (NumPy);
        2. mesh it through kernels.tin.generate_tin (terra | zemlya |
           dense | curvature) — for terra and zemlya ONE native call
           that also emits the (verts, faces) arrays;
        3. optionally measure the re-rasterized error (NumPy);
        4. _tile_terrain, the post-mesh half — normalize to the unit
           tile, clip to [0,1]² (TileMaker.cpp:45-124), order vertices
           first-seen, encode quantized-mesh — as ONE native call for
           every method, with only the 88-byte header packed in NumPy.
      The NumPy steps stay as the byte-exact oracle and the
      no-compiler fallback (kernels/native.py's gating). The output
      batch is built from buffers too, so a mesh worker never imports
      pandas (this module must not import it either: a worker imports
      it to unpickle the kernel).
    → tiles(zoom, tile_x, tile_y, n_points, n_vertices, n_faces,
            max_err, terrain:binary)

mesh_tiles is cell_grid + mesh_cells; the pyramid loop
(pipeline.dem2tintiles) and the benchmark sweep (pipeline.benchmark)
call mesh_cells on their own grids, the sweep with its own output
columns.

Skew: hot tiles are bounded by construction — the pre-aggregation caps
any tile's kernel input at (grid_n+2b)² rows regardless of how many
points land in it, so no salting is needed for the mesh path itself;
the cell-level groupBy handles point skew via map-side partial
aggregation + AQE.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions import geocode_exprs as GX
from ..kernels.tin import check_method

TILE_SCHEMA = (
    "zoom INT, tile_x BIGINT, tile_y BIGINT, n_points BIGINT, "
    "n_cells INT, n_vertices INT, n_faces INT, max_err DOUBLE, "
    "min_z DOUBLE, max_z DOUBLE, terrain BINARY, "
    "euler_ok BOOLEAN, verts_on_grid_ok BOOLEAN, cover_ok BOOLEAN"
)


def base_cells(points: DataFrame) -> DataFrame:
    """The ONE heavy shuffle: 10^12 points → per-cell (sum, count)
    partial aggregates with map-side combine. Everything downstream
    (buffer fan-out, per-zoom rollup, tile grouping) operates on ~#cells
    rows. Output: cell_x, cell_y, z_sum, z_cnt."""
    return points.groupBy("cell_x", "cell_y").agg(
        F.sum("z").alias("z_sum"), F.count(F.lit(1)).alias("z_cnt")
    )


def rollup_cells(cells: DataFrame, levels: int) -> DataFrame:
    """Y2 overview reuse: coarsen the cell grid by `levels` powers of two
    by summing (sum, count) — the coarse cell's average stays the exact
    point-weighted mean (no re-scan of the raw table)."""
    if levels <= 0:
        return cells
    f = 1 << levels
    return (
        cells.groupBy(
            F.floor(F.col("cell_x") / f).cast("bigint").alias("cell_x"),
            F.floor(F.col("cell_y") / f).cast("bigint").alias("cell_y"),
        )
        .agg(F.sum("z_sum").alias("z_sum"), F.sum("z_cnt").alias("z_cnt"))
    )


def cell_grid(
    points: DataFrame,
    zoom: int,
    grid_bits: int = 5,
    buffer_cells: int = 2,
    cells: DataFrame | None = None,
) -> DataFrame:
    """points (geocoded at this zoom's cell resolution) → per-(tile,
    row,col) grid cells with border-buffer duplication. The 1:≤4
    fan-out happens AFTER aggregation, on cell rows, so its cost is
    independent of point count. Output: tile_x, tile_y, row_b, col_b,
    z_sum, z_cnt (row_b/col_b indexed into the buffered raster)."""
    g = 1 << grid_bits
    b = buffer_cells
    n_tiles = 1 << zoom

    c = cells if cells is not None else base_cells(points)
    # own tile + local coords (cell is the tile key at zoom+grid_bits)
    c = (
        c.withColumn("tile_x", F.floor(F.col("cell_x") / g).cast("bigint"))
        .withColumn("tile_y", F.floor(F.col("cell_y") / g).cast("bigint"))
        .withColumn("col0", F.col("cell_x") - F.col("tile_x") * g)
        .withColumn("row0", F.col("cell_y") - F.col("tile_y") * g)
    )

    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    candidates = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offsets]
    )
    c = c.withColumn(
        "nbr",
        F.explode(
            F.filter(
                candidates,
                lambda o: (
                    ((o.dx == 0) | ((o.dx == -1) & (F.col("col0") < b)) | ((o.dx == 1) & (F.col("col0") >= g - b)))
                    & ((o.dy == 0) | ((o.dy == -1) & (F.col("row0") < b)) | ((o.dy == 1) & (F.col("row0") >= g - b)))
                ),
            )
        ),
    )
    c = (
        c.withColumn("t_x", F.col("tile_x") + F.col("nbr.dx"))
        .withColumn("t_y", F.col("tile_y") + F.col("nbr.dy"))
        .filter(
            (F.col("t_x") >= 0)
            & (F.col("t_x") < n_tiles)
            & (F.col("t_y") >= 0)
            & (F.col("t_y") < n_tiles)
        )
        # buffered-raster indices: col_b in [0, g+2b)
        .withColumn("col_b", (F.col("cell_x") - F.col("t_x") * g + b).cast("int"))
        .withColumn("row_ll", (F.col("cell_y") - F.col("t_y") * g + b).cast("int"))
        .withColumn("row_b", F.lit(g + 2 * b - 1) - F.col("row_ll"))
    )
    return c.select(
        F.col("t_x").alias("tile_x"),
        F.col("t_y").alias("tile_y"),
        "row_b",
        "col_b",
        "z_sum",
        "z_cnt",
    )


def _make_tile_fn(zoom: int, grid_bits: int, buffer_cells: int, method: str,
                  max_error: float, step: int, compute_error: bool,
                  encode_terrain: bool):
    """Build the one per-tile kernel as a plain-arrays → dict function
    (runs on executors; imports stay inside so the function pickles
    cleanly): assemble the buffered grid, mesh it through
    kernels.tin.generate_tin (one native call for terra and zemlya),
    optionally re-rasterize and measure the error, optionally encode
    the terrain through _tile_terrain (one native call for every
    method: normalize, clip, vertex order, quantized-mesh body). With
    the library loaded a tile costs one native mesh call, one native
    tile call and a little NumPy (grid assembly, min/max heights, the
    header); without it the same steps run in Python/NumPy and give
    the same bytes. The dict carries every TILE_SCHEMA field plus the
    benchmark sweep's `mesh_seconds` and error moments (`err_n`,
    `err_mean`, `err_std`); callers pick their columns."""
    g = 1 << grid_bits
    b = buffer_cells
    tile_m = GX.tile_size_meters(zoom)
    cellsize = tile_m / g
    hc = GX.HALF_CIRCUMFERENCE

    def mesh_tile(tile_x: int, tile_y: int, rows: np.ndarray, cols: np.ndarray,
                  z_sum: np.ndarray, z_cnt: np.ndarray) -> dict:
        import time

        from tin_terrain_spark.kernels.mesh2raster import measure_error, rasterise_mesh
        from tin_terrain_spark.kernels.raster import Grid
        from tin_terrain_spark.kernels.tin import generate_tin

        size = g + 2 * b
        z = np.full((size, size), np.nan)
        z[rows, cols] = z_sum / z_cnt
        interior = (rows >= b) & (rows < g + b) & (cols >= b) & (cols < g + b)
        n_points = int(z_cnt[interior].sum())
        n_cells = int(len(rows))

        # tile bounds in meters (PixelsToMeters, MercatorProjection.cpp:30-37)
        res = 2.0 * hc / 256.0 / (1 << zoom)
        tile_min_x = tile_x * 256.0 * res - hc
        tile_min_y = tile_y * 256.0 * res - hc

        grid = Grid(
            z,
            xpos=tile_min_x - b * cellsize,
            ypos=tile_min_y - b * cellsize,
            cellsize=cellsize,
            ndv=np.nan,
        )
        t0 = time.perf_counter()
        verts, faces = generate_tin(grid, method, max_error, step)
        mesh_seconds = time.perf_counter() - t0

        max_err = float("nan")
        err_n, err_mean, err_std = 0, 0.0, 0.0
        euler_ok = verts_on_grid_ok = cover_ok = None
        if compute_error and len(faces):
            r = rasterise_mesh(verts, faces, size, size)
            src = Grid(np.where(np.isnan(z), -99999.0, z), ndv=-99999.0)
            err_mean, err_std, max_err, err_n, _ = measure_error(r, src)
            if err_n == 0:
                max_err = float("nan")

            # independent invariants, oracled as literal TRUE (a
            # wrong-but-deterministic kernel cannot pass them):
            #  - Euler bound for any planar triangulation on the
            #    PRE-clip mesh: f <= 2v - 4
            #  - every pre-clip vertex sits exactly on a grid cell
            #    center with z equal to that cell's (post-corner-repair)
            #    value — greedy insertion only ever promotes cells
            #  - the triangulation rasterizes back onto every interior
            #    source-valid pixel (full hull coverage, no holes)
            # NOTE max_err <= max_error is NOT an invariant of the
            # reference algorithm: the scanline restart-at-v0x quirk
            # (TerraMesh.cpp:150-166) leaves cells unscanned, and the
            # reference only RECORDS stats_row.max_error
            # (benchmark_workflow.cpp:880-924), never asserts it; the
            # measured value is frozen as a golden column instead.
            euler_ok = bool(len(faces) <= 2 * len(verts) - 4)
            vc = grid.x2col(verts[:, 0])
            vr = grid.y2row(verts[:, 1])
            inb = (vc >= 0) & (vc < size) & (vr >= 0) & (vr < size)
            if method == "zemlya":
                # zemlya vertices carry m_result z (pyramid averages,
                # ZemlyaMesh.cpp:358-385), not raw raster values — the
                # independent invariant is position-on-lattice plus z
                # inside the raster's value range (averages of samples
                # cannot escape [min, max])
                lo = float(np.nanmin(z)) if np.isfinite(z).any() else 0.0
                hi = float(np.nanmax(z)) if np.isfinite(z).any() else 0.0
                verts_on_grid_ok = bool(
                    inb.all()
                    and np.all(np.isfinite(verts[:, 2]))
                    and np.all(verts[:, 2] >= min(lo, 0.0) - 1e-9)
                    and np.all(verts[:, 2] <= max(hi, 0.0) + 1e-9)
                )
            else:
                verts_on_grid_ok = bool(
                    inb.all()
                    and np.array_equal(z[vr, vc], verts[:, 2], equal_nan=True)
                )
            src_in = src.z[2 : size - 2, 2 : size - 2]
            cover_ok = bool(err_n == int((src_in != src.ndv).sum()))

        n_vertices, n_faces = len(verts), len(faces)
        min_z = float(np.min(verts[:, 2])) if n_vertices else float("nan")
        max_z = float(np.max(verts[:, 2])) if n_vertices else float("nan")
        terrain = None
        if encode_terrain:
            terrain, n_vertices, n_faces = _tile_terrain(
                verts, faces, tile_min_x, tile_min_y, tile_m)

        return {
            "zoom": zoom,
            "tile_x": tile_x,
            "tile_y": tile_y,
            "n_points": n_points,
            "n_cells": n_cells,
            "n_vertices": int(n_vertices),
            "n_faces": int(n_faces),
            "max_err": max_err,
            "min_z": min_z,
            "max_z": max_z,
            "terrain": terrain,
            "euler_ok": euler_ok,
            "verts_on_grid_ok": verts_on_grid_ok,
            "cover_ok": cover_ok,
            "mesh_seconds": mesh_seconds,
            "err_n": int(err_n),
            "err_mean": float(err_mean),
            "err_std": float(err_std),
        }

    return mesh_tile


def _tile_terrain(verts: np.ndarray, faces: np.ndarray, tile_min_x: float,
                  tile_min_y: float, tile_m: float):
    """The post-mesh half of the tile kernel: a method's world-space
    (verts, faces) → (terrain blob, n_vertices, n_faces) — normalize to
    the unit tile (TileMaker.cpp:71-105; x, y by the tile bounds, z by
    the face-referenced zmin/zmax), clip to [0,1]² (TileMaker.cpp:
    45-124), order vertices first-seen and encode quantized-mesh. A
    faceless mesh has no blob and keeps its vertex count; a clip that
    leaves no face still encodes.

    One native call (kernels.native.tile_qm_native) when the library
    is loaded; these NumPy steps are its byte-exact oracle and the
    no-compiler fallback."""
    from tin_terrain_spark.kernels import native
    from tin_terrain_spark.kernels.codec import _first_seen_vertex_order, encode_qm_tile
    from tin_terrain_spark.kernels.geometry import clip_triangles_to_01_quadrant

    out = native.tile_qm_native(verts, faces, tile_min_x, tile_min_y, tile_m)
    if out is not None:
        return out
    if not len(faces):
        return None, len(verts), 0
    tris = verts[faces]  # (m, 3, 3) world coords
    zmin = tris[:, :, 2].min()
    zmax = tris[:, :, 2].max()
    inv_z = 1.0 / (zmax - zmin) if zmax > zmin else 1.0
    unit = tris.copy()
    unit[:, :, 0] = (unit[:, :, 0] - tile_min_x) / tile_m
    unit[:, :, 1] = (unit[:, :, 1] - tile_min_y) / tile_m
    unit[:, :, 2] = (unit[:, :, 2] - zmin) * inv_z
    clipped = clip_triangles_to_01_quadrant(unit)
    if len(clipped):
        vorder = _first_seen_vertex_order(clipped.reshape(-1, 3))
    else:
        vorder = (np.zeros((0, 3)), np.zeros(0, dtype=np.int64))
    terrain = encode_qm_tile(
        clipped,
        (tile_min_x, tile_min_y, zmin),
        (tile_min_x + tile_m, tile_min_y + tile_m, zmax),
        mesh_is_rescaled=True,
        vertex_order=vorder,
    )
    return terrain, len(vorder[0]), len(clipped)


# the cell_grid columns the mesh stage reads, in kernel argument order
_GRID_COLUMNS = ("tile_x", "tile_y", "row_b", "col_b", "z_sum", "z_cnt")

# output column types the mesh stage can emit (TILE_SCHEMA, the sweep's
# SWEEP_SCHEMA): DDL type → (Arrow type, NumPy dtype of a fixed-width one)
_OUT_TYPES = {
    "INT": (pa.int32(), np.int32),
    "BIGINT": (pa.int64(), np.int64),
    "DOUBLE": (pa.float64(), np.float64),
    "BOOLEAN": (pa.bool_(), None),
    "BINARY": (pa.binary(), None),
}


def _out_fields(columns: str) -> list[tuple[str, str]]:
    """A DDL column list → [(name, TYPE)], every TYPE one the stage
    can emit; raised on the driver when the kernel is built."""
    fields = []
    for f in columns.split(","):
        name, typ = f.split()
        typ = typ.upper()
        if typ not in _OUT_TYPES:
            raise ValueError(f"mesh stage cannot emit column {name!r} of type {typ}")
        fields.append((name, typ))
    return fields


def _grid_column(batch: pa.RecordBatch, name: str) -> np.ndarray:
    """One numeric column of an Arrow batch as a NumPy view of its data
    buffer (from the array's offset on). A NULL in a floating column
    reads as NaN, as pandas reads it (a NULL z_sum is a no-data cell);
    a NULL in an integer column raises, naming the column."""
    arr = batch.column(name)
    if pa.types.is_floating(arr.type):
        kind = "f"
    elif pa.types.is_integer(arr.type):
        kind = "i"
    else:
        raise TypeError(f"grid column {name!r} has type {arr.type}, not a number")
    dtype = np.dtype(f"{kind}{arr.type.bit_width // 8}")
    validity, data = arr.buffers()
    vals = np.frombuffer(data, dtype, count=len(arr), offset=arr.offset * dtype.itemsize)
    if arr.null_count:
        if kind == "i":
            raise ValueError(f"grid column {name!r} holds {arr.null_count} NULL(s)")
        bits = np.unpackbits(np.frombuffer(validity, np.uint8),
                             count=arr.offset + len(arr), bitorder="little")
        vals = np.where(bits[arr.offset:].astype(bool), vals, np.nan)
    return vals


def _arrow_column(typ: str, vals: list) -> pa.Array:
    """Python values → an Arrow array of DDL type `typ`, with pyspark's
    pandas → Arrow NULL rules: NaN in a DOUBLE column and None in a
    BOOLEAN or BINARY column are NULL."""
    atype, dtype = _OUT_TYPES[typ]
    n = len(vals)
    if typ == "BINARY":
        valid = np.array([v is not None for v in vals], dtype=bool)
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum([len(v) if v is not None else 0 for v in vals], out=offsets[1:])
        bufs = [pa.py_buffer(offsets),
                pa.py_buffer(b"".join(v for v in vals if v is not None))]
    elif typ == "BOOLEAN":
        valid = np.array([v is not None for v in vals], dtype=bool)
        bits = np.array([bool(v) for v in vals], dtype=bool)
        bufs = [pa.py_buffer(np.packbits(bits, bitorder="little"))]
    else:
        data = np.array(vals, dtype=dtype)
        valid = ~np.isnan(data) if typ == "DOUBLE" else np.ones(n, dtype=bool)
        bufs = [pa.py_buffer(data)]
    n_null = n - int(valid.sum())
    mask = pa.py_buffer(np.packbits(valid, bitorder="little")) if n_null else None
    return pa.Array.from_buffers(atype, n, [mask, *bufs], null_count=n_null)


def _make_stream_kernel(*args, columns: str = TILE_SCHEMA):
    """mapInArrow generator over TILE-SORTED partitions: reads the grid
    columns of each Arrow batch as NumPy views of its buffers, walks
    contiguous (tile_x, tile_y) runs with NumPy slicing, calls
    _make_tile_fn(*args) per tile and emits ONE output batch per input
    batch (hundreds of tiles) instead of one per tile — a per-group
    applyInPandas paid ~8 ms of pandas overhead per tile at 65k-tile
    scale, more than the mesh kernel itself. A tile whose rows span two
    Arrow batches is carried over in `held` (rows per tile are
    contiguous because the partition is sorted by the tile key).
    `columns` is the output schema (DDL); its field names select from
    the kernel's dict, and each output column is built from buffers.

    Pandas is never imported on this path, so a mesh worker does not
    load it (~37 MB of RSS each). In pyarrow 16, pa.array,
    Array.to_numpy and RecordBatch.from_pydict import pandas lazily,
    even for NumPy input; np.frombuffer, Array.from_buffers and
    RecordBatch.from_arrays do not.

    The one pandas boundary: the generator also accepts pandas
    DataFrame batches (mapInPandas) and then returns DataFrames, with
    pandas imported in that branch only. It exists for perfbench's
    traced probe, which drives this kernel through mapInPandas, and
    goes when the probe calls mesh_cells instead; the tile walk and the
    kernel are the same on both."""
    tile_fn = _make_tile_fn(*args)
    fields = _out_fields(columns)
    names = [n for n, _ in fields]

    def process(cols: list[np.ndarray]) -> list[dict]:
        tx, ty, rb, cb, zs, zc = cols
        change = np.empty(len(tx), dtype=bool)
        change[0] = True
        change[1:] = (tx[1:] != tx[:-1]) | (ty[1:] != ty[:-1])
        starts = np.nonzero(change)[0]
        ends = np.append(starts[1:], len(tx))
        return [
            tile_fn(int(tx[s]), int(ty[s]), rb[s:e], cb[s:e], zs[s:e], zc[s:e])
            for s, e in zip(starts, ends)
        ]

    def arrow_batch(rows: list[dict]) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [_arrow_column(typ, [r[n] for r in rows]) for n, typ in fields], names=names)

    def pandas_frame(rows: list[dict]):
        import pandas as pd

        return pd.DataFrame(rows, columns=names)

    def gen(batches):
        emit, held = arrow_batch, None
        for batch in batches:
            if not len(batch):
                continue
            if isinstance(batch, pa.RecordBatch):
                cols = [_grid_column(batch, c) for c in _GRID_COLUMNS]
            else:  # the pandas boundary (see the docstring)
                cols = [batch[c].to_numpy() for c in _GRID_COLUMNS]
                emit = pandas_frame
            if held is not None:
                cols = [np.concatenate(pair) for pair in zip(held, cols)]
            tx, ty = cols[0], cols[1]
            # the last tile may continue in the next batch — hold it
            nz = np.nonzero((tx != tx[-1]) | (ty != ty[-1]))[0]
            cut = int(nz[-1]) + 1 if len(nz) else 0
            held = [c[cut:] for c in cols]
            if cut:
                yield emit(process([c[:cut] for c in cols]))
        if held is not None:
            yield emit(process(held))

    return gen


def mesh_cells(
    grid: DataFrame,
    zoom: int,
    grid_bits: int = 5,
    buffer_cells: int = 2,
    method: str = "terra",
    max_error: float = 2.0,
    step: int = 1,
    compute_error: bool = False,
    encode_terrain: bool = True,
    columns: str = TILE_SCHEMA,
) -> DataFrame:
    """THE mesh stage: a cell_grid → one row per tile, shaped by
    `columns` (TILE_SCHEMA, or the sweep's per-tile stats).

    The explicit repartition before the kernel matters: the cell grid
    is only KBs after aggregation, so AQE would coalesce it to one
    partition and serialize the CPU-heavy Python kernels behind it
    (measured 3-5x slower). A user repartition by the tile key is
    respected by AQE and sizes tasks by kernel cost, not bytes; the
    tile-sorted partitions let the streaming kernel walk tile runs.
    The method is validated here, on the driver, before any job."""
    check_method(method)
    grid = grid.repartition(
        grid.sparkSession.sparkContext.defaultParallelism, "tile_x", "tile_y"
    ).sortWithinPartitions("tile_x", "tile_y")
    kernel = _make_stream_kernel(
        zoom, grid_bits, buffer_cells, method, max_error, step,
        compute_error, encode_terrain, columns=columns,
    )
    return grid.mapInArrow(kernel, columns)


def mesh_tiles(
    points: DataFrame,
    zoom: int,
    grid_bits: int = 5,
    buffer_cells: int = 2,
    method: str = "terra",
    max_error: float = 2.0,
    step: int = 1,
    compute_error: bool = False,
    encode_terrain: bool = True,
) -> DataFrame:
    """Full tile-meshing operator: geocoded points → tile records
    (cell_grid + mesh_cells).

    Degenerate tiles (too sparse to carry information) still mesh —
    corner repair (TerraUtils.cpp:8-22) back-fills from the nearest
    valid cells, exactly as the reference handles no-data regions."""
    return mesh_cells(
        cell_grid(points, zoom, grid_bits, buffer_cells), zoom, grid_bits,
        buffer_cells, method, max_error, step, compute_error, encode_terrain,
    )
