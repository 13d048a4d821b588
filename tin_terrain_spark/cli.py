"""Command-line front-end mirroring the reference CLI surface.

The reference is driven as `tin-terrain <subcommand>` (src/cmd.cpp:
dem2tin, dem2tintiles, benchmark); a user switching engines keeps the
same verbs and flags here:

    python -m tin_terrain_spark dem2tin --input dem.tif --output m.obj \
        --method terra --max-error 2.0
    python -m tin_terrain_spark dem2tintiles --input 'granules/*.tif' \
        --output-dir tiles/ --min-zoom 0 --max-zoom 8 --method terra
    python -m tin_terrain_spark benchmark --input 'granules/*.tif' \
        --output-dir bench/ --zoom 4

dem2tin is the reference's single-raster tool and runs driver-side
(one file → one mesh, no cluster needed). dem2tintiles and benchmark
run on Spark: input globs fan out file-per-task (GeoTIFF/ASC/XYZ via
sources.geotiff/textgrids; a documents parquet geocodes synthetically).
dem2tintiles keys either input at --max-zoom and runs the one pyramid
loop (pipeline.dem2tintiles.mesh_pyramid: resume manifest, _SUCCESS
markers, per-zoom max_error default); benchmark runs the sweep. All
three mesh through kernels.tin.generate_tin, and both Spark verbs
through operators.meshing.mesh_cells — the same stage the
driver-gated queries exercise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .kernels.tin import METHODS


def _cells_for(spark, input_glob: str):
    """Input dispatch by extension: real rasters/points → (x, y, z)
    cells; a documents parquet → synthetic geocode (the web-table
    path)."""
    ext = os.path.splitext(input_glob)[1].lower()
    if ext in (".tif", ".tiff"):
        from .sources.geotiff import geotiff_cells

        return geotiff_cells(spark, input_glob), False
    if ext == ".asc":
        from .sources.textgrids import asc_cells

        return asc_cells(spark, input_glob), False
    if ext == ".xyz":
        from .sources.textgrids import xyz_cells

        return xyz_cells(spark, input_glob), False
    if ext == ".parquet":
        return spark.read.parquet(input_glob), True
    raise SystemExit(f"unsupported input {input_glob!r} "
                     "(expect .tif/.asc/.xyz glob or documents .parquet)")


def cmd_dem2tin(args) -> dict:
    from .pipeline.dem2tin import dem2tin

    out = dem2tin(
        args.input, args.output, method=args.method,
        max_error=args.max_error, step=args.step, fmt=args.output_format,
    )
    print(json.dumps(out))
    return out


def cmd_dem2tintiles(args) -> dict:
    from .pipeline.dem2tintiles import build_tile_pyramid, mesh_pyramid
    from .session import get_spark

    spark = get_spark("dem2tintiles", cores=args.cores)
    try:
        src, is_docs = _cells_for(spark, args.input)
        catalog = None
        if args.catalog_path:
            from .sources.iceberg import tile_catalog

            catalog = tile_catalog(spark, local_path=args.catalog_path)
        kw = dict(
            min_zoom=args.min_zoom, max_zoom=args.max_zoom,
            grid_bits=args.grid_bits, buffer_cells=args.buffer_cells,
            method=args.method, max_error=args.max_error, step=args.step,
            catalog=catalog,
        )
        if is_docs:
            manifest = build_tile_pyramid(spark, src, args.output_dir, **kw)
        else:
            from .sources.geotiff import assign_tile_keys

            keyed = assign_tile_keys(src, zoom=args.max_zoom, grid_bits=args.grid_bits)
            manifest = mesh_pyramid(spark, keyed, args.output_dir, **kw)
        print(json.dumps({str(z): e for z, e in sorted(manifest.items())}))
        return manifest
    finally:
        spark.stop()


def cmd_benchmark(args) -> list:
    from .pipeline.benchmark import run_benchmark_sweep
    from .session import get_spark
    from .sources.geotiff import assign_tile_keys

    spark = get_spark("benchmark", cores=args.cores)
    try:
        src, is_docs = _cells_for(spark, args.input)
        if is_docs:
            from .operators.geocode import geocode_points

            pts = geocode_points(src, zoom=args.zoom, grid_bits=args.grid_bits)
        else:
            pts = assign_tile_keys(src, zoom=args.zoom, grid_bits=args.grid_bits)
        rows = run_benchmark_sweep(
            pts, args.zoom, args.output_dir,
            input_name=os.path.basename(args.input),
            grid_bits=args.grid_bits,
        )
        print(json.dumps({"rows_written": len(rows), "out": args.output_dir}))
        return rows
    finally:
        spark.stop()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="tin_terrain_spark",
        description="PySpark-native TIN terrain engine (reference CLI parity)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    d1 = sub.add_parser("dem2tin", help="single raster → single mesh file")
    d1.add_argument("--input", required=True)
    d1.add_argument("--output", required=True)
    d1.add_argument("--method", choices=METHODS, default="terra")
    d1.add_argument("--max-error", type=float, default=2.0)
    d1.add_argument("--step", type=int, default=1)
    d1.add_argument("--output-format", default="auto",
                    help="obj|off|terrain|geojson|asc (default: by extension)")
    d1.set_defaults(fn=cmd_dem2tin)

    d2 = sub.add_parser("dem2tintiles", help="input glob → tile pyramid")
    d2.add_argument("--input", required=True,
                    help=".tif/.asc/.xyz glob or documents .parquet")
    d2.add_argument("--output-dir", required=True)
    d2.add_argument("--min-zoom", type=int, default=0)
    d2.add_argument("--max-zoom", type=int, default=4)
    d2.add_argument("--method", choices=METHODS, default="terra")
    d2.add_argument("--max-error", type=float, default=None)
    d2.add_argument("--step", type=int, default=2)
    d2.add_argument("--grid-bits", type=int, default=5)
    d2.add_argument("--buffer-cells", type=int, default=2)
    d2.add_argument("--catalog-path", default=None,
                    help="tile-catalog dir (MERGE-resume sink)")
    d2.add_argument("--cores", type=int, default=8)
    d2.set_defaults(fn=cmd_dem2tintiles)

    d3 = sub.add_parser("benchmark", help="method x param sweep → StatsRow CSV")
    d3.add_argument("--input", required=True)
    d3.add_argument("--output-dir", required=True)
    d3.add_argument("--zoom", type=int, default=2)
    d3.add_argument("--grid-bits", type=int, default=5)
    d3.add_argument("--cores", type=int, default=8)
    d3.set_defaults(fn=cmd_benchmark)
    return p


def main(argv=None):
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(0 if main() is not None else 1)
