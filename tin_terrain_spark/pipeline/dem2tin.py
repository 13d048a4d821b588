"""dem2tin: whole-raster → one mesh file (the reference's second
subcommand, src/cmd.cpp:268-420 / :576).

Unlike dem2tintiles (tiled, rescaled-to-unit-space quantized mesh),
dem2tin meshes the WHOLE raster once and writes a single file in
obj / off / terrain (quantized mesh, NON-rescaled world coordinates —
QuantizedMeshIO.cpp:320-507's `mesh_is_rescaled=false` branch) /
geojson, with `auto` resolving from the file extension like the CLI.

This is a driver/edge-node utility (one raster, one core — exactly the
reference's execution shape); the distributed path stays
pipeline.dem2tintiles. Combined with sources.geotiff it reproduces
`tin-terrain dem2tin --input x.tif --output y.obj` end to end.
"""

from __future__ import annotations

import os

import numpy as np

from ..kernels.tin import generate_tin

FORMATS = ("obj", "off", "terrain", "json", "geojson")

_EXT2FMT = {
    ".obj": "obj",
    ".off": "off",
    ".terrain": "terrain",
    ".json": "geojson",
    ".geojson": "geojson",
}


def write_mesh_file(verts: np.ndarray, faces: np.ndarray, output_file: str,
                    fmt: str = "auto") -> str:
    """Write a world-coordinate mesh in the chosen format; returns the
    resolved format. `terrain` uses the non-rescaled quantized-mesh
    branch: coordinates quantize against the mesh's own world bbox."""
    if fmt == "auto":
        fmt = _EXT2FMT.get(os.path.splitext(output_file)[1].lower(), "")
        if not fmt:
            raise ValueError(
                f"cannot infer output format from {output_file!r}; pass fmt="
            )
    if fmt in ("json", "geojson"):
        fmt = "geojson"
    if fmt not in FORMATS:
        raise ValueError(f"unknown output format {fmt!r} (supported: {FORMATS})")

    if fmt == "terrain":
        from ..kernels.codec import encode_qm_tile

        tris = verts[faces]
        bb_min = tuple(float(v) for v in verts.min(axis=0))
        bb_max = tuple(float(v) for v in verts.max(axis=0))
        blob = encode_qm_tile(tris, bb_min, bb_max, mesh_is_rescaled=False)
        with open(output_file, "wb") as f:
            f.write(blob)
        return fmt

    from ..kernels.meshio import format_geojson, format_obj, format_off

    text = {"obj": format_obj, "off": format_off, "geojson": format_geojson}[fmt](
        verts, faces
    )
    with open(output_file, "w") as f:
        f.write(text)
    return fmt


def dem2tin(input_file: str, output_file: str, method: str = "terra",
            max_error: float = 2.0, step: int = 1, fmt: str = "auto") -> dict:
    """File-to-file facade: GeoTIFF/ASC/XYZ in, mesh file out. Returns
    a summary dict (counts + resolved format)."""
    ext = os.path.splitext(input_file)[1].lower()
    if ext in (".tif", ".tiff"):
        from ..sources.geotiff import read_geotiff

        grid = read_geotiff(open(input_file, "rb").read())
    elif ext == ".asc":
        from ..kernels.meshio import parse_asc

        grid = parse_asc(open(input_file).read())
    else:
        raise ValueError(f"unsupported input raster format {ext!r}")

    verts, faces = generate_tin(grid, method=method, max_error=max_error, step=step)
    resolved = write_mesh_file(verts, faces, output_file, fmt)
    return {
        "n_vertices": int(len(verts)),
        "n_faces": int(len(faces)),
        "format": resolved,
        "output_file": output_file,
    }
