"""The one meshing-method dispatch (cmd.cpp:352-392): every caller —
the per-tile Spark kernel, the benchmark sweep, dem2tin and the CLI
choices — meshes a Grid through `generate_tin` and validates against
`METHODS`."""

from __future__ import annotations

from .raster import Grid

METHODS = ("terra", "zemlya", "dense", "curvature")


def check_method(method: str) -> None:
    if method not in METHODS:
        raise ValueError(f"unknown meshing method {method!r} (supported: {METHODS})")


def generate_tin(grid: Grid, method: str = "terra", max_error: float = 2.0,
                 step: int = 1):
    """Mesh `grid` → (verts, faces). terra/zemlya refine to `max_error`,
    dense walks every `step`-th cell, and curvature reads `max_error`
    as its threshold (param_threshold in the reference's StatsRow)."""
    check_method(method)
    if method == "terra":
        from .terra import generate_tin_terra

        return generate_tin_terra(grid, max_error)
    if method == "zemlya":
        from .zemlya import generate_tin_zemlya

        return generate_tin_zemlya(grid, max_error)
    if method == "dense":
        from .dense import generate_tin_dense_quadwalk

        return generate_tin_dense_quadwalk(grid, step)
    from .curvature import generate_tin_curvature

    return generate_tin_curvature(grid, max_error)
