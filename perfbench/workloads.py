"""The workloads. Each one writes its seeded inputs during set-up, runs
one operation per `op()` call (what the untraced run times), and offers
`traced_op()`, which runs the same operation inside spans and adds the
per-layer probes. Checks compare outputs with values derived on the
driver from the generated inputs, never with pinned numbers; every
failed check is a string in the returned list.

BENCHMARK.json gates `pyramid` and `catalog`; `catalog` runs the
`KnnJoin` and `Dedup` operations back to back."""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from tin_terrain_spark.functions import geocode_exprs as GX
from tin_terrain_spark.kernels.codec import _first_seen_vertex_order, decode_qm_tile, encode_qm_tile
from tin_terrain_spark.kernels.geometry import clip_triangles_to_01_quadrant
from tin_terrain_spark.kernels.raster import Grid
from tin_terrain_spark.kernels.terra import generate_tin_terra
from tin_terrain_spark.operators import dedup as D
from tin_terrain_spark.operators import joins as J
from tin_terrain_spark.operators.geocode import geocode_points
from tin_terrain_spark.operators.meshing import (
    TILE_SCHEMA, _make_stream_kernel, base_cells, cell_grid, rollup_cells,
)
from tin_terrain_spark.operators.sinks import write_tile_store
from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid, read_manifest

from . import inputs

K = 5  # neighbours per kNN query


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _noop(df) -> None:
    """Materialize every column of `df` without keeping it (a count
    would let the optimizer prune the projections under test)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    item = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = ctx.rng
        self.dir = ctx.run_dir
        self.parts = ctx.cores

    def table(self, name: str, columns: dict):
        path = os.path.join(self.dir, "inputs", name)
        inputs.write_table(path, columns, self.parts)
        return self.spark.read.parquet(path)

    def warmup(self):
        """One untimed, checked operation: first jobs, codegen, the
        Python worker pool."""
        self.check(self.op(self.ctx.untraced)[1])

    def final_checks(self) -> list[str]:
        return []


class Pyramid(Workload):
    """dem2tintiles: geocoded pages -> per-zoom TIN tile pyramid
    (terra, fresh output, no resume), then the tile store."""

    name, item = "pyramid", "tiles"
    N_PAGES, MAX_ZOOM, MIN_ZOOM, GRID_BITS, BUFFER = 48_000, 6, 5, 5, 2
    N_SAMPLE = 24  # tiles per zoom meshed on the driver (checks, kernel probe)

    def setup(self):
        ids = inputs.id_space(self.rng, self.N_PAGES)
        self.docs = self.table("pages", {"doc_id": ids})
        geo = inputs.geocode(ids, self.MAX_ZOOM, self.GRID_BITS)
        # page heights from the program's geocoder: its DEM is JVM sin
        # arithmetic, which numpy need not match to the last bit
        pages = geocode_points(self.docs, zoom=self.MAX_ZOOM, grid_bits=self.GRID_BITS) \
            .select("cell_x", "cell_y", "z").toPandas()
        self.expected, self.sample = {}, {}
        for z in self.zooms:
            keys = self._buffered_tiles(geo["cell_x"], geo["cell_y"], z)
            self.expected[z] = len(keys)
            for i in sorted(self.rng.choice(len(keys), self.N_SAMPLE, replace=False)):
                tx, ty = (int(v) for v in keys[i])
                self.sample[(z, tx, ty)] = self._grid(pages, z, tx, ty)
        # the reference mesh of each sampled tile: the pure-Python
        # terra and clip, so a change to the native path is checked too
        self.reference = {
            key: self._mesh(zgrid, *key, native=False) for key, zgrid in self.sample.items()
        }
        self.sample_keys = self.spark.createDataFrame(
            list(self.sample), "zoom int, tile_x bigint, tile_y bigint"
        )
        self.n = 0

    @property
    def zooms(self):
        return range(self.MAX_ZOOM, self.MIN_ZOOM - 1, -1)

    def _buffered_tiles(self, cx, cy, zoom) -> np.ndarray:
        """Sorted (tile_x, tile_y) of every tile the pipeline should
        write at `zoom`: the tiles holding a cell, and the neighbours
        whose border buffer reaches it."""
        g, b = 1 << self.GRID_BITS, self.BUFFER
        shift = self.MAX_ZOOM - zoom
        keys = set()
        ux, uy = np.unique(np.stack([cx >> shift, cy >> shift]), axis=1)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                tx, ty = ux // g + dx, uy // g + dy
                col, row = ux - (ux // g) * g, uy - (uy // g) * g
                ok = np.ones(len(ux), bool)
                if dx == -1:
                    ok &= col < b
                if dx == 1:
                    ok &= col >= g - b
                if dy == -1:
                    ok &= row < b
                if dy == 1:
                    ok &= row >= g - b
                ok &= (tx >= 0) & (tx < 1 << zoom) & (ty >= 0) & (ty < 1 << zoom)
                keys.update(zip(tx[ok].tolist(), ty[ok].tolist()))
        return np.array(sorted(keys), dtype=np.int64)

    def _grid(self, pages, zoom, tx, ty) -> np.ndarray:
        """The buffered height raster of one tile, averaged per cell
        from the pages with numpy (rows north-up, as the mesh kernel
        lays them out)."""
        g, b = 1 << self.GRID_BITS, self.BUFFER
        size = g + 2 * b
        shift = self.MAX_ZOOM - zoom
        col = (pages["cell_x"].to_numpy() >> shift) - tx * g + b
        row_ll = (pages["cell_y"].to_numpy() >> shift) - ty * g + b
        ok = (col >= 0) & (col < size) & (row_ll >= 0) & (row_ll < size)
        z_sum, z_cnt = np.zeros((size, size)), np.zeros((size, size), np.int64)
        at = (size - 1 - row_ll[ok], col[ok])
        np.add.at(z_sum, at, pages["z"].to_numpy()[ok])
        np.add.at(z_cnt, at, 1)
        with np.errstate(invalid="ignore"):
            return np.where(z_cnt > 0, z_sum / z_cnt, np.nan)

    def _max_error(self, zoom):
        # the pipeline's per-zoom default (dem2tintiles.build_tile_pyramid)
        return GX.tile_size_meters(zoom + self.GRID_BITS) / 10000.0

    def _mesh(self, zgrid, zoom, tx, ty, native: bool) -> dict:
        """One tile through the mesh kernel's steps (terra, unit-tile
        normalization, clip, quantized-mesh encode), with the kernel's
        bounds arithmetic, each step timed."""
        g, b, hc = 1 << self.GRID_BITS, self.BUFFER, GX.HALF_CIRCUMFERENCE
        tile_m = GX.tile_size_meters(zoom)
        cellsize = tile_m / g
        res = 2.0 * hc / 256.0 / (1 << zoom)
        x0, y0 = tx * 256.0 * res - hc, ty * 256.0 * res - hc
        grid = Grid(zgrid.copy(), xpos=x0 - b * cellsize, ypos=y0 - b * cellsize,
                    cellsize=cellsize, ndv=np.nan)
        a = time.perf_counter()
        verts, faces = generate_tin_terra(grid, self._max_error(zoom), use_native=native)
        out = {"terra_s": time.perf_counter() - a, "clip_s": 0.0, "encode_s": 0.0,
               "terra_vertices": len(verts), "cells": zgrid.size,
               "n_vertices": len(verts), "n_faces": 0}
        if not len(faces):
            return out
        tris = verts[faces]
        zmin, zmax = tris[:, :, 2].min(), tris[:, :, 2].max()
        tris[:, :, 0] = (tris[:, :, 0] - x0) / tile_m
        tris[:, :, 1] = (tris[:, :, 1] - y0) / tile_m
        tris[:, :, 2] = (tris[:, :, 2] - zmin) * (1.0 / (zmax - zmin) if zmax > zmin else 1.0)
        a = time.perf_counter()
        clipped = clip_triangles_to_01_quadrant(tris, force_python=not native)
        out["clip_s"] = time.perf_counter() - a
        order = _first_seen_vertex_order(clipped.reshape(-1, 3))
        out["n_vertices"], out["n_faces"] = len(order[0]), len(clipped)
        if len(clipped):
            a = time.perf_counter()
            encode_qm_tile(clipped, (x0, y0, zmin), (x0 + tile_m, y0 + tile_m, zmax),
                           mesh_is_rescaled=True, vertex_order=order)
            out["encode_s"] = time.perf_counter() - a
        return out

    def _run(self, tr):
        self.n += 1
        out = os.path.join(self.dir, f"pyramid-{self.n}")
        store = os.path.join(self.dir, f"store-{self.n}")
        with tr.span("pipeline.build_tile_pyramid"):
            manifest = build_tile_pyramid(
                self.spark, self.docs, out, min_zoom=self.MIN_ZOOM,
                max_zoom=self.MAX_ZOOM, grid_bits=self.GRID_BITS,
                buffer_cells=self.BUFFER, method="terra", resume=False,
            )
        tiles = self.spark.read.parquet(*[os.path.join(out, f"zoom={z}") for z in self.zooms])
        with tr.span("sinks.write_tile_store") as w:
            write_tile_store(tiles, store)
        return out, store, manifest, w.seconds

    def _check(self, store, manifest) -> list[str]:
        bad = []
        keys = ["zoom", "tile_x", "tile_y"]
        # one scan of the store: its tiles per zoom, and the sampled blobs
        per_zoom = (
            self.spark.read.parquet(store)
            .join(self.sample_keys.withColumn("sampled", F.lit(True)), keys, "left")
            .groupBy("zoom")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.collect_list(F.when(F.col("sampled"), F.struct(*keys, "terrain")))
                 .alias("blobs"))
            .collect()
        )
        stored = {r.zoom: r.n for r in per_zoom}
        decoded = {}
        for r in (b for z in per_zoom for b in z.blobs):
            t = decode_qm_tile(bytes(r.terrain))
            decoded[(r.zoom, r.tile_x, r.tile_y)] = (len(t.u), len(t.faces))
        for z in self.zooms:
            if manifest[z]["n_tiles"] != self.expected[z]:
                bad.append(f"zoom {z}: {manifest[z]['n_tiles']} tiles, expected {self.expected[z]}")
            if stored.get(z) != self.expected[z]:
                bad.append(f"zoom {z}: store holds {stored.get(z)} tiles, expected {self.expected[z]}")
        for key, ref in self.reference.items():
            want = (ref["n_vertices"], ref["n_faces"])
            if decoded.get(key) != want:
                bad.append(f"tile {key}: stored blob decodes to (vertices, faces) "
                           f"{decoded.get(key)}, driver-side mesh {want}")
        return bad

    def op(self, tr):
        out, store, manifest, _ = self._run(tr)
        items = sum(manifest[z]["n_tiles"] for z in self.zooms)
        return items, (out, store, manifest)

    def check(self, result) -> list[str]:
        out, store, manifest = result
        try:
            return self._check(store, manifest)
        finally:
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(store, ignore_errors=True)

    def traced_op(self, tr, vals: dict):
        out, store, manifest, write_s = self._run(tr)
        items = sum(manifest[z]["n_tiles"] for z in self.zooms)
        for z, e in read_manifest(out).items():
            vals[f"pipeline.zoom_s.z{z}"] = e["seconds"]
        vals["sinks.write_s"] = write_s
        vals["sinks.bytes_written"] = _dir_bytes(store)
        with tr.span("geocode.geocode_points") as s:
            pts = geocode_points(self.docs, zoom=self.MAX_ZOOM, grid_bits=self.GRID_BITS)
            _noop(pts)
        vals["geocode.s"] = s.seconds
        vals["geocode.rows"] = self.N_PAGES
        with tr.span("meshing.base_cells") as s:
            base = base_cells(pts).persist()
            base.count()
        vals["meshing.base_cells_s"] = s.seconds
        cell_rows = grid_rows = n_tiles = 0
        kernel_s = 0.0
        for z in self.zooms:
            with tr.span("meshing.cell_grid"):
                cells = rollup_cells(base, self.MAX_ZOOM - z).persist()
                cell_rows += cells.count()
                grid = cell_grid(None, z, self.GRID_BITS, self.BUFFER, cells=cells).persist()
                grid_rows += grid.count()
            with tr.span("meshing.mesh_kernel") as s:
                kernel = _make_stream_kernel(z, self.GRID_BITS, self.BUFFER, "terra",
                                             self._max_error(z), 1, False, True)
                n_tiles += (
                    grid.repartition(self.parts, "tile_x", "tile_y")
                    .sortWithinPartitions("tile_x", "tile_y")
                    .mapInPandas(kernel, TILE_SCHEMA).count()
                )
            kernel_s += s.seconds
            grid.unpersist()
            cells.unpersist()
        base.unpersist()
        vals["meshing.cell_rows"] = cell_rows
        vals["meshing.grid_rows"] = grid_rows
        vals["meshing.fanout"] = grid_rows / max(cell_rows, 1)
        vals["meshing.kernel_s"] = kernel_s
        vals["meshing.tiles"] = n_tiles
        with tr.span("kernels.sample"):
            vals.update(self._kernel_probe())
        return items, (out, store, manifest)

    def _kernel_probe(self) -> dict:
        """Per-tile kernel costs on the sampled tiles of every zoom,
        with the dispatch the mesh kernel uses (native when built)."""
        runs = [self._mesh(zgrid, *key, native=True) for key, zgrid in self.sample.items()]
        n = len(runs)
        return {
            "kernels.terra_ms_per_tile": 1000 * sum(r["terra_s"] for r in runs) / n,
            "kernels.insert_fraction": (
                sum(r["terra_vertices"] for r in runs) / sum(r["cells"] for r in runs)
            ),
            "kernels.clip_ms_per_tile": 1000 * sum(r["clip_s"] for r in runs) / n,
            "kernels.encode_ms_per_tile": 1000 * sum(r["encode_s"] for r in runs) / n,
        }


class KnnJoin(Workload):
    """Many-query kNN (shuffle cell join) plus point-in-polygon."""

    # zoom 2 + 5 grid bits = 128 cells per side: at 60k world-uniform
    # points the density-derived first ring is 2 (25 cells, ~48
    # candidates per query), which resolves in one round and keeps the
    # shuffled ball join small (zoom 8 / grid 5 gives a ring of ~28 and
    # a ball join that runs out of memory)
    N_POINTS, N_QUERIES, ZOOM, GRID_BITS, N_POLYS = 60_000, 4_000, 2, 5, 48
    N_CHECK = 16

    def setup(self):
        ids = inputs.id_space(self.rng, self.N_POINTS + self.N_QUERIES)
        perm = self.rng.permutation(len(ids))
        self.pids = np.sort(ids[perm[self.N_QUERIES:]])
        self.points = self.table("points", {"doc_id": self.pids})
        q_ids = np.sort(ids[perm[: self.N_QUERIES]])
        self.queries = self.table("queries", {"doc_id": q_ids})
        self.poly_base = int(self.rng.integers(1, 1_000_000))
        self.check_q = sorted(self.rng.choice(q_ids, self.N_CHECK, replace=False).tolist())
        self.geo = inputs.geocode(self.pids, self.ZOOM, self.GRID_BITS)
        self.polys = J.polygons_df(self.spark, self.N_POLYS, self.poly_base).toPandas()
        self.expected_pip = {
            r.poly_id: set(self.pids[inputs.in_box(self.geo["x"], self.geo["y"], r)].tolist())
            for r in self.polys.itertuples()
        }
        self.samples = []

    def _geo(self, df):
        return geocode_points(df, zoom=self.ZOOM, grid_bits=self.GRID_BITS, with_dem_z=False)

    def _q(self, df):
        return self._geo(df).select(F.col("doc_id").alias("q_id"), "x", "y", "cell_x", "cell_y")

    def _run(self, tr):
        with tr.span("joins.knn_ring") as s1:
            res = J.knn_ring(self._geo(self.points), self._q(self.queries), self.ZOOM,
                             self.GRID_BITS, k=K, cell_join="shuffle")
            n = res.count()
            sample = res.where(F.col("q_id").isin(self.check_q)).collect()
            res.unpersist()
        with tr.span("joins.pip_join") as s2:
            pip = J.pip_join(self._geo(self.points),
                             J.polygons_df(self.spark, self.N_POLYS, self.poly_base),
                             self.ZOOM).select("poly_id", "doc_id").collect()
        return n, sample, pip, s1.seconds, s2.seconds

    def op(self, tr):
        n, sample, pip, _, _ = self._run(tr)
        return self.N_QUERIES, (n, sample, pip)

    def check(self, result) -> list[str]:
        n, sample, pip = result
        bad = []
        if n != K * self.N_QUERIES:
            bad.append(f"knn returned {n} rows, expected {K * self.N_QUERIES}")
        self.samples.append(sorted((r.q_id, r.rank, r.doc_id, r.dist2) for r in sample))
        got: dict[int, set] = {}
        for r in pip:
            got.setdefault(r.poly_id, set()).add(r.doc_id)
        for pid, want in self.expected_pip.items():
            if got.get(pid, set()) != want:
                bad.append(f"pip polygon {pid}: {len(got.get(pid, ()))} hits, expected {len(want)}")
        return bad

    def final_checks(self) -> list[str]:
        qdf = self.spark.createDataFrame([(q,) for q in self.check_q], "doc_id bigint")
        ref = J.knn_brute(self._geo(self.points), self._q(qdf).select("q_id", "x", "y"), k=K)
        want = sorted((r.q_id, r.rank, r.doc_id, r.dist2) for r in ref.collect())
        return [
            f"op {i}: sampled kNN rows differ from knn_brute"
            for i, got in enumerate(self.samples) if got != want
        ]

    def traced_op(self, tr, vals: dict):
        c = self.ctx.counters
        with tr.span("geocode.geocode_points") as s:
            _noop(self._geo(self.points))
        vals["geocode.s"] = s.seconds
        vals["geocode.rows"] = self.N_POINTS
        mark = c.execution_mark()
        n, sample, pip, knn_s, pip_s = self._run(tr)
        cand = c.node_rows(mark, "ShuffledHashJoin")
        vals["joins.knn_s"] = knn_s
        vals["joins.candidate_rows"] = cand
        vals["joins.knn_yield"] = K * self.N_QUERIES / max(cand, 1)
        vals["joins.pip_s"] = pip_s
        tile_rows = inputs.pip_tile_rows(self.geo["tile_x"], self.geo["tile_y"],
                                         self.polys, self.ZOOM)
        vals["joins.pip_yield"] = len(pip) / max(tile_rows, 1)
        return self.N_QUERIES, (n, sample, pip)


class Dedup(Workload):
    """Batch dedup: near_dup_pairs over a crawl batch, the batch's LSH
    index (band_keys + shingle sets) written, then the next batch probed
    against it with dedup_against_store."""

    N_BATCH, N_SELF, N_NEW, THRESHOLD = 2_000, 100, 400, 0.5

    def setup(self):
        ids = inputs.id_space(self.rng, self.N_BATCH + self.N_NEW)
        texts = inputs.text_batch(self.rng, self.N_BATCH)
        batch_ids = ids[: self.N_BATCH]
        self.batch = self.table("batch", {"doc_id": batch_ids, "text": texts})
        self_pos, new = inputs.probe_batch(self.rng, texts, self.N_SELF, self.N_NEW)
        probe_ids = np.concatenate([batch_ids[self_pos], ids[self.N_BATCH:]])
        probe_texts = [texts[i] for i in self_pos] + new
        self.probe = self.table("probe", {"doc_id": probe_ids, "text": probe_texts})
        self.n_probe = len(probe_ids)
        self.self_ids = set(batch_ids[self_pos].tolist())
        self.store = os.path.join(self.dir, "lsh-store")
        self.truth = inputs.NearDups(dict(zip(batch_ids.tolist(), texts)), self.THRESHOLD)
        self.probe_truth = {
            d: self.truth.matches(t) for d, t in zip(probe_ids.tolist(), probe_texts)
        }

    def _run(self, tr):
        bands, shingles = (os.path.join(self.store, t) for t in ("bands", "shingles"))
        with tr.span("dedup.near_dup_pairs") as s1:
            pairs = D.near_dup_pairs(self.batch, self.THRESHOLD).collect()
        with tr.span("dedup.store_write"):
            D.band_keys(self.batch).write.mode("overwrite").parquet(bands)
            D.shingles_df(self.batch).write.mode("overwrite").parquet(shingles)
        with tr.span("dedup.dedup_against_store") as s2:
            probed = D.dedup_against_store(
                self.probe, self.spark.read.parquet(bands), self.spark.read.parquet(shingles),
                self.THRESHOLD,
            ).collect()
        self.spark.catalog.clearCache()  # near_dup_pairs leaves its caches
        return pairs, probed, s1.seconds, s2.seconds

    def op(self, tr):
        pairs, probed, _, _ = self._run(tr)
        return self.N_BATCH + self.n_probe, (pairs, probed)

    def _recall(self, what: str, jaccards: list, found: int) -> list[str]:
        """LSH is probabilistic: with the operators' default 4 bands of
        r minhashes, a pair of Jaccard s is a candidate with
        p = 1 - (1 - s^r)^4. Fewer finds than the expected count minus
        four standard deviations is a failure."""
        r = len(D.MINHASH_FUNCS) // 4
        ps = [1 - (1 - s ** r) ** 4 for s in jaccards]
        floor = sum(ps) - 4 * math.sqrt(sum(p * (1 - p) for p in ps))
        if found < floor:
            return [f"{what}: found {found} of {len(ps)}, expected at least {floor:.1f}"]
        return []

    def check(self, result) -> list[str]:
        pairs, probed = result
        t = self.truth
        bad = []
        got = set()
        for p in pairs:
            want = t.pair(p.doc_a, p.doc_b)
            if want is None or want != (p.n_inter, p.jaccard):
                bad.append(f"pair ({p.doc_a}, {p.doc_b}): n_inter/jaccard "
                           f"{(p.n_inter, p.jaccard)}, driver {want}")
            got.add((p.doc_a, p.doc_b))
        # identical shingle sets share every LSH bucket: a small group
        # must come back whole, a hot one (past the bucket cap) as a
        # star, i.e. connected
        parent: dict[int, int] = {}

        def root(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in got:
            parent[root(a)] = root(b)
        for g in t.groups:
            if len(g) <= D.BUCKET_CAP:
                missing = [(a, b) for i, a in enumerate(g) for b in g[i + 1:] if (a, b) not in got]
                if missing:
                    bad.append(f"{len(missing)} pairs of identical docs missing, e.g. {missing[0]}")
            elif len({root(d) for d in g}) != 1:
                bad.append(f"a group of {len(g)} identical docs is not connected")
        bad += self._recall("near-duplicate pairs", [j for _, j in t.pairs.values()],
                            sum(1 for k in t.pairs if k in got))
        if len(probed) != self.n_probe:
            bad.append(f"probe returned {len(probed)} rows for {self.n_probe} docs")
        dups = {r.doc_id for r in probed if r.is_dup}
        for r in probed:
            if r.doc_id in self.self_ids and not r.is_dup:
                bad.append(f"stored doc {r.doc_id} probed against its own store is not a duplicate")
            if r.is_dup:
                jac = self.probe_truth[r.doc_id].get(r.dup_of)
                if jac is None or abs(jac - r.jaccard) > 1e-6:
                    bad.append(f"probe {r.doc_id} ~ {r.dup_of}: jaccard {r.jaccard}, driver {jac}")
        near = {d: max(m.values()) for d, m in self.probe_truth.items()
                if m and d not in self.self_ids}
        bad += self._recall("probe duplicates", list(near.values()),
                            sum(1 for d in near if d in dups))
        return bad

    def traced_op(self, tr, vals: dict):
        with tr.span("dedup.minhash_signatures") as s:
            _noop(D.minhash_signatures(self.batch))
        vals["dedup.signature_s"] = s.seconds
        with tr.span("dedup.lsh_candidates") as s:
            cand = D.lsh_candidates(self.batch).count()
        # lsh_candidates persists its band table; near_dup_pairs must
        # not find it cached, so its time holds the LSH stage as in the
        # untraced op
        self.spark.catalog.clearCache()
        vals["dedup.candidate_pairs"] = cand
        pairs, probed, pairs_s, probe_s = self._run(tr)
        # near_dup_pairs = lsh_candidates + the Jaccard refine
        vals["dedup.refine_s"] = max(pairs_s - s.seconds, 0.0)
        vals["dedup.refine_yield"] = len(pairs) / max(cand, 1)
        vals["dedup.store_probe_s"] = probe_s
        return self.N_BATCH + self.n_probe, (pairs, probed)


class Catalog(Workload):
    """The catalog's batch jobs, one after the other: the many-query
    kNN + point-in-polygon of KnnJoin, then the crawl-batch dedup of
    Dedup. JVM shuffles and joins only; no Python kernels run."""

    name, item = "catalog", "records"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.members = (KnnJoin(ctx), Dedup(ctx))

    def setup(self):
        for w in self.members:
            w.setup()

    def op(self, tr):
        done = [w.op(tr) for w in self.members]
        return sum(n for n, _ in done), [r for _, r in done]

    def check(self, result) -> list[str]:
        return [b for w, r in zip(self.members, result) for b in w.check(r)]

    def final_checks(self) -> list[str]:
        return [b for w in self.members for b in w.final_checks()]

    def traced_op(self, tr, vals: dict):
        done = [w.traced_op(tr, vals) for w in self.members]
        return sum(n for n, _ in done), [r for _, r in done]


WORKLOADS = {w.name: w for w in (Pyramid, Catalog)}
