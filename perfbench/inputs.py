"""Seeded input generators. The same seed gives the same tables, byte
for byte; the program only ever sees the parquet files written here.

Known program limit: the geocoder's integer hash (functions/
geocode_exprs.py, u_hash_sql) multiplies the page id by up to
2654435789 in BIGINT, which overflows int64 under ANSI mode once an
id exceeds DOC_ID_LIMIT (~3.47e9). Every generated id stays below it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_MAX_MUL, _MAX_ADD = 2654435789, 40503  # the "u3" hash stream
DOC_ID_LIMIT = (2**63 - 1 - _MAX_ADD) // _MAX_MUL


def id_space(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct page ids from a seed-chosen base and stride."""
    stride = int(rng.integers(1, 8))
    base = int(rng.integers(1, DOC_ID_LIMIT - (n + 1) * stride))
    ids = base + stride * np.arange(n, dtype=np.int64)
    if ids.max() >= DOC_ID_LIMIT:
        raise ValueError(f"generated doc_id {ids.max()} >= limit {DOC_ID_LIMIT}")
    return ids


_HC = 20037508.342789243  # geocode_exprs.HALF_CIRCUMFERENCE


def _u_hash(ids: np.ndarray, m1: int, a1: int, m2: int, a2: int) -> np.ndarray:
    mod = 2147483647
    return (((ids * m1 + a1) % mod) * m2 + a2) % mod / float(mod)


def geocode(ids: np.ndarray, zoom: int, grid_bits: int) -> dict:
    """Driver-side twin of operators.geocode.geocode_points (the same
    integer hash and IEEE double steps, so the same x, y, tile and
    cell): the reference the output checks derive expectations from."""
    x = -_HC + 2.0 * _HC * _u_hash(ids, 2654435761, 1013904223, 1664525, 1013904223)
    y = -_HC + 2.0 * _HC * _u_hash(ids, 2246822519, 3266489917, 69069, 362437)
    return {
        "x": x, "y": y, "tile_x": tile_index(x, zoom), "tile_y": tile_index(y, zoom),
        "cell_x": tile_index(x, zoom + grid_bits), "cell_y": tile_index(y, zoom + grid_bits),
    }


def tile_index(m, zoom: int):
    """Mercator meters -> tile index at `zoom` (ceil - 1 tie rule)."""
    px = (np.asarray(m) + _HC) * (float(1 << zoom) / (2.0 * _HC / 256))
    return np.ceil(px / 256.0).astype(np.int64) - 1


def pip_tile_rows(tile_x, tile_y, boxes, zoom: int) -> int:
    """Rows the tile equi-join of operators.joins.pip_join yields before
    its exact box refine: per box, the points in its covering tiles.
    `boxes` holds pmin_x, pmax_x, pmin_y, pmax_y arrays."""
    n = 1 << zoom
    counts = np.zeros((n, n), np.int64)
    np.add.at(counts, (tile_x, tile_y), 1)
    tx0 = np.clip(tile_index(boxes["pmin_x"], zoom), 0, n - 1)
    tx1 = np.clip(tile_index(boxes["pmax_x"], zoom), 0, n - 1)
    ty0 = np.clip(tile_index(boxes["pmin_y"], zoom), 0, n - 1)
    ty1 = np.clip(tile_index(boxes["pmax_y"], zoom), 0, n - 1)
    return int(sum(counts[a:b + 1, c:d + 1].sum() for a, b, c, d in zip(tx0, tx1, ty0, ty1)))


def in_box(x, y, box) -> np.ndarray:
    return (x >= box.pmin_x) & (x <= box.pmax_x) & (y >= box.pmin_y) & (y <= box.pmax_y)


def write_table(path: str, columns: dict, n_files: int) -> None:
    """Write `columns` as `n_files` parquet files under `path`, so a
    scan has one partition per core instead of one for the table."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def _fresh_doc(rng: np.random.Generator, vocab: int) -> list[str]:
    n = int(rng.integers(12, 48))
    return [f"w{t}" for t in rng.integers(0, vocab, n)]


def _perturb(rng: np.random.Generator, toks: list[str], vocab: int) -> list[str]:
    """One or two token substitutions: a near duplicate whose shingle
    Jaccard with the original stays well above 0.5 for these lengths."""
    out = list(toks)
    for _ in range(int(rng.integers(1, 3))):
        out[int(rng.integers(0, len(out)))] = f"w{int(rng.integers(0, vocab))}"
    return out


def text_batch(rng: np.random.Generator, n: int, vocab: int = 5000) -> list[str]:
    """A duplicate-heavy crawl batch. The seed picks the near-duplicate
    share (25-45 %) and every perturbation. Two or three boilerplate
    pages repeat 110-160 times each, so their LSH buckets exceed the
    operator's hot-bucket cap (100) and take the hub-star path; the
    near duplicates take the pair-join path."""
    docs: list[list[str]] = []
    for _ in range(int(rng.integers(2, 4))):
        tmpl = _fresh_doc(rng, vocab)
        docs.extend([tmpl] * int(rng.integers(110, 161)))
    dup_share = float(rng.uniform(0.25, 0.45))
    originals: list[list[str]] = []
    while len(docs) < n:
        if originals and rng.random() < dup_share:
            docs.append(_perturb(rng, originals[int(rng.integers(0, len(originals)))], vocab))
        else:
            d = _fresh_doc(rng, vocab)
            originals.append(d)
            docs.append(d)
    order = rng.permutation(len(docs))[:n]
    return [" ".join(docs[i]) for i in order]


def probe_batch(rng: np.random.Generator, stored: list[str], n_self: int,
                n_new: int, vocab: int = 5000) -> tuple[np.ndarray, list[str]]:
    """The next batch against a stored one: positions of `n_self`
    stored docs re-sent verbatim, and `n_new` new docs, half perturbed
    copies of stored docs, half fresh."""
    self_pos = rng.choice(len(stored), n_self, replace=False)
    new = []
    for i in range(n_new):
        if i % 2 == 0:
            src = stored[int(rng.integers(0, len(stored)))].split(" ")
            new.append(" ".join(_perturb(rng, src, vocab)))
        else:
            new.append(" ".join(_fresh_doc(rng, vocab)))
    return self_pos, new


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Driver-side twin of the operator's shingling (split on one
    space; docs shorter than n tokens are one whole-doc shingle)."""
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class NearDups:
    """Exact shingle-set Jaccard over a batch, by brute force through an
    inverted index of its distinct shingle sets: the reference the
    dedup checks hold the LSH operators to.

    `groups` are the doc ids sharing one shingle set (two or more docs);
    `pairs` maps (a, b), a < b, to (n_inter, Jaccard) for docs with
    different sets and a Jaccard at or above the threshold."""

    def __init__(self, texts: dict[int, str], threshold: float):
        by_set: dict[frozenset, list[int]] = {}
        for d, t in texts.items():
            by_set.setdefault(frozenset(shingle_set(t)), []).append(d)
        self.threshold = threshold
        self.sets = list(by_set)
        self.docs = [sorted(ds) for ds in by_set.values()]
        self.set_of = {d: i for i, ds in enumerate(self.docs) for d in ds}
        self.index: dict[str, list[int]] = {}
        for i, s in enumerate(self.sets):
            for sh in s:
                self.index.setdefault(sh, []).append(i)
        self.groups = [ds for ds in self.docs if len(ds) > 1]
        self.pairs: dict[tuple[int, int], tuple[int, float]] = {}
        for i, s in enumerate(self.sets):
            for j, hit in self._near(s).items():
                if j > i:
                    for a in self.docs[i]:
                        for b in self.docs[j]:
                            self.pairs[(min(a, b), max(a, b))] = hit

    def _near(self, s: frozenset) -> dict[int, tuple[int, float]]:
        """Set index -> (n_inter, Jaccard) for every batch set whose
        Jaccard with `s` reaches the threshold (rounded to 6 places, as
        the operators do)."""
        counts: dict[int, int] = {}
        for sh in s:
            for j in self.index.get(sh, ()):
                counts[j] = counts.get(j, 0) + 1
        out = {}
        for j, n in counts.items():
            jac = round(n / (len(s) + len(self.sets[j]) - n), 6)
            if jac >= self.threshold:
                out[j] = (n, jac)
        return out

    def pair(self, a: int, b: int) -> tuple[int, float] | None:
        """(n_inter, Jaccard) of two batch docs; None below the threshold."""
        i = self.set_of[a]
        if i == self.set_of[b]:
            return len(self.sets[i]), 1.0
        return self.pairs.get((a, b))

    def matches(self, text: str) -> dict[int, float]:
        """Batch doc id -> Jaccard with `text`, for those at or above
        the threshold."""
        near = self._near(frozenset(shingle_set(text)))
        return {d: jac for j, (_, jac) in near.items() for d in self.docs[j]}
