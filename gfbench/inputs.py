"""Seeded inputs of the benchmark, built without calling the engine.

The tile table is the synthetic tile universe of ``gridfia_spark.datagen``:
its pixel values are a fixed function of (species, gx, gy), which is what
lets DuckDB regenerate them from the oracle CTEs. It is written here with
pyarrow and zlib, in the ``rawz`` row format the engine reads, so setup time
does not move when engine code changes. The seed never changes the tiles.

The seed places the boundary-heavy polygons and draws the query points. A
polygon only ever moves by whole tiles, so its pixel masks and tile-level
relations are the same at every placement. Its placements come from
``placements.json`` (written by ``make_placements.py``): all of them give the
engine's covering index the same candidate-pair and boundary-pair counts, so
the seed changes where the work lies, never how much work a job does.
"""

from __future__ import annotations

import json
import os
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gridfia_spark.constants import (
    PIX,
    SPECIES,
    X0,
    Y0,
    GridSpec,
    caption,
    image_id,
)
from gridfia_spark.datagen import pixels, vectors

HERE = os.path.dirname(os.path.abspath(__file__))

# Grids: g24 (24x24 tiles of 64x64 px, 3,456 images) for zonal; g12 (the
# sf0.1 grid, 864 images) for pixel_metrics and the traced layer probes.
# The mid grid (38x38) makes a zonal job take about 8 s here, too long for
# a steady window inside the per-run time budget (README.md, "Scale").
GRIDS = {
    "g24": GridSpec(24, 24, 64, 64),
    "g12": GridSpec(12, 12, 64, 64),
}

# Boundary-heavy rectilinear shapes: (width px, height px, teeth on the top
# edge, teeth on the bottom edge, tooth depth px). Each tooth adds 4 edges,
# so both shapes have 4 + 4 * 31 = 128 edges. The sub-tile offset keeps every
# edge off the tile borders.
SHAPES = {
    "comb_wide": (300, 220, 16, 15, 40),
    "comb_tall": (180, 340, 16, 15, 24),
}
SUB_TILE_OFFSET = (21, 37)  # px inside the anchor tile
# seeded polygons per grid: (shape, count)
POLYGON_SET = {
    "g24": [("comb_wide", 2), ("comb_tall", 2)],
    "g12": [("comb_wide", 2), ("comb_tall", 2)],
}
N_POINTS = 5_000  # query points of the spatial-join and kNN probes


@dataclass(frozen=True)
class SeededPolygon:
    poly_id: str
    shape: str
    tile_offset: tuple[int, int]  # anchor tile (tx, ty)
    ring_px: np.ndarray  # (n, 2) closed ring in global pixel-corner units

    @property
    def ring_m(self) -> np.ndarray:
        x = X0 + self.ring_px[:, 0] * PIX
        y = Y0 - self.ring_px[:, 1] * PIX
        return np.stack([x, y], axis=1)


def shape_ring(shape: str) -> np.ndarray:
    """Closed ring of a shape in pixel-corner units, origin at its top-left.
    y grows downward (pixel rows)."""
    w, h, n_top, n_bot, depth = SHAPES[shape]
    pts = [(0, h), (0, 0)]
    pitch = w // (n_top + 1)
    for k in range(n_top):  # notches cut down from the top edge
        x0 = pitch * (k + 1) - pitch // 4
        x1 = x0 + pitch // 2
        pts += [(x0, 0), (x0, depth), (x1, depth), (x1, 0)]
    pts.append((w, 0))
    pts.append((w, h))
    pitch = w // (n_bot + 1)
    for k in reversed(range(n_bot)):  # notches cut up from the bottom edge
        x1 = pitch * (k + 1) + pitch // 4
        x0 = x1 - pitch // 2
        pts += [(x1, h), (x1, h - depth), (x0, h - depth), (x0, h)]
    pts.append((0, h))
    ring = np.asarray(pts, dtype=np.int64)
    return ring


def place(shape: str, tx: int, ty: int, tile_w: int, tile_h: int) -> np.ndarray:
    ox, oy = SUB_TILE_OFFSET
    ring = shape_ring(shape).copy()
    ring[:, 0] += tx * tile_w + ox
    ring[:, 1] += ty * tile_h + oy
    return ring


def load_placements() -> dict:
    with open(os.path.join(HERE, "placements.json")) as fh:
        return json.load(fh)


def seeded_polygons(grid: str, seed: int) -> list[SeededPolygon]:
    """The grid's boundary-heavy polygons, placed by ``seed``."""
    spec = GRIDS[grid]
    table = load_placements()[grid]
    rng = np.random.default_rng([seed, 1])
    out = []
    for shape, count in POLYGON_SET[grid]:
        offsets = table[shape]["offsets"]
        picks = rng.choice(len(offsets), size=count, replace=False)
        for k, i in enumerate(sorted(int(p) for p in picks)):
            tx, ty = offsets[i]
            out.append(
                SeededPolygon(
                    f"{shape}_{k:02d}", shape, (tx, ty),
                    place(shape, tx, ty, spec.tile_w, spec.tile_h),
                )
            )
    return out


def all_rings(spec: GridSpec, seeded: list[SeededPolygon]) -> list[np.ndarray]:
    """Outer rings of the zonal polygon table, in its row order: the 3x3
    rectangular fixture counties, then the seeded polygons."""
    return [p.rings[0] for p in vectors.county_grid(spec)] + [p.ring_m for p in seeded]


def polygon_rows(spec: GridSpec, seeded: list[SeededPolygon]) -> list[tuple]:
    """Rows of the engine's polygon table:
    (poly_id, name, geom_wkb, xmin, ymin, xmax, ymax, is_rect)."""
    from gridfia_spark import geom

    rows = []
    for p in vectors.county_grid(spec):
        xmin, ymin, xmax, ymax = p.bounds
        rows.append((p.poly_id, p.name, bytes(p.wkb), xmin, ymin, xmax, ymax, True))
    for p in seeded:
        ring = p.ring_m
        rows.append(
            (
                p.poly_id, p.shape, geom.polygon_to_wkb([ring]),
                float(ring[:, 0].min()), float(ring[:, 1].min()),
                float(ring[:, 0].max()), float(ring[:, 1].max()), False,
            )
        )
    return rows


POLYGON_DDL = (
    "poly_id string, name string, geom_wkb binary, "
    "xmin double, ymin double, xmax double, ymax double, is_rect boolean"
)


def seeded_points(spec: GridSpec, seed: int, n: int = N_POINTS):
    """(point_id, x, y): uniform over the raster, on the 1 m lattice plus
    0.5 m, so no point lies on a polygon edge (edges sit on the 30 m lattice)."""
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(n, dtype=np.int64)
    x = X0 + rng.integers(0, spec.gw * 30, n).astype(np.float64) + 0.5
    y = Y0 - rng.integers(0, spec.gh * 30, n).astype(np.float64) - 0.5
    return ids, x, y


# ------------------------------------------------------------------ tiles


def raster_cube(spec: GridSpec) -> np.ndarray:
    """(n_layers, gh, gw) float32: layer 0 is the total of layers 1..5."""
    gy = np.arange(spec.gh, dtype=np.int64)[:, None]
    gx = np.arange(spec.gw, dtype=np.int64)[None, :]
    cube = np.zeros((len(SPECIES), spec.gh, spec.gw), dtype=np.float32)
    for s in range(1, len(SPECIES)):
        cube[s] = pixels.species_block(s, gx, gy, spec)
        cube[0] += cube[s]
    return cube


def _phash(tiles: np.ndarray) -> np.ndarray:
    """datagen.pixels.phash64 over a (n, h, w) stack. Values are small
    integers, so every block mean is exact in any summation order."""
    n, h, w = tiles.shape
    blocks = tiles.reshape(n, 8, h // 8, 8, w // 8).astype(np.float64).mean(axis=(2, 4))
    bits = (blocks.reshape(n, 64) > blocks.reshape(n, 64).mean(axis=1)[:, None])
    weights = np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)
    return (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64).view(np.int64)


def write_tiles(spec: GridSpec, cube: np.ndarray, path: str, n_files: int = 16) -> None:
    """Write the tile table as Parquet: one row per (species, tile), the six
    layers of a tile adjacent (the engine masks a tile once for all layers
    of one Arrow batch). Tiles are spread over the files in a fixed shuffled
    order, as the engine's own hash-partitioned writer spreads them, so every
    scan task gets a share of any polygon's boundary tiles wherever the seed
    placed it; a spatially banded layout would hand one task all of them."""
    th, tw = spec.tile_h, spec.tile_w
    n_layers = cube.shape[0]
    stack = (
        cube.reshape(n_layers, spec.tiles_y, th, spec.tiles_x, tw)
        .transpose(1, 3, 0, 2, 4)
        .reshape(-1, th, tw)
    )  # order: ty, tx, s
    with ThreadPoolExecutor(4) as pool:  # zlib releases the GIL
        blobs = list(pool.map(lambda t: zlib.compress(t.astype("<f4").tobytes(), 5), stack))
    hashes = _phash(stack)
    ids, caps = [], []
    for ty in range(spec.tiles_y):
        for tx in range(spec.tiles_x):
            for code, name in SPECIES:
                ids.append(image_id(code, tx, ty))
                caps.append(caption(code, name, tx, ty))
    schema = pa.schema(
        [
            pa.field("image_id", pa.string(), False),
            pa.field("bytes", pa.binary(), False),
            pa.field("w", pa.int32(), False),
            pa.field("h", pa.int32(), False),
            pa.field("fmt", pa.string(), False),
            pa.field("caption", pa.string(), False),
            pa.field("phash", pa.int64(), False),
        ]
    )
    n = len(ids)
    table = pa.table(
        [
            pa.array(ids, pa.string()),
            pa.array(blobs, pa.binary()),
            pa.array(np.full(n, tw, np.int32)),
            pa.array(np.full(n, th, np.int32)),
            pa.array(["rawz"] * n, pa.string()),
            pa.array(caps, pa.string()),
            pa.array(hashes),
        ],
        schema=schema,
    )
    order = np.random.default_rng(0).permutation(spec.tiles_x * spec.tiles_y)
    table = table.take((order[:, None] * n_layers + np.arange(n_layers)).ravel())
    os.makedirs(path, exist_ok=True)
    per_file = -(-spec.tiles_y * spec.tiles_x // n_files) * n_layers
    for k, start in enumerate(range(0, n, per_file)):
        pq.write_table(
            table.slice(start, per_file),
            os.path.join(path, f"part-{k:05d}.parquet"),
            compression="zstd",
        )
