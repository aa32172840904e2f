"""Self-tests of the benchmark's inputs and references (no Spark needed).

    python3 -m pytest gfbench -q -p no:cacheprovider

- Seed invariance: across seeds the inputs differ, but every work count of
  every workload is equal (polygons, edges, candidate pairs, boundary pairs,
  edge x pixel tests, points, kNN queries).
- The numpy county reference used by timed zonal runs equals DuckDB over
  the oracle CTEs on both grids.
- The scanline masks of the seeded polygons equal the engine's ray cast.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gfbench import checks, inputs, workcount  # noqa: E402
from gridfia_spark import geom  # noqa: E402
from gridfia_spark.constants import PIX, X0, Y0  # noqa: E402
from gridfia_spark.datagen import vectors  # noqa: E402

SEEDS = [1, 2, 3, 4, 5]


def work_counts(grid: str, seed: int) -> dict:
    spec = inputs.GRIDS[grid]
    seeded = inputs.seeded_polygons(grid, seed)
    rings = inputs.all_rings(spec, seeded)
    counts = workcount.index_counts(spec, rings, workcount.join_res(spec))
    ids, _, _ = inputs.seeded_points(spec, seed)
    counts.update(
        polygons=len(rings),
        edges=sum(len(r) - 1 for r in rings),
        points=len(ids),
        knn_queries=len(ids),
    )
    return counts


@pytest.mark.parametrize("grid", sorted(inputs.GRIDS))
def test_work_is_seed_invariant(grid):
    counts = [work_counts(grid, s) for s in SEEDS]
    for c in counts[1:]:
        assert c == counts[0]


@pytest.mark.parametrize("grid", sorted(inputs.GRIDS))
def test_inputs_differ_across_seeds(grid):
    spec = inputs.GRIDS[grid]
    placements = {
        s: tuple(p.tile_offset for p in inputs.seeded_polygons(grid, s)) for s in SEEDS
    }
    assert len(set(placements.values())) == len(SEEDS)
    xs = [inputs.seeded_points(spec, s)[1] for s in SEEDS]
    assert all(not np.array_equal(xs[0], x) for x in xs[1:])


def test_same_seed_same_inputs():
    a = inputs.seeded_polygons("g24", 7)
    b = inputs.seeded_polygons("g24", 7)
    assert [p.tile_offset for p in a] == [p.tile_offset for p in b]


@pytest.mark.parametrize("grid", sorted(inputs.GRIDS))
def test_county_reference_matches_duckdb(grid):
    spec = inputs.GRIDS[grid]
    cube = inputs.raster_cube(spec)
    stats, pairs = checks.zonal_reference(spec, cube, vectors.county_grid(spec), [])
    assert stats == checks.duck_county_zonal(spec)
    assert pairs == checks.duck_county_assignment(spec)


@pytest.mark.parametrize("shape", sorted(inputs.SHAPES))
def test_scanline_mask_matches_ray_cast(shape):
    ring = inputs.place(shape, 1, 1, 64, 64)
    x0, y0, mask = checks.lattice_mask(ring)
    h, w = mask.shape
    cx = X0 + (x0 + np.arange(w) + 0.5) * PIX
    cy = Y0 - (y0 + np.arange(h) + 0.5) * PIX
    gx, gy = np.meshgrid(cx, cy)
    poly = inputs.SeededPolygon("p", shape, (1, 1), ring)
    ray = geom.points_in_polygon(gx.ravel(), gy.ravel(), [poly.ring_m]).reshape(h, w)
    assert np.array_equal(mask, ray)
    assert len(ring) - 1 == 128
