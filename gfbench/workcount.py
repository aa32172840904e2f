"""Work counts of the zonal job, computed on the driver with the engine's
public index functions (no Spark).

A candidate pair is a (tile position, polygon) pair that shares a covering
cell; a boundary pair is a candidate pair that is not proven inside by the
cells, so the zonal kernel ray-casts a pixel mask for it. Counts are per
species layer: the kernel reuses one mask for the six layers of a tile.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gridfia_spark import grid
from gridfia_spark.constants import PIX, X0, Y0, GridSpec
from gridfia_spark.operators.broadcast_join import PolygonIndex
from gridfia_spark.operators.spatial_join import covering_at_res


def join_res(spec: GridSpec) -> int:
    """Join resolution of the flagship job: cells about two tiles wide."""
    return grid.res_for_size(spec.tile_w * PIX * 2)


def tile_bboxes(spec: GridSpec):
    """(tx, ty, xmin, ymin, xmax, ymax) arrays of every tile position."""
    ty, tx = np.divmod(np.arange(spec.tiles_x * spec.tiles_y, dtype=np.int64), spec.tiles_x)
    xmin = X0 + tx * spec.tile_w * PIX
    ymax = Y0 - ty * spec.tile_h * PIX
    return tx, ty, xmin, ymax - spec.tile_h * PIX, xmin + spec.tile_w * PIX, ymax


def build_index(rings: list[np.ndarray], res: int) -> PolygonIndex:
    """PolygonIndex.build without a DataFrame: same covering, same layout."""
    recs, bounds = [], []
    for pidx, ring in enumerate(rings):
        cells, full = covering_at_res([ring], res)
        recs.append(pd.DataFrame({"cell_id": cells, "pidx": pidx, "fully_inside": full}))
        bounds.append((ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()))
    return PolygonIndex(
        [str(i) for i in range(len(rings))], [[r] for r in rings],
        np.asarray(bounds, dtype=np.float64), pd.concat(recs, ignore_index=True), res,
    )


def boundary_pairs(spec: GridSpec, index: PolygonIndex):
    """(candidates frame, boundary frame) over every tile position."""
    tx, ty, xmin, ymin, xmax, ymax = tile_bboxes(spec)
    cand = index.candidates(xmin, ymin, xmax, ymax)
    sure = (cand.n_hit == cand.n_cells) & (cand.n_full == cand.n_hit)
    bnd = cand[~sure].copy()
    rows = bnd["row"].to_numpy(dtype=np.int64)
    bnd["tx"], bnd["ty"] = tx[rows], ty[rows]
    return cand, bnd


def index_counts(spec: GridSpec, rings: list[np.ndarray], res: int) -> dict:
    index = build_index(rings, res)
    cand, bnd = boundary_pairs(spec, index)
    edges = np.array([len(r) - 1 for r in rings], dtype=np.int64)
    px = spec.tile_w * spec.tile_h
    return {
        "index_cells": int(len(index.cell_to_poly)),
        "candidate_pairs": int(len(cand)),
        "boundary_pairs": int(len(bnd)),
        "pip_edge_tests": int((edges[bnd["pidx"].to_numpy(dtype=np.int64)] * px).sum()),
    }
