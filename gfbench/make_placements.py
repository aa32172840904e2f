"""Regenerate ``placements.json``: the tile offsets at which each seeded shape
may be placed.

A shape moved by whole tiles keeps its pixel masks and tile relations, but
the engine's covering cells (quadtree cells at the join resolution) do not
line up with tiles, so the candidate-pair and boundary-pair counts of the
index still vary with the offset. This script counts them for every offset
that keeps the shape inside the raster and keeps the offsets that give the
most common count pair. Any draw from the kept list then does the same work.

Run from the repository root: ``python3 gfbench/make_placements.py``.
"""

from __future__ import annotations

import collections
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gfbench import inputs  # noqa: E402
from gfbench.workcount import index_counts, join_res  # noqa: E402


def offsets_for(grid: str, shape: str) -> dict:
    spec = inputs.GRIDS[grid]
    w, h = inputs.SHAPES[shape][:2]
    ox, oy = inputs.SUB_TILE_OFFSET
    res = join_res(spec)
    counts = {}
    for ty in range(spec.tiles_y):
        for tx in range(spec.tiles_x):
            ring = inputs.place(shape, tx, ty, spec.tile_w, spec.tile_h)
            if ring[:, 0].max() > spec.gw or ring[:, 1].max() > spec.gh:
                continue
            poly = inputs.SeededPolygon("p", shape, (tx, ty), ring)
            c = index_counts(spec, [poly.ring_m], res)
            counts[(tx, ty)] = (c["candidate_pairs"], c["boundary_pairs"])
    mode, _ = collections.Counter(counts.values()).most_common(1)[0]
    keep = sorted(k for k, v in counts.items() if v == mode)
    return {
        "candidate_pairs": mode[0],
        "boundary_pairs": mode[1],
        "offsets": [list(k) for k in keep],
        "offsets_considered": len(counts),
    }


def dumps(table: dict) -> str:
    """JSON with one line per offset list, so diffs stay readable."""
    lines = ["{"]
    for gi, (grid, shapes) in enumerate(table.items()):
        lines.append(f' "{grid}": {{')
        for si, (shape, rec) in enumerate(shapes.items()):
            lines += [
                f'  "{shape}": {{',
                f'   "candidate_pairs": {rec["candidate_pairs"]}, '
                f'"boundary_pairs": {rec["boundary_pairs"]}, '
                f'"offsets_considered": {rec["offsets_considered"]},',
                f'   "offsets": {json.dumps(rec["offsets"], separators=(",", ":"))}',
                "  }" + ("," if si < len(shapes) - 1 else ""),
            ]
        lines.append(" }" + ("," if gi < len(table) - 1 else ""))
    return "\n".join(lines + ["}"]) + "\n"


def main() -> None:
    out = {}
    for grid, shapes in inputs.POLYGON_SET.items():
        out[grid] = {shape: offsets_for(grid, shape) for shape, _ in shapes}
        for shape, n in shapes:
            got = len(out[grid][shape]["offsets"])
            if got < n:
                raise SystemExit(f"{grid}/{shape}: {got} offsets < {n} polygons")
    with open(os.path.join(inputs.HERE, "placements.json"), "w") as fh:
        fh.write(dumps(out))
    for grid, shapes in out.items():
        for shape, rec in shapes.items():
            print(grid, shape, rec["candidate_pairs"], rec["boundary_pairs"],
                  len(rec["offsets"]), "/", rec["offsets_considered"])


if __name__ == "__main__":
    main()
