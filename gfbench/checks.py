"""Independent references for every output the benchmark checks.

- Rectangular counties: DuckDB over the ``datagen/oracle_sql.py`` CTEs
  (zonal, tile assignment, point-in-polygon, pixel metrics). DuckDB needs
  about 6 s for the county zonal query on the g24 grid, more than a run can
  spend, so timed zonal runs compare against the numpy reference below; the
  self-test proves that reference equal to DuckDB on both grids.
- Seeded polygons: a scanline fill of their pixel masks (numpy), which
  shares no code with the engine's ray cast.
- kNN: brute force on a sample of queries.
- Zarr store: every chunk file decompressed and compared with the pixels.
"""

from __future__ import annotations

import json
import math
import os
import zlib

import numpy as np

from gridfia_spark.constants import PIX, SPECIES, X0, Y0, GridSpec, image_id
from gridfia_spark.datagen import oracle_sql as osql

REL_TOL = 1e-9  # float sums whose order differs between engine and reference


# ---------------------------------------------------------------- masks


def lattice_mask(ring_px: np.ndarray):
    """Pixel mask of a rectilinear ring with integer vertices (pixel-corner
    units, y down) by a scanline fill: each vertical edge toggles the pixels
    to its left on the rows it spans. Returns (x0, y0, mask)."""
    x0, y0 = ring_px.min(axis=0)
    x1, y1 = ring_px.max(axis=0)
    acc = np.zeros((y1 - y0, x1 - x0 + 1), dtype=np.int32)
    for (ax, ay), (bx, by) in zip(ring_px[:-1], ring_px[1:]):
        if ax != bx:
            continue  # horizontal edges never cross a row centre
        lo, hi = sorted((ay, by))
        acc[lo - y0:hi - y0, 0] += 1
        acc[lo - y0:hi - y0, ax - x0] -= 1
    mask = (np.cumsum(acc, axis=1)[:, :-1] % 2).astype(bool)
    return int(x0), int(y0), mask


def rect_ranges(spec: GridSpec, bounds) -> tuple[slice, slice]:
    """Pixel columns/rows whose centres lie strictly inside a rectangle."""
    xmin, ymin, xmax, ymax = bounds
    cx = X0 + (np.arange(spec.gw) + 0.5) * PIX
    cy = Y0 - (np.arange(spec.gh) + 0.5) * PIX
    xs = np.flatnonzero((cx > xmin) & (cx < xmax))
    ys = np.flatnonzero((cy > ymin) & (cy < ymax))
    return slice(ys[0], ys[-1] + 1), slice(xs[0], xs[-1] + 1)


def _stats(vals: np.ndarray) -> tuple:
    return (int(vals.size), float(vals.sum(dtype=np.float64)), float(vals.max()),
            int((vals > 0).sum()))


def zonal_reference(spec: GridSpec, cube: np.ndarray, counties, seeded) -> tuple[dict, set]:
    """({(poly_id, s): (n_px, sum_v, max_v, nonzero_px)}, {(poly_id, image_id)})."""
    stats, pairs = {}, set()
    codes = [c for c, _ in SPECIES]

    def add(poly_id, ys, xs, mask):
        block = cube[:, ys, xs]
        for s in range(cube.shape[0]):
            vals = block[s][mask] if mask is not None else block[s].ravel()
            stats[(poly_id, s)] = _stats(vals)
        rows = np.arange(ys.start, ys.stop)
        cols = np.arange(xs.start, xs.stop)
        if mask is not None:
            r, c = np.nonzero(mask)
            rows, cols = rows[r], cols[c]
            tiles = set(zip((cols // spec.tile_w).tolist(), (rows // spec.tile_h).tolist()))
        else:
            tiles = {(tx, ty) for tx in set((cols // spec.tile_w).tolist())
                     for ty in set((rows // spec.tile_h).tolist())}
        for tx, ty in tiles:
            for code in codes:
                pairs.add((poly_id, image_id(code, tx, ty)))

    for p in counties:
        ys, xs = rect_ranges(spec, p.bounds)
        add(p.poly_id, ys, xs, None)
    for p in seeded:
        x0, y0, mask = lattice_mask(p.ring_px)
        add(p.poly_id, slice(y0, y0 + mask.shape[0]), slice(x0, x0 + mask.shape[1]), mask)
    return stats, pairs


def compare_zonal(rows, ref: dict) -> str | None:
    """Engine zonal rows vs reference; None when equal, else the first diff."""
    got = {}
    for r in rows:
        got[(r.poly_id, int(r.s))] = (int(r.n_px), float(r.sum_v), float(r.max_v), int(r.nonzero_px))
        if not math.isclose(float(r.mean_v), float(r.sum_v) / int(r.n_px), rel_tol=REL_TOL):
            return f"mean_v of {r.poly_id}/{r.s}"
    want = {k: v for k, v in ref.items() if v[0] > 0}
    if got.keys() != want.keys():
        return f"groups differ: {sorted(set(got) ^ set(want))[:4]}"
    for k, v in want.items():
        if got[k] != v:
            return f"{k}: engine {got[k]} != reference {v}"
    return None


# ---------------------------------------------------------------- DuckDB


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=4")
    return con


def _county_maps(spec: GridSpec) -> str:
    """County -> pixel column / row maps as equi-join tables (a range join
    over 30 M pixels runs for minutes in DuckDB 1.0)."""
    cx = f"{X0!r} + g.gx*{PIX!r} + {PIX / 2!r}"
    cy = f"{Y0!r} - g.gy*{PIX!r} - {PIX / 2!r}"
    return f"""cx AS (SELECT c.poly_id, g.gx FROM counties c, generate_series(0, {spec.gw - 1}) g(gx)
       WHERE {cx} > c.xmin AND {cx} < c.xmax),
cy AS (SELECT c.poly_id, g.gy FROM counties c, generate_series(0, {spec.gh - 1}) g(gy)
       WHERE {cy} > c.ymin AND {cy} < c.ymax)"""


def duck_county_zonal(spec: GridSpec) -> dict:
    """County zonal stats of every layer from the oracle CTEs."""
    agg = """COUNT(*)::BIGINT, CAST(SUM(p.v) AS DOUBLE), CAST(MAX(p.v) AS DOUBLE),
       SUM(CASE WHEN p.v > 0 THEN 1 ELSE 0 END)::BIGINT"""
    join = "JOIN cx ON p.gx = cx.gx JOIN cy ON cy.poly_id = cx.poly_id AND cy.gy = p.gy"
    con = _duck()
    out = {}
    for src, cte in (("val", osql.val_cte(spec)), ("total", osql.total_cte(spec))):
        s = "p.s" if src == "val" else "0"
        sql = f"""WITH {cte}, {osql.counties_cte(spec)}, {_county_maps(spec)}
SELECT cx.poly_id, {s} AS s, {agg} FROM {src} p {join} GROUP BY 1, 2"""
        for pid, s_, n, sm, mx, nz in con.execute(sql).fetchall():
            out[(pid, int(s_))] = (int(n), float(sm), float(mx), int(nz))
    return out


def duck_county_assignment(spec: GridSpec) -> set:
    sql = f"""WITH {osql.tiles_cte(spec)}, {osql.counties_cte(spec)}
SELECT c.poly_id, t.image_id FROM tiles t JOIN counties c
  ON t.xmin < c.xmax AND t.xmax > c.xmin AND t.ymin < c.ymax AND t.ymax > c.ymin"""
    return set(_duck().execute(sql).fetchall())


def duck_county_pip(spec: GridSpec, ids, x, y) -> set:
    import pandas as pd

    con = _duck()
    con.register("pts", pd.DataFrame({"point_id": ids, "x": x, "y": y}))
    sql = f"""WITH {osql.counties_cte(spec)}
SELECT p.point_id, c.poly_id FROM pts p JOIN counties c
  ON p.x > c.xmin AND p.x < c.xmax AND p.y > c.ymin AND p.y < c.ymax"""
    return {(int(a), b) for a, b in con.execute(sql).fetchall()}


# Checksums of the per-pixel metric tables: integer-weighted sums catch a
# value moved to the wrong pixel, which a plain sum would not.
METRIC_SUMS = {
    "metrics": ["richness", "total_v", "dominant"],
    "diversity": ["shannon", "simpson_inv", "evenness"],
}


def checksum_exprs(cols: list[str]) -> list[str]:
    out = ["COUNT(*)"]
    for c in cols:
        out += [f"SUM({c})", f"SUM({c} * (gx + 1))", f"SUM({c} * (gy + 1))"]
    return out


def duck_pixel_checksums(spec: GridSpec) -> dict:
    """Checksums of the richness/total/dominant and diversity tables and the
    per-tile decode statistics, from the oracle CTEs."""
    con = _duck()
    m = f"""WITH {osql.val_cte(spec)},
m AS (SELECT gx, gy, SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS richness,
             CAST(SUM(v) AS DOUBLE) AS total_v, MAX(v) AS mx FROM val GROUP BY gx, gy),
d AS (SELECT v.gx, v.gy, MIN(v.s) AS min_s FROM val v
      JOIN m ON v.gx = m.gx AND v.gy = m.gy AND v.v = m.mx GROUP BY v.gx, v.gy),
t AS (SELECT m.gx, m.gy, m.richness, m.total_v,
             CASE WHEN m.mx > 0 THEN d.min_s ELSE 0 END AS dominant
      FROM m JOIN d ON m.gx = d.gx AND m.gy = d.gy)
SELECT {", ".join(checksum_exprs(METRIC_SUMS["metrics"]))} FROM t"""
    dv = f"""WITH {osql.val_cte(spec)},
t AS (SELECT gx, gy, CAST(SUM(v) AS DOUBLE) AS total,
             SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS rich FROM val GROUP BY gx, gy),
sh AS (SELECT v.gx, v.gy,
         SUM(CASE WHEN v.v > 0 THEN -(v.v / t.total) * ln(v.v / t.total) ELSE 0 END) AS shannon,
         SUM(CASE WHEN v.v > 0 THEN (v.v / t.total) * (v.v / t.total) ELSE 0 END) AS sumsq
       FROM val v JOIN t ON v.gx = t.gx AND v.gy = t.gy AND t.total > 0 GROUP BY v.gx, v.gy),
r AS (SELECT t.gx, t.gy, COALESCE(sh.shannon, 0.0) AS shannon,
             CASE WHEN sh.sumsq IS NOT NULL THEN 1.0 / sh.sumsq ELSE 1.0 END AS simpson_inv,
             CASE WHEN t.rich > 1 THEN sh.shannon / ln(t.rich) ELSE 0.0 END AS evenness
      FROM t LEFT JOIN sh ON t.gx = sh.gx AND t.gy = sh.gy)
SELECT {", ".join(checksum_exprs(METRIC_SUMS["diversity"]))} FROM r"""
    ds = f"""WITH {osql.val_cte(spec)},
allpx AS (SELECT s, gx, gy, v FROM val UNION ALL
          SELECT 0 AS s, gx, gy, SUM(v) AS v FROM val GROUP BY gx, gy),
{osql.tiles_cte(spec)}
SELECT t.image_id, t.s, CAST(MIN(p.v) AS DOUBLE), CAST(MAX(p.v) AS DOUBLE),
       CAST(SUM(p.v) AS DOUBLE), SUM(CASE WHEN p.v > 0 THEN 1 ELSE 0 END)::BIGINT,
       COUNT(*)::BIGINT
FROM allpx p JOIN tiles t
  ON p.s = t.s AND p.gx // {spec.tile_w} = t.tx AND p.gy // {spec.tile_h} = t.ty
GROUP BY t.image_id, t.s"""
    return {
        "metrics": [float(v) for v in con.execute(m).fetchone()],
        "diversity": [float(v) for v in con.execute(dv).fetchone()],
        "decode_stats": {r[0]: tuple(float(v) for v in r[1:]) for r in con.execute(ds).fetchall()},
    }


def compare_sums(got: list, want: list) -> str | None:
    for i, (a, b) in enumerate(zip(got, want)):
        if not math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-6):
            return f"checksum {i}: engine {a} != reference {b}"
    return None


def compare_decode_stats(rows, want: dict) -> str | None:
    got = {r.image_id: (float(r.s), float(r.vmin), float(r.vmax), float(r.vsum),
                        float(r.nonzero), float(r.npx)) for r in rows}
    if got.keys() != want.keys():
        return f"{len(set(got) ^ set(want))} image ids differ"
    for k, v in want.items():
        if got[k] != v:
            return f"{k}: engine {got[k]} != reference {v}"
    return None


# ---------------------------------------------------------------- points


def seeded_pip(spec: GridSpec, seeded, ids, x, y) -> set:
    """Seeded polygons are unions of whole pixels, so a point is inside
    exactly when its pixel is inside the mask."""
    gx = np.floor((x - X0) / PIX).astype(np.int64)
    gy = np.floor((Y0 - y) / PIX).astype(np.int64)
    out = set()
    for p in seeded:
        x0, y0, mask = lattice_mask(p.ring_px)
        lx, ly = gx - x0, gy - y0
        ok = (lx >= 0) & (ly >= 0) & (lx < mask.shape[1]) & (ly < mask.shape[0])
        hit = np.zeros(len(ids), dtype=bool)
        hit[ok] = mask[ly[ok], lx[ok]]
        out.update((int(i), p.poly_id) for i in ids[hit])
    return out


def knn_brute(ids, x, y, sample: np.ndarray, k: int) -> dict:
    """{query id: [(neighbor id, dist_sq)] * k} ordered by (dist_sq, id)."""
    out = {}
    for q in sample:
        d = (x - x[q]) * (x - x[q]) + (y - y[q]) * (y - y[q])
        d[q] = np.inf
        order = np.lexsort((ids, d))[:k]
        out[int(ids[q])] = [(int(ids[j]), float(d[j])) for j in order]
    return out


# ---------------------------------------------------------------- zarr


def check_zarr(path: str, array: str, cube: np.ndarray, spec: GridSpec) -> str | None:
    """Decompress every chunk file of a v2 store and compare with the pixels."""
    adir = os.path.join(path, array)
    with open(os.path.join(adir, ".zarray")) as fh:
        meta = json.load(fh)
    if meta["dtype"] != "<f4" or (meta.get("compressor") or {}).get("id") != "zlib":
        return f"unexpected array metadata {meta.get('dtype')} {meta.get('compressor')}"
    th, tw = spec.tile_h, spec.tile_w
    for s in range(cube.shape[0]):
        for ty in range(spec.tiles_y):
            for tx in range(spec.tiles_x):
                with open(os.path.join(adir, f"{s}.{ty}.{tx}"), "rb") as fh:
                    arr = np.frombuffer(zlib.decompress(fh.read()), dtype="<f4")
                want = cube[s, ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
                if not np.array_equal(arr.reshape(th, tw), want):
                    return f"chunk {s}.{ty}.{tx} differs"
    return None
