"""The benchmark's workloads: seeded setup, one closed-loop job, its check.

The runner keeps every job's output and calls ``check`` after the timed
window, so the references are built outside both the window and the setup
time.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import functions as F

from gridfia_spark.datagen import vectors
from gridfia_spark.localdf import local_df
from gridfia_spark.operators import broadcast_join, decode, metrics

from . import checks, inputs
from .workcount import join_res


def no_span(name: str):
    return contextlib.nullcontext()


class Workload:
    name = ""
    grid = ""

    def __init__(self, spark, seed: int, work: str, grid: str | None = None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.grid = grid or self.grid
        self.spec = inputs.GRIDS[self.grid]

    def materialise(self, tag: str) -> None:
        """Write this run's inputs under ``work/<tag>`` and open them."""
        self.cube = inputs.raster_cube(self.spec)
        path = os.path.join(self.work, tag, "tiles.parquet")
        inputs.write_tiles(self.spec, self.cube, path)
        self.tiles = self.spark.read.parquet(path)

    @property
    def items(self) -> int:
        return self.spec.n_images

    def job(self, span=no_span):
        """One closed-loop job; ``span(name)`` wraps each call into a module."""
        raise NotImplementedError

    def check(self, output) -> str | None:
        raise NotImplementedError


class Zonal(Workload):
    """Flagship: index build, tile assignment and all-layer zonal stats over
    the 9 fixture counties plus 4 seeded 128-edge polygons (g24 grid)."""

    name = "zonal"
    grid = "g24"

    def materialise(self, tag: str) -> None:
        super().materialise(tag)
        self.seeded = inputs.seeded_polygons(self.grid, self.seed)
        rows = inputs.polygon_rows(self.spec, self.seeded)
        self.polys = local_df(self.spark, rows, inputs.POLYGON_DDL)
        self.meta = decode.with_tile_meta(self.tiles)
        self.res = join_res(self.spec)
        self._ref = None

    def job(self, span=no_span):
        with span("broadcast_join.index_build"):
            index = broadcast_join.PolygonIndex.build(self.polys, self.res)
        with span("broadcast_join.assign"):
            pairs = broadcast_join.assign_tiles_fast(
                self.meta, self.polys, res=self.res, index=index
            ).collect()
        with span("broadcast_join.zonal"):
            zonal = broadcast_join.zonal_stats_fast(
                self.tiles, self.polys, species=None, res=self.res, index=index
            ).collect()
        return pairs, zonal

    def reference(self):
        if self._ref is None:
            counties = vectors.county_grid(self.spec)
            self._ref = checks.zonal_reference(self.spec, self.cube, counties, self.seeded)
        return self._ref

    def check(self, output) -> str | None:
        pairs, zonal = output
        stats, want_pairs = self.reference()
        got = {(r.poly_id, r.image_id) for r in pairs}
        if len(got) != len(pairs) or got != want_pairs:
            return f"assignment: {len(got ^ want_pairs)} pairs differ"
        return checks.compare_zonal(zonal, stats)


METRIC_SPECS = [
    metrics.MetricSpec("richness", "species_richness", {}, "long"),
    metrics.MetricSpec("total_v", "total_biomass", {}, "double"),
    metrics.MetricSpec("dominant", "dominant_species", {}, "long"),
]
DIVERSITY_SPECS = [
    metrics.MetricSpec("shannon", "shannon_diversity", {}, "double"),
    metrics.MetricSpec("simpson_inv", "simpson_diversity", {}, "double"),
    metrics.MetricSpec("evenness", "evenness", {}, "double"),
]


def checksums(df, cols: list[str]):
    """The engine-side twin of checks.checksum_exprs, one row."""
    exprs = [F.count(F.lit(1))]
    for c in cols:
        exprs += [
            F.sum(F.col(c)),
            F.sum(F.col(c) * (F.col("gx") + 1)),
            F.sum(F.col(c) * (F.col("gy") + 1)),
        ]
    return [float(v) for v in df.agg(*exprs).first()]


class PixelMetrics(Workload):
    """Per-pixel richness/total/dominant, per-pixel diversity and per-tile
    decode statistics (g12 grid). No polygons, no index."""

    name = "pixel_metrics"
    grid = "g12"

    def materialise(self, tag: str) -> None:
        super().materialise(tag)
        self._ref = None

    def job(self, span=no_span):
        with span("metrics.metric_layers"):
            m = checksums(
                metrics.metric_layers(self.tiles, METRIC_SPECS), checks.METRIC_SUMS["metrics"]
            )
        with span("metrics.metric_layers"):
            d = checksums(
                metrics.metric_layers(self.tiles, DIVERSITY_SPECS), checks.METRIC_SUMS["diversity"]
            )
        with span("decode.decode_stats"):
            s = decode.decode_stats(self.tiles).collect()
        return m, d, s

    def check(self, output) -> str | None:
        if self._ref is None:
            self._ref = checks.duck_pixel_checksums(self.spec)
        m, d, s = output
        return (
            checks.compare_sums(m, self._ref["metrics"])
            or checks.compare_sums(d, self._ref["diversity"])
            or checks.compare_decode_stats(s, self._ref["decode_stats"])
        )


WORKLOADS = {w.name: w for w in (Zonal, PixelMetrics)}
