"""Traced run: per-layer metrics from spans around the benchmark's own calls.

Nothing under ``gridfia_spark/`` is instrumented. A span wraps one call the
benchmark makes into a module's public function and tags the Spark jobs it
starts with a job group, so the Spark event log (written to the run's
scratch directory and parsed with ``json``) attributes jobs, stages, tasks,
executor time, GC, shuffle and spill to the span.

The traced run first times untraced jobs, then traced jobs of the workload
(their median difference is ``trace.overhead_s``), then a fixed set of layer
probes on the g12 grid that give every module's metrics on every workload:
floors, driver replays of the geometry, grid, codec and kernel functions,
the spatial join, kNN and Zarr write/read. Probe outputs are checked too:
county zonal, assignment and point-in-polygon results against DuckDB.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import shutil
import statistics
import time
import tracemalloc

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gridfia_spark import codecs, geom, grid
from gridfia_spark.constants import PIX, X0, Y0
from gridfia_spark.functions import kernels
from gridfia_spark.operators import knn, spatial_join
from gridfia_spark.sources import zarrstore

from . import checks, inputs, workcount
from .workloads import PixelMetrics, Zonal

N_TRACED = 2  # untraced and traced jobs compared for trace.overhead_s
KNN_K = 5
KNN_SAMPLE = 200  # queries checked against brute force
KERNELS = ["species_richness", "total_biomass", "dominant_species",
           "shannon_diversity", "simpson_diversity", "evenness"]


class Tracer:
    """In-memory spans; each span's Spark jobs carry its job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.parent = "run"

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"gfb{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": self.parent}
        self.sc.setJobGroup(sid, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setJobGroup("gfb-idle", "between spans")
            self.spans.append(rec)

    @contextlib.contextmanager
    def job(self, name: str):
        self.parent = name
        try:
            yield
        finally:
            self.parent = "run"

    def seconds(self, name: str, parent_prefix: str = "") -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["parent"].startswith(parent_prefix)]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


# ------------------------------------------------------------ event log


def parse_event_log(events_dir: str) -> dict:
    """Per job group: jobs, SQL executions, stages, tasks and task metrics;
    plus the broadcasts still holding blocks when the end marker ran."""
    files = glob.glob(os.path.join(events_dir, "*"))
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    live: dict[int, bool] = {}
    live_at_end = None

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "executions": set(), "stages": set(), "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        })

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id") or "none"
                    if grp == "gfb-end" and live_at_end is None:
                        live_at_end = sum(live.values())
                    rec = g(grp)
                    rec["jobs"] += 1
                    if "spark.sql.execution.id" in props:
                        rec["executions"].add(props.get("spark.sql.execution.root.id")
                                              or props["spark.sql.execution.id"])
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g(stage_group.get(sid, "none"))["stages"].add(sid)
                elif kind == "SparkListenerTaskEnd":
                    rec = g(stage_group.get(ev["Stage ID"], "none"))
                    rec["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    rec["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                elif kind == "SparkListenerBlockUpdated":
                    info = ev["Block Updated Info"]
                    bid = info["Block ID"]
                    if bid.startswith("broadcast_"):
                        n = int(bid.split("_")[1])
                        lvl = info["Storage Level"]
                        stored = lvl.get("Use Memory") or lvl.get("Use Disk")
                        if stored:
                            live[n] = True
                        elif "_piece" not in bid:
                            live[n] = False
    return {"groups": groups, "live_broadcasts_end": live_at_end or 0}


def spark_job_metrics(tracer: Tracer, parsed: dict, jobs: list[str]) -> dict:
    """spark.* per traced job (summed over its spans), median over jobs."""
    keys = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"]
    per_job = {k: [] for k in keys}
    for job in jobs:
        tot = dict.fromkeys(keys, 0.0)
        for s in tracer.spans:
            if s["parent"] != job:
                continue
            rec = parsed["groups"].get(s["id"])
            if rec is None:
                continue
            for k in keys:
                v = rec[k]
                tot[k] += len(v) if isinstance(v, set) else v
        for k in keys:
            per_job[k].append(tot[k])
    return {k: _median(v) for k, v in per_job.items()}


# ------------------------------------------------------------ probes


def _median_time(fn, repeat: int) -> float:
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def floors(tiles) -> dict:
    """JVM-only scan of the tile table, and an identity mapInPandas over the
    same scan; their difference is the Python worker round trip."""
    scan = lambda: tiles.agg(F.sum(F.length("bytes"))).collect()  # noqa: E731

    def ident(batches):
        yield from batches

    def worker():
        tiles.mapInPandas(ident, tiles.schema).write.format("noop").mode("overwrite").save()

    scan_s = _median_time(scan, 3)
    worker_s = _median_time(worker, 3)
    return {"spark.scan_floor_s": scan_s, "spark.pyworker_floor_s": worker_s - scan_s}


def geometry_replay(spec, rings: list[np.ndarray]) -> dict:
    """Single-threaded driver replay of the zonal job's geometry work: one
    ray-cast mask per boundary pair, and the rect relation of every
    candidate tile, with the engine's own functions."""
    res = workcount.join_res(spec)
    index = workcount.build_index(rings, res)
    cand, bnd = workcount.boundary_pairs(spec, index)
    tw, th = spec.tile_w, spec.tile_h

    def centres(tx, ty):
        cx = X0 + (tx * tw + np.arange(tw)) * PIX + PIX / 2
        cy = Y0 - (ty * th + np.arange(th)) * PIX - PIX / 2
        gx, gy = np.meshgrid(cx, cy)
        return gx.ravel(), gy.ravel()

    work = [(centres(int(r.tx), int(r.ty)), index.rings[int(r.pidx)]) for r in bnd.itertuples()]
    t0 = time.perf_counter()
    for (x, y), rings_p in work:
        geom.points_in_polygon(x, y, rings_p)
    pip_s = time.perf_counter() - t0
    peak_mb = 0.0
    if work:
        (x, y), rings_p = max(work, key=lambda w: len(w[1][0]))
        tracemalloc.start()
        geom.points_in_polygon(x, y, rings_p)
        peak_mb = tracemalloc.get_traced_memory()[1] / 2**20
        tracemalloc.stop()
    _, _, xmin, ymin, xmax, ymax = workcount.tile_bboxes(spec)
    eps = 1e-3
    t0 = time.perf_counter()
    for pidx, grp in cand.groupby("pidx", sort=False):
        rows = grp["row"].to_numpy()
        geom.rect_relation_batch(index.rings[int(pidx)], xmin[rows] + eps, ymin[rows] + eps,
                                 xmax[rows] - eps, ymax[rows] - eps)
    rect_s = time.perf_counter() - t0
    reps = 20
    t0 = time.perf_counter()
    for _ in range(reps):
        row_idx, _cells = grid.bbox_cells_batch(xmin, ymin, xmax, ymax, res)
    bbox_s = (time.perf_counter() - t0) / reps
    counts = workcount.index_counts(spec, rings, res)
    return {
        "broadcast_join.index_cells": counts["index_cells"],
        "broadcast_join.candidate_pairs": counts["candidate_pairs"],
        "broadcast_join.boundary_pairs": counts["boundary_pairs"],
        "broadcast_join.boundary_ratio": counts["boundary_pairs"] / max(counts["candidate_pairs"], 1),
        "geom.pip_mask_s": pip_s,
        "geom.pip_edge_tests": counts["pip_edge_tests"],
        "geom.pip_mask_peak_mb": peak_mb,
        "geom.rect_relation_s": rect_s,
        "grid.bbox_cells_s": bbox_s,
        "grid.cells_per_bbox": len(row_idx) / len(xmin),
    }


def codec_replay(tiles_dir: str) -> dict:
    """Decode every tile of the table, then encode every decoded tile."""
    table = pq.read_table(tiles_dir, columns=["bytes", "w", "h", "fmt"]).to_pydict()
    rows = list(zip(table["bytes"], table["w"], table["h"], table["fmt"]))
    t0 = time.perf_counter()
    arrs = [codecs.decode(b, w, h, f) for b, w, h, f in rows]
    dec_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for a in arrs:
        codecs.encode(a, "rawz")
    enc_s = time.perf_counter() - t0
    return {"codecs.decode_s": dec_s, "codecs.encode_s": enc_s,
            "codecs.decoded_mb": sum(a.nbytes for a in arrs) / 2**20}


def kernel_replay(spec, cube: np.ndarray) -> dict:
    """CPU time of each kernel over every tile cube of the grid."""
    th, tw = spec.tile_h, spec.tile_w
    cubes = [cube[:, ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
             for ty in range(spec.tiles_y) for tx in range(spec.tiles_x)]
    out = {}
    for name in KERNELS:
        fn = kernels.get(name)
        t0 = time.process_time()
        for c in cubes:
            fn(c)
        out[f"kernels.{name}.cpu_s"] = time.process_time() - t0
    return out


def vector_probes(spark, tracer: Tracer, zp: Zonal, seed: int) -> tuple[dict, list]:
    """Point-in-polygon join and exact kNN on seeded points (g12 grid)."""
    spec = zp.spec
    ids, x, y = inputs.seeded_points(spec, seed)
    pts = spark.createDataFrame(pd.DataFrame({"point_id": ids, "x": x, "y": y})).cache()
    pts.count()
    problems = []
    res = workcount.join_res(spec)
    with tracer.span("spatial_join.join_points_polygons") as sp:
        got = spatial_join.join_points_polygons(pts, zp.polys, res=res).select(
            "point_id", "poly_id").collect()
    pip_s = sp["end"] - sp["start"]
    got = {(int(r.point_id), r.poly_id) for r in got}
    want = checks.duck_county_pip(spec, ids, x, y) | checks.seeded_pip(spec, zp.seeded, ids, x, y)
    if got != want:
        problems.append(f"pip: {len(got ^ want)} pairs differ from DuckDB/numpy")
    rings = inputs.all_rings(spec, zp.seeded)
    index = workcount.build_index(rings, res)
    probe = pd.DataFrame({"cell_id": grid.cell_of_xy(x, y, res)})
    hits = int(len(probe.merge(index.cell_to_poly, on="cell_id")))

    n = len(ids)
    stats = (n, X0, X0 + spec.gw * PIX, Y0 - spec.gh * PIX, Y0)
    with tracer.span("knn.knn_join") as plan:
        out = knn.knn_join(pts, pts, k=KNN_K, target_stats=stats)
    with tracer.span("knn.collect") as col:
        rows = out.collect()
    knn_s = (plan["end"] - plan["start"]) + (col["end"] - col["start"])
    got_knn: dict[int, list] = {}
    for r in rows:
        got_knn.setdefault(int(r.point_id), []).append((int(r["rank"]), int(r.neighbor_id), float(r.dist_sq)))
    sample = np.random.default_rng([seed, 3]).choice(n, KNN_SAMPLE, replace=False)
    for q, want_q in checks.knn_brute(ids, x, y, sample, KNN_K).items():
        got_q = [(nb, d) for _, nb, d in sorted(got_knn.get(q, []))]
        if got_q != want_q:
            problems.append(f"knn: query {q} differs from brute force")
            break
    if len(got_knn) != n:
        problems.append(f"knn: {len(got_knn)} of {n} queries answered")
    # candidate pairs in the ring that knn sizes from the target density
    cs = grid.cell_size(grid.JOIN_RES)
    area = (spec.gw * PIX) * (spec.gh * PIX)
    radius = max(1, math.ceil(2.0 * math.sqrt((KNN_K + 1) / (math.pi * n / area)) / cs))
    cells = grid.cell_of_xy(x, y, grid.JOIN_RES)
    per_cell = pd.Series(cells).value_counts()
    ring = grid.k_ring(cells, radius)
    cand = per_cell.reindex(ring.ravel()).fillna(0).to_numpy().sum() - n
    pts.unpersist()
    return {
        "spatial_join.pip_join_s": pip_s,
        "spatial_join.candidates_per_point": hits / n,
        "spatial_join.refine_ratio": len(got) / max(hits, 1),
        "knn.knn_join_s": knn_s,
        "knn.candidates_per_query": cand / n,
        "_knn_plan_group": plan["id"],
        "_knn_groups": [plan["id"], col["id"]],
    }, problems


def zarr_probe(spark, tracer: Tracer, pp, work: str) -> tuple[dict, list]:
    path = os.path.join(work, "probe.zarr")
    with tracer.span("zarrstore.write_zarr_store") as w:
        zarrstore.write_zarr_store(pp.tiles, path)
    with tracer.span("zarrstore.read_zarr_store") as r:
        zarrstore.read_zarr_store(spark, path).write.format("noop").mode("overwrite").save()
    files = [f for f in glob.glob(os.path.join(path, "biomass", "*")) if not os.path.basename(f).startswith(".")]
    stored = sum(os.path.getsize(f) for f in files)
    why = checks.check_zarr(path, "biomass", pp.cube, pp.spec)
    shutil.rmtree(path, ignore_errors=True)
    return {
        "zarrstore.write_s": w["end"] - w["start"],
        "zarrstore.read_s": r["end"] - r["start"],
        "zarrstore.chunk_files": len(files),
        "zarrstore.bytes_per_px": stored / (pp.cube.size * 4),
    }, [why] if why else []


# ------------------------------------------------------------ traced run


def traced_run(spark, wl, work: str, args) -> tuple[dict, dict]:
    from gfbench.run import Loop

    sc = spark.sparkContext
    tracer = Tracer(sc)
    untraced = Loop(wl)
    for _ in range(N_TRACED):
        untraced.one()
    traced = Loop(wl)
    jobs = [f"job{k}" for k in range(N_TRACED)]
    for job in jobs:
        with tracer.job(job):
            traced.one(tracer.span)
    m: dict = {"trace.overhead_s": _median(traced.times) - _median(untraced.times)}

    # probe universe: the g12 grid, on which pixel_metrics already runs
    zp = Zonal(spark, args.seed, work, grid="g12")
    zp.materialise("probe_zonal")
    probes = [zp]
    if isinstance(wl, PixelMetrics):
        pp = wl
    else:
        pp = PixelMetrics(spark, args.seed, work)
        pp.materialise("probe_pixel")
        probes.append(pp)
    problems: list[str] = []
    for probe in probes:
        with tracer.job(f"probe_{probe.name}"):
            out = probe.job(tracer.span)
        why = probe.check(out)
        if why:
            problems.append(f"probe {probe.name}: {why}")
    # the probe zonal job was checked against numpy; tie counties to DuckDB
    stats, pairs = zp.reference()
    if checks.duck_county_zonal(zp.spec) != {k: v for k, v in stats.items()
                                              if not k[0].startswith("comb")}:
        problems.append("county zonal: numpy reference differs from DuckDB")
    if checks.duck_county_assignment(zp.spec) != {p for p in pairs if not p[0].startswith("comb")}:
        problems.append("county assignment: numpy reference differs from DuckDB")

    spans = {"broadcast_join.index_build": "broadcast_join.index_build_s",
             "broadcast_join.assign": "broadcast_join.assign_s",
             "broadcast_join.zonal": "broadcast_join.zonal_s",
             "metrics.metric_layers": "metrics.metric_layers_s",
             "decode.decode_stats": "decode.decode_stats_s"}
    for name, key in spans.items():
        own = tracer.seconds(name, "job")  # the workload's traced jobs
        m[key] = _median(own) if own else _median(tracer.seconds(name, "probe"))

    m.update(floors(wl.tiles))
    zwl = wl if isinstance(wl, Zonal) else zp
    m.update(geometry_replay(zwl.spec, inputs.all_rings(zwl.spec, zwl.seeded)))
    m.update(codec_replay(os.path.join(work, "inputs", "tiles.parquet")))
    m.update(kernel_replay(pp.spec, pp.cube))
    vec, why = vector_probes(spark, tracer, zp, args.seed)
    problems += why
    m.update(vec)
    zm, why = zarr_probe(spark, tracer, pp, work)
    problems += why
    m.update(zm)
    m["spark.persisted_rdds_end"] = int(sc._jsc.getPersistentRDDs().size())
    sc.setJobGroup("gfb-end", "end marker")
    spark.range(1).count()

    def finish(events_dir: str) -> dict:
        """Event-log metrics; call after the session has stopped."""
        parsed = parse_event_log(events_dir)
        out = {f"spark.{k}": v for k, v in spark_job_metrics(tracer, parsed, jobs).items()}
        groups = parsed["groups"]
        out["knn.jobs"] = sum(groups.get(g, {}).get("jobs", 0) for g in m.pop("_knn_groups"))
        plan = groups.get(m.pop("_knn_plan_group"), {})
        out["knn.radius_rounds"] = len(plan.get("executions", ()))
        out["spark.live_broadcasts_end"] = parsed["live_broadcasts_end"]
        return out

    diag = {"_loops": [untraced, traced], "untraced_jobs_s": untraced.times,
            "traced_jobs_s": traced.times, "probe_problems": problems,
            "_finish": finish, "spans": len(tracer.spans)}
    return m, diag


UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "_ratio": "ratio", "bytes_per_px": "bytes/px"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"
