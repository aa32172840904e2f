#!/usr/bin/env python3
"""GridFIA benchmark: one workload, one seed, one closed loop.

    python3 gfbench/run.py --workload zonal --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process runs one client against
Spark at local[2]: each job starts when the previous one has returned. The
run starts a session, writes the seeded inputs, runs a fixed warm-up, then
runs jobs for ``--seconds``. Every job's output is checked after the window.
The last stdout line is the JSON result; the line before it holds the
diagnostics (job times, warm-up drift, host calibration).

``--trace 1`` runs the same setup, then the traced jobs and layer probes of
``layers.py``, and reports the per-layer metrics instead. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import zlib

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark task slots: half of a 4-core host. The driver JVM (GC, JIT), the
# driver process and other tenants of a shared host get the other half, so
# their bursts do not stretch the tasks (README.md, "Host noise").
CORES = 2
# Fixed warm-up per workload, in jobs. Chosen from the drift of job times
# after session start (README.md, "Warm-up").
WARMUP_JOBS = {"zonal": 4, "pixel_metrics": 4}


# Host calibration: a fixed single-threaded loop of the kinds of work a job
# does (zlib inflate, numpy arithmetic, Python dict updates), run by the
# driver before the first job of the window and after every job. The host
# is shared and its speed moves by up to 1.5x from one minute to the next;
# the loop slows with it, the program cannot move it. Job times are scaled
# to a host on which one loop takes HOST_LOOP_NOMINAL_S (README.md,
# "Host noise").
HOST_LOOP_NOMINAL_S = 0.06
_CAL_TILE = np.random.default_rng(12345).integers(0, 50, size=(64, 64 * 6 * 24), dtype=np.int16)
_CAL_TILE[:, ::3] = 0
_CAL_BLOB = zlib.compress(_CAL_TILE.tobytes(), 1)


def host_loop_s(repeat: int = 5) -> float:
    """Median seconds of ``repeat`` runs of the fixed calibration loop."""
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        acc = 0.0
        for _ in range(6):
            b = np.frombuffer(zlib.decompress(_CAL_BLOB), dtype=np.int16).astype(np.float64)
            acc += float((b * (b > 10)).sum()) + float(np.log1p(b).sum())
        seen: dict[int, int] = {}
        k = 0
        for i in range(45_000):
            k = (k + i * i) % 1_000_003
            seen[i & 255] = k
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class WorkerRss:
    """Peak RSS (VmHWM) of the Python worker processes under this process,
    sampled from /proc once a second and at stop()."""

    def __init__(self):
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.wait(1.0):
            self.sample()

    def sample(self):
        parent, me = {}, os.getpid()
        status = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/status") as fh:
                    txt = fh.read()
                with open(f"/proc/{d}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                continue
            fields = dict(line.split(":", 1) for line in txt.splitlines() if ":" in line)
            parent[int(d)] = int(fields.get("PPid", "0"))
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                status[int(d)] = fields
        for pid, fields in status.items():
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            self.pids.add(pid)
            hwm = fields.get("VmHWM", "0 kB").split()[0]
            self.peak_kb = max(self.peak_kb, int(hwm))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


def start_session(work: str, trace: bool):
    from gridfia_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep JVM scratch inside the run directory: the temp dir, and no
        # hsperfdata file (HotSpot writes it to /tmp regardless of tmpdir)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.logBlockUpdates.enabled": "true",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
    spark = get_spark(cores=CORES, app_name="gfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # first action: class loading and codegen
    return spark


def stop_session(spark, rss: WorkerRss) -> None:
    """Stop Spark, end the JVM, and wait for every worker process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in rss.pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


class Loop:
    """Closed-loop job runner: times every job, keeps its output."""

    def __init__(self, wl):
        self.wl = wl
        self.times: list[float] = []
        self.outputs: list = []
        self.errors: list[str] = []

    def one(self, span=None) -> float:
        t0 = time.perf_counter()
        try:
            out = self.wl.job(span) if span else self.wl.job()
        except Exception as exc:  # a failed job is counted, the loop goes on
            self.errors.append(f"{type(exc).__name__}: {exc}"[:300])
            out = None
        dt = time.perf_counter() - t0
        self.times.append(dt)
        self.outputs.append(out)
        return dt


def run(args, work: str) -> tuple[dict, dict]:
    from gfbench.workloads import WORKLOADS

    rss = WorkerRss().start()
    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.seed, work)
    t = time.perf_counter()
    wl.materialise("inputs")
    materialise_s = time.perf_counter() - t
    warm = Loop(wl)
    t = time.perf_counter()
    for _ in range(WARMUP_JOBS[args.workload]):
        warm.one()
    warmup_s = time.perf_counter() - t
    setup_s = session_s + materialise_s + warmup_s

    diag = {"session_s": session_s, "materialise_s": materialise_s, "warmup_s": warmup_s,
            "warmup_jobs_s": warm.times}
    loops = [warm]
    if args.trace:
        from gfbench import layers

        layer_values, tdiag = layers.traced_run(spark, wl, work, args)
        loops += tdiag.pop("_loops")
        finish = tdiag.pop("_finish")
        diag.update(tdiag)
    else:
        hosts = [host_loop_s()]
        timed = Loop(wl)
        while sum(timed.times) < args.seconds:
            timed.one()
            hosts.append(host_loop_s())
        loops.append(timed)
        # each job scaled by the mean of the loops just before and after it
        norm = [
            t * HOST_LOOP_NOMINAL_S * 2 / (a + b)
            for t, a, b in zip(timed.times, hosts, hosts[1:])
        ]
        n = len(norm)
        half = max(n // 2, 1)
        window_s = sum(timed.times)
        metrics = {
            "norm_throughput": {"value": n * wl.items / sum(norm), "unit": "items/s"},
            "norm_job_p50_s": {"value": statistics.median(norm), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        diag.update(
            {
                "window_s": window_s,
                "throughput": n * wl.items / window_s,
                "job_p50_s": statistics.median(timed.times),
                "jobs_s": timed.times,
                "norm_jobs_s": norm,
                "first_half_p50_s": statistics.median(norm[:half]),
                "second_half_p50_s": statistics.median(norm[half:] or norm),
                "host.loop_s": statistics.median(hosts),
                "host_loops_s": hosts,
                "items_per_job": wl.items,
            }
        )
    stop_session(spark, rss)
    if args.trace:
        layer_values.update(finish(os.path.join(work, "events")))
        metrics = {
            k: {"value": v, "unit": layers.unit_of(k)}
            for k, v in sorted(layer_values.items()) if not k.startswith("_")
        }
    else:
        metrics["worker_peak_rss_mb"] = {"value": rss.stop(), "unit": "MB"}

    attempted = failed = 0
    problems = []
    for loop in loops:
        problems += loop.errors
        for out in loop.outputs:
            attempted += 1
            why = "job raised" if out is None else wl.check(out)
            if why:
                failed += 1
                problems.append(why)
    diag["problems"] = problems[:10]
    correct = failed == 0 and not diag.get("probe_problems")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}, diag


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "gridfia_spark")):
        print("gfbench: run from a checkout of the repository "
              "(gridfia_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every scratch file of Python, Spark and both JVMs goes under ``work``
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["GRIDFIA_CACHE"] = os.path.join(work, "cache")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    from gfbench.workloads import WORKLOADS

    try:
        if args.workload not in WORKLOADS:
            print(f"gfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        result, diag = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
