"""Warm, closed-loop benchmark of the topology pipeline and the spatial layer.

Started by ``perfbench/run.py``, which pins the Spark session through the
``SPARK_GRAFT_*`` environment knobs before this process (and so the JVM and
its Python workers) starts. One run is one workload:

1. set up: start the session, then generate the seeded input and write it
   to parquet once; ``setup_s`` is the session start plus that write;
2. ``WARMUP_ITERS`` warm-up iterations, checked and discarded;
3. a closed loop with one caller for ``--seconds``, and for at least
   ``MIN_TIMED_ITERS`` iterations: each iteration reads the input fresh,
   runs the workload to its last action and is timed; its output is checked
   and the engine's pins are released before the next;
4. with ``--trace 1``, the loop instead times ``TRACE_REF_ITERS`` untraced
   iterations, the reference for the tracing overhead; then
   ``TRACED_ITERS`` more iterations call the layers one by one, each under
   its own Spark job group, and the Spark event log is folded into
   per-layer figures once the session stops.

The last stdout line is the JSON result. Layers are timed from outside,
through the public functions of ``topojson_spark.operators``,
``topojson_spark.topology`` and ``topojson_spark.spatial``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import functions as F

import eventlog
from topojson_spark.operators.cut import cut_stage
from topojson_spark.operators.dedup import dedup_stage
from topojson_spark.operators.extract import extract, features_from_documents
from topojson_spark.operators.hashmap import hashmap_stage
from topojson_spark.operators.join import join_stage
from topojson_spark.options import TopoOptions
from topojson_spark.plans.metrics import StageMetrics
from topojson_spark.plans.pin import release_pins
from topojson_spark.session import get_spark
from topojson_spark.sources.corpus import generate_documents
from topojson_spark.spatial.knn import knn_join
from topojson_spark.spatial.pip import point_in_polygon_join, zonal_stats
from topojson_spark.spatial.tiles import tile_pyramid
from topojson_spark.topology import Topology, read_tables

# the JVM keeps warming for several iterations; with three warm-ups the
# first timed iteration was still the slowest in most runs
WARMUP_ITERS = 4
# p50 and tail each rest on at least this many iterations, whatever the
# host's speed
MIN_TIMED_ITERS = 3
# a traced run times one untraced iteration, then traces two, to stay well
# inside the launcher's time cap
TRACE_REF_ITERS = 1
TRACED_ITERS = 2
# ROADMAP B's trust rule: the layers' task time must equal the traced
# iteration's total task time to within this share
COVERAGE_TOL = 0.05

MOSAIC_G = 24  # 576 documents, every interior edge shared by two
DURABLE_G = 12  # the smaller mosaic of the checkpoint/resume layers
VERTS_PER_EDGE = 8

SPATIAL_G = 8  # 8 x 8 unit-square polygon lattice
SPATIAL_POINTS = 100_000
KNN_EVERY = 200  # every 200th point is a kNN query
KNN_K = 8
PYRAMID_ZOOM = 6

LAYER_METRICS = {
    "wall_s": "s",
    "task_s": "s",
    "gc_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "rows",
    "core_util": "ratio",
}
COUNTERS = {
    "operators.join.junctions": "count",
    "operators.dedup.shared_ratio": "ratio",
    "spatial.knn.escalations": "count",
    "spatial.knn.fallback": "count",
    "topology.write_tables.bytes": "bytes",
}
TRACE_METRICS = {
    "trace.overhead_s": "s",
    "trace.task_coverage": "ratio",
    "trace.counts_stable": "flag",
}


def arc_digest(arcs) -> tuple:
    """(row count, order-insensitive digest of (final_idx, is_shared,
    coords)) in one action: it is also the action that forces the arcs."""
    row = arcs.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(final_idx, is_shared, coords))").alias("d"),
    ).first()
    return int(row["n"]), row["d"]


def expect(errors: list, what: str, got, want) -> None:
    if got != want:
        errors.append(f"{what}: got {got}, want {want}")


class NullTracer:
    """Tracing off: spans cost nothing and set no job group."""

    @contextmanager
    def span(self, layer):
        yield {}


class Tracer:
    """Spans kept in memory; each layer call runs under its own job group
    ``<iteration>/<layer>`` so the event log can charge its tasks to it."""

    def __init__(self, sc):
        self.sc = sc
        self.iteration = 0
        self.spans = []

    @contextmanager
    def span(self, layer):
        rec = {"iteration": self.iteration, "layer": layer,
               "group": f"{self.iteration}/{layer}"}
        self.sc.setJobGroup(rec["group"], layer)
        rec["start_ms"] = time.time() * 1000
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000
            self.sc.setJobGroup("other", "outside layer spans")
            self.spans.append(rec)


class Mosaic:
    """In-memory topology over a pure G x G mosaic of interleaved documents.

    Untraced iterations run the real ``Topology`` pipeline; traced ones call
    its stages in ``Topology._run_stages`` order with a count barrier after
    each, then the checkpoint/resume layers on a smaller mosaic."""

    name = "mosaic"
    layers = (
        "operators.extract", "operators.join", "operators.cut",
        "operators.dedup", "operators.hashmap",
        "topology.build_durable", "topology.write_tables",
        "topology.resume", "topology.read_tables",
    )
    # the traced layers that together do an untraced iteration's work
    pipeline_layers = layers[:5]

    def __init__(self):
        self.rows = MOSAIC_G * MOSAIC_G
        self.digests = {}

    def write_inputs(self, spark, root: Path, seed: int) -> dict:
        return {"docs": self._write_docs(spark, root / "docs", MOSAIC_G, seed)}

    def write_trace_inputs(self, spark, root: Path, seed: int) -> dict:
        return {
            "durable_docs": self._write_docs(
                spark, root / "durable_docs", DURABLE_G, seed
            ),
            "durable_root": str(root / "durable"),
        }

    @staticmethod
    def _write_docs(spark, path: Path, g: int, seed: int) -> str:
        generate_documents(
            spark, g * g, grid_w=g, grid_h=g, seed=seed,
            verts_per_edge=VERTS_PER_EDGE,
        ).write.parquet(str(path))
        return str(path)

    def iteration(self, spark, inputs) -> dict:
        topo = Topology(spark.read.parquet(inputs["docs"]), prequantize=False)
        n_arcs, digest = arc_digest(topo.arcs)
        n_resolved = topo.resolved.count()
        return self._observed(n_arcs, digest, n_resolved, topo.stage_metrics())

    @staticmethod
    def _observed(n_arcs, digest, n_resolved, stage_metrics) -> dict:
        return {
            "arc_rows": n_arcs, "digest": digest, "resolved": n_resolved,
            "n_arcs": stage_metrics.get("arcs", {}).get("n_arcs"),
            "n_shared": stage_metrics.get("arcs", {}).get("n_shared"),
            "junctions": stage_metrics.get("junctions", {}).get("n_rows"),
        }

    def traced_iteration(self, spark, inputs, tracer) -> dict:
        opts = TopoOptions(prequantize=False)
        metrics = StageMetrics()
        docs = spark.read.parquet(inputs["docs"])
        with tracer.span("operators.extract") as s:
            feats = features_from_documents(docs, opts.object_names()[0])
            lines0, points0, _ = extract(feats, opts, metrics)
            s["rows_out"] = lines0.count()
        with tracer.span("operators.join") as s:
            lines, _, bbox, transform, junctions, cell = join_stage(
                lines0, points0, opts
            )
            junctions = metrics.observe("junctions", junctions).cache()
            s["rows_out"] = junctions.count()
        if transform is not None:
            raise RuntimeError("prequantize=False must leave no transform")
        with tracer.span("operators.cut") as s:
            parts, line_refs = cut_stage(
                lines, junctions, opts.shared_coords, bbox=bbox, cell=cell
            )
            s["rows_out"] = parts.count()
        with tracer.span("operators.dedup") as s:
            arcs, _, pmap = dedup_stage(parts, line_refs)
            arcs = metrics.observe(
                "arcs", arcs,
                F.count(F.lit(1)).alias("n_arcs"),
                F.sum(F.col("is_shared").cast("int")).alias("n_shared"),
            )
            n_arcs, digest = arc_digest(arcs)
            s["rows_out"] = n_arcs
        with tracer.span("operators.hashmap") as s:
            resolved = hashmap_stage(line_refs, pmap, arcs, opts).cache()
            n_resolved = resolved.count()
            s["rows_out"] = n_resolved
        obs = self._observed(n_arcs, digest, n_resolved, metrics.snapshot())
        counters = {
            "operators.join.junctions": obs["junctions"],
            "operators.dedup.shared_ratio": (
                obs["n_shared"] / obs["n_arcs"] if obs["n_arcs"] else None
            ),
        }
        obs["durable"] = self._traced_durable(spark, inputs, tracer, counters)
        obs["counters"] = counters
        return obs

    @staticmethod
    def _traced_durable(spark, inputs, tracer, counters) -> dict:
        """Checkpointed build, write_tables, resume and read_tables, each in
        fresh directories so no iteration reuses another's files."""
        root = Path(inputs["durable_root"]) / f"iter{tracer.iteration}"
        ck, tables = str(root / "checkpoints"), str(root / "tables")
        docs = inputs["durable_docs"]
        digests = {}
        with tracer.span("topology.build_durable") as s:
            topo = Topology(spark.read.parquet(docs), prequantize=False,
                            checkpoint_dir=ck)
            digests["built"] = arc_digest(topo.arcs)
            s["rows_out"] = n_arcs = digests["built"][0]
            topo.resolved.count()
        with tracer.span("topology.write_tables") as s:
            topo.write_tables(tables)
            s["rows_out"] = n_arcs
        written = sum(
            f.stat().st_size for f in Path(tables).rglob("*") if f.is_file()
        )
        counters["topology.write_tables.bytes"] = written
        with tracer.span("topology.resume") as s:
            again = Topology(spark.read.parquet(docs), prequantize=False,
                             checkpoint_dir=ck, checkpoint_resume=True)
            digests["resumed"] = arc_digest(again.arcs)
            s["rows_out"] = digests["resumed"][0]
            again.resolved.count()
        with tracer.span("topology.read_tables") as s:
            back = read_tables(spark, tables)
            digests["read_back"] = arc_digest(back.arcs)
            s["rows_out"] = digests["read_back"][0]
        return digests

    def check(self, obs: dict) -> list:
        g = MOSAIC_G
        n_arcs = 2 * g * g + 2 * g - 4
        errors: list = []
        expect(errors, "stage_metrics arcs.n_arcs", obs["n_arcs"], n_arcs)
        expect(errors, "arc rows", obs["arc_rows"], n_arcs)
        expect(errors, "stage_metrics arcs.n_shared", obs["n_shared"],
               2 * g * (g - 1))
        expect(errors, "stage_metrics junctions.n_rows", obs["junctions"],
               (g + 1) ** 2 - 4)
        expect(errors, "resolved rows", obs["resolved"], g * g)
        self._same_digest(errors, "mosaic", obs["digest"])
        n_durable = 2 * DURABLE_G * DURABLE_G + 2 * DURABLE_G - 4
        for stage, (rows, digest) in obs.get("durable", {}).items():
            expect(errors, f"durable {stage} arc rows", rows, n_durable)
            self._same_digest(errors, "durable", digest)
        return errors

    def _same_digest(self, errors, key, digest) -> None:
        first = self.digests.setdefault(key, digest)
        expect(errors, f"{key} arc digest", digest, first)


class Spatial:
    """Seeded uniform points with a value column over a G x G unit-square
    polygon lattice: PIP join, zonal statistics, kNN and a tile pyramid."""

    name = "spatial"
    layers = ("spatial.pip", "spatial.zonal", "spatial.knn", "spatial.tiles")
    pipeline_layers = layers
    bbox = (0.0, 0.0, float(SPATIAL_G), float(SPATIAL_G))

    def __init__(self):
        self.rows = SPATIAL_POINTS

    def write_inputs(self, spark, root: Path, seed: int) -> dict:
        rng = np.random.default_rng(seed)
        xy = rng.uniform(0.0, SPATIAL_G, size=(SPATIAL_POINTS, 2))
        # the PIP join counts boundary points as inside, so a point on a
        # shared lattice edge would pair with two polygons
        on_edge = xy == np.floor(xy)
        xy[on_edge] += 0.5
        points = pd.DataFrame({
            "point_id": np.arange(SPATIAL_POINTS, dtype=np.int64),
            "x": xy[:, 0],
            "y": xy[:, 1],
            "value": rng.integers(0, 1000, SPATIAL_POINTS, dtype=np.int64),
        })
        spark.createDataFrame(points).write.parquet(str(root / "points"))
        corners = ((0, 0), (1, 0), (1, 1), (0, 1), (0, 0))
        spark.createDataFrame(
            [
                (row * SPATIAL_G + col, 0,
                 [[float(col + dx), float(row + dy)] for dx, dy in corners])
                for row in range(SPATIAL_G) for col in range(SPATIAL_G)
            ],
            "poly_id long, ring_seq int, coords array<array<double>>",
        ).write.parquet(str(root / "polygons"))
        return {"points": str(root / "points"),
                "polygons": str(root / "polygons")}

    def write_trace_inputs(self, spark, root: Path, seed: int) -> dict:
        return {}

    def iteration(self, spark, inputs) -> dict:
        return self.traced_iteration(spark, inputs, NullTracer())

    def traced_iteration(self, spark, inputs, tracer) -> dict:
        points = spark.read.parquet(inputs["points"])
        polygons = spark.read.parquet(inputs["polygons"])
        xy = points.select("point_id", "x", "y")
        obs: dict = {"counters": {}}
        with tracer.span("spatial.pip") as s:
            obs["pip_pairs"] = point_in_polygon_join(
                xy, polygons, self.bbox
            ).count()
            s["rows_out"] = obs["pip_pairs"]
        with tracer.span("spatial.zonal") as s:
            row = zonal_stats(points, polygons, self.bbox).agg(
                F.count(F.lit(1)).alias("zones"),
                F.sum("n_points").alias("points"),
            ).first()
            obs["zonal_points"] = row["points"]
            s["rows_out"] = row["zones"]
        with tracer.span("spatial.knn") as s:
            metrics = StageMetrics()
            queries = xy.where(F.col("point_id") % KNN_EVERY == 0).select(
                F.col("point_id").alias("qid"), "x", "y"
            )
            per_query = knn_join(
                queries, xy, KNN_K, self.bbox, metrics=metrics
            ).groupBy("qid").agg(
                F.count(F.lit(1)).alias("n"),
                F.min("rank").alias("lo"),
                F.max("rank").alias("hi"),
                F.countDistinct("rank").alias("distinct"),
            )
            exact = (
                (F.col("n") == KNN_K) & (F.col("lo") == 1)
                & (F.col("hi") == KNN_K) & (F.col("distinct") == KNN_K)
            )
            row = per_query.agg(
                F.count(F.lit(1)).alias("queries"),
                F.sum(exact.cast("int")).alias("exact"),
                F.sum("n").alias("rows"),
            ).first()
            obs["knn_queries"], obs["knn_exact"] = row["queries"], row["exact"]
            s["rows_out"] = row["rows"]
            esc = metrics.snapshot().get("knn_join", {})
            obs["counters"]["spatial.knn.escalations"] = esc.get("n_escalations")
            obs["counters"]["spatial.knn.fallback"] = esc.get("n_fallback")
        with tracer.span("spatial.tiles") as s:
            zooms = tile_pyramid(
                points.select("x", "y"), self.bbox, PYRAMID_ZOOM
            ).groupBy("zoom").agg(
                F.sum("n").alias("n"), F.count(F.lit(1)).alias("tiles")
            ).collect()
            obs["pyramid"] = {int(r["zoom"]): int(r["n"]) for r in zooms}
            s["rows_out"] = sum(int(r["tiles"]) for r in zooms)
        return obs

    def check(self, obs: dict) -> list:
        n = SPATIAL_POINTS
        n_queries = (n + KNN_EVERY - 1) // KNN_EVERY
        errors: list = []
        expect(errors, "PIP pairs", obs["pip_pairs"], n)
        expect(errors, "zonal sum of n_points", obs["zonal_points"], n)
        expect(errors, "kNN queries answered", obs["knn_queries"], n_queries)
        expect(errors, f"kNN queries with ranks 1..{KNN_K}",
               obs["knn_exact"], n_queries)
        expect(errors, "pyramid points per zoom", obs["pyramid"],
               {z: n for z in range(PYRAMID_ZOOM + 1)})
        return errors


WORKLOADS = {"mosaic": Mosaic, "spatial": Spatial}
ALL_LAYERS = Mosaic.layers + Spatial.layers


def per_layer_names() -> dict:
    """Every per-layer metric name with its unit, in a fixed order."""
    names = {
        f"{layer}.{m}": unit
        for layer in ALL_LAYERS for m, unit in LAYER_METRICS.items()
    }
    names.update(COUNTERS)
    names.update(TRACE_METRICS)
    return names


class Tally:
    """Checked iterations: attempted, failed, and why."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, label: str, errors: list) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors:
                print(f"# CHECK FAILED [{label}] {e}", flush=True)


def attempt(workload, fn, tally: Tally, label: str) -> tuple:
    """Run one iteration, time it to its last action, then check it. An
    exception is a failed iteration, never the end of the run."""
    t0 = time.perf_counter()
    obs = None
    try:
        obs = fn()
        wall = time.perf_counter() - t0
        errors = workload.check(obs)
    except Exception as exc:  # noqa: BLE001 -- counted, printed, run goes on
        wall = time.perf_counter() - t0
        traceback.print_exc(file=sys.stderr)
        errors = [f"{type(exc).__name__}: {exc}"]
    tally.record(label, errors)
    return wall, obs


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set of ``root_pid`` and all its descendants, from /proc."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    total, stack = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
        stack.extend(children.get(pid, ()))
    return total


class RssSampler(threading.Thread):
    """Samples the driver JVM's process tree (JVM plus Python workers) from
    outside it, every ``period`` seconds, and keeps the peak."""

    def __init__(self, root_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            if self._done.wait(self.period):
                return

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def setup(workload, work: Path, seed: int) -> tuple:
    """Start the session, then generate and write the seeded input once.
    Returns (spark, inputs, session start s, input write s)."""
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    inputs = workload.write_inputs(spark, work / "input", seed)
    return spark, inputs, session_s, time.perf_counter() - t0


def stop_session(spark) -> str:
    """Stop Spark, then shut the JVM down and wait for it to exit. Returns
    the application id, which names the event log."""
    app_id = spark.sparkContext.applicationId
    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 -- any failure to exit: kill it
        proc.kill()
        proc.wait()
    return app_id


def cpu_ticks() -> list:
    """Host-wide CPU tick counters from /proc/stat; index 7 is steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def tail(walls: list) -> tuple:
    """Highest percentile with at least ten samples beyond it, or the max."""
    s = sorted(walls)
    n = len(s)
    if n >= 11:
        return s[n - 11], f"p{100 * (n - 10) / n:.1f} of {n} samples"
    return s[-1], f"max of {n} samples (fewer than 11)"


def layer_metrics(workload, spans, by_group, cores) -> tuple:
    """Median over traced iterations of each layer's figures, and whether
    jobs and tasks repeated exactly across the traced iterations."""
    per_iter = defaultdict(dict)
    for sp in spans:
        g = by_group.get(sp["group"], eventlog.zero())
        wall = (sp["end_ms"] - sp["start_ms"]) / 1000
        task = g["task_ms"] / 1000
        per_iter[sp["layer"]][sp["iteration"]] = {
            "wall_s": wall,
            "task_s": task,
            "gc_s": g["gc_ms"] / 1000,
            "jobs": g["jobs"],
            "tasks": g["tasks"],
            "shuffle_write_mb": g["shuffle_write_b"] / 1e6,
            "spill_mb": g["spill_b"] / 1e6,
            "rows_out": sp.get("rows_out") or 0,
            "core_util": task / (wall * cores) if wall > 0 else 0.0,
        }
    out, stable = {}, True
    for layer in ALL_LAYERS:
        iters = per_iter.get(layer, {})
        for m in LAYER_METRICS:
            vals = [v[m] for v in iters.values()]
            out[f"{layer}.{m}"] = statistics.median(vals) if vals else 0.0
        if layer in workload.layers:
            counts = {(v["jobs"], v["tasks"]) for v in iters.values()}
            if len(iters) != TRACED_ITERS or len(counts) != 1:
                print(f"# TRACE jobs/tasks differ across traced iterations "
                      f"for {layer}: {sorted(counts)}", flush=True)
                stable = False
    return out, stable


def trace_report(workload, spans, counters, log, p50, cores) -> tuple:
    """Per-layer metrics of the traced iterations and the two self-checks:
    layer task time accounts for each iteration's total within
    COVERAGE_TOL, and jobs and tasks repeat exactly across iterations.
    Returns (values by metric name, checks passed, record to write out)."""
    windows = {}
    for sp in spans:
        lo, hi = windows.get(sp["iteration"], (sp["start_ms"], sp["end_ms"]))
        windows[sp["iteration"]] = (
            min(lo, sp["start_ms"]), max(hi, sp["end_ms"])
        )
    by_group, by_window = eventlog.fold(log, windows)
    values, stable = layer_metrics(workload, spans, by_group, cores)

    coverage = []
    for i in sorted(windows):
        total = by_window.get(i, eventlog.zero())["task_ms"]
        in_layers = sum(
            by_group.get(sp["group"], eventlog.zero())["task_ms"]
            for sp in spans if sp["iteration"] == i
        )
        coverage.append(in_layers / total if total else 0.0)
        print(f"# traced iteration {i}: layer task time {in_layers / 1000:.3f}"
              f" s of {total / 1000:.3f} s in its window")
    worst = max(coverage, key=lambda c: abs(c - 1.0)) if coverage else 0.0
    covered = abs(worst - 1.0) <= COVERAGE_TOL
    if not covered:
        print(f"# TRACE task-time coverage {worst:.4f} is outside "
              f"1 +- {COVERAGE_TOL}")

    traced_walls = []
    for i in sorted(windows):
        mine = [sp for sp in spans if sp["iteration"] == i
                and sp["layer"] in workload.pipeline_layers]
        if mine:
            traced_walls.append((max(sp["end_ms"] for sp in mine)
                                 - min(sp["start_ms"] for sp in mine)) / 1000)
    for name in COUNTERS:
        seen = [c[name] for c in counters if c.get(name) is not None]
        values[name] = statistics.median(seen) if seen else 0.0
    values["trace.overhead_s"] = (
        statistics.median(traced_walls) - p50 if traced_walls else 0.0
    )
    values["trace.task_coverage"] = worst
    values["trace.counts_stable"] = 1.0 if stable else 0.0
    print(f"# traced pipeline walls s: "
          f"{' '.join(f'{w:.3f}' for w in traced_walls)}; untraced iter_p50_s "
          f"{p50:.3f}")
    print(f"# layers not exercised by {workload.name} (reported as 0): "
          + " ".join(x for x in ALL_LAYERS if x not in workload.layers))
    record = {"spans": spans, "counters": counters, "groups": by_group,
              "windows": by_window}
    return values, covered and stable, record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--spans", type=Path, required=True)
    args = ap.parse_args()
    workload = WORKLOADS[args.workload]()
    event_log = (
        Path(os.environ["SPARK_GRAFT_EVENTLOG"]) if args.trace else None
    )
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)

    spark, inputs, session_s, write_s = setup(workload, args.work, args.seed)
    conf = spark.sparkContext.getConf()
    print("# session " + " ".join(
        f"{k}={conf.get(k, '?')}" for k in (
            "spark.master", "spark.driver.memory",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.eventLog.enabled",
        )
    ), flush=True)
    cores = spark.sparkContext.defaultParallelism
    if args.trace:
        inputs.update(workload.write_trace_inputs(spark, args.work, args.seed))

    tally = Tally()
    for i in range(WARMUP_ITERS):
        wall, _ = attempt(workload, lambda: workload.iteration(spark, inputs),
                          tally, f"warm-up {i}")
        print(f"# warm-up iteration {i}: {wall:.3f} s (discarded)", flush=True)
        release_pins(spark)
    warm_failed = tally.failed
    tally = Tally()

    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    ticks0 = cpu_ticks()
    walls = []
    deadline = time.perf_counter() + args.seconds

    def more_to_time() -> bool:
        if args.trace:
            return len(walls) < TRACE_REF_ITERS
        return len(walls) < MIN_TIMED_ITERS or time.perf_counter() < deadline

    while more_to_time():
        wall, _ = attempt(workload, lambda: workload.iteration(spark, inputs),
                          tally, f"iteration {len(walls)}")
        walls.append(wall)
        release_pins(spark)
    peak_rss = sampler.stop()
    spent = [b - a for a, b in zip(ticks0, cpu_ticks())]

    tracer, counters = Tracer(spark.sparkContext), []
    for i in range(TRACED_ITERS if args.trace else 0):
        tracer.iteration = i
        _, obs = attempt(
            workload, lambda: workload.traced_iteration(spark, inputs, tracer),
            tally, f"traced {i}",
        )
        counters.append(obs["counters"] if obs else {})
        release_pins(spark)

    app_id = stop_session(spark)

    p50 = statistics.median(walls)
    tail_s, tail_how = tail(walls)
    print(f"# warm-up iterations discarded: {WARMUP_ITERS}"
          f" (failed checks: {warm_failed})")
    print(f"# timed iterations: {len(walls)} in a closed loop, one caller; "
          f"walls s: {' '.join(f'{w:.3f}' for w in walls)}")
    print(f"# iter_tail_s is the {tail_how}")
    # other tenants of a shared host show up as steal; slow runs had more
    print(f"# host CPU steal during the timed loop: "
          f"{100 * spent[7] / max(1, sum(spent)):.1f} %")
    print(f"# setup: session start {session_s:.3f} s; input write "
          f"{write_s:.3f} s")
    correct = tally.failed == 0 and warm_failed == 0

    if not args.trace:
        metrics = {
            "setup_s": (session_s + write_s, "s"),
            "iter_p50_s": (p50, "s"),
            "iter_tail_s": (tail_s, "s"),
            "rows_per_s": (workload.rows / p50, "1/s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
            "success_rate": (
                (tally.attempted - tally.failed) / tally.attempted, "ratio"
            ),
        }
    else:
        values, trace_ok, record = trace_report(
            workload, tracer.spans, counters,
            eventlog.event_file(event_log, app_id), p50, cores,
        )
        correct = correct and trace_ok
        metrics = {
            name: (values[name], unit)
            for name, unit in per_layer_names().items()
        }
        args.spans.parent.mkdir(parents=True, exist_ok=True)
        args.spans.write_text(json.dumps(
            {"workload": workload.name, "seed": args.seed, **record},
            indent=1,
        ))
        print(f"# spans written to {args.spans}")

    for name, (value, unit) in metrics.items():
        print(f"# metric {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            name: {"value": float(value), "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
