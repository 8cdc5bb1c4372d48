"""Benchmark runner for the tile-pyramid engine.

    python3 perfbench/run.py --workload build_hot --seed 1 --seconds 4 --trace 0

Run from the root of a checkout.  One process is one closed-loop client:
it starts Spark as ``local[<cores>]``, generates the workload's seeded
input as parquet, pays a warm-up op, then runs ops back to back until
their summed wall reaches ``--seconds``.  Every op's output is checked
outside the timed region.  The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, read
from spans recorded around calls into the engine (see tracing.py) on every
other op.  The line before the result holds details (op walls, workload
shape, where Spark's scratch space lives).

Workloads (perfbench/DESIGN.md says why each exists; build_wide runs by
hand only, it is not in BENCHMARK.json):
  build_hot   full build_pyramid, count + sum_v, cell z12 -> z0, 20% of
              pages in one z8 tile; every upper level rolls up driver-side
  fold_delta  incremental_update of a fresh 1% delta into a pyramid built
              in set-up; at the end the folded pyramid must equal a fresh
              build over base + all deltas
  knn_ring    knn_cells on the shuffle-hash + re-ring path
  build_wide  full build of ~1M jittered-grid points at cell z16 with a
              holistic union(lang) band over z16..z15, one base cell above
              the plan's hot_key_threshold; rolls up distributed (salted)
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
from contextlib import nullcontext  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

GEN_REPEATS = 3          # input generations per run; setup_s takes the median
MAX_CONSECUTIVE_FAILS = 3
KNN_K, KNN_Z, KNN_SAMPLE = 5, 7, 24


def _points_df(spark, paths, cols=None):
    from pyspark.sql import functions as F

    from vt_grid_spark.sources import pages

    paths = [paths] if isinstance(paths, str) else paths
    pts = pages.with_coords(spark.read.parquet(*paths))
    pts = pts.withColumn("v", F.length("text").cast("double"))
    return pts.select(*cols) if cols else pts


def _count_plan(minzoom: int = 0):
    """count + sum_v from base cell z12 up to cell ``minzoom``."""
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand

    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="sum_v", reducer="sum", field="v")]
    return PyramidPlan(bands=[ZoomBand(basezoom=13, minzoom=minzoom,
                                       aggregations=specs)], gridsize=1)


def _wide_plan():
    """Cell z16 base; union(lang) over the top band (z16, z15) so the z15
    rollup is holistic and salted, count + sum_v below it."""
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand

    algebraic = [AggSpec(out="cnt", reducer="count"),
                 AggSpec(out="sum_v", reducer="sum", field="v")]
    holistic = algebraic + [AggSpec(out="langs", reducer="union", field="lang")]
    return PyramidPlan(bands=[ZoomBand(basezoom=17, minzoom=15, aggregations=holistic),
                              ZoomBand(basezoom=15, minzoom=0, aggregations=algebraic)],
                       gridsize=1, salt_buckets=16, hot_key_threshold=10_000)


def _zooms(plan) -> list[int]:
    return [cell_z for _, cell_z, _ in plan.levels()]


class Workload:
    """One workload: ``setup`` generates inputs and warms up, ``op`` is the
    timed unit, ``check`` verifies the op's output."""

    holistic = False
    warm_is_op = True   # the warm-up is one real op, checked like the others

    def __init__(self, spark, work: str, seed: int, scale: float = 1.0):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.gen_times: list[float] = []
        self.repeated_gen_s: list[float] = []   # walls of the repeated main input

    def _shape(self, shape: gen.PageShape) -> gen.PageShape:
        return dataclasses.replace(shape, n=max(int(shape.n * self.scale), 200))

    def generate(self, shape: gen.PageShape, name: str, seed: int, repeats: int = 1):
        """Generate and write a pages table ``repeats`` times (same seed, so
        the same bytes); returns the ground truth of the last one."""
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            path = os.path.join(self.work, name)
            shutil.rmtree(path, ignore_errors=True)
            truth = gen.make_pages(self._shape(shape), seed, tag=name)
            gen.write_table(truth.table, path)
            walls.append(time.perf_counter() - t0)
        self.gen_times += walls
        if repeats > 1:
            self.repeated_gen_s = walls
        return path, truth

    def stored_bytes(self) -> int:
        return checks.dir_bytes(self.out)

    def written(self) -> tuple[int, int]:
        return self.stored_bytes(), sum(len(f) for _, _, f in os.walk(self.out))

    def final_check(self) -> list[str]:
        return []

    def shape_info(self) -> dict:
        return {}


class BuildWorkload(Workload):
    SHAPE: gen.PageShape
    WARM_OPS = 2   # a fresh JVM needs two builds before op walls settle

    def setup(self):
        self.in_dir, self.truth = self.generate(self.SHAPE, "pages", self.seed,
                                                GEN_REPEATS)
        self.plan = self.make_plan()
        self.points = _points_df(self.spark, self.in_dir)
        self.out = os.path.join(self.work, "pyramid")
        self.warm_up()

    def warm_up(self):
        for _ in range(self.WARM_OPS):
            self.op(None)

    def op(self, io_hook):
        from vt_grid_spark.operators.pyramid import build_pyramid
        from vt_grid_spark.sources.table_io import TableIO

        shutil.rmtree(self.out, ignore_errors=True)
        io = TableIO(self.out)
        with (io_hook(io) if io_hook else nullcontext()):
            t0 = time.perf_counter()
            self.manifests = build_pyramid(self.points, self.plan, io, resume=False)
            return time.perf_counter() - t0

    @property
    def points_per_op(self) -> int:
        return self.truth.n_points

    def check(self) -> list[str]:
        t = self.truth
        mask = None
        if self.holistic:
            mask = int(np.bitwise_or.reduce(np.left_shift(1, np.unique(t.lang))))
        return checks.check_pyramid(self.out, _zooms(self.plan), t.n_points,
                                    float(t.v.sum()), mask)

    def shape_info(self) -> dict:
        ms = self.manifests
        ops = [m["lineage"].get("op") for m in ms.values()]
        return {"levels": len(ms),
                "base_cells": ms[max(ms)]["row_count"],
                "rollup.dist_levels": ops.count("rollup"),
                "rollup.salted_levels": sum(bool(m["lineage"].get("salted"))
                                            for m in ms.values()),
                "pyramid.driver_levels": ops.count("rollup-small")}


class BuildHot(BuildWorkload):
    SHAPE = gen.PageShape(n=150_000, hot_frac=0.20, hot_box=gen.HOT_Z8)

    def make_plan(self):
        return _count_plan()


class BuildWide(BuildWorkload):
    # 93% of the pages are points on a jittered grid, one per z14 tile of
    # a 1024 x 1024 block (lon -90..-67.5, lat 22..41): z16, z15 and z14
    # hold 1,048,576 cells each, above the engine's 1M-row driver-side
    # cut-off, and z13 drops to 262,144, where the driver-side tail starts
    GRID = (14, 4096, 6144, 1024)
    SHAPE = gen.PageShape(n=1_127_501, hot_frac=0.02, hot_box=gen.HOT_Z16, grid=GRID)
    WARM_SHAPE = gen.PageShape(n=60_000, hot_frac=0.02, hot_box=gen.HOT_Z16, grid=GRID)
    holistic = True
    warm_is_op = False

    def make_plan(self):
        return _wide_plan()

    def warm_up(self):
        """A full build costs ~2 ops in a fresh JVM, so warm on a small
        input instead: one build (every level driver-side) plus the salted
        distributed rollup the small build does not reach."""
        from vt_grid_spark.operators.pyramid import build_pyramid
        from vt_grid_spark.operators.rollup import rollup_level
        from vt_grid_spark.sources.table_io import TableIO

        warm_dir, _ = self.generate(self.WARM_SHAPE, "warm", self.seed + 1)
        pts = _points_df(self.spark, warm_dir)
        io = TableIO(os.path.join(self.work, "warm_pyramid"))
        build_pyramid(pts, self.plan, io, resume=False)
        base = io.read_level(self.spark, 16)
        band = self.plan.bands[0]
        rollup_level(base, 16, band.aggregations, salt_buckets=self.plan.salt_buckets) \
            .write.format("noop").mode("overwrite").save()


class FoldDelta(Workload):
    SHAPE = gen.PageShape(n=150_000, hot_frac=0.20, hot_box=gen.HOT_Z8)
    DELTA = gen.PageShape(n=1_500, hot_frac=0.20, hot_box=gen.HOT_Z8)

    def setup(self):
        from vt_grid_spark.operators.pyramid import build_pyramid
        from vt_grid_spark.sources.table_io import TableIO

        self.base_dir, base = self.generate(self.SHAPE, "pages", self.seed, GEN_REPEATS)
        # cell z12 -> z8: each level folds in ~1 s, so five keep an op short
        self.plan = _count_plan(8)
        self.out = os.path.join(self.work, "pyramid")
        self.io = TableIO(self.out)
        build_pyramid(_points_df(self.spark, self.base_dir), self.plan, self.io,
                      resume=False)
        self.n_points, self.sum_v = base.n_points, float(base.v.sum())
        self.delta_dirs: list[str] = []
        self.op(None)  # warm-up fold

    def _next_delta(self):
        i = len(self.delta_dirs)
        path, truth = self.generate(self.DELTA, f"delta{i}", self.seed * 1000 + i + 1)
        self.delta_dirs.append(path)
        self.n_points += truth.n_points
        self.sum_v += float(truth.v.sum())
        self.last_delta_points = truth.n_points
        return path

    def op(self, io_hook):
        from vt_grid_spark.operators.pyramid import incremental_update

        delta = _points_df(self.spark, self._next_delta())
        with (io_hook(self.io) if io_hook else nullcontext()):
            t0 = time.perf_counter()
            incremental_update(delta, self.plan, self.io)
            return time.perf_counter() - t0

    @property
    def points_per_op(self) -> int:
        return self.last_delta_points

    def check(self) -> list[str]:
        return checks.check_pyramid(self.out, _zooms(self.plan), self.n_points,
                                    self.sum_v)

    def final_check(self) -> list[str]:
        """The folded pyramid equals a fresh build over base + all deltas
        (a retried or partial fold would double-count)."""
        from vt_grid_spark.operators.pyramid import build_pyramid
        from vt_grid_spark.sources.table_io import TableIO

        fresh = os.path.join(self.work, "fresh")
        pts = _points_df(self.spark, [self.base_dir] + self.delta_dirs)
        build_pyramid(pts, self.plan, TableIO(fresh), resume=False)
        zooms = _zooms(self.plan)
        a, b = checks.level_digests(self.out, zooms), checks.level_digests(fresh, zooms)
        return [f"z{z}: folded pyramid differs from a fresh build"
                for z in zooms if a[z] != b[z]]

    def shape_info(self) -> dict:
        return {"deltas": len(self.delta_dirs), "points": self.n_points}


class KnnRing(Workload):
    SHAPE = gen.PageShape(n=100_000, hot_frac=0.20, hot_box=gen.HOT_Z8)
    QUERIES = 20_000
    BROADCAST_THRESHOLD = 5_000   # below |Q|: shuffle-hash join + re-ring
    WARM = 0.1                    # warm-up queries, as a share of the real ones

    def _queries(self, name: str, share: float):
        n_q = max(int(self.QUERIES * self.scale * share), 50)
        table, qid, qlon, qlat = gen.make_queries(self.truth, n_q, self.seed, gen.HOT_Z8)
        path = os.path.join(self.work, name)
        gen.write_table(table, path, files=4)
        return self.spark.read.parquet(path), qid, qlon, qlat

    def setup(self):
        self.out = os.path.join(self.work, "knn")
        self.in_dir, self.truth = self.generate(self.SHAPE, "pages", self.seed, GEN_REPEATS)
        self.points = _points_df(self.spark, self.in_dir, ["url", "lon", "lat"])
        # warm the same plans (same z, ring, join strategy) on a tenth of the
        # queries, which costs less than a cold full-size call, then run one
        # real op
        warm_queries = self._queries("warm_queries", self.WARM)[0]
        self._knn(self.points, warm_queries, int(self.BROADCAST_THRESHOLD * self.WARM))
        self.queries, self.qid, self.qlon, self.qlat = self._queries("queries", 1.0)
        rng = np.random.default_rng(self.seed)
        self.sample = rng.choice(self.qid.size, min(KNN_SAMPLE, self.qid.size), replace=False)
        self.op(None)

    def _knn(self, points, queries, threshold) -> float:
        from vt_grid_spark.operators.knn import knn_cells, unpersist_knn

        t0 = time.perf_counter()
        out = knn_cells(points, queries, KNN_K, z=KNN_Z, ring=1,
                        point_id="url", query_id="qid", broadcast_threshold=threshold)
        out.write.mode("overwrite").parquet(self.out)
        wall = time.perf_counter() - t0
        unpersist_knn(out)
        return wall

    def op(self, io_hook):
        return self._knn(self.points, self.queries, self.BROADCAST_THRESHOLD)

    @property
    def points_per_op(self) -> int:
        return self.truth.n_points + self.qid.size

    def check(self) -> list[str]:
        return checks.check_knn(self.out, self.truth, self.qid, self.qlon, self.qlat,
                                KNN_K, self.sample)


WORKLOADS = {"build_hot": BuildHot, "build_wide": BuildWide,
             "fold_delta": FoldDelta, "knn_ring": KnnRing}


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 work: str, cores: int, scale: float = 1.0) -> tuple[dict, dict]:
    """Set up, run the closed loop and check; returns (result, details)."""
    from tracing import Tracer

    wl = WORKLOADS[name](spark, work, seed, scale)
    attempted = failed = 0
    problems: list[str] = []

    def checked(fn):
        nonlocal failed
        try:
            found = fn()
        except Exception as e:  # a check that cannot read the output fails the op
            found = [f"check raised {type(e).__name__}: {e}"]
        if found:
            failed += 1
            problems.extend(found[:5])
        return not found

    wl.setup()
    setup_wall = time.perf_counter() - T_PROCESS
    if wl.warm_is_op:
        attempted += 1
        checked(wl.check)
    # the main input is generated GEN_REPEATS times; setup_s counts it once
    reps = wl.repeated_gen_s
    setup_s = setup_wall - sum(reps) + statistics.median(reps)

    tracer = Tracer(spark, cores) if trace else None
    if trace and not wl.warm_is_op:
        # one more op, so the untraced and traced ops compared are both warm
        attempted += 1
        wl.op(None)
        checked(wl.check)
    walls, traced_walls, untraced_walls, layers = [], [], [], []
    streak = 0
    while sum(walls) < seconds or (trace and not (traced_walls and untraced_walls)):
        traced = trace and len(walls) % 2 == 1
        attempted += 1
        try:
            if traced:
                tracer.begin()
                t0 = time.time()
                wall = wl.op(tracer.instrument)
                per_op = tracer.end(t0, t0 + wall, wl.written())
            else:
                wall = wl.op(None)
        except Exception:
            traceback.print_exc()
            failed += 1
            streak += 1
            if streak >= MAX_CONSECUTIVE_FAILS:
                break
            continue
        streak = 0
        walls.append(wall)
        (traced_walls if traced else untraced_walls).append(wall)
        if traced:
            per_op["table_io.rewrite_bytes_per_delta_point"] = (
                per_op["table_io.bytes_written"] / wl.points_per_op
                if name == "fold_delta" else 0)
            layers.append(per_op)
        checked(wl.check)
    checked(wl.final_check)

    op_p50 = statistics.median(walls) if walls else 0.0   # 0: no op succeeded
    if trace:
        metrics = {k: statistics.median(d[k] for d in layers) for k in layers[0]} if layers else {}
        # layers off the workload's path read 0
        off = ("pyramid.", "table_io.") if name == "knn_ring" else ("knn.",)
        metrics.update({k: 0 for k in metrics if k.startswith(off)})
        metrics.update(_geotag(spark, wl))
        metrics["trace.overhead_frac"] = (statistics.median(traced_walls)
                                          / statistics.median(untraced_walls) - 1.0
                                          if traced_walls and untraced_walls else 0.0)
    else:
        stored_points = getattr(wl, "n_points", None) or wl.points_per_op
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": op_p50,
            "points_per_s": wl.points_per_op / op_p50 if op_p50 else 0.0,
            "stored_bytes_per_point": wl.stored_bytes() / stored_points,
            "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }
    details = {"workload": name, "seed": seed, "ops": len(walls),
               "op_walls_s": [round(w, 4) for w in walls],
               "op_max_s": max(walls) if walls else None,
               "highest_supported_percentile": None if len(walls) < 11 else
               round(100 * (1 - 10 / len(walls)), 1),
               "setup_wall_s": setup_wall, "gen_s": wl.gen_times,
               "shape": wl.shape_info(), "problems": problems}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, details


def _geotag(spark, wl) -> dict:
    """pages layer on its own: with_coords over the input into a noop sink."""
    from vt_grid_spark.sources import pages

    raw = spark.read.parquet(getattr(wl, "in_dir", None) or wl.base_dir)
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        pages.with_coords(raw).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return {"pages.geotag_s": statistics.median(walls),
            "pages.points_per_page": pages.with_coords(raw).count() / raw.count()}


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    best, fstype = "", "unknown"
    with open("/proc/self/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, fstype = parts[1], parts[2]
    return fstype


def _stop_jvm(spark) -> float:
    """Stop Spark, end the JVM and wait for it; returns its peak RSS (MB)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine under test is the checkout's own source tree
    sys.path.insert(0, ROOT)
    import vt_grid_spark

    if not os.path.abspath(vt_grid_spark.__file__).startswith(ROOT + os.sep):
        print(f"engine imported from outside the checkout: {vt_grid_spark.__file__}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": "3g",
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark = None
    try:
        from vt_grid_spark.session import get_spark

        spark = get_spark("vt-grid-perfbench", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        result, details = run_workload(spark, args.workload, args.seed, args.seconds,
                                       bool(args.trace), work, cores)
        jvm_rss = _stop_jvm(spark)
        spark = None
        if args.trace:
            result["metrics"]["spark.jvm_peak_rss_mb"] = jvm_rss
        details.update(cores=cores, spark_local_dir=os.environ["SPARK_LOCAL_DIRS"],
                       scratch_fs=_fs_type(work), jvm_peak_rss_mb=jvm_rss)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(details))
    print(json.dumps(with_units(result)))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "B"
    if name.endswith(("skew", "util", "frac", "coverage", "per_page")):
        return "ratio"
    return "count"


def with_units(result: dict) -> dict:
    """Attach each metric's unit, as BENCHMARK.json lists it."""
    result["metrics"] = {k: {"value": v, "unit": _unit(k)}
                         for k, v in result["metrics"].items()}
    return result


if __name__ == "__main__":
    sys.exit(main())
