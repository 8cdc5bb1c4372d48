"""Per-layer tracing from outside the engine.

Spans are recorded around calls into the engine's public functions by
replacing them for the length of one traced op and restoring them after:

* ``TableIO`` methods are wrapped on the *instance*.  ``incremental_update``
  picks its staged write path with ``type(io).write_level is
  TableIO.write_level``, so a subclass would silently change the program.
* plan builders (``encode_points``, ``cell_aggregate``, ``rollup_level``,
  ``merge_cells``) are wrapped in the pyramid module's namespace, where
  ``build_pyramid`` / ``incremental_update`` look them up;
* ``tilemath.tile_to_quadkey`` is wrapped on the module.

Spark's own numbers come from the driver's status store
(``statusStore().lastStageAttempt`` and ``taskSummary``), which works with
the UI disabled.  Jobs started from ``incremental_update``'s worker
threads carry no job group, so every stage is attributed to the innermost
span whose time window holds the stage's midpoint.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

IO_METHODS = ("write_level", "write_level_pandas", "read_level",
              "read_level_pandas", "read_manifest", "amend_manifest",
              "level_complete")
PLAN_FUNCS = ("encode_points", "cell_aggregate", "rollup_level", "merge_cells")
MANIFEST_METHODS = ("read_manifest", "amend_manifest", "level_complete")


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class Stage:
    t0: float
    t1: float
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    skew: float

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def _union_len(intervals) -> float:
    total, end = 0.0, -np.inf
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class SparkStages:
    """Reads finished jobs and stages from the driver's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = self._sc._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self.last_job = self._max_job_id()

    def _jobs(self):
        return self._conv.asJava(self._jsc.statusStore().jobsList(None))

    def _max_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def collect(self) -> tuple[int, list[Stage]]:
        """Jobs and stages finished since the previous call."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        q = self._sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        n_jobs, stages, newest = 0, [], self.last_job
        for job in self._jobs():
            if job.jobId() <= self.last_job:
                continue
            n_jobs += 1
            newest = max(newest, job.jobId())
            for sid in self._conv.asJava(job.stageIds()):
                sd = store.lastStageAttempt(sid)
                if not (sd.submissionTime().isDefined() and sd.completionTime().isDefined()):
                    continue  # skipped: its output was reused
                skew = 1.0
                ts = store.taskSummary(sid, sd.attemptId(), q)
                if ts.isDefined():
                    run = ts.get().executorRunTime()
                    skew = run.apply(1) / max(run.apply(0), 1.0)
                stages.append(Stage(
                    t0=sd.submissionTime().get().getTime() / 1e3,
                    t1=sd.completionTime().get().getTime() / 1e3,
                    tasks=sd.numTasks(), failed_tasks=sd.numFailedTasks(),
                    run_s=sd.executorRunTime() / 1e3,
                    cpu_s=sd.executorCpuTime() / 1e9,
                    gc_s=sd.jvmGcTime() / 1e3,
                    shuffle_write=sd.shuffleWriteBytes(),
                    spill=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    skew=skew))
        self.last_job = newest
        return n_jobs, stages


class Tracer:
    """Installs span wrappers for one op at a time and turns the spans and
    stages of that op into per-layer numbers."""

    def __init__(self, spark, cores: int):
        self.cores = cores
        self.stages = SparkStages(spark)
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def _wrap(self, fn, name, attrs=None):
        def traced(*args, **kwargs):
            t0 = time.time()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                span = Span(name, t0, time.time(),
                            attrs(result, *args, **kwargs) if attrs else {})
                with self._lock:
                    self.spans.append(span)
        return traced

    @contextmanager
    def instrument(self, io):
        """Wrap the engine's entry points for the length of one op."""
        from vt_grid_spark import tilemath
        from vt_grid_spark.operators import pyramid

        def io_attrs(result, *args, **kwargs):
            lineage = kwargs.get("lineage") or {}
            rows = result.get("row_count", 0) if isinstance(result, dict) else 0
            return {"op": lineage.get("op"), "salted": bool(lineage.get("salted")),
                    "rows": rows}

        saved_mod = [(pyramid, f, getattr(pyramid, f)) for f in PLAN_FUNCS]
        saved_mod.append((tilemath, "tile_to_quadkey", tilemath.tile_to_quadkey))
        try:
            for m in IO_METHODS:
                setattr(io, m, self._wrap(getattr(io, m), f"table_io.{m}", io_attrs))
            for mod, f, fn in saved_mod[:-1]:
                setattr(mod, f, self._wrap(fn, "functions.plan"))
            tilemath.tile_to_quadkey = self._wrap(tilemath.tile_to_quadkey,
                                                  "tilemath.quadkey")
            yield
        finally:
            for m in IO_METHODS:
                io.__dict__.pop(m, None)
            for mod, f, fn in saved_mod:
                setattr(mod, f, fn)

    def begin(self) -> None:
        self.stages.collect()  # drop anything that ran before the op
        self.spans = []

    def end(self, t0: float, t1: float, written: tuple) -> dict:
        """Per-layer numbers of the op that ran in [t0, t1] (time.time())."""
        n_jobs, stages = self.stages.collect()
        spans = self.spans
        wall = t1 - t0
        # attribute every stage to the innermost span holding its midpoint
        owner: list[Span | None] = []
        for st in stages:
            mid = (st.t0 + st.t1) / 2
            inside = [s for s in spans if s.t0 <= mid <= s.t1]
            owner.append(min(inside, key=lambda s: s.wall) if inside else None)

        def stages_of(pred):
            return [st for st, s in zip(stages, owner) if s is not None and pred(s)]

        def map_stages(*ops):
            return [st for st in stages_of(lambda s: s.name == "table_io.write_level"
                                           and s.attrs.get("op") in ops)
                    if st.shuffle_write > 0]

        def clipped(sts):
            return _union_len([(max(st.t0, t0), min(st.t1, t1)) for st in sts])

        def spans_named(name):
            return [s for s in spans if s.name == name]

        def wall_of(name):
            return sum(s.wall for s in spans_named(name))

        # Spark-side rollups: a build's distributed levels, and a fold's
        # delta chain + merge (rollup_level, merge_cells) of every level
        spark_rollups = ("rollup", "incremental-merge")
        enc, rol = map_stages("encode+aggregate"), map_stages(*spark_rollups)
        writes = spans_named("table_io.write_level")
        pw = spans_named("table_io.write_level_pandas")
        pr = spans_named("table_io.read_level_pandas")
        # the driver-side tail: first pandas level read to last pandas write
        tail_win = [(min(s.t0 for s in pr), max(s.t1 for s in pw))] if pw and pr else []
        tail = sum(b - a for a, b in tail_win)
        tail_spans = _union_len([(max(s.t0, a), min(s.t1, b)) for s in spans
                                 for a, b in tail_win if s.t1 > a and s.t0 < b])
        unspanned = [st for st, s in zip(stages, owner) if s is None]
        job_wall = _union_len([(st.t0, st.t1) for st in stages])
        covered = _union_len([(s.t0, s.t1) for s in spans]
                             + [(st.t0, st.t1) for st in unspanned] + tail_win)
        pyramid_self = max(wall - covered, 0.0)
        encode_s, rollup_s = clipped(enc), clipped(rol)
        quad_s = wall_of("tilemath.quadkey")
        pandas_io = wall_of("table_io.read_level_pandas") + wall_of("table_io.write_level_pandas")
        manifest_s = sum(wall_of(f"table_io.{m}") for m in MANIFEST_METHODS)
        # exclusive shares of the op wall, for the coverage figure
        exclusive = [wall_of("functions.plan"), encode_s, rollup_s,
                     wall_of("table_io.write_level") - encode_s - rollup_s,
                     wall_of("table_io.read_level"), pandas_io, manifest_s,
                     tail - tail_spans, quad_s,
                     clipped(unspanned), pyramid_self]
        longest = max(stages, key=lambda st: st.run_s, default=None)
        cpu = sum(st.cpu_s for st in stages)
        bytes_written, files_written = written
        return {
            "functions.plan_build_s": wall_of("functions.plan"),
            "encode.base_s": encode_s,
            "encode.base_cells": sum(s.attrs.get("rows", 0) for s in writes
                                     if s.attrs.get("op") == "encode+aggregate"),
            "encode.shuffle_write_bytes": sum(st.shuffle_write for st in enc),
            "encode.task_skew": max((st.skew for st in enc), default=0.0),
            "rollup.dist_s": rollup_s,
            "rollup.dist_levels": sum(s.attrs.get("op") in spark_rollups for s in writes),
            "rollup.salted_levels": sum(s.attrs.get("op") == "rollup"
                                        and s.attrs.get("salted") for s in writes),
            "rollup.shuffle_write_bytes": sum(st.shuffle_write for st in rol),
            "rollup.task_skew": max((st.skew for st in rol), default=0.0),
            "pyramid.driver_tail_s": tail,
            "pyramid.driver_levels": len(pw),
            "pyramid.self_s": pyramid_self,
            "tilemath.quadkey_s": quad_s,
            "table_io.write_level_s": wall_of("table_io.write_level"),
            "table_io.write_level_pandas_s": wall_of("table_io.write_level_pandas"),
            "table_io.read_level_s": wall_of("table_io.read_level"),
            "table_io.read_level_pandas_s": wall_of("table_io.read_level_pandas"),
            "table_io.manifest_s": manifest_s,
            "table_io.calls": sum(s.name.startswith("table_io.") for s in spans),
            "table_io.bytes_written": bytes_written,
            "table_io.files_written": files_written,
            "knn.jobs": n_jobs,
            "knn.join_task_skew": longest.skew if longest else 0.0,
            "knn.shuffle_write_bytes": sum(st.shuffle_write for st in stages),
            "spark.jobs": n_jobs,
            "spark.tasks": sum(st.tasks for st in stages),
            "spark.failed_tasks": sum(st.failed_tasks for st in stages),
            "spark.job_wall_s": job_wall,
            "spark.driver_only_s": max(wall - job_wall, 0.0),
            "spark.executor_cpu_s": cpu,
            "spark.cpu_util": cpu / (wall * self.cores),
            "spark.gc_s": sum(st.gc_s for st in stages),
            "spark.spill_bytes": sum(st.spill for st in stages),
            "trace.coverage": sum(exclusive) / wall,
        }
