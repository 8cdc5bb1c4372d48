"""Streaming pyramid maintenance: a Structured Streaming sink that keeps
a checkpointed TableIO pyramid fresh as point batches arrive.

The production shape for "events flow in, tiles stay current": the first
microbatch bootstraps the pyramid with :func:`operators.pyramid.
build_pyramid`; every later microbatch folds in through
:func:`operators.pyramid.incremental_update` — levels below
``SMALL_LEVEL_ROWS`` fold on the driver from one collect of the delta
(no Spark job per level), bigger ones take one scan of the existing
cells plus a delta-sized shuffle (broadcast anti/semi routing); never a
rebuild from raw history.  Exactness holds because every aggspec
reducer's rollup combiner is a commutative monoid (the property the
batch delta path proves in tests/test_pyramid.py::
test_incremental_update_equals_rebuild), so after N microbatches the
pyramid is IDENTICAL to a one-shot batch build over the union — asserted
stream-vs-batch in tests/test_streaming_custom.py.

Delivery semantics — GENERATION COMMITS.  foreachBatch is at-least-once
on retry and ``incremental_update`` is neither idempotent (folding a
delta twice double-counts) nor atomic (it rewrites the levels one by
one), so neither "journal after the fold" nor "journal before the fold"
is sound: the first double-folds when the driver dies between the last
level write and the journal write, the second loses the batch when it
dies mid-fold.  Instead every fold writes a complete NEW generation
directory — existing level files enter it as hardlinks (O(#files) inode
ops, zero data copy; Spark's overwrite unlinks them before writing the
updated level, which never touches the source generation) — and the
commit is ONE atomic ``os.replace`` of the ``CURRENT`` pointer carrying
both the generation name and the applied batch id.  A crash anywhere
mid-fold leaves ``CURRENT`` on the old generation, so the replay redoes
the fold into a fresh stage; a replay after the commit sees its batch id
already applied and no-ops.  This is the same snapshot-pointer recipe
Iceberg commits use, kept file-local to match TableIO's manifest style;
only the max applied id is stored (batch ids are monotonic and
foreachBatch can only replay the latest), so sink state is O(1) forever.

Backend note: the sink owns plain filesystem generation directories and
therefore supports the parquet :class:`TableIO` backend only.  A
``CatalogTableIO`` deployment would implement the same semantics through
its catalog's native snapshot commit (e.g. Iceberg's) rather than
directory pointers — rejected loudly rather than half-supported.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame

from vt_grid_spark.operators.pyramid import build_pyramid, incremental_update
from vt_grid_spark.plans.pyramid_plan import PyramidPlan
from vt_grid_spark.sources.table_io import TableIO


def _link_tree(src: str, dst: str) -> None:
    """Recreate src's tree under dst with hardlinked files (copy fallback
    for filesystems without link support)."""
    for base, _, files in os.walk(src):
        rel = os.path.relpath(base, src)
        out = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out, exist_ok=True)
        for name in files:
            s, d = os.path.join(base, name), os.path.join(out, name)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


class PyramidStreamSink:
    """``writeStream.foreachBatch(PyramidStreamSink(plan, root))``.

    ``root`` holds ``gen-<batch_id>/`` pyramid generations plus the
    atomic ``CURRENT`` pointer ``{"gen": name|null, "applied_batch": N}``.
    Read the live pyramid with :meth:`current_io`.
    """

    def __init__(self, plan: PyramidPlan, root: str):
        self.plan = plan
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- the CURRENT pointer --------------------------------------------------
    @property
    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def _read_current(self) -> dict:
        try:
            with open(self._current_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"gen": None, "applied_batch": -1}

    def _commit(self, gen: str | None, batch_id: int) -> None:
        tmp = self._current_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"gen": gen, "applied_batch": int(batch_id)}, f)
        os.replace(tmp, self._current_path)  # the atomic commit point

    def current_io(self) -> TableIO | None:
        """TableIO over the committed generation (None before bootstrap)."""
        cur = self._read_current()
        if cur["gen"] is None:
            return None
        return TableIO(os.path.join(self.root, cur["gen"]))

    def _gc(self, keep: str | None) -> None:
        for name in os.listdir(self.root):
            if name.startswith("gen-") and name != keep:
                shutil.rmtree(os.path.join(self.root, name),
                              ignore_errors=True)

    # -- the sink -------------------------------------------------------------
    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        cur = self._read_current()
        if int(batch_id) <= cur["applied_batch"]:
            return  # foreachBatch retry of an already-committed fold
        if batch.isEmpty():
            self._commit(cur["gen"], batch_id)
            return

        stage_name = f"gen-{int(batch_id)}"
        stage = os.path.join(self.root, stage_name)
        # a crashed earlier attempt of THIS batch may have left a partial
        # stage — wipe and redo (CURRENT never pointed at it)
        shutil.rmtree(stage, ignore_errors=True)

        # localCheckpoint: the fold runs one job per level over the delta
        # — without it each level would re-read the stream batch's files
        batch = batch.localCheckpoint()
        try:
            if cur["gen"] is None:
                build_pyramid(batch, self.plan, TableIO(stage), resume=False)
            else:
                _link_tree(os.path.join(self.root, cur["gen"]), stage)
                incremental_update(batch, self.plan, TableIO(stage))
            self._commit(stage_name, batch_id)
            self._gc(keep=stage_name)
        finally:
            batch.unpersist()


def maintain_pyramid(stream: DataFrame, plan: PyramidPlan, root: str,
                     checkpoint_dir: str, trigger_available_now: bool = True):
    """Convenience wrapper: attach the sink to a streaming DataFrame of
    points (lon, lat, value columns) and return the started query.  Read
    the live pyramid via ``PyramidStreamSink(plan, root).current_io()``."""
    writer = (stream.writeStream
              .foreachBatch(PyramidStreamSink(plan, root))
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
