"""Pyramid driver: the reference's per-level recursion
(/root/reference/index.js:94-162) as a checkpointed Spark loop.

Each output level is one shuffle stage (groupBy on the integer parent
key); every level is written to a ``zoom=<z>`` partition with a manifest
(the resume point, mirroring the reference feeding each level's mbtiles
into the next, index.js:151-159).  Within a run the next rollup reads the
previous level from the block-manager CACHE (persisted during the level's
own write job), not back off parquet — the checkpoint write is the
durability path, never a serial decode on the critical path.  On resume
the cache is cold and the level IS re-read from its checkpoint.

Levels below ``SMALL_LEVEL_ROWS`` skip Spark: the build's upper levels and
an incremental fold's merges run on the driver through one numpy
combiner, :func:`combine_cells`, over Arrow columns.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vt_grid_spark import tilemath as tm
from vt_grid_spark.operators.encode import (cell_aggregate, cover_cell_predicate,
                                            cover_lonlat_predicate, cover_ranges,
                                            encode_points)
from vt_grid_spark.operators.rollup import (HOLISTIC, merge_cells, partial_columns,
                                            rollup_level)
from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs
from vt_grid_spark.plans.pyramid_plan import PyramidPlan
from vt_grid_spark.sources.table_io import TableIO

# below this many rows a level is rolled up / folded driver-side (numpy
# over Arrow columns): at the top of the pyramid each level is one near-
# empty Spark job (~0.5-2 s of pure scheduling), and 10+ such levels are
# the serial fraction that caps scaling efficiency.  1M rows of partials
# is a few tens of MB.
SMALL_LEVEL_ROWS = 1_000_000


class _Segments:
    """Rows sorted by the Morton code of their (shifted) cell, cut into
    one segment per output cell."""

    def __init__(self, x: np.ndarray, y: np.ndarray, shift: int):
        m = tm.morton(x >> shift, y >> shift)
        # stable: input already in Morton order (a level written by this
        # path, a child level shifted up) is one run, not a full sort
        self.order = np.argsort(m, kind="stable")
        self.starts = np.flatnonzero(_firsts(m[self.order]))
        self.x = (x[self.order] >> shift)[self.starts]
        self.y = (y[self.order] >> shift)[self.starts]

    @functools.cached_property
    def ids(self) -> np.ndarray:
        """Segment index of every sorted row."""
        first = np.zeros(len(self.order), dtype=np.int64)
        first[self.starts] = 1
        return np.cumsum(first) - 1


def _firsts(keys: np.ndarray) -> np.ndarray:
    """Mask of the rows that start a run of equal sorted keys."""
    mask = np.ones(len(keys), dtype=bool)
    mask[1:] = keys[1:] != keys[:-1]
    return mask


def _scalar(reduce):
    """Per-segment ufunc reduce of a scalar column; nulls are skipped and a
    segment with no value is null, as in Spark's sum/min/max."""
    def combine(col, seg: _Segments, spec: AggSpec):
        col = col.take(seg.order)
        if not col.null_count:
            return pa.array(reduce(col.to_numpy(zero_copy_only=False), seg.starts),
                            type=col.type)
        ids = seg.ids[col.is_valid().to_numpy(zero_copy_only=False)]
        present = _firsts(ids)
        reduced = reduce(col.drop_null().to_numpy(zero_copy_only=False),
                         np.flatnonzero(present))
        out = np.zeros(len(seg.starts), dtype=reduced.dtype)
        out[ids[present]] = reduced
        missing = np.ones(len(seg.starts), dtype=bool)
        missing[ids[present]] = False
        return pa.array(out, type=col.type, mask=missing)
    return combine


def _fmin_reduceat(v, starts):
    # Spark orders NaN above every number: min skips NaN (fmin), max keeps it
    return (np.fmin if v.dtype.kind == "f" else np.minimum).reduceat(v, starts)


def _distinct(col, seg: _Segments, spec: AggSpec):
    """Sorted distinct union of the segment's arrays (kmvDistinct: its k
    smallest) — one sort over (segment, value rank) pairs."""
    col = col.take(seg.order)
    flat = pc.list_flatten(col)
    owner = seg.ids[pc.list_parent_indices(col).to_numpy()]
    rank = pc.rank(flat, sort_keys="ascending", tiebreaker="dense").to_numpy()
    order = np.lexsort((rank, owner))
    keep = _firsts(owner[order]) | _firsts(rank[order])
    order, owner = order[keep], owner[order][keep]
    if spec.reducer == "kmvDistinct":
        top = np.arange(len(owner)) - np.searchsorted(owner, owner) < spec.k
        order, owner = order[top], owner[top]
    offsets = np.zeros(len(seg.starts) + 1, dtype=np.int32)
    np.cumsum(np.bincount(owner, minlength=len(seg.starts)), out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), flat.take(pa.array(order)),
                                    type=col.type)


def _hist(col, seg: _Segments, spec: AggSpec):
    """Elementwise sum of the segment's fixed-length bucket arrays."""
    col = col.take(seg.order)
    b = spec.buckets
    counts = pc.list_flatten(col).to_numpy().reshape(-1, b)
    summed = np.add.reduceat(counts, seg.starts, axis=0) if len(counts) else counts
    offsets = np.arange(0, summed.size + 1, b, dtype=np.int32)
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(summed.ravel(), type=col.type.value_type),
        type=col.type)


# reducer -> driver-side combiner of its partial column(s): the numpy form
# of compile_rollup_aggs, exact for integer counts and partial sums
_SUM = _scalar(np.add.reduceat)
DRIVER_COMBINERS = {
    "count": _SUM, "sum": _SUM, "mean": _SUM, "areaWeightedMean": _SUM,
    "areaWeightedSum": _SUM, "totalArea": _SUM,
    "min": _scalar(_fmin_reduceat), "max": _scalar(np.maximum.reduceat),
    "union": _distinct, "kmvDistinct": _distinct, "histQuantile": _hist,
}


def combine_cells(cells: pa.Table, specs: list[AggSpec], shift: int) -> pa.Table:
    """Driver-side rollup (``shift=1``, cells -> parent cells) or merge
    (``shift=0``, duplicate cells -> one row each) of (x, y, partials).

    The numpy twin of rollup_level / merge_cells: one stable sort by the
    Morton code of (x >> shift, y >> shift), segment starts where the code
    changes, then every partial column reduced per segment by its
    reducer's entry in DRIVER_COMBINERS.  Output rows are in Morton order;
    x and y keep their input types."""
    seg = _Segments(cells.column("x").to_numpy(), cells.column("y").to_numpy(), shift)
    out = {"x": seg.x, "y": seg.y}
    for s in specs:
        for c in partial_columns(s):
            out[c] = DRIVER_COMBINERS[s.reducer](cells.column(c).combine_chunks(), seg, s)
    return pa.table(out)


def _with_quadkey(cells: pa.Table, z: int) -> pa.Table:
    """Insert the quadkey column (third, as in the Spark levels), built
    straight from the digit bytes — no Python string per row."""
    x, y = cells.column("x").to_numpy(), cells.column("y").to_numpy()
    chars = tm.quadkey_chars(x, y, z)
    offsets = np.arange(len(x) + 1, dtype=np.int32) * np.int32(z)
    qk = pa.StringArray.from_buffers(len(x), pa.py_buffer(offsets),
                                     pa.py_buffer(chars))
    return cells.add_column(2, "quadkey", qk)


def _apply_cover(points: DataFrame, plan: PyramidPlan, cell_z: int,
                 with_quadkey: bool = True) -> DataFrame:
    """Encode at cell_z, restricted to the plan's bbox / tile-list cover
    (reference index.js:113-122).  Two-stage filter: a conservative lon/lat
    range predicate on the RAW columns first (reaches the parquet scan as
    PushedFilters — partition/row-group pruning), then the exact integer
    cell-range predicate on the encoded key."""
    ranges = cover_ranges(cell_z, plan.bbox, plan.tiles)
    if not ranges:
        return encode_points(points, cell_z, with_quadkey=with_quadkey)
    pre = points.where(cover_lonlat_predicate(ranges, cell_z))
    return (encode_points(pre, cell_z, with_quadkey=with_quadkey)
            .where(cover_cell_predicate(ranges)))


def build_pyramid(points: DataFrame, plan: PyramidPlan, io: TableIO,
                  resume: bool = True, repartition: int | None = None) -> dict:
    """points(lon, lat, value columns) -> one written level per output zoom.

    Levels are keyed by CELL zoom (output tile zoom + log4(gridsize)), so
    level z's cells are exactly the direct parents of level z+1's cells
    and each rollup is `groupBy(x>>1, y>>1)` — the quadkey-prefix
    invariant (SURVEY.md §2.3 G2).

    Returns {cell_zoom: manifest}.
    """
    spark = points.sparkSession
    manifests: dict[int, dict] = {}

    levels = list(plan.levels())  # [(output_z, cell_z, band)] desc
    base_output_z, base_cell_z, base_band = levels[0]

    # hot-key bookkeeping (SURVEY.md §7 g5 re-salt rule): holistic reducers
    # concentrate a hot cell's values in one task, so each level's manifest
    # records max_cell_rows (the max per-cell point count, read from the
    # count aggregate) and the NEXT rollup salts only when it exceeds
    # plan.hot_key_threshold.  Plans with no holistic reducer skip all of
    # this — algebraic aggs are skew-immune via map-side partials.
    any_holistic = any(s.reducer in HOLISTIC
                       for b in plan.bands for s in b.aggregations)
    count_col = next((s.out for b in plan.bands for s in b.aggregations
                      if s.reducer == "count"), None)

    def _track_max(zoom: int, cells=None, df=None) -> None:
        if not any_holistic or count_col is None:
            return
        if cells is not None:
            mx = _max_count(cells, count_col)
        else:
            src = df if df is not None else io.read_level(spark, zoom)
            row = src.agg(F.max(count_col)).collect()[0]
            mx = int(row[0]) if row[0] is not None else 0
        manifests[zoom] = io.amend_manifest(zoom, max_cell_rows=mx)

    def _salt_for(prev_zoom: int, band) -> int:
        if plan.salt_buckets <= 1 or not any(
                s.reducer in HOLISTIC for s in band.aggregations):
            return 0
        prev_max = manifests[prev_zoom].get("max_cell_rows")
        if prev_max is None:  # no count spec to measure with — stay safe
            return plan.salt_buckets
        return plan.salt_buckets if prev_max > plan.hot_key_threshold else 0

    # --- base level: encode + first aggregation -----------------------------
    prev_df = None  # cached handle of the previous level within this run
    if resume and io.level_complete(base_cell_z):
        manifests[base_cell_z] = io.read_manifest(base_cell_z)
    else:
        encoded = _apply_cover(points, plan, base_cell_z)
        if repartition:
            encoded = encoded.repartition(repartition, "x", "y")
        base = cell_aggregate(encoded, base_cell_z,
                              compile_aggs(base_band.aggregations)).persist()
        manifests[base_cell_z] = io.write_level(
            base, base_cell_z,
            lineage={"input": "points", "op": "encode+aggregate",
                     "output_tile_zoom": base_output_z},
        )
        _track_max(base_cell_z, df=base)
        prev_df = base

    # --- rollup levels -------------------------------------------------------
    # distributed while levels are big; once a level fits SMALL_LEVEL_ROWS
    # the remaining pyramid is computed driver-side (combine_cells) —
    # removes ~10 near-empty Spark jobs of pure scheduling latency.
    prev_cell_z = base_cell_z
    small = None  # the previous level's cells, once levels are driver-side
    for output_z, cell_z, band in levels[1:]:
        assert cell_z == prev_cell_z - 1
        if resume and io.level_complete(cell_z):
            manifests[cell_z] = io.read_manifest(cell_z)
            small = None  # re-read lazily if needed
            if prev_df is not None:
                prev_df.unpersist()
                prev_df = None  # cache is stale relative to the skip point
        elif small is not None or manifests[prev_cell_z]["row_count"] < SMALL_LEVEL_ROWS:
            cols = _level_columns(band.aggregations)
            small = (io.read_level_arrow(prev_cell_z, cols) if small is None
                     else small.select(cols))
            if prev_df is not None:
                prev_df.unpersist()
                prev_df = None  # remaining levels are driver-side
            small = combine_cells(small, band.aggregations, shift=1)
            manifests[cell_z] = io.write_level_arrow(
                _with_quadkey(small, cell_z), cell_z,
                lineage={"input": f"zoom={prev_cell_z}", "op": "rollup-small",
                         "output_tile_zoom": output_z},
            )
            _track_max(cell_z, cells=small)
        else:
            salt = _salt_for(prev_cell_z, band)
            children = (prev_df if prev_df is not None
                        else io.read_level(spark, prev_cell_z))
            level = rollup_level(children, prev_cell_z, band.aggregations,
                                 salt_buckets=salt).persist()
            manifests[cell_z] = io.write_level(
                level, cell_z,
                lineage={"input": f"zoom={prev_cell_z}", "op": "rollup",
                         "output_tile_zoom": output_z, "salted": salt > 1,
                         "salt_buckets": salt},
            )
            _track_max(cell_z, df=level)
            if prev_df is not None:
                prev_df.unpersist()
            prev_df = level
        prev_cell_z = cell_z

    if prev_df is not None:
        prev_df.unpersist()
    return manifests


def incremental_update(delta_points: DataFrame, plan: PyramidPlan,
                       io: TableIO) -> dict:
    """Fold a NEW batch of points into an existing COMPLETE pyramid without
    re-reading raw history (reference users re-run vt-grid over the whole
    mbtiles; here the checkpointed levels + mergeable reducers make the
    delta path exact: every reducer's rollup combiner is a commutative
    monoid, so merge(existing_level, rollup(delta)) == rebuild over the
    union — asserted level-by-level in tests/test_pyramid.py).

    Which levels fold where — the build's rule, per level:

    * a level whose manifest ``row_count`` is below ``SMALL_LEVEL_ROWS``
      folds on the DRIVER.  Levels shrink going up, so these are the top
      of the pyramid.  The delta's partials at the lowest of them are
      collected once (the only Spark job of the fold when every level is
      small) and rolled up from there with :func:`combine_cells`; each
      level is read without its quadkey, merged with the delta by the
      same combiner (shift 0) and rewritten through
      ``TableIO.write_level_arrow``.  A delta whose partials would reach
      ``SMALL_LEVEL_ROWS`` rows is not collected: every level then takes
      the Spark path below.
    * bigger levels merge on SPARK (100 TB pyramid, small delta): per
      level the delta touches |delta cells| keys — broadcast that key set,
      route untouched existing rows through a broadcast LEFT ANTI join (no
      shuffle of the big table), and hash-merge only the touched slice
      with the delta partials.  Cost per level = one scan of the level +
      one tiny shuffle of the touched slice, instead of a full rebuild
      from raw points.

    Deletes are out of scope (append-only corpus, min/max/union/kmv are
    insert-monotone).
    """
    spark = delta_points.sparkSession
    levels = list(plan.levels())
    _, base_cell_z, base_band = levels[0]
    for _, cell_z, _ in levels:
        if not io.level_complete(cell_z):
            raise ValueError(
                f"incremental_update needs a complete pyramid; zoom {cell_z} "
                "is missing — run build_pyramid first (resume finishes a "
                "partial build)")
    old = {cell_z: io.read_manifest(cell_z) for _, cell_z, _ in levels}
    n_spark = next((i for i, (_, cell_z, _) in enumerate(levels)
                    if old[cell_z]["row_count"] < SMALL_LEVEL_ROWS), len(levels))

    manifests: dict[int, dict] = {}
    staged = type(io).write_level is TableIO.write_level
    # phase 1 — the delta partial chain.  Spark levels persist theirs up
    # front (r6): the r5 loop unpersisted each level before its child
    # materialized, so every level's broadcast re-ran the whole delta
    # aggregation from raw points.  The chain is materialized by the merge
    # jobs below and released once every level is committed.  At the
    # first driver level the chain is collected instead, and stops.  No
    # quadkey in the chain: every consumer (merge_cells, rollup_level, the
    # driver fold) re-derives it from (x, y).
    cur = cell_aggregate(_apply_cover(delta_points, plan, base_cell_z,
                                      with_quadkey=False),
                         base_cell_z, compile_aggs(base_band.aggregations))
    work: list[tuple] = []
    small = None
    for i, (output_z, cell_z, band) in enumerate(levels):
        if i:
            cur = rollup_level(cur, levels[i - 1][1], band.aggregations)
        if i == n_spark:
            # collected whole: phase 3 picks the level's columns in Arrow
            small = cur.limit(SMALL_LEVEL_ROWS).toArrow()
            if small.num_rows < SMALL_LEVEL_ROWS:
                break
            small, n_spark = None, len(levels)  # too big a delta for the driver
        cur = cur.persist()
        work.append((output_z, cell_z, band, cur))

    def _merge_level(item):
        output_z, cell_z, band, delta = item
        specs = band.aggregations
        existing = io.read_level(spark, cell_z)
        keys = delta.select("x", "y")
        untouched = existing.join(F.broadcast(keys), ["x", "y"], "left_anti")
        touched = existing.join(F.broadcast(keys), ["x", "y"], "left_semi")
        merged = merge_cells([touched, delta], cell_z, specs)
        cols = merged.columns
        # staged write (r6): the merged plan lazily reads the level it
        # replaces, so the parquet backend writes to a sibling dir and
        # swaps after success — ONE materialization per level instead of
        # an eager localCheckpoint followed by a second full write.  The
        # catalog backend has no stage knob; fall back to the checkpoint
        # there (createOrReplace may not be atomic against its own input).
        new_level = untouched.select(*cols).unionByName(merged)
        lineage = _merge_lineage(old[cell_z], output_z, cell_z)
        if staged:
            m = io.write_level(new_level, cell_z, lineage=lineage, stage=True)
        else:
            m = io.write_level(new_level.localCheckpoint(eager=True), cell_z,
                               lineage=lineage)
        # hot-key bookkeeping stays valid: recompute the max over the
        # JUST-COMMITTED level files (the merged plan's own lineage would
        # re-read the level files this write replaced)
        count_col = _count_column(specs)
        if old[cell_z].get("max_cell_rows") is not None and count_col is not None:
            row = io.read_level(spark, cell_z).agg(F.max(count_col)).collect()[0]
            mx = int(row[0]) if row[0] is not None else 0
            m = io.amend_manifest(cell_z, max_cell_rows=mx)
        return cell_z, m

    # phase 2 — once the delta chain exists the per-level merges are
    # independent of each other: run them from a small thread pool so one
    # level's write tail back-fills with the next level's tasks (guide
    # §2.6 overlapping independent jobs).  Parquet backend only — the
    # catalog backend appends every manifest to ONE journal table, which
    # concurrent v1 appends could corrupt.
    from concurrent.futures import ThreadPoolExecutor

    workers = min(4, len(work)) if staged else 1
    with ThreadPoolExecutor(max_workers=max(workers, 1)) as pool:
        for cell_z, m in pool.map(_merge_level, work):
            manifests[cell_z] = m
    for *_, d in work:
        d.unpersist()

    # phase 3 — the driver levels: roll the collected delta up one level at
    # a time and merge it into each level with the same combiner
    for i, (output_z, cell_z, band) in enumerate(levels[n_spark:]):
        specs = band.aggregations
        cols = _level_columns(specs)
        small = small.select(cols)
        if i:
            small = combine_cells(small, specs, shift=1)
        existing = io.read_level_arrow(cell_z, cols)
        merged = combine_cells(pa.concat_tables([existing, small.cast(existing.schema)]),
                               specs, shift=0)
        m = io.write_level_arrow(_with_quadkey(merged, cell_z), cell_z,
                                 lineage=_merge_lineage(old[cell_z], output_z, cell_z))
        count_col = _count_column(specs)
        if old[cell_z].get("max_cell_rows") is not None and count_col is not None:
            m = io.amend_manifest(cell_z, max_cell_rows=_max_count(merged, count_col))
        manifests[cell_z] = m
    return manifests


def _level_columns(specs: list[AggSpec]) -> list[str]:
    """What a driver-side rollup or merge reads of a level: the cell key
    and the partials (the quadkey is recomputed for the output)."""
    return ["x", "y", *(c for s in specs for c in partial_columns(s))]


def _count_column(specs: list[AggSpec]) -> str | None:
    return next((s.out for s in specs if s.reducer == "count"), None)


def _max_count(cells: pa.Table, count_col: str) -> int:
    return int(pc.max(cells.column(count_col)).as_py() or 0)


def _merge_lineage(old: dict, output_z: int, cell_z: int) -> dict:
    return {"input": f"zoom={cell_z}+delta", "op": "incremental-merge",
            "output_tile_zoom": output_z, "previous_row_count": old.get("row_count")}


def build_pyramid_df(points: DataFrame, plan: PyramidPlan) -> DataFrame:
    """In-memory variant (no checkpointing): union of all levels as one
    DataFrame — used by tests and the DuckDB-oracle queries where writing
    to disk is unnecessary."""
    levels = list(plan.levels())
    _, base_cell_z, base_band = levels[0]
    encoded = _apply_cover(points, plan, base_cell_z)
    cur = cell_aggregate(encoded, base_cell_z, compile_aggs(base_band.aggregations))
    out = [cur]
    prev_cell_z = base_cell_z
    for _, cell_z, band in levels[1:]:
        cur = rollup_level(cur, prev_cell_z, band.aggregations,
                           salt_buckets=plan.salt_buckets)
        out.append(cur)
        prev_cell_z = cell_z
    result = out[0]
    for lvl in out[1:]:
        result = result.unionByName(lvl)
    return result
