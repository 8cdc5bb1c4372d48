"""Custom per-cell reducers — the reference's user-plugin surface
(arbitrary ``(memo, feature, areaOfIntersection, tile) -> memo`` closures
loaded per worker, /root/reference/lib/aggregate.js:26-36, exercised by
test/lib/aggregate-cells.js:13,41 and bench/aggregations/osm-roads.js:7-15).

Spark form: a Python callable ``reduce_fn(pdf: pandas.DataFrame, tile:
tuple) -> dict`` applied per cell group — Arrow-batched, never
row-at-a-time (north_rule: no per-row Python).  The ``tile`` argument
(the mapper tile the reference passes through, aggregate-cells.js:92) is
reconstructed from the cell key so reducer code can keep the reference's
calling convention.

Two physical strategies, identical semantics:

  * ``batched`` (default) — repartition on the cell key, sort within
    partitions, then ONE mapInPandas pass that sub-groups each Arrow
    batch in pandas, carrying the trailing (possibly batch-spanning)
    cell into the next batch.  groupBy().applyInPandas pays ~ms of
    per-GROUP machinery; at one group per cell that overhead IS the
    operator's cost at scale (millions of cells), the same pathology the
    MVT sink hit (sources/mvt.py).
  * ``per_cell`` — the plain applyInPandas form; right when cells are
    few and huge.

Scale note (SURVEY.md §7 g7): either way one cell's rows materialize in
one worker — pre-aggregate or salt upstream if cells can exceed memory;
algebraic logic belongs in plans/aggspec instead.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_custom_reducer(encoded: DataFrame, cell_z: int, mapper_z: int,
                         reduce_fn: Callable[[pd.DataFrame, tuple], dict],
                         result_schema: str,
                         strategy: str = "batched") -> DataFrame:
    """encoded: rows with (x, y) cell columns at cell_z + value columns.

    reduce_fn sees all rows of one cell and the (z, x, y) of the *mapper*
    tile containing that cell at mapper_z (the reference's tile arg).
    Returns one dict of result columns per cell; output schema is
    ``x long, y long, <result_schema>``.
    """
    dz = cell_z - mapper_z
    out_schema = f"x long, y long, {result_schema}"

    if strategy == "per_cell":
        def per_cell(key, pdf: pd.DataFrame) -> pd.DataFrame:
            x, y = int(key[0]), int(key[1])
            tile = (mapper_z, x >> dz, y >> dz)  # (z, x, y) single convention
            res = reduce_fn(pdf, tile)
            return pd.DataFrame([{"x": x, "y": y, **res}])

        return encoded.groupBy("x", "y").applyInPandas(
            per_cell, schema=out_schema)

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for (x, y), g in pdf.groupby(["x", "y"], sort=False):
            tile = (mapper_z, int(x) >> dz, int(y) >> dz)
            rows.append({"x": int(x), "y": int(y),
                         **reduce_fn(g.reset_index(drop=True), tile)})
        return pd.DataFrame(rows)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # rows arrive sorted by (x, y) within the partition, so only
            # the LAST cell of a batch can continue into the next batch
            lx, ly = pdf["x"].iloc[-1], pdf["y"].iloc[-1]
            tail = (pdf["x"] == lx) & (pdf["y"] == ly)
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield process(body)
        if carry is not None and len(carry):
            yield process(carry)

    parts = (encoded.repartition("x", "y")
             .sortWithinPartitions("x", "y"))
    return parts.mapInPandas(gen, schema=out_schema)


def build_custom_pyramid(points: DataFrame, io, reduce_fn,
                         result_schema: str, basezoom: int, minzoom: int,
                         gridsize: int = 1024, strategy: str = "batched",
                         resume: bool = False) -> dict:
    """Full pyramid of custom-reduced cells — the CLI surface behind
    ``--reducer-module`` (the reference loads user reducer modules per
    worker, lib/aggregate.js:26-36; here the module's callable ships to
    executors by cloudpickle / ``spark-submit --py-files``).

    Every level re-reduces from the RAW encoded points rather than from
    the previous level's cells: an arbitrary ``reduce_fn`` has no
    mergeable partials, so a cell rollup would silently change semantics
    (median-of-medians != median).  Algebraic reducers belong in
    plans/aggspec where the rollup IS partial-merge.  Cost is L scans of
    the input for L levels — the encode is closed-form bit math and the
    scan is the cheap part of a custom-reduce level; levels are written
    deepest-first so ``resume`` skips completed ones by manifest.

    Returns {cell_zoom: manifest} like :func:`operators.pyramid.build_pyramid`.
    """
    from vt_grid_spark.functions import sqltext as sq
    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.tilemath import grid_zoom

    manifests: dict[int, dict] = {}
    for output_z in range(basezoom, minzoom - 1, -1):
        cell_z = grid_zoom(output_z, gridsize)
        if resume and io.level_complete(cell_z):
            manifests[cell_z] = io.read_manifest(cell_z)
            continue
        encoded = encode_points(points, cell_z, with_quadkey=False)
        cells = apply_custom_reducer(encoded, cell_z, output_z, reduce_fn,
                                     result_schema, strategy=strategy)
        out = (cells.withColumn("zoom", F.lit(cell_z))
               .withColumn("quadkey", F.expr(sq.quadkey_sql("x", "y", cell_z))))
        val_cols = [c for c in cells.columns if c not in ("x", "y")]
        out = out.select("zoom", "x", "y", "quadkey", *val_cols)
        manifests[cell_z] = io.write_level(
            out, cell_z,
            lineage={"input": "points", "op": "custom-reduce",
                     "output_tile_zoom": output_z, "strategy": strategy})
    return manifests
