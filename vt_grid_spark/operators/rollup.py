"""One pyramid level: cells at zoom z -> parent cells at z-1.

The reference buckets children by parent quadkey
(/root/reference/lib/aggregate-cells.js:26-50, ``getParent∘quadkeyToTile`` =
drop-last-char).  Here the whole level is ONE hash aggregation on the
integer parent key ``(x>>1, y>>1)`` — no geometry, no strings in the
grouping key (quadkey is re-derived per level as presentation).

Scale notes (100 TB / 1000 executors):
  * Algebraic reducers (count/sum/min/max/mean/AWM partials) are immune to
    key skew: Catalyst's map-side partial aggregation emits at most one row
    per (task, key), so a hot cell's final combine sees <= #tasks rows.
    No salt needed — adding one would only double the shuffle.
  * Holistic reducers (union/collect_set, custom applyInPandas) DO
    concentrate a hot cell's raw rows in one task.  ``salted_agg`` runs the
    classic two-phase (key, salt)->key aggregation for those
    (north_rule: explicit salted-key skew handling; SURVEY.md §7 g5).
  * Each level shrinks keys 4x; AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vt_grid_spark.functions import sqltext as sq
from vt_grid_spark.plans.aggspec import AggSpec, compile_rollup_aggs

HOLISTIC = {"union", "kmvDistinct"}


def _has_holistic(specs: list[AggSpec]) -> bool:
    return any(s.reducer in HOLISTIC for s in specs)


def partial_columns(spec: AggSpec) -> list[str]:
    """The columns one spec keeps in a level: ``out``, or its partials."""
    if spec.reducer == "mean":
        return [f"{spec.out}__cnt", f"{spec.out}__sum"]
    if spec.reducer == "areaWeightedMean":
        return [f"{spec.out}__w", f"{spec.out}__wv"]
    return [spec.out]


def _required_rollup_cols(specs: list[AggSpec]) -> list[str]:
    """Input columns a rollup consumes.  Rollup input is by contract the
    OUTPUT of compile_aggs/compile_rollup_aggs: the aggregate lives under
    ``spec.out`` (partials under ``out__*``) — ``spec.field`` names the
    base-level input column and is never read again above the base level."""
    return [c for s in specs for c in partial_columns(s)]


def rollup_level(cells: DataFrame, child_z: int, specs: list[AggSpec],
                 salt_buckets: int = 0, extra_keys: list[str] | None = None) -> DataFrame:
    """Aggregate cells at child_z into their parents at child_z - 1."""
    z = child_z - 1
    missing = [c for c in _required_rollup_cols(specs) if c not in cells.columns]
    if missing:
        raise ValueError(
            f"rollup input is missing aggregate columns {missing}: rollup "
            "consumes the OUTPUT of a previous cell_aggregate/rollup_level "
            "(columns named spec.out / spec.out__*), not raw feature columns "
            "(spec.field is only read at the base level)")
    exprs = compile_rollup_aggs(specs)
    keys = extra_keys or []

    parented = (cells.withColumn("_px", F.shiftright("x", 1))
                .withColumn("_py", F.shiftright("y", 1)))

    if salt_buckets > 1 and _has_holistic(specs):
        # two-phase: partials per (parent, salt), then final per parent.
        salt = F.pmod(F.xxhash64("x", "y"), F.lit(salt_buckets))
        phase1 = (
            parented.withColumn("_salt", salt)
            .groupBy("_px", "_py", "_salt", *keys)
            .agg(*exprs)
        )
        grouped = phase1.groupBy("_px", "_py", *keys).agg(*compile_rollup_aggs(specs))
    else:
        grouped = parented.groupBy("_px", "_py", *keys).agg(*exprs)

    out = (
        grouped.withColumnRenamed("_px", "x")
        .withColumnRenamed("_py", "y")
        .withColumn("zoom", F.lit(z))
        .withColumn("quadkey", F.expr(sq.quadkey_sql("x", "y", z)))
    )
    # stable column order: keys, then aggregates
    agg_cols = [c for c in out.columns if c not in {"zoom", "x", "y", "quadkey", *keys}]
    return out.select("zoom", "x", "y", "quadkey", *keys, *agg_cols)


def merge_cells(parts: list[DataFrame], zoom: int, specs: list[AggSpec],
                extra_keys: list[str] | None = None) -> DataFrame:
    """tile-join merge (S7; reference ``tile-join`` / includeBaseData,
    /root/reference/index.js:144-171): combine N cell tables AT THE SAME
    zoom into one, re-reducing aggregates cell-by-cell with the rollup
    combiners (sum of sums, min of mins, union of unions, mean/AWM
    partials carried).  One hash aggregation on integer (x, y) — a merge
    is a rollup without the parent shift, so it inherits the same
    map-side-partial skew immunity for algebraic reducers."""
    keys = extra_keys or []
    cols = ["x", "y", *keys, *_required_rollup_cols(specs)]
    for p in parts:
        missing = [c for c in cols if c not in p.columns]
        if missing:
            raise ValueError(f"merge input missing aggregate columns {missing}")
    base = parts[0].select(*cols)
    for p in parts[1:]:
        base = base.unionByName(p.select(*cols))
    grouped = base.groupBy("x", "y", *keys).agg(*compile_rollup_aggs(specs))
    out = (grouped.withColumn("zoom", F.lit(zoom))
           .withColumn("quadkey", F.expr(sq.quadkey_sql("x", "y", zoom))))
    agg_cols = [c for c in out.columns
                if c not in {"zoom", "x", "y", "quadkey", *keys}]
    return out.select("zoom", "x", "y", "quadkey", *keys, *agg_cols)


def densify(cells: DataFrame, parent_z: int, cell_z: int) -> DataFrame:
    """Dense-cell view for fixture parity: materialize all 4^(cell_z-parent_z)
    progeny of each occupied parent tile, left-joining real values
    (reference grid path emits empties, lib/aggregate-cells.js:39-47).

    Only for small exports/tests — web-scale output stays sparse.
    """
    d = cell_z - parent_z
    span = 1 << d
    parents = (
        cells.select(F.shiftright("x", d).alias("_tx"), F.shiftright("y", d).alias("_ty"))
        .distinct()
    )
    grid = (
        parents
        .withColumn("_dx", F.explode(F.sequence(F.lit(0), F.lit(span - 1))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(0), F.lit(span - 1))))
        .select(
            (F.shiftleft("_tx", d) + F.col("_dx")).alias("x"),
            (F.shiftleft("_ty", d) + F.col("_dy")).alias("y"),
        )
    )
    return grid.join(cells, ["x", "y"], "left").withColumn(
        "zoom", F.lit(cell_z)
    ).withColumn("quadkey", F.expr(sq.quadkey_sql("x", "y", cell_z)))
