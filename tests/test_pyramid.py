"""Pyramid rollup: the reference's parent == Σ(children) invariant
(/root/reference/test/lib/aggregate-cells.js:28-56) at every level, plus
checkpoint/resume behavior."""

import os

from pyspark.sql import functions as F

from vt_grid_spark.operators.pyramid import build_pyramid, build_pyramid_df
from vt_grid_spark.plans.aggspec import AggSpec, finalize_columns
from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
from vt_grid_spark.sources import pages
from vt_grid_spark.sources.table_io import TableIO

SPECS = [
    AggSpec(out="cnt", reducer="count"),
    AggSpec(out="sum_v", reducer="sum", field="v"),
    AggSpec(out="mean_v", reducer="mean", field="v"),
    AggSpec(out="min_v", reducer="min", field="v"),
    AggSpec(out="max_v", reducer="max", field="v"),
    AggSpec(out="langs", reducer="union", field="lang"),
]


def _points(spark, n=4000):
    df = pages.with_coords(pages.pages_df(spark, n))
    return df.withColumn("v", (F.length("url") % 17).cast("double"))


def test_parent_equals_sum_of_children(spark):
    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=4, aggregations=SPECS)],
                       gridsize=16, salt_buckets=4)
    levels = build_pyramid_df(_points(spark), plan).cache()
    zooms = sorted({r.zoom for r in levels.select("zoom").distinct().collect()})
    assert zooms == list(range(6, 11))  # cell zooms: base 8+2=10 down to 4+2=6

    for child_z in zooms[1:]:
        kids = (
            levels.where(F.col("zoom") == child_z)
            .groupBy(F.shiftright("x", 1).alias("x"), F.shiftright("y", 1).alias("y"))
            .agg(F.sum("cnt").alias("k_cnt"), F.sum("sum_v").alias("k_sum"),
                 F.min("min_v").alias("k_min"), F.max("max_v").alias("k_max"))
        )
        parents = levels.where(F.col("zoom") == child_z - 1)
        joined = parents.join(kids, ["x", "y"], "full").collect()
        for r in joined:
            assert r.cnt == r.k_cnt, r
            assert abs(r.sum_v - r.k_sum) < 1e-6
            assert r.min_v == r.k_min and r.max_v == r.k_max
    levels.unpersist()


def test_quadkey_prefix_parenthood(spark):
    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=7, aggregations=SPECS[:2])],
                       gridsize=16)
    levels = build_pyramid_df(_points(spark, 1500), plan).cache()
    child = {(r.x, r.y): r.quadkey for r in levels.where("zoom = 10").collect()}
    parent = {(r.x, r.y): r.quadkey for r in levels.where("zoom = 9").collect()}
    assert child and parent
    for (x, y), qk in child.items():
        assert len(qk) == 10
        assert parent[(x >> 1, y >> 1)] == qk[:-1]
    levels.unpersist()


def test_union_and_mean_semantics(spark):
    plan = PyramidPlan(bands=[ZoomBand(basezoom=6, minzoom=3, aggregations=SPECS)],
                       gridsize=4, salt_buckets=4)
    levels = build_pyramid_df(_points(spark, 3000), plan)
    top = levels.where(F.col("zoom") == 4)
    fin = finalize_columns(SPECS)
    top = top.withColumn("mean_v", fin["mean_v"]).collect()
    for r in top:
        assert r.langs == sorted(set(r.langs))  # sorted, distinct (g4)
        assert r.min_v <= r.mean_v <= r.max_v


def test_checkpoint_resume(spark, tmp_path):
    io = TableIO(str(tmp_path / "pyr"))
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS[:2])],
                       gridsize=16)
    pts = _points(spark, 1500)
    m1 = build_pyramid(pts, plan, io)
    assert sorted(m1) == [7, 8, 9]  # cell zooms for output 7,6,5 at gridsize 16
    for z, man in m1.items():
        assert man["status"] == "complete"
        assert man["row_count"] > 0
        assert man["files"]  # per-partition row counts (north_rule lineage)

    # simulate a kill after the base level: wipe upper-level manifests
    for z in (8, 7):
        os.remove(io.manifest_path(z))
    m2 = build_pyramid(pts, plan, io)
    assert m2[9]["completed_at"] == m1[9]["completed_at"]  # base level skipped
    assert m2[8]["completed_at"] != m1[8]["completed_at"]  # re-run
    assert m2[8]["row_count"] == m1[8]["row_count"]
    assert m2[7]["row_count"] == m1[7]["row_count"]

    # written levels agree with the in-memory path
    mem = build_pyramid_df(pts, plan)
    for z in (9, 8, 7):
        disk = io.read_level(spark, z)
        a = {(r.x, r.y, r.cnt, r.sum_v) for r in disk.collect()}
        b = {(r.x, r.y, r.cnt, r.sum_v)
             for r in mem.where(F.col("zoom") == z).collect()}
        assert a == b


def test_hot_key_resalt_trigger(spark, tmp_path, monkeypatch):
    """g5 re-salt rule: holistic rollups salt only while the previous
    level's manifest max_cell_rows exceeds hot_key_threshold; the decision
    is recorded in lineage and never changes results."""
    from vt_grid_spark.operators import pyramid as pyr
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.sources import pages
    from vt_grid_spark.sources.table_io import TableIO

    monkeypatch.setattr(pyr, "SMALL_LEVEL_ROWS", 0)  # force distributed rollups
    pts = pages.with_coords(pages.pages_df(spark, 3000))
    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="langs", reducer="union", field="lang")]

    def build(threshold, name):
        io = TableIO(str(tmp_path / name))
        plan = PyramidPlan(
            bands=[ZoomBand(basezoom=9, minzoom=6, aggregations=specs)],
            gridsize=1, salt_buckets=8, hot_key_threshold=threshold)
        return pyr.build_pyramid(pts, plan, io, resume=False), io

    m_low, io_low = build(1, "low")       # everything is "hot" -> salt
    m_high, io_high = build(10**9, "high")  # nothing is -> skip the salt

    # the corpus hot cluster puts ~20% of points in one base cell
    assert m_low[8]["max_cell_rows"] > 300
    for z in (7, 6):
        assert m_low[z]["lineage"]["salted"] is True
        assert m_high[z]["lineage"]["salted"] is False
    a = {(r.x, r.y): (r.cnt, tuple(r.langs))
         for r in io_low.read_level(spark, 6).collect()}
    b = {(r.x, r.y): (r.cnt, tuple(r.langs))
         for r in io_high.read_level(spark, 6).collect()}
    assert a == b


def test_catalog_tableio_contract(spark):
    """CatalogTableIO satisfies the same contract as the parquet TableIO:
    write-then-commit manifests, resume skipping complete levels, levels
    readable back via spark.table.  Runs against the session catalog's
    V2 writer (managed parquet tables; an Iceberg catalog + jar flips
    `format` to 'iceberg' for snapshot lineage — exact config in the
    CatalogTableIO docstring).  Deliberately NO skip escape: if the
    catalog rejects V2 writes this must FAIL loudly, not vanish from the
    suite (round-3 finding)."""
    from vt_grid_spark.sources.table_io import CatalogTableIO

    io = CatalogTableIO(spark, namespace="vtg_test", prefix="p1")

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=6, aggregations=SPECS[:2])],
                       gridsize=16)
    pts = _points(spark, 1500)
    try:
        m1 = build_pyramid(pts, plan, io)
        assert sorted(m1) == [8, 9]  # cell zooms for outputs 7 (base), 6
        for z, man in m1.items():
            assert man["status"] == "complete" and man["row_count"] > 0
            assert spark.table(io.level_table(z)).count() == man["row_count"]

        # resume: every level complete -> nothing re-runs
        m2 = build_pyramid(pts, plan, io)
        assert {z: m["completed_at"] for z, m in m2.items()} == \
               {z: m["completed_at"] for z, m in m1.items()}

        # levels agree with the in-memory path
        mem = build_pyramid_df(pts, plan)
        for z in m1:
            a = {(r.x, r.y, r.cnt, r.sum_v)
                 for r in io.read_level(spark, z).collect()}
            b = {(r.x, r.y, r.cnt, r.sum_v)
                 for r in mem.where(F.col("zoom") == z).collect()}
            assert a == b

        # manifest journal is append-only: amend adds a row, latest wins
        before = spark.table(io._manifest_tbl).count()
        io.amend_manifest(9, max_cell_rows=7)
        assert spark.table(io._manifest_tbl).count() == before + 1
        assert io.read_manifest(9)["max_cell_rows"] == 7
    finally:
        for z in (8, 9, 10):
            spark.sql(f"DROP TABLE IF EXISTS vtg_test.p1_z{z}")
        spark.sql("DROP TABLE IF EXISTS vtg_test.p1_manifest")
        spark.sql("DROP NAMESPACE IF EXISTS vtg_test")


def test_merge_cells_three_way_with_partials(spark):
    """tile-join merge: a 3-way split re-reduced equals the single-pass
    aggregation, including reducers that carry partials (mean: cnt+sum;
    areaWeightedMean: w+wv) and the holistic union."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import merge_cells
    from vt_grid_spark.plans.aggspec import compile_aggs, finalize_columns

    pts = _points(spark, 3000)
    enc = encode_points(pts, 6, with_quadkey=False) \
        .withColumn("_s", F.pmod(F.xxhash64("url"), F.lit(3)))
    exprs = compile_aggs(SPECS)
    parts = [cell_aggregate(enc.where(F.col("_s") == i), 6, exprs)
             for i in range(3)]
    merged = merge_cells(parts, 6, SPECS)
    whole = cell_aggregate(enc, 6, exprs)

    def norm(df):
        df = df.withColumn("mean_v", finalize_columns(SPECS)["mean_v"])
        return {(r.x, r.y): (r.cnt, round(r.sum_v, 6), round(r.mean_v, 6),
                             r.min_v, r.max_v, tuple(r.langs))
                for r in df.collect()}

    a, b = norm(merged), norm(whole)
    assert a == b and len(a) > 50


def test_combine_cells_matches_spark_rollup_and_merge(spark):
    """The driver combiner (DRIVER_COMBINERS) against the Spark one
    (compile_rollup_aggs) for every reducer: shift 1 == rollup_level and
    shift 0 == merge_cells, including partials that are null or NaN in
    some cells (Spark's sum/min/max skip nulls, all-null stays null; NaN
    sorts above every number, so min skips it and max returns it)."""
    import pyarrow as pa

    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.pyramid import combine_cells
    from vt_grid_spark.operators.rollup import merge_cells, rollup_level
    from vt_grid_spark.plans.aggspec import compile_aggs

    specs = SPECS + [
        AggSpec(out="sk", reducer="kmvDistinct", field="lang", k=4),
        AggSpec(out="h", reducer="histQuantile", field="v", buckets=4, width=8.0),
        AggSpec(out="awm", reducer="areaWeightedMean", field="v"),
        AggSpec(out="aws", reducer="areaWeightedSum", field="v"),
        AggSpec(out="area", reducer="totalArea"),
        AggSpec(out="sum_n", reducer="sum", field="n"),
        AggSpec(out="min_n", reducer="min", field="n"),
        AggSpec(out="max_n", reducer="max", field="n"),
    ]
    pick = F.pmod(F.xxhash64("url"), F.lit(7))  # 0: NaN, 1-3: null, else v
    pts = _points(spark, 3000).withColumn(
        "n", F.when(pick == 0, F.lit(float("nan"))).when(pick > 3, F.col("v")))
    enc = encode_points(pts, 7, with_quadkey=False) \
        .withColumn("_s", F.pmod(F.xxhash64("url"), F.lit(2)))
    parts = [cell_aggregate(enc.where(F.col("_s") == i), 7, compile_aggs(specs))
             for i in range(2)]
    fine = cell_aggregate(enc, 7, compile_aggs(specs))

    def rows(tbl):
        d = tbl.select(sorted(c for c in tbl.column_names
                              if c not in ("zoom", "quadkey"))).to_pydict()
        return sorted((tuple("NaN" if v != v else v for v in r)
                       for r in zip(*d.values())), key=str)

    spark_roll = rollup_level(fine, 7, specs).drop("zoom", "quadkey").toArrow()
    assert rows(combine_cells(fine.toArrow(), specs, shift=1)) == rows(spark_roll)
    spark_merge = merge_cells(parts, 7, specs).drop("zoom", "quadkey").toArrow()
    both = pa.concat_tables([p.drop("zoom").toArrow() for p in parts])
    assert rows(combine_cells(both, specs, shift=0)) == rows(spark_merge)
    # the all-null and the NaN cases are both exercised
    assert 0 < spark_roll.column("sum_n").null_count < spark_roll.num_rows
    mins, maxs = (spark_roll.column(c).to_pylist() for c in ("min_n", "max_n"))
    assert any(a == a and b != b for a, b in zip(mins, maxs))


def test_hist_quantile_merge_exact_and_bounds(spark):
    """histQuantile property tests: (1) bucket arrays merged up two
    pyramid levels are IDENTICAL to histograms built directly at the
    coarse level (exact mergeability); (2) the pNN lower bound brackets
    the true percentile within one bucket width; (3) the driver-side
    combiner agrees with the Spark rollup; (4) non-power-of-2 width is
    rejected."""
    import numpy as np
    import pytest

    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.pyramid import combine_cells
    from vt_grid_spark.operators.rollup import rollup_level
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs, finalize_columns

    b, w = 16, 128.0
    spec = AggSpec(out="h", reducer="histQuantile", field="_v",
                   buckets=b, width=w, quantiles=(0.5, 0.95))
    pts = (pages.with_coords(pages.pages_df(spark, 2000))
           .withColumn("_v", F.length("text").cast("double")))
    enc = encode_points(pts, 8, with_quadkey=False)
    fine = cell_aggregate(enc, 8, compile_aggs([spec]))
    merged = rollup_level(rollup_level(fine, 8, [spec]), 7, [spec])
    direct = cell_aggregate(
        enc.withColumn("x", F.shiftright("x", 2))
           .withColumn("y", F.shiftright("y", 2)), 6, compile_aggs([spec]))
    a = {(r.x, r.y): tuple(r.h) for r in merged.collect()}
    bb = {(r.x, r.y): tuple(r.h) for r in direct.collect()}
    assert a == bb and len(a) > 3  # merge is EXACT

    fin = finalize_columns([spec])
    got = {(r.x, r.y): (r.p50, r.p95) for r in merged.select(
        "x", "y", fin["h_p50"].alias("p50"), fin["h_p95"].alias("p95")).collect()}
    vals: dict = {}
    for r in (enc.withColumn("x", F.shiftright("x", 2))
                 .withColumn("y", F.shiftright("y", 2))
                 .select("x", "y", "_v").collect()):
        vals.setdefault((r.x, r.y), []).append(r._v)
    for key, (p50, p95) in got.items():
        arr = np.sort(np.array(vals[key]))
        for q, lo in ((0.5, p50), (0.95, p95)):
            # the ceil(q*n)-th smallest value lives in the reported bucket
            true_q = arr[min(len(arr) - 1, int(np.ceil(q * len(arr))) - 1)]
            assert lo <= true_q < lo + w or (true_q >= (b - 1) * w
                                             and lo == (b - 1) * w), \
                (key, q, lo, true_q)

    # the driver-side combiner agrees with the Spark rollup
    small = combine_cells(fine.toArrow(), [spec], shift=1).to_pydict()
    spark_roll = {(r.x, r.y): tuple(r.h)
                  for r in rollup_level(fine, 8, [spec]).collect()}
    driver_roll = {(x, y): tuple(h)
                   for x, y, h in zip(small["x"], small["y"], small["h"])}
    assert driver_roll == spark_roll

    with pytest.raises(ValueError, match="power of 2"):
        AggSpec(out="h", reducer="histQuantile", field="_v", width=48.0)


def test_kmv_sketch_merge_exact_and_estimate_sane(spark):
    """KMV property tests: (1) sketches merged up two pyramid levels are
    IDENTICAL to sketches built directly at the coarse level (exact
    mergeability); (2) the estimator lands within ~3 standard errors
    (rse = 1/sqrt(k-1)) of the true distinct count when it saturates."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_level
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs, finalize_columns

    k = 64
    spec = AggSpec(out="sk", reducer="kmvDistinct", field="_v", k=k)
    # 2000 points, 700 distinct values, clustered coords from the corpus
    pts = (pages.with_coords(pages.pages_df(spark, 2000))
           .withColumn("_v", F.concat(F.lit("v"), F.pmod(F.xxhash64("url"),
                                                         F.lit(700)))))
    enc = encode_points(pts, 8, with_quadkey=False)
    fine = cell_aggregate(enc, 8, compile_aggs([spec]))
    merged = rollup_level(rollup_level(fine, 8, [spec]), 7, [spec])
    direct = cell_aggregate(
        enc.withColumn("x", F.shiftright("x", 2))
           .withColumn("y", F.shiftright("y", 2)), 6, compile_aggs([spec]))
    a = {(r.x, r.y): tuple(r.sk) for r in merged.collect()}
    b = {(r.x, r.y): tuple(r.sk) for r in direct.collect()}
    assert a == b and len(a) > 3  # merge is EXACT, not approximately equal

    est = finalize_columns([spec])["sk_est"]
    got = {(r.x, r.y): r.e for r in merged.select("x", "y", est.alias("e")).collect()}
    truth = {(r.x, r.y): r.t for r in
             enc.withColumn("x", F.shiftright("x", 2))
                .withColumn("y", F.shiftright("y", 2))
                .groupBy("x", "y").agg(F.countDistinct("_v").alias("t")).collect()}
    saturated = 0
    for cell, t in truth.items():
        if t < k:
            assert got[cell] == t  # below k the sketch is exact
        else:
            saturated += 1
            assert abs(got[cell] - t) / t < 3.0 / (k - 1) ** 0.5
    assert saturated >= 1  # the hot cluster must exercise the estimator


def _fold_equals_rebuild(spark, tmp_path, b_mod=4, before_fold=None):
    """Build over batch A, incremental_update with batch B — every level
    must EQUAL a clean build over A ∪ B (the mergeable-reducer monoid
    property end-to-end: union, kmvDistinct, histQuantile and the mean
    partials included), and the hot-key bookkeeping (max_cell_rows) must
    match the clean build's.  B is every ``b_mod``-th point, or all but
    every ``-b_mod``-th one when negative; ``before_fold(io, b, plan)``
    runs between the build and the fold.  Returns the fold's TableIO and
    its cell zooms."""
    from vt_grid_spark.operators.pyramid import incremental_update

    specs = SPECS + [AggSpec(out="sk", reducer="kmvDistinct", field="lang", k=8),
                     AggSpec(out="h", reducer="histQuantile", field="v",
                             buckets=8, width=4.0)]
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=specs)],
                       gridsize=16)
    pts = _points(spark, 3000).cache()
    in_b = F.pmod(F.xxhash64("url"), F.lit(abs(b_mod))) == 0
    if b_mod < 0:
        in_b = ~in_b
    a, b = pts.where(~in_b), pts.where(in_b)
    assert 0 < b.count() < pts.count()

    io_inc = TableIO(str(tmp_path / "inc"))
    build_pyramid(a, plan, io_inc, resume=False)
    if before_fold is not None:
        before_fold(io_inc, b, plan)
    man = incremental_update(b, plan, io_inc)
    io_full = TableIO(str(tmp_path / "full"))
    man_full = build_pyramid(pts, plan, io_full, resume=False)

    fin = finalize_columns(specs)
    for z in man:
        assert man[z]["status"] == "complete"
        assert man[z]["lineage"]["op"] == "incremental-merge"

        def norm(df):
            df = df.withColumn("mean_v", fin["mean_v"])
            return {(r.x, r.y): (r.quadkey, r.cnt, round(r.sum_v, 6), round(r.mean_v, 6),
                                 r.min_v, r.max_v, tuple(r.langs), tuple(r.sk),
                                 tuple(r.h))
                    for r in df.collect()}

        got, want = norm(io_inc.read_level(spark, z)), norm(io_full.read_level(spark, z))
        assert got == want and len(got) > 0, f"zoom {z} diverged"
        assert man[z]["row_count"] == man_full[z]["row_count"]
        assert man[z]["max_cell_rows"] == man_full[z]["max_cell_rows"] > 0
    pts.unpersist()
    return io_inc, sorted(man)


def _spark_written(io, zoom) -> bool:
    """Spark's parquet writer leaves a _SUCCESS marker; the driver's does not."""
    return os.path.exists(os.path.join(io.level_path(zoom), "_SUCCESS"))


def test_incremental_update_equals_rebuild(spark, tmp_path):
    """Every level is small: the delta is collected once and every level
    folds on the driver (combine_cells)."""
    io, zooms = _fold_equals_rebuild(spark, tmp_path)
    assert not any(_spark_written(io, z) for z in zooms)


def test_incremental_update_equals_rebuild_spark_merge(spark, tmp_path, monkeypatch):
    """SMALL_LEVEL_ROWS = 0: the build and the fold take the Spark path at
    every level (broadcast anti/semi join + merge_cells + staged write)."""
    from vt_grid_spark.operators import pyramid as pyr

    monkeypatch.setattr(pyr, "SMALL_LEVEL_ROWS", 0)
    io, zooms = _fold_equals_rebuild(spark, tmp_path)
    assert all(_spark_written(io, z) for z in zooms)


def test_incremental_update_large_delta_falls_back_to_spark(spark, tmp_path, monkeypatch):
    """Levels below SMALL_LEVEL_ROWS but a delta whose base partials reach
    it: the delta is not collected, and every level merges on Spark."""
    from vt_grid_spark.operators import pyramid as pyr
    from vt_grid_spark.operators.encode import encode_points

    def threshold_between(io, b, plan):
        # A is 1/8 of the points, the delta the other 7/8: put the cut
        # just above A's biggest level, below the delta's base cell count
        zooms = [z for _, z, _ in plan.levels()]
        cut = max(io.read_manifest(z)["row_count"] for z in zooms) + 1
        delta_cells = encode_points(b, zooms[0]).select("x", "y").distinct().count()
        assert delta_cells >= cut
        monkeypatch.setattr(pyr, "SMALL_LEVEL_ROWS", cut)

    io, zooms = _fold_equals_rebuild(spark, tmp_path, b_mod=-8,
                                     before_fold=threshold_between)
    assert all(_spark_written(io, z) for z in zooms)


def test_driver_fold_failed_write_keeps_old_level(spark, tmp_path, monkeypatch):
    """A driver-side level write that fails part-way leaves the old level
    readable and its manifest unchanged (the file is written into
    ``<level>.inprogress`` and only then swapped in)."""
    import json

    import pyarrow.parquet as pq
    import pytest

    from vt_grid_spark.operators.pyramid import incremental_update

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=6, aggregations=SPECS[:2])],
                       gridsize=16)
    io = TableIO(str(tmp_path / "pyr"))
    build_pyramid(_points(spark, 1500), plan, io, resume=False)
    zooms = [z for _, z, _ in plan.levels()]

    def snapshot():
        return {z: (json.dumps(io.read_manifest(z), sort_keys=True),
                    io.read_level_arrow(z).sort_by([("x", "ascending"),
                                                   ("y", "ascending")]))
                for z in zooms}

    before = snapshot()

    def broken_write(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", broken_write)
    with pytest.raises(OSError, match="disk full"):
        incremental_update(_points(spark, 300), plan, io)
    after = snapshot()
    for z in zooms:
        assert after[z][0] == before[z][0], f"zoom {z} manifest changed"
        assert after[z][1].equals(before[z][1]), f"zoom {z} level changed"


def test_incremental_update_jobs_do_not_grow_with_levels(spark, tmp_path):
    """Small levels fold without a Spark job each: folding the same delta
    into a 2-level and a 5-level pyramid launches the same number of jobs
    (the delta's aggregation and its one collect)."""
    from vt_grid_spark.operators.pyramid import incremental_update

    sc = spark.sparkContext
    pts = _points(spark, 1500)
    delta = _points(spark, 200)

    def fold_jobs(minzoom, name):
        plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=minzoom,
                                           aggregations=SPECS)], gridsize=16)
        io = TableIO(str(tmp_path / name))
        build_pyramid(pts, plan, io, resume=False)
        assert len(list(plan.levels())) == 8 - minzoom
        sc.setJobGroup(name, "incremental_update job count")
        try:
            incremental_update(delta, plan, io)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(name))

    two, five = fold_jobs(6, "fold2"), fold_jobs(3, "fold5")
    assert two > 0  # the delta aggregation runs on Spark, inside the group
    assert two == five


def test_incremental_update_requires_complete_pyramid(spark, tmp_path):
    import pytest

    from vt_grid_spark.operators.pyramid import incremental_update

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=7, aggregations=SPECS[:2])],
                       gridsize=16)
    with pytest.raises(ValueError, match="complete pyramid"):
        incremental_update(_points(spark, 100), plan, TableIO(str(tmp_path / "x")))
