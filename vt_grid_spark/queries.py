"""Operator registry: every SURVEY.md §2 operator as a (spark, sf_dir) ->
DataFrame callable plus its DuckDB oracle SQL.

Oracle-parity rules (see SURVEY.md §7 g1/g8):
  * aggregate inputs are integer-valued doubles (exact, order-independent
    sums) or finals are rounded, so distributed summation order never
    flips the value hash;
  * cell ids are computed ONCE at the base zoom in both engines, ancestors
    derived by bit-shift — no double-rounding divergence;
  * every computed column is aliased identically in both engines.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vt_grid_spark.functions import sqltext as sq
from vt_grid_spark.sources import pages

QUERIES: dict = {}
ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = pages.n_for_sf_dir(sf_dir)
    return pages.with_coords(pages.pages_df(spark, n))


def _pts_sql(sf_dir_n: int) -> str:
    return pages.with_coords_sql(pages.pages_cte_sql(sf_dir_n))


# The oracle SQL must be a fixed string per sf (driver runs at sf0.01).
_N = pages.N_FOR_SF["sf0.01"]
_PAGES = _pts_sql(_N)


# ---------------------------------------------------------------------------
# G3/S2: point -> cell encode at base zoom (SURVEY.md §2.3)
# ---------------------------------------------------------------------------

@register(
    "cell_encode_z12",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 12)} AS x, {sq.tile_y_sql('lat', 12)} AS y,
         length(text) AS chars
  FROM pts
)
SELECT x, y, {sq.quadkey_sql('x', 'y', 12)} AS quadkey,
       COUNT(*) AS cnt, CAST(SUM(chars) AS BIGINT) AS sum_chars
FROM enc GROUP BY x, y
""",
)
def cell_encode_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: group on the integer (x, y) only and re-derive the quadkey on
    the aggregate — the build path's shuffle hygiene (encode.py
    cell_aggregate).  The r5 form carried the 12-char quadkey string
    through the exchange (~1.5x shuffle width at base zoom) and
    contradicted its own PLANS.md annotation (r5 VERDICT "What's wrong"
    #1).  quadkey is a pure function of (x, y), so the output is
    byte-identical."""
    pts = _pts(spark, sf_dir).withColumn("chars", F.length("text").cast("long"))
    from vt_grid_spark.operators.encode import encode_points

    enc = encode_points(pts, 12, with_quadkey=False)
    return (
        enc.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("chars").alias("sum_chars"))
        .select("x", "y", F.expr(sq.quadkey_sql("x", "y", 12)).alias("quadkey"),
                "cnt", "sum_chars")
    )


# ---------------------------------------------------------------------------
# G2: pyramid rollup via repeated parent groupBy (SURVEY.md §2.3 G2)
# ---------------------------------------------------------------------------

@register(
    "pyramid_rollup_z6",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 12)} AS x12, {sq.tile_y_sql('lat', 12)} AS y12,
         length(text) AS chars
  FROM pts
),
up AS (SELECT x12 >> 6 AS x, y12 >> 6 AS y, chars FROM enc)
SELECT x, y, {sq.quadkey_sql('x', 'y', 6)} AS quadkey,
       COUNT(*) AS cnt, CAST(SUM(chars) AS BIGINT) AS sum_chars
FROM up GROUP BY x, y
""",
)
def pyramid_rollup_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode at z12 then roll up level-by-level to z6 through the engine's
    rollup operator; the oracle collapses the ladder to one shift (exact:
    floor-division composes)."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_level
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs

    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="sum_chars", reducer="sum", field="chars")]
    pts = _pts(spark, sf_dir).withColumn("chars", F.length("text").cast("long"))
    cur = cell_aggregate(encode_points(pts, 12), 12, compile_aggs(specs))
    for child_z in range(12, 6, -1):
        cur = rollup_level(cur, child_z, specs)
    return cur.select("x", "y", "quadkey", "cnt", "sum_chars")


@register(
    "pyramid_level_sizes",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 12)} AS x12, {sq.tile_y_sql('lat', 12)} AS y12
  FROM pts
),
lv AS (
  SELECT (12 - d) AS zoom, x12 >> d AS x, y12 >> d AS y, COUNT(*) AS c
  FROM enc, (SELECT range AS d FROM range(0, 7)) ds
  GROUP BY 1, 2, 3
)
SELECT zoom, COUNT(*) AS n_cells, CAST(SUM(c) AS BIGINT) AS n_points
FROM lv GROUP BY zoom
""",
)
def pyramid_level_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-cardinality profile of the whole pyramid z12..z6 — every level
    must conserve the point count (pyramid-consistency invariant,
    /root/reference/test/lib/aggregate-cells.js:43-56)."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_level
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs

    specs = [AggSpec(out="c", reducer="count")]
    pts = _pts(spark, sf_dir)
    cur = cell_aggregate(encode_points(pts, 12), 12, compile_aggs(specs))
    levels = [cur]
    for child_z in range(12, 6, -1):
        cur = rollup_level(cur, child_z, specs)
        levels.append(cur)
    allv = levels[0]
    for l in levels[1:]:
        allv = allv.unionByName(l)
    return allv.groupBy("zoom").agg(
        F.count(F.lit(1)).alias("n_cells"), F.sum("c").alias("n_points")
    ).select(F.col("zoom").cast("long").alias("zoom"), "n_cells", "n_points")


# ---------------------------------------------------------------------------
# A3: area-weighted mean (README.md:49-61) with integer-valued weights
# ---------------------------------------------------------------------------

@register(
    "weighted_mean_z8",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 8)} AS x, {sq.tile_y_sql('lat', 8)} AS y,
         CAST(length(text) AS DOUBLE) AS v,
         CAST(length(lang) + length(url) % 10 AS DOUBLE) AS w
  FROM pts
)
SELECT x, y, ROUND(SUM(w * v) / SUM(w), 6) AS wmean_chars,
       ROUND(SUM(w), 6) AS w_sum
FROM enc GROUP BY x, y
""",
)
def weighted_mean_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs, finalize_columns

    pts = (
        _pts(spark, sf_dir)
        .withColumn("v", F.length("text").cast("double"))
        .withColumn("w", (F.length("lang") + F.length("url") % 10).cast("double"))
    )
    specs = [AggSpec(out="wmean_chars", reducer="areaWeightedMean", field="v", weight="w")]
    enc = encode_points(pts, 8, with_quadkey=False)
    out = enc.groupBy("x", "y").agg(*compile_aggs(specs))
    fin = finalize_columns(specs)
    return out.select(
        "x", "y",
        F.round(fin["wmean_chars"], 6).alias("wmean_chars"),
        F.round(F.col("wmean_chars__w"), 6).alias("w_sum"),
    )


# ---------------------------------------------------------------------------
# A4: union reducer (README.md:101,154) — sorted distinct, joined to string
# ---------------------------------------------------------------------------

@register(
    "union_langs_z4",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 4)} AS x, {sq.tile_y_sql('lat', 4)} AS y, lang
  FROM pts
)
SELECT x, y, string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
       COUNT(DISTINCT lang) AS n_langs, COUNT(*) AS cnt
FROM enc GROUP BY x, y
""",
)
def union_langs_z4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 union reducer + A6 postAggregation + O5/g5 salted skew handling
    on ONE oracle surface (consolidated from the separate
    salted_agg_equivalence query — the driver records at most 50 rows):
    the engine runs its SALTED two-phase rollup (z5 cells -> z4 parents;
    the holistic union reducer forces the (key, salt) phase and the
    corpus has a 20% hot-cell cluster) while the oracle is the plain
    single-phase z4 aggregation — equality proves salting is transparent
    AND union-of-unions is associative."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_level
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs

    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="langs", reducer="union", field="lang")]
    enc = encode_points(_pts(spark, sf_dir), 5, with_quadkey=False)
    cells = cell_aggregate(enc, 5, compile_aggs(specs))
    lvl = rollup_level(cells, 5, specs, salt_buckets=8)
    return lvl.select(
        "x", "y",
        F.array_join("langs", ",").alias("langs"),
        F.size("langs").cast("long").alias("n_langs"),
        "cnt",
    )


# ---------------------------------------------------------------------------
# P3: hasProgeny prefix membership (lib/tile-util.js:58-75)
# ---------------------------------------------------------------------------

_ANCESTORS = ["0320", "0231", "1202"]  # z4 quadkeys (DC area, Atlantic, S.Am)


@register(
    "progeny_membership",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 12)} AS x, {sq.tile_y_sql('lat', 12)} AS y
  FROM pts
),
qk AS (
  SELECT {sq.quadkey_sql('x >> 8', 'y >> 8', 4)} AS anc, COUNT(*) AS cnt
  FROM enc GROUP BY 1
)
SELECT anc, cnt FROM qk
WHERE anc IN ({", ".join(repr(a) for a in _ANCESTORS)})
""",
)
def progeny_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count z12 points descending from each ancestor prefix.

    quadkey-prefix membership == integer equality on the bit-shifted
    ancestor (hasProgeny walks getParent the same way,
    /root/reference/lib/tile-util.js:58-75).  The hot path stays on
    integer keys; the quadkey string is derived on the tiny aggregate
    (also dodges a janino codegen fallback seen with string-heavy
    hashAgg at z12)."""
    from vt_grid_spark import tilemath as tm
    from vt_grid_spark.operators.encode import encode_points

    anc_xy = [tm.quadkey_to_tile(a)[:2] for a in _ANCESTORS]
    enc = encode_points(_pts(spark, sf_dir), 12, with_quadkey=False)
    ax, ay = F.shiftright("x", 8), F.shiftright("y", 8)
    cond = None
    for (x4, y4) in anc_xy:
        c = (ax == x4) & (ay == y4)
        cond = c if cond is None else (cond | c)
    return (
        enc.where(cond)
        .groupBy(ax.alias("_ax"), ay.alias("_ay"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.expr(sq.quadkey_sql("_ax", "_ay", 4)).alias("anc"), "cnt")
    )


# ---------------------------------------------------------------------------
# Relational-input encode: lineitem with synthetic coordinates (FIXTURES.md F4)
# ---------------------------------------------------------------------------

_LI_LON = "(-180.0 + CAST((l_orderkey * 7 + l_linenumber) % 36000 AS DOUBLE) / 100.0)"
_LI_LAT = "(-85.0 + CAST((l_partkey * 13) % 17000 AS DOUBLE) / 100.0)"


@register(
    "lineitem_cells_z10",
    f"""
WITH li AS (
  SELECT {_LI_LON} AS lon, {_LI_LAT} AS lat, l_quantity AS qty
  FROM lineitem
),
enc AS (
  SELECT {sq.tile_x_sql('lon', 10)} AS x, {sq.tile_y_sql('lat', 10)} AS y, qty
  FROM li
)
SELECT x, y, COUNT(*) AS cnt, ROUND(SUM(qty), 6) AS sum_qty
FROM enc GROUP BY x, y
""",
)
def lineitem_cells_z10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vt_grid_spark.operators.encode import encode_points

    # one-row-group benchmark parquet -> one scan task; re-spread so the
    # encode arithmetic + partial aggregation run on every core (same
    # rationale as queries_text._docs; ~10 MB shuffle)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey", "l_linenumber"
    ).select(
        (F.lit(-180.0) + ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 36000).cast("double") / 100.0).alias("lon"),
        (F.lit(-85.0) + ((F.col("l_partkey") * 13) % 17000).cast("double") / 100.0).alias("lat"),
        F.col("l_quantity").alias("qty"),
    )
    enc = encode_points(li, 10, with_quadkey=False)
    return enc.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("qty"), 6).alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# Spatial join: point-in-polygon cover/refine (north_rule; SURVEY.md §2.5)
# ---------------------------------------------------------------------------

_RECT_W = "(-180.0 + CAST(n_nationkey * 13 % 330 AS DOUBLE) + 0.0005)"
_RECT_S = "(-80.0 + CAST(n_nationkey * 17 % 140 AS DOUBLE) + 0.0005)"


@register(
    "pip_rect_join",
    f"""
WITH pts AS ({_PAGES}),
rects AS (
  SELECT n_nationkey,
         {_RECT_W} AS w, {_RECT_S} AS s,
         {_RECT_W} + 12.0 AS e, {_RECT_S} + 10.0 AS n
  FROM nation
)
SELECT n_nationkey AS poly_id, COUNT(*) AS cnt
FROM pts, rects
WHERE lon > w AND lon < e AND lat > s AND lat < n
GROUP BY n_nationkey
""",
)
def pip_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join of the page corpus against 25 nation-derived
    rectangles through the full cover/refine machinery (broadcast cell
    cover at z6 + exact even-odd refine UDF)."""
    import json as _json

    from vt_grid_spark.operators.spatial_join import point_in_polygon_join

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey").collect()
    polys = []
    for r in nat:
        k = r.n_nationkey
        w = -180.0 + float(k * 13 % 330) + 0.0005
        s = -80.0 + float(k * 17 % 140) + 0.0005
        e, n = w + 12.0, s + 10.0
        geom = {"type": "Polygon",
                "coordinates": [[[w, s], [w, n], [e, n], [e, s], [w, s]]]}
        polys.append((k, _json.dumps(geom)))
    poly_df = spark.createDataFrame(polys, "poly_id long, geometry_json string")
    pts = _pts(spark, sf_dir)
    joined = point_in_polygon_join(pts, poly_df, z=9)
    return joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# kNN lookup (north_rule; brute-force = oracle-checked exact baseline)
# ---------------------------------------------------------------------------

_KNN_QUERIES = [(1, -74.0, 40.7), (2, 10.1, 50.3), (3, 139.7, 35.6), (4, -58.4, -34.6)]

_KNN_ORACLE = f"""
WITH pts AS ({_PAGES}),
q(qid, qlon, qlat) AS (VALUES {", ".join(f"({a}, {b}, {c})" for a, b, c in _KNN_QUERIES)}),
c AS (
  SELECT qid, url,
         (qlat - lat) * (qlat - lat) + (qlon - lon) * (qlon - lon) AS d2
  FROM pts, q
),
top AS (
  SELECT qid, rank, url, d2 FROM (
    SELECT qid, url, d2,
           row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, url ASC) AS rank
    FROM c
  ) WHERE rank <= 10
)
SELECT m.method, t.qid, t.rank, t.url, t.d2
FROM top t, (VALUES ('brute'), ('cells')) m(method)
"""


@register("knn_top10", _KNN_ORACLE)
def knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH kNN strategies against one oracle (consolidated from the
    separate knn_cells_top10 query — the driver records at most 50 rows):
    the brute-force exact baseline AND the cell-bucketed exact variant
    (safety-radius re-ring escalation, knn.py) must each reproduce the
    oracle's top-10 rows per query point."""
    from vt_grid_spark.operators.knn import knn_bruteforce, knn_cells

    queries = spark.createDataFrame(_KNN_QUERIES, "qid long, lon double, lat double")
    pts = _pts(spark, sf_dir)

    def tag(df: DataFrame, method: str) -> DataFrame:
        return df.select(
            F.lit(method).alias("method"), "qid",
            F.col("rank").cast("long").alias("rank"), "url", "d2")

    return tag(knn_bruteforce(pts, queries, 10), "brute").unionByName(
        tag(knn_cells(pts, queries, 10, z=6, ring=1), "cells"))


# ---------------------------------------------------------------------------
# Raster -> vector cells (north_rule; pure posexplode + bit math)
# ---------------------------------------------------------------------------

@register(
    "raster_to_cells",
    """
WITH b AS (SELECT range AS id FROM range(0, 32)),
px AS (SELECT id, range AS pos FROM b, range(0, 256)),
fwd AS (
  SELECT 12 AS zoom,
         (id % 8 + 100) * 16 + pos % 16 AS x,
         (id // 8 + 80) * 16 + pos // 16 AS y,
         CAST((id * 31 + pos * 7) % 97 AS DOUBLE) AS value
  FROM px WHERE (id * 31 + pos * 7) % 97 != 0
),
rb AS (SELECT range AS id FROM range(0, 16)),
rpx AS (SELECT id, unnest(generate_series(0, 255)) AS p FROM rb),
rt AS (
  SELECT CAST(8 AS INT) AS zoom,
         CAST(id % 4 + 50 AS BIGINT) AS x,
         CAST(id // 4 + 60 AS BIGINT) AS y,
         ROUND(SUM(CAST((id * 13 + p * 3) % 89 AS DOUBLE)), 6) AS value
  FROM rpx GROUP BY id
)
SELECT * FROM fwd UNION ALL SELECT * FROM rt
""",
)
def raster_to_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector AND the vector->raster ROUNDTRIP on one oracle
    surface (consolidated from the separate cells_to_raster_roundtrip
    query — the driver records at most 50 rows).  zoom=12 rows are the
    forward posexplode conversion; zoom=8 rows are per-tile band sums
    after cells_to_raster(raster_to_cells(blocks)) — value conservation
    proves the dense re-assembly is the exact inverse."""
    from vt_grid_spark.operators.raster import cells_to_raster, raster_to_cells

    k = 4
    side2 = (1 << k) ** 2
    blocks = spark.range(32).select(
        F.lit(8).alias("tile_z"),
        (F.col("id") % 8 + 100).alias("tile_x"),
        ((F.col("id") / 8).cast("long") + 80).alias("tile_y"),
        F.transform(
            F.sequence(F.lit(0), F.lit(side2 - 1)),
            lambda p: ((F.col("id") * 31 + p * 7) % 97).cast("double"),
        ).alias("band"),
    )
    fwd = raster_to_cells(blocks, k=k, drop_zero=True)

    blocks2 = spark.range(16).select(
        F.lit(8).alias("tile_z"),
        (F.col("id") % 4 + 50).alias("tile_x"),
        ((F.col("id") / 4).cast("long") + 60).alias("tile_y"),
        F.transform(F.sequence(F.lit(0), F.lit(side2 - 1)),
                    lambda p: ((F.col("id") * 13 + p * 3) % 89).cast("double")).alias("band"),
    )
    back = cells_to_raster(raster_to_cells(blocks2, k=k, drop_zero=False), k=k)
    rt = back.select(
        F.col("tile_z").alias("zoom"), F.col("tile_x").alias("x"),
        F.col("tile_y").alias("y"),
        F.round(F.aggregate("band", F.lit(0.0), lambda a, v: a + v), 6).alias("value"))
    return fwd.unionByName(rt)


# second operator batch registers itself on import (dedup/similarity/text/multimodal)
from vt_grid_spark import queries_text  # noqa: E402,F401
# round-2 coverage batch (degenerate filter, polygon clip, custom reducer,
# export view, progeny/children, manifests, agg-spec parse)
from vt_grid_spark import queries_extras  # noqa: E402,F401


# F2 bbox parity now rides bbox_cover_build_z9 (queries_extras.py), the
# salted-rollup equivalence rides union_langs_z4, the cell-bucketed kNN
# rides knn_top10, and the raster roundtrip rides raster_to_cells — four
# standalone queries consolidated so the whole surface fits the driver's
# 50-row correctness artifact (round-3 finding: entries past #50 were
# silently unrecorded).
