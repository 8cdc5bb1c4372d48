"""Round-2 coverage queries: oracle registrations for the SURVEY.md §2
operators that round 1 left pytest-only (r1 VERDICT 'What's missing' #1 —
P1 degenerate filter, G3 polygon clip, A5 custom reducers, S5 export view
+ F4 JSON round-trip, G5/G6 progeny/children, S1 manifests, F5 agg-spec
parse).  Each query drives the REAL operator code path; the DuckDB oracle
recomputes the expected result from first principles (closed forms, never
a stored snapshot of our own output).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vt_grid_spark import tilemath as tm
from vt_grid_spark.functions import sqltext as sq
from vt_grid_spark.queries import _ANCESTORS, _PAGES, _pts, register

# ---------------------------------------------------------------------------
# P1: degenerate-feature filter, point form — epsilon-boundary probe
# (/root/reference/lib/degenerate.js:10-47; eps = 0.087/4^z, line 12-14)
# ---------------------------------------------------------------------------

_DEG_Z = 6
_DEG_EPS = 0.087 / (4.0 ** _DEG_Z)
# offsets from a cell's west edge: -eps (lands in the neighbor cell and
# fails ITS east test), exactly on, half-eps, exactly eps (strict > fails),
# 2*eps (the only pass) — pins the strict-inequality + eps semantics
_DEG_OFFS = [-_DEG_EPS, 0.0, _DEG_EPS * 0.5, _DEG_EPS, _DEG_EPS * 2.0]

_DEG_PASS_SQL = (
    f"(lon - {sq.tile_lon_sql('x', _DEG_Z)} > {_DEG_EPS!r})"
    f" AND ({sq.tile_lon_sql('(x + 1)', _DEG_Z)} - lon > {_DEG_EPS!r})"
    f" AND (lat - {sq.tile_lat_sql('(y + 1)', _DEG_Z)} > {_DEG_EPS!r})"
    f" AND ({sq.tile_lat_sql('y', _DEG_Z)} - lat > {_DEG_EPS!r})"
)


@register(
    "degenerate_filter_eps_z6",
    f"""
WITH pts AS (
  SELECT {sq.tile_lon_sql('i % 64', _DEG_Z)}
         + ([{", ".join(repr(o) for o in _DEG_OFFS)}])[CAST(i % 5 AS INT) + 1] AS lon,
         20.000123 AS lat
  FROM (SELECT range AS i FROM range(0, 4096))
),
enc AS (
  SELECT {sq.tile_x_sql('lon', _DEG_Z)} AS x, {sq.tile_y_sql('lat', _DEG_Z)} AS y,
         lon, lat
  FROM pts
)
SELECT x, y,
  CAST(SUM(CASE WHEN {_DEG_PASS_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  COUNT(*) AS n_total
FROM enc GROUP BY x, y
""",
)
def degenerate_filter_eps_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points planted at controlled offsets around z6 cell edges; pass
    counts pin the strict-interior eps rule bit-for-bit (polygon/line
    forms + the reference 4/12, 4/16 fixtures live in
    tests/test_clip_degenerate.py)."""
    from vt_grid_spark.operators.encode import encode_points

    offs = ", ".join(repr(o) for o in _DEG_OFFS)
    pts = spark.range(4096).selectExpr(
        f"{sq.tile_lon_sql('id % 64', _DEG_Z)}"
        f" + element_at(array({offs}), CAST(id % 5 + 1 AS INT)) AS lon",
        "CAST(20.000123 AS DOUBLE) AS lat")
    enc = encode_points(pts, _DEG_Z, with_quadkey=False)
    return enc.groupBy("x", "y").agg(
        F.sum(F.when(F.expr(_DEG_PASS_SQL), 1).otherwise(0)).alias("n_pass"),
        F.count(F.lit(1)).alias("n_total"),
    )


# ---------------------------------------------------------------------------
# G3: raw-path polygon clip (quadtree Sutherland–Hodgman,
# /root/reference/lib/aggregate-cells.js:54-83) — axis-aligned rectangles,
# so the oracle has a closed-form spherical intersection area
# ---------------------------------------------------------------------------

_R2 = 6378137.0 * 6378137.0  # WGS84 sphere, matches clip.ring_area_sq_m
_CLIP_Z = 7
_CLIP_EPS = 0.087 / (4.0 ** _CLIP_Z)
_RECT_W = "(-180.0 + CAST(n_nationkey * 13 % 330 AS DOUBLE) + 0.0005)"
_RECT_S = "(-80.0 + CAST(n_nationkey * 17 % 140 AS DOUBLE) + 0.0005)"

_CLIP_CELL_W = sq.tile_lon_sql("x", _CLIP_Z)
_CLIP_CELL_E = sq.tile_lon_sql("(x + 1)", _CLIP_Z)
_CLIP_CELL_S = sq.tile_lat_sql("(y + 1)", _CLIP_Z)
_CLIP_CELL_N = sq.tile_lat_sql("y", _CLIP_Z)


@register(
    "polygon_clip_rect_z7",
    f"""
WITH rects AS (
  SELECT CAST(n_nationkey AS BIGINT) AS feature_id,
         {_RECT_W} AS w, {_RECT_S} AS s,
         {_RECT_W} + 12.0 AS e, {_RECT_S} + 10.0 AS n
  FROM nation
),
cx AS (
  SELECT *, unnest(generate_series({sq.tile_x_sql('w', _CLIP_Z)},
                                   {sq.tile_x_sql('e', _CLIP_Z)})) AS x
  FROM rects
),
cells AS (
  SELECT *, unnest(generate_series({sq.tile_y_sql('n', _CLIP_Z)},
                                   {sq.tile_y_sql('s', _CLIP_Z)})) AS y
  FROM cx
),
ix AS (
  SELECT feature_id, x, y,
         GREATEST(w, {_CLIP_CELL_W}) AS iw, LEAST(e, {_CLIP_CELL_E}) AS ie,
         GREATEST(s, {_CLIP_CELL_S}) AS iss, LEAST(n, {_CLIP_CELL_N}) AS inn,
         {_CLIP_CELL_W} AS cw, {_CLIP_CELL_E} AS ce,
         {_CLIP_CELL_S} AS cs, {_CLIP_CELL_N} AS cn
  FROM cells
)
SELECT feature_id, x, y,
  ROUND({_R2!r} * RADIANS(ie - iw) * (SIN(RADIANS(inn)) - SIN(RADIANS(iss)))
        / 1e6, 3) AS area_km2
FROM ix
WHERE (ie - cw > {_CLIP_EPS!r}) AND (ce - iw > {_CLIP_EPS!r})
  AND (inn - cs > {_CLIP_EPS!r}) AND (cn - iss > {_CLIP_EPS!r})
""",
)
def polygon_clip_rect_z7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 nation-keyed rectangles through the REAL quadtree clip +
    degenerate filter (operators/clip.py); rect∩cell is a rectangle, so
    the oracle recomputes the spherical area in closed form (same ring
    formula: R^2 * dLambda * (sin(latN) - sin(latS)))."""
    from vt_grid_spark.operators.clip import clip_features_to_cells

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey").collect()
    rows = []
    for r in nat:
        k = int(r.n_nationkey)
        w = -180.0 + float(k * 13 % 330) + 0.0005
        s = -80.0 + float(k * 17 % 140) + 0.0005
        e, n = w + 12.0, s + 10.0
        geom = {"type": "Polygon",
                "coordinates": [[[w, s], [w, n], [e, n], [e, s], [w, s]]]}
        rows.append((k, json.dumps(geom)))
    df = spark.createDataFrame(rows, "feature_id long, geometry_json string")
    cells = clip_features_to_cells(df, grid_z=_CLIP_Z, value_cols=[])
    return cells.select(
        "feature_id", "x", "y",
        F.round(F.col("area") / F.lit(1e6), 3).alias("area_km2"),
    )


# ---------------------------------------------------------------------------
# A5: custom per-cell reducer via applyInPandas
# (/root/reference/lib/aggregate.js:26-36 user-plugin surface; the tile
# argument convention of lib/aggregate-cells.js:92)
# ---------------------------------------------------------------------------

@register(
    "custom_reducer_median_z5",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 5)} AS x, {sq.tile_y_sql('lat', 5)} AS y,
         CAST(length(text) AS DOUBLE) AS v
  FROM pts
)
SELECT x, y, median(v) AS med, COUNT(*) AS n,
       x >> 2 AS tile_x, y >> 2 AS tile_y
FROM enc GROUP BY x, y
""",
)
def custom_reducer_median_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A holistic reducer (median) no built-in AggSpec covers, as a user
    plugin through apply_custom_reducer — Arrow-batched per cell group,
    with the mapper-tile argument surfaced in the output (the reference
    passes the tile to reducers the same way)."""
    import numpy as np

    from vt_grid_spark.operators.custom_reduce import apply_custom_reducer
    from vt_grid_spark.operators.encode import encode_points

    def med_fn(pdf, tile):
        return {"med": float(np.median(pdf["v"].to_numpy())),
                "n": len(pdf), "tile_x": int(tile[1]), "tile_y": int(tile[2])}

    pts = _pts(spark, sf_dir).withColumn("v", F.length("text").cast("double"))
    enc = encode_points(pts, 5, with_quadkey=False).select("x", "y", "v")
    return apply_custom_reducer(
        enc, cell_z=5, mapper_z=3, reduce_fn=med_fn,
        result_schema="med double, n long, tile_x long, tile_y long")


# ---------------------------------------------------------------------------
# S5 + F4: GeoJSON export view round-trip — to_json of the cell feature,
# parsed back with get_json_object (/root/reference/lib/aggregate.js:57-60)
# ---------------------------------------------------------------------------

@register(
    "geojson_export_parse_z4",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 4)} AS x, {sq.tile_y_sql('lat', 4)} AS y, lang
  FROM pts
),
cells AS (
  SELECT x, y, COUNT(*) AS cnt,
         '["' || string_agg(DISTINCT lang, '","' ORDER BY lang) || '"]' AS langs_json
  FROM enc GROUP BY x, y
)
SELECT {sq.quadkey_sql('x', 'y', 4)} AS quadkey, 'Feature' AS ftype,
       'pages' AS layer, cnt, langs_json,
       ROUND({sq.tile_lon_sql('x', 4)}, 9) AS west,
       ROUND({sq.tile_lat_sql('y', 4)}, 9) AS north
FROM cells
""",
)
def geojson_export_parse_z4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cells -> NDJSON feature strings (geojson_view, ring winding of
    tilebelt.tileToGeoJSON) -> fields parsed back out of the JSON:
    verifies the export JSON carries correct properties, _quadKey, layer
    tag, union-array serialization and ring coordinates."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.sources.export import geojson_view

    enc = encode_points(_pts(spark, sf_dir), 4)
    cells = cell_aggregate(enc, 4, [
        F.count(F.lit(1)).alias("cnt"),
        F.to_json(F.array_sort(F.collect_set("lang"))).alias("langs_json"),
    ])
    view = geojson_view(cells, 4, ["cnt", "langs_json"], layer="pages")
    f = F.col("feature")
    return view.select(
        F.get_json_object(f, "$.properties._quadKey").alias("quadkey"),
        F.get_json_object(f, "$.type").alias("ftype"),
        F.get_json_object(f, "$.properties.layer").alias("layer"),
        F.get_json_object(f, "$.properties.cnt").cast("long").alias("cnt"),
        F.get_json_object(f, "$.properties.langs_json").alias("langs_json"),
        F.round(F.get_json_object(f, "$.geometry.coordinates[0][0][0]")
                .cast("double"), 9).alias("west"),
        F.round(F.get_json_object(f, "$.geometry.coordinates[0][2][1]")
                .cast("double"), 9).alias("north"),
    )


# ---------------------------------------------------------------------------
# G5/G6: progeny enumeration + children/parent key algebra
# (/root/reference/lib/tile-util.js:15-55)
# ---------------------------------------------------------------------------

_ANC_XY = [tm.quadkey_to_tile(a)[:2] for a in _ANCESTORS]


@register(
    "progeny_children_z6",
    f"""
WITH anc(ax, ay) AS (VALUES {", ".join(f"({x}, {y})" for x, y in _ANC_XY)}),
px AS (SELECT ax, ay, unnest(generate_series(0, 3)) AS dx FROM anc),
pr AS (SELECT ax, ay, dx, unnest(generate_series(0, 3)) AS dy FROM px),
g AS (
  SELECT CAST(ax * 4 + dx AS BIGINT) AS x, CAST(ay * 4 + dy AS BIGINT) AS y,
         ax, ay
  FROM pr
)
SELECT {sq.quadkey_sql('ax', 'ay', 4)} AS anc, x, y,
       {sq.quadkey_sql('x', 'y', 6)} AS quadkey,
       {sq.quadkey_sql('(x >> 1)', '(y >> 1)', 5)} AS parent_qk
FROM g
""",
)
def progeny_children_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All z6 progeny of the three z4 ancestor tiles as DataFrame ops
    (the meshgrid form of tile-util.js getProgeny), with each cell's
    direct-parent quadkey (getParent == drop-last-char / (x>>1, y>>1))."""
    anc = spark.createDataFrame(
        [(int(x), int(y)) for x, y in _ANC_XY], "ax long, ay long")
    prog = (
        anc.withColumn("_dx", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .select(
            "ax", "ay",
            (F.shiftleft("ax", 2) + F.col("_dx")).alias("x"),
            (F.shiftleft("ay", 2) + F.col("_dy")).alias("y"),
        )
    )
    return prog.select(
        F.expr(sq.quadkey_sql("ax", "ay", 4)).alias("anc"),
        "x", "y",
        F.expr(sq.quadkey_sql("x", "y", 6)).alias("quadkey"),
        F.expr(sq.quadkey_sql("(x >> 1)", "(y >> 1)", 5)).alias("parent_qk"),
    )


# ---------------------------------------------------------------------------
# S1: metadata scan — per-level manifests of a checkpointed build carry
# true row counts and completion status (the reference reads minzoom/
# maxzoom/counts from MBTiles metadata, index.js:216-221)
# ---------------------------------------------------------------------------

@register(
    "pyramid_manifests",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 12)} AS x12, {sq.tile_y_sql('lat', 12)} AS y12
  FROM pts
),
lv AS (
  SELECT (12 - d) AS zoom, x12 >> d AS x, y12 >> d AS y
  FROM enc, (SELECT range AS d FROM range(0, 7)) ds
  GROUP BY 1, 2, 3
)
SELECT CAST(zoom AS BIGINT) AS zoom, COUNT(*) AS row_count,
       'complete' AS status, COUNT(*) AS files_total
FROM lv GROUP BY zoom
""",
)
def pyramid_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a real checkpointed build (z12 cells -> z6) into a temp table
    and answer from the MANIFESTS alone — proves the metadata surface
    records true per-level row counts (footer-derived) and status."""
    import shutil
    import tempfile

    from vt_grid_spark.operators.pyramid import build_pyramid
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.sources.table_io import TableIO

    pts = _pts(spark, sf_dir)
    plan = PyramidPlan(
        bands=[ZoomBand(basezoom=13, minzoom=6,
                        aggregations=[AggSpec(out="c", reducer="count")])],
        gridsize=1)
    d = tempfile.mkdtemp(
        prefix="vtgrid_manifest_q_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        manifests = build_pyramid(pts, plan, TableIO(d), resume=False)
        rows = [(int(m["zoom"]), int(m["row_count"]), str(m["status"]),
                 int(sum(m["files"].values()))) for m in manifests.values()]
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows, "zoom long, row_count long, status string, files_total long")


# ---------------------------------------------------------------------------
# S2: bbox-restricted build (reference index.js:113-119 tile-cover option)
# ---------------------------------------------------------------------------

_COVER_BBOX = (-10.0, 35.0, 25.0, 58.0)  # western-Europe-ish window


@register(
    "bbox_cover_build_z9",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 9)} AS x, {sq.tile_y_sql('lat', 9)} AS y
  FROM pts
),
cov AS (
  SELECT x, y FROM enc
  WHERE x BETWEEN {sq.tile_x_sql(repr(_COVER_BBOX[0]), 9)}
              AND {sq.tile_x_sql(repr(_COVER_BBOX[2]), 9)}
    AND y BETWEEN {sq.tile_y_sql(repr(_COVER_BBOX[3]), 9)}
              AND {sq.tile_y_sql(repr(_COVER_BBOX[1]), 9)}
),
b AS (SELECT 9 AS zoom, x, y, COUNT(*) AS cnt FROM cov GROUP BY x, y),
p AS (SELECT 8 AS zoom, x >> 1 AS x, y >> 1 AS y, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM b GROUP BY 2, 3),
u AS (
  SELECT CAST(zoom AS BIGINT) AS zoom, x, y, cnt FROM b
  UNION ALL
  SELECT CAST(zoom AS BIGINT) AS zoom, x, y, cnt FROM p
)
SELECT zoom, x, y, cnt,
  ROUND({sq.tile_lon_sql('x', 'zoom')}, 9) AS west,
  ROUND({sq.tile_lat_sql('(y + 1)', 'zoom')}, 9) AS south,
  ROUND({sq.tile_lon_sql('(x + 1)', 'zoom')}, 9) AS east,
  ROUND({sq.tile_lat_sql('y', 'zoom')}, 9) AS north
FROM u
""",
)
def bbox_cover_build_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level pyramid restricted to a bbox through the PyramidPlan
    cover API — every cell in the output intersects the bbox; the raw-
    column prefilter reaches the scan as PushedFilters
    (tests/test_physical_plans.py::test_bbox_cover_pushdown).

    Also carries the F2 tileToBBOX parity check (consolidated from the
    separate cell_bbox_z7 query — the driver records at most 50 rows):
    each output cell's west/south/east/north come from the per-row-zoom
    tile_lon/tile_lat transcendentals, rounded to 9 dp, matched against
    the DuckDB twins at BOTH zoom levels."""
    from vt_grid_spark.operators.pyramid import build_pyramid_df
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand

    plan = PyramidPlan(
        bands=[ZoomBand(basezoom=10, minzoom=8,
                        aggregations=[AggSpec(out="cnt", reducer="count")])],
        gridsize=1, bbox=_COVER_BBOX)
    out = build_pyramid_df(_pts(spark, sf_dir), plan)
    return out.selectExpr(
        "CAST(zoom AS BIGINT) AS zoom", "x", "y", "cnt",
        f"ROUND({sq.tile_lon_sql('x', 'zoom')}, 9) AS west",
        f"ROUND({sq.tile_lat_sql('(y + 1)', 'zoom')}, 9) AS south",
        f"ROUND({sq.tile_lon_sql('(x + 1)', 'zoom')}, 9) AS east",
        f"ROUND({sq.tile_lat_sql('y', 'zoom')}, 9) AS north",
    )


# ---------------------------------------------------------------------------
# S7 (true form): tile-join merge — two independently-built cell tables at
# the same zoom re-reduced into one (reference index.js:144-171,
# tile-join --includeBaseData).  The oracle is the direct aggregation over
# the undivided corpus, so the merge combiners (sum of sums, count of
# counts, union of unions) must be exactly associative to go green.
# ---------------------------------------------------------------------------

@register(
    "tile_join_merge_z7",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 7)} AS x, {sq.tile_y_sql('lat', 7)} AS y,
         lang, length(text) AS chars
  FROM pts
)
SELECT x, y, {sq.quadkey_sql('x', 'y', 7)} AS quadkey, COUNT(*) AS cnt,
       CAST(SUM(chars) AS BIGINT) AS sum_chars,
       string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
FROM enc GROUP BY x, y
""",
)
def tile_join_merge_z7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split the corpus by md5(url) parity, build each half's z7 cell
    table independently, then merge_cells them — must equal the direct
    single-pass aggregation."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import merge_cells
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs

    pts = _pts(spark, sf_dir).withColumn("chars", F.length("text").cast("long"))
    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="sum_chars", reducer="sum", field="chars"),
             AggSpec(out="langs", reducer="union", field="lang")]
    parity = F.pmod(
        F.conv(F.substring(F.md5("url"), 1, 8), 16, 10).cast("long"), F.lit(2))
    enc = encode_points(pts, 7, with_quadkey=False).withColumn("_par", parity)
    halves = [cell_aggregate(enc.where(F.col("_par") == i), 7,
                             compile_aggs(specs)) for i in (0, 1)]
    merged = merge_cells(halves, 7, specs)
    return merged.select("x", "y", "quadkey", "cnt", "sum_chars",
                         F.array_join("langs", ",").alias("langs"))


# ---------------------------------------------------------------------------
# As-of join (operator Spark lacks natively; DuckDB's native ASOF JOIN is
# the oracle): attribute each purchase to the same user's most recent
# click at-or-before it — tagged-union window, ONE shuffle, no broadcast.
# ---------------------------------------------------------------------------

@register(
    "purchase_attribution_asof",
    """
WITH clicks AS (
  SELECT user_id, ts, MAX(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       COALESCE(c.click_event_id, -1) AS click_event_id,
       COALESCE(c.ts, TIMESTAMP '1970-01-01') AS click_ts,
       CAST(COALESCE(epoch_us(p.ts) - epoch_us(c.ts), -1) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def purchase_attribution_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vt_grid_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.where(F.col("event_type") == "click") \
        .select("user_id", "ts", "event_id")
    purchases = ev.where(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    out = asof_join(purchases, clicks, key="user_id",
                    right_cols=["event_id"], prefix="click_")
    return out.select(
        "event_id", "user_id", "ts",
        F.coalesce("click_event_id", F.lit(-1)).alias("click_event_id"),
        F.coalesce("click_ts", F.to_timestamp(F.lit("1970-01-01")))
        .alias("click_ts"),
        F.coalesce(F.unix_micros("ts") - F.unix_micros("click_ts"),
                   F.lit(-1)).alias("gap_us"))


# ---------------------------------------------------------------------------
# Per-cell sketch reducers, both through the real 2-level rollup path:
#   * kmvDistinct — mergeable distinct-count (k-minimum-values); the
#     oracle computes the z5 sketch directly, so a hash match proves
#     kmv(A ∪ B) == merge(kmv(A), kmv(B)) — which register-based sketches
#     (HLL) can't offer cross-engine.
#   * histQuantile — linear-bucket histogram (array of counts, elementwise-
#     sum merge) with p50/p95 lower-bound finalize: the bounded-state
#     per-cell percentile a 100 TB pyramid needs where collect-and-sort
#     cannot run.  Same direct-vs-rolled-up hash-match proof.
# ---------------------------------------------------------------------------

_KMV_K = 32
_HQ_B, _HQ_W = 32, 64.0

_HQ_SQL = "list_value(" + ", ".join(
    f"CAST(SUM(CASE WHEN least({_HQ_B - 1}, greatest(0, floor(chars / {_HQ_W!r})))"
    f" = {i} THEN 1 ELSE 0 END) AS BIGINT)" for i in range(_HQ_B)) + ")"


def _hq_q_sql(q: float) -> str:
    return (f"CAST((list_min(list_filter(generate_series(1, {_HQ_B}), "
            f"i -> list_sum(h[1:i]) >= ceil({q!r} * list_sum(h)))) - 1)"
            f" * {_HQ_W!r} AS DOUBLE)")


@register(
    "kmv_distinct_z5",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 5)} AS x, {sq.tile_y_sql('lat', 5)} AS y,
         ('0x' || substr(md5(string_split(url, '/')[3]), 1, 15))::BIGINT AS h,
         CAST(length(text) AS DOUBLE) AS chars
  FROM pts
),
g AS (
  SELECT x, y, (list_sort(list_distinct(list(h))))[1:{_KMV_K}] AS sk,
         {_HQ_SQL} AS h
  FROM enc GROUP BY x, y
)
SELECT x, y,
  array_to_string(sk, ',') AS dom_sketch,
  CAST(len(sk) AS BIGINT) AS n_sketch,
  CASE WHEN len(sk) < {_KMV_K} THEN len(sk)::DOUBLE
       ELSE ROUND({_KMV_K - 1} * {float(1 << 60)!r} / sk[{_KMV_K}], 4)
  END AS dom_est,
  array_to_string(h, ',') AS len_hist,
  {_hq_q_sql(0.5)} AS len_p50,
  {_hq_q_sql(0.95)} AS len_p95
FROM g
""",
)
def kmv_distinct_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct web domains (KMV) + text-length histogram quantiles
    (histQuantile) per cell: both sketches built at z7 and merged up TWO
    pyramid levels — must hash-match the oracle's direct z5 computation
    (exact-merge proof for both reducers)."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_level
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs, finalize_columns

    specs = [
        AggSpec(out="dom_sketch", reducer="kmvDistinct", field="_dom",
                k=_KMV_K),
        AggSpec(out="len_hist", reducer="histQuantile", field="_chars",
                buckets=_HQ_B, width=_HQ_W, quantiles=(0.5, 0.95)),
    ]
    pts = _pts(spark, sf_dir).withColumn(
        "_dom", F.split(F.col("url"), "/").getItem(2)).withColumn(
        "_chars", F.length("text").cast("double"))
    cells = cell_aggregate(encode_points(pts, 7, with_quadkey=False), 7,
                           compile_aggs(specs))
    for child_z in (7, 6):
        cells = rollup_level(cells, child_z, specs)
    fin = finalize_columns(specs)
    return cells.select(
        "x", "y",
        F.array_join(F.col("dom_sketch").cast("array<string>"), ",")
        .alias("dom_sketch"),
        F.size("dom_sketch").cast("long").alias("n_sketch"),
        fin["dom_sketch_est"].alias("dom_est"),
        F.array_join(F.col("len_hist").cast("array<string>"), ",")
        .alias("len_hist"),
        fin["len_hist_p50"].alias("len_p50"),
        fin["len_hist_p95"].alias("len_p95"))


# ---------------------------------------------------------------------------
# S3 (true form): MBTiles -> gunzip -> MVT protobuf decode -> features
# (/root/reference/bench/read-tiles.js:24-45).  The oracle recomputes the
# expected features from the same integer parameters, independent of the
# wire format (whose round-trips live in tests/test_mvt.py).
# ---------------------------------------------------------------------------

@register(
    "mbtiles_ingest_z6",
    f"""
WITH t AS (SELECT range AS i FROM range(0, 16)),
f AS (SELECT i, unnest(generate_series(0, (i % 5) + 1)) AS j FROM t),
g AS (
  SELECT CAST(30 + i % 4 AS BIGINT) AS x, CAST(20 + i // 4 AS BIGINT) AS y,
         CAST(j AS BIGINT) AS feature_id,
         CAST((j * 97 + i * 13) % 4096 AS DOUBLE) / 4096.0 AS fx,
         CAST((i * 53 + j * 31) % 4096 AS DOUBLE) / 4096.0 AS fy,
         CAST(j AS BIGINT) AS n
  FROM f
)
SELECT x, y, feature_id,
  ROUND({sq.tile_lon_sql('(x + fx)', 6)}, 9) AS lon,
  ROUND({sq.tile_lat_sql('(y + fy)', 6)}, 9) AS lat,
  n
FROM g
""",
)
def mbtiles_ingest_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesizes a 16-tile MBTiles file (gzipped spec-2.1 MVT blobs),
    then drives the REAL ingest: SQLite index scan + TMS flip, distributed
    mapInPandas protobuf decode, extent->lon/lat transform, JSON property
    extraction."""
    import shutil
    import tempfile

    from vt_grid_spark.sources import mvt

    z = 6
    tiles = []
    for i in range(16):
        feats = [{"geom_type": 1,
                  "parts": [[((j * 97 + i * 13) % 4096, (i * 53 + j * 31) % 4096)]],
                  "props": {"n": j}, "id": j}
                 for j in range(i % 5 + 2)]
        tiles.append((z, 30 + i % 4, 20 + i // 4,
                      mvt.encode_tile({"pages": feats})))
    d = tempfile.mkdtemp(
        prefix="vtgrid_mbt_q_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        path = f"{d}/in.mbtiles"
        mvt.write_mbtiles(path, tiles)
        feats_df = mvt.decode_tiles_df(mvt.read_mbtiles(spark, path))
    finally:
        shutil.rmtree(d, ignore_errors=True)  # blobs already in the plan
    return feats_df.select(
        "x", "y", "feature_id",
        F.round(F.get_json_object("geometry_json", "$.coordinates[0]")
                .cast("double"), 9).alias("lon"),
        F.round(F.get_json_object("geometry_json", "$.coordinates[1]")
                .cast("double"), 9).alias("lat"),
        F.get_json_object("props_json", "$.n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# S5/S6 (true output form): cells -> MVT tile blobs -> MBTiles -> re-ingest.
# The engine's write side produces the reference's OUTPUT artifact (grid
# tiles of square cell polygons carrying aggregates, lib/grid-geojson.js);
# the oracle is the straight SQL aggregation — so the whole
# encode -> protobuf -> SQLite -> gunzip -> decode loop must be lossless
# on ids, properties, and (integer-exact) geometry to go green.
# ---------------------------------------------------------------------------

@register(
    "mbtiles_sink_roundtrip",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 8)} AS x, {sq.tile_y_sql('lat', 8)} AS y,
         length(text) AS chars
  FROM pts
)
SELECT x, y, COUNT(*) AS cnt, CAST(SUM(chars) AS BIGINT) AS sum_chars
FROM enc GROUP BY x, y
""",
)
def mbtiles_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sink+source loop: aggregate cells at z8, pack 4x4 cells per z6
    tile (integer-exact squares + properties), assemble a real MBTiles,
    then re-ingest and reconstruct cells from feature ids — must equal the
    direct aggregation."""
    import shutil
    import tempfile

    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.sources import mvt

    k = 2
    pts = _pts(spark, sf_dir).withColumn("chars", F.length("text").cast("long"))
    cells = (
        encode_points(pts, 8, with_quadkey=False)
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("chars").alias("sum_chars"))
    )
    tiles = mvt.cells_to_mvt_tiles(cells, cell_z=8, k=k, layer="cells",
                                   props=["cnt", "sum_chars"])
    d = tempfile.mkdtemp(
        prefix="vtgrid_mbt_sink_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        path = f"{d}/out.mbtiles"
        mvt.write_mbtiles_df(tiles, path)
        feats = mvt.decode_tiles_df(mvt.read_mbtiles(spark, path))
    finally:
        shutil.rmtree(d, ignore_errors=True)  # blobs already in the plan
    return feats.select(
        (F.shiftleft("x", k) + F.pmod("feature_id", F.lit(1 << k))).alias("x"),
        (F.shiftleft("y", k) + F.shiftright("feature_id", k)).alias("y"),
        F.get_json_object("props_json", "$.cnt").cast("long").alias("cnt"),
        F.get_json_object("props_json", "$.sum_chars").cast("long")
        .alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# F6/A5 workload: per-cell clipped line length (the reference's roads
# benchmark, bench/aggregations/osm-roads.js) — slab-method segment clip,
# equirectangular cos(mid-lat) length; the oracle mirrors the exact
# arithmetic in SQL (single-segment features keep it closed-form)
# ---------------------------------------------------------------------------

_LINE_Z = 5
_LINE_EPS = 0.087 / (4.0 ** _LINE_Z)
_LC_W = sq.tile_lon_sql("x", _LINE_Z)
_LC_E = sq.tile_lon_sql("(x + 1)", _LINE_Z)
_LC_S = sq.tile_lat_sql("(y + 1)", _LINE_Z)
_LC_N = sq.tile_lat_sql("y", _LINE_Z)


@register(
    "line_clip_length_z5",
    f"""
WITH segs AS (
  SELECT CAST(n_nationkey AS BIGINT) AS feature_id, lon0, lat0,
         lon0 + 15.0 + CAST(n_nationkey % 7 AS DOUBLE) AS lon1,
         lat0 + 8.0 + CAST(n_nationkey % 5 AS DOUBLE) AS lat1
  FROM (SELECT n_nationkey,
        (-170.0 + CAST(n_nationkey * 29 % 320 AS DOUBLE) + 0.0005) AS lon0,
        (-70.0 + CAST(n_nationkey * 31 % 130 AS DOUBLE) + 0.0005) AS lat0
        FROM nation)
),
cx AS (SELECT *, unnest(generate_series({sq.tile_x_sql('lon0', _LINE_Z)},
                                        {sq.tile_x_sql('lon1', _LINE_Z)})) AS x
       FROM segs),
cells AS (SELECT *, unnest(generate_series({sq.tile_y_sql('lat1', _LINE_Z)},
                                           {sq.tile_y_sql('lat0', _LINE_Z)})) AS y
          FROM cx),
ix AS (
  SELECT feature_id, x, y, lon0, lat0,
         (lon1 - lon0) AS dx, (lat1 - lat0) AS dy,
         {_LC_W} AS w, {_LC_E} AS e, {_LC_S} AS s, {_LC_N} AS n
  FROM cells
),
tt AS (
  SELECT *,
    GREATEST(0.0, GREATEST(LEAST((w - lon0)/dx, (e - lon0)/dx),
                           LEAST((s - lat0)/dy, (n - lat0)/dy))) AS t0,
    LEAST(1.0, LEAST(GREATEST((w - lon0)/dx, (e - lon0)/dx),
                     GREATEST((s - lat0)/dy, (n - lat0)/dy))) AS t1
  FROM ix
),
pc AS (
  SELECT feature_id, x, y, w, e, s, n,
         lon0 + t0*dx AS ax, lat0 + t0*dy AS ay,
         lon0 + t1*dx AS bx, lat0 + t1*dy AS by
  FROM tt WHERE t1 > t0
)
SELECT feature_id, x, y,
  ROUND(6378137.0 * SQRT(POWER(RADIANS(by - ay), 2)
        + POWER(RADIANS(bx - ax) * COS(RADIANS((ay + by) * 0.5)), 2))
        / 1000.0, 6) AS length_km
FROM pc
WHERE (GREATEST(ax, bx) - w > {_LINE_EPS!r}) AND (e - LEAST(ax, bx) > {_LINE_EPS!r})
  AND (GREATEST(ay, by) - s > {_LINE_EPS!r}) AND (n - LEAST(ay, by) > {_LINE_EPS!r})
""",
)
def line_clip_length_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 nation-keyed line segments through the real line-clip operator
    (slab-method cell clip + degenerate filter + cos(mid-lat) length)."""
    from vt_grid_spark.operators.clip import clip_lines_to_cells

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey").collect()
    rows = []
    for r in nat:
        k = int(r.n_nationkey)
        lon0 = -170.0 + float(k * 29 % 320) + 0.0005
        lat0 = -70.0 + float(k * 31 % 130) + 0.0005
        lon1 = lon0 + 15.0 + float(k % 7)
        lat1 = lat0 + 8.0 + float(k % 5)
        geom = {"type": "LineString",
                "coordinates": [[lon0, lat0], [lon1, lat1]]}
        rows.append((k, json.dumps(geom)))
    df = spark.createDataFrame(rows, "feature_id long, geometry_json string")
    out = clip_lines_to_cells(df, grid_z=_LINE_Z)
    return out.select(
        "feature_id", "x", "y",
        F.round(F.col("length_m") / F.lit(1000.0), 6).alias("length_km"))


# ---------------------------------------------------------------------------
# Stateful streaming twin: gap-timeout sessionization (batch form; the
# applyInPandasWithState stream == batch equivalence is
# tests/test_streaming_custom.py::test_stateful_sessionize_stream_equals_batch)
# ---------------------------------------------------------------------------

@register(
    "event_sessions",
    """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
g AS (
  SELECT *, CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
       (PARTITION BY user_id ORDER BY ts)) > 14400000000
       THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, sid
""",
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 4h-gap sessions over the events table (integer-microsecond
    gap math, exact cross-engine)."""
    from vt_grid_spark.streaming.sessions import sessionize_batch

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(events, gap_s=14400)


# ---------------------------------------------------------------------------
# §3 option-stack composition: count at the base band, sum below
# (/root/reference/README.md:66-74, index.js:45-59 zoom-band machinery)
# ---------------------------------------------------------------------------

@register(
    "multiband_stack_z6",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 10)} AS x10, {sq.tile_y_sql('lat', 10)} AS y10
  FROM pts
),
lv AS (
  SELECT (10 - d) AS zoom, x10 >> d AS x, y10 >> d AS y, COUNT(*) AS cnt
  FROM enc, (SELECT range AS d FROM range(0, 5)) ds
  GROUP BY 1, 2, 3
)
SELECT CAST(zoom AS BIGINT) AS zoom, x, y, cnt FROM lv
""",
)
def multiband_stack_z6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two zoom bands — count() in the upper band, sum(cnt) below — the
    reference's manual partial/final split across bands; every level must
    equal the plain per-ancestor point count."""
    from vt_grid_spark.operators.pyramid import build_pyramid_df
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand

    plan = PyramidPlan(
        bands=[
            ZoomBand(basezoom=11, minzoom=9,
                     aggregations=[AggSpec(out="cnt", reducer="count")]),
            ZoomBand(basezoom=9, minzoom=6,
                     aggregations=[AggSpec(out="cnt", reducer="sum", field="cnt")]),
        ],
        gridsize=1)
    out = build_pyramid_df(_pts(spark, sf_dir), plan)
    return out.select(F.col("zoom").cast("long").alias("zoom"), "x", "y", "cnt")


# ---------------------------------------------------------------------------
# Multimodal REAL decoders (BMP / WAV / frame stream): binary columns are
# synthesized from integer seeds (true wire bytes), the operators decode
# them for real, and the oracles recompute the features from the seeds in
# closed form — so a wire-format or decode bug breaks the hash match.
# ---------------------------------------------------------------------------

_N_MEDIA = 50


def _media_corpus(spark: SparkSession, kind: str) -> DataFrame:
    """(doc_id, image|audio|video binary) built in mapInPandas from seeds."""
    import pandas as pd

    from vt_grid_spark.operators import multimodal as mm

    def gen(batches):
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["id"]:
                i = int(i)
                if kind == "image":
                    w, h = 16 + i % 8, 12 + i % 5
                    y, x, c = np.ogrid[0:h, 0:w, 0:3]
                    px = ((i * 31 + x * 7 + y * 11 + c * 5) % 256).astype(np.uint8)
                    blobs.append(mm.encode_bmp(px))
                elif kind == "audio":
                    n = 400 + i % 50
                    t = np.arange(n, dtype=np.int64)
                    s = ((i * 7 + t * 13) % 2003) - 1001
                    blobs.append(mm.encode_wav(s.astype(np.int16),
                                               8000 + (i % 3) * 4000))
                else:  # video
                    w, h = 8 + i % 3, 6 + i % 2
                    frames = []
                    for f in range(2 + i % 4):
                        y, x, c = np.ogrid[0:h, 0:w, 0:3]
                        frames.append(((i * 17 + f * 29 + x * 3 + y * 5 + c)
                                       % 256).astype(np.uint8))
                    blobs.append(mm.encode_video(frames))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, kind: blobs})

    # 8 partitions, not the session's 32: 50 seed rows over 32 partitions
    # spin up 32 Python workers for 1-2 rows each — at this fixture size
    # worker startup IS the wall (bracketed: cold 6.6 s vs warm 0.73 s).
    # Real media corpora come from parquet scans, not this generator.
    return spark.range(0, _N_MEDIA, 1, 8).mapInPandas(
        gen, f"doc_id long, {kind} binary")


@register(
    "image_features_bmp",
    """
WITH d AS (SELECT range AS i FROM range(0, 50)),
dim AS (SELECT i, 16 + i % 8 AS w, 12 + i % 5 AS h FROM d),
gx AS (SELECT *, unnest(generate_series(0, w - 1)) AS x FROM dim),
px AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM gx),
sums AS (
  SELECT i, w, h,
    SUM((i*31 + x*7 + y*11) % 256) AS sum_r,
    SUM((i*31 + x*7 + y*11 + 5) % 256) AS sum_g,
    SUM((i*31 + x*7 + y*11 + 10) % 256) AS sum_b
  FROM px GROUP BY i, w, h
),
tu AS (SELECT i, w, h, unnest(generate_series(0, 7)) AS u FROM dim),
tv AS (SELECT *, unnest(generate_series(0, 7)) AS v FROM tu),
thumb AS (
  SELECT i, SUM((i*31 + ((u*w)//8)*7 + ((v*h)//8)*11) % 256
              + (i*31 + ((u*w)//8)*7 + ((v*h)//8)*11 + 5) % 256
              + (i*31 + ((u*w)//8)*7 + ((v*h)//8)*11 + 10) % 256) AS thumb_sum
  FROM tv GROUP BY i
)
SELECT s.i AS doc_id, CAST(s.w AS INT) AS width, CAST(s.h AS INT) AS height,
       CAST(s.sum_r AS BIGINT) AS sum_r, CAST(s.sum_g AS BIGINT) AS sum_g,
       CAST(s.sum_b AS BIGINT) AS sum_b,
       CAST(t.thumb_sum AS BIGINT) AS thumb_sum
FROM sums s JOIN thumb t ON t.i = s.i
""",
)
def image_features_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real 24-bit BMP decode + channel sums + nearest-neighbor 8x8
    thumbnail over a binary image column."""
    from vt_grid_spark.operators.multimodal import image_features

    return image_features(_media_corpus(spark, "image"))


@register(
    "audio_features_wav",
    """
WITH d AS (SELECT range AS i FROM range(0, 50)),
a AS (SELECT i, unnest(generate_series(0, 399 + i % 50)) AS t FROM d),
s AS (SELECT i, t, ((i*7 + t*13) % 2003) - 1001 AS v FROM a),
z AS (
  SELECT i, v, CASE WHEN v * lag(v) OVER (PARTITION BY i ORDER BY t) < 0
               THEN 1 ELSE 0 END AS zc
  FROM s
)
SELECT i AS doc_id, CAST(8000 + (i % 3) * 4000 AS INT) AS sample_rate,
       CAST(400 + i % 50 AS BIGINT) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(SUM(zc) AS BIGINT) AS n_zero_cross
FROM z GROUP BY i
""",
)
def audio_features_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PCM16 WAV decode + exact integer energy / zero-crossing count."""
    from vt_grid_spark.operators.multimodal import audio_features

    return audio_features(_media_corpus(spark, "audio"))


@register(
    "video_frame_sample",
    """
WITH d AS (SELECT range AS i FROM range(0, 50)),
fr AS (SELECT i, unnest(generate_series(0, 1 + i % 4)) AS f FROM d),
keep AS (SELECT i, f, 8 + i % 3 AS w, 6 + i % 2 AS h FROM fr WHERE f % 2 = 0),
gx AS (SELECT *, unnest(generate_series(0, w - 1)) AS x FROM keep),
gy AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM gx)
SELECT i AS doc_id, CAST(f AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(SUM((i*17 + f*29 + x*3 + y*5) % 256
              + (i*17 + f*29 + x*3 + y*5 + 1) % 256
              + (i*17 + f*29 + x*3 + y*5 + 2) % 256) AS BIGINT) AS sum_px
FROM gy GROUP BY i, f, w, h
""",
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over a length-prefixed BMP frame stream: every 2nd
    frame is decoded (skipped frames are seeked over, never decoded)."""
    from vt_grid_spark.operators.multimodal import frame_sample

    return frame_sample(_media_corpus(spark, "video"), every_n=2)


# ---------------------------------------------------------------------------
# F5: aggregation-spec string parse -> executed plan
# (/root/reference/bin/vt-grid:27-45)
# ---------------------------------------------------------------------------

@register(
    "aggspec_parse_z5",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 5)} AS x, {sq.tile_y_sql('lat', 5)} AS y,
         length(text) AS chars, length(url) AS ulen
  FROM pts
)
SELECT x, y, COUNT(*) AS cnt, CAST(SUM(chars) AS BIGINT) AS chars,
       CAST(MIN(ulen) AS BIGINT) AS umin, CAST(MAX(ulen) AS BIGINT) AS umax
FROM enc GROUP BY x, y
""",
)
def aggspec_parse_z5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLI-style strings parsed by parse_agg_strings (reference regex
    semantics: output property = field name, unknown reducers rejected)
    and EXECUTED as the compiled plan — covering count/sum/min/max."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.plans.aggspec import compile_aggs, parse_agg_strings

    aggs = parse_agg_strings(["pages:count(cnt)", "pages:sum(chars)",
                              "pages:min(umin)", "pages:max(umax)"])
    specs = aggs["pages"]
    pts = (_pts(spark, sf_dir)
           .withColumn("chars", F.length("text").cast("long"))
           .withColumn("umin", F.length("url").cast("long"))
           .withColumn("umax", F.length("url").cast("long")))
    enc = encode_points(pts, 5, with_quadkey=False)
    out = cell_aggregate(enc, 5, compile_aggs(specs))
    return out.select("x", "y", "cnt", "chars", "umin", "umax")


# ---------------------------------------------------------------------------
# S7+: incremental pyramid update (delta ingest; operators/pyramid.py
# incremental_update).  The engine builds a pyramid over 3/4 of the corpus,
# then folds the remaining 1/4 in as a delta batch THROUGH the checkpointed
# levels (broadcast anti-join routing + touched-slice merge).  The oracle
# never sees the split: it aggregates ALL points directly at every zoom —
# equality proves merge(existing, rollup(delta)) == rebuild.
# ---------------------------------------------------------------------------

_INC_LEVELS_SQL = "\nUNION ALL\n".join(
    f"SELECT CAST({z} AS BIGINT) AS zoom, x8 >> {8 - z} AS x, y8 >> {8 - z} AS y,"
    f" {sq.quadkey_sql(f'(x8 >> {8 - z})', f'(y8 >> {8 - z})', z)} AS quadkey,"
    f" COUNT(*) AS cnt, CAST(SUM(chars) AS BIGINT) AS sum_chars"
    f" FROM enc GROUP BY x8 >> {8 - z}, y8 >> {8 - z}"
    for z in (8, 7, 6))


@register(
    "incremental_update_z8",
    f"""
WITH pts AS ({_PAGES}),
enc AS (
  SELECT {sq.tile_x_sql('lon', 8)} AS x8, {sq.tile_y_sql('lat', 8)} AS y8,
         length(text) AS chars
  FROM pts
)
{_INC_LEVELS_SQL}
""",
)
def incremental_update_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed build over a hash-split 3/4 of the pages, then
    incremental_update with the held-out 1/4; all three written levels
    must equal the oracle's direct full-corpus aggregation."""
    import shutil
    import tempfile

    from vt_grid_spark.operators.pyramid import build_pyramid, incremental_update
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.sources.table_io import TableIO

    pts = _pts(spark, sf_dir).withColumn("chars", F.length("text").cast("long"))
    plan = PyramidPlan(
        bands=[ZoomBand(basezoom=9, minzoom=6,
                        aggregations=[AggSpec(out="cnt", reducer="count"),
                                      AggSpec(out="sum_chars", reducer="sum",
                                              field="chars")])],
        gridsize=1)  # cell zooms 8..6 (output starts at basezoom-1)
    split = F.pmod(F.xxhash64("url"), F.lit(4))
    d = tempfile.mkdtemp(
        prefix="vtgrid_inc_q_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        io = TableIO(d)
        build_pyramid(pts.where(split != 0), plan, io, resume=False)
        incremental_update(pts.where(split == 0), plan, io)
        # one eager localCheckpoint of the 3-level union (r6): the levels
        # must be materialized before the temp dir is removed, and the
        # checkpoint does it in a single distributed job — the r5 form
        # round-tripped each level through the driver (3 toPandas collects
        # + a createDataFrame re-upload)
        lv = [io.read_level(spark, z)
                .select(F.col("zoom").cast("long").alias("zoom"),
                        "x", "y", "quadkey", "cnt", "sum_chars")
              for z in (8, 7, 6)]
        return lv[0].unionByName(lv[1]).unionByName(lv[2]) \
            .localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Cell-index contract, hex engine (cellindex.py HexIndex): hexagonal
# binning + aperture parent, oracle = the same axial/cube-round arithmetic
# term-for-term in DuckDB (constants via repr -> identical doubles).
# ---------------------------------------------------------------------------

_HEX_SIZE = 0.75
_HEX_APERTURE = 3


def _hex_center_sql(q: str, r: str, size: float) -> tuple[str, str]:
    import math as _m
    s32, s3 = _m.sqrt(3.0) / 2.0, _m.sqrt(3.0)
    cx = f"({size!r} * (1.5 * CAST({q} AS DOUBLE)))"
    cy = (f"({size!r} * ({s32!r} * CAST({q} AS DOUBLE)"
          f" + {s3!r} * CAST({r} AS DOUBLE)))")
    return cx, cy


def _hex_bin_oracle() -> str:
    from vt_grid_spark.cellindex import hex_q_sql, hex_r_sql
    qs = hex_q_sql("lon", "lat", _HEX_SIZE)
    rs = hex_r_sql("lon", "lat", _HEX_SIZE)
    cx, cy = _hex_center_sql("q", "r", _HEX_SIZE)
    coarse = _HEX_SIZE * _HEX_APERTURE
    return f"""
WITH pts AS ({_PAGES}),
fine AS (
  SELECT {qs} AS q, {rs} AS r, length(text) AS chars FROM pts
),
ctr AS (
  SELECT q, r, chars, {cx} AS cx, {cy} AS cy FROM fine
)
SELECT q, r,
       {hex_q_sql('cx', 'cy', coarse)} AS pq,
       {hex_r_sql('cx', 'cy', coarse)} AS pr,
       COUNT(*) AS cnt, CAST(SUM(chars) AS BIGINT) AS sum_chars
FROM ctr
GROUP BY 1, 2, 3, 4
"""


@register("hex_bin_agg", _hex_bin_oracle())
def hex_bin_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages binned into flat-top hexes (size 0.75 deg) with the aperture-3
    parent carried — covers cell(), parent() and the packed-id round-trip
    of the hex engine end-to-end against DuckDB."""
    from vt_grid_spark.cellindex import HexIndex

    ix = HexIndex(_HEX_SIZE, aperture=_HEX_APERTURE)
    pts = _pts(spark, sf_dir).withColumn("chars", F.length("text").cast("long"))
    enc = (pts.withColumn("cell", ix.cell("lon", "lat"))
           .withColumn("pcell", ix.parent(F.col("cell"))))
    q, r = HexIndex.qr(F.col("cell"))
    pq, pr = HexIndex.qr(F.col("pcell"))
    return (enc.select(q.alias("q"), r.alias("r"),
                       pq.alias("pq"), pr.alias("pr"), "chars")
            .groupBy("q", "r", "pq", "pr")
            .agg(F.count("*").alias("cnt"),
                 F.sum("chars").alias("sum_chars")))
