"""Pure-SQL surface (functions/sqlfuncs.py): the vt_* SQL scalar
functions, the DataFrame encode and DuckDB running the same sqltext
generators must agree exactly with tilemath, so an all-SQL pipeline is a
drop-in for the DataFrame API."""

import duckdb
import numpy as np
from pyspark.sql import functions as F

from vt_grid_spark import tilemath as tm
from vt_grid_spark.functions import sqltext as sq
from vt_grid_spark.functions.sqlfuncs import register_sql_functions
from vt_grid_spark.sources import pages


def test_sql_functions_match_tilemath(spark):
    """Pole rows included: lat = +-90 lands in the edge rows (y = 0 and
    y = 2^z - 1) in every engine instead of raising or flipping sides."""
    from vt_grid_spark.operators.encode import encode_points

    register_sql_functions(spark)
    lonlat = [(lon, lat) for lon in (-180.0, 0.0, 179.999)
              for lat in (90.0, -90.0, 89.9, -89.9,
                          85.0511287798, -85.0511287798)]
    edge = spark.createDataFrame(
        [(f"edge{i}", lon, lat) for i, (lon, lat) in enumerate(lonlat)],
        "url string, lon double, lat double")
    pts = (pages.with_coords(pages.pages_df(spark, 500))
           .select("url", "lon", "lat").unionByName(edge))
    pts.createOrReplaceTempView("_sqlf_pts")
    pdf = pts.toPandas()
    con = duckdb.connect()
    con.register("pts", pdf)
    for z in (3, 7, 12):
        with np.errstate(divide="ignore"):  # ln(0) / 1/0 at the poles
            x, y = tm.point_to_tile(pdf.lon.to_numpy(), pdf.lat.to_numpy(), z)
        want = {u: (int(a), int(b), tm.tile_to_quadkey(int(a), int(b), z))
                for u, a, b in zip(pdf.url, x, y)}
        assert want["edge0"][1] == 0 and want["edge1"][1] == (1 << z) - 1
        sql = spark.sql(f"""
            SELECT url, x, y, vt_quadkey(x, y, {z}),
                   vt_tile_lon(x, {z}) AS w, vt_tile_lat(y, {z}) AS n FROM (
              SELECT url, vt_tile_x(lon, {z}) AS x, vt_tile_y(lat, {z}) AS y
              FROM _sqlf_pts)""").collect()
        for r in sql:  # NW corner of each cell, against the numpy twin
            assert abs(r.w - float(tm.tile_to_lon(r.x, z))) < 1e-9
            assert abs(r.n - float(tm.tile_to_lat(r.y, z))) < 1e-9
        sql = [r[:4] for r in sql]
        enc = encode_points(pts, z).select("url", "x", "y", "quadkey").collect()
        duck = con.execute(f"""
            SELECT url, x, y, {sq.quadkey_sql('x', 'y', z)} FROM (
              SELECT url, {sq.tile_x_sql('lon', z)} AS x,
                     {sq.tile_y_sql('lat', z)} AS y FROM pts)""").fetchall()
        for got in (sql, enc, duck):
            assert {r[0]: tuple(r[1:]) for r in got} == want, z


def test_quote_str_reads_back_in_both_engines(spark):
    """sqltext.quote_str literals survive DuckDB and Spark under either
    spark.sql.parser.escapedStringLiterals setting."""
    words = ["plain", "l'", "it''s", "back\\slash", "\\'", "", "'"]
    arr = ", ".join(sq.quote_str(w) for w in words)
    assert duckdb.sql(f"SELECT [{arr}]").fetchone()[0] == words
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    try:
        for value in ("false", "true"):
            spark.conf.set(key, value)
            assert spark.sql(f"SELECT array({arr}) AS a").first().a == words
    finally:
        spark.conf.set(key, old)


def test_sql_quadkey_roundtrip_and_lineage(spark):
    register_sql_functions(spark)
    rows = spark.sql("""
        WITH t AS (SELECT id AS x, (id * 7) % 128 AS y FROM range(0, 128)),
        q AS (SELECT x, y, vt_quadkey(x, y, 7) AS qk FROM t)
        SELECT x, y, qk, vt_quadkey_x(qk) AS rx, vt_quadkey_y(qk) AS ry,
               vt_parent_x(x) AS px, vt_parent_y(y) AS py,
               vt_is_ancestor(x, y, 7, shiftright(x, 3), shiftright(y, 3), 4) AS anc,
               vt_is_ancestor(x, y, 7, shiftright(x, 3) + 1, shiftright(y, 3), 4) AS not_anc
        FROM q""").collect()
    assert len(rows) == 128
    for r in rows:
        assert (r.rx, r.ry) == (r.x, r.y)                 # quadkey inverts
        assert r.qk == tm.tile_to_quadkey(r.x, r.y, 7)    # numpy twin
        assert (r.px, r.py) == tm.parent(r.x, r.y, 7)[:2]
        assert r.anc and not r.not_anc
    # z=0 root tile: '' quadkey (sequence(1,0) is DESCENDING in Spark —
    # the guard must short-circuit), and the inverse maps '' -> (0, 0)
    root = spark.sql("SELECT vt_quadkey(0, 0, 0) AS qk, "
                     "vt_quadkey_x('') AS x, vt_quadkey_y('') AS y").collect()[0]
    assert (root.qk, root.x, root.y) == ("", 0, 0)


def test_sql_cell_pack_exact_at_high_zoom(spark):
    """vt_cell_x/vt_cell_y must decode with integer bit math — packed ids
    exceed 2^53 at z=28, where double division silently corrupts y."""
    register_sql_functions(spark)
    z, n = 28, 1 << 28
    rows = spark.sql(f"""
        WITH t AS (SELECT id * 76543217 % {n} AS x, (id * 1234577) % {n} AS y
                   FROM range(0, 500))
        SELECT x, y, vt_cell_id(x, y, {z}) AS cell,
               vt_cell_x(vt_cell_id(x, y, {z}), {z}) AS rx,
               vt_cell_y(vt_cell_id(x, y, {z}), {z}) AS ry
        FROM t""").collect()
    assert max(r.cell for r in rows) > (1 << 53)
    for r in rows:
        assert (r.rx, r.ry) == (r.x, r.y)


def test_sql_pipeline_equals_dataframe_pipeline(spark):
    """A whole encode+rollup written in spark.sql matches the DataFrame
    pyramid path cell-for-cell."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points

    register_sql_functions(spark)
    pts = pages.with_coords(pages.pages_df(spark, 1000)) \
        .withColumn("v", F.length("text").cast("double"))
    pts.createOrReplaceTempView("_sqlf_pipe")
    sql_cells = spark.sql("""
        SELECT vt_parent_x(x) AS x, vt_parent_y(y) AS y,
               SUM(cnt) AS cnt, SUM(sum_v) AS sum_v
        FROM (
          SELECT vt_tile_x(lon, 8) AS x, vt_tile_y(lat, 8) AS y,
                 COUNT(*) AS cnt, SUM(v) AS sum_v
          FROM _sqlf_pipe GROUP BY 1, 2
        ) GROUP BY 1, 2""")
    df_cells = cell_aggregate(
        encode_points(pts, 8, with_quadkey=False), 8,
        [F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v")]) \
        .groupBy(F.shiftright("x", 1).alias("x"),
                 F.shiftright("y", 1).alias("y")) \
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_v").alias("sum_v"))
    a = {(r.x, r.y): (r.cnt, r.sum_v) for r in sql_cells.collect()}
    b = {(r.x, r.y): (r.cnt, r.sum_v) for r in df_cells.collect()}
    assert a == b and len(a) > 10
