"""GeoJSON export view — the analytics-relevant part of the reference's
NDJSON sink (/root/reference/lib/aggregate.js:57-60: one line-delimited
GeoJSON Feature per cell, properties = aggregates + layer + _quadKey).

The engine never stores geometry; this view derives the cell polygon from
(x, y, zoom) at export time and serializes with ``to_json`` — all JVM-side.
Write with ``df.write.text`` for literal NDJSON files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vt_grid_spark.functions import sqltext as sq


def geojson_view(cells: DataFrame, z: int, properties: list[str],
                 layer: str = "layer") -> DataFrame:
    """One ``feature`` JSON string column per cell row.

    Ring winding matches tilebelt.tileToGeoJSON ([w,s] -> [w,n] -> [e,n] ->
    [e,s] -> [w,s], /root/reference/lib/aggregate-cells.js:93); union-array
    properties serialize as JSON strings like the reference's
    ``"FID": "[59, 707, 1002]"`` (README.md:154) by virtue of to_json.
    """
    w = F.expr(sq.tile_lon_sql("x", z))
    e = F.expr(sq.tile_lon_sql("(x + 1)", z))
    s = F.expr(sq.tile_lat_sql("(y + 1)", z))
    n = F.expr(sq.tile_lat_sql("y", z))
    ring = F.array(
        F.array(w, s), F.array(w, n), F.array(e, n), F.array(e, s), F.array(w, s)
    )
    props = F.struct(
        *[F.col(p) for p in properties],
        F.lit(layer).alias("layer"),
        F.col("quadkey").alias("_quadKey"),
    )
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(F.lit("Polygon").alias("type"),
                 F.array(ring).alias("coordinates")).alias("geometry"),
        props.alias("properties"),
    )
    return cells.select(F.to_json(feature).alias("feature"))
