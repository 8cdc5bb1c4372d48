"""vt_grid_spark — a from-scratch PySpark-native tile-pyramid analytics
engine with the query semantics of developmentseed/vt-grid (reference at
/root/reference, studied not ported — see SURVEY.md).

Layout:
  tilemath    — pure-numpy tile/quadkey math (determinism anchor)
  functions   — tile math as SQL text, shared by Spark and DuckDB
  sources     — synthetic page corpus, relational loaders, table IO
  operators   — encode, rollup, pyramid driver, clip, spatial join, kNN,
                raster<->vector, dedup, similarity, text analysis
  plans       — aggregation-spec -> agg expression compiler, configs
  streaming   — structured-streaming ingestion of the events table
"""

__version__ = "0.1.0"
