"""Tile math for the JVM side.

:mod:`.sqltext` spells every Web-Mercator formula once, as SQL text that
Spark (through ``F.expr``) and the DuckDB oracles both evaluate;
:mod:`.sqlfuncs` registers the same bodies as ``vt_*`` Spark SQL
functions.  :mod:`vt_grid_spark.tilemath` is the numpy twin.
"""
