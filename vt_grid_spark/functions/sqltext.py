"""The engine's one spelling of Web-Mercator tile math, as SQL text.

Each generator returns an expression both Spark SQL and DuckDB parse:
Spark operators wrap it in ``F.expr``, the DuckDB oracles splice it into
their queries and the ``vt_*`` SQL functions (:mod:`.sqlfuncs`) use it as
their bodies, so every engine evaluates the same IEEE-754 double ops.
:mod:`vt_grid_spark.tilemath` is the independent numpy anchor.

Operands are SQL text; caller-supplied column names go through
:func:`quote_ident`.  A zoom is an ``int`` (folded into literals) or SQL
text evaluated per row; :func:`_pow2` alone tells the two apart.
"""

from __future__ import annotations

import math
import re

from vt_grid_spark.tilemath import MERCATOR_MAX_LAT


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for Spark SQL text.  The whole name is
    one column, even with hyphens or spaces; unlike ``F.col``, a dot does
    not start a nested-field path."""
    return "`" + name.replace("`", "``") + "`"


def quote_str(s: str) -> str:
    """String literal read as ``s`` by DuckDB and by Spark under either
    ``spark.sql.parser.escapedStringLiterals``.  A quote or backslash is
    never written between quotes (Spark reads ``\\`` as an escape only with
    that conf off, and keeps ``''`` doubled with it on); each is spliced in
    as ``chr(39)`` / ``chr(92)``."""
    parts = [f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'"
             for p in re.split(r"(['\\])", s) if p] or ["''"]
    return parts[0] if len(parts) == 1 else "(" + " || ".join(parts) + ")"


def _pow2(z: int | str) -> str:
    """2^z as a SQL double: a literal for an int zoom, else POWER(2.0, z)
    (exact for integer z in both engines)."""
    return repr(float(1 << z)) if isinstance(z, int) else f"POWER(2.0, {z})"


def _tile_index(v: str, z: int | str) -> str:
    """floor(v) clamped to [0, 2^z - 1], as BIGINT."""
    return (f"CAST(LEAST(GREATEST(FLOOR({v}), 0), "
            f"CAST({_pow2(z)} AS BIGINT) - 1) AS BIGINT)")


def tile_x_sql(lon: str, z: int | str) -> str:
    """floor(2^z * (lon/360 + 0.5)) mod 2^z, clamped (tilebelt.pointToTile)."""
    z2 = _pow2(z)
    fx = f"(({z2} * (({lon})/360.0 + 0.5)) % {z2})"
    fx = f"(CASE WHEN {fx} < 0 THEN {fx} + {z2} ELSE {fx} END)"
    return _tile_index(fx, z)


def tile_y_sql(lat: str, z: int | str) -> str:
    """floor(2^z * (0.5 - 0.25 * ln((1 + sin)/(1 - sin)) / pi)), clamped.
    lat is first clamped to the Mercator limit as sign(lat) * min(|lat|,
    limit), so a pole lands in the edge row instead of hitting 1/0 or
    ln(0); lat inside the limit (or NULL) passes through unchanged."""
    lat = f"(SIGN({lat}) * LEAST(ABS({lat}), {MERCATOR_MAX_LAT:.16E}))"
    s = f"SIN(RADIANS({lat}))"
    fy = f"({_pow2(z)} * (0.5 - 0.25 * LN((1.0 + {s}) / (1.0 - {s})) / PI()))"
    return _tile_index(fy, z)


def tile_lon_sql(x: str, z: int | str) -> str:
    """West edge longitude of tile column x."""
    return f"(CAST({x} AS DOUBLE) / {_pow2(z)} * 360.0 - 180.0)"


def tile_lat_sql(y: str, z: int | str) -> str:
    """North edge latitude of tile row y: atan(sinh(n)) in degrees."""
    n = f"({math.pi} - {2.0 * math.pi} * CAST({y} AS DOUBLE) / {_pow2(z)})"
    return f"DEGREES(ATAN(0.5 * (EXP({n}) - EXP(-{n}))))"


def quadkey_sql(x: str, y: str, z: int) -> str:
    """Quadkey of tile (x, y), unrolled per level: digit k = bit (z-k) of x
    + 2 * bit (z-k) of y (tilebelt.tileToQuadkey)."""
    if z == 0:
        return "''"
    return " || ".join(
        f"CAST(((({x}) >> {s}) & 1) + 2 * ((({y}) >> {s}) & 1) AS STRING)"
        for s in range(z - 1, -1, -1))


def morton_sql(x: str, y: str) -> str:
    """Z-order (Morton) code: x bits on even positions, y bits on odd.  The
    clustering key of ``TableIO.write_level(cluster=True)``; exact for
    x, y < 2^31."""
    def spread(v: str) -> str:  # bit i -> bit 2i ("Bit Twiddling Hacks")
        for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                            (1, 0x5555555555555555)):
            v = f"(({v} | ({v} << {shift})) & {mask})"
        return v
    return (f"({spread(f'CAST({x} AS BIGINT)')}"
            f" | ({spread(f'CAST({y} AS BIGINT)')} << 1))")
