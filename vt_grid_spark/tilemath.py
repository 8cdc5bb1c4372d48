"""Pure-numpy Web-Mercator tile math — the engine's determinism anchor.

Reproduces the quadkey/tile semantics the reference gets from ``tilebelt``
(used at /root/reference/lib/aggregate-cells.js:31-32,44,93,102 and
/root/reference/lib/degenerate.js:11).  Formulas follow the public
slippy-map spec so Python/numpy, Spark SQL expressions and the DuckDB
oracles all compute bit-identical IEEE-754 doubles:

  x = 2^z * (lon/360 + 0.5)
  y = 2^z * (0.5 - 0.25 * ln((1+sin(lat))/(1-sin(lat))) / pi)
  lon(x,z) = x/2^z*360 - 180
  lat(y,z) = atan(sinh(pi*(1 - 2*y/2^z))) * 180/pi

Everything is vectorized; scalar helpers are thin wrappers.
No Spark imports here — this module is shared by the engine, the pandas
UDF kernels, tests and fixture generators.
"""

from __future__ import annotations

import math

import numpy as np

D2R = math.pi / 180.0
R2D = 180.0 / math.pi

# Web-Mercator singularity: tiles only cover |lat| < ~85.0511
MERCATOR_MAX_LAT = 85.05112877980659


# ---------------------------------------------------------------------------
# point -> tile
# ---------------------------------------------------------------------------

def point_to_tile_fraction(lon, lat, z: int):
    """Fractional tile coordinates (vectorized).

    Matches tilebelt.pointToTileFraction: x wraps modulo 2^z.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    z2 = float(1 << z)
    s = np.sin(lat * D2R)
    x = z2 * (lon / 360.0 + 0.5)
    y = z2 * (0.5 - 0.25 * np.log((1.0 + s) / (1.0 - s)) / math.pi)
    x = np.mod(x, z2)
    return x, y


def point_to_tile(lon, lat, z: int):
    """Integer (x, y) tile containing each point, clamped to [0, 2^z-1]."""
    fx, fy = point_to_tile_fraction(lon, lat, z)
    n = (1 << z) - 1
    x = np.clip(np.floor(fx), 0, n).astype(np.int64)
    y = np.clip(np.floor(fy), 0, n).astype(np.int64)
    return x, y


# ---------------------------------------------------------------------------
# tile -> geometry
# ---------------------------------------------------------------------------

def tile_to_lon(x, z: int):
    x = np.asarray(x, dtype=np.float64)
    return x / float(1 << z) * 360.0 - 180.0


def tile_to_lat(y, z: int):
    y = np.asarray(y, dtype=np.float64)
    n = math.pi - 2.0 * math.pi * y / float(1 << z)
    return R2D * np.arctan(0.5 * (np.exp(n) - np.exp(-n)))


def tile_to_bbox(x, y, z: int):
    """(west, south, east, north) of a tile — tilebelt.tileToBBOX parity
    (consumed by the degenerate filter, /root/reference/lib/degenerate.js:11).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    return (
        tile_to_lon(x, z),
        tile_to_lat(y + 1.0, z),
        tile_to_lon(x + 1.0, z),
        tile_to_lat(y, z),
    )


def tile_to_polygon(x: int, y: int, z: int) -> list:
    """GeoJSON Polygon coordinates of the tile bbox, ring closed,
    tilebelt.tileToGeoJSON winding (/root/reference/lib/aggregate-cells.js:93).
    """
    w, s, e, n = tile_to_bbox(x, y, z)
    w, s, e, n = float(w), float(s), float(e), float(n)
    return [[[w, s], [w, n], [e, n], [e, s], [w, s]]]


# ---------------------------------------------------------------------------
# quadkeys
# ---------------------------------------------------------------------------

def morton(x, y):
    """Z-order code: x bits on even positions, y bits on odd — the numpy
    twin of ``sqltext.morton_sql``; exact for x, y < 2^31."""
    def spread(v):  # bit i -> bit 2i ("Bit Twiddling Hacks")
        v = np.asarray(v, dtype=np.int64).astype(np.uint64)
        for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                            (1, 0x5555555555555555)):
            v = (v | (v << np.uint64(shift))) & np.uint64(mask)
        return v
    return spread(x) | (spread(y) << np.uint64(1))


def quadkey_chars(x, y, z: int):
    """Quadkeys as an (..., z) uint8 array of ASCII digits.  Digit k
    (k=1..z) = bit (z-k) of x + 2*bit of y, i.e. the base-4 digits of the
    Morton code, most significant first — so a parent's key is the
    child's minus its last digit, held in integers."""
    m = morton(x, y)
    out = np.empty(m.shape + (z,), dtype=np.uint8)
    for k in range(z):
        out[..., k] = (m >> np.uint64(2 * (z - 1 - k))) & np.uint64(3)
    out += ord("0")
    return out


def tile_to_quadkey(x, y, z: int):
    """Vectorized quadkey strings (a ``str`` for scalar input).

    Parity with tilebelt.tileToQuadkey
    (/root/reference/lib/aggregate-cells.js:32,44,102).
    """
    x = np.asarray(x, dtype=np.int64)
    if z == 0:
        return np.full(x.shape if x.shape else (), "", dtype=object)
    chars = quadkey_chars(x, y, z)
    if not x.shape:
        return chars.tobytes().decode("ascii")
    keys = chars.reshape(-1, z).view(f"S{z}").ravel().astype(f"U{z}")
    return keys.astype(object).reshape(x.shape)


def quadkey_to_tile(qk: str):
    """(x, y, z) from quadkey string — tilebelt.quadkeyToTile parity."""
    x = y = 0
    z = len(qk)
    for c in qk:
        d = ord(c) - ord("0")
        x = (x << 1) | (d & 1)
        y = (y << 1) | (d >> 1)
    return x, y, z


def parent(x: int, y: int, z: int):
    """Direct parent tile — ``quadkey[:-1]`` in key space
    (/root/reference/lib/aggregate-cells.js:31: getParent∘quadkeyToTile)."""
    return x >> 1, y >> 1, z - 1


def children(x: int, y: int, z: int):
    """The 4 direct children (tilebelt.getChildren order: nw, ne, se, sw
    in x,y space: (2x,2y),(2x+1,2y),(2x+1,2y+1),(2x,2y+1))."""
    return [
        (2 * x, 2 * y, z + 1),
        (2 * x + 1, 2 * y, z + 1),
        (2 * x + 1, 2 * y + 1, z + 1),
        (2 * x, 2 * y + 1, z + 1),
    ]


def progeny(x: int, y: int, z: int, target_z: int):
    """All 4^(target_z - z) descendants at target_z, vectorized.

    Replaces the BFS at /root/reference/lib/tile-util.js:39-55 with a
    meshgrid: descendants are the dense square
    [x<<d, (x+1)<<d) × [y<<d, (y+1)<<d).
    Returns (xs, ys) int64 arrays.
    """
    d = target_z - z
    if d < 0:
        raise ValueError("target_z must be >= z")
    span = 1 << d
    dx = np.arange(span, dtype=np.int64)
    xs = (np.int64(x) << d) + dx
    ys = (np.int64(y) << d) + dx
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return gx.ravel(), gy.ravel()


def ancestors(x: int, y: int, z: int, minzoom: int = 0):
    """Ancestor chain down to minzoom (/root/reference/lib/tile-util.js:15-33)."""
    out = []
    while z - 1 >= minzoom:
        x, y, z = parent(x, y, z)
        out.append((x, y, z))
    return out


def neighbors(x: int, y: int, z: int, ring: int = 1):
    """Square ring neighborhood (for kNN cell lookup): all tiles with
    Chebyshev distance <= ring, x wrapping, y clamped."""
    n = 1 << z
    out = []
    for dy in range(-ring, ring + 1):
        yy = y + dy
        if yy < 0 or yy >= n:
            continue
        for dx in range(-ring, ring + 1):
            out.append(((x + dx) % n, yy, z))
    return out


def bbox_to_tile_range(bbox, z: int):
    """Inclusive (x0, x1, y0, y1) tile range covering bbox=(w, s, e, n) at
    zoom z — the reference's bbox tile-cover restriction semantics
    (/root/reference/index.js:113-119: the cover is cell-granular, every
    tile INTERSECTING the bbox is in).  No antimeridian wrap: w <= e."""
    w, s, e, n = (float(v) for v in bbox)
    if w > e or s > n:
        raise ValueError("bbox must be (w, s, e, n) with w <= e and s <= n "
                         "(antimeridian-wrapping boxes are not supported)")
    nmax = (1 << z) - 1
    x0 = 0 if w <= -180.0 else int(point_to_tile(w, 0.0, z)[0])
    x1 = nmax if e >= 180.0 else int(point_to_tile(e, 0.0, z)[0])
    y0 = int(point_to_tile(0.0, n, z)[1])
    y1 = int(point_to_tile(0.0, s, z)[1])
    return x0, x1, y0, y1


def grid_zoom(output_z: int, gridsize: int) -> int:
    """Cell zoom for an output tile level: gridsize = cells per tile = 4^d.

    Encodes the reference's bookkeeping (worker depth
    ``_depth = log2(gridsize)/2 - 1`` relative to the mapper tile one zoom
    above the output level, /root/reference/lib/aggregate.js:38-41,53) as
    the direct relation gridZoom = output_z + log4(gridsize).
    """
    d = math.log2(gridsize) / 2.0
    if d != int(d):
        raise ValueError("gridsize must be a power of 4 (reference lib/aggregate.js:39-41)")
    return output_z + int(d)
