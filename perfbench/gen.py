"""Seeded Common-Crawl-like input tables for the benchmark workloads.

Every table is a function of (shape, seed) alone: the same seed gives
byte-identical parquet files.  The engine only ever sees the written
parquet; the generator also returns the ground truth the output checks
need (point coordinates, ``v`` values, ids), computed here with numpy.

Page rows are ``(url, text, lang)``.  ``text`` carries the point as
`` geo:<lat_u6>,<lon_u6>`` integer microdegrees; some rows carry no token
and some a second one (the engine keeps the first), as in the engine's own
corpus generator.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "pt", "zh", "ja", "ru", "ar", "hi"]

# z8 tile (75, 96) around New York: the hot cluster of the engine's corpus
HOT_Z8 = (-74_500_000, -73_200_000, 40_460_000, 40_960_000)  # lon0, lon1, lat0, lat1 (u6)
# one z16 cell inside it (x=19298, y=24636), shrunk by a margin so
# rounding of the tile edges can never move a point out of the cell
HOT_Z16 = (-73_992_800, -73_987_500, 40_726_600, 40_730_500)


@dataclass(frozen=True)
class PageShape:
    """Fixed per-workload shape of a pages table."""

    n: int                 # pages
    hot_frac: float        # share of pages inside the hot box
    hot_box: tuple         # (lon0, lon1, lat0, lat1) microdegrees
    nogeo_frac: float = 0.05
    twogeo_frac: float = 0.01
    # (z, x0, y0, side): place the non-hot points on a jittered grid, one
    # per zoom-z tile of the side x side block at (x0, y0), instead of
    # uniformly over the world
    grid: tuple | None = None


@dataclass
class Pages:
    """A generated pages table plus the ground truth of its geo points."""

    table: pa.Table
    lon: np.ndarray        # per geo point, float64 degrees (first token)
    lat: np.ndarray
    v: np.ndarray          # len(text) of the page the point came from
    url: pa.Array          # point ids
    lang: np.ndarray       # index into LANGS

    @property
    def n_points(self) -> int:
        return int(self.lon.size)


def _uniform_u6(rng, n):
    lon = rng.integers(-180_000_000, 180_000_000, n)
    lat = rng.integers(-85_000_000, 85_000_001, n)
    return lon, lat


def _box_u6(rng, n, box):
    lon0, lon1, lat0, lat1 = box
    return rng.integers(lon0, lon1, n), rng.integers(lat0, lat1, n)


def _tile_lat(y, z):
    n = np.pi - 2.0 * np.pi * y / float(1 << z)
    return np.degrees(np.arctan(np.sinh(n)))


def _grid_u6(rng, n, grid):
    """n points in distinct tiles of the grid block, each at a random
    position inside its tile, 10 microdegrees clear of the tile edges."""
    z, x0, y0, side = grid
    if n > side * side:
        raise ValueError(f"{n} grid points do not fit a {side}x{side} block")
    cell = rng.permutation(side * side)[:n]
    x, y = x0 + cell % side, y0 + cell // side
    w = np.ceil((x / float(1 << z) * 360.0 - 180.0) * 1e6) + 10
    e = np.floor(((x + 1) / float(1 << z) * 360.0 - 180.0) * 1e6) - 10
    s = np.ceil(_tile_lat(y + 1, z) * 1e6) + 10
    nn = np.floor(_tile_lat(y, z) * 1e6) - 10
    lon = w + np.floor(rng.random(n) * (e - w))
    lat = s + np.floor(rng.random(n) * (nn - s))
    return lon.astype(np.int64), lat.astype(np.int64)


def _geo_token(lat_u6, lon_u6):
    return pc.binary_join_element_wise(
        " geo:", pc.cast(pa.array(lat_u6), pa.string()), ",",
        pc.cast(pa.array(lon_u6), pa.string()), "")


def make_pages(shape: PageShape, seed: int, tag: str = "p") -> Pages:
    """One pages table.  ``tag`` namespaces the urls so tables generated
    for different purposes (base, deltas) never share an id."""
    rng = np.random.default_rng(seed)
    n = shape.n
    ids = np.arange(n, dtype=np.int64)
    # exact class sizes (random positions): the uniform point count, and
    # with it every level's cell count, is the same for every seed
    n_nogeo, n_hot = round(n * shape.nogeo_frac), round(n * shape.hot_frac)
    kind = rng.permutation(n)
    nogeo = kind < n_nogeo
    hot = (kind >= n_nogeo) & (kind < n_nogeo + n_hot)
    two = (rng.permutation(n) < round(n * shape.twogeo_frac)) & ~nogeo

    lon_u6, lat_u6 = _uniform_u6(rng, n)
    if shape.grid is not None:
        rest = kind >= n_nogeo + n_hot
        lon_u6[rest], lat_u6[rest] = _grid_u6(rng, int(rest.sum()), shape.grid)
    h_lon, h_lat = _box_u6(rng, int(hot.sum()), shape.hot_box)
    lon_u6[hot] = h_lon
    lat_u6[hot] = h_lat
    lon2_u6, lat2_u6 = _uniform_u6(rng, n)

    empty = pa.scalar("", pa.string())
    tok1 = pc.if_else(pa.array(~nogeo), _geo_token(lat_u6, lon_u6), empty)
    tok2 = pc.if_else(pa.array(two), _geo_token(lat2_u6, lon2_u6), empty)
    sid = pc.cast(pa.array(ids), pa.string())
    text = pc.binary_join_element_wise(
        "page ", sid, " lorem ipsum dolor w",
        pc.cast(pa.array(ids % 7), pa.string()), tok1, tok2, " tail",
        pc.cast(pa.array(ids % 13), pa.string()), "")
    url = pc.binary_join_element_wise(
        "https://site", pc.cast(pa.array(ids % 1000), pa.string()),
        f".example/{tag}{seed}/", sid, "")
    lang = rng.integers(0, len(LANGS), n)
    table = pa.table({"url": url, "text": text,
                      "lang": pc.take(pa.array(LANGS), pa.array(lang))})

    geo = ~nogeo
    return Pages(
        table=table,
        lon=lon_u6[geo].astype(np.float64) / 1e6,
        lat=lat_u6[geo].astype(np.float64) / 1e6,
        v=pc.utf8_length(text).to_numpy()[geo].astype(np.float64),
        url=url.filter(pa.array(geo)),
        lang=lang[geo],
    )


def write_table(table: pa.Table, path: str, files: int = 8) -> int:
    """Write ``table`` as ``files`` parquet files under ``path`` (several
    files so the scan splits across cores); returns bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    total = 0
    for i in range(files):
        name = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), name)
        total += os.path.getsize(name)
    return total


def make_queries(points: Pages, n: int, seed: int, exclude_box: tuple,
                 max_abs_lat: float = 60.0):
    """kNN queries: points sampled outside ``exclude_box`` (microdegrees)
    and below ``max_abs_lat``, then jittered, so queries are spread over
    the sparse part of the map where a few re-rings prove every answer.
    Returns (table(qid, lon, lat), qid, lon, lat)."""
    rng = np.random.default_rng(seed + 7919)
    lon0, lon1, lat0, lat1 = (b / 1e6 for b in exclude_box)
    outside = ~((points.lon >= lon0) & (points.lon < lon1)
                & (points.lat >= lat0) & (points.lat < lat1))
    outside &= np.abs(points.lat) <= max_abs_lat
    pick = rng.choice(np.flatnonzero(outside), n, replace=False)
    lon = points.lon[pick] + rng.uniform(-0.01, 0.01, n)
    lat = np.clip(points.lat[pick] + rng.uniform(-0.01, 0.01, n), -85.0, 85.0)
    qid = np.arange(n, dtype=np.int64)
    return pa.table({"qid": qid, "lon": lon, "lat": lat}), qid, lon, lat
