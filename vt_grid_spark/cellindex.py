"""Cell-index contract: point->cell, parent, children, neighbors.

SURVEY.md scopes the north rule's "H3/S2 index" to this contract: the
quadkey hierarchy plays the H3/S2 role, and the encoder sits behind an
interface so another cell system can slot in.  This module IS that
interface, with two engines:

  * :class:`QuadkeyIndex` — the engine's native square hierarchy
    (tilemath / operators.encode are the implementation; this class is
    the contract-shaped front door).
  * :class:`HexIndex` — a true hexagonal analytics grid (the H3 use
    case: unbiased neighborhoods, 6 equidistant neighbors), axial
    coordinates + cube rounding computed entirely in JVM expressions —
    no UDF, whole-stage-codegen friendly, and mirrored term-for-term in
    DuckDB SQL for the oracle (``hex_q_sql`` / ``hex_r_sql``).

``cell`` takes the lon/lat column names (like ``encode_points``); every
other method maps a Column to a Column over a packed 64-bit cell id, so
indexes compose with joins/groupBys exactly like the quadkey
(x, y) keys do — integer shuffle keys, never strings.

Rounding note: cube rounding needs round-half-up on doubles; both sides
compute it as ``floor(v + 0.5)`` so Spark and DuckDB agree bit-for-bit
(library ``round()`` tie semantics differ across engines).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vt_grid_spark.functions import sqltext as sq

_OFF = 1 << 30  # axial coords are offset-shifted to stay non-negative


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

class CellIndex:
    """point->cell id (from lon/lat column names); parent, children,
    neighbors (Column->Column)."""

    def cell(self, lon: str, lat: str) -> Column:
        raise NotImplementedError

    def parent(self, cell: Column) -> Column:
        raise NotImplementedError

    def children(self, cell: Column) -> Column:  # array<bigint>
        raise NotImplementedError

    def neighbors(self, cell: Column) -> Column:  # array<bigint>
        raise NotImplementedError

    def encode(self, df: DataFrame, lon: str = "lon", lat: str = "lat",
               out: str = "cell") -> DataFrame:
        return df.withColumn(out, self.cell(lon, lat))


# ---------------------------------------------------------------------------
# quadkey engine (native hierarchy) behind the same contract
# ---------------------------------------------------------------------------

class QuadkeyIndex(CellIndex):
    """Fixed-zoom square cells; id packs (x, y) as x*2^z + y.  Parent /
    children move one zoom level (the quadkey prefix relation); neighbors
    are the 8-neighborhood clamped to the world (no wrap in y, wrap in x)."""

    def __init__(self, z: int):
        self.z = z

    def _pack(self, x: Column, y: Column, z: int) -> Column:
        return (x.cast("long") * F.lit(1 << z) + y.cast("long")).cast("long")

    def cell(self, lon: str, lat: str) -> Column:
        return self._pack(F.expr(sq.tile_x_sql(sq.quote_ident(lon), self.z)),
                          F.expr(sq.tile_y_sql(sq.quote_ident(lat), self.z)),
                          self.z)

    def xy(self, cell: Column) -> tuple[Column, Column]:
        # exact integer bit math: cell = x*2^z + y packs losslessly for
        # z <= 31 per axis, but (cell / n) goes through DOUBLE division
        # and silently drops low bits once cell > 2^53 (z >= 27) —
        # shiftright keeps the decode exact at every zoom, mirroring the
        # same fix in HexIndex.qr.
        return (F.shiftright(cell, self.z),
                F.pmod(cell, F.lit(1 << self.z)).cast("long"))

    def parent(self, cell: Column) -> Column:
        x, y = self.xy(cell)
        return self._pack(F.shiftright(x, 1), F.shiftright(y, 1), self.z - 1)

    def children(self, cell: Column) -> Column:
        x, y = self.xy(cell)
        cz = self.z + 1
        return F.array(*[
            self._pack(F.shiftleft(x, 1) + dx, F.shiftleft(y, 1) + dy, cz)
            for dx in (0, 1) for dy in (0, 1)])

    def neighbors(self, cell: Column) -> Column:
        x, y = self.xy(cell)
        n = 1 << self.z
        out = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                nx = F.pmod(x + dx, F.lit(n))  # x wraps at the antimeridian
                ny = y + dy
                out.append(F.when((ny >= 0) & (ny < n),
                                  self._pack(nx, ny, self.z)))
        return F.filter(F.array(*out), lambda c: c.isNotNull())


# ---------------------------------------------------------------------------
# hexagonal engine
# ---------------------------------------------------------------------------

def _half_up(v: Column) -> Column:
    return F.floor(v + F.lit(0.5)).cast("double")


def _cube_round(qf: Column, rf: Column) -> tuple[Column, Column]:
    """Axial fractional (q, r) -> nearest hex center, via cube rounding."""
    sf = -qf - rf
    rq, rr, rs = _half_up(qf), _half_up(rf), _half_up(sf)
    dq, dr, ds = F.abs(rq - qf), F.abs(rr - rf), F.abs(rs - sf)
    # correct the largest-delta coordinate (cube x=q, y=s, z=r): q when dq
    # is strictly largest; else s when ds > dr (discarded); else r
    q_branch = (dq > ds) & (dq > dr)
    q = F.when(q_branch, -rr - rs).otherwise(rq)
    r = F.when(~q_branch & (dr >= ds), -rq - rs).otherwise(rr)
    return q.cast("long"), r.cast("long")


class HexIndex(CellIndex):
    """Flat-top hexagons of circumradius ``size`` degrees on the
    equirectangular (lon, lat) plane — an analytics binning grid, the
    role H3 plays in aggregation pipelines.  id packs offset-shifted
    axial (q, r) into one bigint: (q+2^30)*2^32 + (r+2^30).

    Parent/children use nearest-center containment against a grid
    ``aperture``x coarser (like H3's aperture-7, containment is
    approximate at hex boundaries but PARTITIONING IS EXACT: every fine
    hex has exactly one parent, and children(parent) inverts it).
    """

    def __init__(self, size: float, aperture: int = 3):
        self.size = float(size)
        self.aperture = int(aperture)

    # axial transforms (flat-top): q = (2/3 x)/s ; r = (-1/3 x + sqrt3/3 y)/s
    def _frac(self, lon: Column, lat: Column, size: float):
        qf = (F.lit(2.0 / 3.0) * lon) / F.lit(size)
        rf = (F.lit(-1.0 / 3.0) * lon + F.lit(math.sqrt(3.0) / 3.0) * lat) / F.lit(size)
        return qf, rf

    def _center(self, q: Column, r: Column, size: float):
        x = F.lit(size) * (F.lit(1.5) * q.cast("double"))
        y = F.lit(size) * (F.lit(math.sqrt(3.0) / 2.0) * q.cast("double")
                           + F.lit(math.sqrt(3.0)) * r.cast("double"))
        return x, y

    @staticmethod
    def _pack(q: Column, r: Column) -> Column:
        return ((q + F.lit(_OFF)).cast("long") * F.lit(1 << 32)
                + (r + F.lit(_OFF)).cast("long"))

    @staticmethod
    def qr(cell: Column) -> tuple[Column, Column]:
        # exact integer bit math (shiftright, not double division — the
        # double path can carry a rounding of r's high bits into q near
        # |q+_OFF| ~ 2^31), matching hex_cell_np's (ids >> 32) exactly
        q = F.shiftright(cell, 32) - F.lit(_OFF)
        r = F.pmod(cell, F.lit(1 << 32)).cast("long") - F.lit(_OFF)
        return q, r

    def _cell_at(self, lon: Column, lat: Column, size: float) -> Column:
        q, r = _cube_round(*self._frac(lon, lat, size))
        return self._pack(q, r)

    def cell(self, lon: str, lat: str) -> Column:
        return self._cell_at(F.col(lon), F.col(lat), self.size)

    def parent(self, cell: Column) -> Column:
        q, r = self.qr(cell)
        cx, cy = self._center(q, r, self.size)
        return self._cell_at(cx, cy, self.size * self.aperture)

    def children(self, cell: Column) -> Column:
        """Fine hexes whose parent is this cell: scan a bounded candidate
        disk around the coarse center (ring <= aperture+1 covers the
        containment region) and keep those that map back.  Runs as an
        Arrow-batched pandas UDF over the numpy twins — the same test as
        a Column expression is a 61-way product of deep cube-round trees
        that stalls codegen."""
        from pyspark.sql.functions import pandas_udf

        size, ap = self.size, self.aperture
        rng = ap + 1
        offs = np.array([(dq, dr) for dq in range(-rng, rng + 1)
                         for dr in range(max(-rng, -dq - rng),
                                         min(rng, -dq + rng) + 1)],
                        dtype=np.int64)

        @pandas_udf("array<long>")
        def _kids(cells: pd.Series) -> pd.Series:
            ids = cells.to_numpy(dtype=np.int64)
            q = (ids >> 32) - _OFF
            r = (ids & 0xFFFFFFFF) - _OFF
            cx, cy = _hex_center_np(q, r, size * ap)
            fq, fr = hex_cell_np(cx, cy, size)
            qc = fq[:, None] + offs[None, :, 0]
            rc = fr[:, None] + offs[None, :, 1]
            ccx, ccy = _hex_center_np(qc, rc, size)
            pq, pr = hex_cell_np(ccx, ccy, size * ap)
            keep = (pq == q[:, None]) & (pr == r[:, None])
            packed = (qc + _OFF) * (1 << 32) + (rc + _OFF)
            return pd.Series([packed[i][keep[i]].tolist()
                              for i in range(len(ids))])

        return _kids(cell)

    def neighbors(self, cell: Column) -> Column:
        q, r = self.qr(cell)
        return F.array(*[self._pack(q + dq, r + dr)
                         for dq, dr in ((1, 0), (1, -1), (0, -1),
                                        (-1, 0), (-1, 1), (0, 1))])


# ---------------------------------------------------------------------------
# numpy twins — same arithmetic, same floor(v+0.5) rounding, for
# Arrow-batched paths (children) and tests
# ---------------------------------------------------------------------------

def hex_cell_np(x, y, size: float):
    qf = (2.0 / 3.0 * x) / size
    rf = (-1.0 / 3.0 * x + math.sqrt(3.0) / 3.0 * y) / size
    sf = -qf - rf
    rq, rr, rs = np.floor(qf + 0.5), np.floor(rf + 0.5), np.floor(sf + 0.5)
    dq, dr, ds = np.abs(rq - qf), np.abs(rr - rf), np.abs(rs - sf)
    qb = (dq > ds) & (dq > dr)
    q = np.where(qb, -rr - rs, rq)
    r = np.where(~qb & (dr >= ds), -rq - rs, rr)
    return q.astype(np.int64), r.astype(np.int64)


def _hex_center_np(q, r, size: float):
    x = size * (1.5 * q.astype("float64"))
    y = size * (math.sqrt(3.0) / 2.0 * q.astype("float64")
                + math.sqrt(3.0) * r.astype("float64"))
    return x, y


# ---------------------------------------------------------------------------
# DuckDB twins (oracle SQL fragments) — term-for-term the same arithmetic
# ---------------------------------------------------------------------------

def _hex_qr_sql(lon: str, lat: str, size: float) -> tuple[str, str]:
    s3 = math.sqrt(3.0) / 3.0
    qf = f"(((2.0/3.0) * {lon}) / {size!r})"
    rf = f"(((-1.0/3.0) * {lon} + {s3!r} * {lat}) / {size!r})"
    sfr = f"(-{qf} - {rf})"
    rq = f"CAST(floor({qf} + 0.5) AS DOUBLE)"
    rr = f"CAST(floor({rf} + 0.5) AS DOUBLE)"
    rs = f"CAST(floor({sfr} + 0.5) AS DOUBLE)"
    dq = f"abs({rq} - {qf})"
    dr = f"abs({rr} - {rf})"
    ds = f"abs({rs} - {sfr})"
    big_q = f"({dq} > {ds} AND {dq} > {dr})"
    q = f"CAST(CASE WHEN {big_q} THEN -{rr} - {rs} ELSE {rq} END AS BIGINT)"
    r = (f"CAST(CASE WHEN NOT {big_q} AND {dr} >= {ds} "
         f"THEN -{rq} - {rs} ELSE {rr} END AS BIGINT)")
    return q, r


def hex_q_sql(lon: str, lat: str, size: float) -> str:
    return _hex_qr_sql(lon, lat, size)[0]


def hex_r_sql(lon: str, lat: str, size: float) -> str:
    return _hex_qr_sql(lon, lat, size)[1]
