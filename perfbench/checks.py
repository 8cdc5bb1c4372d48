"""Output checks, run outside the timed region.

Each check reads what the engine wrote (level parquet files, the kNN
result) with pyarrow and recomputes the expected values with numpy alone:
no engine code is used to check the engine.  A check returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import LANGS


def _quadkey_digits(col, n: int, z: int) -> np.ndarray | None:
    """A quadkey string column as an (n, z) uint8 matrix of its characters,
    or None when any key is not exactly z characters long."""
    col = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    if col.null_count or (n and pc.min_max(pc.utf8_length(col)).as_py() != {"min": z, "max": z}):
        return None
    if n == 0 or z == 0:
        return np.zeros((n, z), dtype=np.uint8)
    offsets = np.frombuffer(col.buffers()[1], dtype=np.int32)[col.offset:col.offset + 1]
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8, count=n * z, offset=int(offsets[0]))
    return data.reshape(n, z)


def read_level(root: str, zoom: int) -> dict:
    """One written level as numpy columns sorted by (x, y): the quadkey as
    an (n, zoom) matrix of digit characters, ``langs`` as a bitmask over
    LANGS when the level carries it."""
    tbl = pq.read_table(os.path.join(root, f"zoom={zoom}"))
    x = tbl.column("x").to_numpy().astype(np.int64)
    y = tbl.column("y").to_numpy().astype(np.int64)
    order = np.lexsort((y, x))
    out = {"x": x[order], "y": y[order],
           "cnt": tbl.column("cnt").to_numpy().astype(np.int64)[order],
           "sum_v": tbl.column("sum_v").to_numpy().astype(np.float64)[order]}
    qk = _quadkey_digits(tbl.column("quadkey"), tbl.num_rows, zoom)
    out["quadkey"] = None if qk is None else qk[order]
    if "langs" in tbl.column_names:
        col = tbl.column("langs").combine_chunks()
        codes = pc.index_in(pc.list_flatten(col), value_set=pa.array(LANGS)).to_numpy()
        bits = np.left_shift(1, codes.astype(np.int64)).astype(np.float64)
        mask = np.bincount(pc.list_parent_indices(col).to_numpy(), weights=bits,
                           minlength=tbl.num_rows)
        out["langs"] = mask.astype(np.int64)[order]
    return out


def quadkeys(x: np.ndarray, y: np.ndarray, z: int) -> np.ndarray:
    """Quadkeys of (x, y) at zoom z as an (n, z) matrix of digit
    characters: digit k is bit (z-1-k) of x plus twice that bit of y."""
    shifts = np.arange(z - 1, -1, -1, dtype=np.int64)
    return (((x[:, None] >> shifts) & 1) + 2 * ((y[:, None] >> shifts) & 1)
            + ord("0")).astype(np.uint8)


def _rollup(child: dict, keys: list[str]) -> dict:
    """Parent level recomputed from a child level: group by (x>>1, y>>1),
    sum the counts and sums, OR the language bitmasks."""
    px, py = child["x"] >> 1, child["y"] >> 1
    order = np.lexsort((py, px))
    px, py = px[order], py[order]
    start = np.flatnonzero(np.r_[True, (px[1:] != px[:-1]) | (py[1:] != py[:-1])])
    out = {"x": px[start], "y": py[start]}
    for k in keys:
        col = child[k][order]
        red = np.bitwise_or if k == "langs" else np.add
        out[k] = red.reduceat(col, start)
    return out


def check_pyramid(root: str, zooms: list[int], n_points: int, sum_v: float,
                  langs_mask: int | None = None) -> list[str]:
    """Conservation of cnt/sum_v against the ground truth at every level,
    parent/child consistency between adjacent levels, and every quadkey
    recomputed from (x, y).  ``zooms`` run from the base level down."""
    problems: list[str] = []
    prev = None
    for z in zooms:
        try:
            lvl = read_level(root, z)
        except (OSError, KeyError) as e:
            return problems + [f"z{z}: unreadable level ({e})"]
        if int(lvl["cnt"].sum()) != n_points:
            problems.append(f"z{z}: sum(cnt)={int(lvl['cnt'].sum())} != {n_points}")
        if float(lvl["sum_v"].sum()) != sum_v:
            problems.append(f"z{z}: sum(sum_v)={float(lvl['sum_v'].sum())} != {sum_v}")
        if lvl["x"].size and np.any((lvl["x"][1:] == lvl["x"][:-1]) & (lvl["y"][1:] == lvl["y"][:-1])):
            problems.append(f"z{z}: duplicate (x, y) cells")
        if lvl["quadkey"] is None or not np.array_equal(lvl["quadkey"],
                                                        quadkeys(lvl["x"], lvl["y"], z)):
            problems.append(f"z{z}: quadkey differs from the one recomputed from (x, y)")
        if prev is not None:
            keys = [k for k in ("cnt", "sum_v", "langs") if k in prev and k in lvl]
            exp = _rollup(prev, keys)
            for k in ["x", "y"] + keys:
                if not np.array_equal(exp[k], lvl[k]):
                    problems.append(f"z{z}: {k} differs from the rollup of z{z + 1}")
                    break
        if langs_mask is not None and "langs" in lvl:
            if int(np.bitwise_or.reduce(lvl["langs"])) != langs_mask:
                problems.append(f"z{z}: union of langs differs from the input's")
        prev = lvl
    return problems


def level_digests(root: str, zooms: list[int]) -> dict[int, str]:
    """sha256 per level over its cells sorted by (x, y)."""
    out = {}
    for z in zooms:
        lvl = read_level(root, z)
        h = hashlib.sha256()
        for k in sorted(lvl):
            col = lvl[k]
            h.update(k.encode())
            h.update(b"-" if col is None else np.ascontiguousarray(col).tobytes())
        out[z] = h.hexdigest()
    return out


def brute_knn(plon, plat, pid, qlon, qlat, k: int):
    """Exact top-k by the squared-degree metric (dlat^2 + dlon^2, the
    operator's documented metric), ties broken by point id."""
    dlat = qlat - plat
    dlon = qlon - plon
    d2 = dlat * dlat + dlon * dlon
    cut = np.partition(d2, k - 1)[k - 1]
    cand = np.flatnonzero(d2 <= cut)
    order = sorted(cand, key=lambda i: (d2[i], pid[i]))[:k]
    return [pid[i] for i in order], d2[order]


def check_knn(result_dir: str, points, qid, qlon, qlat, k: int,
              sample: np.ndarray) -> list[str]:
    """Every query has ranks 1..k; sampled queries equal the brute force."""
    tbl = pq.read_table(result_dir)
    rq = tbl.column("qid").to_numpy()
    problems = []
    if tbl.num_rows != qid.size * k:
        problems.append(f"{tbl.num_rows} result rows, expected {qid.size * k}")
    ranks = np.bincount(rq, minlength=qid.size)
    if np.any(ranks != k):
        problems.append(f"{int(np.sum(ranks != k))} queries without exactly {k} rows")
    rank = tbl.column("rank").to_numpy()
    url = np.asarray(tbl.column("url").to_pylist(), dtype=object)
    d2 = tbl.column("d2").to_numpy()
    pid = np.asarray(points.url.to_pylist(), dtype=object)
    for q in sample:
        rows = np.flatnonzero(rq == q)
        rows = rows[np.argsort(rank[rows])]
        exp_ids, exp_d2 = brute_knn(points.lon, points.lat, pid,
                                    qlon[q], qlat[q], k)
        if list(url[rows]) != exp_ids or not np.array_equal(d2[rows], exp_d2):
            problems.append(f"query {int(q)}: neighbours differ from brute force")
    return problems


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
