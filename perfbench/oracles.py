"""Reference answers computed without the engine's query path.

Each check returns a list of human-readable mismatches; empty means correct.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EARTH_RADIUS_M = 6371008.8  # the radius the engine's haversine uses


def ray_cast(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon test of points against one closed ring."""
    inside = np.zeros(len(lon), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        if y0 == y1:
            continue
        crosses = (y0 > lat) != (y1 > lat)
        x_at = x0 + (lat - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (lon < x_at)
    return inside


def is_box(ring: np.ndarray) -> bool:
    """True if a closed ring is an axis-aligned rectangle."""
    axis_edges = (ring[1:, 0] == ring[:-1, 0]) | (ring[1:, 1] == ring[:-1, 1])
    return len(ring) == 5 and bool(axis_edges.all()) and len(np.unique(ring, axis=0)) == 4


def polygon_members(lon: np.ndarray, lat: np.ndarray, rings: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Indices of the points inside each ring: a box test (edges included)
    where the ring is a rectangle, otherwise a ray cast over the points in
    the ring's bounding box."""
    out = {}
    for pid, ring in rings.items():
        x0, y0 = ring.min(axis=0)
        x1, y1 = ring.max(axis=0)
        idx = np.flatnonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))
        if not is_box(ring):
            idx = idx[ray_cast(lon[idx], lat[idx], ring)]
        out[pid] = idx
    return out


def polygon_counts(lon: np.ndarray, lat: np.ndarray, rings: dict[str, np.ndarray]) -> dict[str, int]:
    """Points inside each ring."""
    return {pid: len(idx) for pid, idx in polygon_members(lon, lat, rings).items()}


def compare_pairs(got: set[tuple], want: set[tuple]) -> list[str]:
    """Two sets of (row id, polygon id) pairs must be equal."""
    out = [f"{p} from the engine only" for p in sorted(got - want)[:5]]
    out += [f"{p} from the oracle only" for p in sorted(want - got)[:5]]
    if out:
        out.insert(0, f"engine {len(got)} pairs, oracle {len(want)}, differing in {len(got ^ want)}")
    return out


def compare_counts(got: dict[str, int], want: dict[str, int]) -> list[str]:
    keys = set(got) | set(want)
    return [
        f"{k}: engine {got.get(k, 0)} != oracle {want.get(k, 0)}"
        for k in sorted(keys)
        if got.get(k, 0) != want.get(k, 0)
    ]


def haversine_m(lon0: float, lat0: float, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    p0, p = np.radians(lat0), np.radians(lat)
    a = np.sin((p - p0) / 2) ** 2 + np.cos(p0) * np.cos(p) * np.sin(np.radians(lon - lon0) / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def knn_mismatches(
    got: pd.DataFrame, queries: pd.DataFrame, ids: np.ndarray, lon: np.ndarray,
    lat: np.ndarray, k: int, rtol: float = 1e-9,
) -> list[str]:
    """Brute-force haversine top-k against the engine's (query_id, image_id,
    dist, rnk) rows. Ids must match rank by rank; where two candidates are
    equally far (within ``rtol``) either order is accepted."""
    out = []
    pos = {v: i for i, v in enumerate(ids)}
    for q in queries.itertuples(index=False):
        d = haversine_m(q.lon, q.lat, lon, lat)
        order = np.lexsort((ids, d))[:k]
        g = got[got["query_id"] == q.query_id].sort_values("rnk")
        if len(g) != min(k, len(ids)):
            out.append(f"query {q.query_id}: {len(g)} rows, want {min(k, len(ids))}")
            continue
        for rank, (gid, want_i) in enumerate(zip(g["image_id"], order), start=1):
            if gid == ids[want_i]:
                continue
            gi = pos.get(gid)
            if gi is None or not np.isclose(d[gi], d[want_i], rtol=rtol, atol=0.0):
                out.append(f"query {q.query_id} rank {rank}: engine {gid} != oracle {ids[want_i]}")
                break
    return out


def tile_aggregate(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """(tile_cell, weight_sum, n) from kernel output rows."""
    rows = [f for f in frames if f is not None and len(f)]
    if not rows:
        return pd.DataFrame({"tile_cell": [], "weight_sum": [], "n": []})
    df = pd.concat(rows, ignore_index=True)
    agg = df.groupby("tile_cell").agg(weight_sum=("weight", "sum"), n=("weight", "size"))
    return agg.reset_index().sort_values("tile_cell", ignore_index=True)


def compare_tiles(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 1e-9) -> list[str]:
    got = got.sort_values("tile_cell", ignore_index=True)
    if len(got) != len(want) or not np.array_equal(got["tile_cell"].to_numpy(), want["tile_cell"].to_numpy()):
        return [f"tile sets differ: engine {len(got)} tiles, oracle {len(want)}"]
    out = []
    if not np.array_equal(got["n"].to_numpy(), want["n"].to_numpy()):
        out.append("per-tile row counts differ")
    if not np.allclose(got["weight_sum"].to_numpy(), want["weight_sum"].to_numpy(), rtol=rtol, atol=0.0):
        out.append("per-tile weight sums differ")
    return out


def window_count(con, written, x0: float, y0: float, x1: float, y1: float, d0: str, d1: str) -> int:
    """DuckDB count of the rows of the Arrow table ``written`` inside a
    lon/lat box and a day range."""
    con.register("written", written)
    return con.execute(
        "SELECT count(*) FROM written WHERE lon BETWEEN ? AND ? AND lat BETWEEN ? AND ? "
        "AND CAST(ts AS DATE) BETWEEN CAST(? AS DATE) AND CAST(? AS DATE)",
        [x0, x1, y0, y1, d0, d1],
    ).fetchone()[0]
