"""Seed-derived inputs: row-id ranges, polygons, query windows, kNN points.

Rows come from the engine's own deterministic generator
(``sources.images.generate_batch`` / ``lonlat_of``), which is a pure function
of the row id. Each (workload, seed) pair gets its own id range, so the same
seed always yields the same rows and another seed yields other rows.

Polygons, query windows and kNN points are drawn per phase, from
``query_rng(seed, phase)``: one process may run several sessions of a
workload (a traced run has three), and the engine's caches outlive a
session, so each session must ask for new shapes, not the ones an earlier
session already cached.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from geomesa_spark.core.geometry import Geometry, box
from geomesa_spark.sources import images

WORKLOADS = ("tile_render", "pip_join", "ingest_query")
ID_SPAN = 10**8  # ids per (workload, seed); every workload uses far fewer


def id_base(workload: str, seed: int) -> int:
    return ((seed % 10**6) * len(WORKLOADS) + WORKLOADS.index(workload) + 1) * ID_SPAN


def query_rng(seed: int, phase: int) -> np.random.Generator:
    """The generator of one session's polygons, windows and kNN points."""
    return np.random.default_rng([seed, phase])


def hot_city(seed: int) -> int:
    """The city that holds the pip_join table's hot share of rows."""
    return int(np.random.default_rng(seed).integers(len(images.CITIES)))


def ring_polygon(ring: np.ndarray) -> Geometry:
    return Geometry("Polygon", (tuple((float(x), float(y)) for x, y in ring),))


def hexagon(lon: float, lat: float, r: float) -> Geometry:
    ang = np.arange(7) * (math.pi / 3)
    return ring_polygon(np.stack([lon + r * np.cos(ang), lat + r * np.sin(ang)], axis=1))


def city_polygons() -> dict[str, Geometry]:
    """The fixed tile_render set: one polygon per city cluster, boxes and
    hexagons alternating."""
    out = {}
    for i, (lon, lat) in enumerate(images.CITIES):
        if i % 2 == 0:
            out[f"city{i}"] = box(lon - 0.15, lat - 0.15, lon + 0.15, lat + 0.15)
        else:
            out[f"city{i}"] = hexagon(lon, lat, 0.2)
    return out


def star_polygon(rng: np.random.Generator, lon: float, lat: float, r: float, n: int) -> np.ndarray:
    """Closed ring of a random star-shaped (non-convex, simple) polygon with
    ``n`` vertices at radius ``0.6 r .. r`` from its centre."""
    ang = np.sort((np.arange(n) + rng.uniform(-0.3, 0.3, n)) * (2 * math.pi / n))
    rad = r * rng.uniform(0.6, 1.0, n)
    ring = np.stack([lon + rad * np.cos(ang), lat + rad * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def pip_polygons(rng: np.random.Generator, n: int, hot_city: int, tag: str) -> dict[str, np.ndarray]:
    """``n`` fresh star polygons. Slot ``j`` fixes the size class (radius
    and vertex count) so that every pass does comparable work; positions and
    shapes are random. Even slots overlap on the hot city."""
    out = {}
    for j in range(n):
        c = hot_city if j % 2 == 0 else (hot_city + 1 + j // 2) % len(images.CITIES)
        lon, lat = images.CITIES[c]
        out[f"{tag}_{j}"] = star_polygon(
            rng, lon + rng.normal(0, 0.05), lat + rng.normal(0, 0.05), 0.08 + 0.02 * j, 5 + j % 6
        )
    return out


WINDOW_HALF_DEG = (0.05, 0.1, 0.15, 0.2)
WINDOW_DAYS = 7


def window(rng: np.random.Generator, slot: int) -> tuple[tuple[float, float, float, float], tuple[str, str]]:
    """A lon/lat box near a city and a whole-day range inside the data's
    span. ``slot`` cycles the box size; the position and days are random."""
    lon, lat = images.CITIES[int(rng.integers(len(images.CITIES)))]
    lon += rng.normal(0, 0.1)
    lat += rng.normal(0, 0.1)
    half = WINDOW_HALF_DEG[slot % len(WINDOW_HALF_DEG)]
    d0 = int(rng.integers(0, images.TS_SPAN // 86400 - WINDOW_DAYS))
    epoch = pd.Timestamp(images.TS_EPOCH, unit="s")
    day = lambda d: (epoch + pd.Timedelta(days=d)).strftime("%Y-%m-%d")  # noqa: E731
    return (lon - half, lat - half, lon + half, lat + half), (day(d0), day(d0 + WINDOW_DAYS - 1))


def knn_queries(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Query points around the city clusters, where the data is dense."""
    c = np.asarray(images.CITIES)[rng.integers(0, len(images.CITIES), n)]
    pts = c + rng.normal(0.0, images.CLUSTER_SIGMA, (n, 2))
    return pd.DataFrame({"query_id": np.arange(n, dtype=np.int64), "lon": pts[:, 0], "lat": pts[:, 1]})
