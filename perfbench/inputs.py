"""Seeded inputs for the benchmark: the serve cube and the per-workload draws.

The cube is fixed (its own generator seed, independent of ``--seed``) so a
checkout generates it once and every run reuses it; ``--seed`` drives only the
per-run draws (polygons, dates, variables, formats, hot-region revisits, ingest
order, panel order).  Everything here is numpy/pyarrow/DuckDB: no Spark, no
import of the package under test, and no use of the repository's fixtures or
``tools/gen_scale.py``, so a change to those cannot change the inputs two
commits are compared on.

Cube layout follows the engine's long grid schema and the closed-form geometry
of the repository's fixture cube, tiled ``ka`` times in x and ``kt`` times along
the day axis::

    lat = 42 + 0.05*y + 0.002*x        lon = -84 + 0.05*x + 0.002*y
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

DS = "five_lakes"
VARIABLES = ("LST_LWST_avg_daily", "LST_LWST_avg_day", "avg_night_temp")
CUBE_SEED = 1990
H = 32  # cells along y
TILE_W = 32  # cells along x per tile
TILE_DAYS = 30

# Cube shape per scale: x tiles, day tiles, and days of the cube exported to
# each .nc ingest directory.
SCALES = {
    "full": {"ka": 5, "kt": 4, "ingest_days": 15},
    "tiny": {"ka": 1, "kt": 1, "ingest_days": 8},
}
# Grid registry queries of the panel: ones whose DuckDB oracle reads the grid
# cube and whose run is work-bound, not overhead-bound, on the full cube.
PANEL = ("grid_polygon_stats", "grid_trend_ols", "grid_streak_runs")
GENERATOR_VERSION = 1


def cube_dims(scale: str) -> tuple[int, int]:
    """(cells along x, days) of the cube at ``scale``."""
    s = SCALES[scale]
    return TILE_W * s["ka"], TILE_DAYS * s["kt"]


def cube_extent(scale: str) -> tuple[float, float, float, float]:
    """(lon_min, lon_max, lat_min, lat_max) of the cube's cell centres."""
    w, _ = cube_dims(scale)
    return -84.0, -84.0 + 0.05 * (w - 1) + 0.002 * (H - 1), 42.0, 42.0 + 0.05 * (H - 1) + 0.002 * (w - 1)


def write_cube(path: str, scale: str) -> int:
    """Write the cube as one Parquet file sorted by (variable, time); returns rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    w, days = cube_dims(scale)
    rng = np.random.default_rng(CUBE_SEED)
    y, x = np.meshgrid(np.arange(H, dtype=np.int32), np.arange(w, dtype=np.int32), indexing="ij")
    y, x = y.ravel(), x.ravel()
    lat = 42.0 + 0.05 * y + 0.002 * x
    lon = -84.0 + 0.05 * x + 0.002 * y
    ncells = y.size
    epoch = np.datetime64("1990-01-01T00:00:00", "us")
    spatial = 2.5 * np.sin(lat * 2.1) + 1.5 * np.cos(lon * 1.7)
    tmp = path + ".tmp"
    writer = None
    try:
        for vi, var in enumerate(VARIABLES):
            for d in range(days):
                base = 275.0 + 8.0 * vi + 3.0 * math.sin(2 * math.pi * d / TILE_DAYS)
                value = base + spatial + rng.normal(0.0, 0.8, ncells)
                nulls = rng.random(ncells) < 0.07  # _FillValue cells
                t = epoch + np.timedelta64(d, "D").astype("timedelta64[us]")
                tbl = pa.table(
                    {
                        "ds": pa.array([DS] * ncells),
                        "variable": pa.array([var] * ncells),
                        "time": pa.array(np.full(ncells, t), pa.timestamp("us")),
                        "y": pa.array(y, pa.int32()),
                        "x": pa.array(x, pa.int32()),
                        "lat": pa.array(lat, pa.float64()),
                        "lon": pa.array(lon, pa.float64()),
                        "value": pa.array(value, pa.float64(), mask=nulls),
                    }
                )
                if writer is None:
                    writer = pq.ParquetWriter(tmp, tbl.schema)
                writer.write_table(tbl, row_group_size=1 << 20)
    finally:
        if writer is not None:
            writer.close()
    os.replace(tmp, path)
    return ncells * days * len(VARIABLES)


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def tree_digests(root: str) -> dict[str, str]:
    """sha256 of every regular file under ``root``, keyed by relative path."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            full = os.path.join(dirpath, fn)
            out[os.path.relpath(full, root)] = file_digest(full)
    return dict(sorted(out.items()))


def manifest_matches(root: str, params: dict) -> bool:
    """True when ``root`` holds a generation of ``params`` whose files still hash
    to what was recorded when they were written."""
    try:
        with open(os.path.join(root, "MANIFEST.json")) as f:
            man = json.load(f)
    except (OSError, ValueError):
        return False
    if man.get("params") != params:
        return False
    data = os.path.join(root, "data")
    return os.path.isdir(data) and tree_digests(data) == man.get("files")


def write_manifest(root: str, params: dict, extra: dict) -> None:
    man = {"params": params, "files": tree_digests(os.path.join(root, "data")), **extra}
    with open(os.path.join(root, "MANIFEST.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)


# ---------------------------------------------------------------------------
# Draws
# ---------------------------------------------------------------------------


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, int.from_bytes(workload.encode()[:8].ljust(8, b"\0"), "little")])


def _star_polygon(rng, cx: float, cy: float, area: float, aspect: float, n: int) -> list[list[float]]:
    """Closed star-shaped ring around (cx, cy) of exactly ``area`` square
    degrees: n vertices at jittered angles (one per angular sector, so it always
    wraps the centre) and radii, scaled to the area; no ring repeats and none
    self-intersects."""
    ang = 2 * math.pi * (np.arange(n) + rng.uniform(0.15, 0.85, n)) / n
    rad = rng.uniform(0.75, 1.0, n)
    x, y = rad * np.cos(ang), aspect * rad * np.sin(ang)
    shoelace = 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))
    k = math.sqrt(area / shoelace)
    ring = [[float(cx + k * a), float(cy + k * b)] for a, b in zip(x, y)]
    return ring + [ring[0]]


def _date(day: int) -> str:
    return str(np.datetime64("1990-01-01") + np.timedelta64(int(day), "D"))


def _request(ring, start_day: int, ndays: int, variables, fmt: str, kind: str) -> dict:
    return {
        "geoJson": {"type": "Polygon", "coordinates": [ring]},
        "selectDate": f"{_date(start_day)},{_date(start_day + ndays - 1)}",
        "variables": list(variables),
        "format": fmt,
        "kind": kind,
    }


def serve_small_requests(seed: int, scale: str, n: int = 600) -> list[dict]:
    """Small polygons (roughly 40-250 cells), 1 variable, 1-14 days.

    Stratified in blocks of 10 so every seed gets the same mix of formats
    (6 png, 2 nc4, 2 nc), day spans and polygon sizes; every other request
    revisits one of three hot regions."""
    rng = _rng(seed, "serve_small")
    lon0, lon1, lat0, lat1 = cube_extent(scale)
    _, days = cube_dims(scale)

    def region(area):
        cx = rng.uniform(lon0 + 0.5, lon1 - 0.5)
        cy = rng.uniform(lat0 + 0.45, lat1 - 0.45)
        return _star_polygon(rng, cx, cy, area, 0.8, int(rng.integers(5, 8)))

    # one cell is 0.05 x 0.05 degrees: 0.1-0.6 square degrees is 40-240 cells
    hot = [region(a) for a in (0.2, 0.35, 0.5)]
    out = []
    while len(out) < n:
        fmts = rng.permutation(["png"] * 6 + ["nc4"] * 2 + ["nc"] * 2)
        spans = rng.permutation([1, 2, 4, 5, 7, 8, 10, 11, 13, 14])
        areas = iter(rng.permutation(np.linspace(0.1, 0.6, 5)))
        for i in range(10):
            ring, kind = (hot[i // 2 % 3], "hot") if i % 2 == 0 else (region(next(areas)), "cold")
            nd = int(spans[i])
            start = int(rng.integers(0, days - nd + 1))
            var = VARIABLES[int(rng.integers(len(VARIABLES)))]
            out.append(_request(ring, start, nd, [var], str(fmts[i]), kind))
    return out[:n]


def serve_large_requests(seed: int, scale: str, n: int = 200) -> list[dict]:
    """Polygons over 30-80% of the cube extent, all 3 variables, 60-120 days
    (capped at the cube's length); formats cycle nc4/nc/png in blocks of 3."""
    rng = _rng(seed, "serve_large")
    lon0, lon1, lat0, lat1 = cube_extent(scale)
    _, days = cube_dims(scale)
    w, h = lon1 - lon0, lat1 - lat0
    out = []
    while len(out) < n:
        fracs = rng.permutation(np.linspace(0.3, 0.8, 3))
        for i, fmt in enumerate(rng.permutation(["nc4", "nc", "png"])):
            # an 8-vertex star ring of this area spans about sqrt(frac / 0.72)
            # of the extent along each axis
            half = min(1.0, math.sqrt(fracs[i] / 0.72)) / 2
            cx = rng.uniform(lon0 + half * w, lon1 - half * w)
            cy = rng.uniform(lat0 + half * h, lat1 - half * h)
            ring = _star_polygon(rng, cx, cy, fracs[i] * w * h, h / w, 8)
            nd = min(days, int(rng.integers(60, 121)))
            start = int(rng.integers(0, days - nd + 1))
            out.append(_request(ring, start, nd, VARIABLES, str(fmt), "large"))
    return out[:n]


def batch_ops(seed: int, ingest: bool, queries: bool, n: int = 300) -> list[tuple[str, str]]:
    """Ingest ops alternating classic/hdf5 (the seed picks which comes first),
    registry queries in seed-shuffled passes over the panel, or both
    interleaved one for one."""
    rng = _rng(seed, "batch")
    first = int(rng.integers(2))
    flavors = (("ingest", "classic"), ("ingest", "hdf5"))
    out: list[tuple[str, str]] = []
    k = 0
    while len(out) < n:
        for name in rng.permutation(PANEL):
            if ingest:
                out.append(flavors[(first + k) % 2])
                k += 1
            if queries:
                out.append(("query", str(name)))
    return out[:n]
