"""HTTP API layer — the reference's Flask surface, engine-direct.

Same routes and payloads as the reference server (main.py):

- ``GET /getBoundary`` → dataset boundary bbox (main.py:93-96; the
  reference hardcodes the Great Lakes bbox — we compute it from the
  served cube on first call and keep it).
- ``POST /fetchResult`` with JSON ``{geoJson, selectDate, variables}``
  (main.py:22-24 / map.jsx:117-121) → ``application/zip`` of one PNG
  per variable named ``gddp<var><start>-<end>.png`` (main.py:113-127).

Differences by design (SURVEY.md §3.4): one long-lived SparkSession
instead of a spark-submit subprocess per query (main.py:106-110), the
polygon travels in-memory instead of through a geojson.json file on
disk, and errors return proper JSON + status codes instead of the
reference's ``'{message: "Server Error"}'`` string (main.py:131-132).

Every request of one app reads ONE served grid: the cube is listed
once, cached in memory by the first request that scans it, and kept
until the app exits. The cached scan skips 10,000-row batches by their
per-column min/max — the hyperslab read of Gddp.scala:223-228 — which
the Parquet scan cannot do here: Spark has no Parquet pushdown for
``time`` stored as a non-UTC-adjusted timestamp, so every request
would read every day. The cube is assumed static for the app's lifetime.
"""

from __future__ import annotations

import datetime as dt
import functools
import io
import json
import os
import re
import tempfile
import zipfile

from pyspark.sql import DataFrame

from netcdf_olap_spark.operators.spatial import parse_geojson_polygon
from netcdf_olap_spark.plans import CubeQuery
from netcdf_olap_spark.session import datasets_catalog, get_spark, load_grid
from netcdf_olap_spark.sinks import render_png_files


# the lenient ``YYYY-M-D`` date Spark's casts accept, optionally
# followed by a time of day
_LENIENT_DATE = re.compile(r"\s*(\d{4})-(\d{1,2})-(\d{1,2})(?:[ T].*)?\s*")


def _lenient_date(s: str) -> dt.date | None:
    """The day of a ``YYYY-M-D`` date, or None for any other form (left
    for the engine to accept or reject)."""
    m = _LENIENT_DATE.fullmatch(s)
    if not m:
        return None
    try:
        return dt.date(*map(int, m.groups()))
    except ValueError:
        return None


def parse_query_payload(payload: dict) -> CubeQuery:
    """JSON request → CubeQuery descriptor (the parse_json stage of
    main.py:21-89, minus the disk round-trip)."""
    date = payload.get("selectDate")
    if isinstance(date, str):
        parts = [p.strip() for p in date.split(",")]
    else:
        parts = list(date or [])
    if len(parts) != 2 or not all(parts):
        raise ValueError("selectDate must be 'start,end' or [start, end]")
    first, last = (_lenient_date(str(p)) for p in parts)
    if first and last and first > last:
        raise ValueError(f"selectDate starts after it ends: {parts[0]} > {parts[1]}")
    variables = payload.get("variables") or []
    if isinstance(variables, str):
        variables = [v for v in variables.split(",") if v]
    if not variables:
        raise ValueError("variables must be non-empty")
    polygon = None
    geo = payload.get("geoJson")
    if geo:
        polygon = parse_geojson_polygon(geo if isinstance(geo, str) else json.dumps(geo))
    return CubeQuery(start_date=parts[0], end_date=parts[1], variables=variables, polygon=polygon)


def _zip_manifest(manifest_rows) -> bytes:
    """Pack executor-written artifact files (manifest rows with a
    ``path`` column) into one zip. Entry names are the sink-validated
    basenames — artifact tasks reject traversal-capable dataset/
    variable names before any file exists, so no zip-slip entries can
    reach a client."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for row in manifest_rows:
            z.write(row.path, arcname=os.path.basename(row.path))
    return buf.getvalue()


def result_zip(grid: DataFrame, q: CubeQuery, fmt: str = "png") -> bytes:
    """Run the query over ``grid`` and zip its artifacts (main.py:113-126).

    ``fmt``: ``png`` renders one image per variable; ``nc`` / ``nc4``
    export the sliced cube itself as one classic CDF-1 / NetCDF-4 file
    per variable — the engine form of the reference's raw-values
    ``result.txt`` alternative (geopy.py:101-102; main.py:129 comment).
    Artifacts are written by their TASKS (Gddp.scala:235-236's
    contract — the task writes the artifact, not the driver); the
    driver only collects (path, size, checksum) manifest rows and zips
    the finished files."""
    with tempfile.TemporaryDirectory(prefix="nolap_api_") as td:
        sliced = q.apply(grid)
        if fmt == "png":
            manifest = render_png_files(sliced, td, q.start_date, q.end_date)
        else:
            # resolved per call, so a wrapper set on the sink module
            # (perfbench's traced run) is seen
            from netcdf_olap_spark.sinks.netcdf import export_netcdf_files

            nc_fmt, gzip = ("classic", None) if fmt == "nc" else ("hdf5", 6)
            manifest = export_netcdf_files(sliced, td, fmt=nc_fmt, gzip=gzip)
        return _zip_manifest(manifest.collect())


def create_app(spark=None):
    """Flask app factory. ``spark`` injectable for tests.

    Lists the cube once and keeps it as the served grid (module
    docstring) in ``app.extensions["served_grid"]``; the cache is
    filled by the first request that scans it, not here."""
    from flask import Flask, jsonify, request, send_file

    app = Flask("netcdf-olap-spark")
    spark = spark or get_spark("api")
    # sortWithinPartitions keeps each cached batch inside one variable
    # and a narrow time span whatever the file order, so the batch
    # min/max stats prune. It also gives the cached plan a shape that
    # no plain load_grid() plan matches: a bare persist() of the grid
    # would be substituted into every later load_grid() query of the
    # session, replacing their Parquet scans and pushed filters.
    grid = load_grid(spark, register=False).sortWithinPartitions("variable", "time").persist()
    app.extensions["served_grid"] = grid

    client = os.path.join(os.path.dirname(os.path.abspath(__file__)), "webclient", "index.html")

    @app.get("/")
    def index():
        # the reference ships a React map UI (react-demo/src/components/
        # map.jsx); this serves the dependency-free static counterpart
        return send_file(client, mimetype="text/html")

    # dataset registry for the map UI — the engine-computed form of the
    # reference's hardcoded Dataset entries (map.jsx:15-23: id, boundary,
    # description, headerAttributes), one rectangle + tooltip each.
    # Computed on first call (concurrent first calls may both compute
    # it; the result is the same).
    @functools.cache
    def catalog() -> list[dict]:
        return [
            {
                "ds": r["ds"],
                "variables": list(r["variables"]),
                "lat_min": r["lat_min"],
                "lat_max": r["lat_max"],
                "lon_min": r["lon_min"],
                "lon_max": r["lon_max"],
                "n_cells": r["n_cells"],
                "time_min": r["time_min"].isoformat(),
                "time_max": r["time_max"].isoformat(),
            }
            for r in datasets_catalog(grid).collect()
        ]

    @app.get("/getBoundary")
    def get_boundary():
        cat = catalog()
        return jsonify(
            {
                "lat_min": min((d["lat_min"] for d in cat), default=None),
                "lat_max": max((d["lat_max"] for d in cat), default=None),
                "lon_min": min((d["lon_min"] for d in cat), default=None),
                "lon_max": max((d["lon_max"] for d in cat), default=None),
            }
        )

    @app.get("/datasets")
    def get_datasets():
        return jsonify(catalog())

    @app.post("/fetchResult")
    def fetch_result():
        payload = request.get_json(force=True) or {}
        try:
            q = parse_query_payload(payload)
            fmt = payload.get("format", "png")
            if fmt not in ("png", "nc", "nc4"):
                raise ValueError(f"format must be png, nc, or nc4, got {fmt!r}")
        except (ValueError, KeyError, TypeError) as ex:
            return jsonify({"message": f"bad request: {ex}"}), 400
        try:
            data = result_zip(grid, q, fmt)
        except Exception as ex:  # engine failure: JSON, not Flask's HTML 500 page
            app.logger.exception("fetchResult failed")
            return jsonify({"message": f"engine error: {ex}", "error": type(ex).__name__}), 500
        return send_file(
            io.BytesIO(data),
            mimetype="application/zip",
            as_attachment=True,
            download_name="result.zip",
        )

    return app


if __name__ == "__main__":
    create_app().run(host="127.0.0.1", port=5000)
