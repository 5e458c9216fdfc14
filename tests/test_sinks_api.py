"""PNG sink + HTTP API tests (golden-artifact style, FIXTURES.md §5:
dimensions + masked-cell counts, not byte equality)."""

from __future__ import annotations

import io
import json
import struct
import zipfile
import zlib
from pathlib import Path

import pytest

from netcdf_olap_spark.api import parse_query_payload
from netcdf_olap_spark.plans import CubeQuery
from netcdf_olap_spark.queries.grid import POLYGON
from netcdf_olap_spark.session import load_grid
from netcdf_olap_spark.sinks import png_filename, render_png_files


def _png_size(data: bytes) -> tuple[int, int]:
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", data[16:24])
    return w, h


def _png_alpha_zero_count(data: bytes) -> int:
    """Decode our own RGBA PNG (filter 0 rows) and count transparent
    pixels."""
    w, h = _png_size(data)
    idat = b""
    off = 8
    while off < len(data):
        (ln,) = struct.unpack(">I", data[off : off + 4])
        tag = data[off + 4 : off + 8]
        if tag == b"IDAT":
            idat += data[off + 8 : off + 8 + ln]
        off += 12 + ln
    raw = zlib.decompress(idat)
    n_zero = 0
    stride = w * 4 + 1
    for r in range(h):
        row = raw[r * stride : (r + 1) * stride]
        assert row[0] == 0  # filter byte
        n_zero += sum(1 for i in range(1, len(row), 4) if row[i + 3] == 0)
    return n_zero


@pytest.fixture(scope="module")
def query():
    return CubeQuery(
        start_date="1990-01-05",
        end_date="1990-01-20",
        variables=["LST_LWST_avg_daily", "avg_night_temp"],
        polygon=POLYGON,
    )


def _render(sliced, out_dir, query, **kw) -> dict:
    """variable → (manifest row, PNG bytes read from the manifest path)."""
    manifest = render_png_files(sliced, str(out_dir), query.start_date, query.end_date, **kw)
    return {r.variable: (r, Path(r.path).read_bytes()) for r in manifest.collect()}


def test_render_png_dimensions_and_mask(spark, query, tmp_path):
    rendered = _render(query.apply(load_grid(spark, register=False)), tmp_path, query)
    assert set(rendered) == set(query.variables)
    for var, (row, png) in rendered.items():
        w, h = _png_size(png)
        assert (w, h) == (row.width, row.height)
        assert 0 < row.n_valid <= row.n_cells
        # polygon-masked corners → some transparent pixels, not all
        n_transparent = _png_alpha_zero_count(png)
        assert 0 < n_transparent < w * h


def test_render_to_files(spark, query, tmp_path):
    paths = query.render(load_grid(spark, register=False), str(tmp_path))
    assert sorted(p.split("/")[-1] for p in paths) == sorted(
        png_filename(v, query.start_date, query.end_date) for v in query.variables
    )


def test_api_fetch_result_roundtrip(spark):
    """Drive the real HTTP surface: POST the reference payload shape,
    get a zip of PNGs back."""
    from netcdf_olap_spark.api import create_app

    app = create_app(spark)
    client = app.test_client()

    r = client.get("/getBoundary")
    assert r.status_code == 200
    b = r.get_json()
    assert b["lat_min"] < b["lat_max"] and b["lon_min"] < b["lon_max"]

    payload = {
        "selectDate": "1990-01-05,1990-01-12",
        "variables": ["LST_LWST_avg_daily"],
        "geoJson": {
            "type": "Feature",
            "geometry": {"type": "Polygon", "coordinates": [[list(p) for p in POLYGON]]},
        },
    }
    r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
    assert r.status_code == 200
    assert r.mimetype == "application/zip"
    with zipfile.ZipFile(io.BytesIO(r.data)) as z:
        names = z.namelist()
        assert names == ["gddpLST_LWST_avg_daily1990-01-05-1990-01-12.png"]
        w, h = _png_size(z.read(names[0]))
        assert w > 0 and h > 0


def test_api_serves_map_client(spark):
    """The static map client (webclient/index.html — the reference's
    react-demo counterpart) is served at /."""
    from netcdf_olap_spark.api import create_app

    client = create_app(spark).test_client()
    r = client.get("/")
    assert r.status_code == 200
    html = r.data.decode()
    assert "/fetchResult" in html and "/getBoundary" in html
    assert "DecompressionStream" in html  # client-side unzip present


def test_api_bad_request(spark):
    from netcdf_olap_spark.api import create_app

    app = create_app(spark)
    client = app.test_client()
    r = client.post("/fetchResult", data=json.dumps({"selectDate": ""}), content_type="application/json")
    assert r.status_code == 400
    assert "bad request" in r.get_json()["message"]
    # dates the engine's cast rejects: JSON 500 naming the exception class
    payload = {"selectDate": "garbage,junk", "variables": ["LST_LWST_avg_daily"]}
    r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
    assert r.status_code == 500 and r.get_json()["error"]
    assert r.get_json()["message"].startswith("engine error")
    # lenient (non-zero-padded) dates are still served
    payload["selectDate"] = "1990-1-5,1990-1-12"
    r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
    assert r.status_code == 200 and r.mimetype == "application/zip"
    # a reversed range, in the same lenient form, is rejected at parse
    # time, before any Spark work
    payload["selectDate"] = "1990-1-12,1990-1-5"
    r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
    assert r.status_code == 400
    assert r.get_json()["message"].startswith("bad request: selectDate starts after it ends")
    with pytest.raises(ValueError, match="starts after it ends"):
        parse_query_payload(payload)
    # a range within one day is not reversed
    assert parse_query_payload(dict(payload, selectDate=["1990-01-12T06:00", "1990-1-12"]))
    # a malformed variables field is a 400 at parse time, before any
    # Spark work, not a 500 from the engine
    for bad in (5, [5], ["LST_LWST_avg_daily", ""], {"LST_LWST_avg_daily": 1}, True):
        body = dict(payload, selectDate="1990-1-5,1990-1-12", variables=bad)
        r = client.post("/fetchResult", data=json.dumps(body), content_type="application/json")
        assert r.status_code == 400, bad
        assert r.get_json()["message"].startswith("bad request: variables"), bad
        with pytest.raises(ValueError, match="variables"):
            parse_query_payload(body)


def test_render_global_vs_slice_breaks(spark, query, tmp_path):
    """O9 both modes: global breaks give all variables one color
    scale; per-slice breaks differ per variable — so the PNG bytes of
    at least one variable differ between modes, while geometry and
    valid-cell counts are identical."""
    sliced = query.apply(load_grid(spark, register=False))
    per_slice = _render(sliced, tmp_path / "slice", query)
    global_ = _render(sliced, tmp_path / "global", query, global_breaks=True)
    assert set(per_slice) == set(global_)
    for v, (row, _png) in per_slice.items():
        g_row = global_[v][0]
        assert (row.width, row.height) == (g_row.width, g_row.height)
        assert row.n_valid == g_row.n_valid
    assert any(per_slice[v][1] != global_[v][1] for v in per_slice)


def test_datasets_catalog(spark):
    from netcdf_olap_spark.session import datasets_catalog

    cat = datasets_catalog(load_grid(spark, register=False)).collect()
    assert len(cat) == 1
    row = cat[0]
    assert row["ds"] == "five_lakes"
    assert row["n_cells"] == 32 * 32
    assert row["variables"] == sorted(
        ["LST_LWST_avg_daily", "LST_LWST_avg_day", "avg_night_temp"]
    )
    assert row["lat_min"] < 42.1 < row["lat_max"]
    assert row["time_min"].isoformat().startswith("1990-01-01")


def test_api_fetch_result_as_netcdf(spark):
    """format=nc4 returns the sliced cube AS NetCDF: the zip holds one
    .nc per variable whose bytes decode with the vendored reader to
    the same polygon-masked slice the PNG path renders."""
    from netcdf_olap_spark.api import create_app
    from netcdf_olap_spark.sources.hdf5 import is_hdf5, read_hdf5

    client = create_app(spark).test_client()
    payload = {
        "selectDate": "1990-01-05,1990-01-12",
        "variables": ["LST_LWST_avg_daily"],
        "geoJson": {
            "type": "Feature",
            "geometry": {"type": "Polygon", "coordinates": [[list(p) for p in POLYGON]]},
        },
        "format": "nc4",
    }
    r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
    assert r.status_code == 200 and r.mimetype == "application/zip"
    with zipfile.ZipFile(io.BytesIO(r.data)) as z:
        names = z.namelist()
        assert len(names) == 1 and names[0].endswith(".nc")
        content = z.read(names[0])
    assert is_hdf5(content)
    f = read_hdf5(content)
    v = f.variables["LST_LWST_avg_daily"]
    assert len(v.shape) == 3 and v.shape[0] == 8  # 8 days in range
    # masked-out cells persist as the _FillValue sentinel on disk (the
    # raw reader is faithful; fill→NULL happens at the decoder layer)
    assert v.attributes["_FillValue"] == -9999.0
    assert (v.data == -9999.0).any() and (v.data != -9999.0).any()
    # classic flavor too, plus unknown-format rejection
    payload["format"] = "nc"
    r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
    assert r.status_code == 200
    with zipfile.ZipFile(io.BytesIO(r.data)) as z:
        assert z.read(z.namelist()[0])[:3] == b"CDF"
    payload["format"] = "tiff"
    r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
    assert r.status_code == 400


def test_api_datasets_catalog_route(spark):
    """/datasets — the map UI's dataset registry (one Leaflet rectangle
    + tooltip per entry, reference map.jsx:174-178): boundary,
    variable dictionary, temporal extent, JSON-serializable."""
    from netcdf_olap_spark.api import create_app

    client = create_app(spark).test_client()
    r = client.get("/datasets")
    assert r.status_code == 200
    cat = r.get_json()
    assert len(cat) == 1
    d = cat[0]
    assert d["ds"] == "five_lakes"
    assert d["variables"] == sorted(d["variables"]) and len(d["variables"]) == 3
    assert d["lat_min"] < d["lat_max"] and d["lon_min"] < d["lon_max"]
    assert d["time_min"].startswith("1990-01-01") and d["time_max"] > d["time_min"]
    assert d["n_cells"] == 32 * 32


def test_api_leaflet_client_payload_shape(spark):
    """Payload-shape coverage for the Leaflet client (round-5 ask #8):
    the served page is the tiled-map client (tile layer + rectangle
    draw + /datasets registry + canvas fallback), and the EXACT
    payload it builds — closed 5-point bbox ring as a geoJson STRING,
    comma-joined variables, format selector — round-trips through
    /fetchResult for every format."""
    from netcdf_olap_spark.api import create_app

    client = create_app(spark).test_client()
    html = client.get("/").data.decode()
    # Leaflet-grade surface: tile basemap, rectangle draw, dataset
    # tooltips, offline fallback
    assert "leaflet" in html
    assert "tile.openstreetmap.org/{z}/{x}/{y}.png" in html
    assert "L.rectangle" in html and "bindTooltip" in html
    assert "/datasets" in html and "/getBoundary" in html and "/fetchResult" in html
    assert "canvas" in html  # air-gapped fallback retained
    for key in ("selectDate", "variables", "geoJson", "format"):
        assert key in html

    b = client.get("/getBoundary").get_json()
    # the client's bboxGeoJson(): closed ring, lon/lat order, STRING field
    lon0, lon1 = b["lon_min"], (b["lon_min"] + b["lon_max"]) / 2
    lat0, lat1 = b["lat_min"], (b["lat_min"] + b["lat_max"]) / 2
    ring = [[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1], [lon0, lat0]]
    for fmt, check in (("png", ".png"), ("nc", ".nc"), ("nc4", ".nc")):
        payload = {
            "selectDate": "1990-01-05,1990-01-12",
            "variables": "LST_LWST_avg_daily,avg_night_temp",
            "geoJson": json.dumps(
                {"type": "Feature", "geometry": {"type": "Polygon", "coordinates": [ring]}}
            ),
            "format": fmt,
        }
        r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
        assert r.status_code == 200, (fmt, r.data[:200])
        with zipfile.ZipFile(io.BytesIO(r.data)) as z:
            names = z.namelist()
            assert len(names) == 2 and all(n.endswith(check) for n in names), names


def _in_memory_scans(plan):
    """Every InMemoryTableScan node of an executed plan (AQE-unwrapped)."""
    out = [plan] if plan.nodeName() == "InMemoryTableScan" else []
    if plan.nodeName().startswith("AdaptiveSparkPlan"):
        out += _in_memory_scans(plan.executedPlan())
    kids = plan.children()
    for i in range(kids.size()):
        out += _in_memory_scans(kids.apply(i))
    return out


def test_served_grid_prunes_cached_batches(spark):
    """A 1-day, 1-variable slice of the app's served grid reads only
    the cached batches whose min/max can hold it: at most two
    10,000-row batches of the 92,160-row fixture cube."""
    from netcdf_olap_spark.api import create_app

    grid = create_app(spark).extensions["served_grid"]
    assert grid.count() == 92_160
    q = CubeQuery(start_date="1990-01-05", end_date="1990-01-05", variables=["avg_night_temp"])
    sliced = q.apply(grid)
    assert len(sliced.collect()) == 32 * 32
    scans = _in_memory_scans(sliced._jdf.queryExecution().executedPlan())
    assert len(scans) == 1
    assert 0 < scans[0].metrics().apply("numOutputRows").value() <= 20_000


def test_served_grid_leaves_plain_grid_plans_alone(spark):
    """Once the served grid is cached and a request has run, a plain
    load_grid() plan still scans Parquet with its pushed filters: the
    cache is never substituted into queries outside the app."""
    from netcdf_olap_spark.api import create_app
    from netcdf_olap_spark.operators.slice import time_range

    client = create_app(spark).test_client()
    payload = {"selectDate": "1990-01-05,1990-01-06", "variables": ["avg_night_temp"]}
    r = client.post("/fetchResult", data=json.dumps(payload), content_type="application/json")
    assert r.status_code == 200
    plan = time_range(load_grid(spark, register=False), "1990-01-05", "1990-01-06")._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan and "PushedFilters: [" in plan
    assert "InMemoryTableScan" not in plan


@pytest.mark.parametrize("fmt", ["png", "nc", "nc4"])
def test_served_grid_artifacts_equal_parquet_path(spark, query, tmp_path, fmt):
    """The served grid changes where rows are read from, not what is
    written: every artifact's sha256 equals the one built from a plain
    Parquet read of the cube."""
    from netcdf_olap_spark.api import create_app
    from netcdf_olap_spark.sinks.netcdf import export_netcdf_files

    served = create_app(spark).extensions["served_grid"]

    def digests(grid, out):
        sliced = query.apply(grid)
        if fmt == "png":
            manifest = render_png_files(sliced, str(out), query.start_date, query.end_date)
        else:
            nc_fmt, gzip = ("classic", None) if fmt == "nc" else ("hdf5", 6)
            manifest = export_netcdf_files(sliced, str(out), fmt=nc_fmt, gzip=gzip)
        return {Path(r.path).name: r.sha256 for r in manifest.collect()}

    want = digests(load_grid(spark, register=False), tmp_path / "parquet")
    assert len(want) == len(query.variables)
    assert digests(served, tmp_path / "served") == want


def _polygon_payload(coords) -> str:
    """A /fetchResult body as JSON text (NaN/Infinity kept as the
    tokens Python's JSON parser accepts)."""
    return json.dumps(
        {
            "selectDate": "1990-01-05,1990-01-12",
            "variables": ["LST_LWST_avg_daily"],
            "geoJson": {"type": "Polygon", "coordinates": [coords]},
        }
    )


@pytest.mark.parametrize(
    "coords,why",
    [
        ([[-83.6, 42.3], [float("nan"), 42.45], [-83.3, 43.3], [-83.6, 42.3]], "finite"),
        ([[-83.6, 42.3], [float("inf"), 42.45], [-83.3, 43.3], [-83.6, 42.3]], "finite"),
        ([[-83.6, 42.3], [-82.9, 42.45]], "at least 4 positions"),
    ],
    ids=["nan-vertex", "infinite-vertex", "two-point-ring"],
)
def test_api_rejects_degenerate_polygon(spark, coords, why):
    from netcdf_olap_spark.api import create_app

    client = create_app(spark).test_client()
    r = client.post("/fetchResult", data=_polygon_payload(coords), content_type="application/json")
    assert r.status_code == 400
    msg = r.get_json()["message"]
    assert msg.startswith("bad request") and why in msg


def test_api_describes_the_served_cube(spark, tmp_path, monkeypatch):
    """/getBoundary and /datasets describe the cube the app serves (here
    a 3x4-cell cube shifted away from the fixture's extent), not the
    fixture coordinates table."""
    from pyspark.sql import functions as F

    from netcdf_olap_spark.api import create_app

    cube = str(tmp_path / "cube.parquet")
    (
        load_grid(spark, register=False)
        .where((F.col("y") < 3) & (F.col("x") < 4) & (F.col("time") < F.lit("1990-01-03")))
        .withColumn("lat", F.col("lat") - 10.0)
        .withColumn("lon", F.col("lon") + 20.0)
        .write.parquet(cube)
    )
    rows = spark.read.parquet(cube).select("lat", "lon").collect()
    want = {
        "lat_min": min(r.lat for r in rows),
        "lat_max": max(r.lat for r in rows),
        "lon_min": min(r.lon for r in rows),
        "lon_max": max(r.lon for r in rows),
    }
    assert want["lat_max"] < 34 and want["lon_min"] > -65  # outside the fixture's extent
    monkeypatch.setenv("SPARK_GRAFT_GRID_PATH", cube)
    app = create_app(spark)
    try:
        client = app.test_client()
        assert client.get("/getBoundary").get_json() == want
        (d,) = client.get("/datasets").get_json()
        assert {k: d[k] for k in want} == want
        assert d["n_cells"] == 12
        assert d["time_max"].startswith("1990-01-02")
    finally:
        app.extensions["served_grid"].unpersist()
