"""Executor-side artifact sinks (round 6).

Three contracts under test:

1. **Tasks write, driver collects manifests only** — export_netcdf_files
   / render_png_files write each artifact inside its applyInPandas task
   (atomically, through sinks/naming.write_artifact) and return
   (path, size, sha256) rows; the bytes never ride in a Spark cell. A
   chunked export splits one variable across multiple CF-consistent
   files, so no single task ever builds the whole variable's cube (no
   2 GB-cell or driver-memory ceiling). A failed write, a sink's or a
   registry fixture's, leaves no temp file behind.
2. **Hostile names can't escape** — the vendored readers accept
   arbitrary bytes as dataset/variable names, so every sink filename
   component is validated (sinks/naming.safe_component); traversal
   attempts raise instead of writing outside out_dir or producing
   zip-slip entries.
3. **Ragged selections round-trip** — a spatially ragged slice
   (polygon/bbox on a curvilinear grid) exports with NaN coordinates
   for absent cells; the decoder drops NaN-coordinate cells, so
   export∘ingest is the identity for ragged slices too (NaN would
   otherwise poison min/max since Spark sorts NaN largest).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from netcdf_olap_spark.sinks.naming import safe_component
from netcdf_olap_spark.sinks.netcdf import export_netcdf_files
from netcdf_olap_spark.sinks.png import png_filename, render_png_files
from netcdf_olap_spark.sources import netcdf as src

NT, NY, NX = 6, 3, 5
KEY = ["ds", "variable", "time", "y", "x"]


def _cube_df(spark, ds="exp", var="tas", seed=5):
    rng = np.random.default_rng(seed)
    data = rng.normal(280.0, 5.0, (NT, NY, NX))
    data[0, 0, 0] = np.nan
    th = (np.arange(NT) * 24).astype(np.int64)
    lat1 = 42.0 + 0.5 * np.arange(NY)
    lon1 = -84.0 + 0.5 * np.arange(NX)
    lon, lat = np.meshgrid(lon1, lat1)
    return src.cube_to_df(spark, ds, var, data, th, lat, lon, fill_value=None)


def _rows(df):
    return [tuple(r) for r in df.orderBy(*KEY).collect()]


# -- 1. executor-side writes ------------------------------------------------


@pytest.mark.parametrize("fmt", ["classic", "hdf5"])
def test_files_export_manifest_and_roundtrip(spark, tmp_path, fmt):
    cube = _cube_df(spark, seed=11)
    out = str(tmp_path / "files")
    man = export_netcdf_files(cube, out, fmt=fmt).collect()
    assert len(man) == 1
    m = man[0]
    # manifest row carries NO blob column
    assert "nc" not in m.asDict()
    assert m.part == "all" and (m.nt, m.ny, m.nx) == (NT, NY, NX)
    # the file the task wrote matches the manifest's size + checksum
    blob = open(m.path, "rb").read()
    assert len(blob) == m.size
    assert hashlib.sha256(blob).hexdigest() == m.sha256
    # and re-ingesting it reproduces the cube exactly
    back = src.ingest_directory(spark, out, ds="exp")
    assert _rows(back) == _rows(cube)


def test_chunked_export_splits_by_time_window(spark, tmp_path):
    cube = _cube_df(spark, seed=13)  # 6 daily steps from 1990-01-01
    out = str(tmp_path / "chunked")
    man = export_netcdf_files(cube, out, fmt="hdf5", chunk="day").collect()
    # one file per day — no task ever held the whole variable
    assert len(man) == NT
    assert sorted(r.part for r in man) == [f"1990-01-0{d}" for d in range(1, NT + 1)]
    assert all(r.nt == 1 for r in man)
    for r in man:
        assert os.path.dirname(r.path) == out and r.part in os.path.basename(r.path)
    # the union of the chunk files is still the identity
    back = src.ingest_directory(spark, out, ds="exp")
    assert _rows(back) == _rows(cube)


def test_png_files_manifest(spark, tmp_path):
    cube = _cube_df(spark, seed=19)
    out = str(tmp_path / "pngs")
    man = render_png_files(cube, out, "1990-01-01", "1990-01-06").collect()
    assert len(man) == 1
    m = man[0]
    assert os.path.basename(m.path) == png_filename("tas", "1990-01-01", "1990-01-06")
    blob = open(m.path, "rb").read()
    assert blob.startswith(b"\x89PNG") and len(blob) == m.size
    assert hashlib.sha256(blob).hexdigest() == m.sha256
    assert (m.width, m.height) == (NX, NY)


def test_no_tmp_litter_after_export(spark, tmp_path):
    out = str(tmp_path / "clean")
    export_netcdf_files(_cube_df(spark, seed=23), out, fmt="hdf5").collect()
    assert all(not f.endswith(".tmp") for f in os.listdir(out))


@pytest.mark.parametrize("sink", ["png", "netcdf", "geotiff", "zarr"])
def test_failed_write_leaves_no_temp_file(spark, tmp_path, sink):
    """A write that fails at its final rename (a directory squats on
    the artifact's path) leaves nothing of its own behind: the
    directory holds only the blocker (plus the Zarr array's own
    ``.zarray``). For Zarr, a leftover chunk temp would also break
    every later ingest of the store, so the store is re-exported
    without the blocker and read back."""
    from pyspark.sql import functions as F

    from netcdf_olap_spark.sinks.geotiff import export_geotiff_files
    from netcdf_olap_spark.sinks.zarr import export_zarr_store
    from netcdf_olap_spark.sources.zarr import ingest_zarr_store

    # one day, so each sink writes exactly one artifact
    cube = _cube_df(spark, seed=37).where(F.col("time") < F.lit("1990-01-02"))
    out = tmp_path / "out"
    export, where, blocker, own = {
        "png": (
            lambda: render_png_files(cube, str(out), "1990-01-01", "1990-01-01"),
            out, png_filename("tas", "1990-01-01", "1990-01-01"), set(),
        ),
        "netcdf": (
            lambda: export_netcdf_files(cube, str(out), fmt="classic"),
            out, "exp_tas_classic.nc", set(),
        ),
        "geotiff": (lambda: export_geotiff_files(cube, str(out)), out, "tas_1990-01-01.tif", set()),
        "zarr": (lambda: export_zarr_store(cube, str(out)), out / "tas", "0.0.0", {".zarray"}),
    }[sink]
    (where / blocker).mkdir(parents=True)
    with pytest.raises(Exception):
        export().collect()
    assert set(os.listdir(where)) == {blocker} | own
    assert not any((where / blocker).iterdir())
    if sink == "zarr":
        (where / blocker).rmdir()
        export().collect()
        back = ingest_zarr_store(spark, str(out), ds="exp").select(*cube.columns)
        assert _rows(back) == _rows(cube)


@pytest.mark.parametrize(
    "fixture", ["_ingest_fixture_dir", "_zarr_fixture_dir", "_geotiff_fixture_dir"]
)
def test_failed_fixture_write_leaves_no_file(tmp_path, monkeypatch, fixture):
    """The registry's fixture directories land their files through the
    sinks' landing step: a write that fails after its temp file exists
    (here, at the rename) leaves no file behind."""
    import tempfile

    from netcdf_olap_spark.queries import grid

    def _refuse(src, dst):
        raise OSError("rename refused")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(os, "replace", _refuse)
    with pytest.raises(OSError, match="rename refused"):
        getattr(grid, fixture)()
    assert [n for _, _, names in os.walk(tmp_path) for n in names] == []


# -- 2. hostile names -------------------------------------------------------


@pytest.mark.parametrize(
    "bad",
    ["../../x", "a/b", "a\\b", "", "..", "evil\x00name", " pad ", ".hidden"],
)
def test_safe_component_rejects(bad):
    with pytest.raises(ValueError):
        safe_component(bad)


def test_safe_component_accepts_normal_names():
    for ok in ["tas", "LST_LWST_avg_daily", "avg_night_temp", "exp-2020", "t2m"]:
        assert safe_component(ok) == ok


def test_png_filename_rejects_traversal():
    with pytest.raises(ValueError):
        png_filename("../x", "1990-01-01", "1990-01-02")


@pytest.mark.parametrize("column", ["ds", "variable"])
@pytest.mark.parametrize(
    "sink", ["export_netcdf_files", "render_png_files", "export_geotiff_files", "export_zarr_store"]
)
def test_files_export_rejects_hostile_variable(spark, tmp_path, sink, column):
    """A crafted file can carry any bytes as a ds/variable name: a sink
    whose filenames use the name must fail with an error naming it, and
    nothing may land outside out_dir (only NetCDF names carry ds, so
    the other sinks write). Every sink applies the one
    sinks/naming.safe_component rule, which also rejects a leading
    dot."""
    import re

    from pyspark.sql import functions as F

    from netcdf_olap_spark.sinks.geotiff import export_geotiff_files
    from netcdf_olap_spark.sinks.zarr import export_zarr_store

    out = tmp_path / "deep" / "hostile"

    def export(cube):
        if sink == "export_netcdf_files":
            return export_netcdf_files(cube, str(out), fmt="classic").collect()
        if sink == "render_png_files":
            return render_png_files(cube, str(out), "1990-01-01", "1990-01-06").collect()
        if sink == "export_geotiff_files":
            return export_geotiff_files(cube, str(out)).collect()
        return export_zarr_store(cube, str(out)).collect()

    for bad in ("../../pwned", ".hidden"):
        cube = _cube_df(spark, seed=29).withColumn(column, F.lit(bad))
        if column == "ds" and sink != "export_netcdf_files":
            export(cube)
        else:
            with pytest.raises(Exception, match=re.escape(f"{column} {bad!r}")):
                export(cube)
    assert all(out in p.parents for p in tmp_path.rglob("*") if p.is_file())
    assert not list(tmp_path.parent.glob("*pwned*"))


# -- 3. ragged selections ---------------------------------------------------


def test_ragged_selection_roundtrip_identity(spark, tmp_path):
    """Drop an irregular subset of cells (polygon-mask shape), export,
    re-ingest: the absent cells stay absent and aggregates stay
    NaN-free (decoder drops NaN-coordinate cells)."""
    from pyspark.sql import functions as F

    cube = _cube_df(spark, seed=31)
    ragged = cube.where(~((F.col("y") == 0) & (F.col("x") >= 3)) & ~((F.col("y") == 2) & (F.col("x") == 0)))
    out = str(tmp_path / "ragged")
    export_netcdf_files(ragged, out, fmt="hdf5").collect()
    back = src.ingest_directory(spark, out, ds="exp")
    assert _rows(back) == _rows(ragged)
    # min/max over coordinates are finite (the NaN-poisoning the
    # decoder-side drop exists to prevent)
    agg = back.agg(
        F.min("lat").alias("a"), F.max("lat").alias("b"),
        F.min("lon").alias("c"), F.max("lon").alias("d"),
    ).collect()[0]
    assert all(np.isfinite(v) for v in agg)
