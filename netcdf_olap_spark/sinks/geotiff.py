"""GeoTIFF export sink — raster artifacts from the long cube.

The raster-product twin of sinks/netcdf.py and sinks/zarr.py: one
single-band GeoTIFF per (ds, variable, day), written INSIDE its
``applyInPandas`` task by ``sinks/naming.write_artifact`` (atomic,
manifest rows only to the driver — the reference's write-from-the-task
contract, Gddp.scala:235-236).  File names follow the ingest contract
(``{variable}_{YYYY-MM-DD}.tif``), so export∘ingest composes.

GeoTIFF's pixel-scale/tiepoint model is an AFFINE north-up grid; a
curvilinear cube (2-D lat varying with x — the reference's native
grids) cannot be represented, and the sink FAILS LOUDLY if the
group's coordinates do not fit lat = lat0 − dlat·y / lon = lon0 +
dlon·x exactly, instead of silently writing wrong georeferencing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from netcdf_olap_spark.sinks.naming import ARTIFACT_FIELDS
from netcdf_olap_spark.sources.netcdf import ensure_package_on_workers

GEOTIFF_MANIFEST_SCHEMA = StructType(
    [
        StructField("variable", StringType()),
        StructField("day", StringType()),
        StructField("n_valid", IntegerType()),
        *ARTIFACT_FIELDS,
    ]
)


def export_geotiff_files(
    df: DataFrame,
    out_dir: str,
    nodata: float = -9999.0,
    compression: str | None = "deflate",
    tile: tuple[int, int] | None = None,
) -> DataFrame:
    """Long cube rows → ``{out_dir}/{variable}_{day}.tif`` per
    (variable, day); returns the manifest DataFrame (action triggers
    the writes).  NULL values become ``nodata`` (and round-trip back
    to NULL through the GDAL_NODATA tag); a real value equal to the
    sentinel would be swallowed — the NetCDF sink's documented
    caveat."""
    ensure_package_on_workers(df.sparkSession)
    out_, nod_, comp_, tile_ = out_dir, float(nodata), compression, tile

    def _write(pdf):
        import numpy as _np
        import pandas as _pd

        from netcdf_olap_spark.sinks.naming import safe_component, write_artifact
        from netcdf_olap_spark.sources.geotiff import GeoTiffError, write_geotiff

        # the name comes from file contents: reject it before any work
        var = safe_component(pdf["variable"].iloc[0], "variable")
        day = str(pdf["day"].iloc[0])
        ys = _np.sort(pdf["y"].unique())
        xs = _np.sort(pdf["x"].unique())
        if ys[0] != 0 or xs[0] != 0 or len(ys) != ys[-1] + 1 or len(xs) != xs[-1] + 1:
            raise GeoTiffError(f"{var} {day}: (y, x) domain is not a dense 0-based grid")
        ny, nx = len(ys), len(xs)
        grid = _np.full((ny, nx), nod_, dtype=_np.float64)
        vals = pdf["value"].to_numpy(dtype=_np.float64)
        vals = _np.where(_np.isnan(vals), nod_, vals)
        grid[pdf["y"].to_numpy(_np.int64), pdf["x"].to_numpy(_np.int64)] = vals

        # derive and VERIFY the affine (exactly — curvilinear must fail)
        lat = _np.full((ny, nx), _np.nan)
        lon = _np.full((ny, nx), _np.nan)
        lat[pdf["y"].to_numpy(_np.int64), pdf["x"].to_numpy(_np.int64)] = pdf["lat"]
        lon[pdf["y"].to_numpy(_np.int64), pdf["x"].to_numpy(_np.int64)] = pdf["lon"]
        lat0, lon0 = float(lat[0, 0]), float(lon[0, 0])
        dlat = float(lat0 - lat[1, 0]) if ny > 1 else 0.0
        dlon = float(lon[0, 1] - lon0) if nx > 1 else 0.0
        want_lat = lat0 - dlat * _np.arange(ny)[:, None]
        want_lon = lon0 + dlon * _np.arange(nx)[None, :]
        if not (
            _np.array_equal(lat, _np.broadcast_to(want_lat, (ny, nx)))
            and _np.array_equal(lon, _np.broadcast_to(want_lon, (ny, nx)))
        ):
            raise GeoTiffError(
                f"{var} {day}: coordinates are not an exact north-up affine "
                "(curvilinear grids cannot export to GeoTIFF; use the NetCDF/Zarr sinks)"
            )

        content = write_geotiff(
            grid, lat0=lat0, lon0=lon0, dlat=dlat, dlon=dlon,
            nodata=nod_, compression=comp_, tile=tile_,
        )
        return _pd.DataFrame(
            [
                {
                    "variable": var,
                    "day": day,
                    "n_valid": int((vals != nod_).sum()),
                    **write_artifact(out_, f"{var}_{day}.tif", content),
                }
            ]
        )

    keyed = df.select(
        "variable",
        F.date_format("time", "yyyy-MM-dd").alias("day"),
        "y",
        "x",
        "lat",
        "lon",
        "value",
    )
    return keyed.groupBy("variable", "day").applyInPandas(_write, GEOTIFF_MANIFEST_SCHEMA)
