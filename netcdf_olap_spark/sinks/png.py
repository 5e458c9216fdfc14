"""PNG render sink (SURVEY.md §2.1 S8).

The reference masks a GeoTrellis tile to the query polygon, colors it
with quantile breaks, and writes ``gddp<variable><start>-<end>.png``
(Gddp.scala:230-236; filename contract shared with main.py:118). Here:

- the *engine-internal* representation stays a long DataFrame — the
  dense 2-D tile exists only inside this sink's ``applyInPandas``
  batches (SURVEY §1.3 "tile only at the sink");
- one group = one (variable) image → groups are small (H×W cells),
  Arrow-batched, rendered in parallel per variable;
- color mapping uses per-slice quantile breaks computed from the
  group's own values (the reference's per-slice choice,
  Gddp.scala:193-203 — "different areas will have different color
  mappings"); masked / NODATA cells render transparent, the
  ``FloatUserDefinedNoDataCellType`` analog;
- the PNG bytes are produced by a dependency-free encoder (zlib +
  struct, RGBA, 8-bit) since PIL/matplotlib aren't assumed;
- vertical flip at render time only — the long format is
  orientation-free, so the reference's ``rotate180.flipVertical``
  fixup (README.md:82) is isolated here.

Scale: :func:`render_png_files` writes each image to shared storage
INSIDE the rendering task (the reference's own contract —
Gddp.scala:235-236 writes the PNG from the task, not the driver)
through ``sinks/naming.write_artifact`` and returns only (path, size,
sha256) manifest rows; image bytes never reach the driver.
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

from netcdf_olap_spark.sinks.naming import ARTIFACT_FIELDS, safe_component

PNG_MANIFEST_SCHEMA = StructType(
    [
        StructField("variable", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_cells", IntegerType()),
        StructField("n_valid", IntegerType()),
        *ARTIFACT_FIELDS,
    ]
)


def png_filename(variable: str, start_date: str, end_date: str, prefix: str = "gddp") -> str:
    """The reference's filename contract (Gddp.scala:236 /
    main.py:118): ``gddp<variable><start>-<end>.png``. Components are
    validated — variable names come from file contents, so traversal
    attempts fail here, before any file or zip entry is created."""
    safe_component(variable, "variable")
    safe_component(prefix, "prefix")
    safe_component(start_date, "start_date")
    safe_component(end_date, "end_date")
    return f"{prefix}{variable}{start_date}-{end_date}.png"


def _make_renderer(shared_breaks, n_breaks, write_spec):
    """Build the per-group render function. Nested (not module-level)
    so cloudpickle serializes the encoder and color mapping BY VALUE;
    the task imports only the filename contract and the shared writer
    from the package, which ``render_png_files`` ships to the workers
    (as every sink does).

    ``write_spec`` = (out_dir, start_date, end_date, prefix): the task
    names the file with :func:`png_filename`, lands it with
    ``sinks/naming.write_artifact`` and returns one manifest row
    (PNG_MANIFEST_SCHEMA)."""

    def _render(pdf):
        import struct
        import zlib

        import numpy as np
        import pandas as pd

        from netcdf_olap_spark.sinks.naming import write_artifact
        from netcdf_olap_spark.sinks.png import png_filename

        def encode_png(rgba: "np.ndarray") -> bytes:
            """Minimal RGBA8 PNG encoder (no deps)."""
            h, w, _ = rgba.shape
            raw = b"".join(b"\x00" + rgba[r].tobytes() for r in range(h))

            def chunk(tag: bytes, payload: bytes) -> bytes:
                return (
                    struct.pack(">I", len(payload))
                    + tag
                    + payload
                    + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
                )

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)  # 8-bit RGBA
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw, 6))
                + chunk(b"IEND", b"")
            )

        variable = str(pdf["variable"].iloc[0])
        ys = pdf["y"].to_numpy()
        xs = pdf["x"].to_numpy()
        vals = pdf["value"].to_numpy(dtype=np.float64)
        y0, y1 = int(ys.min()), int(ys.max())
        x0, x1 = int(xs.min()), int(xs.max())
        h, w = y1 - y0 + 1, x1 - x0 + 1

        tile = np.full((h, w), np.nan)
        # average duplicate (y, x) cells (multiple timesteps per cell)
        with np.errstate(invalid="ignore"):
            sums = np.zeros((h, w))
            cnts = np.zeros((h, w))
            valid = ~np.isnan(vals)
            np.add.at(sums, (ys[valid] - y0, xs[valid] - x0), vals[valid])
            np.add.at(cnts, (ys[valid] - y0, xs[valid] - x0), 1)
            tile = np.where(cnts > 0, sums / np.maximum(cnts, 1), np.nan)

        finite = tile[~np.isnan(tile)]
        rgba = np.zeros((h, w, 4), dtype=np.uint8)
        if finite.size:
            if shared_breaks is not None:
                # global mode: identical color scale across variables
                breaks = np.asarray(shared_breaks)
            else:
                # per-slice quantile breaks (Gddp.scala:193-203 behavior)
                breaks = np.quantile(finite, np.linspace(0, 1, n_breaks + 1)[1:])
            klass = np.searchsorted(breaks, np.nan_to_num(tile, nan=0.0))
            t = klass.astype(np.float64) / max(n_breaks - 1, 1)
            # the reference's ramp: GeoTrellis "Blue to Orange"
            # (Gddp.scala:232, ColorRamps.BlueToOrange) — the public
            # 12-stop palette, linearly interpolated across the
            # quantile classes exactly as ColorRamp.stops(n) spreads
            # its colors over n breaks
            stops = np.array(
                [
                    (0x25, 0x86, 0xAB), (0x4E, 0xA3, 0xC8), (0x7F, 0xB8, 0xD4),
                    (0xAD, 0xD8, 0xEA), (0xC8, 0xE1, 0xE7), (0xED, 0xEC, 0xEA),
                    (0xF0, 0xE7, 0xBB), (0xF5, 0xCF, 0x7D), (0xF9, 0xB7, 0x37),
                    (0xE6, 0x8F, 0x2D), (0xD7, 0x6B, 0x27), (0xBD, 0x4E, 0x24),
                ],
                dtype=np.float64,
            )
            pos = t * (len(stops) - 1)
            lo = np.clip(np.floor(pos).astype(int), 0, len(stops) - 2)
            frac = (pos - lo)[..., None]
            rgb = stops[lo] * (1 - frac) + stops[lo + 1] * frac
            rgba[..., :3] = np.clip(rgb, 0, 255).astype(np.uint8)
            rgba[..., 3] = np.where(np.isnan(tile), 0, 255).astype(np.uint8)

        rgba = rgba[::-1]  # vertical flip: row 0 = north (README.md:82 fixup)
        png = encode_png(np.ascontiguousarray(rgba))
        out_dir, start_date, end_date, prefix = write_spec
        name = png_filename(variable, start_date, end_date, prefix)
        return pd.DataFrame(
            [
                {
                    "variable": variable,
                    "width": w,
                    "height": h,
                    "n_cells": int(h * w),
                    "n_valid": int(finite.size),
                    **write_artifact(out_dir, name, png),
                }
            ]
        )

    return _render


def _shared_breaks(df: DataFrame, n_breaks: int, global_breaks: bool):
    """``global_breaks`` resolves the reference's consistency-vs-speed
    tradeoff (SURVEY §4 O9) the other way: one extra approxQuantile
    pass over ALL variables' values gives every image the same color
    scale (the whole-tile histogram the reference commented out at
    Gddp.scala:193-203); default False = per-slice breaks, the
    reference's shipped behavior."""
    if not global_breaks:
        return None
    probs = [i / n_breaks for i in range(1, n_breaks + 1)]
    return df.where(F.col("value").isNotNull()).approxQuantile("value", probs, 0.001)


def render_png_files(
    df: DataFrame,
    out_dir: str,
    start_date: str,
    end_date: str,
    prefix: str = "gddp",
    n_breaks: int = 16,
    global_breaks: bool = False,
) -> DataFrame:
    """Render one PNG per variable from a long (variable, y, x, value)
    DataFrame (already sliced/masked upstream). Each image is written
    to ``out_dir`` inside its own rendering task (atomically, by
    ``sinks/naming.write_artifact``) with the reference's filename
    contract; only (path, size, sha256) manifest rows reach the
    driver. ``out_dir`` must be visible to executors and driver (local
    mode / NFS / shared volume)."""
    # fail fast on the driver for caller-supplied components; variable
    # names (data-derived) are re-checked inside the task
    safe_component(prefix, "prefix")
    safe_component(start_date, "start_date")
    safe_component(end_date, "end_date")
    # the task imports the filename contract and the shared writer
    from netcdf_olap_spark.sources.netcdf import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)
    fn = _make_renderer(
        _shared_breaks(df, n_breaks, global_breaks),
        n_breaks,
        write_spec=(str(out_dir), start_date, end_date, prefix),
    )
    return (
        df.select("variable", "y", "x", "value")
        .groupBy("variable")
        .applyInPandas(fn, PNG_MANIFEST_SCHEMA)
    )
