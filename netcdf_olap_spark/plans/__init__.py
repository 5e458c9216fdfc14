"""Query descriptor → DataFrame plan builder.

The reference's "logical plan" is the triple (dateRange, variables[],
polygon) carried as JSON → argv → a hyperslab spec string
(SURVEY.md §3.1 "IR at each stage"). Here the descriptor compiles
directly to a DataFrame expression and Catalyst does the rest —
no subprocess, no string IR.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netcdf_olap_spark.operators import slice as slice_ops
from netcdf_olap_spark.operators import spatial


@dataclass
class CubeQuery:
    """(dateRange, variables, polygon) — the reference's query
    descriptor (main.py:22-24: selectDate / variables / geoJson;
    Gddp.scala:102-115: argv)."""

    start_date: str
    end_date: str
    variables: list[str] = field(default_factory=list)
    polygon: list[tuple[float, float]] | None = None  # closed (lon, lat) ring

    def apply(self, grid: DataFrame) -> DataFrame:
        """Slice the cube: variable projection → time range →
        coarse bbox → fine polygon mask. Every native stage pushes
        down; only in-envelope rows cross the Arrow boundary."""
        df = grid
        if self.variables:
            df = slice_ops.select_variables(df, self.variables)
        df = slice_ops.time_range(df, self.start_date, self.end_date)
        if self.polygon is not None:
            df = spatial.polygon_mask(df, self.polygon)
        return df

    def aggregate(self, grid: DataFrame) -> DataFrame:
        """The flagship query: per-variable stats of the masked,
        date-ranged slice — what the reference renders as one PNG per
        variable (Gddp.scala:164-239), minus the rendering."""
        from netcdf_olap_spark.functions import decimal_avg

        return (
            self.apply(grid)
            .groupBy("variable")
            .agg(
                F.count("value").alias("n_vals"),
                decimal_avg("value").alias("avg_val"),
                F.min("value").alias("min_val"),
                F.max("value").alias("max_val"),
            )
            .orderBy("variable")
        )

    def render(self, grid: DataFrame, out_dir: str) -> list[str]:
        """The reference's full product path (Gddp.scala:164-239):
        slice → mask → per-variable PNG, written with the
        ``gddp<var><start>-<end>.png`` filename contract. Each image is
        written by its rendering task; returns the written paths."""
        from netcdf_olap_spark.sinks import render_png_files

        manifest = render_png_files(self.apply(grid), out_dir, self.start_date, self.end_date)
        return [row.path for row in manifest.collect()]
