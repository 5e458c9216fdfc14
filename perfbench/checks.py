"""Output checks, independent of the engine's own operators.

Every served zip, every ingest output and every panel query is checked here;
the expected counts come from DuckDB over the same generated cube, with the
point-in-polygon test written below rather than taken from
``netcdf_olap_spark.operators.spatial``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import io
import json
import math
import zipfile

from inputs import DS

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _dbl(v: float) -> str:
    # quoted: DuckDB parses bare literals as DECIMAL and rounds the tail digits
    return f"CAST('{v!r}' AS DOUBLE)"


def pip_sql(ring: list[list[float]]) -> str:
    """Even-odd ray cast over (lon, lat) as one DuckDB boolean expression."""
    terms = []
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if y1 == y2:
            continue
        cond = f"(({_dbl(y1)} > lat) <> ({_dbl(y2)} > lat))"
        xcross = f"({_dbl(x2 - x1)} * (lat - {_dbl(y1)}) / {_dbl(y2 - y1)} + {_dbl(x1)})"
        terms.append(f"CAST(({cond} AND lon < {xcross}) AS INTEGER)")
    return f"(({' + '.join(terms)}) % 2 = 1)"


def expected_counts(con, cube: str, request: dict) -> dict[str, int]:
    """Non-null cell count per requested variable inside the request's polygon
    and inclusive date range."""
    start, end = request["selectDate"].split(",")
    ring = request["geoJson"]["coordinates"][0]
    vars_sql = ", ".join(f"'{v}'" for v in request["variables"])
    rows = con.execute(
        f"""
        SELECT variable, count(value) FROM read_parquet('{cube}')
        WHERE variable IN ({vars_sql})
          AND time >= TIMESTAMP '{start}' AND time < TIMESTAMP '{end}' + INTERVAL 1 DAY
          AND {pip_sql(ring)}
        GROUP BY variable
        """
    ).fetchall()
    out = {v: 0 for v in request["variables"]}
    out.update({v: int(n) for v, n in rows})
    return out


def png_dims(data: bytes) -> tuple[int, int]:
    if data[:8] != PNG_SIGNATURE or data[12:16] != b"IHDR":
        raise ValueError("not a PNG with a leading IHDR chunk")
    return int.from_bytes(data[16:20], "big"), int.from_bytes(data[20:24], "big")


def nc_non_fill_count(data: bytes) -> int:
    """Decode one .nc with the vendored readers and count its non-fill cells."""
    from netcdf_olap_spark.sources.netcdf import auto_decoder

    return int(sum(int(pdf["value"].notna().sum()) for pdf in auto_decoder(data, DS)))


def check_served_zip(con, cube: str, request: dict, body: bytes) -> str | None:
    """None when the zip holds exactly the expected artifacts and each passes
    its content check; else a one-line reason."""
    fmt = request["format"]
    start, end = request["selectDate"].split(",")
    with zipfile.ZipFile(io.BytesIO(body)) as z:
        entries = {i.filename: z.read(i.filename) for i in z.infolist()}
    if fmt == "png":
        want = {f"gddp{v}{start}-{end}.png": v for v in request["variables"]}
    else:
        flavor = "classic" if fmt == "nc" else "hdf5"
        want = {f"{DS}_{v}_{flavor}.nc": v for v in request["variables"]}
    if set(entries) != set(want):
        return f"zip entries {sorted(entries)} != {sorted(want)}"
    if fmt == "png":
        for name, data in entries.items():
            w, h = png_dims(data)
            if w <= 0 or h <= 0:
                return f"{name}: IHDR {w}x{h}"
        return None
    expected = expected_counts(con, cube, request)
    for name, data in entries.items():
        got = nc_non_fill_count(data)
        if got != expected[want[name]]:
            return f"{name}: {got} non-fill cells, DuckDB counts {expected[want[name]]}"
    return None


def parquet_counts(con, glob: str, where: str = "TRUE") -> tuple[int, int]:
    """(rows, non-null values) over Parquet files matching ``glob``."""
    n, nv = con.execute(
        f"SELECT count(*), count(value) FROM read_parquet('{glob}', hive_partitioning = true) WHERE {where}"
    ).fetchone()
    return int(n), int(nv)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return repr(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        # exact value, independent of the engine's numeric type and scale
        return format(decimal.Decimal(v).normalize(), "f")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of a result, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(json.dumps([_canon(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return len(rows), h.hexdigest()
