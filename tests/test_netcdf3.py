"""Vendored NetCDF-3 classic reader/writer (sources/netcdf3.py) and
the real `.nc` ingest path (sources/netcdf.auto_decoder): spec-level
byte layout, round-trips, and end-to-end distributed ingest of genuine
classic-format bytes (the reference's input format, Gddp.scala:53-56).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from netcdf_olap_spark.sources import netcdf as src
from netcdf_olap_spark.sources.netcdf3 import (
    NC_DOUBLE,
    NC_FLOAT,
    NC_INT,
    read_netcdf3,
    write_netcdf3,
)

NT, NY, NX = 4, 3, 5
FILL = -9999.0


def _cube(seed: int = 7):
    rng = np.random.default_rng(seed)
    data = rng.normal(280.0, 5.0, (NT, NY, NX)).astype(np.float64)
    data[0, 0, 0] = FILL
    data[2, 2, 4] = FILL
    time_hours = (np.arange(NT) * 24).astype(np.int32)
    lat = (42.0 + 0.5 * np.arange(NY)).astype(np.float64)
    lon = (-84.0 + 0.5 * np.arange(NX)).astype(np.float64)
    return data, time_hours, lat, lon


def _nc_bytes(data, time_hours, lat, lon, var="tas", record_time=True) -> bytes:
    """A rectilinear cube in classic CDF-1 layout, shaped like the
    reference's GDDP inputs: time (record dim) × lat × lon."""
    return write_netcdf3(
        dimensions={"time": None if record_time else len(time_hours), "lat": NY, "lon": NX},
        variables={
            "time": (("time",), time_hours, {"units": "hours since 1990-01-01"}),
            "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
            "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
            var: (("time", "lat", "lon"), data, {"_FillValue": FILL}),
        },
        global_attrs={"title": "unit-test cube"},
    )


# ---------------------------------------------------------------------------
# spec-level layout (hand-checked against the published classic format)
# ---------------------------------------------------------------------------


def test_header_bytes_match_spec():
    """Golden check of the first header fields of a minimal file —
    independently derivable from the NetCDF classic spec, so the
    writer and reader can't just share a bug."""
    x = np.arange(3, dtype=np.int32)
    content = write_netcdf3({"d": 3}, {"v": (("d",), x, {})})

    assert content[:4] == b"CDF\x01"  # magic + version 1
    assert struct.unpack_from(">I", content, 4)[0] == 0  # numrecs = 0
    # dim_list: NC_DIMENSION tag (0x0A), 1 dim
    assert struct.unpack_from(">II", content, 8) == (0x0A, 1)
    # dim name "d": nelems=1, 'd' + 3 pad bytes; then length 3
    assert struct.unpack_from(">I", content, 16)[0] == 1
    assert content[20:24] == b"d\x00\x00\x00"
    assert struct.unpack_from(">I", content, 24)[0] == 3
    # gatt_list ABSENT = (0, 0)
    assert struct.unpack_from(">II", content, 28) == (0, 0)
    # var_list: NC_VARIABLE tag (0x0B), 1 var
    assert struct.unpack_from(">II", content, 36) == (0x0B, 1)
    # var name "v", ndims=1, dimid 0, vatts ABSENT, nc_type INT,
    # vsize = 12 (3 × 4 bytes), begin = header length
    assert struct.unpack_from(">I", content, 44)[0] == 1
    assert content[48:52] == b"v\x00\x00\x00"
    assert struct.unpack_from(">II", content, 52) == (1, 0)  # ndims, dimid
    assert struct.unpack_from(">II", content, 60) == (0, 0)  # vatt ABSENT
    nc_type, vsize, begin = struct.unpack_from(">III", content, 68)
    assert (nc_type, vsize) == (NC_INT, 12)
    assert begin == 80  # header ends exactly here
    assert len(content) == 80 + 12
    # payload is big-endian 0,1,2
    assert content[80:92] == b"\x00\x00\x00\x00\x00\x00\x00\x01\x00\x00\x00\x02"


def test_roundtrip_fixed_and_record_vars():
    data, time_hours, lat, lon = _cube()
    nc = read_netcdf3(_nc_bytes(data, time_hours, lat, lon))

    assert nc.dimensions == {"time": None, "lat": NY, "lon": NX}
    assert nc.attributes["title"] == "unit-test cube"
    v = nc.variables["tas"]
    assert v.shape == (NT, NY, NX)
    assert v.nc_type == NC_DOUBLE
    assert v.attributes["_FillValue"] == FILL
    np.testing.assert_array_equal(np.asarray(v.data, dtype=np.float64), data)
    np.testing.assert_array_equal(np.asarray(nc.variables["time"].data), time_hours)
    assert nc.variables["lat"].attributes["long_name"] == "latitude coordinate"


def test_roundtrip_no_record_dim():
    data, time_hours, lat, lon = _cube()
    nc = read_netcdf3(_nc_bytes(data, time_hours, lat, lon, record_time=False))
    assert nc.dimensions["time"] == NT
    np.testing.assert_array_equal(
        np.asarray(nc.variables["tas"].data, dtype=np.float64), data
    )


def test_roundtrip_multiple_record_vars_padding():
    """Two record vars exercise the per-record interleaved layout;
    a float32 var checks NC_FLOAT handling."""
    a = np.arange(6, dtype=np.float32).reshape(3, 2)
    b = np.arange(60, dtype=np.float64).reshape(3, 20) / 7.0
    content = write_netcdf3(
        {"t": None, "p": 2, "q": 20},
        {"a": (("t", "p"), a, {}), "b": (("t", "q"), b, {})},
    )
    nc = read_netcdf3(content)
    assert nc.variables["a"].nc_type == NC_FLOAT
    np.testing.assert_array_equal(np.asarray(nc.variables["a"].data, np.float32), a)
    np.testing.assert_array_equal(np.asarray(nc.variables["b"].data, np.float64), b)


def test_single_short_record_var_unpadded():
    """Spec special case: a lone short record var packs records with
    NO padding (record stride 2×3=6 bytes, not padded to 8)."""
    s = np.arange(12, dtype=np.int16).reshape(4, 3)
    content = write_netcdf3({"t": None, "k": 3}, {"s": (("t", "k"), s, {})})
    nc = read_netcdf3(content)
    np.testing.assert_array_equal(np.asarray(nc.variables["s"].data, np.int16), s)
    # total data bytes = 4 records × 6 bytes, unpadded
    begin = len(content) - 24
    assert nc.variables["s"].shape == (4, 3)


@pytest.mark.parametrize("dtype", [np.int8, np.int16, np.int32, np.float32, np.float64])
def test_roundtrip_dtypes(dtype):
    a = (np.arange(24) % 100).astype(dtype).reshape(2, 3, 4)
    nc = read_netcdf3(write_netcdf3({"t": 2, "y": 3, "x": 4}, {"v": (("t", "y", "x"), a, {})}))
    np.testing.assert_array_equal(np.asarray(nc.variables["v"].data, dtype), a)


def test_roundtrip_property():
    """Randomized round-trip: arbitrary dim sizes, dtype mix, record
    and fixed vars, numeric + string attributes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    dtypes = [np.int16, np.int32, np.float32, np.float64]

    @settings(max_examples=25, deadline=None)
    @given(st.data())
    def run(data):
        nrec = data.draw(st.integers(0, 4))
        fix = data.draw(st.integers(1, 5))
        nvars = data.draw(st.integers(1, 4))
        rng = np.random.default_rng(data.draw(st.integers(0, 2**31 - 1)))
        dims = {"rec": None, "fix": fix}
        variables = {}
        arrays = {}
        for i in range(nvars):
            dt = data.draw(st.sampled_from(dtypes))
            is_rec = data.draw(st.booleans())
            shape = (nrec, fix) if is_rec else (fix,)
            arr = (rng.integers(-1000, 1000, shape)).astype(dt)
            attrs = {"note": f"v{i}", "scale": 2.5} if data.draw(st.booleans()) else {}
            variables[f"v{i}"] = (("rec", "fix") if is_rec else ("fix",), arr, attrs)
            arrays[f"v{i}"] = arr
        content = write_netcdf3(dims, variables, global_attrs={"gen": "hyp"})
        nc = read_netcdf3(content)
        for name, arr in arrays.items():
            got = np.asarray(nc.variables[name].data, arr.dtype)
            if got.shape[0] != arr.shape[0] and len(arr.shape) == 2:
                # writer pads shorter record vars with zero records
                got = got[: arr.shape[0]]
            np.testing.assert_array_equal(got, arr)

    run()


def test_rejects_non_classic():
    with pytest.raises(ValueError, match="CDF magic"):
        read_netcdf3(b"\x89HDF\r\n")
    with pytest.raises(ValueError, match="version"):
        read_netcdf3(b"CDF\x03" + b"\x00" * 16)  # 3/4 were never assigned


# ---------------------------------------------------------------------------
# decoder + distributed ingest on genuine .nc bytes
# ---------------------------------------------------------------------------


def test_netcdf3_decoder_matches_reference_semantics():
    """Fill→NaN, 1990-epoch hours, rectilinear axes meshed to 2-D —
    the same frame cube_to_pandas produces from raw arrays."""
    data, time_hours, lat, lon = _cube()
    frames = list(src.auto_decoder(_nc_bytes(data, time_hours, lat, lon), ds="d1"))
    assert len(frames) == 1
    got = frames[0]

    lon2, lat2 = np.meshgrid(lon, lat)
    want = src.cube_to_pandas("d1", "tas", data, time_hours, lat2, lon2, FILL)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )
    assert got["value"].isna().sum() == 2  # the two FILL cells
    assert got["time"].min() == pd.Timestamp("1990-01-01")


def test_ingest_directory_real_nc_files(spark, tmp_path):
    """End-to-end S1: genuine classic-format .nc files through the
    default decoder path — binaryFile →
    mapInPandas → GRID_SCHEMA rows."""
    d1, th, lat, lon = _cube(1)
    d2, _, _, _ = _cube(2)
    (tmp_path / "a.nc").write_bytes(_nc_bytes(d1, th, lat, lon))
    (tmp_path / "b.nc").write_bytes(_nc_bytes(d2, (th + NT * 24).astype(np.int32), lat, lon))

    df = src.ingest_directory(spark, str(tmp_path), ds="gddp")
    assert df.schema == src.GRID_SCHEMA
    assert df.count() == 2 * NT * NY * NX
    assert df.select("time").distinct().count() == 2 * NT
    # 2 fill cells per file became NULL
    assert df.where(df.value.isNull()).count() == 4


# ---------------------------------------------------------------------------
# CDF-2 / CDF-5 variants
# ---------------------------------------------------------------------------


def test_cdf5_header_bytes_match_spec():
    """CDF-5 golden check: every NON_NEG widens to 8 bytes (numrecs,
    counts, name lengths, dim lengths, vsize) while tags, dimids, and
    nc_type stay 4-byte — independently derivable from the published
    64-bit-data spec."""
    x = np.arange(3, dtype=np.int64)
    content = write_netcdf3({"d": 3}, {"v": (("d",), x, {})}, version=5)

    assert content[:4] == b"CDF\x05"
    assert struct.unpack_from(">Q", content, 4)[0] == 0  # numrecs (8B)
    assert struct.unpack_from(">I", content, 12)[0] == 0x0A  # dim tag (4B)
    assert struct.unpack_from(">Q", content, 16)[0] == 1  # ndims (8B)
    assert struct.unpack_from(">Q", content, 24)[0] == 1  # name len (8B)
    assert content[32:36] == b"d\x00\x00\x00"
    assert struct.unpack_from(">Q", content, 36)[0] == 3  # dim length (8B)
    # gatt ABSENT: tag (4B) + count (8B)
    assert struct.unpack_from(">I", content, 44)[0] == 0
    assert struct.unpack_from(">Q", content, 48)[0] == 0
    # var_list tag + count
    assert struct.unpack_from(">I", content, 56)[0] == 0x0B
    assert struct.unpack_from(">Q", content, 60)[0] == 1
    p = 68
    assert struct.unpack_from(">Q", content, p)[0] == 1  # name len
    assert content[p + 8 : p + 12] == b"v\x00\x00\x00"
    p += 12
    assert struct.unpack_from(">Q", content, p)[0] == 1  # ndims (8B)
    assert struct.unpack_from(">I", content, p + 8)[0] == 0  # dimid (4B!)
    p += 12
    assert struct.unpack_from(">I", content, p)[0] == 0  # vatt tag
    assert struct.unpack_from(">Q", content, p + 4)[0] == 0
    p += 12
    nc_type = struct.unpack_from(">I", content, p)[0]
    vsize = struct.unpack_from(">Q", content, p + 4)[0]
    begin = struct.unpack_from(">Q", content, p + 12)[0]
    assert nc_type == 10  # NC_INT64
    assert vsize == 24  # 3 × 8 bytes
    assert begin == p + 20  # header ends exactly here
    assert len(content) == begin + 24


@pytest.mark.parametrize("version", [2, 5])
def test_cdf_versions_roundtrip(version):
    data, th, lat, lon = _cube()
    b = write_netcdf3(
        dimensions={"time": None, "lat": NY, "lon": NX},
        variables={
            "time": (("time",), th, {}),
            "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
            "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
            "tas": (("time", "lat", "lon"), data, {"_FillValue": FILL}),
        },
        version=version,
    )
    assert b[3] == version
    f = read_netcdf3(b)
    np.testing.assert_allclose(f.variables["tas"].data, data)
    np.testing.assert_allclose(f.variables["lat"].data, lat)
    assert f.variables["tas"].attributes["_FillValue"] == FILL


def test_cdf5_wide_and_unsigned_types():
    from netcdf_olap_spark.sources.netcdf3 import NC_INT64, NC_UBYTE, NC_UINT, NC_UINT64, NC_USHORT

    rng = np.random.default_rng(6)
    arrays = {
        "i64": rng.integers(-(2**60), 2**60, 7).astype(np.int64),
        "u8": rng.integers(0, 255, 7).astype(np.uint8),
        "u16": rng.integers(0, 2**16, 7).astype(np.uint16),
        "u32": rng.integers(0, 2**32, 7).astype(np.uint32),
        "u64": rng.integers(0, 2**63, 7).astype(np.uint64),
    }
    b = write_netcdf3({"k": 7}, {nm: (("k",), a, {}) for nm, a in arrays.items()}, version=5)
    f = read_netcdf3(b)
    for nm, a in arrays.items():
        np.testing.assert_array_equal(f.variables[nm].data, a)
    want_types = {"i64": NC_INT64, "u8": NC_UBYTE, "u16": NC_USHORT, "u32": NC_UINT, "u64": NC_UINT64}
    for nm, t in want_types.items():
        assert f.variables[nm].nc_type == t
    # CDF-1 narrows i64 and rejects unsigned
    with pytest.raises(ValueError, match="unsupported dtype uint"):
        write_netcdf3({"k": 7}, {"u": (("k",), arrays["u32"], {})}, version=1)


def test_cdf5_record_vars_roundtrip():
    rng = np.random.default_rng(8)
    a = rng.normal(0, 1, (5, 4))
    c = rng.integers(0, 100, (5, 3)).astype(np.int64)
    b = write_netcdf3(
        dimensions={"t": None, "p": 4, "q": 3},
        variables={"a": (("t", "p"), a, {}), "c": (("t", "q"), c, {})},
        version=5,
    )
    f = read_netcdf3(b)
    np.testing.assert_allclose(f.variables["a"].data, a)
    np.testing.assert_array_equal(f.variables["c"].data, c)


def test_cdf5_through_ingest_decoder(spark, tmp_path):
    """A CDF-5 .nc file flows through the default distributed ingest
    path (auto_decoder dispatches on the CDF magic regardless of the
    version byte)."""
    data, th, lat, lon = _cube(4)
    b = write_netcdf3(
        dimensions={"time": None, "lat": NY, "lon": NX},
        variables={
            "time": (("time",), th.astype(np.int64), {}),
            "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
            "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
            "tas": (("time", "lat", "lon"), data, {"_FillValue": FILL}),
        },
        version=5,
    )
    (tmp_path / "v5.nc").write_bytes(b)
    df = src.ingest_directory(spark, str(tmp_path), ds="cdf5")
    assert df.count() == NT * NY * NX
    assert df.where(df.value.isNull()).count() == 2


# ---------------------------------------------------------------------------
# corrupt record geometry (round 7 review)
# ---------------------------------------------------------------------------


def _record_var_header(numrecs: int, vsize: int) -> bytes:
    """Minimal hand-built CDF-1 header: one record dimension, one
    NC_INT record variable with a caller-controlled vsize field."""

    def nm(s: str) -> bytes:
        b = s.encode()
        return struct.pack(">I", len(b)) + b + b"\x00" * (-len(b) % 4)

    hdr = b"CDF\x01"
    hdr += struct.pack(">I", numrecs)
    hdr += struct.pack(">II", 0x0A, 1) + nm("t") + struct.pack(">I", 0)  # record dim
    hdr += struct.pack(">II", 0, 0)  # no global attrs
    var = nm("v") + struct.pack(">I", 1) + struct.pack(">I", 0)  # 1 dim, dimid 0
    var += struct.pack(">II", 0, 0)  # no var attrs
    var += struct.pack(">I", 4)  # NC_INT
    var += struct.pack(">I", vsize)
    hdr += struct.pack(">II", 0x0B, 1) + var
    return hdr + struct.pack(">I", len(hdr) + 4)  # begin = just past header


def test_zeroed_vsize_with_huge_numrecs_raises():
    """recsize == 0 (zeroed vsize fields) must not bypass the numrecs
    plausibility guard: the slab loop's offset stride would be 0 and a
    header-controlled numrecs (up to 2^32-1) would spin billions of
    frombuffer views instead of raising."""
    with pytest.raises(ValueError, match="exceeds the 0 records"):
        read_netcdf3(_record_var_header(numrecs=0xFFFFFF00, vsize=0))


def test_streaming_sentinel_with_zeroed_vsize_reads_empty():
    """The streaming sentinel (numrecs = 0xFFFFFFFF, records-to-EOF)
    over a zero-recsize header resolves to zero records cleanly."""
    f = read_netcdf3(_record_var_header(numrecs=0xFFFFFFFF, vsize=0))
    assert f.variables["v"].shape == (0,)


def test_truncated_final_record_padding_tolerated():
    """A classic file whose FINAL record lost only its trailing
    alignment padding (all data bytes present) must read — scipy and
    other readers tolerate these (r7 advice). Losing actual data
    bytes must still raise."""
    import numpy as np

    a = np.arange(3, dtype=np.int16)
    b = np.arange(10, 13, dtype=np.int16)
    content = write_netcdf3(
        {"t": None},
        {"a": (("t",), a, {}), "b": (("t",), b, {})},
    )
    # two int16 record vars -> each padded to 4 per record; the file
    # ends with b's last-record 2 padding bytes
    nc = read_netcdf3(content[:-2])
    assert nc.variables["a"].data.tolist() == [0, 1, 2]
    assert nc.variables["b"].data.tolist() == [10, 11, 12]
    with pytest.raises(ValueError):
        read_netcdf3(content[:-4])  # data bytes missing, not padding
