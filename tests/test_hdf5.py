"""Vendored HDF5 (NetCDF-4 container) reader/writer (sources/hdf5.py)
and the NetCDF-4 ingest path (sources/netcdf.auto_decoder): spec-level
byte layout, round-trips (contiguous, chunked, deflate/shuffle
filters, edge chunks), and end-to-end distributed ingest of a MIXED
.nc directory (classic + HDF5 files, auto-dispatched on magic bytes)
— the same dual-format surface the
reference gets from NetCDF-Java (Gddp.scala:53-56, `edu.ucar:cdm`).

Round-trip tests alone could hide complementary writer/reader bugs,
so the structural tests assert raw on-disk fields straight from the
public HDF5 File Format Specification: superblock offsets, object
header versions, message type codes, B-tree/heap/SNOD signatures.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from netcdf_olap_spark.sources import netcdf as src
from netcdf_olap_spark.sources.hdf5 import (
    HDF5_MAGIC,
    MSG_ATTRIBUTE,
    MSG_DATASPACE,
    MSG_DATATYPE,
    MSG_FILL,
    MSG_FILTER,
    MSG_LAYOUT,
    MSG_SYMBOL_TABLE,
    UNDEF,
    _Reader,
    is_hdf5,
    read_hdf5,
    write_hdf5,
)
from netcdf_olap_spark.sources.netcdf3 import write_netcdf3

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


def _h5_bytes(data, time_hours, lat, lon, var="tas", **kw) -> bytes:
    """The reference-shaped cube as a NetCDF-4-style HDF5 file."""
    return write_hdf5(
        {
            "time": (time_hours, {"long_name": "time", "units": "hours since 1990-01-01"}),
            "lat": (lat, {"long_name": "latitude coordinate"}),
            "lon": (lon, {"long_name": "longitude coordinate"}),
            var: (data, {"_FillValue": FILL, "long_name": "air temperature"}),
        },
        global_attrs={"title": "unit-test cube"},
        **kw,
    )


# ---------------------------------------------------------------------------
# spec-level layout (hand-checked against the published HDF5 format spec)
# ---------------------------------------------------------------------------


def test_superblock_bytes_match_spec():
    """Golden check of superblock v1 fields at their documented
    offsets (HDF5 spec section II): v0 plus the indexed-storage K
    field between the consistency flags and the base address."""
    from netcdf_olap_spark.sources.hdf5 import GROUP_LEAF_K, INDEXED_K

    data, th, lat, lon = _cube()
    b = _h5_bytes(data, th, lat, lon)

    assert b[:8] == HDF5_MAGIC == b"\x89HDF\r\n\x1a\n"
    assert b[8] == 1  # superblock version 1 (declares chunk B-tree K)
    assert b[9] == 0 and b[10] == 0  # free-space / root-STE versions
    assert b[13] == 8 and b[14] == 8  # size of offsets / lengths
    leaf_k, internal_k = struct.unpack_from("<HH", b, 16)
    assert (leaf_k, internal_k) == (GROUP_LEAF_K, 16)
    indexed_k = struct.unpack_from("<H", b, 24)[0]
    assert indexed_k == INDEXED_K
    base, _fs, eof, _drv = struct.unpack_from("<QQQQ", b, 28)
    assert base == 0
    assert eof == len(b)  # end-of-file address == actual size

    # root symbol-table entry: object header + cached btree/heap addrs
    ste = 60
    root_ohdr = struct.unpack_from("<Q", b, ste + 8)[0]
    cache_type = struct.unpack_from("<I", b, ste + 16)[0]
    btree, heap = struct.unpack_from("<QQ", b, ste + 24)
    assert cache_type == 1
    assert b[root_ohdr] == 1  # v1 object header
    assert root_ohdr % 8 == 0  # headers stay 8-aligned past the 100-byte superblock
    assert b[btree : btree + 4] == b"TREE"
    assert b[heap : heap + 4] == b"HEAP"


def test_object_header_messages_match_spec():
    """The root header carries a symbol-table message; each dataset
    header carries dataspace+datatype+fill+layout (+attributes), all
    with spec type codes and 8-byte-aligned bodies."""
    data, th, lat, lon = _cube()
    b = _h5_bytes(data, th, lat, lon)
    r = _Reader(b)

    root_types = [t for t, _, _ in r.messages(r.root_header_addr)]
    assert MSG_SYMBOL_TABLE in root_types
    assert MSG_ATTRIBUTE in root_types  # title + _NCProperties

    links = dict(r.group_links(r.root_btree, r.root_heap))
    assert sorted(links) == ["lat", "lon", "tas", "time"]  # SNOD is name-sorted
    tas_types = [t for t, _, _ in r.messages(links["tas"])]
    for required in (MSG_DATASPACE, MSG_DATATYPE, MSG_FILL, MSG_LAYOUT, MSG_ATTRIBUTE):
        assert required in tas_types
    for _t, body_pos, _s in r.messages(links["tas"]):
        assert (body_pos - 8) % 8 == 0  # v1 messages 8-byte aligned


def test_chunked_layout_btree_keys_match_spec():
    """Chunk B-tree: node type 1, level 0, one key per chunk holding
    (stored size, filter mask, offsets...) and a past-the-end key."""
    data, th, lat, lon = _cube()
    b = _h5_bytes(data, th, lat, lon, chunks={"tas": (2, 2, 3)}, gzip=6)
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    assert MSG_FILTER in tas

    kind, btree_addr, chunk_shape = r._parse_layout(tas[MSG_LAYOUT])
    assert kind == "chunked" and chunk_shape == (2, 2, 3)
    assert b[btree_addr : btree_addr + 4] == b"TREE" and b[btree_addr + 4] == 1
    entries = r._chunk_entries(btree_addr, 3)
    # ceil(4/2)*ceil(3/2)*ceil(5/3) chunks, offsets on the chunk grid
    assert len(entries) == 2 * 2 * 2
    for offs, addr, nbytes, mask in entries:
        assert all(o % c == 0 for o, c in zip(offs, (2, 2, 3)))
        assert 0 < nbytes <= len(b) and addr + nbytes <= len(b)
        assert mask == 0


# ---------------------------------------------------------------------------
# round-trips
# ---------------------------------------------------------------------------


def test_roundtrip_contiguous_values_attrs():
    data, th, lat, lon = _cube()
    f = read_hdf5(_h5_bytes(data, th, lat, lon))

    assert sorted(f.variables) == ["lat", "lon", "tas", "time"]
    np.testing.assert_array_equal(f.variables["tas"].data, data)
    np.testing.assert_array_equal(f.variables["time"].data, th)
    np.testing.assert_array_equal(f.variables["lat"].data, lat)
    assert f.variables["time"].dtype == np.dtype("<i4")
    assert f.variables["tas"].attributes["_FillValue"] == FILL
    assert f.variables["lat"].attributes["long_name"] == "latitude coordinate"
    assert f.attributes["title"] == "unit-test cube"
    assert "_NCProperties" in f.attributes  # netCDF-4 convention marker


@pytest.mark.parametrize(
    "kw",
    [
        dict(chunks={"tas": (2, 2, 3)}),
        dict(chunks={"tas": (2, 2, 3)}, gzip=6),
        dict(chunks={"tas": (2, 2, 3)}, shuffle=True),
        dict(chunks={"tas": (3, 2, 2)}, gzip=9, shuffle=True),
        dict(chunks={"tas": (NT, NY, NX)}, gzip=1),  # single chunk
        dict(chunks={"tas": (3, 3, 4)}, gzip=4),  # nothing divides evenly
    ],
)
def test_roundtrip_chunked_filtered(kw):
    data, th, lat, lon = _cube(11)
    f = read_hdf5(_h5_bytes(data, th, lat, lon, **kw))
    np.testing.assert_array_equal(f.variables["tas"].data, data)
    np.testing.assert_array_equal(f.variables["lat"].data, lat)


@pytest.mark.parametrize("dtype", ["<f4", "<f8", "<i2", "<i4", "<i8", "<u4"])
def test_roundtrip_dtypes(dtype):
    rng = np.random.default_rng(3)
    a = rng.integers(0, 120, (6, 7)).astype(dtype)
    f = read_hdf5(write_hdf5({"a": (a, {})}))
    assert f.variables["a"].dtype == np.dtype(dtype)
    np.testing.assert_array_equal(f.variables["a"].data, a)
    fc = read_hdf5(write_hdf5({"a": (a, {})}, chunks={"a": (4, 4)}, gzip=2, shuffle=True))
    np.testing.assert_array_equal(fc.variables["a"].data, a)


def test_roundtrip_attr_kinds():
    a = np.zeros((2, 2), dtype="<f8")
    attrs = {
        "s": "hello world",
        "f": 2.75,
        "i": 42,
        "arr_f": np.array([1.5, 2.5, 3.5]),
        "arr_i": np.array([1, 2, 3], dtype="<i8"),
    }
    f = read_hdf5(write_hdf5({"a": (a, attrs)}))
    got = f.variables["a"].attributes
    assert got["s"] == "hello world"
    assert got["f"] == 2.75 and got["i"] == 42
    np.testing.assert_array_equal(got["arr_f"], attrs["arr_f"])
    np.testing.assert_array_equal(got["arr_i"], attrs["arr_i"])


def test_roundtrip_property():
    """Randomized shapes/chunks/dtypes survive the round-trip."""
    rng = np.random.default_rng(17)
    for trial in range(25):
        ndim = int(rng.integers(1, 4))
        shape = tuple(int(rng.integers(1, 9)) for _ in range(ndim))
        dtype = rng.choice(["<f4", "<f8", "<i4", "<i8"])
        a = (rng.normal(0, 100, shape)).astype(dtype)
        use_chunks = bool(rng.integers(0, 2))
        kw = {}
        if use_chunks:
            kw["chunks"] = {"v": tuple(int(rng.integers(1, s + 2)) for s in shape)}
            if rng.integers(0, 2):
                kw["gzip"] = int(rng.integers(1, 9))
            kw["shuffle"] = bool(rng.integers(0, 2))
        f = read_hdf5(write_hdf5({"v": (a, {"t": trial})}, **kw))
        np.testing.assert_array_equal(f.variables["v"].data, a, err_msg=str(kw))


def test_rejects_non_hdf5_and_unsupported():
    with pytest.raises(ValueError, match="not an HDF5 file"):
        read_hdf5(b"CDF\x01" + b"\x00" * 100)
    assert not is_hdf5(b"CDF\x01")

    good = write_hdf5({"a": (np.zeros(3), {})})
    # flip the superblock version byte to an unknown value → clear error
    bad = bytearray(good)
    bad[8] = 4
    with pytest.raises(NotImplementedError, match="superblock version 4"):
        read_hdf5(bytes(bad))


def test_unsupported_attr_datatype_is_skipped_not_fatal():
    """Real netCDF-4 files attach DIMENSION_LIST/REFERENCE_LIST
    attributes with vlen-reference/compound datatypes; those must skip
    cleanly (the dataspace already gives us shape), never fail the
    file. Simulated by patching an attribute's datatype class to 7
    (reference)."""
    b = bytearray(write_hdf5({"a": (np.arange(6.0), {"keep": 1, "zz": 7})}))
    r = _Reader(bytes(b))
    links = dict(r.group_links(r.root_btree, r.root_heap))
    patched = 0
    for t, pos, _s in r.messages(links["a"]):
        if t != MSG_ATTRIBUTE:
            continue
        name_size = struct.unpack_from("<H", b, pos + 2)[0]
        name = bytes(b[pos + 8 : pos + 8 + name_size]).split(b"\x00")[0].decode()
        if name == "zz":
            dt_pos = pos + 8 + ((name_size + 7) & ~7)
            b[dt_pos] = (1 << 4) | 7  # datatype v1, class 7 = reference
            patched += 1
    assert patched == 1
    f = read_hdf5(bytes(b))
    assert f.variables["a"].attributes == {"keep": 1}  # zz skipped, keep intact
    np.testing.assert_array_equal(f.variables["a"].data, np.arange(6.0))


def test_corrupt_bytes_fail_fast_never_hang():
    """An ingest path that accepts arbitrary bytes must fail loudly
    and FINITELY on corruption: truncations at every granularity,
    random byte flips, and a crafted self-referencing continuation
    message (which would loop forever without the cycle guards) all
    raise within bounded time."""
    rng = np.random.default_rng(99)
    data, th, lat, lon = _cube(12)
    good = _h5_bytes(data, th, lat, lon, chunks={"tas": (2, 2, 3)}, gzip=6)

    for cut in (9, 48, 96, 200, len(good) // 2, len(good) - 8):
        try:
            read_hdf5(good[:cut])
        except Exception:
            pass  # any exception is fine; hanging or success is not

    for _trial in range(30):
        bad = bytearray(good)
        for pos in rng.integers(8, len(bad), size=12):
            bad[pos] = rng.integers(0, 256)
        try:
            f = read_hdf5(bytes(bad))
            # flips may land in data bytes only — then the parse
            # succeeds with different values, which is fine
            assert isinstance(f.variables, dict)
        except Exception:
            pass

    # crafted cycle: point a v1 continuation message at its own header
    r = _Reader(good)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    ohdr = links["tas"]
    evil = bytearray(good)
    hdr_size = struct.unpack_from("<I", evil, ohdr + 8)[0]
    # overwrite the first message with a continuation pointing at the
    # same block (type 0x10, size 16, flags 0, then offset+length)
    struct.pack_into("<HHB3x", evil, ohdr + 16, 0x0010, 16, 0)
    struct.pack_into("<QQ", evil, ohdr + 24, ohdr + 16, hdr_size)
    with pytest.raises(Exception):
        read_hdf5(bytes(evil))


def test_contiguous_unallocated_data_reads_as_fill():
    """A dataset whose contiguous address is UNDEF (declared, never
    written — legal HDF5) yields an all-NaN float array."""
    b = bytearray(write_hdf5({"a": (np.ones((2, 3)), {})}))
    r = _Reader(bytes(b))
    links = dict(r.group_links(r.root_btree, r.root_heap))
    pos = {t: p for t, p, _ in r.messages(links["a"])}[MSG_LAYOUT]
    assert b[pos] == 3 and b[pos + 1] == 1  # layout v3, contiguous
    struct.pack_into("<Q", b, pos + 2, UNDEF)
    f = read_hdf5(bytes(b))
    assert f.variables["a"].shape == (2, 3)
    assert np.isnan(f.variables["a"].data).all()


# ---------------------------------------------------------------------------
# version-4 data layouts (HDF5 ≥1.10 chunk indexes)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "kw",
    [
        dict(chunks={"tas": (NT, NY, NX)}, chunk_index="single"),
        dict(chunks={"tas": (NT, NY, NX)}, chunk_index="single", gzip=6, shuffle=True),
        dict(chunks={"tas": (2, 2, 3)}, chunk_index="implicit"),
        dict(chunks={"tas": (2, 2, 3)}, chunk_index="fixed_array"),
        dict(chunks={"tas": (3, 3, 4)}, chunk_index="fixed_array", gzip=4, shuffle=True),
        dict(chunks={"tas": (2, 2, 3)}, chunk_index="fixed_array", gzip=1, libver="latest"),
    ],
)
def test_roundtrip_layout_v4_indexes(kw):
    """Single-chunk, implicit, and fixed-array chunk indexes read back
    identically to the v1-B-tree profile."""
    data, th, lat, lon = _cube(31)
    f = read_hdf5(_h5_bytes(data, th, lat, lon, **kw))
    np.testing.assert_array_equal(f.variables["tas"].data, data)
    f3 = read_hdf5(_h5_bytes(data, th, lat, lon, chunks=kw["chunks"]))
    np.testing.assert_array_equal(f3.variables["tas"].data, data)


def test_layout_v4_fixed_array_structure_matches_spec():
    """FAHD/FADB on-disk fields at their documented offsets, with
    lookup3 checksums over the preceding bytes."""
    from netcdf_olap_spark.sources.hdf5 import lookup3

    data, th, lat, lon = _cube(33)
    b = _h5_bytes(data, th, lat, lon, chunks={"tas": (2, 2, 3)}, chunk_index="fixed_array", gzip=6)
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    pos = tas[MSG_LAYOUT]
    assert b[pos] == 4 and b[pos + 1] == 2  # layout v4, chunked
    kind, dims, index_type, (fa_addr,) = r._parse_layout(pos)
    assert kind == "chunked4" and index_type == 3
    assert dims == (2, 2, 3, 8)  # chunk dims + trailing element size

    assert b[fa_addr : fa_addr + 4] == b"FAHD"
    client, entry_size, page_bits = b[fa_addr + 5], b[fa_addr + 6], b[fa_addr + 7]
    assert client == 1 and entry_size == 20 and page_bits == 10  # filtered entries
    max_entries, db_addr = struct.unpack_from("<QQ", b, fa_addr + 8)
    assert max_entries == 2 * 2 * 2  # ceil-div chunk grid
    assert struct.unpack_from("<I", b, fa_addr + 24)[0] == lookup3(b[fa_addr : fa_addr + 24])
    assert b[db_addr : db_addr + 4] == b"FADB"
    assert struct.unpack_from("<Q", b, db_addr + 6)[0] == fa_addr  # back-pointer

    entries = r._chunk_entries_v4((NT, NY, NX), (2, 2, 3), 8, 3, (fa_addr,), True)
    assert len(entries) == 8
    assert sorted(e[0] for e in entries) == sorted(
        (t, y, x) for t in (0, 2) for y in (0, 2) for x in (0, 3)
    )


# ---------------------------------------------------------------------------
# "latest" libver profile (superblock v2 + OHDR headers + link messages)
# ---------------------------------------------------------------------------


def test_lookup3_published_vectors():
    """The checksum v2 structures carry, pinned to the algorithm's
    published self-test values (Jenkins lookup3.c driver)."""
    from netcdf_olap_spark.sources.hdf5 import lookup3

    assert lookup3(b"") == 0xDEADBEEF
    assert lookup3(b"Four score and seven years ago") == 0x17770551
    assert lookup3(b"Four score and seven years ago", 1) == 0xCD628161


def test_latest_superblock_bytes_match_spec():
    data, th, lat, lon = _cube()
    b = _h5_bytes(data, th, lat, lon, libver="latest")
    from netcdf_olap_spark.sources.hdf5 import lookup3

    assert b[:8] == HDF5_MAGIC
    assert b[8] == 2  # superblock v2
    assert b[9] == 8 and b[10] == 8  # offset/length sizes
    base, _ext, eof, root = struct.unpack_from("<QQQQ", b, 12)
    assert base == 0 and eof == len(b)
    assert b[root : root + 4] == b"OHDR" and b[root + 4] == 2
    # trailing superblock checksum is the lookup3 of the preceding bytes
    assert struct.unpack_from("<I", b, 44)[0] == lookup3(b[:44])


@pytest.mark.parametrize(
    "kw",
    [dict(), dict(chunks={"tas": (2, 2, 3)}, gzip=6, shuffle=True), dict(chunks={"tas": (3, 3, 4)})],
)
def test_latest_roundtrip(kw):
    """v2 headers + link-message group read back identically to the
    symbol-table profile."""
    data, th, lat, lon = _cube(13)
    f_old = read_hdf5(_h5_bytes(data, th, lat, lon, **kw))
    f_new = read_hdf5(_h5_bytes(data, th, lat, lon, libver="latest", **kw))
    assert sorted(f_new.variables) == sorted(f_old.variables)
    for nm in f_old.variables:
        np.testing.assert_array_equal(f_new.variables[nm].data, f_old.variables[nm].data)
        assert f_new.variables[nm].attributes == f_old.variables[nm].attributes
    assert f_new.attributes == f_old.attributes


def test_latest_decoder_same_grid_rows():
    """Decoded rows are profile-independent."""
    data, th, lat, lon = _cube(21)
    a = list(src.auto_decoder(_h5_bytes(data, th, lat, lon), ds="d"))[0]
    b = list(src.auto_decoder(_h5_bytes(data, th, lat, lon, libver="latest"), ds="d"))[0]
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


# ---------------------------------------------------------------------------
# ingest: decoder semantics + mixed-format directory through Spark
# ---------------------------------------------------------------------------


def test_hdf5_decoder_matches_reference_semantics():
    """Fill→NaN, 1990-epoch hours, rectilinear axes meshed to 2-D —
    identical frame to the classic-format decoder on the same cube."""
    data, th, lat, lon = _cube()
    frames = list(src.auto_decoder(_h5_bytes(data, th, lat, lon), ds="d1"))
    assert len(frames) == 1
    got = frames[0]

    lon2, lat2 = np.meshgrid(lon, lat)
    want = src.cube_to_pandas("d1", "tas", data, th, lat2, lon2, FILL)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))
    assert got["value"].isna().sum() == 2
    assert got["time"].min() == pd.Timestamp("1990-01-01")


def test_auto_decoder_dispatches_on_magic():
    """The SAME cube written as classic CDF-1 and as HDF5 decodes to
    the SAME long frame through auto_decoder."""
    data, th, lat, lon = _cube(5)
    nc3 = write_netcdf3(
        dimensions={"time": None, "lat": NY, "lon": NX},
        variables={
            "time": (("time",), th, {}),
            "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
            "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
            "tas": (("time", "lat", "lon"), data, {"_FillValue": FILL}),
        },
    )
    h5 = _h5_bytes(data, th, lat, lon)
    a = list(src.auto_decoder(nc3, ds="d"))[0]
    b = list(src.auto_decoder(h5, ds="d"))[0]
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_ingest_directory_mixed_formats(spark, tmp_path):
    """End-to-end S1 with a directory that mixes classic and HDF5 .nc
    files — the default decoder path dispatches per file on the
    executors (binaryFile → mapInPandas), like NetCDF-Java's IOSP
    selection in the reference (Gddp.scala:53-56)."""
    d1, th, lat, lon = _cube(1)
    d2, _, _, _ = _cube(2)
    nc3 = write_netcdf3(
        dimensions={"time": None, "lat": NY, "lon": NX},
        variables={
            "time": (("time",), th, {}),
            "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
            "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
            "tas": (("time", "lat", "lon"), d1, {"_FillValue": FILL}),
        },
    )
    (tmp_path / "classic.nc").write_bytes(nc3)
    (tmp_path / "modern.nc").write_bytes(
        _h5_bytes(d2, (th + NT * 24).astype(np.int32), lat, lon, chunks={"tas": (2, 2, 3)}, gzip=6)
    )

    df = src.ingest_directory(spark, str(tmp_path), ds="gddp")
    assert df.schema == src.GRID_SCHEMA
    assert df.count() == 2 * NT * NY * NX
    assert df.select("time").distinct().count() == 2 * NT
    assert df.where(df.value.isNull()).count() == 4  # 2 fill cells per file


def test_cube_stream_mixed_nc_formats(spark, tmp_path):
    """Streaming directory scan over REAL .nc arrivals, one classic
    and one HDF5 file: each lands as a micro-batch, and the stream's
    rows equal ``ingest_directory``'s over the same files."""
    from pyspark.sql import functions as F

    from netcdf_olap_spark.sources.netcdf_datasource import register

    register(spark)
    d = tmp_path / "nc_arrivals"
    d.mkdir()
    d1, th, lat, lon = _cube(1)
    nc3 = write_netcdf3(
        dimensions={"time": None, "lat": NY, "lon": NX},
        variables={
            "time": (("time",), th, {}),
            "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
            "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
            "tas": (("time", "lat", "lon"), d1, {"_FillValue": FILL}),
        },
    )
    (d / "day1.nc").write_bytes(nc3)

    stream = (
        spark.readStream.format("netcdf_cube")
        .options(path=str(d), pattern="*.nc", ds="live")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("nc_arrivals")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("nc_arrivals").count() == d1.size

        d2, _, _, _ = _cube(2)
        (d / "day2.nc").write_bytes(
            _h5_bytes(d2, (th + NT * 24).astype(np.int32), lat, lon, chunks={"tas": (2, 2, 3)}, gzip=6)
        )
        q.processAllAvailable()
        out = spark.table("nc_arrivals")
        assert out.count() == 2 * d1.size
        assert out.where(F.col("value").isNull()).count() == 4  # 2 fills per file
        assert out.select(F.countDistinct("time")).first()[0] == 2 * NT
        # same decoder as the batch ingest: row-for-row equal
        want = src.ingest_directory(spark, str(d), ds="live")
        key = ["variable", "time", "y", "x"]
        assert [tuple(r) for r in out.orderBy(*key).collect()] == [
            tuple(r) for r in want.orderBy(*key).collect()
        ]
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# review fixes: CF packing, defined fill, pushdown
# ---------------------------------------------------------------------------


def test_cf_packed_variable_unpacks_like_netcdf4():
    """CF scale_factor/add_offset packing: an int16-packed cube must
    ingest as unpacked physical values with _FillValue checked against
    the PACKED data — what netCDF4's auto-maskandscale does."""
    packed = np.array(
        [[[100, 200, -127], [300, -127, 500]]], dtype="<i2"
    )  # (1, 2, 3), fill = -127
    content = write_hdf5(
        {
            "time": (np.array([0], dtype="<i4"), {"long_name": "time"}),
            "lat": (np.array([40.0, 41.0]), {"long_name": "latitude coordinate"}),
            "lon": (np.array([-90.0, -89.0, -88.0]), {"long_name": "longitude coordinate"}),
            "tasmax": (
                packed,
                {"_FillValue": -127, "scale_factor": 0.1, "add_offset": 273.0},
            ),
        }
    )
    frames = list(src.auto_decoder(content, ds="cf"))
    got = frames[0]
    vals = got.sort_values(["y", "x"])["value"].to_numpy()
    want = np.array([283.0, 293.0, np.nan, 303.0, np.nan, 323.0])
    np.testing.assert_allclose(vals, want, equal_nan=True)


def test_defined_fill_message_backfills_unallocated():
    """HDF5 semantics: unwritten data reads as the DECLARED fill value
    (not 0) — an int dataset with _FillValue=-127 and an unallocated
    contiguous address must come back all -127."""
    a = np.zeros((2, 3), dtype="<i2")
    b = bytearray(write_hdf5({"a": (a, {"_FillValue": -127})}))
    r = _Reader(bytes(b))
    links = dict(r.group_links(r.root_btree, r.root_heap))
    pos = {t: p for t, p, _ in r.messages(links["a"])}[8]  # MSG_LAYOUT
    struct.pack_into("<Q", b, pos + 2, UNDEF)  # contiguous addr → unallocated
    f = read_hdf5(bytes(b))
    assert (f.variables["a"].data == -127).all()
    # floats without a defined fill still default to NaN
    b2 = bytearray(write_hdf5({"a": (np.ones((2, 2)), {})}))
    r2 = _Reader(bytes(b2))
    links2 = dict(r2.group_links(r2.root_btree, r2.root_heap))
    pos2 = {t: p for t, p, _ in r2.messages(links2["a"])}[8]
    struct.pack_into("<Q", b2, pos2 + 2, UNDEF)
    assert np.isnan(read_hdf5(bytes(b2)).variables["a"].data).all()


def test_variable_pushdown_skips_unlisted_cubes():
    """read_hdf5(variables=[...]) must not materialize unlisted 3-D
    datasets (their deflate never runs) while coords still load."""
    data, th, lat, lon = _cube(41)
    content = write_hdf5(
        {
            "time": (th, {"long_name": "time"}),
            "lat": (lat, {"long_name": "latitude coordinate"}),
            "lon": (lon, {"long_name": "longitude coordinate"}),
            "keep": (data, {}),
            "skip": (data * 2, {}),
        },
        chunks={"keep": (2, 2, 3), "skip": (2, 2, 3)},
        gzip=6,
    )
    f = read_hdf5(content, variables=["keep"])
    assert "skip" not in f.variables
    assert sorted(f.variables) == ["keep", "lat", "lon", "time"]
    np.testing.assert_array_equal(f.variables["keep"].data, data)

    from netcdf_olap_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    nc3 = write_netcdf3(
        {"t": None, "y": NY, "x": NX},
        {
            "keep": (("t", "y", "x"), data, {}),
            "skip": (("t", "y", "x"), data * 2, {}),
        },
    )
    f3 = read_netcdf3(nc3, variables=["keep"])
    assert "skip" not in f3.variables and "keep" in f3.variables


# ---------------------------------------------------------------------------
# dense attribute storage (Attribute Info message 0x0015) — round 6
# ---------------------------------------------------------------------------


def _retype_attr_message(b: bytearray, ohdr: int, flags: int, fheap: int) -> None:
    """Rewrite a header's first MSG_ATTRIBUTE into an Attribute Info
    message (type 0x0015) in place: version, flags, optional max
    creation index (u2, flags&1), fractal heap addr, name-btree addr.
    The attribute message body (a long_name string) is comfortably
    larger than the 20-byte info body, so no neighbors are touched."""
    from netcdf_olap_spark.sources.hdf5 import _Reader

    r = _Reader(bytes(b))
    pos = next(p for t, p, s in r.messages(ohdr) if t == MSG_ATTRIBUTE and s >= 20)
    struct.pack_into("<H", b, pos - 8, 0x0015)  # message type in v1 header
    p = pos
    b[p] = 0  # version
    b[p + 1] = flags
    p += 2
    if flags & 0x01:
        struct.pack_into("<H", b, p, 0)
        p += 2
    struct.pack_into("<QQ", b, p, fheap, UNDEF)


def test_dense_attribute_storage_raises_on_dataset():
    """'latest'-libver files spill a dataset's attributes (including
    _FillValue) into a fractal heap once >max_compact; silently
    ignoring that loses fill sentinels — the reader must raise."""
    good = write_hdf5({"a": (np.ones((2, 3)), {"long_name": "something long enough"})})
    r = _Reader(good)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    b = bytearray(good)
    _retype_attr_message(b, links["a"], flags=0, fheap=0x1234)
    with pytest.raises(NotImplementedError, match="dense attribute"):
        read_hdf5(bytes(b))


def test_dense_attribute_storage_raises_on_root():
    good = write_hdf5(
        {"a": (np.ones((2, 3)), {})}, global_attrs={"title": "long enough attribute body"}
    )
    r = _Reader(good)
    b = bytearray(good)
    _retype_attr_message(b, r.root_header_addr, flags=0, fheap=0x1234)
    with pytest.raises(NotImplementedError, match="dense attribute"):
        read_hdf5(bytes(b))


def test_attribute_info_with_undefined_heap_is_compact():
    """An Attribute Info message whose heap address is UNDEF means
    compact storage — legal, must parse normally (and honors the
    flags&1 max-creation-index field offset)."""
    for flags in (0, 1):
        good = write_hdf5({"a": (np.ones((2, 3)), {"long_name": "something long enough"})})
        r = _Reader(good)
        links = dict(r.group_links(r.root_btree, r.root_heap))
        b = bytearray(good)
        _retype_attr_message(b, links["a"], flags=flags, fheap=UNDEF)
        f = read_hdf5(bytes(b))
        np.testing.assert_array_equal(f.variables["a"].data, np.ones((2, 3)))


# ---------------------------------------------------------------------------
# extensible-array + v2-B-tree chunk indexes (round 6)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "kw",
    [
        dict(chunks={"tas": (2, NY, NX)}, chunk_index="extensible_array"),
        dict(chunks={"tas": (1, 2, NX)}, chunk_index="extensible_array", gzip=6, shuffle=True),
        # small creation params: 8 chunks spill past the index block's
        # inline+direct capacity into an EASB super block
        dict(chunks={"tas": (1, 2, 3)}, chunk_index="extensible_array",
             ea_params=(32, 2, 2, 2, 10), gzip=4),
        dict(chunks={"tas": (2, 2, 3)}, chunk_index="extensible_array", libver="latest"),
        dict(chunks={"tas": (2, NY, NX)}, chunk_index="btree_v2"),
        dict(chunks={"tas": (1, 2, 3)}, chunk_index="btree_v2", gzip=6, shuffle=True),
        # node too small for all records in one leaf → depth-1 tree
        dict(chunks={"tas": (1, 1, 2)}, chunk_index="btree_v2", bt2_node_size=512),
        dict(chunks={"tas": (1, 1, 2)}, chunk_index="btree_v2", bt2_node_size=512, gzip=2),
    ],
)
def test_roundtrip_earray_btree2_indexes(kw):
    data, th, lat, lon = _cube(37)
    f = read_hdf5(_h5_bytes(data, th, lat, lon, **kw))
    np.testing.assert_array_equal(f.variables["tas"].data, data)
    # same values as the 1.8-profile v1-B-tree encoding of the cube
    f3 = read_hdf5(_h5_bytes(data, th, lat, lon, chunks=kw["chunks"]))
    np.testing.assert_array_equal(f3.variables["tas"].data, data)


def test_earray_structure_matches_spec():
    """EAHD/EAIB/EADB fields at their spec offsets (IV.A.2), with the
    documented field-order QUIRK: the layout message stores creation
    params as (max bits, idx elmts, MIN POINTERS, MIN ELEMENTS, page
    bits) while the EAHD header stores the middle two swapped
    (idx elmts, MIN ELEMENTS, MIN POINTERS) — H5Dlayout vs H5EAhdr."""
    from netcdf_olap_spark.sources.hdf5 import lookup3

    data, th, lat, lon = _cube(41)
    b = _h5_bytes(data, th, lat, lon, chunks={"tas": (2, NY, NX)},
                  chunk_index="extensible_array", gzip=6)
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    pos = tas[MSG_LAYOUT]
    assert b[pos] == 4 and b[pos + 1] == 2  # layout v4, chunked
    kind, dims, index_type, (ea_addr, cfg) = r._parse_layout(pos)
    assert kind == "chunked4" and index_type == 4
    assert dims == (2, NY, NX, 8)
    assert cfg == (32, 4, 4, 16, 10)  # layout-message order: ...min_ptrs, min_elmts...

    # dataspace declares dim 0 unlimited (the appendable time axis)
    from netcdf_olap_spark.sources.hdf5 import _parse_dataspace_max

    shape, maxshape = _parse_dataspace_max(b, tas[MSG_DATASPACE])
    assert shape == (NT, NY, NX)
    assert maxshape == (UNDEF, NY, NX)

    assert b[ea_addr : ea_addr + 4] == b"EAHD"
    assert b[ea_addr + 4] == 0  # version
    assert b[ea_addr + 5] == 1  # client id: filtered dataset chunks
    elmt_size = b[ea_addr + 6]
    assert elmt_size == 8 + 2 + 4  # addr + 2-byte stored size + filter mask
    # EAHD config order: max bits, idx elmts, MIN ELEMENTS, MIN POINTERS, page bits
    assert tuple(b[ea_addr + 7 : ea_addr + 12]) == (32, 4, 16, 4, 10)
    (ib_addr,) = struct.unpack_from("<Q", b, ea_addr + 60)
    assert struct.unpack_from("<I", b, ea_addr + 68)[0] == lookup3(b[ea_addr : ea_addr + 68])

    assert b[ib_addr : ib_addr + 4] == b"EAIB"
    assert struct.unpack_from("<Q", b, ib_addr + 6)[0] == ea_addr  # back-pointer
    # 2 chunks → both elements inline in the index block (idx_elmts=4)
    e0 = ib_addr + 14
    (caddr0,) = struct.unpack_from("<Q", b, e0)
    stored0 = int.from_bytes(b[e0 + 8 : e0 + 10], "little")
    raw0 = b[caddr0 : caddr0 + stored0]
    import zlib as _z

    from netcdf_olap_spark.sources.hdf5 import _shuffle_bytes  # noqa: F401

    first = np.frombuffer(_z.decompress(raw0), dtype="<f8").reshape(2, NY, NX)
    np.testing.assert_array_equal(first, data[:2])


def test_earray_superblock_structure():
    """With shrunken creation params the fixture spills into an EASB:
    verify the super block's signature, back-pointer, and that its
    data blocks carry the tail chunks."""
    data, th, lat, lon = _cube(43)
    b = _h5_bytes(data, th, lat, lon, chunks={"tas": (1, 2, 3)},
                  chunk_index="extensible_array", ea_params=(32, 2, 2, 2, 10))
    assert b.count(b"EASB") >= 1
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    _k, _d, _it, (ea_addr, _cfg) = r._parse_layout(tas[MSG_LAYOUT])
    # grid: 4×2×2 = 16 chunks; idx 2 inline + direct u0(2)+u1(4) = 8,
    # the rest through super blocks
    entries = r._chunk_entries_v4((NT, NY, NX), (1, 2, 3), 8, 4, (ea_addr, _cfg), False,
                                  (UNDEF, NY, NX))
    assert len(entries) == 16
    assert sorted(e[0] for e in entries) == sorted(
        (t, y, x) for t in range(4) for y in (0, 2) for x in (0, 3)
    )


def test_btree2_structure_matches_spec():
    """BTHD fields at their spec offsets (III.A.2) and a depth-1 tree:
    BTIN root whose separator records + BTLF leaves partition the
    chunk set; 'scaled' record offsets are chunk-grid coordinates."""
    from netcdf_olap_spark.sources.hdf5 import lookup3

    data, th, lat, lon = _cube(47)
    b = _h5_bytes(data, th, lat, lon, chunks={"tas": (1, 1, 2)},
                  chunk_index="btree_v2", bt2_node_size=512)
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    _k, dims, index_type, (bt_addr, node_size) = r._parse_layout(tas[MSG_LAYOUT])
    assert index_type == 5 and node_size == 512

    assert b[bt_addr : bt_addr + 4] == b"BTHD"
    assert b[bt_addr + 4] == 0  # version
    assert b[bt_addr + 5] == 10  # record type: non-filtered dataset chunks
    ns, rec_size, depth = struct.unpack_from("<IHH", b, bt_addr + 6)
    assert ns == 512 and rec_size == 8 + 3 * 8  # addr + rank scaled offsets
    nchunks = NT * NY * (-(-NX // 2))
    max_leaf = (512 - 10) // rec_size
    assert depth == (0 if nchunks <= max_leaf else 1) == 1
    assert b[bt_addr + 14] == 100 and b[bt_addr + 15] == 40  # split/merge %
    root_addr, root_nrec = struct.unpack_from("<QH", b, bt_addr + 16)
    (total,) = struct.unpack_from("<Q", b, bt_addr + 26)
    assert total == nchunks
    assert struct.unpack_from("<I", b, bt_addr + 34)[0] == lookup3(b[bt_addr : bt_addr + 34])
    assert b[root_addr : root_addr + 4] == b"BTIN"

    entries = r._btree2_entries(bt_addr, 3, (1, 1, 2), 16)
    assert len(entries) == nchunks
    assert sorted(e[0] for e in entries) == sorted(
        (t, y, x) for t in range(NT) for y in range(NY) for x in (0, 2, 4)
    )


def test_btree2_depth_two_roundtrip_and_structure():
    """60 single-cell chunks at node size 256 (leaf cap 7, depth-1
    capacity 47) force a DEPTH-2 tree: internal root → internal level
    1 → leaves. The depth-2 pointer encoding adds the cumulative
    subtree-record-count field to level-2 child pointers — the field
    the old depth-≤1 reader couldn't parse. Verify the header depth,
    in-order record completeness, and value-exact decode."""
    data, th, lat, lon = _cube(53)
    b = _h5_bytes(data, th, lat, lon, chunks={"tas": (1, 1, 1)},
                  chunk_index="btree_v2", bt2_node_size=256)
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    _k, _dims, index_type, (bt_addr, node_size) = r._parse_layout(tas[MSG_LAYOUT])
    assert index_type == 5 and node_size == 256
    _ns, rec_size, depth = struct.unpack_from("<IHH", b, bt_addr + 6)
    assert rec_size == 8 + 3 * 8 and depth == 2
    root_addr, _root_nrec = struct.unpack_from("<QH", b, bt_addr + 16)
    (total,) = struct.unpack_from("<Q", b, bt_addr + 26)
    assert total == NT * NY * NX
    assert b[root_addr : root_addr + 4] == b"BTIN"

    entries = r._btree2_entries(bt_addr, 3, (1, 1, 1), 8)
    assert sorted(e[0] for e in entries) == sorted(
        (t, y, x) for t in range(NT) for y in range(NY) for x in range(NX)
    )
    f = read_hdf5(b)
    np.testing.assert_array_equal(f.variables["tas"].data, data)


def test_ea_sblk_info_matches_spec_table():
    """Super-block geometry table against hand-computed values of the
    published formulas: ndblks = 2^(u//2), dblk_nelmts =
    2^((u+1)//2)·min_elmts."""
    from netcdf_olap_spark.sources.hdf5 import _ea_sblk_info

    info = _ea_sblk_info(32, 16)
    assert len(info) == 1 + (32 - 4)  # 1 + (max_bits - log2(min_elmts))
    # (ndblks, dblk_nelmts, start_idx, start_dblk)
    assert info[0] == (1, 16, 0, 0)
    assert info[1] == (1, 32, 16, 1)
    assert info[2] == (2, 32, 48, 2)
    assert info[3] == (2, 64, 112, 4)
    assert info[4] == (4, 64, 240, 6)
    # index-block direct capacity = sum of ndblks for the first
    # 2·log2(min_ptrs) super blocks = 2·(min_ptrs - 1)
    for min_ptrs in (2, 4, 8):
        ib_nsblks = 2 * (min_ptrs.bit_length() - 1)
        assert sum(info[u][0] for u in range(ib_nsblks)) == 2 * (min_ptrs - 1)


# ---------------------------------------------------------------------------
# dense storage: fractal-heap groups + attributes (round 7)
# ---------------------------------------------------------------------------

from netcdf_olap_spark.sources.hdf5 import (  # noqa: E402
    _FH_DBLK_HDR,
    _FH_ID_LEN,
    _FH_MAX_DIRECT,
    _FH_OFF_SIZE,
    MSG_ATTRIBUTE_INFO,
    MSG_LINK_INFO,
    lookup3,
)

DENSE_ATTRS = {f"attr_{i:02d}": float(i) * 1.5 for i in range(12)} | {
    "_FillValue": FILL,
    "long_name": "air temperature",
}


def _dense_bytes(**kw) -> bytes:
    data, th, lat, lon = _cube(59)
    return write_hdf5(
        {
            "time": (th, {"units": "hours since 1990-01-01"}),
            "lat": (lat, {"long_name": "latitude coordinate"}),
            "lon": (lon, {"long_name": "longitude coordinate"}),
            "tas": (data, dict(DENSE_ATTRS)),
        },
        global_attrs={"title": "dense cube"},
        libver="latest",
        dense_attrs=True,
        dense_groups=True,
        **kw,
    )


@pytest.mark.parametrize(
    "kw",
    [
        {},
        dict(chunks={"tas": (2, NY, NX)}, gzip=6, shuffle=True),
        dict(chunks={"tas": (1, 2, 3)}, chunk_index="extensible_array", gzip=4),
    ],
)
def test_dense_storage_roundtrip(kw):
    """Dense groups + dense attributes (the 'latest' storage past
    max_compact): every link and every attribute — including
    _FillValue — must come back through the fractal heap + v2-B-tree
    name-index read path."""
    data, th, lat, lon = _cube(59)
    f = read_hdf5(_dense_bytes(**kw))
    assert set(f.variables) == {"time", "lat", "lon", "tas"}
    np.testing.assert_array_equal(f.variables["tas"].data, data)
    got = f.variables["tas"].attributes
    assert got["_FillValue"] == FILL
    assert all(got[f"attr_{i:02d}"] == i * 1.5 for i in range(12))
    assert f.attributes["title"] == "dense cube"
    assert f.variables["lat"].attributes["long_name"] == "latitude coordinate"


def test_dense_fill_value_applied_to_data():
    """The whole point of refusing to silently skip dense storage:
    _FillValue lives in the heap, and fill cells must decode to the
    sentinel (NULL semantics downstream)."""
    data, th, lat, lon = _cube(59)
    f = read_hdf5(_dense_bytes())
    assert f.variables["tas"].attributes["_FillValue"] == FILL
    assert f.variables["tas"].data[0, 0, 0] == FILL  # the planted fill cell


def test_fractal_heap_structure_matches_spec():
    """FRHP / FHDB / type-8 record fields at their spec offsets
    (III.F, III.A.2): header geometry, 7-meaningful-byte heap IDs
    inside the 8-byte record field, lookup3 name hashes, records
    sorted by hash, and heap IDs that resolve to parseable Attribute
    messages at the offsets the IDs claim."""
    b = _dense_bytes()
    r = _Reader(b)
    links = dict(r.dense_links(next(p for t, p, _ in r.messages(r.root_header_addr) if t == MSG_LINK_INFO)))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    pos = tas[MSG_ATTRIBUTE_INFO]
    assert b[pos] == 0 and b[pos + 1] == 0  # version, flags (no creation-order index)
    fheap, name_bt = struct.unpack_from("<QQ", b, pos + 2)

    # FRHP fields (spec III.F)
    assert b[fheap : fheap + 4] == b"FRHP"
    assert b[fheap + 4] == 0  # version
    hid_len, filter_len = struct.unpack_from("<HH", b, fheap + 5)
    assert hid_len == 8 and filter_len == 0  # attr heaps declare 8-byte IDs
    assert b[fheap + 9] == 0  # flags: no checksummed direct blocks
    (max_man,) = struct.unpack_from("<I", b, fheap + 10)
    assert max_man == 4096
    p = fheap + 14 + 12 * 8
    width, start, max_direct = struct.unpack_from("<HQQ", b, p)
    max_heap_bits, _rows = struct.unpack_from("<HH", b, p + 18)
    (root_blk,) = struct.unpack_from("<Q", b, p + 22)
    (cur_rows,) = struct.unpack_from("<H", b, p + 30)
    assert (width, max_direct, max_heap_bits) == (4, _FH_MAX_DIRECT, 32)
    assert start & (start - 1) == 0  # power-of-two block
    assert cur_rows == 0  # root IS a direct block
    assert struct.unpack_from("<I", b, p + 32)[0] == lookup3(b[fheap : p + 32])

    # FHDB: signature, heap back-pointer, block offset 0
    assert b[root_blk : root_blk + 4] == b"FHDB"
    assert struct.unpack_from("<Q", b, root_blk + 5)[0] == fheap
    assert int.from_bytes(b[root_blk + 13 : root_blk + 13 + _FH_OFF_SIZE], "little") == 0

    # type-8 records: sorted by lookup3 hash; 7-byte IDs resolve into
    # the direct block at exactly (root_blk + heap_offset)
    btype, rec_size, recs = r._btree2_records(name_bt, expect={8})
    assert btype == 8 and rec_size == 17
    assert len(recs) == len(DENSE_ATTRS)
    hashes = [struct.unpack_from("<I", b, e + 13)[0] for e in recs]
    assert hashes == sorted(hashes)
    resolve = r._fractal_heap(fheap)
    seen = {}
    for e in recs:
        hid = b[e : e + 8]
        assert hid[0] == 0  # managed, version 0
        off = int.from_bytes(hid[1 : 1 + _FH_OFF_SIZE], "little")
        assert off >= _FH_DBLK_HDR
        opos, _ln = resolve(hid)
        assert opos == root_blk + off  # offset arithmetic lands in THIS block
        k, v = r.parse_attribute(opos)
        seen[k] = v
        assert struct.unpack_from("<I", b, e + 13)[0] == lookup3(k.encode())
    assert seen == {**DENSE_ATTRS}


def test_dense_group_link_index_structure():
    """Dense root group: Link Info points at a heap of Link messages
    indexed by a type-5 (hash + heap ID) B-tree; records are
    hash-sorted and every heap ID resolves to a hard link naming a
    real object header."""
    b = _dense_bytes()
    r = _Reader(b)
    pos = next(p for t, p, _ in r.messages(r.root_header_addr) if t == MSG_LINK_INFO)
    fheap, name_bt = struct.unpack_from("<QQ", b, pos + 2)
    assert fheap != UNDEF and name_bt != UNDEF
    hid_len = struct.unpack_from("<H", b, fheap + 5)[0]
    assert hid_len == _FH_ID_LEN  # link heaps declare the bare 7
    btype, rec_size, recs = r._btree2_records(name_bt, expect={5})
    assert btype == 5 and rec_size == 4 + _FH_ID_LEN
    assert len(recs) == 4
    hashes = [struct.unpack_from("<I", b, e)[0] for e in recs]
    assert hashes == sorted(hashes)
    names = set()
    resolve = r._fractal_heap(fheap)
    for e in recs:
        opos, _ln = resolve(b[e + 4 : e + rec_size])
        nm, ohdr = r.parse_link(opos)
        names.add(nm)
        assert struct.unpack_from("<I", b, e)[0] == lookup3(nm.encode())
        assert b[ohdr : ohdr + 4] == b"OHDR"  # hard link to a real header
    assert names == {"time", "lat", "lon", "tas"}


def _manual_heap(objects: list[bytes], indirect: bool, checksum: bool):
    """Hand-assemble a fractal heap the WRITER never emits: optionally
    FHIB-rooted (row of direct blocks) and/or with checksummed direct
    blocks (FRHP flags bit 1) — the shapes libhdf5 itself produces
    once a heap grows. Lays structures down at final addresses:
    superblock prefix first, so embedded pointers are real. Returns
    (buffer, FRHP address, heap IDs in object order)."""
    start = 512
    flags = 0x02 if checksum else 0
    dblk_hdr = 13 + _FH_OFF_SIZE + (4 if checksum else 0)

    # place objects into 512-byte blocks of heap space
    blocks: list[list[tuple[int, bytes]]] = [[]]
    cursor = dblk_hdr
    base_off = 0
    ids = []
    for ob in objects:
        if cursor + len(ob) > start:
            blocks.append([])
            base_off += start
            cursor = dblk_hdr
        heap_off = base_off + cursor
        blocks[-1].append((heap_off, ob))
        ids.append(bytes([0]) + heap_off.to_bytes(4, "little") + len(ob).to_bytes(2, "little"))
        cursor += len(ob)
    if not indirect:
        assert len(blocks) == 1

    out = bytearray(HDF5_MAGIC + struct.pack("<BBBB", 2, 8, 8, 0) + struct.pack("<QQQQ", 0, UNDEF, 0, UNDEF))
    out += struct.pack("<I", lookup3(bytes(out)))

    def put(bts: bytes) -> int:
        out.extend(b"\x00" * (-len(out) % 8))
        a = len(out)
        out.extend(bts)
        return a

    hdr_addr = put(b"\x00" * 146)  # FRHP placeholder, patched last
    dblk_addrs = []
    for bi, blk in enumerate(blocks):
        body = bytearray(b"FHDB" + bytes([0]) + struct.pack("<Q", hdr_addr) + (bi * start).to_bytes(4, "little"))
        if checksum:
            body += b"\x00\x00\x00\x00"  # checksum field (reader skips verify)
        for heap_off, ob in blk:
            pad_to = (heap_off - bi * start) - len(body)
            body += b"\x00" * pad_to + ob
        body += b"\x00" * (start - len(body))
        dblk_addrs.append(put(bytes(body)))

    if indirect:
        ib = bytearray(b"FHIB" + bytes([0]) + struct.pack("<Q", hdr_addr) + (0).to_bytes(4, "little"))
        nrows = -(-len(blocks) // 4)
        for i in range(nrows * 4):
            ib += struct.pack("<Q", dblk_addrs[i] if i < len(dblk_addrs) else UNDEF)
        root_addr, cur_rows = put(bytes(ib)), nrows
    else:
        root_addr, cur_rows = dblk_addrs[0], 0

    h = bytearray(b"FRHP" + struct.pack("<BHHB", 0, 7, 0, flags))
    h += struct.pack("<I", 4096)
    h += struct.pack("<QQ", 0, UNDEF) + struct.pack("<QQ", 0, UNDEF)
    h += struct.pack("<QQQ", start * len(blocks), start * len(blocks), start * len(blocks))
    h += struct.pack("<QQQQQ", len(objects), 0, 0, 0, 0)
    h += struct.pack("<HQQ", 4, start, 65536)
    h += struct.pack("<HH", 32, 1)
    h += struct.pack("<QH", root_addr, cur_rows)
    h += struct.pack("<I", lookup3(bytes(h)))
    out[hdr_addr : hdr_addr + len(h)] = h
    return bytes(out), hdr_addr, ids


def test_fractal_heap_indirect_and_checksummed_blocks():
    """Reader-only shapes: an FHIB-rooted heap (row of direct blocks)
    and checksummed direct blocks — both produced by libhdf5 as heaps
    grow; our writer never emits them, so build them by hand and
    resolve every object through _Reader._fractal_heap."""
    objects = [bytes([65 + i]) * (120 + 7 * i) for i in range(8)]  # spills past one 512B block

    for indirect, checksum in ((True, False), (False, True), (True, True)):
        objs = objects if indirect else objects[:3]
        buf, hdr_addr, ids = _manual_heap(objs, indirect=indirect, checksum=checksum)
        r = _Reader(buf)
        resolve = r._fractal_heap(hdr_addr)
        for i, hid in enumerate(ids):
            opos, ln = resolve(hid)
            assert ln == len(objs[i])
            assert buf[opos : opos + ln] == objs[i]


@pytest.mark.parametrize(
    "kw", [dict(), dict(chunks={"station": (2, 2)}), dict(chunks={"station": (2, 2)}, gzip=4, shuffle=True)]
)
def test_compound_data_variable_roundtrip(kw):
    """Compound DATA variables (station-record shapes) read as numpy
    structured arrays through every layout: contiguous, chunked, and
    shuffled+deflated chunks. Writer emits a v3 compound datatype
    message; reader maps it through _DT.numpy()."""
    rec = np.dtype([("temp", "<f8"), ("nobs", "<i4"), ("flag", "u1")])
    arr = np.zeros((4, 3), dtype=rec)
    arr["temp"] = np.arange(12).reshape(4, 3) * 1.5
    arr["nobs"] = np.arange(12).reshape(4, 3)
    arr["flag"] = (np.arange(12) % 2).reshape(4, 3).astype("u1")
    b = write_hdf5({"station": (arr, {"long_name": "station record"})}, **kw)
    got = read_hdf5(b).variables["station"]
    assert got.data.dtype.names == ("temp", "nobs", "flag")
    for f_ in rec.names:
        np.testing.assert_array_equal(got.data[f_], arr[f_])
    assert got.attributes["long_name"] == "station record"


def test_compound_data_variable_padded_offsets():
    """Aligned compounds carry padding holes; member byte offsets in
    the v3 message must be honored, not recomputed packed."""
    rec = np.dtype({"names": ["a", "b"], "formats": ["<i2", "<f8"], "offsets": [0, 8], "itemsize": 16})
    arr = np.zeros((5,), dtype=rec)
    arr["a"] = np.arange(5)
    arr["b"] = np.arange(5) * 0.25
    b = write_hdf5({"v": (arr, {})})
    got = read_hdf5(b).variables["v"].data
    assert got.dtype.itemsize == 16
    assert got.dtype.fields["b"][1] == 8
    np.testing.assert_array_equal(got["a"], arr["a"])
    np.testing.assert_array_equal(got["b"], arr["b"])


def test_fractal_heap_nested_indirect_rows():
    """Rows past max_direct_rows hold CHILD indirect blocks (spec
    III.G doubling table) — the shape a dense group reaches past
    ~width·max_direct bytes of link messages. width=4, start=512,
    max_direct=1024 → max_direct_rows=3; row 3's children each span
    2048 bytes and carry one row of four 512-byte direct blocks."""
    width, start, max_direct = 4, 512, 1024
    dblk_hdr = 13 + _FH_OFF_SIZE
    out = bytearray(HDF5_MAGIC + struct.pack("<BBBB", 2, 8, 8, 0) + struct.pack("<QQQQ", 0, UNDEF, 0, UNDEF))
    out += struct.pack("<I", lookup3(bytes(out)))

    def put(bts: bytes) -> int:
        out.extend(b"\x00" * (-len(out) % 8))
        a = len(out)
        out.extend(bts)
        return a

    hdr_addr = put(b"\x00" * 146)

    def direct_block(heap_off: int, objs: list[bytes]):
        body = bytearray(b"FHDB" + bytes([0]) + struct.pack("<Q", hdr_addr) + heap_off.to_bytes(4, "little"))
        ids = []
        for ob in objs:
            off = heap_off + len(body)
            ids.append((bytes([0]) + off.to_bytes(4, "little") + len(ob).to_bytes(2, "little"), ob))
            body += ob
        body += b"\x00" * (start - len(body))
        return put(bytes(body)), ids

    objs_root = [b"A" * 100, b"B" * 150]
    objs_c0 = [b"C" * 200, b"D" * 120]
    objs_c1 = [b"E" * 90]
    all_ids = []
    d_root, ids = direct_block(0, objs_root)
    all_ids += ids
    # child indirect block at root row 3, col 0 → heap base
    # 2·(4·512) + 4·1024 = 8192; its row-0 direct blocks at 8192, 8704
    d_c0, ids = direct_block(8192, objs_c0)
    all_ids += ids
    d_c1, ids = direct_block(8192 + 512, objs_c1)
    all_ids += ids
    child = bytearray(b"FHIB" + bytes([0]) + struct.pack("<Q", hdr_addr) + (8192).to_bytes(4, "little"))
    child += struct.pack("<QQQQ", d_c0, d_c1, UNDEF, UNDEF)
    child_addr = put(bytes(child))
    root = bytearray(b"FHIB" + bytes([0]) + struct.pack("<Q", hdr_addr) + (0).to_bytes(4, "little"))
    entries = [d_root] + [UNDEF] * 11  # rows 0-2: direct (only col 0 of row 0 used)
    entries += [child_addr, UNDEF, UNDEF, UNDEF]  # row 3: indirect children
    for e in entries:
        root += struct.pack("<Q", e)
    root_addr = put(bytes(root))

    h = bytearray(b"FRHP" + struct.pack("<BHHB", 0, 7, 0, 0))
    h += struct.pack("<I", 4096)
    h += struct.pack("<QQ", 0, UNDEF) + struct.pack("<QQ", 0, UNDEF)
    h += struct.pack("<QQQ", 16384, 16384, 16384)
    h += struct.pack("<QQQQQ", len(all_ids), 0, 0, 0, 0)
    h += struct.pack("<HQQ", width, start, max_direct)
    h += struct.pack("<HH", 32, 1)
    h += struct.pack("<QH", root_addr, 4)
    h += struct.pack("<I", lookup3(bytes(h)))
    out[hdr_addr : hdr_addr + len(h)] = h

    buf = bytes(out)
    resolve = _Reader(buf)._fractal_heap(hdr_addr)
    for hid, ob in all_ids:
        opos, ln = resolve(hid)
        assert ln == len(ob)
        assert buf[opos : opos + ln] == ob


# ---------------------------------------------------------------------------
# compound / enum attribute datatypes (round 7)
# ---------------------------------------------------------------------------

from netcdf_olap_spark.sources.hdf5 import _dt_message, _ds_message, _parse_datatype, _pad8  # noqa: E402


def _attr_msg(name: str, dt_body: bytes, ds_body: bytes, value: bytes) -> bytes:
    nameb = name.encode() + b"\x00"
    head = struct.pack("<BxHHH", 1, len(nameb), len(dt_body), len(ds_body))
    return head + _pad8(nameb) + _pad8(dt_body) + _pad8(ds_body) + value


def _compound_dt_v1(fields: list[tuple[str, np.dtype, int]], size: int) -> bytes:
    body = bytes([0x16, len(fields) & 0xFF, len(fields) >> 8, 0]) + struct.pack("<I", size)
    for nm, ft, off in fields:
        body += _pad8(nm.encode() + b"\x00")
        body += struct.pack("<I", off)
        body += bytes(1) + bytes(3) + struct.pack("<I", 0) + struct.pack("<I", 0) + bytes(16)
        body += _dt_message(np.zeros(1, dtype=ft))
    return body


def _compound_dt_v3(fields: list[tuple[str, np.dtype, int]], size: int) -> bytes:
    off_len = ((size.bit_length() - 1) // 8) + 1
    body = bytes([0x36, len(fields) & 0xFF, len(fields) >> 8, 0]) + struct.pack("<I", size)
    for nm, ft, off in fields:
        body += nm.encode() + b"\x00"
        body += off.to_bytes(off_len, "little")
        body += _dt_message(np.zeros(1, dtype=ft))
    return body


def _enum_dt(version: int, base: np.dtype, mapping: dict[str, int]) -> bytes:
    body = bytes([(version << 4) | 8, len(mapping) & 0xFF, len(mapping) >> 8, 0])
    body += struct.pack("<I", base.itemsize)
    body += _dt_message(np.zeros(1, dtype=base))
    for nm in mapping:
        nb = nm.encode() + b"\x00"
        body += _pad8(nb) if version in (1, 2) else nb
    body += np.array(list(mapping.values()), dtype=base).tobytes()
    return body


def _parse_attr_bytes(msg: bytes):
    r = _Reader.__new__(_Reader)
    r.buf = msg
    return r.parse_attribute(0)


@pytest.mark.parametrize("builder", [_compound_dt_v1, _compound_dt_v3])
def test_compound_fillvalue_attribute_unwraps(builder):
    """`_FillValue` as a 1-field compound (seen in the wild from tools
    that wrap the sentinel): parse as the field's scalar, both the v1
    (padded names + array stanza) and v3 (packed) member encodings."""
    dtb = builder([("fill", np.dtype("<f8"), 0)], 8)
    msg = _attr_msg("_FillValue", dtb, _ds_message(()), struct.pack("<d", -9999.0))
    k, v = _parse_attr_bytes(msg)
    assert k == "_FillValue" and v == -9999.0


@pytest.mark.parametrize("builder", [_compound_dt_v1, _compound_dt_v3])
def test_compound_multifield_attribute_maps(builder):
    """Multi-field compound attribute → name→value map (offsets honored,
    mixed member types)."""
    fields = [("lo", np.dtype("<f8"), 0), ("hi", np.dtype("<f8"), 8), ("n", np.dtype("<i4"), 16)]
    dtb = builder(fields, 20)
    val = struct.pack("<ddi", 1.5, 99.25, 7)
    k, v = _parse_attr_bytes(_attr_msg("valid_range", dtb, _ds_message(()), val))
    assert k == "valid_range"
    assert v == {"lo": 1.5, "hi": 99.25, "n": 7}


@pytest.mark.parametrize("builder", [_compound_dt_v1, _compound_dt_v3])
def test_compound_array_attribute(builder):
    dtb = builder([("fill", np.dtype("<i4"), 0)], 4)
    val = struct.pack("<3i", 10, 20, 30)
    _k, v = _parse_attr_bytes(_attr_msg("levels", dtb, _ds_message((3,)), val))
    assert v == [10, 20, 30]


@pytest.mark.parametrize("version", [1, 3])
def test_enum_attribute_reads_base_values(version):
    """Enum attributes decode to their base integers (the portable
    semantic); symbol names are parsed and kept on the datatype."""
    dtb = _enum_dt(version, np.dtype("<i4"), {"CLEAR": 0, "CLOUDY": 1, "MISSING": 255})
    msg = _attr_msg("flag", dtb, _ds_message(()), struct.pack("<i", 255))
    k, v = _parse_attr_bytes(msg)
    assert k == "flag" and v == 255

    dt, used = _parse_datatype(dtb, 0)
    assert used == len(dtb)
    assert dt.enum_names == {0: "CLEAR", 1: "CLOUDY", 255: "MISSING"}
    assert dt.numpy() == np.dtype("<i4")


def test_compound_datatype_numpy_mapping():
    dtb = _compound_dt_v3([("a", np.dtype("<f4"), 0), ("b", np.dtype("<i8"), 4)], 12)
    dt, used = _parse_datatype(dtb, 0)
    assert used == len(dtb)
    nd = dt.numpy()
    assert nd.names == ("a", "b") and nd.itemsize == 12
    assert nd.fields["b"][1] == 4  # byte offset honored


# ---------------------------------------------------------------------------
# ARRAY (class 10) attribute datatypes (round 7 review): decode as
# nested lists — before the fix these parsed but crashed value decode
# (`.item()` on a subarray element), turning the non-fatal attribute
# skip into a whole-file read failure
# ---------------------------------------------------------------------------


def _array_dt(version: int, base: np.dtype, dims: tuple[int, ...]) -> bytes:
    import math as _math

    size = base.itemsize * _math.prod(dims)
    body = bytes([(version << 4) | 10, 0, 0, 0]) + struct.pack("<I", size)
    body += bytes([len(dims)])
    if version == 2:
        body += bytes(3)
    body += b"".join(struct.pack("<I", d) for d in dims)
    if version == 2:
        body += b"".join(struct.pack("<I", 0) for _ in dims)  # permutations
    body += _dt_message(np.zeros((), dtype=base))
    return body


@pytest.mark.parametrize("version", [2, 3])
def test_array_attribute_scalar_dataspace(version):
    """A scalar attribute whose DATATYPE is class-10 array<f8,3> →
    one Python list, not a crash."""
    dtb = _array_dt(version, np.dtype("<f8"), (3,))
    val = struct.pack("<3d", 1.5, -2.0, 99.25)
    k, v = _parse_attr_bytes(_attr_msg("bnds", dtb, _ds_message(()), val))
    assert k == "bnds" and v == [1.5, -2.0, 99.25]


def test_array_attribute_shaped_dataspace():
    """dataspace (2,) of array<i4,(3,)> elements → (2, 3) ndarray."""
    dtb = _array_dt(3, np.dtype("<i4"), (3,))
    val = struct.pack("<6i", 1, 2, 3, 4, 5, 6)
    _k, v = _parse_attr_bytes(_attr_msg("pairs", dtb, _ds_message((2,)), val))
    np.testing.assert_array_equal(v, [[1, 2, 3], [4, 5, 6]])


def test_compound_subarray_member_attribute():
    """Compound attribute with a sub-array member — e.g. a netCDF-4
    `_FillValue` carrying a compound datatype with array fields, the
    exact shape the class-10 dataset support round introduced. The
    1-field compound unwraps to the member's nested list; multi-field
    maps keep lists per sub-array member."""
    one = np.dtype({"names": ["bnds"], "formats": [("<f8", (2,))], "offsets": [0], "itemsize": 16})
    dtb = _dt_message(np.zeros((), dtype=one))
    k, v = _parse_attr_bytes(_attr_msg("cell", dtb, _ds_message(()), struct.pack("<2d", 0.5, 1.5)))
    assert k == "cell" and v == [0.5, 1.5]

    two = np.dtype(
        {"names": ["t", "bnds"], "formats": ["<i4", ("<f8", (2,))], "offsets": [0, 8], "itemsize": 24}
    )
    val = struct.pack("<i4x2d", 7, 0.25, 0.75)
    _k, v2 = _parse_attr_bytes(_attr_msg("m", _dt_message(np.zeros((), dtype=two)), _ds_message(()), val))
    assert v2 == {"t": 7, "bnds": [0.25, 0.75]}


# ---------------------------------------------------------------------------
# paged fixed-array chunk index (round 7)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("kw", [dict(), dict(gzip=4, shuffle=True)])
def test_paged_fixed_array_roundtrip_and_structure(kw):
    """fa_page_bits=2 (4-element pages) with 24 chunks → a PAGED data
    block: bitmap + header checksum + 6 pages with per-page checksums
    — the layout any large fixed-shape chunked dataset gets. Verify
    the on-disk page geometry and value-exact decode."""
    data, th, lat, lon = _cube(61)
    b = _h5_bytes(data, th, lat, lon, chunks={"tas": (1, 2, 3)},
                  chunk_index="fixed_array", fa_page_bits=2, **kw)
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    _k, _d, index_type, (fa_addr,) = r._parse_layout(tas[MSG_LAYOUT])
    assert index_type == 3
    assert b[fa_addr : fa_addr + 4] == b"FAHD"
    client, entry_size, page_bits = b[fa_addr + 5], b[fa_addr + 6], b[fa_addr + 7]
    assert page_bits == 2
    assert client == (1 if kw else 0) and entry_size == (20 if kw else 8)
    max_entries, db_addr = struct.unpack_from("<QQ", b, fa_addr + 8)
    nchunks = NT * -(-NY // 2) * -(-NX // 3)  # 4 * 2 * 2 = 16
    assert max_entries == nchunks == 16
    assert b[db_addr : db_addr + 4] == b"FADB"
    npages = -(-int(max_entries) // 4)
    assert npages > 1
    # bitmap: all pages initialized (all-ones bytes — readable under
    # any bit order; the reader itself is MSB-first per H5VM_bit_get)
    bitmap = b[db_addr + 14 : db_addr + 14 + (npages + 7) // 8]
    assert bitmap == b"\xff" * len(bitmap)

    f = read_hdf5(b)
    np.testing.assert_array_equal(f.variables["tas"].data, data)


def test_paged_fixed_array_uninitialized_page_reads_fill():
    """Clearing a page's bitmap bit must surface that page's chunks as
    fill (HDF5 semantics for unallocated space), not garbage."""
    data, th, lat, lon = _cube(67)
    b = bytearray(_h5_bytes(data, th, lat, lon, chunks={"tas": (1, 2, 3)},
                            chunk_index="fixed_array", fa_page_bits=2))
    r = _Reader(bytes(b))
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    _k, _d, _it, (fa_addr,) = r._parse_layout(tas[MSG_LAYOUT])
    (_me, db_addr) = struct.unpack_from("<QQ", b, fa_addr + 8)
    # clear page 0's bit — bit offset 0 lives in the HIGH-bit position
    # of the first bitmap byte (libhdf5 H5VM_bit_get is MSB-first)
    b[db_addr + 14] &= 0x7F
    f = read_hdf5(bytes(b))
    got = f.variables["tas"].data
    # page 0 = first 4 chunks (linear order) → those cells read FILL
    assert np.all(got[0, 0:4, 0:3] == FILL) or np.all(got[0, 0:2, 0:3] == FILL)
    # later chunks untouched
    np.testing.assert_array_equal(got[3], data[3])


# ---------------------------------------------------------------------------
# paged extensible-array data blocks (round 7)
# ---------------------------------------------------------------------------

# (max_bits, idx_elmts, min_ptrs, min_elmts, page_bits=2 → 4-element
# pages). Super-block table: u0 1×2, u1 1×4 (both index-block-direct,
# unpaged), u2 2×4, u3 2×8 — u3's data blocks exceed one page → PAGED.
# 24 chunks land exactly one paged data block (2 pages) under u3's EASB.
_EA_PAGED = (32, 2, 2, 2, 2)


def _u3_easb(b: bytes, arr_off: int) -> int:
    """Address of u3's super block — the PAGED one (u2's EASB exists
    too but its 4-element data blocks fit one page). Identified by its
    block-offset field: idx(2) + u0(2) + u1(4) + u2(8) = 16."""
    pos = -1
    while True:
        pos = b.find(b"EASB", pos + 1)
        assert pos != -1, "no u3 EASB found"
        if int.from_bytes(b[pos + 14 : pos + 14 + arr_off], "little") == 16:
            return pos


def _ea_paged_file(seed: int, **kw):
    data, th, lat, lon = _cube(seed)
    b = _h5_bytes(data, th, lat, lon, chunks={"tas": (1, 2, 2)},
                  chunk_index="extensible_array", ea_params=_EA_PAGED, **kw)
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    tas = {t: p for t, p, _ in r.messages(links["tas"])}
    _k, _d, it, info = r._parse_layout(tas[MSG_LAYOUT])
    assert it == 4
    return data, b, r, info


@pytest.mark.parametrize("kw", [dict(), dict(gzip=4, shuffle=True)])
def test_paged_extensible_array_roundtrip_and_structure(kw):
    """A super-block data block larger than one page is stored as
    prefix+checksum followed by per-page (elements+checksum) runs,
    with the page-init bitmap in the PARENT super block (spec IV.A.2 /
    H5EAdblkpage) — the shape a >~half-million-chunk appended
    time-series reaches at libhdf5 defaults. Verify on-disk geometry
    and value-exact decode."""
    from netcdf_olap_spark.sources.hdf5 import lookup3

    data, b, r, info = _ea_paged_file(71, **kw)
    arr_off = 4  # (max_bits=32+7)//8
    saddr = _u3_easb(b, arr_off)
    sp = saddr + 6 + 8 + arr_off
    # bitmap: 2 dblks × ceil(2 pages / 8) = 2 bytes, all-ones
    assert b[sp : sp + 2] == b"\xff\xff"
    (daddr,) = struct.unpack_from("<Q", b, sp + 2)
    assert b[daddr : daddr + 4] == b"EADB"
    prefix_len = 6 + 8 + arr_off
    assert struct.unpack_from("<I", b, daddr + prefix_len)[0] == lookup3(
        b[daddr : daddr + prefix_len]
    )
    from netcdf_olap_spark.sources.hdf5 import _chunk_size_len

    # addr [+ stored-size (width from the chunk byte size) + mask]
    elmt_size = 8 if not kw else 8 + _chunk_size_len(1 * 2 * 2 * 8) + 4
    page_bytes = 4 * elmt_size
    pg0 = daddr + prefix_len + 4
    assert struct.unpack_from("<I", b, pg0 + page_bytes)[0] == lookup3(
        b[pg0 : pg0 + page_bytes]
    )
    entries = r._chunk_entries_v4((NT, NY, NX), (1, 2, 2), 8, 4, info, bool(kw),
                                  (UNDEF, NY, NX))
    assert len(entries) == 4 * 2 * 3
    f = read_hdf5(b)
    np.testing.assert_array_equal(f.variables["tas"].data, data)


def test_paged_extensible_array_uninitialized_page_reads_fill():
    """Clearing a page's bit in the super block's bitmap must surface
    exactly that page's chunks as fill — flat MSB-first indexing
    (dblk j · npages + page, per libhdf5 H5VM_bit_get)."""
    data, b, r, info = _ea_paged_file(73)
    mb = bytearray(b)
    saddr = _u3_easb(b, 4)
    sp = saddr + 6 + 8 + 4
    mb[sp] &= 0x7F  # dblk 0, page 0 → flat bit 0 = first byte's high bit
    got = read_hdf5(bytes(mb)).variables["tas"].data
    # elements 16..19 of the array = page 0 of u3's first data block;
    # chunk grid is (4,2,3) over chunk shape (1,2,2)
    fill_mask = np.zeros_like(data, dtype=bool)
    for lin in range(16, 20):
        t, rem = divmod(lin, 6)
        cy, cx = divmod(rem, 3)
        fill_mask[t, cy * 2 : cy * 2 + 2, cx * 2 : cx * 2 + 2] = True
    assert np.all(got[fill_mask] == FILL)
    np.testing.assert_array_equal(got[~fill_mask], data[~fill_mask])


def test_paged_extensible_array_direct_block_raises():
    """page_bits below the index-block-direct data-block sizes has no
    on-disk bitmap home — the writer must refuse, not corrupt."""
    data, th, lat, lon = _cube(79)
    with pytest.raises(ValueError, match="index-block-direct"):
        _h5_bytes(data, th, lat, lon, chunks={"tas": (1, 2, 3)},
                  chunk_index="extensible_array", ea_params=(32, 2, 2, 2, 1))


def test_compound_subarray_member_roundtrip():
    """Sub-array members ride a class-10 (ARRAY, v3) datatype wrapper:
    ndims + u32 dims + the base scalar message — round-trips through
    contiguous and chunked+filtered layouts, padding holes included."""
    rec = np.dtype([("a", "<f8", (2,)), ("b", "<i4"), ("c", "<f4", (3, 2))])
    arr = np.zeros((4, 3), dtype=rec)
    rng = np.random.default_rng(0)
    arr["a"] = rng.normal(0, 10, (4, 3, 2))
    arr["b"] = rng.integers(-100, 100, (4, 3))
    arr["c"] = rng.normal(0, 1, (4, 3, 3, 2)).astype("<f4")
    for kw in ({}, {"chunks": {"v": (2, 2)}, "gzip": 4, "shuffle": True}):
        got = read_hdf5(write_hdf5({"v": (arr, {"n": 1})}, **kw)).variables["v"].data
        assert got.dtype.names == rec.names
        for nm in rec.names:
            np.testing.assert_array_equal(got[nm], arr[nm], err_msg=str(kw))


def test_array_datatype_v2_encoding_parses():
    """The v2 array-datatype encoding carries reserved bytes and
    permutation indexes the v3 writer never emits — hand-built bytes
    exercise the reader's v2 branch."""
    import struct as _s

    from netcdf_olap_spark.sources.hdf5 import _parse_datatype

    base = bytes([0x11, 0x20, 63, 0]) + _s.pack("<I", 8) + _s.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
    v2 = bytes([0x2A, 0, 0, 0]) + _s.pack("<I", 16) + bytes([2, 0, 0, 0])
    v2 += _s.pack("<II", 2, 1) + _s.pack("<II", 0, 1) + base
    dt, used = _parse_datatype(v2, 0)
    assert dt.array_dims == (2, 1) and used == len(v2)
    assert dt.numpy() == np.dtype(("<f8", (2, 1)))


def test_big_endian_dtype_raises():
    """The writer's datatype descriptors hard-code little-endian while
    the data path writes raw tobytes() — a big-endian array would
    round-trip byte-swapped. Refuse both scalar and compound-member
    forms."""
    with pytest.raises(NotImplementedError, match="big-endian"):
        write_hdf5({"v": (np.arange(4, dtype=">f8"), {})})
    rec = np.dtype([("a", ">i4"), ("b", "<f4")])
    with pytest.raises(NotImplementedError, match="big-endian"):
        write_hdf5({"v": (np.zeros((3,), dtype=rec), {})})


# ---------------------------------------------------------------------------
# DIMENSION_LIST / object references (round 7)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("libver", ["earliest", "latest"])
@pytest.mark.parametrize("chunked", [False, True])
def test_dimension_list_roundtrip(libver, chunked):
    """dim_scales → DIMENSION_LIST attr (vlen object references via a
    global heap) → H5File.dim_scales, both libver profiles, contiguous
    and chunked+filtered; the raw attribute never leaks into the
    variable's attribute dict."""
    t = np.arange(4, dtype="<i4")
    la = np.linspace(-10, 10, 5)
    lo = np.linspace(100, 120, 6)
    cube = np.random.default_rng(0).normal(0, 5, (4, 5, 6))
    kw = {"chunks": {"m": (2, 2, 3)}, "gzip": 4, "shuffle": True} if chunked else {}
    b = write_hdf5(
        {"m": (cube, {"units": "K"}), "tt": (t, {}), "row": (la, {}), "col": (lo, {})},
        libver=libver,
        dim_scales={"m": ("tt", "row", "col")},
        **kw,
    )
    f = read_hdf5(b)
    assert f.dim_scales == {"m": ["tt", "row", "col"]}
    np.testing.assert_array_equal(f.variables["m"].data, cube)
    assert "DIMENSION_LIST" not in f.variables["m"].attributes
    assert f.variables["m"].attributes["units"] == "K"


def test_dimension_list_partial_axes_and_dense():
    """Axes without a scale decode as None (count-0 vlen elements);
    dense-attribute mode keeps the compact DIMENSION_LIST message and
    both attribute sets merge."""
    t = np.arange(4, dtype="<i4")
    cube = np.zeros((4, 2, 3))
    f = read_hdf5(write_hdf5({"m": (cube, {}), "tt": (t, {})}, dim_scales={"m": ("tt", None, None)}))
    assert f.dim_scales == {"m": ["tt", None, None]}
    f = read_hdf5(
        write_hdf5(
            {"m": (cube, {f"a{i}": i for i in range(12)}), "tt": (t, {})},
            libver="latest",
            dense_attrs=True,
            dim_scales={"m": ("tt", None, None)},
        )
    )
    assert f.dim_scales == {"m": ["tt", None, None]}
    assert f.variables["m"].attributes["a7"] == 7


def test_dimension_list_gcol_structure():
    """Spec-level layout of the emitted global heap collection: GCOL
    signature, v1, declared size ≥ 4096, 1-based object indexes whose
    8-byte payloads are the scales' object-header addresses, and an
    index-0 free-space object covering the remainder."""
    t = np.arange(3, dtype="<i4")
    la = np.linspace(0, 1, 2)
    b = write_hdf5(
        {"m": (np.zeros((3, 2, 2)), {}), "tt": (t, {}), "row": (la, {})},
        dim_scales={"m": ("tt", "row", None)},
    )
    g = b.find(b"GCOL")
    assert g != -1
    assert b[g + 4] == 1  # version
    size = int.from_bytes(b[g + 8 : g + 16], "little")
    assert size >= 4096
    # object 1: index, refcount 1, size 8
    import struct as _s

    idx, ref = _s.unpack_from("<HH", b, g + 16)
    osz = _s.unpack_from("<Q", b, g + 24)[0]
    assert (idx, ref, osz) == (1, 1, 8)
    addr1 = _s.unpack_from("<Q", b, g + 32)[0]
    idx2, _ = _s.unpack_from("<HH", b, g + 40)
    addr2 = _s.unpack_from("<Q", b, g + 56)[0]
    assert idx2 == 2
    # both payloads are real object-header addresses of the scales
    r = _Reader(b)
    links = dict(r.group_links(r.root_btree, r.root_heap))
    assert {addr1, addr2} == {links["tt"], links["row"]}
    # free-space object terminates the used region
    idx0, _ = _s.unpack_from("<HH", b, g + 64)
    assert idx0 == 0


def test_reference_list_attr_decodes_and_is_dropped():
    """A hand-built REFERENCE_LIST (vlen of compound{dataset ref,
    index}) decodes through the general vlen path and is dropped from
    the scale's attributes by read_hdf5 — never a NotImplementedError
    skip, never a leaked bookkeeping attr."""
    import struct as _s

    from netcdf_olap_spark.sources.hdf5 import _DT, CLS_COMPOUND, CLS_REFERENCE, CLS_VLEN

    # vlen(compound{dataset: ref8 @0, dimension: u4 @8}), one element
    base = _DT(
        CLS_COMPOUND, 12, True, False,
        members=[("dataset", 0, _DT(CLS_REFERENCE, 8, True, False)),
                 ("dimension", 8, _DT(0, 4, True, False))],
    )
    dt = _DT(CLS_VLEN, 16, True, False, base=base)
    # build a buffer: GCOL at 64 with one 12-byte object, descriptor at 0
    gaddr = 64
    buf = bytearray(128)
    buf[0:16] = _s.pack("<IQI", 1, gaddr, 1)
    gcol = b"GCOL" + bytes([1, 0, 0, 0]) + _s.pack("<Q", 64)
    gcol += _s.pack("<HH4xQ", 1, 1, 12) + _s.pack("<QI", 0x1234, 0) + b"\x00" * 4
    buf[gaddr : gaddr + len(gcol)] = gcol
    r = _Reader.__new__(_Reader)
    r.buf = bytes(buf)
    got = r._attr_values(dt, (1,), 0)
    assert got == [[{"dataset": 0x1234, "dimension": 0}]]


def test_dimension_list_user_attr_collision_raises():
    """A user attribute literally named DIMENSION_LIST on a variable
    that dim_scales also covers would produce two same-named
    attributes (ambiguous name index, one silently lost) — refuse."""
    t = np.arange(3, dtype="<i4")
    with pytest.raises(ValueError, match="DIMENSION_LIST"):
        write_hdf5(
            {"m": (np.zeros((3, 2, 2)), {"DIMENSION_LIST": 1.0}), "tt": (t, {})},
            dim_scales={"m": ("tt", None, None)},
        )


def test_opaque_datatype_roundtrip():
    """OPAQUE (class 5) datatypes — uninterpreted fixed-size bytes —
    round-trip as numpy void through contiguous, latest-profile, and
    chunked+deflated layouts, standalone and as compound members; the
    binary-blob carrier for multimodal payloads inside HDF5."""
    rng = np.random.default_rng(0)
    blob = rng.integers(0, 256, (5, 16), dtype=np.uint8).view("V16").reshape(5)
    for kw in ({}, {"libver": "latest"}, {"chunks": {"v": (2,)}, "gzip": 3}):
        f = read_hdf5(write_hdf5({"v": (blob, {"note": "opaque"})}, **kw))
        got = f.variables["v"].data
        assert got.dtype == np.dtype("V16")
        assert got.tobytes() == blob.tobytes()
        assert f.variables["v"].attributes["note"] == "opaque"
    rec = np.dtype([("tag", "<i4"), ("payload", "V8")])
    a = np.zeros(3, dtype=rec)
    a["tag"] = np.arange(3)
    a["payload"] = rng.integers(0, 256, (3, 8), dtype=np.uint8).view("V8").reshape(3)
    f = read_hdf5(write_hdf5({"v": (a, {})}))
    assert f.variables["v"].data.tobytes() == a.tobytes()


def test_large_unallocated_dataset_exempt_from_plausibility_cap():
    """A valid netCDF-4 shape: a variable DECLARED far larger than
    4096x the file size but never written (contiguous address UNDEF).
    The corrupt-shape plausibility cap must not reject it — it reads
    as all-fill (r7 advice). The same declared size WITH an allocated
    address must still raise, and an unallocated declaration above the
    fixed 2 GiB materialization cap must also raise."""
    b = bytearray(write_hdf5({"a": (np.ones((2, 3)), {})}))
    r = _Reader(bytes(b))
    links = dict(r.group_links(r.root_btree, r.root_heap))
    msgs = {t: p for t, p, _ in r.messages(links["a"])}
    lpos, spos = msgs[MSG_LAYOUT], msgs[MSG_DATASPACE]
    assert b[lpos] == 3 and b[lpos + 1] == 1  # layout v3, contiguous
    assert b[spos] == 1  # dataspace v1: dims start at +8
    # declare (20_000_000, 3) float64 = 480 MB >> max(256 MB, 4096*len)
    struct.pack_into("<Q", b, spos + 8, 20_000_000)

    # allocated address + implausible declaration -> still rejected
    with pytest.raises(ValueError, match="implausible"):
        read_hdf5(bytes(b))

    # unallocated -> exempt, reads as fill
    struct.pack_into("<Q", b, lpos + 2, UNDEF)
    f = read_hdf5(bytes(b))
    assert f.variables["a"].shape == (20_000_000, 3)
    assert np.isnan(f.variables["a"].data[0]).all()
    assert np.isnan(f.variables["a"].data[-1]).all()

    # unallocated but above the absolute 2 GiB cap -> clean error
    struct.pack_into("<Q", b, spos + 8, 200_000_000)  # 4.8 GB
    with pytest.raises(ValueError, match="2 GiB"):
        read_hdf5(bytes(b))
