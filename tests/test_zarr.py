"""Zarr v2 source: writer↔reader identity, chunk-grid edge handling,
spec conformance of the metadata, fill/absent-chunk semantics, codec
guards, and the distributed ingest's equivalence to the driver-side
read."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from netcdf_olap_spark.sources import zarr as zr


def _rt(tmp_path, data, **kw):
    adir = str(tmp_path / "a")
    zr.write_zarr_array(adir, data, **kw)
    return adir, zr.read_zarr_array(adir)


@pytest.mark.parametrize("dtype", ["<f4", "<f8", "<i4", "<i8", ">f8", ">i4"])
@pytest.mark.parametrize("compressor", [None, "zlib"])
def test_roundtrip_dtypes_codecs(tmp_path, dtype, compressor):
    rng = np.random.default_rng(7)
    base = (rng.integers(-1000, 1000, size=(5, 4, 3))).astype(np.dtype(dtype))
    adir = str(tmp_path / f"{dtype.replace('<','l').replace('>','b')}_{compressor}")
    zr.write_zarr_array(adir, base, chunks=(2, 3, 2), compressor=compressor)
    out = zr.read_zarr_array(adir)
    assert out.dtype == np.dtype(dtype)
    np.testing.assert_array_equal(out, base)


def test_edge_chunks_padded_full_size(tmp_path):
    """Spec: edge chunks are stored at FULL chunk shape. The raw
    chunk object for the corner must be chunk-sized, and reading
    must trim the padding (value counts would inflate otherwise)."""
    data = np.arange(6 * 4 * 5, dtype="<f8").reshape(6, 4, 5)
    adir, out = _rt(tmp_path, data, chunks=(4, 3, 3), compressor=None, fill_value=-1.0)
    np.testing.assert_array_equal(out, data)
    corner = open(os.path.join(adir, "1.1.1"), "rb").read()
    assert len(corner) == 4 * 3 * 3 * 8  # full chunk, not 2*1*2


def test_absent_chunk_reads_as_fill(tmp_path):
    data = np.ones((4, 4), dtype="<f8")
    adir = str(tmp_path / "a")
    zr.write_zarr_array(adir, data, chunks=(2, 2), compressor=None, fill_value=7.5)
    os.remove(os.path.join(adir, "1.1"))
    out = zr.read_zarr_array(adir)
    assert (out[2:, 2:] == 7.5).all() and (out[:2, :2] == 1.0).all()


def test_zarray_metadata_is_spec_shaped(tmp_path):
    adir, _ = _rt(tmp_path, np.zeros((3, 3), dtype="<f4"), chunks=(2, 2), fill_value=0.0)
    meta = json.load(open(os.path.join(adir, ".zarray")))
    assert meta["zarr_format"] == 2
    assert meta["order"] == "C" and meta["filters"] is None
    assert meta["compressor"] == {"id": "zlib", "level": 6}
    assert meta["shape"] == [3, 3] and meta["chunks"] == [2, 2]


def test_unsupported_codec_and_dtype_raise(tmp_path):
    adir = str(tmp_path / "a")
    zr.write_zarr_array(adir, np.zeros((2, 2), dtype="<f8"), compressor=None)
    meta_path = os.path.join(adir, ".zarray")
    meta = json.load(open(meta_path))
    meta["compressor"] = {"id": "blosc", "cname": "lz4"}
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(NotImplementedError, match="compressor"):
        zr.read_array_meta(adir)
    meta["compressor"] = None
    meta["dtype"] = "<c16"
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(NotImplementedError, match="dtype"):
        zr.read_array_meta(adir)


def test_corrupt_chunks_raise_cleanly(tmp_path):
    """Truncated / bit-flipped chunk objects must raise clean
    exceptions (zlib.error / ValueError), never hang or segfault —
    the format-reader fuzz rule."""
    data = np.arange(36, dtype="<f8").reshape(6, 6)
    adir = str(tmp_path / "a")
    zr.write_zarr_array(adir, data, chunks=(4, 4), compressor="zlib")
    chunk = os.path.join(adir, "0.0")
    raw = open(chunk, "rb").read()
    for mut in (raw[: len(raw) // 2], b"", bytes([raw[0] ^ 0xFF]) + raw[1:]):
        with open(chunk, "wb") as fh:
            fh.write(mut)
        with pytest.raises(Exception) as ei:
            zr.read_zarr_array(adir)
        assert ei.type.__name__ in ("error", "ValueError"), ei.type


def test_distributed_ingest_equals_driver_read(spark, tmp_path):
    """ingest_zarr_store over a fresh store == the driver-side
    read_zarr_array cube, row for row (fill → NULL)."""
    root = str(tmp_path / "store")
    t = np.arange(3)
    zr.write_zarr_group(root)
    zr.write_zarr_array(os.path.join(root, "time"), (t * 24).astype("<i4"), compressor=None)
    zr.write_zarr_array(os.path.join(root, "lat"), np.array([10.0, 10.5]), compressor=None)
    zr.write_zarr_array(os.path.join(root, "lon"), np.array([-5.0, -4.5, -4.0]), compressor=None)
    cube = np.arange(3 * 2 * 3, dtype="<f8").reshape(3, 2, 3)
    cube[0, 0, 0] = -9.0
    zr.write_zarr_array(
        os.path.join(root, "v"), cube, chunks=(2, 2, 2), compressor="zlib", fill_value=-9.0
    )
    df = zr.ingest_zarr_store(spark, root, ds="t").orderBy("time", "y", "x")
    rows = df.collect()
    assert len(rows) == 18
    assert rows[0]["value"] is None  # the planted fill cell
    vals = [r["value"] for r in rows[1:]]
    assert vals == [float(v) for v in range(1, 18)]
    assert rows[1]["lat"] == 10.0 and rows[1]["lon"] == -4.5


def test_export_store_manifest_and_spec(spark, tmp_path):
    """export_zarr_store: manifest rows match the on-disk chunk
    objects (path/bytes/sha256), the .zarray metadata is spec-shaped,
    and a ragged selection leaves absent cells as NaN coordinates
    (which re-ingest as absent)."""
    import hashlib

    from netcdf_olap_spark.sinks.zarr import export_zarr_store
    from netcdf_olap_spark.session import load_grid
    from netcdf_olap_spark.sources.zarr import ingest_zarr_store

    from pyspark.sql import functions as F

    g = (
        load_grid(spark)
        .where(
            (F.col("variable") == "LST_LWST_avg_daily")
            & (F.col("time") < "1990-01-06")
            & (F.col("y") < 4)
            & (F.col("x") < 5)
            # ragged: drop one corner cell entirely
            & ~((F.col("y") == 0) & (F.col("x") == 0))
        )
    )
    root = str(tmp_path / "store")
    manifest = export_zarr_store(g, root, time_chunk=2).collect()
    assert {m["chunk"] for m in manifest} == {"0.0.0", "1.0.0", "2.0.0"}
    for m in manifest:
        blob = open(m["path"], "rb").read()
        assert len(blob) == m["size"]
        assert hashlib.sha256(blob).hexdigest() == m["sha256"]
    meta = json.load(open(os.path.join(root, "lat", ".zarray")))
    assert meta["shape"] == [4, 5]

    back = ingest_zarr_store(spark, root, ds="rt")
    n_in = g.count()
    assert back.count() == n_in  # corner cell stays absent (NaN coords dropped)
    joined = (
        g.select("time", "y", "x", F.col("value").alias("v_in"))
        .join(back.select("time", "y", "x", F.col("value").alias("v_out")), ["time", "y", "x"], "full")
    )
    bad = joined.where(
        (F.col("v_in").isNull() != F.col("v_out").isNull())
        | (F.col("v_in").isNotNull() & (F.col("v_in") != F.col("v_out")))
    ).count()
    assert bad == 0  # bit-exact identity, NULL↔fill inversion included


def _mini_store(root, nt=4):
    import numpy as np

    t = np.arange(nt)
    zr.write_zarr_group(root)
    zr.write_zarr_array(os.path.join(root, "time"), (t * 24).astype("<i4"), compressor=None)
    zr.write_zarr_array(os.path.join(root, "lat"), np.array([1.0, 1.5]), compressor=None)
    zr.write_zarr_array(os.path.join(root, "lon"), np.array([-3.0, -2.5, -2.0]), compressor=None)
    cube = np.arange(nt * 2 * 3, dtype="<f8").reshape(nt, 2, 3)
    cube[0, 1, 2] = -9.0
    zr.write_zarr_array(
        os.path.join(root, "v"), cube, chunks=(2, 2, 2), compressor="zlib", fill_value=-9.0
    )
    return cube


def test_zarr_stream_ingests_arriving_chunks(spark, tmp_path):
    """readStream.format('zarr_cube'): chunk objects landing in the
    store appear as micro-batches; an APPEND (new chunk files + a
    .zarray shape bump + extended time axis) arrives in the next
    drain with the right dates, and fill→NULL survives the tuple
    path."""
    import json as _json

    import numpy as np

    from netcdf_olap_spark.sources.zarr import register

    root = str(tmp_path / "store")
    cube = _mini_store(root, nt=4)
    register(spark)
    stream = spark.readStream.format("zarr_cube").options(path=root, ds="live").load()
    q = (
        stream.writeStream.format("memory")
        .queryName("zarr_arrivals")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("zarr_arrivals").count() == cube.size
        assert (
            spark.table("zarr_arrivals").where(F.col("value").isNull()).count() == 1
        )

        # append 2 more days: extend time, bump shape, write the new slab
        t6 = np.arange(6)
        zr.write_zarr_array(
            os.path.join(root, "time"), (t6 * 24).astype("<i4"), compressor=None
        )
        adir = os.path.join(root, "v")
        meta = _json.load(open(os.path.join(adir, ".zarray")))
        meta["shape"][0] = 6
        _json.dump(meta, open(os.path.join(adir, ".zarray"), "w"), sort_keys=True)
        new = np.arange(100, 100 + 2 * 2 * 3, dtype="<f8").reshape(2, 2, 3)
        import zlib as _zlib

        with open(os.path.join(adir, "2.0.0"), "wb") as fh:
            fh.write(_zlib.compress(np.ascontiguousarray(new[:, :, 0:2]).tobytes(), 6))
        with open(os.path.join(adir, "2.0.1"), "wb") as fh:
            # second x-chunk of the new slab: pad to full chunk shape
            blk = np.full((2, 2, 2), -9.0)
            blk[:, :, 0] = new[:, :, 2]
            fh.write(_zlib.compress(blk.tobytes(), 6))
        q.processAllAvailable()
        out = spark.table("zarr_arrivals")
        assert out.count() == cube.size + new.size
        assert out.select(F.countDistinct("time")).first()[0] == 6
    finally:
        q.stop()


def test_absent_chunk_ingests_as_fill_rows(spark, tmp_path):
    """Spec: an omitted chunk object means all-fill (zarr-python's
    write_empty_chunks=False) — the distributed ingest must emit its
    cells as NULL rows, matching the driver-side reader, instead of
    silently dropping them (review finding)."""
    root = str(tmp_path / "store")
    _mini_store(root)
    os.remove(os.path.join(root, "v", "1.0.1"))  # t 2-3, x 2

    back = zr.ingest_zarr_store(spark, root, ds="t")
    assert back.count() == 24  # full 4×2×3 grid, nothing dropped
    nulls = back.where("value IS NULL").collect()
    # the planted fill cell + the 4 cells of the removed chunk
    assert len(nulls) == 5
    assert {(r["time"].day, r["y"], r["x"]) for r in nulls} >= {
        (3, 0, 2),
        (3, 1, 2),
        (4, 0, 2),
        (4, 1, 2),
    }


def test_stream_defers_chunk_until_shape_bump(spark, tmp_path):
    """Append race (review finding): a chunk object landing BEFORE
    the .zarray shape bump must NOT be consumed as zero rows — it
    stays out of the offset and arrives after the bump."""
    import json as _json
    import zlib as _zlib

    import numpy as np

    from netcdf_olap_spark.sources.zarr import register

    root = str(tmp_path / "store")
    cube = _mini_store(root, nt=4)
    register(spark)
    stream = spark.readStream.format("zarr_cube").options(path=root, ds="live").load()
    q = (
        stream.writeStream.format("memory")
        .queryName("zarr_race")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("zarr_race").count() == cube.size

        # conventional commit order: chunk objects FIRST...
        new = np.arange(100, 112, dtype="<f8").reshape(2, 2, 3)
        adir = os.path.join(root, "v")
        with open(os.path.join(adir, "2.0.0"), "wb") as fh:
            fh.write(_zlib.compress(np.ascontiguousarray(new[:, :, 0:2]).tobytes(), 6))
        blk = np.full((2, 2, 2), -9.0)
        blk[:, :, 0] = new[:, :, 2]
        with open(os.path.join(adir, "2.0.1"), "wb") as fh:
            fh.write(_zlib.compress(blk.tobytes(), 6))
        q.processAllAvailable()
        # not yet visible, and crucially NOT swallowed
        assert spark.table("zarr_race").count() == cube.size

        # ...shape bump + time extension LAST
        t6 = np.arange(6)
        zr.write_zarr_array(
            os.path.join(root, "time"), (t6 * 24).astype("<i4"), compressor=None
        )
        meta = _json.load(open(os.path.join(adir, ".zarray")))
        meta["shape"][0] = 6
        _json.dump(meta, open(os.path.join(adir, ".zarray"), "w"), sort_keys=True)
        q.processAllAvailable()
        out = spark.table("zarr_race")
        assert out.count() == cube.size + new.size
        assert out.select(F.countDistinct("time")).first()[0] == 6
    finally:
        q.stop()


def _break_missing_lat(root):
    import shutil

    shutil.rmtree(os.path.join(root, "lat"))


def _break_2d_coord_shapes(root):
    zr.write_zarr_array(os.path.join(root, "lat"), np.full((2, 3), 1.0), compressor=None)
    zr.write_zarr_array(os.path.join(root, "lon"), np.full((3, 2), -3.0), compressor=None)


def _break_var_grid_shape(root):
    zr.write_zarr_array(
        os.path.join(root, "w"), np.zeros((4, 3, 2), dtype="<f8"), compressor=None
    )


@pytest.mark.parametrize(
    "breakage, message",
    [
        (_break_missing_lat, "missing coordinate array: lat"),
        (_break_2d_coord_shapes, "2-D lat/lon shapes differ"),
        (_break_var_grid_shape, r"w: shape \[4, 3, 2\] != coord axes"),
    ],
    ids=["missing-lat", "2d-coord-shapes", "var-grid-shape"],
)
def test_invalid_store_rejected_by_ingest_and_stream_reader(spark, tmp_path, breakage, message):
    """A store whose coordinates and data variables disagree raises
    ValueError through ingest_zarr_store AND the stream reader's store
    snapshot — one validation (read_store) behind both."""
    from netcdf_olap_spark.sources.zarr import ZarrCubeReader

    root = str(tmp_path / "store")
    _mini_store(root)
    breakage(root)
    with pytest.raises(ValueError, match=message):
        zr.ingest_zarr_store(spark, root, ds="t")
    with pytest.raises(ValueError, match=message):
        ZarrCubeReader({"path": root})


def test_stream_reader_accepts_time_axis_ahead_of_shape(spark, tmp_path):
    """The stream reader may observe an extended time axis before a
    variable's .zarray shape bump (the append race); the batch ingest
    rejects the same store."""
    from netcdf_olap_spark.sources.zarr import ZarrCubeStreamReader

    root = str(tmp_path / "store")
    _mini_store(root, nt=4)
    zr.write_zarr_array(
        os.path.join(root, "time"), (np.arange(6) * 24).astype("<i4"), compressor=None
    )
    rd = ZarrCubeStreamReader({"path": root})._reader()
    assert len(rd.time_us) == 6 and rd.metas["v"][1] == (4, 2, 3)
    with pytest.raises(ValueError, match="coord axes"):
        zr.ingest_zarr_store(spark, root, ds="t")
