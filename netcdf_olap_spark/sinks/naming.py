"""The landing step shared by the artifact sinks: filename-component
validation and the one artifact writer.

The vendored readers (sources/hdf5.py, sources/netcdf3.py) accept
arbitrary bytes as variable names — they parse what's in the file and
do not enforce NetCDF naming rules. Sink filenames and zip entry
names interpolate dataset/variable names verbatim, so a crafted .nc
file with a variable named ``../../x`` could otherwise write outside
the output directory (and put path-traversal entries into result.zip
— zip-slip for extracting clients). Every sink path component goes
through :func:`safe_component` before touching a filesystem or zip.

Every sink task hands its encoded bytes to :func:`write_artifact`,
which lands them atomically and returns the manifest's
:data:`ARTIFACT_FIELDS`; no sink writes a file any other way.
:func:`land` is its name-agnostic landing step, also used by the
registry's fixture directories and the shipped package zip.
"""

from __future__ import annotations

import hashlib
import os
import re
import tempfile

from pyspark.sql.types import LongType, StringType, StructField

# control chars and both path separators; '..' is rejected separately
_BAD = re.compile(r"[\x00-\x1f/\\]")

# the tail of every sink's manifest schema: what write_artifact returns
ARTIFACT_FIELDS = [
    StructField("path", StringType()),
    StructField("size", LongType()),
    StructField("sha256", StringType()),
]


def safe_component(name: str, what: str = "name") -> str:
    """Validate a single filename component (no separators, no
    traversal, no control characters). Returns the name unchanged or
    raises ``ValueError`` — sinks reject rather than mangle, so a
    hostile file fails loudly instead of writing somewhere surprising.
    """
    if not isinstance(name, str) or not name:
        raise ValueError(f"{what} must be a non-empty string, got {name!r}")
    if _BAD.search(name):
        raise ValueError(f"{what} {name!r} contains a path separator or control character")
    if ".." in name:
        raise ValueError(f"{what} {name!r} contains '..'")
    if name != name.strip() or name.startswith("."):
        raise ValueError(f"{what} {name!r} has leading/trailing whitespace or a leading dot")
    return name


def land(path: str, content: bytes) -> None:
    """Write ``content`` to ``path`` so readers see the whole file or
    none of it: the bytes go to a temp file in the same directory first
    and reach ``path`` by ``os.replace``. The temp name starts with a
    dot, which Spark's ``binaryFile`` path filter and the Zarr readers
    skip, and any failure removes it before re-raising."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".", suffix=".tmp")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(content)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def write_artifact(out_dir: str, name: str, content: bytes) -> dict:
    """Check ``name``, :func:`land` ``content`` as ``out_dir/name`` and
    return its manifest fields ``{"path", "size", "sha256"}``."""
    safe_component(name, "name")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    land(path, content)
    return {"path": path, "size": len(content), "sha256": hashlib.sha256(content).hexdigest()}
