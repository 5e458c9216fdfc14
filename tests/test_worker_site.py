"""The Python workers' start-up hook (``netcdf_olap_spark/worker_site``):
a stat-guarded ``zipimporter.invalidate_caches`` that skips re-reading
an unchanged archive, installed in every worker of a ``get_spark``
session, chaining to any ``sitecustomize`` it shadows."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from netcdf_olap_spark.session import WORKER_SITE_DIR

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip invalidation is lazy from Python 3.13 on"
)


def _load_site_module():
    spec = importlib.util.spec_from_file_location(
        "worker_sitecustomize", os.path.join(WORKER_SITE_DIR, "sitecustomize.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # not named "sitecustomize": installs nothing
    return mod


def _write_zip(path, modules: dict[str, str]) -> None:
    """(Re)write ``path`` in place, so the inode stays the same."""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"pkg/{name}.py", src)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip, three importers of it (the archive root and two of its
    ``pkg/`` subdirectory) and a list that records every directory read,
    with the guard installed on ``zipimporter`` for this test only."""
    site = _load_site_module()
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    stock_read = zipimport._read_directory
    reads = []

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        site.guarded(zipimport.zipimporter.invalidate_caches),
    )
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"mod": "VALUE = 1\n"})
    importers = [
        zipimport.zipimporter(zp),
        zipimport.zipimporter(os.path.join(zp, "pkg")),
        zipimport.zipimporter(os.path.join(zp, "pkg")),
    ]
    return zp, importers, reads


def _import(importer, fullname):
    spec = importer.find_spec(fullname)
    assert spec is not None, fullname
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@needs_guard
def test_unchanged_zip_is_not_reread(guarded_zip):
    _zp, importers, reads = guarded_zip
    reads.clear()
    for _ in range(4):
        for imp in importers:
            imp.invalidate_caches()
    # each importer reads once to take its stamp; the stock method
    # would have read 12 times
    assert len(reads) == len(importers)


@needs_guard
def test_rewritten_zip_is_reread_by_every_importer(guarded_zip):
    zp, importers, reads = guarded_zip
    for imp in importers:
        imp.invalidate_caches()
    reads.clear()
    _write_zip(zp, {"mod": "VALUE = 2\n", "new_mod": "VALUE = 3\n"})
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == len(importers)
    root, *subdirs = importers
    assert b"VALUE = 3" in root.get_data("pkg/new_mod.py")
    for imp in subdirs:
        assert _import(imp, "pkg.new_mod").VALUE == 3
        assert _import(imp, "pkg.mod").VALUE == 2
    reads.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert reads == []


@needs_guard
def test_vanished_zip_does_not_raise(guarded_zip):
    zp, importers, _reads = guarded_zip
    for imp in importers:
        imp.invalidate_caches()
    os.remove(zp)
    for _ in range(2):
        for imp in importers:
            imp.invalidate_caches()
    assert all(imp.find_spec("pkg.mod") is None for imp in importers[1:])


@needs_guard
def test_spark_python_workers_run_the_guard(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
        for _ in batches:
            yield pd.DataFrame({"guarded": [bool(guarded)]})

    rows = spark.range(1).repartition(1).mapInPandas(probe, "guarded boolean").collect()
    assert rows and all(r.guarded for r in rows)


def test_shadowed_sitecustomize_still_runs(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("print('chained sitecustomize ran')\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([WORKER_SITE_DIR, str(other)]))
    code = (
        "import sys, zipimport\n"
        "print(sys.modules['sitecustomize'].__file__)\n"
        "print('guarded', getattr(zipimport.zipimporter.invalidate_caches, 'stat_guarded', False))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    lines = out.stdout.splitlines()
    assert lines[0] == "chained sitecustomize ran"
    assert lines[1] == os.path.join(WORKER_SITE_DIR, "sitecustomize.py")
    assert lines[2] == f"guarded {sys.version_info < (3, 13)}"

    # a failing chained module is reported the way site.py reports one
    (other / "sitecustomize.py").write_text("raise RuntimeError('boom')\n")
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    assert "RuntimeError: boom" in out.stderr
    assert out.stdout.splitlines()[1] == f"guarded {sys.version_info < (3, 13)}"
