"""Start-up hook for the session's Python workers.

``session.get_spark`` puts this directory on the workers' PYTHONPATH
(``spark.executorEnv.PYTHONPATH``), so every Python worker daemon the
session starts runs this module once, through ``site``, before it
forks task workers.

Every Python task begins with ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``. On Python 3.11 and
3.12 that calls ``zipimport.zipimporter.invalidate_caches`` on every
cached zip importer, and each call eagerly re-reads its archive's whole
central directory. A warm worker holds 13 importers of ``pyspark.zip``
(1,328 entries each) and 2 of the spark-core jar (5,359 entries each),
so every task spent 0.24-0.37 s parsing directories before its UDF
started (4 vCPUs). Python 3.13 made the invalidation lazy (gh-103200).

This module backports the effect: the re-read is skipped while the
archive's ``(st_mtime_ns, st_size, st_ino)`` is unchanged since that
importer's own last read, and done as before otherwise. The stamp is
kept per importer instance, because each importer holds its own
``_files`` table: a changed archive is re-read by every importer of it.
Nothing else of the invalidation changes — zips added later get fresh
importers, and path finders are still invalidated.

After installing the guard, the next ``sitecustomize`` on ``sys.path``
beyond this directory is executed, so one that this module shadows
(for example a distribution's ``/usr/lib/python3.X/sitecustomize.py``)
still runs. Standard library only; never raises; installs nothing on
Python 3.13 and later. This directory holds only this file.
"""

import os
import sys

_STAMP = "_archive_stat"


def guarded(stock):
    """``zipimporter.invalidate_caches`` that calls ``stock`` only when
    the archive changed since this importer's last read (or cannot be
    stat'ed)."""

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, _STAMP, None) != stamp:
            # stamp taken before the read: a change during the read
            # shows as a different stamp next time, never as a skip
            stock(self)
            setattr(self, _STAMP, stamp)

    invalidate_caches.stat_guarded = True
    return invalidate_caches


def install():
    """Patch ``zipimport.zipimporter`` once; a no-op on Python 3.13+."""
    if sys.version_info >= (3, 13):
        return
    try:
        import zipimport

        stock = zipimport.zipimporter.invalidate_caches
        if not getattr(stock, "stat_guarded", False):
            zipimport.zipimporter.invalidate_caches = guarded(stock)
    except Exception:  # noqa: BLE001 - a worker without the guard still works
        pass


def _chain():
    """Execute the ``sitecustomize`` this module shadows, if any."""
    spec = None
    try:
        import importlib.machinery
        import importlib.util

        here = os.path.realpath(os.path.dirname(os.path.abspath(__file__)))
        real = [os.path.realpath(p or os.curdir) for p in sys.path]
        start = real.index(here) + 1 if here in real else 0
        rest = [p for p, r in zip(sys.path[start:], real[start:]) if r != here]
        spec = importlib.machinery.PathFinder.find_spec("sitecustomize", rest)
        if spec is None or spec.loader is None:
            return
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    except Exception as err:  # noqa: BLE001 - reported the way site.py reports its own
        where = getattr(spec, "origin", None) or "sitecustomize"
        sys.stderr.write(f"Error in {where}; set PYTHONVERBOSE for traceback:\n{type(err).__name__}: {err}\n")


if __name__ == "sitecustomize":
    install()
    _chain()
