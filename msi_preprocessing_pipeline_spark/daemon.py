"""The Python daemon that forks this package's Spark workers.

:func:`..session.build_session` sets ``spark.python.daemon.module`` to this
module, so every Python task of the package (the fit stages, the serve UDF)
runs in a worker forked from it. pyspark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py::setup_spark_files``). That call asks every
``zipimporter`` in ``sys.path_importer_cache`` to re-read its archive's
central directory, in pure Python: pyspark.zip, the py4j zip and each of
their subpackage paths, on every task, though the archives never change.

Run as ``python -m``, this module replaces one method,
``zipimport.zipimporter.invalidate_caches``, with
:func:`invalidate_if_changed`: an importer re-reads its archive only when
the archive's ``(st_mtime_ns, st_size)`` differs from the value recorded
at the importer's last read, when the archive cannot be stat'ed, or when
the importer has no recorded value. :func:`install` puts it in place and
records the value for every zip importer already cached; then the daemon
runs ``pyspark.daemon.manager()``, whose forked workers inherit the patch
and the table. Everything else
``importlib.invalidate_caches`` does runs as in the stdlib: ``PathFinder``
drops ``None`` and relative entries, directory finders reset, the
namespace-package epoch advances. A new path on ``sys.path`` and a
rewritten archive are always read afresh.

Importing the module changes nothing; only ``python -m`` installs the
patch.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# importer -> (st_mtime_ns, st_size) of its archive when it last read it
_signatures = weakref.WeakKeyDictionary()


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an archive unchanged
    since the importer last read it. The signature is taken before the
    read, so an archive rewritten during the read is read again next
    time."""
    sig = _signature(importer.archive)
    if sig is not None and _signatures.get(importer) == sig:
        return
    _stdlib_invalidate(importer)
    if sig is None:
        _signatures.pop(importer, None)
    else:
        _signatures[importer] = sig


def install() -> None:
    """Put :func:`invalidate_if_changed` in place of the stdlib method and
    record the archive signature of every zip importer already in
    ``sys.path_importer_cache``, as read when it was built."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            sig = _signature(importer.archive)
            if sig is not None:
                _signatures[importer] = sig


if __name__ == "__main__":
    # pyspark.daemon first: its imports build the importers to record. The
    # patch comes from the importable module, not from ``__main__``, so a
    # worker can name it and there is one table.
    from pyspark.daemon import manager
    from msi_preprocessing_pipeline_spark.daemon import install
    install()
    manager()
