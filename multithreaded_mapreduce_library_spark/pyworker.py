"""Python worker daemon: ``pyspark.daemon`` without the per-task re-read
of ``pyspark.zip``.

Every Python task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
each ``zipimport.zipimporter`` re-parse its archive's whole directory. A
facade worker holds 16 of them: 12 over ``pyspark.zip`` (1,328 entries),
2 over the ``spark-core`` jar (5,359) and 2 over py4j's zip. On a 4-CPU
host that was about 230 ms of worker CPU per task, more than the facade's
tasks spend on their rows.

This module makes an importer re-read its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from what it was before the importer's
last read; a changed or unreadable archive is re-read exactly as before.
It then hands over to ``pyspark.daemon.manager()``, so every forked worker
inherits the patch and the daemon protocol is untouched.

Spark starts it as ``python -m <this module> pyspark.worker``
(``spark.python.daemon.module``, set by ``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # Stamp before reading: a change during the read leaves an older
    # stamp behind, so the next call re-reads again.
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter`` and read every loaded archive once, so that
    workers forked after this start with their stamps set."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # Patch with the importable copy of this module, so the installed
    # function names this module rather than ``__main__``.
    from multithreaded_mapreduce_library_spark import pyworker

    pyworker.install()
    from pyspark.daemon import manager

    manager()
