"""PySpark worker daemon: heavy libraries pre-imported, zip archives read once.

PySpark workers fork from a per-executor daemon process
(``pyspark.daemon``), wired here via ``spark.python.daemon.module`` (the
pluggable daemon hook pyspark.java_gateway uses to launch the daemon).
Whatever the daemon holds before it forks, every worker inherits through
fork copy-on-write. This module uses that for two per-worker costs:

- **Imports.** A fresh worker that touches an Arrow/pandas path pays the
  pandas+numpy+pyarrow import chain (~1 s) before its first batch.
  Importing those libraries in the daemon makes the import happen once
  per executor instead of once per worker. Import failures are
  deliberately swallowed: a worker that needs pandas will re-raise its
  own ImportError with full context; the daemon must never die over a
  preload.
- **Zip archive directories.** Before every task the worker calls
  ``importlib.invalidate_caches()`` (``pyspark.worker_util.
  setup_spark_files``). On Python up to 3.12 that makes each
  ``zipimporter`` on ``sys.path`` re-parse its archive's whole central
  directory in pure Python. ``pyspark.zip``, the py4j zip and the
  spark-core jar come to 16 importers and ~200 ms per task, more than a
  small task's own work. ``_stamped_invalidate_caches`` replaces the
  method: it re-reads an archive only when the archive's
  ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken at its
  last read, so a rewritten archive is still picked up. The archives
  already read when the daemon starts are stamped before it forks, so
  the workers inherit the stamps. The driver process is not patched.

This module lives at the REPO ROOT, outside the engine package, on
purpose: the daemon is launched as ``python -m <module>``, and a
package-internal module would execute the package ``__init__`` —
which imports the engine (and pyspark.sql) — UNGUARDED before the try
block below, so any import-time error in the engine would kill the
daemon instead of degrading gracefully.

None of these libraries spawn threads or open descriptors at import
time (fork-safety): numpy's BLAS pools and pyarrow's memory pools are
created lazily on first use, which happens post-fork in the worker.
"""

from __future__ import annotations

import os
import zipimport

try:  # noqa: SIM105 — the daemon must start even with no pandas
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
except Exception:  # noqa: BLE001 — preload is best-effort by design
    pass

from pyspark.daemon import manager

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _stamped_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install_zip_stamps() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process and stamp
    the archives whose directories it has already read."""
    for path in zipimport._zip_directory_cache:
        _stamps[path] = _stamp(path)
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches


if __name__ == "__main__":
    install_zip_stamps()
    manager()
