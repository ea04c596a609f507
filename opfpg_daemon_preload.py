"""PySpark worker daemon with heavy libraries pre-imported.

PySpark workers fork from a per-executor daemon process
(``pyspark.daemon``); each fresh worker that touches an Arrow/pandas
path then pays the pandas+numpy+pyarrow import chain (~1 s) before its
first batch, the dominant cost of a session's first Arrow stage
(~1 s per worker of fork-and-import). Importing those libraries IN THE
DAEMON, before any worker forks, makes every worker inherit the loaded modules
through fork copy-on-write — the import happens once per executor
instead of once per worker.

Wired via ``spark.python.daemon.module`` (the pluggable daemon hook
pyspark.java_gateway uses to launch the daemon). Import failures are
deliberately swallowed: a worker that needs pandas will re-raise its
own ImportError with full context; the daemon must never die over a
preload.

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

try:  # noqa: SIM105 — the daemon must start even with no pandas
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
except Exception:  # noqa: BLE001 — preload is best-effort by design
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
