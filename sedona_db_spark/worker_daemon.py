"""Python worker daemon for the engine's UDF tasks.

Selected by ``spark.python.daemon.module`` (``session._DEFAULT_CONFS``).
It runs PySpark's own daemon after taking two fixed costs out of every
forked worker's tasks:

- Each task calls ``importlib.invalidate_caches()``, which makes every
  cached ``zipimporter`` re-read its archive's directory (pyspark.zip,
  the py4j zip, the spark-core jar).  The archives on the daemon's
  ``sys.path`` at start-up do not change while the application runs, so
  they get an importer whose ``invalidate_caches`` does nothing.  Archives
  added later (``addPyFile``) and directories keep the stock behaviour.
- A reused worker runs ``gc.collect()`` after each task, which walks every
  object it inherited.  The daemon imports the engine and PySpark's worker
  and then freezes its heap, so workers start with the kernels loaded and
  the inherited objects moved out of the collector's generations.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


class FrozenZipImporter(zipimport.zipimporter):
    """``zipimporter`` for an archive that does not change."""

    def invalidate_caches(self):
        pass


def install_archive_hook() -> frozenset[str]:
    """Serve every archive now on ``sys.path`` with ``FrozenZipImporter``.

    Returns the archives; with none, nothing is installed."""
    archives = frozenset(p for p in sys.path if os.path.isfile(p))
    if not archives:
        return archives

    def hook(path: str):
        if any(path == a or path.startswith(a + os.sep) for a in archives):
            return FrozenZipImporter(path)
        raise ImportError("not a start-up archive", path=path)

    sys.path_hooks.insert(0, hook)
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in archives:
            del sys.path_importer_cache[path]
    return archives


def main() -> None:
    install_archive_hook()
    # loads pyarrow, whose jemalloc starts a background thread; jemalloc's
    # own fork handlers keep the forked workers' allocator consistent
    import sedona_db_spark  # noqa: F401  (kernels, numpy, pandas)
    from pyspark import daemon  # imports the worker module named in argv

    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
