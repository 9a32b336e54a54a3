"""Python-worker daemon for engine sessions: ``pyspark.daemon`` whose
forked workers re-read a zip archive's directory only when it changed.

Every Python-UDF task begins with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 each
``zipimporter`` on the worker's path (``pyspark.zip`` alone yields ~16)
then re-reads its archive's central directory: ~0.13 s per task before
the kernel runs (CPython 3.12 made that re-read lazy). The wrapper below
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the stamp taken at its last read, so a rewritten or new zip is still
seen. Forked workers inherit it, and worker reuse makes it one read per
archive per worker instead of one per task.

``get_spark`` sets ``spark.python.daemon.module`` to this module; Spark
4.1's ``pyspark.daemon`` honours only worker modules named ``pyspark*``,
so the wrapper has to be installed by the daemon, not the worker.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) taken just before its last read.
_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or _stamps.get(self.archive) != stamp:
        _stamps[self.archive] = stamp
        _reread(self)
    else:
        # Another importer of the same archive already re-read it.
        self._files = zipimport._zip_directory_cache.get(self.archive, {})


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
