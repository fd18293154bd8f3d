"""Python-worker daemon for sessions built by ``session.get_spark``.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``).  On CPython 3.11 each ``zipimporter``
on ``sys.path`` answers by re-reading its archive's whole central directory:
``pyspark.zip``, the py4j source zip and the spark-core jar, 130-440 ms per
task with four workers running at once.  Here an archive is re-read only
when its ``(st_mtime_ns, st_size)`` differs from the last read, the
staleness rule ``FileFinder`` applies to directories; then pyspark's own
daemon runs, and every worker it forks inherits the patch.  Started with
``python -m``, the daemon imports the package first, so the workers also
fork with it (and pandas/pyarrow) already loaded.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive's
    ``(st_mtime_ns, st_size)`` matches this importer's last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # gone or unreadable: let the stock reader drop it
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    # Patch with the importable module's function, not this __main__ copy's.
    from bigdatawork_spark.pyworker_daemon import invalidate_caches as patched
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = patched
    importlib.invalidate_caches()  # one read per archive, before any fork
    daemon.manager()
