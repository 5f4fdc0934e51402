"""PySpark's worker daemon, with zip archive directories read only when
the archive changes.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython before 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory at once, and a worker holds one importer per package path of
``pyspark.zip``, the py4j zip and Spark's own jar: about 120 ms of CPU
per task, before any of the task's code runs. Here an archive is re-read
only when its file identity ``(st_mtime_ns, st_size)`` differs from the
one at its last read, and then once for all of its importers.

Installed in the daemon before it forks, the rule covers every Python
worker of the session, including UDFs that never import this package.
``get_spark`` selects this module through ``spark.python.daemon.module``
(``spark.python.worker.module`` is no use: ``pyspark.daemon`` only loads
worker modules named ``pyspark*``). On CPython 3.13 and later the read
is already deferred to the next lookup, and this module only starts the
stock daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_read_identity: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its file identity changed since the last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate(self)
        return
    identity = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_identity.get(self.archive) == identity:
        self._files = files
    else:
        _stock_invalidate(self)
        _read_identity[self.archive] = identity


def main() -> None:
    from pyspark.daemon import manager

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        # record every archive's identity once here, so forked workers
        # start with nothing to re-read
        importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    main()
