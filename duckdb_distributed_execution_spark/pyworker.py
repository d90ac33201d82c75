"""Per-process set-up of Spark's Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). Before CPython 3.12,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, once for each cached importer. A reused worker holds about
16 of them: pyspark.zip and its sub-package prefixes, the py4j zip, the
spark-core jar and this package's ``addPyFile`` zip. So every task
spent ~0.2 s of CPU re-reading archives that had not changed before it
touched any data. CPython 3.12 made the re-read lazy (gh-103200).

``install()`` replaces that method: an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from when this process last read
it; otherwise the importer rebinds to the cached directory, which is
what the re-read would have returned. A rewritten archive is still
re-read, so a new member stays importable.

Two ways in, both only in Spark worker processes, never in the driver:

- ``python -m duckdb_distributed_execution_spark.pyworker pyspark.worker``
  (the ``spark.python.daemon.module`` that ``Engine.start_local`` sets)
  installs the fix and then runs pyspark's worker daemon, so every
  forked worker has it from its first task;
- importing the package inside a worker (``__init__``) installs it for
  sessions the engine did not build, from the first task after a
  package UDF was unpickled.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when this process last read it
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    # Stamp BEFORE reading: a rewrite racing the read leaves an old
    # stamp behind, so the next call reads again.
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> bool:
    """Install the fix in this process; True if it is active."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


def main() -> None:
    """The worker daemon: install, then run pyspark's daemon manager."""
    import importlib

    from pyspark import daemon

    install()
    # Read each archive once here: forked workers inherit the stamps
    # and re-read nothing until an archive changes.
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # Delegate to the importable copy, so the patch and its stamps live
    # in one module object.
    from duckdb_distributed_execution_spark import pyworker

    pyworker.main()
