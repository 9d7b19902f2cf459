"""PySpark worker daemon: ``pyspark.daemon`` with cheap zip-cache invalidation.

Run as ``python -m duck_server_spark.engine.pyworker`` (engine/session.py
sets it as ``spark.python.daemon.module``). PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``), so files added with ``addPyFile``
become importable. On CPython < 3.12, ``zipimporter.invalidate_caches``
eagerly re-parses its archive's whole central directory, and a worker
holds one zipimporter per package directory imported from pyspark.zip
and py4j's zip: each task re-read pyspark.zip's ~1.3k-entry directory
16 times, ~150 ms before any user code ran. CPython 3.12 and later only
drop the cache entry there, so this module changes nothing on them.

Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
differs from the last re-read; otherwise the importer takes that read's
directory. The per-task invalidation itself stays: new ``sys.path``
entries get fresh importers, path finders are still invalidated, and a
rewritten archive is re-read. The daemon then runs
``pyspark.daemon.manager()`` unchanged (fork, worker reuse, setpgid).

Forked workers share this module's memory, so it imports little, and it
writes nothing to stdout: the JVM reads the daemon's port from there.
"""

import importlib
import os
import sys
import zipimport

_REREAD = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size), directory) of its last re-read
_READS: dict = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """zipimporter.invalidate_caches that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    last = _READS.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _REREAD(self)
    _READS[self.archive] = (stamp, self._files)


def main() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # one read per archive here, so forked workers start with every
    # importer's read recorded and their first task re-reads nothing
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
