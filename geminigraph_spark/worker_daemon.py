"""PySpark worker daemon whose zip importers re-read only changed archives.

Spark starts ``python -m <spark.python.daemon.module>`` once per worker
environment and forks every Python worker from it; ``session.py`` names
this module there for local masters. Before each task a worker calls
``importlib.invalidate_caches()`` (pyspark ``worker_util.
setup_spark_files``), and on CPython 3.11 every ``zipimport.zipimporter``
answers by re-reading its archive's central directory. A worker holds
about 16 of them, over pyspark.zip, the py4j zip and the spark-core jar
(~6.7k entries in all): 190-270 ms of CPU before every task on a 4-vCPU
host, paid by every engine superstep and every pandas-UDF task.

``install`` puts ``StatCheckedZipImporter`` in place of
``zipimport.zipimporter`` in ``sys.path_hooks``. Its ``invalidate_caches``
re-reads an archive only when the archive's ``(st_mtime_ns, st_size)``
differs from the stamp taken before the cached directory was read, so a
rewritten archive, or a new one ``SparkContext.addPyFile`` ships, is read
just as CPython would read it. Forked workers inherit the hook.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_mtime_ns, st_size) taken before the directory held in
#: ``zipimport._zip_directory_cache`` for that path was read. Process-wide,
#: like the directory cache it describes.
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatCheckedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` skips unchanged archives."""

    def __init__(self, path):
        super().__init__(path)
        # a stamp already held belongs to the cached directory this importer
        # now shares; a first one follows a read made moments ago, here or
        # while the interpreter started
        _stamps.setdefault(self.archive, _stamp(self.archive))

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stamped before the read: a rewrite during it shows up next time
        _stamps[self.archive] = stamp
        super().invalidate_caches()


def install() -> None:
    """Make new zip importers stat-checked and drop the existing ones from
    ``sys.path_importer_cache``, so the path finder re-creates them through
    the new hook from the directories already cached."""
    sys.path_hooks[:] = [
        StatCheckedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    # through the package, so tasks see the class under its import name
    from geminigraph_spark import worker_daemon

    worker_daemon.install()
    from pyspark import daemon

    daemon.manager()
