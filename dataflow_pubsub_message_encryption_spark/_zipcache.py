"""Keep zip archives' cached directories across ``importlib.invalidate_caches``.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimporter.invalidate_caches`` re-reads its archive's whole
directory each time, once per cached importer: about 16 reads of
``pyspark.zip``, the py4j zip and the Spark jar, 0.5-0.65 s per task on a
loaded 4-core box. CPython 3.13 made it cheap: the directory is dropped and read
again only when an import next looks into that archive. Here, on older
interpreters only, an archive is re-read only when its
``(st_mtime_ns, st_size)`` stamp differs from the one taken when it was
last re-read, so a rewritten archive is never left stale. The first
invalidation after installing still re-reads, to take the stamp.
"""

import os
import sys
import zipimport

_STAMPS: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)  # stamp taken before the read: a rewrite during it re-reads next time
    _STAMPS[self.archive] = stamp


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
