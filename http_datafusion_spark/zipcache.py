"""Stat-gated ``zipimporter.invalidate_caches`` for Spark's Python workers.

Every Python worker task starts in ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``. That covers the
DataSource planner workers (``create_data_source``,
``plan_data_source_read``), the ``httpjson`` read tasks and every
``mapInPandas``/``mapInArrow``/UDF task. Below CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory eagerly (CPython 3.11.7 ``Lib/zipimport`` source, line 329;
the same in 3.10 and 3.12.1); 3.13 only drops the cache entry (CPython 3.13
``Lib/zipimport`` source, line 276) and reads the directory again on
the next lookup.

Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` and
also have the py4j source zip and the spark-core jar on ``sys.path``, so
that call re-reads 16 directories per task: 12 zipimporters for
``pyspark.zip`` (one per subpackage, 1 328 entries, ~12 ms each), 2 for
py4j and 2 for the 5 359-entry jar (~38 ms each), ~0.22 s in all. On 4
cores that was most of a Python-worker hop: a 1-task ``mapInArrow`` job
took 0.46-0.59 s and a 4-task one 0.66-0.69 s (medians of 15), against
0.13-0.14 s and 0.15 s with the gate below; a JVM-only 4-task job takes
0.10 s.

:func:`install` wraps the method so that an importer re-reads its archive
only when the archive's ``(st_mtime_ns, st_size)`` differs from the one
recorded at the last read. A changed, missing or unreadable archive goes
through the original method. The package's ``__init__`` calls it, so it
runs in every worker that unpickles an engine function or the
``HttpJsonDataSource`` class; Spark reuses workers, so later tasks in
that worker skip the re-reads.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when zipimport._zip_directory_cache
# was last filled for it through the wrapped method.
_read_at: dict[str, tuple[int, int]] = {}


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` on the archive's stat; a
    no-op on CPython 3.13+ and when already installed."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(original, "_stat_gated", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)  # before the read: a later change re-reads next time
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_at.get(self.archive) == key:
            self._files = files
            return
        original(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = key
        else:
            _read_at.pop(self.archive, None)

    invalidate_caches._stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
