"""Python worker daemon: pyspark's daemon with zip archives re-read only when changed.

``session.get_spark`` selects this module through ``spark.python.daemon.module``;
Spark starts it as ``python -m go_log_forwarder_spark.pyworker`` and every
Python worker is forked from it.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``setup_spark_files`` in ``pyspark/worker_util.py``). On Python 3.11 and
3.12 that makes each ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory, and there is one importer per pyspark subpackage
loaded from ``pyspark.zip`` (1,328 entries): about 12 ms of CPU per importer,
0.14-0.22 CPU-s per task, most of a task's cost for a small Arrow batch. Importing this module wraps
``zipimporter.invalidate_caches`` so an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the last read; a rewritten
archive is still re-read. On 3.13, where invalidation only drops the cached
directory, the wrapper keeps it while the archive is unchanged.

Only ``os`` and ``zipimport`` are imported at module level, so the
daemon, and every worker forked from it, holds no more than pyspark's own.
"""

import os
import zipimport

_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int] | None] = {}  # archive -> stat key when last read


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files  # another importer of the archive may have re-read it
        return
    # stat before the read: a write racing the read leaves a key that no
    # longer matches, so the next invalidation reads again
    _invalidate_caches(self)
    _read_at[self.archive] = key


if __name__ != "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
else:
    import importlib

    # run with -m this copy is ``__main__``; the guard is installed by the
    # copy imported under the module's own name
    importlib.import_module(__spec__.name)
    from pyspark import daemon

    # read each archive once here, so forked workers start with it recorded
    importlib.invalidate_caches()
    daemon.manager()
