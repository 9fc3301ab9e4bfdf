"""The Python worker daemon of the sessions ``session.build_spark`` makes.

PySpark forks every Python worker of an executor from one daemon process
(``spark.python.daemon.module``), and with worker reuse each worker then
runs task after task. The stock daemon has imported only pyspark's
worker loop, so a new worker imports pandas, pyarrow and the kernels
inside its first task: about 0.3-0.7 s on a 4-vCPU host, more under
load. That cost lands on the first wave that needs more workers than
any wave before it, e.g. the first full-width extraction after a
one-task job, and since a fused extraction is one wave of tasks, it adds
straight onto the job's wall time, by an amount that varies with the
host's load.

This daemon imports that worker-side stack once, before it forks, and
then runs pyspark's own daemon loop; every worker starts with the
modules already loaded (shared copy-on-write with the daemon).

It also cuts the fixed cost pyspark puts on every task. pyspark calls
``importlib.invalidate_caches()`` at the start of each task, and on
Python 3.11 every ``zipimporter`` in ``sys.path_importer_cache`` then
re-reads its archive's whole directory. A worker holds about 16 of
them: 12 on ``pyspark.zip`` (1,328 entries, about 11.5 ms a read), 2 on
the ``spark-core`` jar that Spark puts on the workers' ``PYTHONPATH``
(5,359 entries, about 48 ms a read) and 2 on the py4j zip; together
0.15-0.26 s per task, measured inside the workers on a 4-vCPU host.
Before the preload the daemon replaces ``zipimporter.invalidate_caches``
with ``invalidate_if_changed``, which re-reads an archive only when its
stat stamp moved, and after the preload it reads each archive once to
record the stamps; the forked workers inherit both, and a per-task
invalidation falls to 0.2-0.5 ms. An archive that is replaced, added
or deleted is seen exactly as before. The driver and user processes
keep the stock method.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# What a worker imports to run the fused extraction and the merge's
# render step: Arrow <-> pandas conversion, the operators whose
# functions the tasks unpickle, and the kernels those import lazily.
PRELOAD = (
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",
    "ocr_agent_spark.operators.extract",
    "ocr_agent_spark.operators.merge",
    "ocr_agent_spark.kernel",
)

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> (st_size, st_mtime_ns, st_ino) taken just before the
# read that produced its entry in ``zipimport._zip_directory_cache``.
_STAMPS: dict[str, tuple[int, int, int]] = {}


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive's ``(size, mtime_ns, inode)`` is the one recorded
    at its last read. With no recorded stamp, no cached directory or a
    failed stat it runs the stock method, so a replaced, added or
    deleted archive behaves as with the stock method."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _STAMPS.get(archive) == stamp:
        self._files = cached
        return
    _STOCK_INVALIDATE(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _STAMPS[archive] = stamp
    else:
        _STAMPS.pop(archive, None)


# ``__main__`` is this module's name in the daemon, so a worker cannot
# tell the replacement by its ``__module__``; it checks this mark.
invalidate_if_changed.stat_checked = True


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for name in PRELOAD:
        importlib.import_module(name)
    from pyspark import daemon

    # One stock read per archive now records the stamps that every
    # forked worker's per-task invalidation compares against.
    importlib.invalidate_caches()
    daemon.manager()
