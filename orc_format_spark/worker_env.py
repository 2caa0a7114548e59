"""Once-per-worker runtime setup for the library's Python UDFs.

Every UDF body in this package (``mapInArrow``, ``applyInArrow``, the
pandas UDF of ``prune_blobs`` and the ``read``/``write`` methods of the
Python data sources in ``sources/datasource.py``) calls
``limit_worker_threads()`` first.
The first call in a Python worker sets up three things for the rest of
that worker's life:

- **One Arrow lane per worker.** Spark runs one Python worker per core;
  pyarrow's default CPU/IO thread pools are sized to the whole machine,
  so N workers x N arrow threads oversubscribes the box quadratically
  (32 workers x 32 threads = 1024 runnable threads at local[32]) —
  thread thrash and allocator contention that shows up as collapsing
  per-core throughput as parallelism rises. Each worker is a single
  lane; parallelism comes from Spark's task scheduling, not nested pools.
- **No per-task zip re-read.** Before every task PySpark's worker calls
  ``importlib.invalidate_caches()`` (``setup_spark_files``). Before
  CPython 3.13 that makes every cached ``zipimporter`` re-parse its
  archive's whole central directory. A Spark 4.1 worker holds 16 of
  them (pyspark.zip's packages, py4j, the Spark jar on the worker's
  PYTHONPATH, plus any ``--py-files`` zip): 0.14-0.25 s of CPU per task,
  most of an empty job's wall (BENCH.md §15). With the guard an archive is
  re-read only when its (inode, size, mtime) stamp changed since this
  process last read it; otherwise the importer adopts the directory
  already in ``zipimport._zip_directory_cache``. CPython 3.13 invalidates
  lazily, so there the guard is not installed.
- **A frozen heap.** After every task a reused worker runs a full
  ``gc.collect()`` (Spark 4.1's ``pyspark/daemon.py``), which walks
  every container object alive in the process: the ~75,000 objects of
  numpy, pyarrow, pandas, pyspark and this library, ~20 ms of CPU per
  task (BENCH.md §20). The hook imports what a task would load on first
  use, collects once, and moves everything still alive to the permanent
  generation (``gc.freeze()``), so each later collection walks only
  what the tasks since the last one created. Freezing cannot change a
  value: it only shortens the cyclic collector's work list, and
  reference counting still frees every object whose count drops to
  zero. The one cost is that a reference cycle among objects alive at
  the freeze is never reclaimed.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

_done = False
# archive path -> (st_ino, st_size, st_mtime_ns) taken just before this
# process last read the archive's directory
_stamps: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches  # the eager re-read


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def _install_zip_guard() -> None:
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # read and stamp every archive now (once each, not once per
    # importer), so the next task already finds them unchanged
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp.invalidate_caches()


# what a task would import on first use, imported before the freeze so
# that its objects are frozen too: the codecs the hot paths import
# lazily, and pandas, which pyarrow imports at a task's first record
# batch (about a third of a warm worker's heap)
_PRELOAD = (f"{__package__}.codecs.alp", f"{__package__}.codecs.orc_bloom",
            "pandas", "pyarrow.pandas_compat")


def _freeze_heap() -> None:
    for name in _PRELOAD:
        try:
            importlib.import_module(name)
        except ImportError:  # pragma: no cover - pyarrow runs without pandas
            pass
    gc.collect()
    gc.freeze()


def limit_worker_threads() -> None:
    global _done
    if _done:
        return
    _install_zip_guard()
    import pyarrow as pa

    try:
        if pa.cpu_count() > 1:
            pa.set_cpu_count(1)
        if pa.io_thread_count() > 2:
            pa.set_io_thread_count(2)
    except Exception:  # pragma: no cover - best effort on older pyarrow
        pass
    _freeze_heap()
    _done = True
