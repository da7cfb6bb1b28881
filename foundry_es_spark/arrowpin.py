"""Per-task set-up hook for Python workers: pin pyarrow's thread pool and
drop zip-backed import finders.

Called at the top of every task-side kernel (bucket-local merge, fused
CDC sink / dedup kernel, DATS meta kernel, XML re-harvest splitter).
Process-global and sticky per reused worker -- idempotent, so every
kernel calls it defensively, and it never fails a task. The DRIVER's
pyarrow and import state (footer reads, oracle checks) are never touched.

1. Arrow pool pin. Spark already runs one Python worker PER CORE;
   pyarrow's default CPU pool is ALSO sized to the machine (32 here), so
   every mapInArrow / fused-sink task spawns a full-width pool and a
   32-task wave schedules ~32x32 threads. Measured on the bench table
   (64 buckets x ~12 MB, tmpfs): a single-process 16-file bucket read
   takes 0.43 s with the default pool vs 0.107 s single-threaded -- the
   pool is pure overhead at per-task file sizes, and under 32-way worker
   concurrency the oversubscription turned a ~2 s compaction job into
   20 s. Task-level parallelism is the engine's scaling axis; intra-task
   Arrow threading only fights it.

2. Zip finder drop. Before every task, PySpark's worker runs
   ``setup_spark_files``, which ends in ``importlib.invalidate_caches()``.
   That calls ``invalidate_caches()`` on every finder in
   ``sys.path_importer_cache``, and on Python 3.11 each
   ``zipimport.zipimporter`` there (one per zip path entry and per
   package directory imported from the zip: ~16 on a reused worker) re-reads
   the WHOLE central directory of its archive -- 1,328 entries of
   ``pyspark.zip`` each time, 0.15-0.25 CPU-s per task. Deleting those
   entries leaves the next ``invalidate_caches()`` nothing zip-backed to
   re-read. Imports keep working: a later import from the zip re-creates
   its finder from ``zipimport._zip_directory_cache`` without a re-read,
   loaded modules keep their own loaders, and directory ``FileFinder``s
   stay cached. Limit: the first task on a newly forked worker -- and on a
   worker Spark re-forks after its idle timeout -- still pays once: the
   worker inherits the daemon's finders, and that task's
   ``invalidate_caches()`` runs before its kernel first calls this hook.
"""

from __future__ import annotations

import sys
import zipimport


def prepare_task_worker() -> None:
    try:
        import pyarrow as pa

        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
    except Exception:  # pragma: no cover - never fail a task over a knob
        pass
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
