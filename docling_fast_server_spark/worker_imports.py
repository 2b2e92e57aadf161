"""Cut the per-task overhead of a reused Spark Python worker: no re-read
of unchanged zip archives, no full-heap garbage walk between tasks.

At the start of every task ``pyspark.worker`` calls
``importlib.invalidate_caches()``. Before Python 3.12 that makes every
cached ``zipimport.zipimporter`` re-read its archive's whole central
directory on the spot (3.12 made it lazy, CPython gh-103200). A worker
holds importers for pyspark.zip and its subpackages, py4j and the
spark-core jar, so each task re-read ~27k unchanged entries, ~0.2 CPU-s
whatever the data size.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
changed since it was last read, so a rewritten or replaced archive is
still picked up. It acts only on Python < 3.12 and only inside a Spark
Python worker (a task is running); the driver's import system is left
alone. The package ``__init__`` calls it, and a worker imports the package
when it unpickles a library kernel, so it covers every kernel.

``install()`` also hooks the worker's garbage collector. After every task
of a reused worker pyspark's daemon runs ``gc.collect()``, and a full
collection walks every object the worker's imports made (pyspark,
pyarrow, numpy; the library kernels load no pandas, see
model.string_array): ~20 ms of CPU per task, more than a small
kernel's own work. ``freeze_between_tasks`` moves what survives that
between-task collection to the permanent generation, so the next one
walks only what was allocated since. Collections during a task freeze
nothing, so no object a task is still using is frozen; a frozen object
is still freed when its last reference goes, and is only left
uncollected if it later becomes part of a garbage cycle.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def skip_unchanged(original):
    """Wrap a ``zipimporter.invalidate_caches`` so that it skips archives
    whose stat key matches the one taken just before their last read."""
    read_at: dict = {}  # archive path -> stat key taken before its last read

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        original(self)
        read_at[self.archive] = key

    return invalidate_caches


def freeze_between_tasks(phase: str, info: dict) -> None:
    """``gc.callbacks`` hook: after a full collection run while no task is
    running (pyspark resets the task context when a task ends), freeze
    its survivors."""
    if phase != "stop" or info["generation"] != 2:
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is None:
        gc.freeze()


def install() -> bool:
    """Install the garbage-collector hook if this is a Spark Python
    worker, and the zip guard if it also runs Python < 3.12. Returns
    whether the zip guard is in place."""
    # pyspark.worker imports the task context before it runs a task; a
    # process that never imported it is not a Spark Python worker.
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return False
    if freeze_between_tasks not in gc.callbacks:
        gc.callbacks.append(freeze_between_tasks)
    if sys.version_info >= (3, 12):
        return False
    current = zipimport.zipimporter.invalidate_caches
    if current.__module__ != __name__:
        zipimport.zipimporter.invalidate_caches = skip_unchanged(current)
    return True
