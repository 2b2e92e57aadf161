"""The worker import guard: unchanged zip archives are not re-read on
``importlib.invalidate_caches()``, changed ones are, and only Spark Python
workers get the guard. The worker's garbage-collector hook freezes only
after a full collection between tasks, and only workers get it."""

import gc
import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from docling_fast_server_spark import worker_imports

ROOT = Path(__file__).resolve().parent.parent

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimport re-reads lazily from Python 3.12"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_eager_zipimport
def test_unchanged_archive_not_reread_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"dfss_zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("dfss_zmod_a", "dfss_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("dfss_zmod_a").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_imports.skip_unchanged(zipimport.zipimporter.invalidate_caches),
    )

    importlib.invalidate_caches()  # first call reads: nothing recorded yet
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged: not re-read

    _write_zip(archive, {"dfss_zmod_a": "X = 1\n", "dfss_zmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("dfss_zmod_b").Y == 2


def test_extraction_kernel_imports_no_pandas():
    """A Python worker that unpickles the extraction kernel imports
    `operators.dispatch`; that import chain loads no pandas."""
    probe = "import sys, docling_fast_server_spark.operators.dispatch; print('pandas' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    assert out.strip() == "False"


def test_driver_import_system_untouched():
    assert worker_imports.install() is False
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@needs_eager_zipimport
def test_guard_installed_in_worker_after_library_kernel(spark, sf_dir):
    from docling_fast_server_spark.operators.dispatch import _extract_auto_arrow

    driver_invalidate = zipimport.zipimporter.invalidate_caches

    def probe(batches):
        # Pickling this closure carries a library kernel, so unpickling it
        # in the worker imports the package, as for every library kernel.
        import pyarrow as pa

        docs = sum(b.num_rows for b in _extract_auto_arrow(batches))
        importlib.invalidate_caches()  # the worker's next task start
        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()  # and the one after it
        finally:
            zipimport._read_directory = read_directory
        guarded = zipimport.zipimporter.invalidate_caches.__module__ == worker_imports.__name__
        yield pa.RecordBatch.from_pydict(
            {"docs": [docs], "guarded": [guarded], "rereads": [len(reads)]}
        )

    from docling_fast_server_spark.corpus import docs_raw

    raw = docs_raw(spark, sf_dir).select("doc_id", "spans").repartition(4)
    rows = raw.mapInArrow(
        probe, "docs long, guarded boolean, rereads long"
    ).collect()

    assert sum(r.docs for r in rows) == raw.count()
    assert rows and all(r.guarded for r in rows)
    assert all(r.rereads == 0 for r in rows)  # no archive changed in between
    assert zipimport.zipimporter.invalidate_caches is driver_invalidate
    assert driver_invalidate.__module__ == "zipimport"


def test_gc_hook_freezes_only_after_a_full_collection_between_tasks(monkeypatch):
    from pyspark.taskcontext import TaskContext

    before = gc.get_freeze_count()
    try:
        worker_imports.freeze_between_tasks("stop", {"generation": 1})
        worker_imports.freeze_between_tasks("start", {"generation": 2})
        assert gc.get_freeze_count() == before
        with monkeypatch.context() as m:  # a task is running
            m.setattr(TaskContext, "get", classmethod(lambda cls: object()))
            worker_imports.freeze_between_tasks("stop", {"generation": 2})
        assert gc.get_freeze_count() == before
        worker_imports.freeze_between_tasks("stop", {"generation": 2})
        assert gc.get_freeze_count() > before
    finally:
        gc.unfreeze()


def test_gc_hook_installed_in_worker_not_on_driver(spark, sf_dir):
    from docling_fast_server_spark.corpus import docs_raw
    from docling_fast_server_spark.operators.dispatch import _extract_auto_arrow

    def probe(batches):
        import pyarrow as pa

        docs = sum(b.num_rows for b in _extract_auto_arrow(batches))
        frozen = gc.get_freeze_count()
        gc.collect()  # during a task: freezes nothing
        yield pa.RecordBatch.from_pydict(
            {
                "docs": [docs],
                "hooked": [worker_imports.freeze_between_tasks in gc.callbacks],
                "froze": [gc.get_freeze_count() != frozen],
            }
        )

    raw = docs_raw(spark, sf_dir).select("doc_id", "spans").repartition(4)
    rows = raw.mapInArrow(probe, "docs long, hooked boolean, froze boolean").collect()

    assert sum(r.docs for r in rows) == raw.count()
    assert rows and all(r.hooked for r in rows)
    assert not any(r.froze for r in rows)
    assert worker_imports.freeze_between_tasks not in gc.callbacks
