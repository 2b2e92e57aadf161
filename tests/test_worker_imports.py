"""The worker import guard: unchanged zip archives are not re-read on
``importlib.invalidate_caches()``, changed ones are, and only Spark Python
workers get the guard. The worker's garbage-collector hook freezes only
after a full collection between tasks, and only workers get it."""

import gc
import importlib
import json
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


# Runs in a fresh interpreter the way a Spark Python worker runs a task:
# pyspark.worker imported first, then per kernel family the pickled kernel
# is loaded (importing its modules), run over Arrow IPC input and its
# output written back as IPC. Prints, per family, the output row count and
# whether pandas is loaded by then.
_WORKER_PROBE = """
import json, pickle, sys
import pyspark.worker
import pyarrow as pa

seen = {}
for name, blob, data in pickle.loads(sys.stdin.buffer.read()):
    kernel = pickle.loads(blob)
    sink, rows = pa.BufferOutputStream(), 0
    for out in kernel(iter(pa.ipc.open_stream(data))):
        with pa.ipc.new_stream(sink, out.schema) as w:
            w.write_batch(out)
        rows += out.num_rows
    seen[name] = [rows, "pandas" in sys.modules]
print(json.dumps(seen))
"""


def _ipc(batch):
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def _kernel_families(documents):
    """(family, kernel, input batch) for every library mapInArrow kernel,
    each on a few rows."""
    import numpy as np
    import pyarrow as pa

    from docling_fast_server_spark.corpus import _gen_batches_arrow
    from docling_fast_server_spark.model import RAW_MARKDOWN, spans_array, string_array
    from docling_fast_server_spark.operators import dedup, dispatch, multimodal, similarity
    from docling_fast_server_spark.operators.chunking import _chunk_arrow
    from docling_fast_server_spark.sources.binary_pack import _extract_binary_arrow, pack_cells

    docs = pa.RecordBatch.from_pydict(
        {"doc_id": [d for d, _ in documents], "text": [t for _, t in documents]}
    )
    raw = next(_gen_batches_arrow(False)(iter([docs])))
    md = spans_array([RAW_MARKDOWN], ["# Title\n\nbody text"], [None], [0], [0, 1])
    raw = pa.RecordBatch.from_arrays(
        [pa.concat_arrays([raw.column(0), string_array(["doc-md"])]),
         pa.concat_arrays([raw.column(1), md])],
        names=["doc_id", "spans"],
    )
    extracted = next(dispatch._extract_auto_arrow(iter([raw])))
    spans = raw.column(1).to_pylist()
    packed = pa.RecordBatch.from_pydict(
        {"doc_id": raw.column(0).to_pylist(),
         "payload": [pack_cells(s) for s in spans[:-1]] + [b"not a container"]}
    )
    rng = np.random.default_rng(7)
    n = 12
    vecs = pa.RecordBatch.from_pydict(
        {"vec_id": np.arange(n, dtype=np.int64),
         "v": list(rng.normal(size=(n, similarity.DIM)))},
        schema=pa.schema([("vec_id", pa.int64()), ("v", pa.list_(pa.float64()))]),
    )
    qids = np.arange(0, n, 5, dtype=np.int64)
    Q = rng.normal(size=(len(qids), similarity.DIM))
    planes = np.array(similarity.plane_values(8), dtype=np.float64)
    refs = pa.RecordBatch.from_pydict(
        {"media_ref": ["#/pictures/0", "#/pictures/1", "#/pictures/2", "#/pictures/3",
                       "#/tables/0"],
         "kind": ["picture"] * 4 + ["table"]}
    )
    media = next(multimodal._media_arrow(iter([refs])))
    return [
        ("extract_auto", dispatch._extract_auto_arrow, raw),
        ("extract_binary", _extract_binary_arrow, packed),
        ("gen_extract", dispatch._gen_extract_arrow(True), docs),
        ("gen_extract_render", dispatch._gen_extract_render_arrow(("markdown", "html"), False),
         docs),
        ("corpus_gen", _gen_batches_arrow(True), docs),
        ("chunk_ws", _chunk_arrow(8, "ws"), extracted.select(["doc_id", "spans"])),
        ("chunk_bpe", _chunk_arrow(8, "bpe"), extracted.select(["doc_id", "spans"])),
        ("brute_topk", similarity._topk_kernel(qids, Q, np.ones(len(qids)), 3, pa.int64()), vecs),
        ("lsh_bands", similarity._band_keys(planes, 4, 2), vecs),
        ("hashsets", dedup._hashsets_arrow, docs.select(["doc_id", "text"])),
        ("media", multimodal._media_arrow, refs),
        ("media_features", multimodal._features_arrow(multimodal._decode_one), media),
        ("media_transforms", multimodal._transforms_arrow(multimodal._decode_one), media),
    ]


def test_kernels_load_no_pandas_in_a_fresh_worker(documents_pdf):
    """Every library mapInArrow kernel runs in a fresh interpreter set up
    like a Spark Python worker without loading pandas: pyarrow's pa.array,
    to_numpy and numpy-indexed take would load it on their first call."""
    from pyspark import cloudpickle

    families = _kernel_families(documents_pdf[:12])
    payload = cloudpickle.dumps(
        [(name, cloudpickle.dumps(kernel), _ipc(batch)) for name, kernel, batch in families]
    )
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=ROOT, input=payload, capture_output=True, check=True,
    ).stdout
    seen = json.loads(out)
    assert list(seen) == [name for name, _, _ in families]
    assert all(rows > 0 for rows, _ in seen.values()), seen
    loaded = [name for name, (_, pandas) in seen.items() if pandas]
    assert not loaded, f"pandas loaded by the first of: {loaded}"


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
