"""docling_fast_server_spark — a PySpark-native batch extraction engine.

A from-scratch reimplementation of the *semantics* of
mandar-karhade/docling-fast-server (reference at /root/reference, read-only)
as an idiomatic Spark DataFrame pipeline:

- per-document conversion kernel (PDF layout parse, reading-order
  reconstruction, block labeling, table structure, HTML boilerplate strip)
  as Arrow UDFs (mapInArrow kernels) — reference kernel:
  src/services/pdf_processor.py:168-224;
- exports (markdown/html/doctags/json) and hybrid chunking as pure
  functions of the span array — reference: pdf_processor.py:203-224;
- the job-queue/state machinery (queue_manager.py, job_db.py,
  redis_job_store.py) re-expressed as partitioning, lineage tables and
  anti-join resume — rows ARE the queue.

No code is copied from the reference; every operator is re-derived from
its observable contract (see SURVEY.md and output.json golden fixture).
"""

from . import worker_imports as _worker_imports

__version__ = "0.1.0"

_worker_imports.install()
