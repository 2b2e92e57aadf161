"""Span data model — the engine's single fixed schema.

Derived from the reference's DoclingDocument contract
(/root/reference/output.json:1 — texts[].label, body.children reading
order, pictures/tables media pools, prov page/bbox/charspan) flattened to
the `input_hint` shape in /root/repo/BASELINE.json:

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>

The spans array position IS reading order (the body.children traversal of
output.json). `furniture` (boilerplate) items never appear in output spans,
exactly as the reference's markdown/html exports contain only `body`.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# kinds: raw (input stream) side
# ---------------------------------------------------------------------------
RAW_HTML = "html"  # one raw HTML page payload
RAW_PDF_CELL = "pdf_cell"  # one layout text cell (JSON prov in text)
RAW_PDF_IMAGE = "pdf_image"  # embedded image XObject (JSON prov, media_ref)
RAW_PDF_TABLE = "pdf_table"  # table region (JSON prov + cells, media_ref)
# serialization-reader formats (operators/md_ingest): documents whose raw
# payload is one of the engine's own canonical serializations — the
# format-dispatch breadth of the reference's converter entry point
# (pdf_processor.py:176-189) applied to its output formats
RAW_MARKDOWN = "markdown"  # canonical markdown document payload
RAW_DOCTAGS = "doctags"  # canonical doctags stream payload
RAW_JSON = "json_doc"  # canonical (lossless) doc-JSON payload
RAW_HTML_DOC = "html_doc"  # canonical html-export payload (NOT a web page
# — those are RAW_HTML and go through the boilerplate-stripping kernel)

# ---------------------------------------------------------------------------
# kinds: extracted side — the DoclingDocument label set observed in
# output.json:1 (.texts[*].label == section_header|text, .groups[0].label
# == key_value_area, .pictures, .tables)
# ---------------------------------------------------------------------------
K_SECTION_HEADER = "section_header"
K_TEXT = "text"
K_KEY_VALUE = "key_value_area"
K_PICTURE = "picture"
K_TABLE = "table"
# K8 enrichment kinds (pdf_processor.py:133-134: do_code_enrichment,
# do_formula_enrichment — disabled on the limited tier, 144-166)
K_CODE = "code"
K_FORMULA = "formula"

EXTRACTED_KINDS = (
    K_SECTION_HEADER, K_TEXT, K_KEY_VALUE, K_PICTURE, K_TABLE, K_CODE, K_FORMULA
)

# Per-document span ceiling enforced at the extraction boundary: a doc
# whose extraction yields more spans degrades to `failed` (degrade-never-
# die). Every downstream per-document operator handles a document's whole
# span array in one row (one task), so the ceiling bounds that row's size
# and the single-task straggler it can cause. 20k spans ≈ a 2000-page
# document — beyond the reference's own operating envelope (its size
# classes stop at 50+ pages, tests/test_runpod_medium_ocr.py:25-37).
# Stored tables that bypass the kernels may hold bigger documents; the
# chunker is linear in spans + tokens, so it takes them without a
# separate route.
MAX_SPANS_PER_DOC = 20_000

# conversion methods — the two-tier pipeline of the reference
# (pdf_processor.py:118-166: default vs limited; ocr.py:35-37 validates
# conversion_method ∈ {default, limited})
METHOD_DEFAULT = "default"
METHOD_LIMITED = "limited"
METHOD_FAILED = "failed"

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

SPANS_TYPE = T.ArrayType(SPAN_STRUCT, False)


def spans_array(kinds, texts, refs, offsets, cum):
    """The SPANS_TYPE Arrow column from flat per-span children (lists or
    numpy arrays) and the per-document list boundaries `cum` (n_docs + 1
    int32 values). The one place the engine builds a spans column: every
    Arrow kernel marshals flat, with no per-span dict on either side."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    vals = pa.StructArray.from_arrays(
        [
            pa.array(kinds, type=pa.string()),
            pa.array(texts, type=pa.string()),
            pa.array(refs, type=pa.string()),
            pa.array(offsets, type=pa.int32()),
        ],
        fields=list(to_arrow_type(SPANS_TYPE).value_type),
    )
    return pa.ListArray.from_arrays(pa.array(cum, type=pa.int32()), vals)


DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, False),
    ]
)

DOCS_EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, False),
        # default|limited|failed — K10 degraded-tier marker
        # (pdf_processor.py:191-201: retry with limited options, never die)
        T.StructField("conversion_method", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

# lineage row — the job-store analog (job_db.py:100-121 jobs table;
# queue_manager.py:366-401 result summary)
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.TimestampType(), False),
        T.StructField("ended_at", T.TimestampType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("span_count", T.LongType(), False),
        T.StructField("error_count", T.LongType(), False),
        T.StructField("method_default", T.LongType(), False),
        T.StructField("method_limited", T.LongType(), False),
        T.StructField("total_characters", T.LongType(), False),
    ]
)


def doc_id_str(doc_id: int) -> str:
    """Canonical string doc id: 'doc-000042' (input_hint doc_id:string)."""
    return f"doc-{doc_id:06d}"
