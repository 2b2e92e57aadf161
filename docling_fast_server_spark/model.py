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

import numpy as np
import pyarrow as pa
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
    from pyspark.sql.pandas.types import to_arrow_type

    vals = pa.StructArray.from_arrays(
        [
            string_array(kinds),
            string_array(texts),
            string_array(refs),
            numeric_array(offsets, pa.int32()),
        ],
        fields=list(to_arrow_type(SPANS_TYPE).value_type),
    )
    return pa.ListArray.from_arrays(numeric_array(cum, pa.int32()), vals)


# ---------------------------------------------------------------------------
# Arrow columns from buffers. pyarrow 16's pa.array, pa.scalar, to_numpy
# and numpy-indexed take import pandas on their first call (its pandas
# shim), ~30 MiB and ~0.2-0.3 CPU-s per Spark Python worker that no
# mapInArrow kernel needs. The kernels build and read their columns
# through these helpers, which touch only buffers, and keep pa.array's
# failure contract: a value of the wrong type raises ArrowTypeError, an
# integer out of the column type's range raises ArrowInvalid, a lone
# surrogate raises UnicodeEncodeError.
# ---------------------------------------------------------------------------
_NP_TYPES = {
    pa.int32(): np.int32,
    pa.int64(): np.int64,
    pa.float32(): np.float32,
    pa.float64(): np.float64,
}
_INT32_MAX = np.iinfo(np.int32).max


def _validity(valid, n: int):
    """(validity bitmap buffer or None, null count) of a bool mask."""
    if valid is None:
        return None, 0
    valid = np.asarray(valid, dtype=bool)
    nulls = n - int(np.count_nonzero(valid))
    if not nulls:
        return None, 0
    return pa.py_buffer(np.packbits(valid, bitorder="little")), nulls


def _nulls_out(values, empty):
    """(values with None replaced by `empty`, validity mask or None)."""
    if None not in values:
        return values, None
    valid = np.fromiter((v is not None for v in values), bool, len(values))
    return [empty if v is None else v for v in values], valid


def string_array(values, binary: bool = False) -> pa.Array:
    """pa.array(values, pa.string() or pa.binary()) for a list of str (or
    bytes) and None, built from one joined buffer; an Arrow array passes
    through unchanged."""
    if isinstance(values, pa.Array):
        return values
    n = len(values)
    values, valid = _nulls_out(values, b"" if binary else "")
    try:
        data = b"".join(values) if binary else "".join(values)
    except TypeError:
        want = bytes if binary else str
        bad = next(v for v in values if not isinstance(v, want))
        raise pa.ArrowTypeError(
            f"Expected {want.__name__}, got a {type(bad).__name__!r} object"
        ) from None
    lengths = map(len, values)
    if not binary and data.isascii():  # one byte per character
        data = data.encode()
    elif not binary:  # a lone surrogate raises UnicodeEncodeError here
        values = list(map(str.encode, values))
        data, lengths = b"".join(values), map(len, values)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(np.fromiter(lengths, np.int64, n), out=offsets[1:])
    if offsets[-1] > _INT32_MAX:
        raise pa.ArrowCapacityError(f"{offsets[-1]} bytes overflow a string column's int32 offsets")
    vbuf, nulls = _validity(valid, n)
    out = pa.Array.from_buffers(
        pa.binary() if binary else pa.string(),
        n,
        [vbuf, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
        null_count=nulls,
    )
    out.validate()
    return out


def numeric_array(values, type: pa.DataType, valid=None) -> pa.Array:
    """pa.array(values, type) for an integer or float `type`, zero-copy
    over a contiguous numpy array of that dtype. `values` is a numpy array
    or a list of numbers and None; `valid` is an optional bool mask (False:
    NULL). Integers are range-checked: numpy would wrap them silently."""
    dtype = np.dtype(_NP_TYPES[type])
    if isinstance(values, (list, tuple)):
        values, mask = _nulls_out(values, 0)
        valid = mask if valid is None else valid
    a = np.asarray(values)
    if a.dtype != dtype and len(a):
        if a.dtype.kind not in ("iu" if dtype.kind == "i" else "iuf"):
            raise pa.ArrowTypeError(f"Expected {dtype}, got a {a.dtype} array")
        if dtype.kind == "i":
            lo, hi = np.iinfo(dtype).min, np.iinfo(dtype).max
            bad = a[(a < lo) | (a > hi)]
            if len(bad):
                raise pa.ArrowInvalid(f"Integer value {bad[0]} not in range: {lo} to {hi}")
    a = np.ascontiguousarray(a, dtype=dtype)
    vbuf, nulls = _validity(valid, len(a))
    return pa.Array.from_buffers(type, len(a), [vbuf, pa.py_buffer(a)], null_count=nulls)


def list_array(offsets, values: pa.Array, valid=None) -> pa.Array:
    """list<values.type> column of len(offsets) - 1 rows from int32-range
    row offsets into `values`; `valid` is an optional bool mask (False:
    NULL, whose offsets must be equal)."""
    o = numeric_array(np.asarray(offsets, dtype=np.int64), pa.int32())
    n = len(o) - 1
    vbuf, nulls = _validity(valid, n)
    out = pa.Array.from_buffers(
        pa.list_(values.type), n, [vbuf, o.buffers()[1]], null_count=nulls, children=[values]
    )
    out.validate()
    return out


def np_values(arr: pa.Array, fill=None) -> np.ndarray:
    """The values of a numeric or bool Arrow array as numpy (read-only, a
    view over the data buffer for a numeric array). A NULL raises a
    ValueError unless `fill` is given, which then stands in for it."""
    n, off = len(arr), arr.offset
    buffers = arr.buffers()
    if arr.type == pa.bool_():
        bits = np.frombuffer(buffers[1], np.uint8) if n else np.zeros(0, np.uint8)
        out = np.unpackbits(bits, bitorder="little")[off : off + n].view(bool)
    else:
        dtype = np.dtype(_NP_TYPES[arr.type])
        if not n:
            return np.zeros(0, dtype)
        out = np.frombuffer(buffers[1], dtype, n, off * dtype.itemsize)
    if arr.null_count:
        if fill is None:
            raise ValueError(f"{arr.null_count} NULL values in a column read as numbers")
        bits = np.frombuffer(buffers[0], np.uint8)
        valid = np.unpackbits(bits, bitorder="little")[off : off + n].view(bool)
        out = np.where(valid, out, np.array(fill, dtype=out.dtype))
    return out


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
