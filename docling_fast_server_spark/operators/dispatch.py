"""Combined extraction kernel — one pass, per-document format dispatch.

The reference routes every upload through one converter entry point that
picks the pipeline per format (DocumentConverter with format_options,
/root/reference/src/services/pdf_processor.py:176-189). The Spark analog:
one per-document dispatcher, `_extract_one`, driven by one per-batch
loop, `_extract_docs`, under every extraction entry point — the mixed
corpus (`extract_auto`, also the html-only and pdf-only registry rows),
the serialization readers (md_ingest.extract_payload), the fused datagen
kernels, and the DFSB bytes path (sources/binary_pack.extract_binary).

Marshaling is FLAT-COLUMN over ``mapInArrow``: the list<struct> spans
column is read as its flat child arrays (``to_pylist`` on each field —
one C-speed conversion per column) and rebuilt the same way
(``model.spans_array``), so no per-span Python dict ever crosses the
Arrow boundary in either direction. The earlier ``mapInPandas`` form
materialized ~15 input dicts + ~11 output dicts per document; at 32
cores that conversion layer cost more than the parsing kernels
themselves (measured: 1.38 s identity round-trip vs 1.24 s for a full
flat rebuild of the same 160k-doc batch stream).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pyarrow as pa

from ..model import (
    DOCS_EXTRACTED_SCHEMA,
    METHOD_DEFAULT,
    METHOD_FAILED,
    RAW_DOCTAGS,
    RAW_HTML,
    RAW_HTML_DOC,
    RAW_JSON,
    RAW_MARKDOWN,
    doc_id_str,
    spans_array,
    string_array,
)
from .html_extract import extract_html_document
from .md_ingest import (
    extract_doctags_document,
    extract_html_export_document,
    extract_json_document,
    extract_markdown_document,
)
from .pdf_layout import extract_pdf_cells_flat

# single-payload serialization formats: (raw kind -> reader, joiner) —
# multi-span payloads concatenate with the format's natural separator,
# exactly as the html branch joins page payloads with "\n"
_DOC_READERS = {
    RAW_MARKDOWN: (extract_markdown_document, "\n\n"),
    RAW_DOCTAGS: (extract_doctags_document, "\n"),
    RAW_JSON: (extract_json_document, None),  # one JSON array per doc
    RAW_HTML_DOC: (extract_html_export_document, "\n"),
}


def _extract_one(
    doc_id: str,
    kinds: list,
    texts: list,
    refs: list,
    lo: int,
    hi: int,
    out_k: list,
    out_t: list,
    out_r: list,
    out_o: list,
) -> tuple[int, str, str | None]:
    """Dispatch ONE document's raw spans [lo, hi) into the flat output
    lists; returns (n_spans, method, err). Called only by _extract_docs."""
    mark = len(out_k)  # per-doc append barrier: the except branch
    # truncates back to it so a mid-append failure can never leak
    # orphan values into the NEXT document's span list (the cum
    # offsets would silently absorb them — cross-doc corruption)
    try:
        if hi > lo and kinds[lo] == RAW_HTML:
            html = "\n".join(
                texts[j] for j in range(lo, hi) if kinds[j] == RAW_HTML and texts[j]
            )
            out = extract_html_document(doc_id, html)
            n = len(out)
            for s in out:
                out_k.append(s["kind"])
                out_t.append(s["text"])
                out_r.append(s["media_ref"])
                out_o.append(s["offset"])
            return n, METHOD_DEFAULT, None
        elif hi > lo and kinds[lo] in _DOC_READERS:
            reader, joiner = _DOC_READERS[kinds[lo]]
            fmt = kinds[lo]
            parts = [texts[j] for j in range(lo, hi) if kinds[j] == fmt and texts[j]]
            if joiner is None and len(parts) > 1:
                raise ValueError(f"{fmt}: expected one payload span, got {len(parts)}")
            out = reader((joiner or "").join(parts))
            n = len(out)
            for s in out:
                out_k.append(s["kind"])
                out_t.append(s["text"])
                out_r.append(s["media_ref"])
                out_o.append(s["offset"])
            return n, METHOD_DEFAULT, None
        else:
            cells, method = extract_pdf_cells_flat(kinds, texts, refs, lo, hi)
            n = len(cells)
            for o, (_, _, _, k, t, m) in enumerate(cells):
                out_k.append(k)
                out_t.append(t)
                out_r.append(m)
                out_o.append(o)
            return n, method, None
    except Exception as e:
        del out_k[mark:], out_t[mark:], out_r[mark:], out_o[mark:]
        return 0, METHOD_FAILED, str(e)[:500]


def extracted_batch(ids, k, t, r, o, cum, methods, errors) -> pa.RecordBatch:
    """One DOCS_EXTRACTED_SCHEMA batch from flat span children and
    per-document columns; `ids` is a list or an Arrow string array."""
    return pa.RecordBatch.from_arrays(
        [
            string_array(ids),
            spans_array(k, t, r, o, cum),
            string_array(methods),
            string_array(errors),
        ],
        names=["doc_id", "spans", "conversion_method", "error"],
    )


def _extract_docs(ids: list, docs: Iterable) -> tuple:
    """The one per-batch loop over _extract_one. `docs` yields, per
    document, (kinds, texts, refs, lo, hi) over flat raw-span lists — or
    the exception that stopped its raw bytes from being read, which
    becomes a `failed` row. Returns the extracted_batch arguments after
    `ids`."""
    out_k: list = []
    out_t: list = []
    out_r: list = []
    out_o: list = []
    cum = [0]
    methods: list = []
    errors: list = []
    for doc_id, doc in zip(ids, docs):
        if isinstance(doc, Exception):
            n, method, err = 0, METHOD_FAILED, str(doc)[:500]
        else:
            n, method, err = _extract_one(doc_id, *doc, out_k, out_t, out_r, out_o)
        methods.append(method)
        errors.append(err)
        cum.append(cum[-1] + n)
    return out_k, out_t, out_r, out_o, cum, methods, errors


def _extract_auto_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for b in batches:
        ids = b.column(0).to_pylist()
        spans = b.column(1)
        sv = spans.values
        offs = spans.offsets.to_pylist()  # absolute indices into sv
        kinds = sv.field("kind").to_pylist()
        texts = sv.field("text").to_pylist()
        refs = sv.field("media_ref").to_pylist()
        docs = ((kinds, texts, refs, offs[i], offs[i + 1]) for i in range(len(ids)))
        yield extracted_batch(b.column(0), *_extract_docs(ids, docs))


def extract_auto(df):
    """DataFrame(doc_id, spans raw) -> extracted spans; format dispatched
    per document. Narrow map stage — zero shuffles end to end."""
    return df.select("doc_id", "spans").mapInArrow(
        _extract_auto_arrow, schema=DOCS_EXTRACTED_SCHEMA
    )


def _generated(batch: pa.RecordBatch, skew: bool) -> tuple[list, Iterator]:
    """The datagen half of the fused kernels: a documents batch (doc_id
    int, text) -> (doc_id strings, _extract_docs input). Each document's
    raw spans are rendered as the loop reaches it and handed straight to
    _extract_one, so they never cross the Arrow boundary."""
    from ..corpus import render_raw_spans, skewed

    nums = [int(d) for d in batch.column(0).to_pylist()]
    texts = batch.column(1).to_pylist()

    def docs():
        for did, text in zip(nums, texts):
            raw = render_raw_spans(did, skewed(did, text) if skew else text)
            yield (
                [s["kind"] for s in raw],
                [s["text"] for s in raw],
                [s["media_ref"] for s in raw],
                0,
                len(raw),
            )

    return [doc_id_str(d) for d in nums], docs()


def _gen_extract_arrow(skew: bool):
    """FUSED corpus-generation + extraction kernel (r8): one Python pass
    per task instead of two chained mapInArrow nodes. The composed
    docs_raw -> extract_auto pipeline serializes every generated raw
    span Python -> Arrow -> JVM -> Arrow -> Python between the two
    kernels; the raw spans exist only to be consumed by the dispatcher.
    Output is byte-identical to the composed route (same _extract_docs
    loop; test_extract.test_fused_gen_extract_matches_composed pins row
    equality, skewed and unskewed)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids, docs = _generated(b, skew)
            yield extracted_batch(ids, *_extract_docs(ids, docs))

    return gen


def gen_extract_auto(spark, sf_dir: str, skew: bool = False):
    """documents.parquet -> extracted spans in ONE narrow map stage
    (fused datagen + extraction; see _gen_extract_arrow)."""
    from ..tables import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(_gen_extract_arrow(skew), schema=DOCS_EXTRACTED_SCHEMA)


def _gen_extract_render_arrow(formats: tuple, skew: bool):
    """Fused datagen + extraction + export rendering (r8): the export
    queries need (doc_id, <serialization>) only, so rendering inside the
    same Python pass ships ONE string per document across the boundary
    instead of the whole spans array, and replaces the interpreted HOF
    render projection. exports.render_doc_py is compiled from the same
    export SPEC as the JVM expressions (differential-tested)."""
    from .exports import render_doc_py

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids, docs = _generated(b, skew)
            k, t, r, o, cum, _, _ = _extract_docs(ids, docs)
            bounds = list(zip(cum, cum[1:]))
            rendered = [
                [render_doc_py(fmt, k[a:z], t[a:z], r[a:z], o[a:z]) for a, z in bounds]
                for fmt in formats
            ]
            yield pa.RecordBatch.from_arrays(
                [string_array(ids)] + [string_array(col) for col in rendered],
                names=["doc_id", *formats],
            )

    return gen


def gen_extract_render_auto(spark, sf_dir: str, formats: tuple, skew: bool = False):
    """documents.parquet -> (doc_id, <rendered serializations>) in one
    narrow map stage; `formats` from {markdown, html, doctags, doc_json}."""
    from pyspark.sql import types as T

    from ..tables import read_table

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType(), False)]
        + [T.StructField(f, T.StringType(), False) for f in formats]
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(_gen_extract_render_arrow(tuple(formats), skew), schema=schema)
