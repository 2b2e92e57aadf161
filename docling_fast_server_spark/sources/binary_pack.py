"""Packed binary document container + byte-parsing extraction kernel.

The reference kernel consumes raw document BYTES: the queue hands the
worker `pdf_data: bytes` (/root/reference/src/services/rq_tasks.py:10) and
the route reads `file.read()` (/root/reference/src/routes/ocr.py:106).
Round 1 fed the extraction kernels pre-structured span rows; this module
closes that contract gap: each document travels as ONE BinaryType payload
column, and the extraction kernel parses the container format *from
bytes* inside the Arrow batch before any layout analysis — the Spark
analog of handing a worker process the raw file bytes.

Container format "DFSB" v1 (deterministic, self-describing,
length-prefixed — the same family as any real container format):

    header:   b"DFSB"  u8 version=1  u32 n_cells
    per cell: u8 kind_code
              i32 offset
              u32 text length  | 0xFFFFFFFF = NULL  | utf-8 bytes
              u32 media length | 0xFFFFFFFF = NULL  | utf-8 bytes

big-endian throughout. A payload that fails magic/bounds/utf-8 checks is
a corrupt upload: the kernel emits a `failed` row (degrade-never-die,
pdf_processor.py:191-201) instead of killing the task.

Scale notes: packing (the fixture writer, ``mapInPandas``) and parsing
(``mapInArrow``, the dispatch kernel's own per-document loop) are both
narrow stages with zero shuffles; payload bytes never enter a shuffle key.
At 100 TB the packed table is the ingest surface — bytes land once,
columnar, splittable by row group, and every downstream stage is the
same plan as the structured path.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..model import (
    DOCS_EXTRACTED_SCHEMA,
    RAW_DOCTAGS,
    RAW_HTML,
    RAW_HTML_DOC,
    RAW_JSON,
    RAW_MARKDOWN,
    RAW_PDF_CELL,
    RAW_PDF_IMAGE,
    RAW_PDF_TABLE,
)
from ..operators.dispatch import _extract_docs, extracted_batch

if TYPE_CHECKING:
    import pandas as pd

MAGIC = b"DFSB"
VERSION = 1
_NULL = 0xFFFFFFFF

# codes 4-7: the serialization-reader formats (additive — payloads packed
# by older writers parse unchanged; an old READER meeting a new code
# correctly fails the doc as an unknown kind, degrade-never-die)
_KIND_CODE = {
    RAW_HTML: 0,
    RAW_PDF_CELL: 1,
    RAW_PDF_IMAGE: 2,
    RAW_PDF_TABLE: 3,
    RAW_MARKDOWN: 4,
    RAW_DOCTAGS: 5,
    RAW_JSON: 6,
    RAW_HTML_DOC: 7,
}
_CODE_KIND = {v: k for k, v in _KIND_CODE.items()}

PACKED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def pack_cells(cells: list[dict]) -> bytes:
    """Serialize raw span cells into one DFSB payload."""
    out = [MAGIC, struct.pack(">BI", VERSION, len(cells))]
    for c in cells:
        out.append(struct.pack(">Bi", _KIND_CODE[c["kind"]], int(c["offset"])))
        for field in ("text", "media_ref"):
            v = c.get(field)
            if v is None:
                out.append(struct.pack(">I", _NULL))
            else:
                b = v.encode("utf-8")
                out.append(struct.pack(">I", len(b)))
                out.append(b)
    return b"".join(out)


def unpack_cells(buf: bytes) -> list[dict]:
    """Parse a DFSB payload back into raw span cells.
    Raises ValueError on any malformed container."""
    if len(buf) < 9 or buf[:4] != MAGIC:
        raise ValueError("bad magic: not a DFSB container")
    version, n_cells = struct.unpack_from(">BI", buf, 4)
    if version != VERSION:
        raise ValueError(f"unsupported DFSB version {version}")
    pos = 9
    cells: list[dict] = []
    for _ in range(n_cells):
        if pos + 5 > len(buf):
            raise ValueError("truncated cell header")
        code, offset = struct.unpack_from(">Bi", buf, pos)
        pos += 5
        if code not in _CODE_KIND:
            raise ValueError(f"unknown kind code {code}")
        vals: list[str | None] = []
        for _f in range(2):
            if pos + 4 > len(buf):
                raise ValueError("truncated length prefix")
            (ln,) = struct.unpack_from(">I", buf, pos)
            pos += 4
            if ln == _NULL:
                vals.append(None)
                continue
            if pos + ln > len(buf):
                raise ValueError("truncated value")
            vals.append(buf[pos : pos + ln].decode("utf-8"))
            pos += ln
        cells.append(
            {
                "kind": _CODE_KIND[code],
                "text": vals[0],
                "media_ref": vals[1],
                "offset": offset,
            }
        )
    if pos != len(buf):
        raise ValueError("trailing bytes after last cell")
    return cells


def _pack_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import pandas as pd  # only the fixture writer: the parse kernel loads no pandas

    for pdf in batches:
        ids, payloads, sizes = [], [], []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            payload = pack_cells(list(spans))
            ids.append(doc_id)
            payloads.append(payload)
            sizes.append(len(payload))
        yield pd.DataFrame({"doc_id": ids, "payload": payloads, "n_bytes": sizes})


def pack_raw(df: DataFrame) -> DataFrame:
    """DataFrame(doc_id, spans raw) -> DataFrame(doc_id, payload binary,
    n_bytes). The fixture writer: turns the structured corpus into raw
    byte uploads. Narrow Arrow-batched map."""
    return df.select("doc_id", "spans").mapInPandas(_pack_batches, schema=PACKED_SCHEMA)


def _raw_columns(payload: bytes):
    """One payload -> _extract_docs input: (kinds, texts, refs, 0, n),
    or the error of an unreadable upload (a `failed` row)."""
    try:
        cells = unpack_cells(payload)
    except Exception as e:  # degrade, never die
        return e
    return (
        [c["kind"] for c in cells],
        [c["text"] for c in cells],
        [c["media_ref"] for c in cells],
        0,
        len(cells),
    )


def _extract_binary_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for b in batches:
        ids = b.column(0).to_pylist()
        docs = map(_raw_columns, b.column(1).to_pylist())
        yield extracted_batch(b.column(0), *_extract_docs(ids, docs))


def extract_binary(df: DataFrame) -> DataFrame:
    """DataFrame(doc_id, payload binary) -> extracted spans. Parses the
    DFSB container from raw bytes inside the kernel (the reference's
    bytes-in contract), then runs the same per-document loop as
    dispatch.extract_auto. Narrow map stage — zero shuffles."""
    return df.select("doc_id", "payload").mapInArrow(
        _extract_binary_arrow, schema=DOCS_EXTRACTED_SCHEMA
    )
