"""Markdown ingest — a second text input format beside HTML/PDF-cells.

The reference's converter entry point is format-dispatched
(DocumentConverter with format_options,
/root/reference/src/services/pdf_processor.py:176-189); docling's backend
set includes a Markdown reader alongside PDF/HTML. This module is the
Spark analog for the engine's own canonical markdown serialization
(exports.SPEC["markdown"]): a block-grammar parser mapping each block back
to a span, so markdown documents — including every document this engine
itself exported — can re-enter the pipeline as a first-class raw format.

Canonical block grammar (blocks separated by blank lines, the "\\n\\n"
join of the serializer; code fences contain single newlines only):

    ## H                      -> section_header, text=H
    - T                       -> key_value_area,  text=T
    ```\\nT\\n```             -> code,            text=T
    $$ T $$                   -> formula,         text=T
    | C |                     -> table,           text=C   (media_ref is
                                 not representable in md -> None)
    ![image](R)               -> picture,         media_ref=R
    anything else             -> text

Lossiness contract (tested): re-ingesting an exported document recovers
every span exactly EXCEPT
  * table media_refs, which markdown cannot carry — the same class of
    round-trip loss docling's own md serializer has;
  * spans whose TEXT collides with the block grammar itself, which
    markdown fundamentally cannot distinguish: a code span with empty
    text exports as "```\n\n```" whose embedded blank line splits into
    two bare "```" text spans, and a text span whose content starts
    with a block marker ("## ", "- ", "| ", "$$ ", "```") re-ingests
    as that block's kind. The extraction kernels never emit such spans
    (span text is non-empty words joined by single spaces), so the
    round-trip is exact for every kernel-produced document; arbitrary
    user uploads fall back to the json/doctags/html readers, which have
    no such ambiguity (tests/test_md_ingest.py pins both cases).

The DataFrame readers run in the dispatch kernel (`extract_payload` ->
dispatch.extract_auto); degrade-never-die per document like every other
format.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..model import (
    K_CODE,
    K_FORMULA,
    K_KEY_VALUE,
    K_PICTURE,
    K_SECTION_HEADER,
    K_TABLE,
    K_TEXT,
    MAX_SPANS_PER_DOC,
    RAW_DOCTAGS,
    RAW_HTML_DOC,
    RAW_JSON,
    RAW_MARKDOWN,
)


def _parse_block(block: str) -> tuple[str, str | None, str | None]:
    """One markdown block -> (kind, text, media_ref)."""
    if block.startswith("## "):
        return (K_SECTION_HEADER, block[3:], None)
    if block.startswith("- "):
        return (K_KEY_VALUE, block[2:], None)
    if block.startswith("```\n") and block.endswith("\n```"):
        return (K_CODE, block[4:-4], None)
    if block.startswith("$$ ") and block.endswith(" $$"):
        return (K_FORMULA, block[3:-3], None)
    if block.startswith("| ") and block.endswith(" |"):
        return (K_TABLE, block[2:-2], None)
    if block.startswith("![image](") and block.endswith(")"):
        # empty parens = the exporter's rendering of a ref-less picture
        # (media_ref NULL coalesced to ''); '' is not kernel-emittable,
        # so mapping it back to None is the exact inverse
        return (K_PICTURE, None, block[9:-1] or None)
    return (K_TEXT, block, None)


def extract_markdown_document(markdown: str) -> list[dict]:
    """Canonical markdown -> ordered spans (pure function)."""
    spans: list[dict] = []
    for block in markdown.split("\n\n"):
        if block == "":
            continue  # leading/trailing/duplicate separators
        kind, text, ref = _parse_block(block)
        spans.append(
            {"kind": kind, "text": text, "media_ref": ref, "offset": len(spans)}
        )
    if len(spans) > MAX_SPANS_PER_DOC:
        # same extraction-boundary ceiling as the HTML/PDF kernels
        raise ValueError(f"document exceeds span ceiling ({len(spans)} spans)")
    return spans


def extract_payload(df, col: str, raw_kind: str):
    """DataFrame(doc_id, <col>) -> DataFrame(doc_id, spans,
    conversion_method, error): each payload becomes a one-span raw
    document of `raw_kind` and runs in the dispatch kernel
    (dispatch.extract_auto), the one Arrow kernel and degrade loop of
    every extraction entry point. Narrow map stage — no shuffle."""
    from .dispatch import extract_auto  # dispatch imports this module

    span = F.struct(
        F.lit(raw_kind).alias("kind"),
        df[col].alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return extract_auto(df.select("doc_id", F.array(span).alias("spans")))


def extract_markdown(df, md_col: str = "markdown"):
    """DataFrame(doc_id, <md_col>) -> DataFrame(doc_id, spans,
    conversion_method, error), parsed by extract_markdown_document in the
    dispatch kernel."""
    return extract_payload(df, md_col, RAW_MARKDOWN)


# ---------------------------------------------------------------------------
# doctags ingest — docling's native serialization is both exported AND
# loadable (DocTags is the reference stack's own interchange format); the
# round-4 entity escaping of exports.SPEC["doctags"] is what makes this
# reader sound: the only raw `<` in a canonical stream are tag delimiters.
# ---------------------------------------------------------------------------
import re as _re

_DOCTAG_RE = _re.compile(r"^<([a-z_]+)>(.*)</\1>$")


def _xml_unescape(s: str) -> str:
    # exact inverse of the exports "xml" escape (&amp; LAST — inverse order);
    # shared by the doctags and html readers so the inverse-order
    # invariant lives in exactly one place
    return s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


def extract_doctags_document(doctags: str) -> list[dict]:
    """Canonical doctags stream -> ordered spans. Recovers picture
    media_refs exactly (their body IS the ref); table refs are lossy in
    this serialization (body carries the cell text), matching the
    markdown reader's contract."""
    spans: list[dict] = []
    for line in doctags.split("\n"):
        if line == "":
            continue
        m = _DOCTAG_RE.match(line)
        if not m:
            raise ValueError(f"malformed doctags line: {line[:80]!r}")
        kind, body = m.group(1), _xml_unescape(m.group(2))
        if kind == K_PICTURE:
            # '' = the exporter's coalesce of a NULL ref; not
            # kernel-emittable, so None is the exact inverse
            text, ref = None, body or None
        else:
            text, ref = body, None
        spans.append(
            {"kind": kind, "text": text, "media_ref": ref, "offset": len(spans)}
        )
    if len(spans) > MAX_SPANS_PER_DOC:
        raise ValueError(f"document exceeds span ceiling ({len(spans)} spans)")
    return spans


def extract_doctags(df, dt_col: str = "doctags"):
    """DataFrame(doc_id, <dt_col>) -> extracted spans, parsed by
    extract_doctags_document in the dispatch kernel."""
    return extract_payload(df, dt_col, RAW_DOCTAGS)


# ---------------------------------------------------------------------------
# json ingest — the canonical JSON export is LOSSLESS (kind, text,
# media_ref, offset all serialized), so this reader closes the loop: a
# perfect round-trip including table media_refs. The export_to_dict /
# load analog of the reference stack (pdf_processor.py:211).
# ---------------------------------------------------------------------------
import json as _json


_INT32_MAX = 2**31 - 1


def extract_json_document(doc_json: str) -> list[dict]:
    """Canonical doc JSON -> ordered spans, exact (strict JSON parse —
    the round-4 escaping is what makes every export parseable).

    Field TYPES are validated here, inside the per-document boundary: a
    span with e.g. "text": 123 or an offset past int32 would otherwise
    parse fine and then blow up the BATCH-level Arrow conversion
    (model.spans_array's string_array/numeric_array raise outside every
    per-doc try, as pa.array does) —
    one malformed upload must degrade one document, never kill the
    task (ArrowTypeError reproduced in review)."""
    spans = _json.loads(doc_json)
    if not isinstance(spans, list):
        raise ValueError("doc JSON must be a span array")
    out: list[dict] = []
    for s in spans:
        kind, text, ref, off = s["kind"], s["text"], s["media_ref"], s["offset"]
        if not isinstance(kind, str):
            raise ValueError(f"span kind must be a string, got {type(kind).__name__}")
        if text is not None and not isinstance(text, str):
            raise ValueError(f"span text must be string/null, got {type(text).__name__}")
        if ref is not None and not isinstance(ref, str):
            raise ValueError(f"span media_ref must be string/null, got {type(ref).__name__}")
        if isinstance(off, bool) or not isinstance(off, int) or not (0 <= off <= _INT32_MAX):
            raise ValueError(f"span offset must be an int32 index, got {off!r}")
        out.append({"kind": kind, "text": text, "media_ref": ref, "offset": off})
    if len({s["offset"] for s in out}) != len(out):
        # the chunker's ordering contract requires per-doc offset
        # uniqueness (asserted for the extraction kernels by
        # test_offsets_unique_per_doc); a duplicate-offset upload must
        # degrade this one document, not flow through nondeterministically
        raise ValueError("duplicate span offsets in document")
    if len(out) > MAX_SPANS_PER_DOC:
        raise ValueError(f"document exceeds span ceiling ({len(out)} spans)")
    return out


def extract_json(df, json_col: str = "doc_json"):
    """DataFrame(doc_id, <json_col>) -> extracted spans — the lossless
    serialization reader, parsed by extract_json_document in the
    dispatch kernel.

    Note the empty-payload semantics: a NULL/empty json payload is a
    MALFORMED document (json.loads("") raises) and degrades to failed,
    while empty markdown/doctags payloads are valid empty documents."""
    return extract_payload(df, json_col, RAW_JSON)


# ---------------------------------------------------------------------------
# html-export ingest — the 4th round-trip format (round-4 verdict item 3).
# This parses the EXPORTER'S canonical HTML shape (exports.SPEC["html"]:
# <h2>/<p>/<dl>/<pre><code>/<div class="math">/<table data-ref>/<img>),
# NOT arbitrary web pages — those go through the boilerplate-stripping
# html_extract kernel. The reference's converter dispatches HTML as a
# first-class input format (pdf_processor.py:176-189); with this reader
# all four partitions of the S9 export store re-enter the pipeline.
#
# HTML round-trips TABLE media_refs (the data-ref attribute) that
# markdown/doctags lose, so it is exact for every kernel-emittable span.
# Two soundness notes, both consequences of the exporter:
#   * every `<` in element content is entity-escaped, so a raw `<` only
#     ever starts a tag — one span per line, parsed with anchored
#     patterns (span text carries no control characters by the span-text
#     contract, see the exports escape chains);
#   * a key_value span whose text contains MORE than one ": " separator
#     is ambiguous in <dt>/<dd> form (the exporter splits on the
#     first/last occurrence) — kernel kv text is "word: word", single
#     separator, exact.
# ---------------------------------------------------------------------------

_HTML_LINE_RES = [
    (_re.compile(r"^<h2>(.*)</h2>$"), K_SECTION_HEADER),
    (_re.compile(r"^<p>(.*)</p>$"), K_TEXT),
    (_re.compile(r"^<dl><dt>(.*)</dt><dd>(.*)</dd></dl>$"), K_KEY_VALUE),
    (_re.compile(r"^<pre><code>(.*)</code></pre>$"), K_CODE),
    (_re.compile(r'^<div class="math">(.*)</div>$'), K_FORMULA),
    (_re.compile(r'^<table data-ref="(.*)">(.*)</table>$'), K_TABLE),
    (_re.compile(r'^<img src="(.*)"/>$'), K_PICTURE),
]


def _html_unescape_attr(s: str) -> str:
    # exact inverse of the exports "attr" escape (&quot; first, then the
    # shared content inverse)
    return _xml_unescape(s.replace("&quot;", '"'))


def extract_html_export_document(html: str) -> list[dict]:
    """Canonical HTML export -> ordered spans, exact for every
    kernel-emittable span INCLUDING table media_refs (data-ref)."""
    spans: list[dict] = []
    for line in html.split("\n"):
        if line == "":
            continue
        for rx, kind in _HTML_LINE_RES:
            m = rx.match(line)
            if not m:
                continue
            if kind == K_KEY_VALUE:
                text = f"{_xml_unescape(m.group(1))}: {_xml_unescape(m.group(2))}"
                ref = None
            elif kind == K_TABLE:
                # empty attr = the exporter's coalesce of a NULL ref
                # ('' is not kernel-emittable -> None is exact inverse)
                ref = _html_unescape_attr(m.group(1)) or None
                text = _xml_unescape(m.group(2))
            elif kind == K_PICTURE:
                text, ref = None, _html_unescape_attr(m.group(1)) or None
            else:
                text, ref = _xml_unescape(m.group(1)), None
            spans.append(
                {"kind": kind, "text": text, "media_ref": ref, "offset": len(spans)}
            )
            break
        else:
            raise ValueError(f"malformed canonical-html line: {line[:80]!r}")
    if len(spans) > MAX_SPANS_PER_DOC:
        raise ValueError(f"document exceeds span ceiling ({len(spans)} spans)")
    return spans


def extract_html_export(df, html_col: str = "html"):
    """DataFrame(doc_id, <html_col>) -> extracted spans — the
    canonical-HTML serialization reader, parsed by
    extract_html_export_document in the dispatch kernel."""
    return extract_payload(df, html_col, RAW_HTML_DOC)
