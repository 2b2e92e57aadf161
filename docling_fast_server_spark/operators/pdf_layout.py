"""PDF layout parse — page segmentation, reading order, block labels.

Re-derives the reference's PDF conversion kernel semantics (SURVEY §2.2
K1/K3/K4/K5/K10; /root/reference/src/services/pdf_processor.py:118-201 and
the observable contract in output.json:1):

- K1: raw layout cells carry JSON provenance {p, l, t, r, b, fs[, text|
  cells]} — the prov contract of output.json:1 .texts[*].prov (page_no,
  bbox l/t/r/b with BOTTOMLEFT origin, i.e. larger t = higher on page).
- K3 reading order: cells are stored in arbitrary order; we reconstruct
  the body.children traversal by sorting (page asc, column asc, top desc).
  Column assignment splits at the page midline (output.json:1 page width
  612). A production build would 1-D-cluster the left edges; the midline
  split is the deterministic core of that.
- K4 labeling: font-size >= 16 -> section_header (display vs body type);
  'word: word' shape -> key_value_area; else text.
- K5 table structure: pdf_table cells carry their grid; flattened to
  ' | '-joined text + media_ref.
- K10 degraded tier: any malformed provenance triggers a full-document
  retry with media enrichment disabled (`limited`), mirroring
  pdf_processor.py:191-201 — degrade deterministically, never fail the
  task for one bad document.

`extract_pdf_cells_flat` is the per-document function of the one Arrow
extraction kernel (operators/dispatch.py, `mapInArrow`): flat columns
in, flat columns out, no per-row Python at the Spark level (the
reference's one-file-at-a-time rq_tasks.py:10-53 is the anti-pattern
this replaces). `extract_pdf_document` wraps it for span dicts.
"""

from __future__ import annotations

import json
import re

from ..model import (
    MAX_SPANS_PER_DOC,
    K_CODE,
    K_FORMULA,
    K_KEY_VALUE,
    K_PICTURE,
    K_SECTION_HEADER,
    K_TABLE,
    K_TEXT,
    METHOD_DEFAULT,
    METHOD_LIMITED,
)

_PAGE_MID = 612.0 / 2.0
_HEADER_FS = 16.0
_KV_RE = re.compile(r"^\S+: \S+$")
# K8 enrichment heuristics (content shape, the do_code/do_formula analog)
_CODE_RE = re.compile(r"^def \S+\(\): return ")
_FORMULA_RE = re.compile(r"^\S+ = \S+ \+ \S+$")
_MEDIA_KINDS = ("pdf_image", "pdf_table")


def _parse_cells_flat(
    kinds: list,
    texts: list,
    refs: list,
    lo: int,
    hi: int,
    include_media: bool,
    enrich: bool = True,
) -> list[tuple]:
    """Flat-column cell parse over [lo, hi) of parallel kind/text/ref
    lists -> [(page, col, -top, kind, text, media_ref)]. Raises
    ValueError on malformed provenance (the K10 trigger).
    ``enrich=False`` = the limited tier: code/formula enrichment off
    (pdf_processor.py:144-166), those cells label as plain text."""
    cells = []
    for idx in range(lo, hi):
        kind = kinds[idx]
        if kind in _MEDIA_KINDS and not include_media:
            continue
        try:
            prov = json.loads(texts[idx])
        except (json.JSONDecodeError, TypeError) as e:
            raise ValueError(f"malformed provenance in {kind} cell") from e
        page = int(prov["p"])
        left = float(prov["l"])
        top = float(prov["t"])
        col = 0 if left < _PAGE_MID else 1
        if kind == "pdf_cell":
            fs = float(prov.get("fs", 11.0))
            text = prov.get("text", "")
            if fs >= _HEADER_FS:
                label = K_SECTION_HEADER
            elif _KV_RE.match(text):
                label = K_KEY_VALUE
            elif enrich and _CODE_RE.match(text):
                label = K_CODE
            elif enrich and _FORMULA_RE.match(text):
                label = K_FORMULA
            else:
                label = K_TEXT
            cells.append((page, col, -top, label, text, None))
        elif kind == "pdf_table":
            text = " | ".join(prov.get("cells", []))
            cells.append((page, col, -top, K_TABLE, text, refs[idx]))
        elif kind == "pdf_image":
            cells.append((page, col, -top, K_PICTURE, None, refs[idx]))
        # unknown kinds are ignored (forward compatibility)
    cells.sort(key=lambda c: (c[0], c[1], c[2]))
    return cells


def extract_pdf_cells_flat(
    kinds: list, texts: list, refs: list, lo: int, hi: int
) -> tuple[list[tuple], str]:
    """Flat-column extraction over [lo, hi): returns (ordered cells as
    (page, col, -top, kind, text, media_ref) tuples, conversion_method)
    — the degraded-tier retry wrapped for the Arrow dispatch kernel."""
    try:
        cells = _parse_cells_flat(kinds, texts, refs, lo, hi, include_media=True, enrich=True)
        method = METHOD_DEFAULT
    except ValueError:
        # the limited retry: media + code/formula enrichment off
        cells = _parse_cells_flat(kinds, texts, refs, lo, hi, include_media=False, enrich=False)
        method = METHOD_LIMITED
    if len(cells) > MAX_SPANS_PER_DOC:
        # extraction-boundary ceiling (model.MAX_SPANS_PER_DOC): raised
        # past the limited retry, so the batch loop degrades the doc to
        # `failed` instead of emitting an oversized span array
        raise ValueError(f"document exceeds span ceiling ({len(cells)} spans)")
    return cells, method


def extract_pdf_document(raw_spans) -> tuple[list[dict], str]:
    """raw cell spans -> (ordered extracted spans, conversion_method)."""
    kinds = [s["kind"] for s in raw_spans]
    texts = [s["text"] for s in raw_spans]
    refs = [s["media_ref"] for s in raw_spans]
    cells, method = extract_pdf_cells_flat(kinds, texts, refs, 0, len(kinds))
    spans = [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (_, _, _, k, t, m) in enumerate(cells)
    ]
    return spans, method
