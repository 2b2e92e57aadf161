"""Deterministic interleaved text+media corpus.

The reference's de-facto golden fixture is a captured conversion of
test1.pdf (/root/reference/output.json:1): section headers, paragraphs, a
key-value area, media pools, and a furniture (boilerplate) subtree. This
module generates an arbitrarily large corpus of exactly that *shape* from
the driver-provided `documents` table — deterministically, so the expected
extraction output is a pure function of (doc_id, text) and can be
reproduced independently by the DuckDB oracle (oracle.py).

Two raw encodings of the same logical document:

- even doc_id  -> one `html` span: a full page with nav/header/ads/aside/
  footer boilerplate around <main> (the furniture analog of output.json:1
  .furniture). Exercises the HTML boilerplate-strip kernel (SURVEY §2.2 K9).
- odd doc_id   -> `pdf_cell`/`pdf_image`/`pdf_table` spans with JSON layout
  provenance (page, bbox, font size — the prov contract of output.json:1
  .texts[*].prov), stored SHUFFLED so reading order must be reconstructed
  from geometry (K1/K3/K4/K5). Docs with doc_id % 17 == 0 carry corrupt
  media provenance and must deterministically fall back to the `limited`
  tier (K10 — pdf_processor.py:191-201 semantics: degrade, never die).

Logical item spec (shared with oracle.py — keep in sync!):
  words = text.split(' '); paragraphs of PARA_WORDS words; for para i:
    i % 3 == 0                -> section_header = first 4 words, uppercased
    always                    -> text = the paragraph
    i % 5 == 4 and >=2 words  -> key_value_area = 'w0: w1'
    i % 13 == 7 and >=2 words -> code = 'def w0(): return w1' (K8; the
                                 limited tier keeps text, loses the label)
    i % 9 == 5 and >=3 words -> formula = 'w0 = w1 + w2' (K8, same rule)
    (doc_id+i) % 7 == 0       -> picture, media_ref media://{id}/img/{i}
    (doc_id+i) % 11 == 3      -> table, text = first 6 words ' | '-joined,
                                 media_ref media://{id}/tbl/{i}
  offset = position in this traversal (reading order).
"""

from __future__ import annotations

import json
from html import escape as _html_escape  # module-level: render_html runs
# once per document in the datagen hot path (a function-local import
# re-resolves the module dict per call — same rationale as
# html_extract's module-level unescape)

from .model import (
    K_CODE,
    K_FORMULA,
    K_KEY_VALUE,
    K_PICTURE,
    K_SECTION_HEADER,
    K_TABLE,
    K_TEXT,
    doc_id_str,
    numeric_array,
    spans_array,
    string_array,
)

PARA_WORDS = 10
HEADER_EVERY = 3  # i % 3 == 0
KV_EVERY = 5  # i % 5 == 4
PIC_MOD = 7  # (doc_id + i) % 7 == 0
TBL_MOD = 11  # (doc_id + i) % 11 == 3
TBL_REM = 3
TBL_CELLS = 6
HDR_WORDS = 4
CODE_MOD = 13  # i % 13 == 7 -> code block (K8 enrichment)
CODE_REM = 7
FORMULA_MOD = 9  # i % 9 == 5 -> formula (K8 enrichment)
FORMULA_REM = 5
DEGRADED_MOD = 17  # pdf docs with doc_id % 17 == 0 -> corrupt media prov

PAGE_W, PAGE_H = 612.0, 792.0  # output.json:1 .pages["1"].size
MARGIN_TOP, MARGIN_BOT = 72.0, 72.0
COL0_L, COL1_L, COL_W = 72.0, 320.0, 220.0
ITEM_H = {
    K_SECTION_HEADER: 28.0,
    K_TEXT: 16.0,
    K_KEY_VALUE: 16.0,
    K_CODE: 20.0,
    K_FORMULA: 18.0,
    K_PICTURE: 90.0,
    K_TABLE: 120.0,
}

_JUNK = (
    "home about contact login subscribe privacy terms sitemap careers "
    "advertise newsletter trending popular related sponsored cookie"
).split()

# Escape-stress decoration: docs with doc_id % SPECIAL_EVERY == 1 carry one
# word suffixed with `"\<&` (quote, backslash, lt, amp) at word index
# doc_id % PARA_WORDS. Real corpora contain these characters, and the
# reference's exports are real serializers (pdf_processor.py:210-213 emit
# valid JSON/HTML for arbitrary text) — so the fixture corpus must force
# the HTML entity round-trip (render escape -> kernel unescape) and the
# export escaping (exports.py) to be exact, not vacuous. Mirrored in SQL
# by oracle.expected_spans_sql (keep in sync!).
SPECIALS = '"\\<&'
SPECIAL_EVERY = 3


def _decorate_words(doc_id: int, words: list[str]) -> list[str]:
    if doc_id % SPECIAL_EVERY == 1:
        k = doc_id % PARA_WORDS
        if k < len(words):
            words[k] = words[k] + SPECIALS
    return words


def is_pdf_doc(doc_id: int) -> bool:
    return doc_id % 2 == 1


def is_degraded(doc_id: int) -> bool:
    return is_pdf_doc(doc_id) and doc_id % DEGRADED_MOD == 0


def logical_items(
    doc_id: int, text: str, limited: bool = False
) -> list[tuple[str, str | None, str | None]]:
    """(kind, text, media_ref) in reading order. ``limited`` drops media
    enrichment — the degraded tier of pdf_processor.py:144-166."""
    words = _decorate_words(doc_id, text.split(" "))
    items: list[tuple[str, str | None, str | None]] = []
    n_paras = (len(words) + PARA_WORDS - 1) // PARA_WORDS
    for i in range(n_paras):
        pw = words[i * PARA_WORDS : (i + 1) * PARA_WORDS]
        if i % HEADER_EVERY == 0:
            items.append((K_SECTION_HEADER, " ".join(pw[:HDR_WORDS]).upper(), None))
        items.append((K_TEXT, " ".join(pw), None))
        if i % KV_EVERY == KV_EVERY - 1 and len(pw) >= 2:
            items.append((K_KEY_VALUE, f"{pw[0]}: {pw[1]}", None))
        # K8 enrichment: the limited tier keeps the text but loses the
        # enriched label (do_code/formula_enrichment off -> plain text)
        if i % CODE_MOD == CODE_REM and len(pw) >= 2:
            t = f"def {pw[0]}(): return {pw[1]}"
            items.append((K_TEXT if limited else K_CODE, t, None))
        if i % FORMULA_MOD == FORMULA_REM and len(pw) >= 3:
            t = f"{pw[0]} = {pw[1]} + {pw[2]}"
            items.append((K_TEXT if limited else K_FORMULA, t, None))
        if (doc_id + i) % PIC_MOD == 0 and not limited:
            items.append((K_PICTURE, None, f"media://{doc_id}/img/{i}"))
        if (doc_id + i) % TBL_MOD == TBL_REM and not limited:
            items.append((K_TABLE, " | ".join(pw[:TBL_CELLS]), f"media://{doc_id}/tbl/{i}"))
    return items


def expected_spans(doc_id: int, text: str) -> list[dict]:
    """Golden extraction output for one document — the span-equality oracle
    (the output.json:1 pattern: captured truth, exact sequence).

    Degradation is error-driven (the kernel retries in limited mode only
    after hitting a CORRUPT media payload), so a degraded-ID doc with no
    media slot in any of its paragraphs never degrades — the r6 sf1 gate
    found exactly such a doc (5559: 10 paragraphs, no media)."""
    words = _decorate_words(doc_id, text.split(" "))
    n_paras = (len(words) + PARA_WORDS - 1) // PARA_WORDS
    limited = is_degraded(doc_id) and any(
        (doc_id + i) % PIC_MOD == 0 or (doc_id + i) % TBL_MOD == TBL_REM
        for i in range(n_paras)
    )
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(logical_items(doc_id, text, limited=limited))
    ]


# ---------------------------------------------------------------------------
# HTML rendering (even doc_ids) — main content wrapped in boilerplate
# ---------------------------------------------------------------------------


def _junk(doc_id: int, j: int, n: int) -> str:
    return " ".join(_JUNK[(doc_id * 31 + j * 7 + k) % len(_JUNK)] for k in range(n))


def render_html(doc_id: int, text: str) -> str:
    # element content is entity-escaped (&, <, >) exactly as any real HTML
    # emitter must be; the extraction kernel's unescape round-trips it, so
    # span text comes back verbatim (raw `"` is legal in text content)
    def e(s: str) -> str:
        return _html_escape(s, quote=False)

    parts: list[str] = []
    for kind, t, m in logical_items(doc_id, text):
        if kind == K_SECTION_HEADER:
            parts.append(f"<h2>{e(t)}</h2>")
        elif kind == K_TEXT:
            parts.append(f"<p>{e(t)}</p>")
        elif kind == K_KEY_VALUE:
            k, v = t.split(": ", 1)
            parts.append(f'<dl class="kv"><dt>{e(k)}</dt><dd>{e(v)}</dd></dl>')
        elif kind == K_CODE:
            parts.append(f"<pre><code>{e(t)}</code></pre>")
        elif kind == K_FORMULA:
            parts.append(f'<div class="math">{e(t)}</div>')
        elif kind == K_PICTURE:
            parts.append(f'<figure><img src="{m}" alt=""/></figure>')
        elif kind == K_TABLE:
            cells = t.split(" | ")
            tds = "".join(f"<td>{e(c)}</td>" for c in cells)
            idx = m.rsplit("/", 1)[1]
            parts.append(f'<table id="tbl-{idx}"><tr>{tds}</tr></table>')
    main = "\n".join(parts)
    nav_links = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in _junk(doc_id, 0, 8).split()
    )
    aside_links = "".join(
        f'<a href="/{w}">{w} {w}</a> ' for w in _junk(doc_id, 1, 5).split()
    )
    footer_links = "".join(
        f'<a href="/{w}">{w}</a> ' for w in _junk(doc_id, 2, 6).split()
    )
    return (
        "<html><head><title>doc</title></head><body>"
        f'<nav class="nav"><ul>{nav_links}</ul></nav>'
        f'<header class="chrome"><a href="/">site {doc_id % 10}</a> '
        f'<a href="/sub">SUBSCRIBE</a></header>'
        f'<div class="ads">BUY NOW! LIMITED OFFER! CLICK HERE!</div>'
        f"<main>\n{main}\n</main>"
        f"<aside>{aside_links}</aside>"
        f"<footer>{footer_links}</footer>"
        "</body></html>"
    )


# ---------------------------------------------------------------------------
# PDF-cell rendering (odd doc_ids) — layout provenance, stored shuffled
# ---------------------------------------------------------------------------


def render_pdf_cells(doc_id: int, text: str) -> list[dict]:
    """Raw spans with JSON prov. Layout fills column 0 top-down, then
    column 1 (two-column docs: doc_id % 4 == 1), then the next page —
    so geometry-sorted order (page, column, -top) == logical order."""
    items = logical_items(doc_id, text)  # full items; degradation is error-driven
    two_col = doc_id % 4 == 1
    page, col = 1, 0
    y = PAGE_H - MARGIN_TOP
    cells: list[dict] = []
    corrupt = is_degraded(doc_id)
    for kind, t, m in items:
        h = ITEM_H[kind]
        if y - h < MARGIN_BOT:
            if two_col and col == 0:
                col = 1
            else:
                page += 1
                col = 0
            y = PAGE_H - MARGIN_TOP
        left = COL1_L if col == 1 else COL0_L
        prov = {
            "p": page,
            "l": left,
            "t": round(y, 1),
            "r": left + COL_W,
            "b": round(y - h, 1),
            "fs": 18.0 if kind == K_SECTION_HEADER else 11.0,
        }
        y -= h + 4.0
        if kind == K_PICTURE:
            payload = json.dumps(prov, sort_keys=True)
            if corrupt:
                payload = "CORRUPT" + payload
            cells.append({"kind": "pdf_image", "text": payload, "media_ref": m})
        elif kind == K_TABLE:
            prov["cells"] = t.split(" | ")
            payload = json.dumps(prov, sort_keys=True)
            if corrupt:
                payload = "CORRUPT" + payload
            cells.append({"kind": "pdf_table", "text": payload, "media_ref": m})
        else:
            prov["text"] = t
            cells.append(
                {"kind": "pdf_cell", "text": json.dumps(prov, sort_keys=True), "media_ref": None}
            )
    # deterministic shuffle: the store order must not leak reading order
    n = len(cells)
    order = sorted(range(n), key=lambda k: ((k * 37 + doc_id) % n, k))
    return [
        {**cells[k], "offset": pos} for pos, k in enumerate(order[j] for j in range(n))
    ]


def render_raw_spans(doc_id: int, text: str) -> list[dict]:
    if is_pdf_doc(doc_id):
        return render_pdf_cells(doc_id, text)
    return [
        {"kind": "html", "text": render_html(doc_id, text), "media_ref": None, "offset": 0}
    ]


# ---------------------------------------------------------------------------
# Spark datagen — documents.parquet -> docs_raw DataFrame
# ---------------------------------------------------------------------------


def skewed(doc_id: int, text: str) -> str:
    """The size-skew rule of the Arrow datagen and the fused kernels,
    mirroring the reference's doc-size bands
    (tests/test_runpod_medium_ocr.py:25-37; DEPLOYMENT_GUIDE 1-50 vs 50+
    page classes): every 50th doc 30x, every other 10th doc 5x its
    text."""
    if doc_id % 50 == 0:
        return " ".join([text] * 30)
    if doc_id % 10 == 0:
        return " ".join([text] * 5)
    return text


def _gen_batches_arrow(skew: bool):
    """FLAT-COLUMN Arrow datagen (r8): render_raw_spans per document
    (after the skew rule when skew=True), assembled as flat child arrays
    + a ListArray offsets vector instead of a pandas object column of
    per-span dicts. A pandas route converts every span through a Python
    dict -> pandas object cell -> Arrow struct walk (~0.4 s of the
    ~0.65 s datagen stage at sf0.1); the same marshaling discipline as
    operators/dispatch.py. Differential-tested against render_raw_spans
    (test_corpus.test_arrow_datagen_matches_pandas)."""
    import pyarrow as pa

    def gen(batches):
        for b in batches:
            ids = b.column(0).to_pylist()
            texts = b.column(1).to_pylist()
            out_ids: list = []
            out_nchars: list = []
            k_l: list = []
            t_l: list = []
            r_l: list = []
            o_l: list = []
            cum = [0]
            for doc_id, text in zip(ids, texts):
                doc_id = int(doc_id)
                if skew:
                    text = skewed(doc_id, text)
                spans = render_raw_spans(doc_id, text)
                for s in spans:
                    k_l.append(s["kind"])
                    t_l.append(s["text"])
                    r_l.append(s["media_ref"])
                    o_l.append(s["offset"])
                cum.append(cum[-1] + len(spans))
                out_ids.append(doc_id_str(doc_id))
                out_nchars.append(len(text))
            yield pa.RecordBatch.from_arrays(
                [string_array(out_ids), spans_array(k_l, t_l, r_l, o_l, cum),
                 numeric_array(out_nchars, pa.int32())],
                names=["doc_id", "spans", "n_chars"],
            )

    return gen


def docs_raw(spark, sf_dir: str, which: str = "all", skew: bool = False):
    """Generate the interleaved raw-document table from documents.parquet.

    which: 'all' | 'html' (even ids) | 'pdf' (odd ids).
    Returns DataFrame(doc_id string, spans array<span>, n_chars int) —
    n_chars rides along as the size hint for skew salting (plans/pipeline).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .model import SPANS_TYPE

    from .tables import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    if which == "html":
        docs = docs.filter(F.col("doc_id") % 2 == 0)
    elif which == "pdf":
        docs = docs.filter(F.col("doc_id") % 2 == 1)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("spans", SPANS_TYPE, False),
            T.StructField("n_chars", T.IntegerType(), False),
        ]
    )
    return docs.mapInArrow(_gen_batches_arrow(skew), schema=out_schema)
