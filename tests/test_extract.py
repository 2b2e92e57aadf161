"""Span-equality golden tests for both extraction kernels.

The invariant (BASELINE.json input_hint): for every doc_id, extracted
spans == expected spans on (kind, text, media_ref, order) — the
output.json:1 golden-fixture discipline of the reference.
"""

import pandas as pd

from docling_fast_server_spark.corpus import (
    expected_spans,
    is_degraded,
    is_pdf_doc,
    render_html,
    render_pdf_cells,
)
from docling_fast_server_spark.model import doc_id_str
from docling_fast_server_spark.operators.html_extract import extract_html_document
from docling_fast_server_spark.operators.pdf_layout import extract_pdf_document


def _as_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def test_html_span_equality_all_docs(documents_pdf):
    checked = 0
    for doc_id, text in documents_pdf:
        if is_pdf_doc(doc_id):
            continue
        got = extract_html_document(doc_id_str(doc_id), render_html(doc_id, text))
        want = expected_spans(doc_id, text)
        assert _as_tuples(got) == _as_tuples(want), f"doc {doc_id}"
        checked += 1
    assert checked > 100


def test_pdf_span_equality_all_docs(documents_pdf):
    checked = degraded = 0
    for doc_id, text in documents_pdf:
        if not is_pdf_doc(doc_id):
            continue
        got, method = extract_pdf_document(render_pdf_cells(doc_id, text))
        want = expected_spans(doc_id, text)
        assert _as_tuples(got) == _as_tuples(want), f"doc {doc_id}"
        has_media = any(
            c["kind"] in ("pdf_image", "pdf_table")
            for c in render_pdf_cells(doc_id, text)
        )
        if is_degraded(doc_id) and has_media:
            assert method == "limited", f"doc {doc_id} should degrade"
            degraded += 1
        else:
            assert method == "default"
        checked += 1
    assert checked > 100 and degraded > 0


def test_multicolumn_reading_order():
    """Two-column docs (doc_id % 4 == 1) must come back in logical order
    even though cells are stored shuffled — K3 reading-order recovery."""
    text = " ".join(f"tok{i}" for i in range(400))  # ~40 paragraphs
    doc_id = 5  # odd (pdf), % 4 == 1 (two-column), not degraded
    cells = render_pdf_cells(doc_id, text)
    pages = {}
    import json

    for c in cells:
        prov = json.loads(c["text"])
        pages.setdefault(prov["p"], set()).add(0 if prov["l"] < 306 else 1)
    assert any(cols == {0, 1} for cols in pages.values()), "fixture not two-column"
    got, method = extract_pdf_document(cells)
    assert method == "default"
    assert _as_tuples(got) == _as_tuples(expected_spans(doc_id, text))


def test_extract_dataframes_roundtrip(spark, sf_dir):
    """End-to-end through the Spark Arrow kernel on a small slice of
    each format."""
    from pyspark.sql import functions as F

    from docling_fast_server_spark.corpus import docs_raw
    from docling_fast_server_spark.operators.dispatch import extract_auto

    raw_html = docs_raw(spark, sf_dir, which="html").limit(20)
    out = extract_auto(raw_html).withColumn("n", F.size("spans"))
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["conversion_method"] == "default" for r in rows)
    assert all(r["n"] > 0 for r in rows)

    raw_pdf = docs_raw(spark, sf_dir, which="pdf").limit(20)
    rows = extract_auto(raw_pdf).collect()
    assert len(rows) == 20
    assert all(r["conversion_method"] in ("default", "limited") for r in rows)


def test_caps_screen_spares_semantic_content():
    """A short acronym-heavy paragraph inside <main> is real content and
    must survive; the caps screen applies only to bare chrome containers
    (div/ul/ol) — ADVICE r01."""
    from docling_fast_server_spark.operators.html_extract import extract_html_document

    html = (
        "<html><body><main>"
        "<p>NASA ESA JAXA MOU FAQ</p>"
        "<div>BUY NOW! LIMITED OFFER! CLICK HERE!</div>"
        "</main></body></html>"
    )
    spans = extract_html_document("doc-000002", html)
    texts = [s["text"] for s in spans]
    assert "NASA ESA JAXA MOU FAQ" in texts
    assert all("BUY NOW" not in (t or "") for t in texts)


def test_furniture_skip_is_exactly_equivalent():
    """The parse-time furniture skip must be output-IDENTICAL to the
    full tree parse: corpus-shaped docs (no figures in chrome) skip
    fast; a <figure> inside nav/header — which bypasses the boilerplate
    screen by contract — triggers the bail-and-reparse path and is
    still extracted."""
    from docling_fast_server_spark.corpus import render_html
    from docling_fast_server_spark.operators import html_extract as hx

    for d in (0, 2, 10, 24, 100):
        h = render_html(d, "alpha beta gamma delta " * 30)
        a = hx.extract_html_document(f"doc-{d}", h)
        full_root = hx._fast_parse(h, skip_furniture=False)
        skip_root = hx._fast_parse(h, skip_furniture=True)

        def spans_of(root, doc=f"doc-{d}"):
            orig = hx._parse_html
            try:
                hx._parse_html = lambda s, _r=root: _r
                return hx.extract_html_document(doc, h)
            finally:
                hx._parse_html = orig

        assert spans_of(skip_root) == spans_of(full_root) == a

    weird = (
        '<html><body><nav><ul><li><a href="/">x</a></li></ul>'
        '<figure><img src="media://pic-1"/></figure></nav>'
        "<main><p>hello world content here</p></main></body></html>"
    )
    got = hx.extract_html_document("doc-0", weird)
    kinds = [s["kind"] for s in got]
    assert "picture" in kinds and "text" in kinds, got  # figure survived


def test_furniture_skip_ignores_orphan_close_tags():
    """An orphan close tag inside chrome with no matching open anywhere
    is ignored by both paths (tree semantics: pop search fails)."""
    from docling_fast_server_spark.operators import html_extract as hx

    html = (
        "<html><body><nav><ul><li>x</li></ul></span></nav>"
        "<main><p>real content words here</p></main></body></html>"
    )
    a = hx.extract_html_document("doc-0", html)
    root_full = hx._fast_parse(html, skip_furniture=False)
    orig = hx._parse_html
    try:
        hx._parse_html = lambda s: root_full
        b = hx.extract_html_document("doc-0", html)
    finally:
        hx._parse_html = orig
    assert a == b and [s["kind"] for s in a] == ["text"]


def test_caps_ratio_counts_uppercase_letters_only():
    """ADVICE r06: cased-but-non-alphabetic chars (circled letters,
    Roman numerals) are isupper() but not isalpha(); counting them in
    the numerator pushed the ratio past 1.0 on symbol-heavy non-ASCII
    text. The ratio is uppercase LETTERS over letters, capped at 1."""
    from docling_fast_server_spark.operators.html_extract import _caps_ratio

    assert _caps_ratio("Ⓐ Ⓑ Ⓒ a") == 0.0  # Ⓐ Ⓑ Ⓒ a
    assert _caps_ratio("Ⅷ abc DEF") == 0.5  # Ⅷ + 3 lower + 3 upper
    assert _caps_ratio("BUY NOW") == 1.0
    assert _caps_ratio("MiXeD case") == 3 / 9
    assert _caps_ratio("1234 !!") == 0.0


def test_fused_gen_extract_matches_composed(spark, sf_dir):
    """The r8 fused datagen+extract kernel must be row-identical to the
    composed docs_raw -> extract_auto route, skewed and unskewed."""
    from docling_fast_server_spark.corpus import docs_raw
    from docling_fast_server_spark.operators.dispatch import (
        extract_auto,
        gen_extract_auto,
    )

    def rows(df):
        return sorted(
            (r.doc_id, tuple(map(tuple, r.spans)), r.conversion_method, r.error)
            for r in df.collect()
        )

    for skew in (False, True):
        fused = rows(gen_extract_auto(spark, sf_dir, skew=skew))
        composed = rows(extract_auto(docs_raw(spark, sf_dir, which="all", skew=skew)))
        assert fused == composed and len(fused) == 500
